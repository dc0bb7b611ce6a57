#!/usr/bin/env python3
"""graft benchmark: full-result latency of the graft library, per workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]

Run from the repository root. The first run builds the library and the
benchmark driver from source with sbt (into target/ and perfbench/target/)
and caches the classpath in .bench_build/; later runs reuse it until a
source file changes. Each run starts one driver JVM (see
src/main/scala/graftbench/Main.scala), prints every metric by name with
its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(from traced passes that follow the untraced ones in the same process)
and writes the raw spans to .bench_build/trace/. --all runs every
workload untraced, then traced.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170          # every run ends within 180 s
BUILD_DEADLINE_S = 880    # a run that has to build may take 900 s
HEAVY = ["q142_dedup_clusters", "q76_ufunc_battery", "q52_ngram_jaccard"]
# the queries of the hidden-cost table (full result vs .count())
HIDDEN_COST = ["q273_pagerank", "q118_polyfit3_cov", "q76_ufunc_battery",
               "q129_ufunc_battery2", "q01_agg_partial"]
LIGHT_SAMPLE = 13
# the registry_light sample is drawn once: a seed-drawn sample moved
# pass_s ~20% from seed to seed (see README.md)
SAMPLE_SEED = 0
LIGHT_MAX_S = 1.0
WORKLOADS = ["registry_light", "registry_heavy", "store_roundtrip",
             "hidden_cost"]
# timed passes per run (at least), so every run's medians rest on the
# same number of samples: ~25 s of timed work per run. store_roundtrip's
# 6 passes give 12 Zarr writes, its slowest operations, so op_tail_s (10
# samples beyond) falls inside that cluster instead of on its edge.
PASSES = {"registry_light": 3, "registry_heavy": 3, "store_roundtrip": 6,
          "hidden_cost": 1}
# warm-up passes: store operations are short and still speed up after
# one pass, so they get a second
WARMUP = {"store_roundtrip": 2}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s")]
# store_roundtrip's own end-to-end metrics, printed by its untraced runs.
# BENCHMARK.json cannot list them: every workload reports every metric
# listed there, and these would read 0 on the registry workloads. ab.py
# gates them with STORE_BOUND.
STORE_END_TO_END = [("write_mb_s", "MB/s", "higher"),
                    ("read_mb_s", "MB/s", "higher"),
                    ("stored_bytes_per_byte", "ratio", "lower")]
STORE_BOUND = 0.25
CODECS = ["blosc", "zlib", "szip", "lzf"]
STORES = ["zarr", "h5", "nc"]
PER_LAYER = (
    [("build.s", "s"), ("build.jobs", "count"), ("build.share", "ratio"),
     ("plan.s", "s"), ("plan.nodes", "count"), ("plan.exchanges", "count"),
     ("plan.fallback_exprs", "count"),
     ("sched.jobs", "count"), ("sched.stages", "count"),
     ("sched.tasks", "count"), ("sched.idle_core_s", "s"),
     ("exec.s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.core_util", "ratio"),
     ("exec.task_skew", "ratio"),
     ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
     ("shuffle.fetch_wait_s", "s"), ("spill.mem_mb", "MB"),
     ("spill.disk_mb", "MB"),
     ("cache.rdds", "count"), ("cache.mem_mb", "MB"), ("cache.disk_mb", "MB")]
    + [(f"io.{s}.{d}_s", "s") for s in STORES for d in ("write", "read")]
    + [(f"io.codec.{c}.{d}_mb_s", "MB/s") for c in CODECS
       for d in ("encode", "decode")]
    + [("io.codec_share", "ratio"), ("io.chunks", "count"),
       ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
       ("trace.unattributed_s", "s"), ("trace.overhead_s", "s"),
       ("count.s", "s"), ("peak_rss_mb", "MB"), ("failed_frac", "ratio"),
       ("write_mb_s", "MB/s"),
       ("read_mb_s", "MB/s"), ("stored_bytes_per_byte", "ratio")])
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def classpath(digest):
    """Compile the library and the driver (once per source state)."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building library and driver with sbt")
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# ---- workloads -----------------------------------------------------------

def read_pool():
    pool = []
    with open(os.path.join(HERE, "registry_pool.tsv")) as f:
        for ln in f:
            if ln.startswith("#") or not ln.strip():
                continue
            name, family, warm_s, fp = ln.rstrip("\n").split("\t")
            pool.append({"name": name, "family": family,
                         "warm_s": float(warm_s), "fp": fp})
    return pool


def light_sample(pool, seed, n=LIGHT_SAMPLE):
    """Stratified sample of `n` light queries, stratified two ways.

    The pool, sorted by recorded warm time, is cut into `n` latency bins of
    equal size, and the sample holds one query per bin. Every family
    (Queries* object) gets a bin of its own through a bipartite matching of
    families to the bins that hold their queries, so every family is in the
    sample. The matching and the queries are drawn with the fixed
    SAMPLE_SEED, so every run times the same queries; `seed` picks only
    the order they run in."""
    rng = random.Random(SAMPLE_SEED)
    light = sorted((q for q in pool if q["warm_s"] <= LIGHT_MAX_S
                    and q["name"] not in HEAVY),
                   key=lambda q: (q["warm_s"], q["name"]))
    bins = [light[i * len(light) // n:(i + 1) * len(light) // n]
            for i in range(n)]
    fam_bins = {}
    for i, b in enumerate(bins):
        for q in b:
            fam_bins.setdefault(q["family"], set()).add(i)
    owner = {}                      # bin -> family (augmenting paths)

    def claim(fam, seen):
        options = sorted(fam_bins[fam])
        rng.shuffle(options)
        for b in options:
            if b not in seen:
                seen.add(b)
                if b not in owner or claim(owner[b], seen):
                    owner[b] = fam
                    return True
        return False
    fams = sorted(fam_bins)
    rng.shuffle(fams)
    for fam in fams:
        claim(fam, set())
    pick = [rng.choice([q for q in b if q["family"] == owner[i]]
                       if i in owner else b) for i, b in enumerate(bins)]
    random.Random(seed).shuffle(pick)
    return pick


def fixed_ops(pool, names, seed):
    """The named queries, in an order the seed picks."""
    by_name = {q["name"]: q for q in pool}
    ops = [by_name[n] for n in names]
    random.Random(seed).shuffle(ops)
    return ops


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


# ---- reduction -----------------------------------------------------------

def untraced(raw):
    """Operation records of the untraced timed passes."""
    return [o for o in raw["ops"] if o["pass"].startswith("p")]


def end_to_end(raw, gen_s):
    walls = [o["wall_s"] for o in untraced(raw)]
    p, tail_v, beyond = stats.tail(walls)
    setup = gen_s + stats.median(raw["setup_s"]) + raw["warmup_s"]
    m = {"setup_s": setup, "pass_s": stats.median(raw["passes"]),
         "op_p50_s": stats.median(walls), "op_tail_s": tail_v}
    info = {"op_tail_pct": p, "op_tail_beyond": beyond,
            "op_samples": len(walls)}
    return m, info


def store_metrics(raw, passes_key="p"):
    """write_mb_s, read_mb_s and stored_bytes_per_byte of one run."""
    ops = [o for o in raw["ops"] if o["pass"].startswith(passes_key)]
    mb = raw.get("logical_mb")
    if not mb:
        return {"write_mb_s": 0.0, "read_mb_s": 0.0,
                "stored_bytes_per_byte": 0.0}
    w = sum(o["wall_s"] for o in ops if o["kind"] == "write")
    r = sum(o["wall_s"] for o in ops if o["kind"] in ("read", "slice"))
    n_w = sum(1 for o in ops if o["kind"] == "write")
    mb_w = mb["write"] * n_w
    mb_r = sum(mb[o["kind"]] for o in ops if o["kind"] in ("read", "slice"))
    stored = sum(raw["stored_bytes"].values())
    return {"write_mb_s": mb_w / w, "read_mb_s": mb_r / r,
            "stored_bytes_per_byte":
                stored / (mb["write"] * 1e6 * len(raw["stored_bytes"]))}


def delta(span, key):
    return span["after"][key] - span["before"][key]


def per_layer(raw, cores):
    spans = raw["spans"]
    selfs = stats.self_times(spans)
    traced = raw["traced_passes"]
    n = len(traced)
    roots = [i for i, s in enumerate(spans)
             if s["parent"] < 0 and s["name"] == "op"]
    kids = {}
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], []).append(i)

    def child(i, name):
        return [spans[k] for k in kids.get(i, []) if spans[k]["name"] == name]

    def dur(s):
        return s["end"] - s["start"]
    m = {k: 0.0 for k, _ in PER_LAYER}
    skews = []
    full_read_s = {}                # store -> full-read seconds per pass
    for i in roots:
        r = spans[i]
        for b in child(i, "build"):
            m["build.s"] += dur(b) / n
            m["build.jobs"] += delta(b, "jobs") / n
        for p in child(i, "plan"):
            m["plan.s"] += dur(p) / n
        for e in child(i, "exec"):
            m["exec.s"] += dur(e) / n
            run = delta(e, "task_run_s")
            m["exec.task_run_s"] += run / n
            m["exec.task_cpu_s"] += delta(e, "task_cpu_s") / n
            m["exec.gc_s"] += delta(e, "task_gc_s") / n
            m["sched.idle_core_s"] += (dur(e) * cores - run) / n
            for k in ("nodes", "exchanges", "fallback_exprs"):
                m[f"plan.{k}"] += e["extra"].get(f"plan_{k}", 0.0) / n
            if e["extra"]["task_median_s"] > 0:
                skews.append(e["extra"]["task_max_s"] / e["extra"]["task_median_s"])
        m["sched.jobs"] += delta(r, "jobs") / n
        m["sched.stages"] += delta(r, "stages") / n
        m["sched.tasks"] += delta(r, "tasks") / n
        for key, name in [("shuffle_write_mb", "shuffle.write_mb"),
                          ("shuffle_read_mb", "shuffle.read_mb"),
                          ("fetch_wait_s", "shuffle.fetch_wait_s"),
                          ("spill_mem_mb", "spill.mem_mb"),
                          ("spill_disk_mb", "spill.disk_mb"),
                          ("jvm_gc_s", "jvm.gc_s"), ("jvm_jit_s", "jvm.jit_s")]:
            m[name] += delta(r, key) / n
        for key in ("cache_rdds", "cache_mem_mb", "cache_disk_mb"):
            name = key.replace("_", ".", 1)
            m[name] = max(m[name], r["after"][key])
        m["trace.unattributed_s"] += selfs[i] / n
        name = r["op"].split("/", 1)[1]
        store = name.split(".")[0].split("_")[0]
        if store in STORES:
            kind = "write" if name.endswith(".write") else "read"
            m[f"io.{store}.{kind}_s"] += dur(r) / n
        if name.endswith(".read"):
            key = name[:-len(".read")]
            full_read_s[key] = full_read_s.get(key, 0.0) + dur(r) / n
    op_s = sum(dur(spans[i]) for i in roots) / n
    m["build.share"] = m["build.s"] / op_s if op_s else 0.0
    exec_core_s = m["exec.s"] * cores
    m["exec.core_util"] = m["exec.task_run_s"] / exec_core_s if exec_core_s else 0.0
    m["exec.task_skew"] = stats.median(skews) if skews else 0.0
    m["trace.overhead_s"] = stats.median(traced) - stats.median(raw["passes"])
    if "count_s" in raw:
        m["count.s"] = sum(v for v in raw["count_s"].values() if v > 0)
    if "codecs" in raw:
        c = raw["codecs"]
        for codec in CODECS:
            for d in ("encode", "decode"):
                m[f"io.codec.{codec}.{d}_mb_s"] = c[codec][f"{d}_mb_s"]
        # a full read decodes every chunk of its store once: decoding the
        # compressed stores' chunks directly, over their full-read time
        dec = raw["store_decode_s"]
        read_s = sum(full_read_s[s] for s in dec)
        m["io.codec_share"] = sum(dec.values()) / read_s if read_s else 0.0
        m["io.chunks"] = raw["chunks"]
    m.update(store_metrics(raw, "t"))
    return m


# ---- one run -------------------------------------------------------------

def run_once(workload, seed, seconds, trace):
    t_start = time.time()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("perfbench: the graft sources (build.sbt, src/main/"
                         "scala/graft) are not here; run from the repository root")
    if workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {workload!r}")
    digest = source_digest()
    built_before = os.path.exists(os.path.join(BUILD, "classpath.json"))
    cp = classpath(digest)
    # a run that built gets the build's allowance; others end within 180 s
    deadline = (BUILD_DEADLINE_S if not built_before else DEADLINE_S) \
        - (time.time() - t_start)
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    sizes = {}
    gen_s = 0.0
    cmd_extra = []
    if workload != "store_roundtrip":
        pool = read_pool()
        ops = (light_sample(pool, seed)
               if workload == "registry_light" else
               fixed_ops(pool, HEAVY if workload == "registry_heavy"
                         else HIDDEN_COST, seed))
        data = os.path.join(work, "data")
        g0 = time.perf_counter()
        sizes["rows"] = gen_tables.write(data)
        gen_s = time.perf_counter() - g0
        sizes["bytes"] = dir_bytes(data)
        sizes["queries"] = len(ops)
        ops_file = os.path.join(work, "ops.tsv")
        with open(ops_file, "w") as f:
            f.writelines(f"{q['name']}\t{q['fp']}\n" for q in ops)
        cmd_extra = ["--data", data, "--ops", ops_file]
    raw_path = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java, "-Xmx3g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--warmup", str(WARMUP.get(workload, 1)),
              "--passes", str(PASSES[workload]),
              "--trace", str(trace), "--work", work, "--out", raw_path]
           + cmd_extra)
    with open(os.path.join(work, "driver.log"), "w") as logf:
        try:
            code, _, _ = run_group(cmd, deadline, cwd=work, env=env,
                                   stdout=logf, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: driver exceeded {deadline:.0f} s")
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: driver exited with {code}")
    with open(raw_path) as f:
        raw = json.load(f)
    if workload == "store_roundtrip":
        sizes.update(cells=raw["cells"], bytes=raw["cells"] * 8,
                     stores=len(raw["stored_bytes"]))
    return reduce(workload, seed, trace, raw, gen_s, sizes, digest)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def reduce(workload, seed, trace, raw, gen_s, sizes, digest):
    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e, info = end_to_end(raw, gen_s)
    env = dict(raw["env"], seed=seed, workload=workload, sizes=sizes,
               git_commit=git_commit(), source_sha256=digest)
    print(f"workload {workload}  seed {seed}  trace {trace}")
    print("environment " + json.dumps(env, sort_keys=True))
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['id']} ({o['pass']}): {o['msg']}")
    print(f"  failed_frac = {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} operations)")
    for name, unit in END_TO_END:
        extra = ""
        if name == "op_tail_s":
            extra = (f"  (p{info['op_tail_pct']} of {info['op_samples']} "
                     f"samples, {info['op_tail_beyond']} beyond)")
        print(f"  {name} = {e2e[name]:.4f} {unit}{extra}")
    if workload == "store_roundtrip":
        store = store_metrics(raw)
        for name, unit, _ in STORE_END_TO_END:
            print(f"  {name} = {store[name]:.6f} {unit}")
    if trace:
        layer = per_layer(raw, raw["env"]["nproc"])
        layer["failed_frac"] = failed / attempted
        layer["peak_rss_mb"] = raw["peak_rss_mb"]
        for name, unit in PER_LAYER:
            print(f"  {name} = {layer[name]:.4f} {unit}")
        if "count_s" in raw:
            full = {}
            for o in untraced(raw):
                full.setdefault(o["id"], []).append(o["wall_s"])
            print("  full result vs .count() (s):")
            rows = sorted(raw["count_s"].items(),
                          key=lambda kv: -stats.median(full[kv[0]]) / max(kv[1], 1e-9))
            for q, c in rows:
                f = stats.median(full[q])
                print(f"    {q:40s} full {f:8.3f}  count {c:8.3f}  ratio {f / c:6.2f}")
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        path = os.path.join(BUILD, "trace", f"{workload}-{seed}.json")
        with open(path, "w") as f:
            json.dump({"env": env, "spans": raw["spans"], "metrics": layer}, f)
        print(f"  trace written to {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    result = {"correct": failed == 0 and attempted > 0,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return result


def run_seconds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload, untraced then traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds(),
                    help="timed seconds per run (default: run_seconds of "
                         "BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.all:
        results = {}
        for w in WORKLOADS:
            for t in (0, 1):
                results[f"{w}/trace{t}"] = run_once(w, a.seed, a.seconds, t)
        print(json.dumps(results))
        return
    if not a.workload:
        ap.error("--workload or --all is required")
    print(json.dumps(run_once(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
