#!/usr/bin/env python3
"""Re-key a historical graft.Bench compact line into a name->seconds map.

Only the historical BENCH_r01..r17*.json artifacts need this: their
full-registry line carried per-query times as centisecond integers in
sorted-full-name order ("q_cs") plus the md5 of the repo-side
bench_detail.json (which held the same data name-keyed at 3 dp). The
current line carries the full name-keyed "queries" map and nothing else,
so there is nothing to decode; such a line is printed unchanged.

Usage:
  python3 tools/bench_decode.py BENCH_r15.json            # driver artifact
  python3 tools/bench_decode.py - < line.json             # raw line
Names come from bench_detail.json next to this script's repo root (its
md5 is checked against detail_md5 when present); if absent or stale, the
decoder falls back to the sorted key order of any baseline json given
with --names.
"""
import hashlib
import json
import re
import sys


def extract_line(text):
    """Last {"metric":...} JSON object in a blob (driver tail or file)."""
    starts = [m.start() for m in re.finditer(r'\{"metric"', text)]
    for s in reversed(starts):
        end = text.find("\n", s)
        cand = text[s:end if end > 0 else len(text)]
        try:
            return json.loads(cand)
        except json.JSONDecodeError:
            continue
    raise SystemExit("no parseable bench line found")


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "-"
    raw = sys.stdin.read() if src == "-" else open(src).read()
    try:
        obj = json.loads(raw)
        if isinstance(obj, dict) and "tail" in obj:  # driver artifact
            line = extract_line(obj["tail"])
        else:
            line = obj if "metric" in obj else extract_line(raw)
    except json.JSONDecodeError:
        line = extract_line(raw)

    if "queries" in line:  # small-run name-keyed format: nothing to decode
        print(json.dumps(line, indent=1))
        return

    detail_path = "bench_detail.json"
    names_src = sys.argv[sys.argv.index("--names") + 1] \
        if "--names" in sys.argv else detail_path
    detail_raw = open(names_src, "rb").read()
    if "detail_md5" in line and names_src == detail_path:
        got = hashlib.md5(detail_raw).hexdigest()
        if got != line["detail_md5"]:
            print(f"WARNING: {detail_path} md5 {got} != line's "
                  f"{line['detail_md5']} — names may be from another run",
                  file=sys.stderr)
    obj = json.loads(detail_raw)
    names = sorted(obj["queries"] if "queries" in obj else obj)
    cs = line["q_cs"]
    if len(names) != len(cs):
        raise SystemExit(
            f"{len(names)} names vs {len(cs)} values — wrong names source")
    line["queries"] = {n: (None if v is None else v / 100.0)
                      for n, v in zip(names, cs)}
    del line["q_cs"]
    print(json.dumps(line, indent=1))


if __name__ == "__main__":
    main()
