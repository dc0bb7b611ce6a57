package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.scratch
import graft.io.Tables
import graft.streaming.StreamOps

/** Streaming extension queries (SURVEY.md §2.11). The streaming result over
  * the finite file source must equal the batch aggregation — which is
  * exactly what the DuckDB oracle checks. Stateful streams take their
  * state-store shard count ([[StreamOps.StateShards]]) from the
  * `StreamOps` runners, and scratch files (stream fixtures, sink output,
  * checkpoints) live under [[graft.GraftSession.scratch]]. */
object QueriesStreaming extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // streaming tumbling-window resample == batch date_trunc groupBy
    "q63_stream_resample" -> ((s, dir) => {
      val agg = StreamOps.resampleCounts(
        StreamOps.eventsStream(s, dir), "1 hour", "10 minutes")
      StreamOps.runToCompletion(s, agg, s"stream_resample_${System.nanoTime}")
    }),

    // sliding windows (2h window, 1h slide): each event lands in 2 windows
    "q64_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"))
    }),

    // batch-train -> STREAM-serve: the q219 classifier trained on the
    // static table broadcasts onto the document stream; per-doc margin is
    // ONE streaming agg over the token-level weight join plus the bias
    // weight (a single driver-held constant). Decimal sums are
    // order-independent, so the served margins equal the batch model's
    // exactly.
    "q220_stream_classify" -> ((s, dir) => {
      import graft.llm.{Classifier, TextAnalysis}
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables.documents(s, dir)
      // materialize the 65-row model ONCE (bounded driver state, the
      // k-means-centroid pattern) — leaving it lazy would re-run the
      // whole training DAG inside every micro-batch
      val trained = Classifier.trainWeights(docs, "text", "doc_id",
        label = (size(TextAnalysis.tokens(col("text"))) >= 55).cast("int"),
        buckets = 64, epochs = 2, lr = 0.1)
      val wRows = trained.collect()
      val w = s.createDataFrame(
        java.util.Arrays.asList(wRows: _*), trained.schema)
      val wBias = wRows.find(_.getLong(0) == 64L).get.getDecimal(1)
      val toks = StreamOps.documentsStream(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"),
            lit(64L)).as("b"))
      // narrow the sum before the bias add: a (38,12) + (12,12) addition
      // exceeds precision 38 and Spark silently reduces the result scale
      // to 11 (the q219 decimal-precision-loss trap again)
      val agg = toks.join(broadcast(w), "b")
        .groupBy("doc_id")
        .agg(sum(col("w").cast(DecimalType(38, 12)))
          .cast(DecimalType(26, 12)).as("ms"))
        .select(col("doc_id"),
          (col("ms") + lit(wBias)).cast("double").as("margin"),
          ((col("ms") + lit(wBias)) >= 0).cast("int").as("pred"))
      StreamOps.runToCompletion(s, agg, s"stream_clf_${System.nanoTime}")
    }),

    // LEFT OUTER stream-stream interval join: unmatched error events emit
    // null-extended rows once the watermark passes their eviction bound.
    // A left row at e_ts can match rights up to p_ts = e_ts, so its state
    // is evictable only once the watermark passes e_ts + join delay: on
    // the finite source the final watermark is max(ts) - 1h and the
    // eviction bound max(ts) - 2h. The oracle null-extends exactly the
    // unmatched left rows older than that; later unmatched rows stay in
    // state, never emitted — the documented outer-join watermark contract.
    "q208_stream_outer_join" -> ((s, dir) => {
      val ev = StreamOps.eventsStream(s, dir).withWatermark("ts", "1 hour")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
          col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value").as("p_value"))
      val joined = StreamOps.intervalJoin(errors, purchases,
          "e_user", "p_user", "e_ts", "p_ts", "1 hour",
          joinType = "leftOuter")
        .select(col("e_id").as("event_id"), col("p_id").as("purchase_id"),
          col("p_value"))
      StreamOps.runToCompletion(s, joined,
        s"stream_outer_${System.nanoTime}", mode = "append")
    }),

    // FULL OUTER stream-stream interval join, gated on a CONSTRUCTED
    // stream whose watermark boundary is CLOSED by design: the raw
    // events table can't gate this (the per-side eviction cuts are
    // implementation-defined and its rows land on them), so the
    // fixture places every potentially-unmatched row >= 6h older than
    // the final watermark — far below BOTH sides' eviction bounds
    // (left evicts below wm - 30min, right below wm - 30min for this
    // condition; wm = max ts - 1h) — and pins the watermark with one
    // anchor pair at max ts that always MATCHES (matches emit eagerly,
    // so the anchors are boundary-insensitive). Every null extension is
    // then a closed form of the data and the batch FULL OUTER replays
    // it exactly.
    "q355_stream_full_outer" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val base = scratch(s, "fo", dir)
      val ev = Tables.events(s, dir)
      val mx = ev.agg(max(col("ts")).as("m")) // 1-row bound
      val old = col("ts") <= col("m") - expr("INTERVAL 6 HOURS")
      ev.crossJoin(mx)
        .filter(col("event_type") === "error" && old)
        .select(col("user_id").as("k"), col("ts").as("e_ts"),
          col("event_id").as("e_id"))
        .unionByName(mx.select(lit(-1L).as("k"), col("m").as("e_ts"),
          lit(-1L).as("e_id")))
        .write.mode("overwrite").parquet(base + "/left")
      ev.crossJoin(mx)
        .filter(col("event_type") === "purchase" && old)
        .select(col("user_id").as("k"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value").as("p_value"))
        .unionByName(mx.select(lit(-1L).as("k"), col("m").as("p_ts"),
          lit(-2L).as("p_id"), lit(0.0).as("p_value")))
        .write.mode("overwrite").parquet(base + "/right")
      val lSchema = StructType(Seq(StructField("k", LongType),
        StructField("e_ts", TimestampType), StructField("e_id", LongType)))
      val rSchema = StructType(Seq(StructField("k", LongType),
        StructField("p_ts", TimestampType), StructField("p_id", LongType),
        StructField("p_value", DoubleType)))
      val lhs = s.readStream.schema(lSchema).parquet(base + "/left")
        .withWatermark("e_ts", "1 hour")
        .select(col("k").as("lk"), col("e_ts"), col("e_id"))
      val rhs = s.readStream.schema(rSchema).parquet(base + "/right")
        .withWatermark("p_ts", "1 hour")
        .select(col("k").as("rk"), col("p_ts"), col("p_id"),
          col("p_value"))
      val joined = StreamOps.intervalJoin(lhs, rhs, "lk", "rk",
          "e_ts", "p_ts", "30 minutes", joinType = "fullOuter")
        .select(col("e_id"), col("p_id"), col("p_value"))
      StreamOps.runToCompletion(s, joined,
        s"stream_fo_${System.nanoTime}", mode = "append")
    }),

    // streaming parquet FILE SINK (exactly-once manifest): purchases
    // stream into a parquet directory via AvailableNow; the committed
    // output re-reads to exactly the batch filter's rows
    "q209_stream_file_sink" -> ((s, dir) => {
      val out = scratch(s, "sink", dir)
      val ev = StreamOps.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
      StreamOps.runToParquetSink(s, ev, out)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("v"))
    }),

    // stream-static enrichment join: the event stream joins the STATIC
    // customer dimension (broadcast, stateless) and aggregates by market
    // segment — over the finite source it equals the batch join oracle
    "q206_stream_static_join" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = StreamOps.enrichAgg(
        StreamOps.eventsStream(s, dir), dim,
        streamKey = "user_id", dimKey = "c_custkey",
        groupCols = Seq("c_mktsegment", "event_type"), valueCol = "value")
      StreamOps.runToCompletion(s, agg,
        s"stream_static_${System.nanoTime}")
    }),

    // the same sliding windows over the STREAM source: watermarked
    // stateful agg; over the finite source it equals q64's batch result
    "q64b_stream_sliding" -> ((s, dir) => {
      val agg = StreamOps.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"))
      StreamOps.runToCompletion(s, agg,
        s"stream_sliding_${System.nanoTime}", availableNow = true)
    }),

    // streaming exact dedup: per-user daily first-event stream. State is
    // bounded by the watermark horizon (the 100 TB contract for streaming
    // dedup: keys expire instead of accumulating forever); over the finite
    // file source the result must equal the batch keep-first aggregation.
    // The day bucket MUST be window(ts, '1 day'), not date_trunc: only
    // window() carries the event-time watermark metadata into the
    // grouping key, so date_trunc silently produced UNBOUNDED state and
    // no late-row drop (caught by StreamingLateDataSpec in round 16).
    // window.start == date_trunc('day', ts) in the UTC session, so the
    // oracle is unchanged.
    "q99_stream_dedup" -> ((s, dir) => {
      val ev = StreamOps.eventsStream(s, dir)
      val agg = ev.withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), window(col("ts"), "1 day"))
        .agg(min(col("event_id")).as("first_event"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("window.start").as("day"),
          col("first_event"), col("n_events"))
      StreamOps.runToCompletion(s, agg, s"stream_dedup_${System.nanoTime}")
    }),

    // streaming sessionization: 30-min-gap session windows per user ==
    // the batch lag/cumsum islands (break at diff >= gap, end-exclusive)
    "q139_stream_sessions" -> ((s, dir) => {
      val agg = StreamOps.sessionize(
        StreamOps.eventsStream(s, dir), "user_id", "ts", "30 minutes")
      StreamOps.runToCompletion(s, agg,
        s"stream_sessions_${System.nanoTime}", availableNow = true)
    }),

    // streaming curation pipeline: quality-gate + keep-first dedup over a
    // DOCUMENT stream — the scan-stage curation ops (token gate, content
    // key) run per micro-batch. The dedup key is WATERMARK-BOUNDED by
    // default (round-7 verdict #2): scoped to a 1-day event-time window
    // (event time synthesized deterministically from doc_id so the batch
    // oracle can replay it), so a continuous deployment evicts closed
    // windows instead of remembering every content key forever.
    // StreamingSpec asserts the eviction actually happens in update mode.
    // Over the finite source the result equals the batch filter+group.
    "q158_stream_curation" -> ((s, dir) => {
      val agg = StreamOps.curationDedup(
        StreamOps.documentsStream(s, dir), "1 day", "1 hour")
      StreamOps.runToCompletion(s, agg,
        s"stream_curation_${System.nanoTime}", availableNow = true)
    }),

    // custom per-key state (mapGroupsWithState): longest strictly-
    // increasing value streak per user in (ts, event_id) order — a
    // sequential recurrence no built-in streaming aggregation expresses;
    // over the finite source it equals the batch gaps-and-islands window
    "q196_stream_state" -> ((s, dir) => {
      val out = StreamOps.increasingStreaks(StreamOps.eventsStream(s, dir))
      StreamOps.runToCompletion(s, out,
        s"stream_state_${System.nanoTime}", mode = "update",
        availableNow = true)
    }),

    // stream-stream interval join (streaming as-of analog): purchases in
    // the hour before each error, per user; == the batch interval join
    "q127_stream_join" -> ((s, dir) => {
      val ev = StreamOps.eventsStream(s, dir).withWatermark("ts", "1 hour")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
          col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value").as("p_value"))
      val joined = StreamOps.intervalJoin(errors, purchases,
          "e_user", "p_user", "e_ts", "p_ts", "1 hour")
        .select(col("e_id").as("event_id"), col("p_id").as("purchase_id"),
          col("p_value"))
      StreamOps.runToCompletion(s, joined,
        s"stream_join_${System.nanoTime}", mode = "append",
        availableNow = true)
    }),

    // streaming near-dup filter: the document STREAM (mirrored ids — the
    // "new crawl") probes a static LSH index over the documents table
    // (the "historical corpus") and exact-verifies candidates by shingle
    // Jaccard. Oracle = the full exact-Jaccard cross check at the same
    // threshold; equality holds because at J >= 0.9 these LSH params
    // (16 bands x 4 rows) miss with probability < 1e-7 and the planted
    // mirrors are exact (J = 1), the same argument q51 rests on.
    "q238_stream_lsh_filter" -> ((s, dir) => {
      val ref = Tables.documents(s, dir).select("doc_id", "text")
      val stream = StreamOps.documentsStream(s, dir)
        .select((-col("doc_id") - 1L).as("doc_id"), col("text"))
      val out = StreamOps.streamNearDup(stream, ref, "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, threshold = 0.9)
      StreamOps.runToCompletion(s, out,
        s"stream_lsh_${System.nanoTime}", availableNow = true)
    }),

    // streaming exact heavy hitters: hourly tumbling counts per
    // event_type maintained as watermarked streaming state, top-3 per
    // window elected over the result table (ties by type)
    "q268_stream_topk" -> ((s, dir) => {
      StreamOps.windowedTopK(s, StreamOps.eventsStream(s, dir),
        windowDur = "1 hour", watermark = "10 minutes",
        key = "event_type", k = 3,
        name = s"stream_topk_${System.nanoTime}")
    }),

    // streaming count-min sketch: the q297 cell aggregation maintained
    // as streaming state over the document stream — the fixed-memory
    // heavy-hitter monitor a live ingest pipeline runs. The (row, cell)
    // keyspace is d*w-bounded, so the state NEVER grows with the
    // corpus; the memory-sink result equals the batch sketch cell for
    // cell (same md5-prefix keys, same Carter-Wegman rows).
    "q306_stream_countmin" -> ((s, dir) => {
      val toks = StreamOps.documentsStream(s, dir)
        .select(explode(graft.llm.TextAnalysis.tokens(
          lower(col("text")))).as("tok"))
      val sk = graft.llm.Sketch.countMin(toks, "tok", w = 512)
      StreamOps.runToCompletion(s, sk,
        s"stream_cms_${System.nanoTime}", availableNow = true)
    }),

    // streaming equi-width histogram sketch (q312's streaming twin):
    // the aggregation STATE is one counter per bin — bounded by value
    // range / width, never by stream length — and the memory-sink
    // result equals the batch histogram cell for cell
    "q317_stream_histogram" -> ((s, dir) => {
      val bins = StreamOps.eventsStream(s, dir)
        .select(expr(
          "CAST(round(value * 100) AS BIGINT) div 500").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      StreamOps.runToCompletion(s, bins,
        s"stream_hist_${System.nanoTime}", availableNow = true)
    })
  )

  val oracles: Map[String, String] = Map(
    // the batch q297 sketch build, cell for cell
    "q306_stream_countmin" ->
      """WITH tk AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         ex AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         ky AS (SELECT tok, list_reduce(list_transform(
               string_split(substr(md5(tok), 1, 7), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
           FROM ex),
         rw(j, a, b) AS (VALUES
           (CAST(0 AS BIGINT), CAST(1103515245 AS BIGINT), CAST(12345 AS BIGINT)),
           (1, 1664525, 1013904223),
           (2, 22695477, 1),
           (3, 69069, 362437))
         SELECT rw.j AS row, ((rw.a * ky.h + rw.b) % 2147483647) % 512 AS cell,
           CAST(sum(ex.n) AS BIGINT) AS cnt
         FROM ex JOIN ky USING (tok) CROSS JOIN rw
         GROUP BY 1, 2""",
    // the batch histogram, cell for cell
    "q317_stream_histogram" ->
      """SELECT CAST(round(value * 100) AS BIGINT) // 500 AS bin,
           count(*) AS cnt
         FROM events GROUP BY 1""",
    "q63_stream_resample" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
         FROM events GROUP BY 1, 2""",
    "q64_sliding_window" ->
      """SELECT w_start, event_type, count(*) AS n FROM (
           SELECT unnest([date_trunc('hour', ts),
                          date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start,
                  event_type
           FROM events)
         GROUP BY 1, 2""",
    // stream-serve replay: q219's training chain to w2, then the
    // token-level weight sum + the bias weight
    "q220_stream_classify" ->
      """WITH x0 AS (
           SELECT doc_id,
             list_reduce(list_transform(
                 string_split(substr(md5(w), 1, 4), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 64 AS b
           FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             FROM documents)),
         x AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x
             FROM x0 GROUP BY 1, 2
           UNION ALL
           SELECT doc_id, 64, 1 FROM documents),
         y AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) >= 55
                  AS BIGINT) AS y
           FROM documents),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         e1 AS (SELECT doc_id,
             CAST(0.5 AS DECIMAL(28,12)) - CAST(y AS DECIMAL(28,12)) AS e
           FROM y),
         g1 AS (SELECT b, sum(CAST(e * x AS DECIMAL(38,8))) AS g
           FROM x JOIN e1 USING (doc_id) GROUP BY 1),
         w1 AS (SELECT gb.b,
             CAST(0 AS DECIMAL(28,12)) - coalesce(
               CAST(round(CAST(g.g AS DOUBLE) * 0.1 / n.n, 12)
                    AS DECIMAL(28,12)),
               CAST(0 AS DECIMAL(28,12))) AS w
           FROM (SELECT unnest(generate_series(0, 64)) AS b) gb
           LEFT JOIN g1 g ON g.b = gb.b CROSS JOIN n),
         m2 AS (SELECT doc_id, sum(CAST(w.w * x.x AS DECIMAL(38,12))) AS m
           FROM x JOIN w1 w USING (b) GROUP BY 1),
         e2 AS (SELECT m2.doc_id,
             CAST(round(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 8)
                  AS DECIMAL(28,12))
               - CAST(y.y AS DECIMAL(28,12)) AS e
           FROM m2 JOIN y USING (doc_id)),
         g2 AS (SELECT b, sum(CAST(e * x AS DECIMAL(38,8))) AS g
           FROM x JOIN e2 USING (doc_id) GROUP BY 1),
         w2 AS (SELECT w1.b,
             w1.w - coalesce(
               CAST(round(CAST(g2.g AS DOUBLE) * 0.1 / n.n, 12)
                    AS DECIMAL(28,12)),
               CAST(0 AS DECIMAL(28,12))) AS w
           FROM w1 LEFT JOIN g2 ON g2.b = w1.b CROSS JOIN n),
         sc AS (SELECT t.doc_id,
             sum(CAST(w2.w AS DECIMAL(38,12))) AS ms
           FROM x0 t JOIN w2 ON w2.b = t.b GROUP BY 1)
         SELECT sc.doc_id, CAST(sc.ms + wb.w AS DOUBLE) AS margin,
           CAST(sc.ms + wb.w >= 0 AS INT) AS pred
         FROM sc CROSS JOIN (SELECT w FROM w2 WHERE b = 64) wb""",
    // outer-join replay: inner matches for ALL left rows (inner results
    // emit eagerly) + null extensions only for unmatched left rows old
    // enough to have been evicted by the FINAL watermark (max ts - 1h)
    "q208_stream_outer_join" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
         e AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'error'),
         p AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'purchase'),
         j AS (SELECT e.event_id AS event_id, e.ts AS e_ts,
                 p.event_id AS purchase_id, p.value AS p_value
               FROM e LEFT JOIN p ON e.user_id = p.user_id
                AND p.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts)
         SELECT event_id, purchase_id, p_value FROM j, wm
         WHERE purchase_id IS NOT NULL OR e_ts < w""",
    // full-outer replay on the constructed fixture: the 6h-old rows are
    // all strictly evictable by the final watermark, the anchor pair
    // always matches, so the batch FULL OUTER is the exact contract
    "q355_stream_full_outer" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         l AS (SELECT user_id AS k, ts AS e_ts, event_id AS e_id
               FROM events CROSS JOIN mx
               WHERE event_type = 'error' AND ts <= m - INTERVAL 6 HOUR
               UNION ALL SELECT -1, m, -1 FROM mx),
         r AS (SELECT user_id AS k, ts AS p_ts, event_id AS p_id,
                 value AS p_value
               FROM events CROSS JOIN mx
               WHERE event_type = 'purchase' AND ts <= m - INTERVAL 6 HOUR
               UNION ALL SELECT -1, m, -2, 0.0 FROM mx)
         SELECT l.e_id, r.p_id, r.p_value
         FROM l FULL OUTER JOIN r ON l.k = r.k
           AND r.p_ts BETWEEN l.e_ts - INTERVAL 30 MINUTE AND l.e_ts""",
    "q209_stream_file_sink" ->
      """SELECT user_id, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
         FROM events WHERE event_type = 'purchase' GROUP BY 1""",
    "q206_stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2""",
    "q64b_stream_sliding" ->
      """SELECT w_start, event_type, count(*) AS n FROM (
           SELECT unnest([date_trunc('hour', ts),
                          date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start,
                  event_type
           FROM events)
         GROUP BY 1, 2""",
    "q99_stream_dedup" ->
      """SELECT user_id, date_trunc('day', ts) AS day,
           min(event_id) AS first_event, count(*) AS n_events
         FROM events GROUP BY 1, 2""",
    "q158_stream_curation" ->
      """SELECT date_trunc('day',
             TIMESTAMP '1970-01-01' + doc_id * INTERVAL 1 SECOND) AS bucket,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             AS content_key,
           min(doc_id) AS keep_id, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE len(string_split_regex(trim(text), '\s+')) >= 30
         GROUP BY 1, 2""",
    "q127_stream_join" ->
      """SELECT e.event_id AS event_id, p.event_id AS purchase_id,
           p.value AS p_value
         FROM events e JOIN events p
           ON e.event_type = 'error' AND p.event_type = 'purchase'
          AND e.user_id = p.user_id
          AND p.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts""",
    // batch gaps-and-islands replay of the custom-state streak fold:
    // a streak breaks where value fails to strictly increase in
    // (ts, event_id) order
    "q196_stream_state" ->
      """WITH e AS (
           SELECT user_id, value,
             row_number() OVER w AS rn,
             lag(value) OVER w AS pv
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (
           SELECT user_id, rn,
             sum(CASE WHEN pv IS NULL OR value <= pv THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY rn
                 ROWS UNBOUNDED PRECEDING) AS grp
           FROM e),
         streaks AS (
           SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
         SELECT s.user_id, c.n_events, s.max_streak
         FROM (SELECT user_id, CAST(max(len) AS INT) AS max_streak
               FROM streaks GROUP BY 1) s
         JOIN (SELECT user_id, count(*) AS n_events FROM events
               GROUP BY 1) c USING (user_id)""",
    // batch islands: a session breaks where the gap to the previous event
    // is >= 30 min (session_window's end is last_ts + gap, END-EXCLUSIVE,
    // so an exactly-on-gap event opens a new session)
    "q139_stream_sessions" ->
      """WITH o AS (
           SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
         FROM sess GROUP BY user_id, sid""",
    // exact shingle-Jaccard cross check between the mirrored stream ids
    // and the reference corpus (no LSH in the oracle — see the q238
    // registration comment for why the candidate sets coincide)
    "q238_stream_lsh_filter" ->
      """WITH t AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
         ng AS (SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i)),
         sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY 1),
         co AS (SELECT a.doc_id AS sd, b.doc_id AS ref_id, count(*) AS c
           FROM ng a JOIN ng b ON a.g = b.g GROUP BY 1, 2)
         SELECT -sd - 1 AS s_id, ref_id,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM co JOIN sz sa ON co.sd = sa.doc_id
           JOIN sz sb ON co.ref_id = sb.doc_id
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9""",
    // heavy-hitters replay: q63's hourly counts + per-window rank
    "q268_stream_topk" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS w_start, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         rk AS (SELECT *, row_number() OVER (PARTITION BY w_start
             ORDER BY n DESC, event_type) AS rk FROM c)
         SELECT w_start, event_type, n, rk FROM rk WHERE rk <= 3"""
  )
}
