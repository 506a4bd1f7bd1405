package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Streaming constructs mirroring the reference's TVFs (SURVEY §2.8) on
  * Structured Streaming:
  *  - `tumble` (table_valued_functions/tumble.go:13-192) → `window()`
  *  - `max_diff_watermark` (max_diff_watermark.go:14-181) → `withWatermark`
  *  - `?tail=true` lines source (files.go:27-76) → `readStream.text`
  *
  * The same `tumble` works on batch DataFrames (window() is just an
  * expression), which is how the DuckDB oracle exercises it.
  */
object Streams {

  /** Append window_start/window_end for a tumbling window of `len`
    * (+ optional offset), like the reference's tumble TVF. Output event
    * time column = window_end.
    */
  def tumble(df: DataFrame, timeCol: String, len: String,
             offset: String = "0 seconds"): DataFrame =
    df.withColumn("__w", window(col(timeCol), len, len, offset))
      .withColumn("window_start", col("__w.start"))
      .withColumn("window_end", col("__w.end"))
      .drop("__w")

  /** Append window_start/window_end for a hopping (sliding) window —
    * beyond the reference's tumble: each row lands in `len`/`slide`
    * overlapping windows. Spark expands this via the `Expand` operator
    * (one pass, no self-join), so it scales like a projection with a
    * bounded fan-out factor.
    */
  def hop(df: DataFrame, timeCol: String, len: String, slide: String): DataFrame =
    df.withColumn("__w", window(col(timeCol), len, slide))
      .withColumn("window_start", col("__w.start"))
      .withColumn("window_end", col("__w.end"))
      .drop("__w")

  /** Bounded out-of-orderness watermark (reference max_diff_watermark):
    * event time from `timeCol`, watermark lag = `maxDiff`. Late rows are
    * dropped by Spark's stateful operators, matching the reference's
    * late-record filter.
    */
  def maxDiffWatermark(df: DataFrame, timeCol: String, maxDiff: String): DataFrame =
    df.withWatermark(timeCol, maxDiff)


  /** Runs `start` (a streaming query's start) under a drain's width
    * and batch policy, restoring the session's values afterwards, also
    * when `start` throws.
    *
    * Width: stateful operators inherit `spark.sql.shuffle.partitions`
    * at QUERY START and pin it in the checkpoint, and every state-store
    * partition pays a provider init and a commit per micro-batch
    * whatever it holds. `spark.graft.streaming.statePartitions` (set in
    * Engine.session's local profile, override via SPARK_GRAFT_CONF)
    * sizes state partitioning independently of the batch shuffle
    * width; on a real cluster set it to O(executor cores), exactly like
    * shuffle.partitions. Unset, the query keeps the session's width.
    *
    * `oneCommit`: the query's answer is final once its data batch
    * commits, so the no-data micro-batch that only evicts state under
    * the advanced watermark is switched off
    * (`spark.sql.streaming.noDataMicroBatches.enabled=false`). The
    * drain stops right after the data batch and its temp checkpoint,
    * state included, is discarded, so the eviction would buy nothing.
    * The query clones the session conf at start, so restoring it
    * afterwards leaves the running query as started.
    */
  private def withStatePartitions[T](spark: SparkSession,
                                     oneCommit: Boolean)(start: => T): T = {
    val scoped =
      spark.conf.getOption("spark.graft.streaming.statePartitions")
        .map("spark.sql.shuffle.partitions" -> _).toSeq ++
      (if (oneCommit) Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
       else Nil)
    val explicit = spark.sessionState.conf.getAllConfs
    val saved = scoped.map { case (k, _) => k -> explicit.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try start finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The drain every `run*` runner ends in (TEST-HARNESS DRAIN, see
    * [[runTumblingAgg]]): start `out` into a memory sink named
    * `queryName` under [[withStatePartitions]], process all available
    * input, run `check` on the query, stop it, and return the sink's
    * table as a batch DataFrame.
    */
  private def drain(spark: SparkSession, out: DataFrame, mode: String,
                    queryName: String, oneCommit: Boolean = false,
                    check: StreamingQuery => Unit = _ => ()): DataFrame = {
    val q = withStatePartitions(spark, oneCommit)(out.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .start())
    try { q.processAllAvailable(); check(q) } finally q.stop()
    spark.table(queryName)
  }

  /** Parquet file stream over a file or directory: the file source
    * wants a directory, so a single-file path streams its parent with
    * a glob filter on the file name. One definition for every runner —
    * a change to file-source handling lands once. A runner that
    * streams `path` twice (a stream-stream join) passes the schema it
    * read once.
    */
  private def fileStream(spark: SparkSession, path: String): DataFrame =
    fileStream(spark, path, spark.read.parquet(path).schema)

  private def fileStream(spark: SparkSession, path: String,
                         schema: StructType): DataFrame = {
    val f = new java.io.File(path)
    if (f.isFile)
      spark.readStream.schema(schema)
        .option("pathGlobFilter", f.getName).parquet(f.getParent)
    else spark.readStream.schema(schema).parquet(path)
  }

  /** Streaming tumbling count over a parquet directory, returned as a
    * batch DataFrame after draining all available input through a
    * memory sink (complete mode → final counts equal the batch answer).
    */
  def runTumblingAgg(spark: SparkSession, path: String, timeCol: String,
                     len: String, keyCols: Seq[String], aggs: Seq[Column],
                     queryName: String = "graft_stream"): DataFrame = {
    val raw = fileStream(spark, path)
    // nanos-long or TIMESTAMP_NTZ parquet → TimestampType (watermarks
    // reject NTZ; the session pins UTC so the cast is value-preserving)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val grouped = src
      .groupBy(window(col(timeCol), len) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")
    // TEST-HARNESS DRAIN, not the production sink: complete-mode memory
    // sink materializes the whole result table on the driver, which is
    // exactly what you don't do at scale. The production shape of this
    // query is outputMode("update"/"append") + watermark into a real
    // sink (kafka/delta/parquet), where state and output stay
    // partitioned across executors; only the drain differs, the
    // windowed-aggregation plan is identical.
    drain(spark, grouped, "complete", queryName)
  }

  /** Streaming count-min sketch: per tumbling window, the depth×width
    * cell-count matrix ([[graft.operators.Sketches.cmsCell]], same
    * portable hashes as the batch q68) maintained incrementally by the
    * micro-batch engine. State per window is ≤ depth·width cells —
    * CONSTANT in key cardinality, which is the entire point of
    * sketching a stream: per-key windowed counts would hold every
    * distinct key in the state store. Complete-mode memory drain as in
    * [[runTumblingAgg]] (harness-only); the final table equals the
    * batch windowed sketch, which is the DuckDB oracle.
    */
  def runStreamCms(spark: SparkSession, path: String, timeCol: String,
                   len: String, keyCol: String, depth: Int, width: Int,
                   queryName: String = "graft_stream_cms"): DataFrame = {
    val raw = fileStream(spark, path)
    val cells = graft.Engine.normalizeEventTime(raw, timeCol)
      .select(col(timeCol), col(keyCol).cast("long").as("k"))
      .select(col(timeCol), col("k"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .select(col(timeCol), col("j"),
        graft.operators.Sketches.cmsCell(col("k"), col("j"), width).as("c"))
      .groupBy(window(col(timeCol), len), col("j"), col("c"))
      .agg(count(lit(1)).as("n"))
      .withColumn("window_start", col("window.start"))
      .drop("window")
    drain(spark, cells, "complete", queryName)
  }

  /** Streaming per-window value-bucket counts — the stateful half of
    * a production drift monitor (st14): each tumbling window's bucket
    * histogram accumulates as windowed state (one row per (window,
    * bucket) — ≤ `buckets` cells per window, constant per unit time),
    * and the PSI readout against a fixed reference histogram is a
    * stateless batch join over the drained counts. Bucketing is the
    * p50 rule (`least(round(value·100) div 1000, buckets-1)`), so the
    * streamed histogram is bit-identical to the batch one.
    * Complete-mode memory drain as in [[runStreamCms]] (harness-only).
    */
  def runStreamBucketCounts(spark: SparkSession, path: String,
                            timeCol: String, len: String, buckets: Int,
                            queryName: String = "graft_stream_psi"): DataFrame = {
    val raw = fileStream(spark, path)
    val cur = graft.Engine.normalizeEventTime(raw, timeCol)
      .filter(col("value").isNotNull)
      .select(col(timeCol),
        expr(s"least(CAST(round(value * 100) AS BIGINT) div 1000, " +
          s"${buckets - 1})").as("b"))
      .groupBy(window(col(timeCol), len), col("b"))
      .agg(count(lit(1)).as("cc"))
      .withColumn("window_start", col("window.start"))
      .drop("window")
    drain(spark, cur, "complete", queryName)
  }

  /** Streaming per-window DISTINCT counts (the windowed-DAU shape):
    * `dropDuplicates` on (window, key) collapses repeats inside each
    * window, then a windowed count — two stateful operators in one
    * query, state partitioned by (window, key) then window. The
    * watermark bounds BOTH stores: dedup entries and window state
    * evict once the watermark passes the window end, so an unbounded
    * log holds only the open windows' distinct keys — the reason this
    * beats collecting per-window sets. Complete-mode memory drain as
    * in [[runTumblingAgg]] (harness-only); the complete table the data
    * batch writes is final, so the drain skips the watermark-eviction
    * batch ([[withStatePartitions]] `oneCommit`).
    */
  def runStreamWindowDistinct(spark: SparkSession, path: String,
                              timeCol: String, keyCol: String, len: String,
                              delay: String,
                              queryName: String = "graft_wdistinct"): DataFrame = {
    val raw = fileStream(spark, path)
    val grouped = graft.Engine.normalizeEventTime(raw, timeCol)
      .withWatermark(timeCol, delay)
      .select(window(col(timeCol), len).as("window"), col(keyCol))
      .dropDuplicates("window", keyCol)
      .groupBy("window")
      .agg(count(lit(1)).as("n_distinct"))
      .withColumn("window_start", col("window.start"))
      .drop("window")
    drain(spark, grouped, "complete", queryName, oneCommit = true)
  }

  /** Streaming top-k (the trending-items shape): per-key counts
    * re-ranked after every micro-batch. Sort+limit over a streaming
    * aggregate is only legal in complete mode — the ranking is a
    * global statement about ALL keys, so Spark (correctly) refuses it
    * under append/update; state is the per-key counts (bounded by key
    * cardinality), the sort runs on the small aggregated table, and
    * ties break on the key for a deterministic oracle comparison.
    */
  def runStreamTopK(spark: SparkSession, path: String, keyCol: String,
                    k: Int,
                    queryName: String = "graft_topk"): DataFrame = {
    val raw = fileStream(spark, path)
    val ranked = raw.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(k)
    drain(spark, ranked, "complete", queryName)
  }

  /** Streaming HOPPING-window aggregation — `window(timeCol, len,
    * slide)` assigns each event to len/slide overlapping windows (the
    * streaming form of q35's batch hop; reference tumble generalized
    * the Flink HOP way). Complete-mode memory drain as in
    * [[runTumblingAgg]] (harness-only; production = watermark + update
    * mode into a real sink, state partitioned by window+key across
    * executors).
    */
  def runHoppingAgg(spark: SparkSession, path: String, timeCol: String,
                    len: String, slide: String, keyCols: Seq[String],
                    aggs: Seq[Column],
                    queryName: String = "graft_hop"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val grouped = src
      .groupBy(window(col(timeCol), len, slide) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")
    drain(spark, grouped, "complete", queryName)
  }

  /** Streaming SESSION-window aggregation over a parquet file/dir —
    * `session_window(timeCol, gap)` merges events separated by less
    * than `gap` into one growing window per key, the streaming form of
    * q36's batch sessionization. Complete-mode memory drain as in
    * [[runTumblingAgg]] (harness-only; production = watermark + update
    * mode into a real sink, where in-progress sessions live in
    * key-partitioned state and close when the watermark passes gap).
    *
    * Returns (keyCols..., session_start, session_end, aggs...).
    */
  def runSessionAgg(spark: SparkSession, path: String, timeCol: String,
                    gap: String, keyCols: Seq[String], aggs: Seq[Column],
                    queryName: String = "graft_session"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val grouped = src
      .groupBy(session_window(col(timeCol), gap).as("sw") +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("sw.start"))
      .withColumn("session_end", col("sw.end"))
      .drop("sw")
    drain(spark, grouped, "complete", queryName)
  }

  /** One typed side of a stream-stream join: filter `typeCol ===
    * side`, rename (id, key, time) to `as`, watermark on the renamed
    * time column. Shared by the inner (st5) and left-outer (st8)
    * interval joins so their event-time handling cannot diverge.
    */
  private def typedSide(src: DataFrame, typeCol: String, side: String,
                        idCol: String, keyCol: String, timeCol: String,
                        as: (String, String, String),
                        within: String): DataFrame =
    src.filter(col(typeCol) === side)
      .select(col(idCol).as(as._1), col(keyCol).as(as._2),
        col(timeCol).as(as._3))
      .withWatermark(as._3, within)

  /** Stream-stream INTERVAL join over one parquet event log: rows of
    * `leftType` join rows of `rightType` with the same key when the
    * right event lands within `within` AFTER the left one — the
    * attribution-join shape (click → purchase). Both sides carry
    * watermarks and the join condition is time-bounded, so on a real
    * cluster each side's buffered state is evicted once the other
    * side's watermark passes `within` — bounded state, the only
    * stream-stream join shape that survives an unbounded log.
    *
    * Drained through an append-mode memory sink (harness-only, as in
    * [[runTumblingAgg]]); the drained output equals the batch interval
    * join, which is the oracle. Every pair is emitted by the data
    * batch, so the drain commits once and skips the watermark-eviction
    * batch ([[withStatePartitions]] `oneCommit`).
    */
  def runStreamIntervalJoin(spark: SparkSession, path: String,
                            timeCol: String, typeCol: String,
                            keyCol: String, idCol: String,
                            leftType: String, rightType: String,
                            within: String,
                            queryName: String = "graft_ss_join"): DataFrame = {
    val schema = spark.read.parquet(path).schema
    def stream(): DataFrame =
      graft.Engine.normalizeEventTime(fileStream(spark, path, schema), timeCol)
    val l = typedSide(stream(), typeCol, leftType, idCol, keyCol, timeCol,
      ("left_id", "k", "lts"), within)
    val r = typedSide(stream(), typeCol, rightType, idCol, keyCol, timeCol,
      ("right_id", "rk", "rts"), within)
    val joined = l.join(r,
        col("k") === col("rk") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr(s"INTERVAL $within"))
      .select(col("left_id"), col("right_id"), col("k"))
    drain(spark, joined, "append", queryName, oneCommit = true)
  }

  /** Stream-stream interval LEFT OUTER join: like
    * [[runStreamIntervalJoin]] but unmatched left rows are emitted
    * null-padded once the watermark passes `lts + within` — state stays
    * bounded AND the output is complete, which is how an attribution
    * join runs on an unbounded log (clicks that never converted still
    * surface, exactly `within` late).
    *
    * Drain mechanics (harness-only): outer results only flush when the
    * watermark advances PAST every buffered left row's window, and
    * Spark applies a new watermark one micro-batch later. So the input
    * is staged into a temp dir together with a future-timestamped
    * sentinel pair (one per side, an impossible key) that advances both
    * sides' watermarks past `max(ts) + within`, and drained in two
    * micro-batches: the data batch, then the no-data batch that
    * evicts-and-emits the unmatched rows under the advanced watermark.
    * That second batch is the answer's null-padded half, so this drain,
    * unlike the inner join's, keeps it. Sentinels are filtered from the
    * returned table; the result equals the batch LEFT JOIN (the
    * oracle). On a real cluster none of this is needed — the log keeps
    * flowing and the watermark advances on its own.
    */
  def runStreamIntervalLeftJoin(spark: SparkSession, path: String,
                                timeCol: String, typeCol: String,
                                keyCol: String, idCol: String,
                                leftType: String, rightType: String,
                                within: String,
                                queryName: String = "graft_ss_ljoin",
                                joinType: String = "left_outer"): DataFrame = {
    val base = graft.Engine.normalizeEventTime(
        spark.read.parquet(path), timeCol)
      .select(col(idCol), col(keyCol), col(typeCol), col(timeCol))
    val stageDir = java.nio.file.Files.createTempDirectory("graft_ljoin")
    val stage = stageDir.toFile.getAbsolutePath
    base.write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    def stream(side: String, as: (String, String, String)): DataFrame =
      typedSide(spark.readStream.schema(schema).parquet(stage),
        typeCol, side, idCol, keyCol, timeCol, as, within)
    val l = stream(leftType, ("left_id", "k", "lts"))
    val r = stream(rightType, ("right_id", "rk", "rts"))
    val joined = l.join(r,
        col("k") === col("rk") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr(s"INTERVAL $within"),
        joinType)
      // coalesce the key across sides: full-outer's unmatched RIGHT
      // rows carry only rk (k is null)
      .select(col("left_id"), col("right_id"),
        coalesce(col("k"), col("rk")).as("k"))
    // sentinel ts clears every left row's close condition
    // (wm = sentinel - within > lts + within for all data lts)
    val flushTs = base
      .selectExpr(s"max($timeCol) + 3 * INTERVAL $within AS s")
      .first().getTimestamp(0)
    def sentinel(bump: Long): Unit = {
      val rows = java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, -1L, leftType,
          new java.sql.Timestamp(flushTs.getTime + bump)),
        org.apache.spark.sql.Row(-2L, -1L, rightType,
          new java.sql.Timestamp(flushTs.getTime + bump)))
      spark.createDataFrame(rows, schema)
        .write.mode("append").parquet(stage)
    }
    // ONE sentinel pair, riding along with the data in micro-batch 0
    // (the file source snapshots all staged files at the first
    // trigger). After batch 0 the watermark is sentinel_ts − within =
    // max + 2·within, strictly past every data row's close condition
    // (wm > lts + within), so the AUTOMATIC no-data micro-batch that
    // follows a watermark advance evicts and emits every unmatched row
    // — 2 micro-batches total. A second sentinel (and its 2 further
    // batches) measured as pure per-batch fixed cost: dropping it took
    // the st8/st11 drain from 4 batches to 2 with byte-identical
    // filtered output.
    sentinel(0L)
    val drained = try drain(spark, joined, "append", queryName)
    finally {
      // the memory sink owns the drained rows — the staged copy of the
      // input is dead weight; delete it so repeated drains (bench
      // loops, soaks) don't accumulate events-sized dirs under /tmp
      val walk = java.nio.file.Files.walk(stageDir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    // sentinels are identified by their IDS (left -1 / right -2),
    // null-safely: filtering on k =!= -1 would (a) drop legitimate
    // data rows whose key happens to be -1 and (b) three-valued-logic
    // away outer rows whose key is NULL (a NULL-keyed left row never
    // matches, flushes null-padded, and NULL =!= -1 is NULL -> dropped
    // — while the batch LEFT JOIN oracle keeps it)
    drained.filter(!(col("left_id") <=> -1L) && !(col("right_id") <=> -2L))
  }

  /** Stream-static enrichment join: an unbounded event stream
    * inner-joins a bounded dimension table, then aggregates — the
    * classic per-event dimension-attach shape (events × customer,
    * requests × config). Stateless on the stream side: Spark re-plans
    * and broadcasts the static side per micro-batch (the explicit
    * `broadcast` hint pins the dim-table plan at any stream volume), no
    * watermark needed because nothing is buffered across batches.
    *
    * Drained through the harness memory sink in complete mode (see
    * [[runTumblingAgg]]'s drain caveat); the drained aggregate equals
    * the batch join+aggregate, which is the oracle.
    */
  def runStreamStaticEnrich(spark: SparkSession, path: String,
                            timeCol: String, dim: DataFrame,
                            streamKey: String, dimKey: String,
                            groupCols: Seq[String], aggs: Seq[Column],
                            queryName: String = "graft_enrich"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val joined = src.join(broadcast(dim), col(streamKey) === dim(dimKey))
    val grouped = joined.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    drain(spark, grouped, "complete", queryName)
  }

  /** Streaming decontamination: stream-static LEFT ANTI join against a
    * broadcast eval set — each micro-batch drops arriving rows whose
    * join key appears in the static benchmark table. STATELESS: the
    * anti join re-evaluates per batch against the broadcast side, no
    * state store at all, so throughput is the projection rate. At 100×
    * the eval set stays benchmark-sized (tiny) while the stream is the
    * corpus — exactly the d8 asymmetry, on the micro-batch engine.
    * Append-mode memory drain (harness-only).
    */
  def runStreamStaticAnti(spark: SparkSession, path: String,
                          static: DataFrame, joinCols: Seq[String],
                          preFilter: Option[Column] = None,
                          queryName: String = "graft_anti"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = preFilter.map(raw.filter).getOrElse(raw)
    val out = src.join(broadcast(static), joinCols, "left_anti")
    drain(spark, out, "append", queryName)
  }

  /** Streaming AS-OF dimension enrichment: each event joins the
    * dimension version that was current AT ITS EVENT TIME — the
    * SCD2-aware form of [[runStreamStaticEnrich]] (price lists,
    * configs, customer tiers that change over time).
    *
    * The dimension carries explicit `[fromCol, toCol)` validity
    * intervals (open end = NULL), so the as-of lookup is a plain
    * broadcast join with a range predicate: each event matches exactly
    * one version, no per-event aggregation and NO stream state — the
    * only scale-safe way to do as-of against a stream (a stream-side
    * max-version aggregate would hold unbounded state; intervals are
    * precomputed once on the static side, e.g. with a `lead` window
    * over versions, and broadcast).
    */
  def runStreamAsOfEnrich(spark: SparkSession, path: String,
                          timeCol: String, dim: DataFrame,
                          streamKey: String, dimKey: String,
                          fromCol: String, toCol: String,
                          groupCols: Seq[String], aggs: Seq[Column],
                          queryName: String = "graft_asof"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val joined = src.join(broadcast(dim),
      col(streamKey) === dim(dimKey) &&
        col(timeCol) >= dim(fromCol) &&
        (dim(toCol).isNull || col(timeCol) < dim(toCol)))
    val grouped = joined.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    drain(spark, grouped, "complete", queryName)
  }

  /** Streaming exact deduplication on `keyCols` over a parquet file/dir,
    * drained through a memory sink and returned as a batch DataFrame of
    * the distinct keys — the streaming form of the pipeline's exact-dedup
    * stage (batch form: [[graft.operators.Dedup.exact]]).
    *
    * Scale shape: `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the watermark passes `delay` behind the key's event
    * time, so state is bounded by the distinct keys inside the lag
    * window — not by the unbounded history a plain streaming
    * `dropDuplicates` would accumulate. State is hash-partitioned on the
    * key columns across executors. Only the key columns are emitted
    * (arrival order decides which duplicate's other fields survive, so
    * emitting them would be nondeterministic).
    *
    * Oracle-equivalence caveat: the result equals batch DISTINCT (the
    * st3 oracle) only when the whole input drains in ONE micro-batch —
    * with incremental arrival, a key recurring more than `delay` apart
    * is correctly re-emitted (that IS the operator's semantics, just not
    * DISTINCT's). The file source with no `maxFilesPerTrigger` reads all
    * available files in a single batch; the assertion below fails loudly
    * if a config pass-through (e.g. SPARK_GRAFT_CONF) ever changes that,
    * instead of letting the oracle comparison drift. Each key's first
    * row is emitted by that data batch, so the drain commits once and
    * skips the watermark-eviction batch ([[withStatePartitions]]
    * `oneCommit`).
    */
  def runStreamingDedup(spark: SparkSession, path: String, timeCol: String,
                        delay: String, keyCols: Seq[String],
                        queryName: String = "graft_dedup"): DataFrame = {
    val raw = fileStream(spark, path)
    val src = graft.Engine.normalizeEventTime(raw, timeCol)
    val deduped = src
      .withWatermark(timeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
      .select(keyCols.map(col): _*)
    drain(spark, deduped, "append", queryName, oneCommit = true, check = { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      if (dataBatches > 1)
        throw new IllegalStateException(
          s"runStreamingDedup drained $dataBatches micro-batches; the " +
            "batch-DISTINCT oracle is only valid for a single-batch drain " +
            "(keys recurring beyond the watermark delay re-emit). Unset " +
            "maxFilesPerTrigger or raise the delay past the data's span.")
    })
  }

  /** Per-band-bucket LSH state: the doc ids registered in this bucket
    * so far, kept SORTED so membership is a binary search (capped at
    * `maxBucket` — the streaming analog of the batch skew guard: a
    * degenerate bucket stops REGISTERING, bounding both state size and
    * per-arrival fanout at maxBucket pairs). Sorted-array membership
    * makes the cap cheap to raise: per-arrival cost is O(log n) search
    * + O(existing) pair emission, never O(n) scans per probe.
    */
  case class LshBucketState(ids: Array[Long])

  /** One near-dup candidate pair from the streaming LSH ingest. */
  case class LshPair(id_a: Long, id_b: Long)

  /** Per-row MinHash band signatures, HOF formulation — the
    * interpreted differential REFERENCE for the codegen'd
    * [[graft.plans.MinHashBands]] kernel the stream actually runs
    * (the tokenShinglesHof discipline: keep the slow portable form to
    * test the fast kernel against). Bit-identical to the batch
    * [[graft.operators.Dedup]] construction (same xxhash64/
    * xxhash64(1,·) Carter-Wegman pair h1 + i·h2 with wrapping 64-bit
    * arithmetic and signed min — the [[graft.plans.MinHashAgg]]
    * formula evaluated per-row; same band-slice xxhash64), so stream
    * and batch agree on bucket ids.
    */
  def lshBandStructs(text: Column, n: Int, k: Int, bands: Int): Column = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val sh = graft.operators.Dedup.tokenShingles(text, n)
    val hp = transform(sh, s =>
      struct(xxhash64(s).as("h1"), xxhash64(lit(1), s).as("h2")))
    val sig = transform(sequence(lit(0L), lit(k - 1L)), i =>
      array_min(transform(hp, p =>
        p.getField("h1") + i * p.getField("h2"))))
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("sig")))
  }

  /** Streaming LSH near-dup ingest — the at-scale INCREMENTAL dedup
    * shape, end-to-end on the micro-batch engine: band signatures are
    * a stateless per-row projection ([[lshBandStructs]]), then each
    * (band, sig) bucket holds its registered doc ids as
    * `flatMapGroupsWithState` state (partitioned by bucket across
    * executors, like the batch band index d19 persists), and every
    * arriving doc emits a candidate pair against each doc already
    * registered in any of its buckets. Emitted pairs are
    * batch-deterministic: docs are processed in id order within a
    * micro-batch, and as long as the `maxBucket` cap never binds, the
    * union over batches is ALL unordered pairs per bucket regardless
    * of how the input is split into micro-batches. Append-mode memory
    * drain (harness-only — production writes pairs to a real sink and
    * keeps the bucket state across triggers).
    */
  def runStreamLshIngest(spark: SparkSession, path: String,
                         idCol: String, textCol: String,
                         n: Int = 3, k: Int = 32, bands: Int = 4,
                         maxBucket: Int = 200,
                         queryName: String = "graft_stream_lsh"): DataFrame = {
    import spark.implicits._
    // codegen'd kernel (one static call per row); posexplode index IS
    // the band number. lshBandStructs is the interpreted reference —
    // StreamingSpec asserts kernel == HOF == batch bucket ids
    val sigs = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.MinHashBands(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
        n, k, bands))
    val banded = fileStream(spark, path)
      .select(col(idCol).cast("long").as("id"), posexplode(sigs))
      .select(col("id"), col("pos").cast("int").as("band"),
        col("col").as("sig"))
    val pairs = banded.as[(Long, Int, Long)]
      .groupByKey { case (_, band, sig) => (band, sig) }
      .flatMapGroupsWithState[LshBucketState, LshPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: GroupState[LshBucketState]) =>
          // sorted registry: membership = binarySearch, insert = shift
          val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          state.getOption.foreach(s => ids ++= s.ids)
          val out = scala.collection.mutable.ArrayBuffer.empty[LshPair]
          rows.map(_._1).toArray.sorted.foreach { d =>
            // ArrayBuffer has no primitive binarySearch; inline one to
            // avoid boxing every element of a hot 1000-entry bucket
            var lo = 0; var hi = ids.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ids(mid) < d) lo = mid + 1 else hi = mid
            }
            if (lo >= ids.length || ids(lo) != d) {
              ids.foreach { r =>
                out += LshPair(math.min(r, d), math.max(r, d))
              }
              if (ids.length < maxBucket) ids.insert(lo, d)
            }
          }
          state.update(LshBucketState(ids.toArray))
          out.iterator
      }
    drain(spark, pairs.toDF(), "append", queryName)
  }

  case class QuotaState(admitted: Long)

  /** Streaming per-key admission quota — the streaming form of
    * [[graft.operators.Web.domainCap]]: at most `k` rows ever admitted
    * per key over the life of the stream (anti-SEO-farm ingest caps,
    * per-tenant rate quotas). Unlike the batch cap (which prefers
    * longer docs), a stream admits in ARRIVAL order; within each
    * micro-batch candidates are processed in ascending id order, so
    * with the single-batch file drain the admitted set is exactly the
    * k smallest ids per key — which is what the DuckDB oracle replays
    * as a window rank. State is ONE counter per key (O(keys), not
    * O(rows)); rows past the quota are dropped inside the state
    * function, so nothing beyond k·|keys| ever reaches the sink.
    */
  def runStreamQuotaAdmit(spark: SparkSession, path: String,
                          keyExpr: Column, idExpr: Column, k: Int,
                          queryName: String = "graft_stream_quota")
      : DataFrame = {
    import spark.implicits._
    val src = fileStream(spark, path)
      .select(keyExpr.cast("string").as("key"), idExpr.cast("long").as("id"))
      .as[(String, Long)]
    drain(spark, quotaAdmitStream(src, k).toDF("key", "id"), "append", queryName)
  }

  /** Streaming GROUP BY on a union-typed (VARIANT) key (VERDICT r8
    * task 6): the batch surface is total (q107-q113) but grouping a
    * VARIANT under the INCREMENTAL planner exercises a different
    * path — VariantGroupRule must rewrite the streaming Aggregate's
    * key into the type-qualified string before the state store ever
    * sees it (state keys are then plain strings, partitioned like any
    * streaming aggregate). Complete-mode drain → final table equals
    * the batch q109 shape bit-for-bit.
    */
  def runStreamUnionGroupBy(spark: SparkSession, path: String,
                            varExpr: Column,
                            queryName: String = "graft_stream_union")
      : DataFrame = {
    val src = fileStream(spark, path).select(varExpr.as("v"))
    val agg = src.groupBy(col("v")).agg(count(lit(1)).as("n"))
      .select(to_json(col("v")).as("val_json"), col("n"))
    drain(spark, agg, "complete", queryName)
  }

  /** Stream-stream interval join on a UNION-TYPED key (VERDICT r9
    * task 7, closing the batch-only claim): `l.v = r.v` on VariantType
    * never type-checks, so [[graft.plans.VariantGroupRule]]'s Join
    * rewrite turns it into equality of the null-preserving
    * type-qualified json keys at resolution time — which the
    * INCREMENTAL planner then extracts as the symmetric-hash-join equi
    * key, so the streaming join state partitions on a plain string
    * exactly as st20 keys its aggregate state. SQL-null and the
    * union's typed NULL key as NULL and never match (the reference's
    * Kleene `=`). Both sides watermark on event time and the interval
    * condition bounds state, the production posture for an unbounded
    * log. As in [[runStreamIntervalJoin]], every pair is emitted by the
    * data batch, so the drain commits once ([[withStatePartitions]]
    * `oneCommit`).
    */
  def runStreamUnionJoin(spark: SparkSession, path: String,
                         timeCol: String, typeCol: String, idCol: String,
                         varExpr: Column, leftType: String,
                         rightType: String, within: String,
                         queryName: String = "graft_stream_union_join")
      : DataFrame = {
    val schema = spark.read.parquet(path).schema
    def side(tp: String, as: (String, String, String)): DataFrame =
      graft.Engine.normalizeEventTime(fileStream(spark, path, schema), timeCol)
        .filter(col(typeCol) === tp)
        .select(col(idCol).as(as._1), varExpr.as(as._2),
          col(timeCol).as(as._3))
        .withWatermark(as._3, within)
    val l = side(leftType, ("left_id", "lv", "lts"))
    val r = side(rightType, ("right_id", "rv", "rts"))
    val joined = l.join(r,
        col("lv") === col("rv") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr(s"INTERVAL $within"))
      .select(col("left_id"), col("right_id"),
        to_json(col("lv")).as("val_json"))
    drain(spark, joined, "append", queryName, oneCommit = true)
  }

  /** Streaming DISTINCT on a union-typed column (the last union-typed
    * verb that keys streaming state): Dataset.distinct() lowers to
    * Deduplicate, which [[graft.plans.VariantGroupRule]] rewrites to
    * the json-keyed Aggregate at resolution time — under the
    * incremental planner that is a streaming aggregate whose state
    * store keys on the type-qualified string, drained in complete
    * mode. The drained set must equal batch DISTINCT (the oracle).
    */
  def runStreamUnionDistinct(spark: SparkSession, path: String,
                             varExpr: Column,
                             queryName: String = "graft_stream_union_distinct")
      : DataFrame = {
    val src = fileStream(spark, path).select(varExpr.as("v"))
    val distinctV = src.distinct()
      .select(to_json(col("v")).as("val_json"))
    drain(spark, distinctV, "complete", queryName)
  }

  /** Streaming crawl-frontier dedup: every discovered URL surface form
    * (case variants, fragments, unresolved dot-segments, default
    * ports) is canonicalized by the codegen'd
    * [[graft.plans.UrlCanonical]] INSIDE the incremental planner, and
    * streaming state keys on the canonical string — the reference
    * frontier semantics (a URL already fetched under another surface
    * form is not fetched again). Unparsable URLs drop as NULL before
    * state. The complete-mode drain carries the per-canonical
    * discovery count and the first (min) discovering doc — both
    * batch-replayable, which is what the oracle does.
    */
  def runStreamFrontierDedup(spark: SparkSession, path: String,
                             urlExpr: Column, idCol: String,
                             queryName: String = "graft_stream_frontier")
      : DataFrame = {
    val agg = fileStream(spark, path)
      .select(urlExpr.as("url"), col(idCol).cast("long").as("id"))
      .selectExpr("url_canonical(url) AS canonical", "id")
      .where(col("canonical").isNotNull)
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("first_doc"))
    drain(spark, agg, "complete", queryName)
  }

  /** Streaming blocklist audit: the codegen'd Aho-Corasick kernel
    * ([[graft.plans.AhoCount]]) applied per micro-batch — stateless
    * per row, so the only streaming state is the per-key aggregate.
    * The complete-mode drain's final table equals the batch t32
    * rollup, which is what the oracle replays.
    */
  def runStreamBlocklist(spark: SparkSession, path: String,
                         keyCol: String, textCol: String,
                         patterns: Seq[String],
                         queryName: String = "graft_stream_blocklist")
      : DataFrame = {
    val counts = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.AhoCount(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
        patterns))
    val perDoc = fileStream(spark, path)
      .select(col(keyCol).as("key"),
        aggregate(counts, lit(0L), (acc, x) => acc + x).as("hits"))
    val agg = perDoc.groupBy("key")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits")).as("n_occurrences"))
    drain(spark, agg, "complete", queryName)
  }

  /** The quota state machine, exposed for MemoryStream-based
    * multi-batch specs: the per-key counter persists across
    * micro-batches, so a key that exhausted its quota in batch 1
    * admits nothing in batch 2.
    */
  def quotaAdmitStream(src: Dataset[(String, Long)],
                       k: Int): Dataset[(String, Long)] = {
    import src.sparkSession.implicits._
    src.groupByKey(_._1)
      .flatMapGroupsWithState[QuotaState, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[QuotaState]) =>
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val sorted = rows.map(_._2).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          var i = 0
          while (i < sorted.length && n < k) {
            out += ((key, sorted(i))); n += 1L; i += 1
          }
          state.update(QuotaState(n))
          out.iterator
      }
  }

  /** One emitted record of a retraction stream: `retraction = true`
    * withdraws the previously emitted value for the key — the
    * reference's Record.Retraction bit (execution/execution.go:58-62).
    */
  case class Emit(key: String, value: Long, retraction: Boolean)

  case class CountState(count: Long, lastEmitted: Long)

  /** The reference's `TRIGGER COUNTING n` on a per-key COUNT(*)
    * (execution/triggers.go:18-86 + custom_trigger_group_by.go:199-229):
    * every n-th record of a key re-fires the aggregate, first retracting
    * the previously emitted row. Implemented with
    * `flatMapGroupsWithState` — Spark's per-key state store, so state is
    * partitioned by key and scales with executors, not driver memory.
    */
  def countingTriggerCounts(keyed: Dataset[String], n: Int): Dataset[Emit] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(identity)
      .flatMapGroupsWithState[CountState, Emit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[CountState]) =>
          var st = state.getOption.getOrElse(CountState(0L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          rows.foreach { _ =>
            st = st.copy(count = st.count + 1)
            if (st.count % n == 0) {
              if (st.lastEmitted >= 0)
                out += Emit(key, st.lastEmitted, retraction = true)
              out += Emit(key, st.count, retraction = false)
              st = st.copy(lastEmitted = st.count)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The reference's `TRIGGER DELAY d` — debounce: a key's aggregate
    * (re-)fires once the key has been QUIET for `d` of processing
    * time, retracting the previous emission first. The reference
    * PARSES this trigger but typecheck-panics on it
    * (logical/group_by.go:40-42); implementing it makes this engine's
    * trigger surface a strict superset. Processing-time timers via
    * `flatMapGroupsWithState`: every data batch folds the key's rows
    * into the count and re-arms the key's timeout (so a busy key never
    * fires), the timeout callback emits — state and timers live in the
    * per-key state store, partitioned by key, no driver involvement.
    * After firing, the key goes dormant (no timer) until new data.
    *
    * State lifecycle (ADVICE r7): the running count per key is the
    * SEMANTICS — like any un-watermarked streaming aggregate, state is
    * inherently O(distinct keys) and a dormant key's row lives
    * forever by default. `stateTtlMs` bounds that: after firing, a
    * second processing-time timer evicts the key's state once it has
    * been dormant for the TTL. The tradeoff is explicit — an evicted
    * key that later receives data restarts its count from 0 WITHOUT
    * retracting the old emission (the standard state-TTL semantics
    * change), so the default (0 = no TTL) keeps exact reference
    * semantics and unbounded state.
    */
  def delayTriggerCounts(keyed: Dataset[String],
                         delayMs: Long,
                         stateTtlMs: Long = 0L): Dataset[Emit] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(identity)
      .flatMapGroupsWithState[CountState, Emit](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[CountState]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(CountState(0L, -1L))
            val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
            if (st.count != st.lastEmitted) {
              // delay timer: fire, then (optionally) arm the TTL
              // eviction timer. A data batch always re-arms the delay
              // timer and makes count != lastEmitted, so a timeout
              // with nothing pending can only be the TTL timer.
              if (st.lastEmitted >= 0)
                out += Emit(key, st.lastEmitted, retraction = true)
              out += Emit(key, st.count, retraction = false)
              state.update(st.copy(lastEmitted = st.count))
              if (stateTtlMs > 0L) state.setTimeoutDuration(stateTtlMs)
            } else {
              // TTL timer on a dormant key: evict
              state.remove()
            }
            out.iterator
          } else {
            var st = state.getOption.getOrElse(CountState(0L, -1L))
            rows.foreach(_ => st = st.copy(count = st.count + 1))
            state.update(st)
            state.setTimeoutDuration(delayMs)
            Iterator.empty
          }
      }
  }

  /** Streaming partition-fingerprint maintenance: the batch operator
    * ([[graft.operators.Layout.partitionFingerprints]]) is a SUM of
    * per-row portable hashes, and sums merge — so the fingerprint
    * table maintains incrementally under streaming ingest as a plain
    * stateful aggregation (complete mode here; update mode + a sink
    * MERGE at scale). The drained result is bit-identical to the
    * batch fingerprint of the same data: the incremental-ingest form
    * of p53's snapshot-diff mechanism.
    */
  def runStreamFingerprints(spark: SparkSession, path: String,
                            partCol: String, contentCol: String,
                            queryName: String = "graft_fp"): DataFrame = {
    val agg = graft.operators.Layout.partitionFingerprints(
      fileStream(spark, path), partCol, col(contentCol))
    drain(spark, agg, "complete", queryName)
  }

  /** One emitted row of a retraction-capable streaming outer join. */
  case class JoinEmit(key: String, left: Option[Long], right: Option[Long],
                      retraction: Boolean)

  case class JoinState(lefts: List[Long], rights: List[Long])

  /** A tagged input row: side = 0 → left, 1 → right. */
  case class Tagged(key: String, side: Int, value: Long)

  /** FULL OUTER streaming join with the reference's retraction
    * semantics (execution/nodes/outer_join.go:33-459): while a key has
    * rows on only one side, null-padded rows are emitted immediately;
    * when the first row of the other side arrives, every null-padded
    * row is retracted and the real joined rows are emitted. State and
    * emission are per-key via flatMapGroupsWithState — the same
    * symmetric-hash algorithm, distributed over Spark's state store.
    */
  def outerJoinStream(left: Dataset[(String, Long)],
                      right: Dataset[(String, Long)]): Dataset[JoinEmit] = {
    import left.sparkSession.implicits._
    val tagged = left.map { case (k, v) => Tagged(k, 0, v) }
      .union(right.map { case (k, v) => Tagged(k, 1, v) })
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[JoinState, JoinEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Tagged], state: GroupState[JoinState]) =>
          var st = state.getOption.getOrElse(JoinState(Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[JoinEmit]
          rows.foreach { t =>
            if (t.side == 0) {
              if (st.rights.isEmpty) {
                if (st.lefts.isEmpty && st.rights.isEmpty) {} // nothing to retract
                out += JoinEmit(key, Some(t.value), None, retraction = false)
              } else {
                st.rights.reverse.foreach(r =>
                  out += JoinEmit(key, Some(t.value), Some(r), retraction = false))
              }
              // first left row: retract any right-side null paddings
              if (st.lefts.isEmpty && st.rights.nonEmpty)
                st.rights.reverse.foreach(r =>
                  out += JoinEmit(key, None, Some(r), retraction = true))
              st = st.copy(lefts = t.value :: st.lefts)
            } else {
              if (st.lefts.isEmpty) {
                out += JoinEmit(key, None, Some(t.value), retraction = false)
              } else {
                st.lefts.reverse.foreach(l =>
                  out += JoinEmit(key, Some(l), Some(t.value), retraction = false))
              }
              // first right row: retract the left-side null paddings
              if (st.rights.isEmpty && st.lefts.nonEmpty)
                st.lefts.reverse.foreach(l =>
                  out += JoinEmit(key, Some(l), None, retraction = true))
              st = st.copy(rights = t.value :: st.rights)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class DistinctState(count: Long)

  /** Retraction-aware streaming DISTINCT (execution/nodes/distinct.go:
    * 26-76): per-value multiset count; emit the value on 0→1, emit a
    * retraction on the last withdrawal (1→0). Input rows carry their
    * own retraction bit, so upstream operators can withdraw rows.
    */
  def distinctStream(values: Dataset[(String, Boolean)]): Dataset[Emit] = {
    import values.sparkSession.implicits._
    values.groupByKey(_._1)
      .flatMapGroupsWithState[DistinctState, Emit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Boolean)],
         state: GroupState[DistinctState]) =>
          var c = state.getOption.map(_.count).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          rows.foreach { case (_, retraction) =>
            val next = c + (if (retraction) -1L else 1L)
            if (c == 0L && next == 1L) out += Emit(key, 1L, retraction = false)
            if (c == 1L && next == 0L) out += Emit(key, 1L, retraction = true)
            c = math.max(next, 0L)
          }
          state.update(DistinctState(c))
          out.iterator
      }
  }

  /** The reference's `poll` TVF (table_valued_functions/poll.go:14-152):
    * re-run a source every interval; each snapshot fully replaces the
    * previous one (retract-all-and-emit) and carries a `time` column.
    * Snapshots are pushed to `onSnapshot`; stop the returned query to
    * end polling.
    */
  def poll(spark: SparkSession, read: () => DataFrame, interval: String)
          (onSnapshot: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", 1).load()
    ticks.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(interval))
      .foreachBatch { (_: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onSnapshot(read().withColumn("time", current_timestamp()))
      }
      .start()
  }

  /** Render a retraction stream the way the reference's stream_native
    * sink does (outputs/stream/printer.go:22-67): `+` for emissions,
    * `-` for retractions.
    */
  def formatRetractions(emits: Dataset[Emit]): DataFrame =
    emits.toDF().select(
      concat(when(col("retraction"), lit("-")).otherwise(lit("+")),
        lit("|"), col("key"), lit("|"), col("value")).as("record"))
}
