package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The progress reports of every batch the query named `name` ran
    * while `run` drained it. A listener collects them until the query's
    * terminated event, which the listener bus delivers after all of its
    * progress events.
    */
  private def progressOf(name: String)(run: => Unit): Seq[StreamingQueryProgress] = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == name) ids.add(e.id)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (ids.contains(e.id)) terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      run
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"no terminated event for $name")
    } finally spark.streams.removeListener(listener)
    progress.asScala.toSeq
  }

  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** The session's explicitly set values of the confs a drain scopes. */
  private def drainConfs: Map[String, String] =
    spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
      k == "spark.sql.shuffle.partitions" || k == NoData }

  test("the local profile drains a stateful operator at width 1") {
    val before = drainConfs
    val ps = progressOf("spec_width") {
      Streams.runTumblingAgg(spark, s"$sf/events.parquet", "ts", "1 hour",
        Seq("event_type"), Seq(count(lit(1)).as("n")), queryName = "spec_width")
    }
    assert(ps.nonEmpty)
    assert(ps.forall(_.stateOperators.map(_.numShufflePartitions).toSeq == Seq(1L)),
      ps.map(_.stateOperators.map(_.numShufflePartitions).toSeq))
    assert(drainConfs == before)
  }

  test("an explicit spark.graft.streaming.statePartitions sets the drain's width") {
    val key = "spark.graft.streaming.statePartitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, "3")
    val ps = try progressOf("spec_width_pinned") {
      Streams.runTumblingAgg(spark, s"$sf/events.parquet", "ts", "1 hour",
        Seq("event_type"), Seq(count(lit(1)).as("n")), queryName = "spec_width_pinned")
    } finally spark.conf.set(key, old)
    assert(ps.nonEmpty)
    assert(ps.forall(_.stateOperators.map(_.numShufflePartitions).toSeq == Seq(3L)))
  }

  test("a drain restores the session's width and no-data-batch confs when start() throws") {
    val before = drainConfs
    assert(!before.contains(NoData) && before.contains("spark.sql.shuffle.partitions"))
    // a query holding the drain's name makes the drain's start() throw
    implicit val sqlCtx = spark.sqlContext
    val held = MemoryStream[Int].toDF().writeStream
      .format("memory").queryName("spec_held").start()
    try {
      val e = intercept[IllegalArgumentException] {
        Streams.runStreamingDedup(spark, s"$sf/events.parquet", "ts", "1 hour",
          Seq("user_id", "event_type"), queryName = "spec_held")
      }
      assert(e.getMessage.contains("already active"), e.getMessage)
    } finally held.stop()
    assert(drainConfs == before)
  }

  test("bounded interval-join and dedup drains commit one batch and equal the batch answer") {
    val ev = s"$sf/events.parquet"
    var joined: Array[(Long, Long, Long)] = Array.empty
    val joinBatches = progressOf("spec_one_join") {
      joined = Streams.runStreamIntervalJoin(spark, ev, "ts", "event_type",
          "user_id", "event_id", "click", "purchase", "1 hour", queryName = "spec_one_join")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.map(_.batchId).distinct
    assert(joinBatches == Seq(0L), joinBatches)
    val events = Engine.table(spark, sf, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("l"), col("user_id").as("k"), col("ts").as("lts"))
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r"), col("user_id").as("rk"), col("ts").as("rts"))
    val want = clicks.join(buys, col("k") === col("rk") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 1 hour"))
      .select("l", "r", "k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(want.nonEmpty)
    assert(joined.sorted.toSeq == want.sorted.toSeq)

    var deduped: Array[(Long, String)] = Array.empty
    val dedupBatches = progressOf("spec_one_dedup") {
      deduped = Streams.runStreamingDedup(spark, ev, "ts", "1 hour",
          Seq("user_id", "event_type"), queryName = "spec_one_dedup")
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }.map(_.batchId).distinct
    assert(dedupBatches == Seq(0L), dedupBatches)
    val distinct = events.select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(deduped.sorted.toSeq == distinct.sorted.toSeq)
  }

  test("batch tumble assigns epoch-aligned windows") {
    val df = Seq(
      ("2024-01-01 00:10:00", 1), ("2024-01-01 00:50:00", 2),
      ("2024-01-01 01:10:00", 3)).toDF("ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = Streams.tumble(df, "ts", "1 hour")
      .groupBy("window_start").agg(sum("v").as("s"))
      .orderBy("window_start").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 3L))
  }

  test("streaming tumbling agg equals batch answer (complete mode)") {
    val streamed = Streams.runTumblingAgg(spark, s"$sf/events.parquet",
      "ts", "1 hour", Seq("event_type"), Seq(count(lit(1)).as("n")),
      queryName = "spec_tumble")
    val batch = Streams.tumble(Engine.table(spark, sf, "events"), "ts", "1 hour")
      .groupBy("window_start", "event_type").agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    val s = streamed.select("window_start", "event_type", "n").collect().toSet
    val b = batch.select("window_start", "event_type", "n").collect().toSet
    assert(s == b)
  }

  test("st21: variant-key stream-stream join keys the symmetric hash join " +
      "(incremental planner) and keeps the Int/String distinction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ujoin")
      .toFile.getAbsolutePath
    // k=5 everywhere; event_id parity decides Int 5 vs String "5" —
    // a click only converts on a purchase whose key has the SAME type
    Seq(
      (2L, "click", "2024-01-01 00:00:00"),    // Int 5
      (3L, "click", "2024-01-01 00:00:00"),    // String "5"
      (4L, "purchase", "2024-01-01 00:30:00"), // Int 5    -> pairs with 2
      (5L, "purchase", "2024-01-01 00:30:00"), // String   -> pairs with 3
      (6L, "purchase", "2024-01-01 02:00:00")) // Int, outside interval
      .toDF("event_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("""{"k":5}"""))
      .write.mode("overwrite").parquet(dir)
    val ks = get_json_object(col("props"), "$.k").cast("long").cast("string")
    val v = when(col("event_id") % 2 === 0, parse_json(ks))
      .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
    def side(tp: String, as: (String, String, String)) =
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
        .filter(col("event_type") === tp)
        .select(col("event_id").as(as._1), v.as(as._2), col("ts").as(as._3))
        .withWatermark(as._3, "1 hour")
    val joined = side("click", ("left_id", "lv", "lts"))
      .join(side("purchase", ("right_id", "rv", "rts")),
        col("lv") === col("rv") && col("rts") >= col("lts") &&
          col("rts") <= col("lts") + expr("INTERVAL 1 hour"))
      .select(col("left_id"), col("right_id"), to_json(col("lv")).as("vj"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("spec_union_join").start()
    val plan = try {
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      buf.toString
    } finally q.stop()
    // the rule fired under the INCREMENTAL planner: the join is a
    // keyed streaming symmetric hash join, not a nested loop over an
    // unextractable variant predicate
    assert(plan.contains("StreamingSymmetricHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), plan)
    val got = spark.table("spec_union_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((2L, 4L, "5"), (3L, 5L, "\"5\"")), got)
  }

  test("streaming dedup emits each key exactly once (watermark-bounded state)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup")
      .toFile.getAbsolutePath
    Seq(
      (1L, "click", "2024-01-01 00:00:00"),
      (1L, "click", "2024-01-01 00:10:00"),
      (2L, "view", "2024-01-01 00:20:00"),
      (1L, "view", "2024-01-01 00:30:00"),
      (2L, "view", "2024-01-01 00:40:00"))
      .toDF("user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val got = Streams.runStreamingDedup(spark, dir, "ts", "1 hour",
        Seq("user_id", "event_type"), queryName = "spec_dedup")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "click"), (2L, "view"), (1L, "view")))
  }

  test("streaming dedup on events equals batch DISTINCT") {
    val got = Streams.runStreamingDedup(spark, s"$sf/events.parquet", "ts",
      "1 hour", Seq("user_id", "event_type"), queryName = "spec_dedup_ev")
    val batch = Engine.table(spark, sf, "events")
      .select("user_id", "event_type").distinct()
    assert(got.count() == batch.count())
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      batch.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("MinHashBands kernel equals the HOF reference on real documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kernel = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.MinHashBands(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        3, 32, 4))
    val got = docs.select(col("doc_id"), posexplode(kernel))
      .select(col("doc_id"), col("pos"), col("col"))
      .as[(Long, Int, Long)].collect().toSet
    val ref = docs.select(col("doc_id"),
        explode(Streams.lshBandStructs(col("text"), 3, 32, 4)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.sig"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got == ref && got.nonEmpty)
  }

  test("streaming LSH ingest emits exactly the batch banding candidates") {
    import graft.operators.Dedup
    val streamed = Streams.runStreamLshIngest(spark, s"$sf/documents.parquet",
        "doc_id", "text", n = 3, k = 32, bands = 4,
        queryName = "spec_stream_lsh")
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    val batch = Dedup.minhashLshCandidatesFromIndex(
        Dedup.shingleIndex(spark.read.parquet(s"$sf/documents.parquet"),
          "doc_id", "text", n = 3, tokens = true),
        k = 32, bands = 4)
      .as[(Long, Long)].collect().toSet
    // the per-row signature construction is bit-identical to the
    // MinHashAgg path, so stream and batch agree on every bucket
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming LSH ingest: raised maxBucket=1000 emits the identical pair set") {
    import graft.operators.Dedup
    // the sorted-array bucket registry makes a 5x cap raise cheap
    // (binary-search membership); the cap never binds at this SF, so
    // the pair set must be bit-identical to the default-cap run and
    // to the batch banding oracle
    val streamed = Streams.runStreamLshIngest(spark, s"$sf/documents.parquet",
        "doc_id", "text", n = 3, k = 32, bands = 4, maxBucket = 1000,
        queryName = "spec_stream_lsh_1000")
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    val batch = Dedup.minhashLshCandidatesFromIndex(
        Dedup.shingleIndex(spark.read.parquet(s"$sf/documents.parquet"),
          "doc_id", "text", n = 3, tokens = true),
        k = 32, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming session windows emit watermark-closed sessions (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val sessions = mem.toDF().toDF("epoch", "k")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("k"))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("sw.start").as("s"), col("sw.end").as("e"), col("n"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("session_stream").start()
    try {
      // user a: two sessions (100,200 | 2500); sentinel advances the
      // watermark far past both so append mode releases them
      mem.addData((100L, "a"), (200L, "a"), (2500L, "a"))
      q.processAllAvailable()
      mem.addData((100000L, "z"))
      q.processAllAvailable()
      val rows = spark.table("session_stream").collect().map(r =>
        (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond,
          r.getTimestamp(2).toInstant.getEpochSecond, r.getLong(3))).toSet
      assert(rows == Set(("a", 100L, 2000L, 2L), ("a", 2500L, 4300L, 1L)))
    } finally q.stop()
  }

  test("text pipeline composes in streaming: quality + langid + dedup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    val mem = MemoryStream[(Long, Long, String)] // (epoch, id, text)
    // the batch operators are pure projections, so the same column
    // exprs drop into a streaming plan; dedup keys on normalized text
    // with watermark-bounded state
    val piped = mem.toDF().toDF("epoch", "id", "text")
      .select(timestamp_seconds(col("epoch")).as("ts"),
        col("id"), col("text"))
      .withWatermark("ts", "10 minutes")
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("key", TextAnalysis.normalize(col("text")))
      .filter(col("quality") > 0.0)
      .dropDuplicatesWithinWatermark("key")
      .select("id", "lang")
    val q = piped.writeStream.outputMode("append")
      .format("memory").queryName("text_pipe").start()
    try {
      mem.addData(
        (100L, 1L, "the quick brown fox jumps over the lazy dog and it was good"),
        (110L, 2L, "THE QUICK BROWN FOX jumps over the lazy dog and it was good"),
        (120L, 3L, "der schnelle braune fuchs springt und der hund war das gut sehr"))
      q.processAllAvailable()
      val rows = spark.table("text_pipe").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // doc 2 normalizes to doc 1's key → deduped; langid keeps en/de
      assert(rows.map(_._1) == Set(1L, 3L), rows.toString)
      assert(rows.toMap.apply(1L) == "en" && rows.toMap.apply(3L) == "de",
        rows.toString)
    } finally q.stop()
  }

  test("streaming as-of enrichment picks the version current at event time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_asof")
      .toFile.getAbsolutePath
    Seq(
      (1L, "a", "2024-01-01 00:00:00", 1.0), // v0 (boundary: inclusive from)
      (1L, "a", "2024-01-07 23:59:59", 2.0), // v0 (exclusive to)
      (1L, "a", "2024-01-08 00:00:00", 4.0), // v1 (boundary flips version)
      (2L, "b", "2024-01-20 00:00:00", 8.0)) // v2 (open-ended interval)
      .toDF("user_id", "event_type", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val dim = Seq(1L, 2L).toDF("k")
      .crossJoin(spark.range(3).toDF("ver"))
      .select(col("k"), col("ver"),
        expr("timestamp'2024-01-01' + make_dt_interval(ver * 7)")
          .as("valid_from"),
        expr("CASE WHEN ver < 2 THEN timestamp'2024-01-01'" +
          " + make_dt_interval((ver + 1) * 7) END").as("valid_to"))
    val out = Streams.runStreamAsOfEnrich(spark, dir, "ts", dim,
      "user_id", "k", "valid_from", "valid_to",
      Seq("ver"), Seq(count(lit(1)).as("n"), sum("value").as("sv")),
      queryName = "spec_asof")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out == Map(0L -> (2L, 3.0), 1L -> (1L, 4.0), 2L -> (1L, 8.0)),
      out.toString)
  }

  test("stream-stream interval join pairs clicks with their impression") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val imps = MemoryStream[(Long, Long)]   // (epoch, ad_id)
    val clicks = MemoryStream[(Long, Long)]
    val impDf = imps.toDF().toDF("iepoch", "ad_id")
      .select(timestamp_seconds(col("iepoch")).as("imp_ts"), col("ad_id"))
      .withWatermark("imp_ts", "10 minutes")
    val clickDf = clicks.toDF().toDF("cepoch", "cad_id")
      .select(timestamp_seconds(col("cepoch")).as("click_ts"), col("cad_id"))
      .withWatermark("click_ts", "10 minutes")
    // a click joins the impression of the same ad within the next hour —
    // the watermark + range condition bound both sides' state
    val joined = impDf.join(clickDf,
      expr("""ad_id = cad_id AND
              click_ts >= imp_ts AND
              click_ts <= imp_ts + interval 1 hour"""))
      .select(col("ad_id"),
        col("imp_ts").cast("long").as("i"),
        col("click_ts").cast("long").as("c"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      imps.addData((1000L, 1L), (1000L, 2L), (9000L, 3L))
      clicks.addData((1500L, 1L), (8000L, 1L), (1500L, 9L), (9100L, 3L))
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // ad 1: the click 500s after joins; the one 7000s after is past
      // the 1h bound. ad 9's click has no impression at all.
      assert(rows == Set((1L, 1000L, 1500L), (3L, 9000L, 9100L)))
    } finally q.stop()
  }

  test("stream-stream interval LEFT join emits unmatched lefts on watermark close") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ljoin").toFile
    val t0 = 1700000000L
    Seq(
      (1L, t0,          5L, "click"),     // converts (e2, +10min)
      (2L, t0 + 600,    5L, "purchase"),
      (3L, t0,          6L, "click"),     // never converts
      (4L, t0,          7L, "purchase"),  // right-only: not emitted
      (5L, t0 + 10800,  5L, "click"))     // purchase e2 is BEFORE it
      .toDF("event_id", "epoch", "user_id", "event_type")
      .select(col("event_id"), timestamp_seconds(col("epoch")).as("ts"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events")
    var rows = Set.empty[(Long, Option[Long])]
    // the null-padded rows flush in the no-data batch that follows the
    // sentinel's watermark advance, so this drain keeps that batch
    val batches = progressOf("ljoin_spec") {
      rows = graft.streaming.Streams.runStreamIntervalLeftJoin(
          spark, s"$dir/events", "ts", "event_type", "user_id", "event_id",
          "click", "purchase", "1 hour", queryName = "ljoin_spec")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toSet
    }.map(_.batchId).distinct
    assert(batches.size == 2, batches)
    assert(rows == Set((1L, Some(2L)), (3L, None), (5L, None)))
  }

  test("file-sink query restarted from its checkpoint is exactly-once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt").toFile
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // run 1 commits the first file's batch, then stops
    Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(1).write.mode("append").parquet(in)
    drain() // run 2 resumes from the checkpoint's file log
    val got = spark.read.parquet(out).as[(Long, String)].collect().toSet
    // exactly the input set: the restart neither re-emitted the
    // committed batch (no duplicates) nor missed the new file
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")), got)
  }

  test("streaming SCD2 apply: per-micro-batch merges build the versioned dimension") {
    // the CDC-apply pattern: a change stream folds into an SCD2
    // dimension via Scd.merge2 inside foreachBatch. Here the dimension
    // state is a driver-held localCheckpointed frame (test harness); in
    // production it is a transactional table MERGE — identical plan per
    // batch. Two AvailableNow drains over one checkpoint force the two
    // update files into separate, ordered batches.
    import graft.operators.Scd
    val root = java.nio.file.Files.createTempDirectory("scd_stream").toFile
    val (in, ckpt) = (s"$root/in", s"$root/ckpt")
    var dim = Seq((1L, "A", 0L), (2L, "B", 0L)).toDF("key", "attr", "valid_from")
      .select(col("key"), col("attr"), col("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
      .localCheckpoint(true)
    var applied = 0L
    def drain(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val ts = 100L * (id + 1)
          val open = dim.filter(col("is_current"))
            .select("key", "attr", "valid_from")
          val closed = dim.filter(!col("is_current"))
          dim = closed.unionByName(Scd.merge2(open, batch, ts))
            .localCheckpoint(true)
          applied += 1
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq((1L, "A2"), (9L, "NEW")).toDF("key", "attr")
      .repartition(1).write.mode("append").parquet(in)
    drain()
    Seq((1L, "A3"), (2L, "B")).toDF("key", "attr")
      .repartition(1).write.mode("append").parquet(in)
    drain()
    assert(applied == 2L)
    val got = dim.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
      r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, "A", 0L, 100L, false),    // closed by batch 0
      (1L, "A2", 100L, 200L, false), // opened by batch 0, closed by 1
      (1L, "A3", 200L, -1L, true),
      (2L, "B", 0L, -1L, true),      // no-op update: untouched history
      (9L, "NEW", 100L, -1L, true)), got)
  }

  test("transformWithState caps per-key emissions across micro-batches (Spark 4 state API)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, String)](spark, 1)
      val capped = in.toDS().groupByKey(_._1)
        .transformWithState(new graft.streaming.PerKeyCap(3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, String)]])
      val q = capped.writeStream.format("memory")
        .queryName("cap_out").outputMode("append").start()
      try {
        in.addData((1L, "a"), (1L, "b"), (2L, "x"))
        q.processAllAvailable()
        // user 1 already holds 2 of its 3 slots; only one more admits
        in.addData((1L, "c"), (1L, "d"), (1L, "e"), (2L, "y"))
        q.processAllAvailable()
        val emitted = spark.table("cap_out").collect()
          .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
        assert(emitted == Map(1L -> 3, 2L -> 2), emitted)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark drops late rows in append-mode windowed agg") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Int)]
    val df = mem.toDF().toDF("ts", "v")
    val agg = Streams.maxDiffWatermark(df, "ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(sum("v").as("s"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_test").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((ts("2024-01-01 00:10:00"), 1), (ts("2024-01-01 00:20:00"), 2))
    q.processAllAvailable()
    // advance watermark far past the first window, then send a late row
    mem.addData((ts("2024-01-01 05:00:00"), 10))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:30:00"), 100)) // late: before watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_test").collect()
    // first window closed with s=3; late +100 never applied
    assert(rows.exists(_.getLong(1) == 3L))
    assert(!rows.exists(_.getLong(1) == 103L))
  }

  test("poll re-reads the source every interval (poll TVF)") {
    val dir = java.nio.file.Files.createTempDirectory("poll").toFile
    val f = new java.io.File(dir, "d.csv")
    java.nio.file.Files.writeString(f.toPath, "a\n1\n")
    val snaps = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val q = Streams.poll(spark,
      () => spark.read.option("header", "true").csv(f.getAbsolutePath),
      "1 second") { snap => snaps.add(snap.count()) }
    try {
      Thread.sleep(2500)
      java.nio.file.Files.writeString(f.toPath, "a\n1\n2\n3\n")
      Thread.sleep(2500)
    } finally q.stop()
    assert(snaps.size() >= 2)
    assert(snaps.get(0) == 1L)
    assert(snaps.get(snaps.size() - 1) == 3L)
  }

  test("?tail=true on a lines path streams newly appended rows (files.go tail)") {
    val dir = java.nio.file.Files.createTempDirectory("tail").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "one.log").toPath, "l1\nl2\n")
    val stream = graft.sources.PathTable.resolve(spark, dir.getAbsolutePath + "/*.log?tail=true")
    // resolve with ?tail=true must return a STREAMING plan, not a batch
    assert(stream.isStreaming, "?tail=true should route to the streaming lines source")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tail_lines").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_lines").count() == 2)
      // appending a new file mid-stream surfaces its rows
      java.nio.file.Files.writeString(new java.io.File(dir, "two.log").toPath, "l3\n")
      q.processAllAvailable()
      // schema matches the lines-table contract {number, text}; a
      // global ordinal is undefined across multiple tailed files, so
      // number is typed NULL on the glob branch
      assert(stream.columns.toSeq == Seq("number", "text"))
      val rows = spark.table("tail_lines").collect()
      assert(rows.map(_.getAs[String]("text")).toSet == Set("l1", "l2", "l3"))
      assert(rows.forall(_.isNullAt(0)))
    } finally q.stop()
  }

  test("?tail=true on a single file follows in-place appends (files.go:27-76)") {
    val dir = java.nio.file.Files.createTempDirectory("tailf").toFile
    val file = new java.io.File(dir, "app.log")
    java.nio.file.Files.writeString(file.toPath, "l1\n")
    val stream = graft.sources.PathTable.resolve(
      spark, file.getAbsolutePath + "?tail=true")
    assert(stream.isStreaming)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tail_file").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_file").count() == 1)
      // appending to the SAME file mid-stream surfaces the new rows —
      // Spark's built-in file stream would never re-read a seen file
      java.nio.file.Files.writeString(file.toPath, "l2\nl3\n",
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val rows = spark.table("tail_file").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((0L, "l1"), (1L, "l2"), (2L, "l3")))
      // a partial line (no newline yet) is held back until completed,
      // like the reference's line scanner
      java.nio.file.Files.writeString(file.toPath, "part",
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(spark.table("tail_file").count() == 3)
      java.nio.file.Files.writeString(file.toPath, "ial\n",
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val all = spark.table("tail_file").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(all.contains((3L, "partial")))
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join+aggregate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("st_static").toFile
    val events = Seq(
      (1L, 1706000000000000L, 10L, "click", 1.50),
      (2L, 1706000060000000L, 20L, "click", 2.25),
      (3L, 1706000120000000L, 10L, "view", 0.75),
      (4L, 1706000180000000L, 99L, "click", 9.99)) // no dim row → dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    events.write.parquet(s"$dir/ev")
    val dim = Seq((10L, "GOLD"), (20L, "SILVER")).toDF("ck", "seg")
    val got = graft.streaming.Streams.runStreamStaticEnrich(spark,
        s"$dir/ev", "ts", dim, "user_id", "ck", Seq("seg", "event_type"),
        Seq(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value")),
        queryName = "st_static_spec")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(("GOLD", "click", 1L, 1.50),
      ("GOLD", "view", 1L, 0.75), ("SILVER", "click", 1L, 2.25)))
  }

  test("stream-stream inner equi-join (reference StreamJoin, both sides streamed)") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(String, Int)]
    val right = MemoryStream[(String, Double)]
    val joined = left.toDF().toDF("k", "v")
      .join(right.toDF().toDF("k", "w"), "k")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    left.addData(("a", 1), ("b", 2))
    right.addData(("a", 10.0))
    q.processAllAvailable()
    // late-arriving right row still joins buffered left state
    right.addData(("b", 20.0), ("c", 30.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(rows == Set(("a", 1, 10.0), ("b", 2, 20.0)))
  }

  test("streaming partition fingerprints equal the batch operator") {
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.Layout.partitionFingerprints(
        Engine.table(spark, sf, "documents"), "source", col("text"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val streamed = graft.streaming.Streams.runStreamFingerprints(spark,
        s"$sf/documents.parquet", "source", "text", "fp_spec")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    // the sum is mergeable, so incremental (streamed) maintenance must
    // reproduce the batch fingerprint bit-for-bit
    assert(streamed.toSeq == batch.toSeq)
    assert(batch.nonEmpty && batch.forall(_._2 > 0))
  }
}
