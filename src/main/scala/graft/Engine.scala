package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (100 TB scale): the session pins UTC, enables AQE
  * (runtime shuffle-partition coalescing + skew-join splitting) and a
  * realistic broadcast threshold so dimension tables (region, nation,
  * customer at small SF; anything under the threshold at large SF)
  * broadcast instead of shuffling the fact side. `shuffle.partitions`
  * is a *starting* value — AQE coalesces down / splits skew at runtime,
  * which is the setting that survives a 1000-executor scale-up.
  */
object Engine {

  /** All driver-generated test tables (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // no-silent-caps: when a query stage materializes empty,
      // AQEPropagateEmptyRelation replaces the plan above it with an
      // EmptyRelationExec, and Spark 4.1's observedMetrics walk
      // (CollectMetricsExec.collect) never descends into that node's
      // logical plan — the dedup cap observations that already ran
      // below it vanish, so a cap that empties the answer is the one
      // that reports nothing (and Engine's cap listener stays quiet).
      // The built-in rule is excluded here and GraftExtensions'
      // plans.ObservedEmptyPropagation runs the same rules in its
      // place, except on a plan that carries an observe: only there do
      // the stages downstream of an empty stage still run, over empty
      // input. Code that reads observedMetrics needs this session.
      .config("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
      .config("spark.sql.session.timeZone", "UTC")
      // octosql-style null-on-fail casts / OOB indexing (and DuckDB-like
      // non-erroring semantics) instead of Spark 4's ANSI errors:
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.crossJoin.enabled", "true")
      // testdata events.parquet uses TIMESTAMP(NANOS) which Spark's
      // vectorized reader rejects; read as long and convert (table()).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local-profile streaming state width (see
      // Streams.withStatePartitions): stateful operators pin
      // shuffle.partitions at query start, and 32 state-store
      // partitions are pure per-batch overhead for a single-node
      // drain. On a cluster, override to O(total executor cores) via
      // SPARK_GRAFT_CONF — same scaling rule as shuffle.partitions.
      .config("spark.graft.streaming.statePartitions", "8")
      // r11 (guide §2.2 "M×R block growth"): force the sort-based
      // shuffle writer (UnsafeShuffleWriter — one sorted file + index
      // per MAP task) instead of BypassMergeSortShuffleWriter, which
      // fires whenever reduce width R <= 200 and writes R files per map
      // task, then mmaps + concatenates + deletes them. Thread dumps of
      // d3_minhash_lsh at local[32] showed executor threads spending
      // most of their RUNNABLE time in FileOutputStream.open0 /
      // FileChannel.map/unmap from exactly that path: M=32 maps × R=32
      // reduces = 1024 file creates + merges + deletes PER EXCHANGE.
      // Measured (interleaved A/B, min-of-passes): d3 4.37→2.41 s, d26
      // 4.64→2.59 s, d2 2.21→1.45 s, st8 1.20×, q98 1.12×, none worse
      // than noise; per-stage executor task time on the dedup family
      // dropped ~3× (40→13 s on d3). At production scale R > 200, so
      // the sort writer is what runs ANYWAY — this aligns the local
      // profile with at-scale behavior rather than tuning for local.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
    // optional conf overrides, e.g.
    // SPARK_GRAFT_CONF="spark.graft.rangeJoin.binSeconds=3600;spark.sql.x=y"
    // — lets a driver toggle engine knobs (the range-join rewrite rule,
    // AQE settings) without a code change. Applied at BUILDER time (not
    // spark.conf.set) so core/static SparkConf entries (shuffle writer
    // thresholds, memory settings) are settable too, not only SQL
    // runtime confs.
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap {
      conf => conf.split(';').map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entries must be key=value, got: $kv")
        }
      }
    }
    val existed = SparkSession.getDefaultSession.isDefined ||
      SparkSession.getActiveSession.isDefined
    val spark = overrides
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // an existing session keeps its SparkContext (and static confs):
    // builder-time overrides can be silently lost — say which were
    if (existed) unappliedConf(spark, overrides).foreach { case (k, v, live) =>
      System.err.println(s"[graft] SPARK_GRAFT_CONF $k=$v did not take " +
        s"effect: a Spark session already existed (live value: " +
        s"${live.getOrElse("unset")})")
    }
    spark.sparkContext.setLogLevel("WARN")
    registerCapListener(spark)
    graft.plans.VecExpressions.register(spark)
    graft.plans.PolyHashExpr.register(spark)
    graft.plans.UrlExprs.register(spark)
    graft.plans.SpoofExprs.register(spark)
    graft.plans.CharEntropyExpr.register(spark)
    graft.plans.GraftSqlFunctions.register(spark)
    // dialect scalar functions with analysis-time type dispatch
    // (len over string vs list, parse_time's Go layouts) — registered
    // once here so SQL behavior doesn't depend on which entry point ran
    graft.sql.Dialect.registerFunctions(spark)
    spark
  }

  /** The `(key, wanted, live)` overrides whose live value differs:
    * SQL and graft keys are read from the session conf, every other
    * key (shuffle, memory, executor settings) from the SparkContext
    * conf that actually governs it.
    */
  private[graft] def unappliedConf(spark: SparkSession,
      overrides: Seq[(String, String)]): Seq[(String, String, Option[String])] =
    overrides.flatMap { case (k, v) =>
      val live =
        if (k.startsWith("spark.sql.") || k.startsWith("spark.graft."))
          spark.conf.getOption(k)
        else spark.sparkContext.getConf.getOption(k)
      if (live.contains(v)) None else Some((k, v, live))
    }

  /** No-silent-caps surveillance (VERDICT r7 task 6): the dedup cap
    * sites ([[graft.operators.Dedup.capDocFreq]] doc-frequency cap,
    * `minhashLshCandidatesFromIndex` bucket cap) observe their
    * dropped-entry counts in the pass they already run; this listener
    * turns the observations into a stderr line WHEN A CAP BINDS, so a
    * 100×-scale user sees the dedup went lossy instead of silently
    * getting fewer pairs. Quiet when nothing is dropped. Needs the
    * [[session]] conf; see its excludedRules note.
    */
  private def registerCapListener(spark: SparkSession): Unit =
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val m = qe.observedMetrics
          // doc-frequency cap: paired in/out entry counts per tag
          m.keys.filter(_.startsWith("graft_cap_in_")).foreach { k =>
            val suffix = k.stripPrefix("graft_cap_in_")
            m.get("graft_cap_out_" + suffix).foreach { outRow =>
              val in = m(k).getLong(0)
              val out = outRow.getLong(0)
              if (in > out) System.err.println(
                s"[graft] capDocFreq(cap=${suffix.split('_').last}): " +
                s"dropped ${in - out} of $in index entries — the " +
                "doc-frequency cap binds; dedup is candidate-lossy " +
                "(raise maxDocFreq or accept)")
            }
          }
          // LSH bucket cap: paired in/out banded-row counts per tag
          m.keys.filter(_.startsWith("graft_bucketcap_in_")).foreach { k =>
            val suffix = k.stripPrefix("graft_bucketcap_in_")
            m.get("graft_bucketcap_out_" + suffix).foreach { outRow =>
              val in = m(k).getLong(0)
              val out = outRow.getLong(0)
              if (in > out) System.err.println(
                s"[graft] lsh bucket cap (max=${suffix.split('_').last}): " +
                s"dropped ${in - out} of $in doc slots in degenerate " +
                "buckets — candidates lossy there (raise maxBucket or " +
                "accept)")
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Release every cached/persisted block in the session: clears the
    * SQL cache and eagerly unpersists surviving RDDs (localCheckpoint
    * blocks from CC/BPE rounds included — waiting for the
    * ContextCleaner to notice dead references lets 100+ queries' worth
    * of blocks squeeze the block manager). Operators that persist
    * corpus-scale intermediates (shingle indexes, band signatures,
    * ANN cells) cannot unpersist them before their RETURNED lazy plan
    * is consumed, so a session that chains many operator invocations
    * should call this between logical jobs — Bench, Verify and
    * ScalingBench do, after every query.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Normalize an event-time column to TimestampType regardless of how
    * the parquet writer encoded it: INT64 TIMESTAMP(NANOS) arrives as a
    * nanos-long under the legacy flag; timestamp[us] without timezone
    * metadata arrives as TIMESTAMP_NTZ (which streaming watermarks
    * reject). The session pins UTC, so the NTZ cast is a pure type
    * change — the micros value is identical.
    */
  def normalizeEventTime(df: DataFrame, timeCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(timeCol).dataType match {
      case LongType =>
        df.withColumn(timeCol, timestamp_micros(expr(s"$timeCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(timeCol, col(timeCol).cast(TimestampType))
      case _ => df
    }
  }

  /** Read one table from a scale-factor directory. Parquet native:
    * column pruning + predicate pushdown reach the scan for free.
    * `events.ts` is normalized to TimestampType (see normalizeEventTime).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTime(df, "ts") else df
  }

  /** Register the tables of `dir` that `sql` names (whole words) as
    * temp views, so `spark.sql` / `Dialect.prepare` can run it. Each
    * registration reads its table's parquet footer in a Spark job, so a
    * query pays for the tables it reads, not all ten.
    */
  def registerFor(spark: SparkSession, dir: String, sql: String): Unit =
    TableNames.filter(n => s"\\b$n\\b".r.findFirstIn(sql).isDefined)
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
