package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Octo
import graft.operators.{Clustering, Decontaminate, Dedup, Evaluation, Graph, Multimodal, Pii, Profile, RangeJoin, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline operators), each with a DuckDB
  * oracle in `oracleSql` where SQL-expressible.
  *
  * Float discipline for hash parity with the oracle: re-orderable
  * aggregations of doubles go through exact DECIMAL sums and are cast
  * back to DOUBLE at the end (order-independent ⇒ bit-identical across
  * engines); row-level double arithmetic keeps a fixed expression tree
  * (IEEE-deterministic).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Expand-only fan-out for CPU-bound per-row stages (r10, guide §2.5
    * input-skew / §2.6 idle capacity): the test tables are single-file,
    * single-row-group parquet, so a scan is ONE task and a heavy
    * projection (codec round-trips, cue parsing) serializes on one
    * core. Repartition up to the session's parallelism ONLY when the
    * input has fewer partitions — at production scale the scan already
    * has more partitions than cores and this is a no-op (never a
    * contraction). The shuffled payload is the scan projection (ids +
    * text), not derived media bytes.
    */
  private def fan(df: DataFrame): DataFrame =
    operators.Materialize.fanOut(df)

  /** d19's stored band-index table, one per sf-dir — the name carries
    * the dir so a session that touches several scale factors can never
    * probe a stale index built from another one.
    */
  def d19IndexTable(dir: String): String =
    "graft_d19_band_index_" +
      dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase(java.util.Locale.ROOT)

  /** Unrolled DuckDB replica of [[operators.Sampling.maxCoverageSelect]]:
    * k greedy rounds as chained CTEs — pick argmax-gain doc over
    * tokens not yet covered (tie: smallest id), union its tokens into
    * the covered set.
    */
  private def p40CoverageSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      val prev = if (i == 1) ""
        else s"WHERE tok NOT IN (SELECT tok FROM c${i - 1}) "
      val pick = s"p$i AS (SELECT id, COUNT(*) AS gain FROM toks " +
        s"${prev}GROUP BY 1 ORDER BY gain DESC, id LIMIT 1)"
      val cov =
        if (i == 1) "c1 AS (SELECT DISTINCT tok FROM toks JOIN p1 USING (id))"
        else s"c$i AS (SELECT tok FROM c${i - 1} " +
          s"UNION SELECT tok FROM toks JOIN p$i USING (id))"
      s"$pick,\n$cov"
    }.mkString(",\n")
    val selects = (1 to k).map(i =>
      s"SELECT CAST($i AS INT) AS round, id AS doc_id, " +
        s"CAST(gain AS BIGINT) AS gain FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH t0 AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS id, tok FROM t0 WHERE length(tok) > 0),
       |$rounds
       |$selects""".stripMargin
  }

  /** Stopword list shared by the t21 RAKE query and its oracle. */
  private val RakeStopwords = Seq("the", "a", "an", "of", "and", "to",
    "in", "is", "on", "for", "with", "as", "by", "at", "or", "be",
    "are", "was", "it", "this", "that", "from")

  /** Synthetic user graph shared by p36/p37 (and replayed verbatim in
    * both oracles): vertices are users (they scale with the corpus,
    * ~66 events/user at every sf => CONSTANT average degree, so graph
    * queries scale linearly instead of saturating into a dense graph).
    */
  private def userGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val m = ev.agg((max(col("user_id")) + 1L).as("m"))
    ev.crossJoin(broadcast(m)).select(
      col("user_id").as("src"),
      ((col("user_id") * 31 + col("event_id") * 7 + 1) % col("m")).as("dst"))
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  /** q60's scratch dir: created ONCE per JVM (one shutdown hook, not
    * one per invocation), and wiped on each call so no earlier epoch
    * files survive into the next mergeSchema read.
    */
  private lazy val evoBase: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_evo_")
    java.lang.Runtime.getRuntime.addShutdownHook(
      new Thread(() => rmTree(p.toFile)))
    p
  }
  private def evoDir: String = {
    evoBase.toFile.listFiles().foreach(rmTree)
    evoBase.toString
  }

  /** Per-purpose JVM-wide scratch dirs for the roundtrip queries
    * (q49 orc, q97 xml): same discipline as [[evoBase]] — one unique
    * temp dir + one shutdown hook per purpose, wiped on each call.
    * Unique-per-JVM paths also mean two harness processes on the same
    * machine can never overwrite each other mid-read, which the old
    * fixed `/tmp/graft_*_<dir.hashCode>` paths could.
    */
  private val scratchBases =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def scratchDir(tag: String): String = {
    val p = scratchBases.computeIfAbsent(tag, t => {
      val d = java.nio.file.Files.createTempDirectory(s"graft_${t}_")
      java.lang.Runtime.getRuntime.addShutdownHook(
        new Thread(() => rmTree(d.toFile)))
      d
    })
    p.toFile.listFiles().foreach(rmTree)
    p.toString
  }

  /** Exact, order-independent sum of a double column, returned as double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // -------------------------------------------------------------------
  // Relational core (SURVEY §2.2-2.10)
  // -------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.4 SimpleGroupBy: hash aggregation with sum/avg/count
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          (dsum(col("l_quantity")) / count(lit(1)).cast(DoubleType)).as("avg_qty"),
          count(lit(1)).as("n"))
    }),

    // §2.2 Filter + Map: row-level projection, predicate pushdown to scan
    "q2_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast(TimestampType)
          && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // §2.3 inner equi-join (broadcast dim) + aggregation
    "q3_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    }),

    // §2.3 left outer join preserving unmatched rows
    "q4_left_join" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      n.join(c, n("n_nationkey") === c("c_nationkey"), "left_outer")
        .groupBy("n_name")
        .agg(count(col("c_custkey")).as("n_cust"))
    }),

    // §2.3 multi-way join pipeline (TPC-H Q5 shape), dims broadcast
    "q5_join5" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        // exact decimal product (both operands are 2-dec) → exact sum →
        // double: order-independent and bit-identical across engines
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("revenue"))
    }),

    // §2.3 theta (non-equi) join — reference keeps these as filter over
    // cross product; Spark: BroadcastNestedLoopJoin
    "q6_theta_join" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      n.join(broadcast(r), n("n_regionkey") > r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n"))
    }),

    // semi/anti joins (EXISTS / NOT EXISTS)
    "q7_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select("o_custkey")
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with"))
      val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without"))
      withO.crossJoin(without)
    }),

    // §2.2 Distinct
    "q8_distinct" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()),

    // §2.6 ORDER BY + LIMIT (top-k → TakeOrderedAndProject)
    "q9_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // §2.7 set operations
    "q10_setops" -> ((s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("k"))
      val sk = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("k"))
      val u = ck.union(sk).distinct().withColumn("op", lit("union"))
      val i = ck.intersect(sk).withColumn("op", lit("intersect"))
      val e = ck.distinct().except(sk).withColumn("op", lit("except"))
      u.union(i).union(e).select("op", "k")
    }),

    // §2.7 multiset (ALL) set-operation semantics — duplicates preserved
    // per bag arithmetic, the variant q10's DISTINCT forms don't cover
    "q58_setops_all" -> ((s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("k"))
      val sk = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("k"))
      val ia = ck.intersectAll(sk).withColumn("op", lit("intersect_all"))
      val ea = ck.exceptAll(sk).withColumn("op", lit("except_all"))
      ia.union(ea).groupBy("op", "k").agg(count(lit(1)).as("n"))
    }),

    // full DataSourceV2 connector (the Spark-native analog of the
    // reference's plugin datasource protocol): schema inference,
    // id-range predicate pushdown narrowing the key space BEFORE
    // split planning, column pruning, multi-partition readers. The
    // filter below never creates partitions for [0, 90000)
    "q61_dsv2_source" -> ((s, dir) =>
      s.read.format("graft-seq").option("end", "100000").load()
        .filter(col("id") >= 90000)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast(DecimalType(18, 3))).cast(DoubleType)
            .as("sum_val"))),

    // ANSI MERGE INTO end-to-end through the DSv2 connector's
    // group-based row-level operations (the lakehouse upsert surface
    // next to p23's DataFrame-API SCD2 merge): seed the connector
    // table from customer, merge per-customer order totals plus three
    // unmatched synthetic keys, read the table back. All balance math
    // in integer cents, one final /100.0 — the oracle replays the
    // merge as a FULL OUTER join
    "q89_merge_into" -> ((s, dir) => {
      graft.sources.v2.MemStore.clear("mem_q89")
      s.sql("DROP TABLE IF EXISTS mem_q89")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
        .write.format("graft-mem").option("table", "mem_q89")
        .mode("append").save()
      s.sql("CREATE TABLE mem_q89 USING `graft-mem` OPTIONS (`table` 'mem_q89')")
      t(s, dir, "orders")
        .groupBy(col("o_custkey").as("k"))
        .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))" +
          " AS BIGINT)").as("tot_cents"))
        .unionAll(s.sql("SELECT * FROM VALUES (CAST(-1 AS BIGINT), " +
          "CAST(101 AS BIGINT)), (CAST(-2 AS BIGINT), CAST(202 AS BIGINT))," +
          " (CAST(-3 AS BIGINT), CAST(303 AS BIGINT)) AS v(k, tot_cents)"))
        .createOrReplaceTempView("q89_updates")
      s.sql("""MERGE INTO mem_q89 m
              |USING q89_updates u ON m.c_custkey = u.k
              |WHEN MATCHED THEN
              |  UPDATE SET bal_cents = m.bal_cents + u.tot_cents
              |WHEN NOT MATCHED THEN
              |  INSERT (c_custkey, c_name, bal_cents)
              |  VALUES (u.k, concat('new-', CAST(u.k AS STRING)),
              |          u.tot_cents)""".stripMargin)
      s.table("mem_q89")
        .select(col("c_custkey"), col("c_name"),
          (col("bal_cents").cast(DoubleType) / 100.0).as("bal"))
    }),

    // §2.10 string function battery (0-based substr/position preserved)
    "q11_strings" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        Octo.substr0(col("p_name"), lit(0), lit(5)).as("pre5"),
        Octo.position0(col("p_name"), lit("a")).as("pos_a"),
        regexp_replace(col("p_type"), " ", "_").as("ty"),
        Octo.len(col("p_name")).as("name_len"),
        reverse(col("p_brand")).as("rev"),
        concat(col("p_brand"), lit("#"), col("p_name")).as("cat"),
        Octo.strRepeat(col("p_brand"), lit(2)).as("rep"),
        col("p_name").like("%gre%").as("has_gre"),
        Octo.regexMatch(col("p_type"), "^[a-z]+ ").as("re_m"))
    }),

    // CASE WHEN / COALESCE / NULLIF
    "q12_case" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st"))),

    // §2.10 time functions + interval arithmetic
    "q13_datetime" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))),

    // §2.9 QueryExpression: IN-subquery (planned as semi join)
    "q14_in_subquery" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n"))
    }),

    // §2.2 CTE + §2.5-beyond window function (row_number top-1 per key)
    "q15_cte_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // §2.8 range TVF
    "q16_range" -> ((s, _) =>
      s.range(1, 1001).select(
        col("id").as("i"),
        (col("id") * col("id")).as("sq"),
        pmod(col("id"), lit(7)).as("m"))),

    // §2.8 tumble TVF (batch form; streaming form in st1_stream_tumble)
    "q17_tumble" -> ((s, dir) => {
      Streams.tumble(t(s, dir, "events"), "ts", "1 hour")
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    }),

    // §2.2 Unnest/explode
    "q18_explode" -> ((s, dir) =>
      t(s, dir, "part")
        .select(explode(split(col("p_type"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))),

    // §2.9 struct build + ObjectFieldAccess (obj->field)
    "q19_struct" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        struct(col("p_brand").as("brand"), col("p_size").as("size"))
          .getField("brand").as("brand"),
        struct(col("p_brand").as("brand"), col("p_size").cast(LongType).as("size"))
          .getField("size").as("size"))),

    // JSON field extraction from a string column
    "q20_json" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))),

    // LATERAL (reference LOOKUP JOIN, SURVEY §2.3): top-2 nations per region
    "q21_lateral" -> ((s, dir) => {
      Engine.registerAll(s, dir)
      s.sql(
        """SELECT r.r_name, l.n_name
          |FROM region r,
          |LATERAL (SELECT n_name FROM nation n
          |         WHERE n.n_regionkey = r.r_regionkey
          |         ORDER BY n_name LIMIT 2) l""".stripMargin)
    }),

    // grouping sets / rollup (beyond-parity §2.4 note)
    // two-level lattice: pre-aggregate per (status, prio) BEFORE the
    // rollup, so the Expand operator multiplies key-cardinality partial
    // rows (~15) instead of the whole table — counts re-aggregate as
    // sums exactly. At 100 TB the single-level form triples the scan's
    // row count through the shuffle; this form's Expand cost is ~zero.
    "q22_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("__n"))
        .rollup("o_orderstatus", "o_orderpriority")
        // coalesce: on an empty table the () lattice row is SUM(NULL)
        // here but COUNT(*)=0 in the single-level oracle form
        .agg(coalesce(sum(col("__n")), lit(0L)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"))),

    // §2.4 aggregate battery: min/max/count_distinct/array_agg
    "q23_aggs" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          min(col("l_shipdate")).as("min_d"),
          max(col("l_shipdate")).as("max_d"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
            .as("statuses"))),

    // §2.10 math battery (transcendentals bit-checked against oracle)
    "q24_math" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        abs(col("p_retailprice") - 1000.0).as("a"),
        sqrt(col("p_retailprice")).as("sq"),
        ceil(col("p_retailprice")).cast(LongType).as("ce"),
        floor(col("p_retailprice")).cast(LongType).as("fl"),
        round(log(col("p_retailprice")), 9).as("ln_v"),
        round(log2(col("p_retailprice")), 9).as("l2"),
        round(log10(col("p_retailprice")), 9).as("l10"),
        round(pow(col("p_retailprice"), 0.3), 9).as("pw"),
        round(exp(col("p_retailprice") / 1000.0), 9).as("ex"))),

    // §2.9 And/Or 3-valued logic + NULL tests (reference Kleene logic)
    "q25_null_logic" -> ((s, dir) => {
      val n = t(s, dir, "nation")
        .withColumn("x", nullif(pmod(col("n_nationkey"), lit(3)), lit(0)))
      n.select(
        col("n_nationkey").cast(LongType).as("k"),
        col("x").cast(LongType).as("x"),
        (col("x") > 1).as("gt1"),
        ((col("x") > 1) && lit(null).cast("boolean")).as("and_null"),
        ((col("x") > 1) || lit(null).cast("boolean")).as("or_null"),
        col("x").isNull.as("is_n"),
        col("x").isNotNull.as("is_nn"),
        not(col("x") > 1).as("not_gt1"))
    }),

    // §2.10 IN / NOT IN over literal tuples
    "q26_in_tuple" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
          && !col("o_orderstatus").isin("F"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))),

    // §2.4 empty-set aggregation: NULL sums/mins, zero count
    "q27_empty_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 0)
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("c"),
          min(col("l_shipdate")).as("m"))),

    // sessionization (30-min inactivity gap) via window functions — the
    // scalable batch form of the reference's stateful stream grouping
    "q28_sessionize" -> ((s, dir) => {
      Engine.registerAll(s, dir)
      s.sql(
        """WITH g AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |              > INTERVAL '30' MINUTE
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM events),
          |sess AS (
          |  SELECT user_id, ts,
          |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                     ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM g)
          |SELECT user_id, session_id, COUNT(*) AS n_events,
          |  MIN(ts) AS session_start, MAX(ts) AS session_end
          |FROM sess GROUP BY user_id, session_id""".stripMargin)
    }),

    // reference avg-int truncation semantics (aggregates/average.go:47-49)
    "q29_avg_int" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast(LongType)).as("s"),
          count(lit(1)).as("c"))
        .selectExpr("l_returnflag", "s div c AS avg_int")),

    // §2.4 array_agg (value-sorted, aggregates/array.go:22) — JSON-encoded
    // for engine-portable comparison
    "q30_array_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 480000)
        .groupBy("o_orderpriority")
        .agg(to_json(sort_array(collect_list(col("o_orderkey")))).as("keys"))),

    // deterministic string_agg: value-sorted before joining, so the
    // concatenation is partitioning-independent (an unordered
    // string_agg is the classic nondeterminism trap)
    "q84_string_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 480000)
        .groupBy("o_orderpriority")
        .agg(array_join(sort_array(collect_list(
          col("o_orderkey").cast(StringType))), ",").as("keys"))),

    // SQL:2003 FILTER clause through the engine's SQL surface —
    // conditional aggregation without CASE scaffolding
    "q85_filter_clause" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_q85")
      s.sql(
        """SELECT l_returnflag,
          |  count(*) AS n,
          |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          |    FILTER (WHERE l_tax = 0) AS DOUBLE) AS qty_no_tax
          |FROM li_q85 GROUP BY l_returnflag""".stripMargin)
    }),

    // §2.4 *_distinct aggregates (aggregates/distinct.go)
    "q31_distinct_aggs" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum_distinct(col("l_quantity").cast(LongType)).as("sd"),
          countDistinct(col("l_partkey")).as("cd"),
          (sum_distinct(col("l_quantity").cast(LongType))
            / countDistinct(col("l_quantity"))).as("avg_d"))),

    // as-of temporal join (beyond reference; union+window formulation,
    // one shuffle — see operators.AsOf): latest purchase ≤ each view
    // as-of with staleness bound (pandas merge_asof tolerance): matches
    // older than 1h are nulled — a stale quote is worse than none
    "q40_asof_tolerance" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("p_value"))
      operators.AsOf.asofJoin(views, purchases, "user_id", "ts",
        Seq("p_value"), toleranceSeconds = Some(3600L))
    }),

    "q33_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("p_value"))
      operators.AsOf.asofJoin(views, purchases, "user_id", "ts", Seq("p_value"))
    }),

    // forward as-of: each view matched to the NEXT purchase at or
    // after it (pandas merge_asof direction='forward') — same
    // union+window single-shuffle plan, frame and pick mirrored
    "q62_asof_forward" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("p_value"))
      operators.AsOf.asofJoin(views, purchases, "user_id", "ts",
        Seq("p_value"), direction = "forward")
    }),

    // merge_asof direction='nearest': closer of the backward and
    // forward matches, ties to backward — both picks come from one
    // sort (two frames over the same window ordering), so nearest
    // costs the same single shuffle as either direction alone
    "q82_asof_nearest" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("p_value"))
      operators.AsOf.asofJoin(views, purchases, "user_id", "ts",
        Seq("p_value"), direction = "nearest")
    }),

    // union/variant typing (§1.4): per-row runtime-typed JSON values,
    // union-narrowing cast (NULL on mismatch)
    "q32_variant" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        graft.types.UnionJson.castUnion(parse_json(col("props")), "struct<k:bigint>")
          .getField("k").as("k"),
        graft.types.UnionJson.unionToJson(
          variant_get(parse_json(col("props")), "$.k", "variant")).as("k_json"))),

    // union-typed GROUP BY + ORDER BY end-to-end (VERDICT r7 task 5):
    // a heterogeneous VARIANT column (Int | Float | String | NULL by
    // row) grouped and sorted DISTRIBUTEDLY via the reference's
    // TypeID-rank total order (values.go:97-106) — the engine derives
    // each row's rank from the RUNTIME variant type
    // (UnionJson.typeRank over schema_of_variant), while the oracle
    // reconstructs the same values with their construction-time types;
    // matching hashes prove the runtime-type dispatch exact. Group
    // keys are (rank, within-type key): VARIANT itself is not
    // comparable, the rank triple is — so the shuffle is a plain
    // hash partition on scalars at any scale.
    "q107_union_sort" -> ((s, dir) => {
      import graft.types.UnionJson
      val e = t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      val ks = col("k").cast(StringType)
      val v = when(col("event_id") % 4 === 0, parse_json(ks))
        .when(col("event_id") % 4 === 1,
          parse_json(concat(ks, lit(".5"))))
        .when(col("event_id") % 4 === 2,
          parse_json(concat(lit("\""), ks, lit("\""))))
        .otherwise(parse_json(lit("null")))
      val d = e.select(v.as("v"))
      d.groupBy(
          UnionJson.typeRank(col("v")).as("type_rank"),
          coalesce(try_variant_get(col("v"), "$", "string"), lit("NULL"))
            .as("val_str"),
          UnionJson.numKey(col("v")).as("nk"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("type_rank"), col("nk"), col("val_str"))
        .select(col("type_rank"), col("val_str"), col("n"))
    }),

    // ORDER BY a union column DIRECTLY: Spark's VariantType is not
    // orderable, but the VariantSortRule resolution rule rewrites the
    // SortOrder into the reference's (TypeID rank, within-type key)
    // triple — so `.orderBy(variant)` is legal and plans as a
    // TakeOrderedAndProject here, not a driver comparator. The oracle
    // replays the same total order on construction-time types.
    "q108_union_orderby" -> ((s, dir) => {
      import graft.types.UnionJson
      val e = t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      val ks = col("k").cast(StringType)
      val v = when(col("event_id") % 4 === 0, parse_json(ks))
        .when(col("event_id") % 4 === 1,
          parse_json(concat(ks, lit(".5"))))
        .when(col("event_id") % 4 === 2,
          parse_json(concat(lit("\""), ks, lit("\""))))
        .otherwise(parse_json(lit("null")))
      e.select(col("event_id"), v.as("v"))
        .orderBy(col("v").desc, col("event_id"))
        .limit(20)
        .select(col("event_id"),
          UnionJson.typeRank(col("v")).as("type_rank"),
          coalesce(try_variant_get(col("v"), "$", "string"), lit("NULL"))
            .as("val_str"))
    }),

    // GROUP BY a union column DIRECTLY: VariantGroupRule rewrites the
    // variant grouping key into its exact-round-trip json string (the
    // reference's union equality: type id + value — Int 5 and Float
    // 5.0 are DIFFERENT groups, which the json forms `5` vs `5.0`
    // preserve) and output references into first(v). The shuffle
    // hash-partitions on a plain string; the oracle groups the same
    // values by their construction-time types.
    "q109_union_groupby" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      val ks = col("k").cast(StringType)
      // %2 FOLDS collisions in: the same k appears both as Int and as
      // String across rows, so the type-distinction actually bites
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      e.select(v.as("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"))
        .select(to_json(col("v")).as("val_json"), col("n"))
    }),

    // equality JOIN on a union column: VariantGroupRule rewrites
    // `va = vb` into equality of null-preserving type-qualified keys,
    // which the planner extracts as a plain equi key — the join
    // hash-partitions on a string, never a nested loop (plan-gated by
    // QueriesSpec like every query). Both sides carry the same k as
    // both Int and String; only same-type same-value rows link.
    "q110_union_join" -> ((s, dir) => {
      import graft.types.UnionJson
      val e = t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      val ks = col("k").cast(StringType)
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      val a = e.filter(col("event_id") % 4 < 2).select(v.as("va"))
        .groupBy(col("va")).agg(count(lit(1)).as("na"))
      val b = e.filter(col("event_id") % 4 >= 2).select(v.as("vb"))
        .groupBy(col("vb")).agg(count(lit(1)).as("nb"))
      a.join(b, col("va") === col("vb"))
        .select(UnionJson.typeRank(col("va")).as("type_rank"),
          to_json(col("va")).as("val_json"), col("na"), col("nb"))
    }),

    // URL hygiene for web corpora (operators.Web): per-doc URLs are
    // CONSTRUCTED deterministically (the m16 encode-then-decode
    // discipline — uppercased schemes, co.uk-style second-level
    // suffixes, empty paths, tracking params in shuffled order,
    // fragments), then canonicalized through parse_url-based Column
    // algebra and aggregated per registered domain. Everything is
    // codegen'd built-ins; the oracle rebuilds the canonical strings
    // from the same construction arithmetic.
    "p54_url_canonical" -> ((s, dir) => {
      import operators.Web
      val ids = col("doc_id").cast(StringType)
      val hostCol = when(col("doc_id") % 4 === 0,
          concat(col("source"), lit(".co.uk")))
        .otherwise(concat(lit("docs."), col("source"), lit(".com")))
      val scheme = when(col("doc_id") % 5 === 0, lit("HTTPS"))
        .otherwise(lit("https"))
      val path = when(col("doc_id") % 7 === 0, lit(""))
        .otherwise(concat(lit("/"), col("lang"), lit("/doc"), ids))
      val query = when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=news&id="), ids, lit("&ref=home")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?b=2&a=1&utm_campaign=x&id="), ids))
        .otherwise(lit("?utm_medium=email"))
      val frag = when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit(""))
      val url = concat(scheme, lit("://"), hostCol, path, query, frag)
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"))
        .select(url.as("url"))
        .select(Web.registeredDomain(col("url")).as("domain"),
          Web.canonicalUrl(col("url")).as("curl"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("curl").as("n_unique"))
        .orderBy("domain")
    }),

    // HTML → text extraction (operators.Html): per-doc HTML pages are
    // CONSTRUCTED deterministically (m16 discipline — scripts whose
    // string literals contain fake tags, style blocks, comments,
    // upper/lowercase paragraph tags, entity-laden sentences including
    // a &lt;em&gt; that must survive tag stripping as literal text,
    // nav link counts varying by doc) and pushed through the
    // regex/replace Column pipeline: drop script/style/comments, strip
    // tags to spaces, decode entities AFTER stripping, collapse
    // whitespace; anchor-text chars feed the link-density boilerplate
    // signal. The oracle rebuilds the expected visible text from the
    // same construction arithmetic — integer/string-exact, no floats.
    "t30_html_extract" -> ((s, dir) => {
      import operators.Html
      val ids = col("doc_id").cast(StringType)
      val navLinks = when(col("doc_id") % 3 === 0,
          lit("<a href=\"/\">Home</a> <a href=\"/about\">About</a>"))
        .otherwise(lit("<a href=\"/\">Home</a>"))
      val pOpen = when(col("doc_id") % 2 === 0, lit("<P>")).otherwise(lit("<p>"))
      val pClose = when(col("doc_id") % 2 === 0, lit("</P>")).otherwise(lit("</p>"))
      val html = concat(
        lit("<html><head><title>Doc "), ids,
        lit("</title><style>body { color: red }</style>"),
        lit("<script type=\"text/javascript\">var s = \"<p>not text</p>\";"
          + "</script></head><body><nav>"),
        navLinks,
        lit("</nav><h1>Title "), ids, lit("</h1>"),
        pOpen, col("text"), pClose,
        lit("<p>Q &amp; A &lt;em&gt; &#39;quoted&#39;&nbsp;end</p>"
          + "<!-- hidden comment --><footer>&copy; 2024 "),
        col("source"), lit("</footer></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          Html.title(col("html")).as("title"),
          Html.extractText(col("html")).as("extracted"),
          Html.anchorChars(col("html")).cast(LongType).as("link_chars"))
        .withColumn("text_chars", length(col("extracted")).cast(LongType))
    }),

    // Encoding-quality signals (TextAnalysis.replacementCharCount /
    // controlCharCount / mojibakeCount): corruption is INJECTED
    // deterministically (U+FFFD runs, Latin-1 mojibake "Ã©" pairs, BEL
    // control chars, all keyed on doc_id arithmetic) and the per-source
    // rollup counts it back out through length-difference arithmetic
    // over codegen'd replace/regexp_replace. The oracle re-injects and
    // re-counts independently in DuckDB — integer-exact.
    "t31_encoding_quality" -> ((s, dir) => {
      import operators.TextAnalysis
      val corrupted = concat(col("text"), lit(" "),
        repeat(lit("\ufffd"), (col("doc_id") % 3).cast(IntegerType)),
        repeat(lit("\u00c3\u00a9"), (col("doc_id") % 4).cast(IntegerType)),
        repeat(lit("\u0007"), (col("doc_id") % 2).cast(IntegerType)))
      t(s, dir, "documents")
        .select(col("source"), corrupted.as("s"))
        .select(col("source"),
          TextAnalysis.replacementCharCount(col("s")).as("n_repl"),
          TextAnalysis.controlCharCount(col("s")).as("n_ctrl"),
          TextAnalysis.mojibakeCount(col("s")).as("n_moji"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_repl") > 0 || col("n_moji") > 0, 1L)
            .otherwise(0L)).as("n_suspect"),
          sum("n_repl").as("sum_repl"),
          sum("n_ctrl").as("sum_ctrl"),
          sum("n_moji").as("sum_moji"))
        .orderBy("source")
    }),

    // Multi-pattern blocklist scan (plans.AhoCount): one Aho-Corasick
    // pass per document counts ALL occurrences of every dictionary
    // pattern — the policy-phrase / benchmark-contamination primitive.
    // A codegen'd Catalyst Expression (automaton built once, shipped
    // as a codegen reference object) instead of |patterns| LIKE scans:
    // O(n + matches) per doc vs O(n·patterns), and the single pass is
    // what survives a 100-TB corpus with a 10k-phrase blocklist. The
    // dictionary here is border-free (no pattern is periodic), so the
    // oracle's non-overlapping replace() count equals the automaton's
    // all-occurrence count — overlap semantics are locked separately
    // by AhoCountSpec.
    "t32_blocklist" -> ((s, dir) => {
      val pats = Seq("the", "and", "ing", "tion", "data", "with", "for",
        "ment")
      val cnts = org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.AhoCount(
          org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
          pats))
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(cnts).as(Seq("pi", "cnt")))
        .filter(col("cnt") > 0)
        .select(element_at(array(pats.map(lit): _*), col("pi") + 1)
          .as("pat"), col("cnt"))
        .groupBy("pat")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cnt")).as("n_occurrences"))
        .orderBy("pat")
    }),

    // sentence segmentation (operators.Sentences): paragraphs are
    // CONSTRUCTED from k sentences with rotating terminals (. ! ?),
    // varying inter-sentence whitespace (single/double space), a
    // protected-abbreviation trap ("Dr. " inside sentence 1 — a naive
    // splitter would over-count), and document-text slices sanitized
    // of terminal chars so the construction controls every boundary.
    // The engine splits with protect → lookbehind split → restore; the
    // oracle recomputes sentence count and every length from the
    // construction arithmetic (all length-preserving replaces).
    "t33_sentences" -> ((s, dir) => {
      import operators.Sentences
      val id = col("doc_id").cast(LongType)
      val k = (id % 4 + 2).cast(IntegerType)
      val pieces = transform(sequence(lit(0), k - 1), i => {
        val term = when(i % 3 === 0, lit("."))
          .when(i % 3 === 1, lit("!")).otherwise(lit("?"))
        val slice = regexp_replace(
          col("text").substr((i * 23 + 1).cast(IntegerType),
            (lit(8) + i % 7).cast(IntegerType)),
          "[\\s.!?]", "a")
        val sep = when(i === k - 1, lit(""))
          .when(i % 2 === 0, lit("  ")).otherwise(lit(" "))
        concat(lit("S"), i.cast(StringType), lit(" "),
          when(i === 1, lit("Dr. ")).otherwise(lit("")),
          slice, term, sep)
      })
      val para = array_join(pieces, "")
      t(s, dir, "documents")
        .select(id.as("doc_id"), Sentences.split(para).as("sents"))
        .select(col("doc_id"),
          size(col("sents")).cast(LongType).as("n_sentences"),
          aggregate(col("sents"), lit(0L),
            (acc, x) => acc + length(x)).as("total_chars"),
          length(element_at(col("sents"), 1)).cast(LongType)
            .as("len_first"),
          length(element_at(col("sents"), -1)).cast(LongType)
            .as("len_last"))
    }),

    // Unicode normalization drift (plans.UnicodeNormStats): decomposed
    // sequences (e+U+0301), compatibility ligatures (ﬁ) and fullwidth
    // forms (Ａ) are INJECTED per doc on a modulus schedule over the
    // (verified pure-ASCII, therefore normalization-stable) document
    // text; the codegen'd kernel counts code points of the raw, NFC,
    // and NFKC forms via the JDK normalizer. The oracle recomputes all
    // three counts from the injection arithmetic alone: NFC composes
    // each e+◌́ (-1 cp), NFKC additionally expands each ﬁ (+1) and
    // folds each Ａ (0). is_nfc is the cheap skip condition a rewrite
    // pass keys on.
    "t34_normalization" -> ((s, dir) => {
      val id = col("doc_id").cast(LongType)
      val corrupted = concat(col("text"),
        repeat(lit("e\u0301"), (id % 3).cast(IntegerType)),
        repeat(lit("\uFB01"), (id % 2).cast(IntegerType)),
        repeat(lit("\uFF21"), (id % 4).cast(IntegerType)),
        repeat(lit("\u00E9"), (id % 5).cast(IntegerType)))
      val stats = org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.UnicodeNormStats(
          org.apache.spark.sql.GraftSqlBridge.expression(corrupted)))
      t(s, dir, "documents")
        .select(id.as("doc_id"), stats.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("raw_chars"),
          element_at(col("st"), 2).as("nfc_chars"),
          element_at(col("st"), 3).as("nfkc_chars"),
          (element_at(col("st"), 1) === element_at(col("st"), 2))
            .as("is_nfc"))
    }),

    // Cross-document line-level boilerplate removal (Dedup.lineDedup,
    // the CCNet/RefinedWeb pass): pages are CONSTRUCTED with shared
    // header/footer lines (two variants each, so every boilerplate
    // line lands in ~hundreds of docs), the document body as a content
    // line, and a whitespace-only line that must always drop. Lines in
    // more than maxDocs distinct docs are removed corpus-wide and the
    // survivors reassembled in order — duplicated body texts past the
    // threshold are removed too, which the oracle replays exactly.
    "d25_line_dedup" -> ((s, dir) => {
      val boilTop = when(col("doc_id") % 2 === 0,
        lit("Subscribe to our newsletter")).otherwise(lit("Sign in to continue"))
      val boilBot = when(col("doc_id") % 3 === 0,
        lit("All rights reserved")).otherwise(lit("Share this article"))
      val page = concat(boilTop, lit("\n"), col("text"), lit("\n \n"), boilBot)
      operators.Dedup.lineDedup(
        t(s, dir, "documents").select(col("doc_id"), page.as("text")),
        maxDocs = 3)
    }),

    // Directed containment dedup at candidate-generation scale
    // (Dedup.containmentPrefixPairs; d21 is the full-inverted-index
    // form, this is its PPJoin-style prefix path) — the
    // asymmetric near-dup Jaccard misses: quote documents are
    // CONSTRUCTED as the first ⌈0.4·n⌉ tokens of parents (pure quotes,
    // containment 1.0, id+1e6) and noisy quotes with 5 alien tokens
    // appended (containment (k−2)/(k+3) < 0.9 at every test doc
    // length, id+2e6). Candidate gen is A's rarity prefix against an
    // index semi-joined to prefix tokens — never all-pairs; the oracle
    // replays the FULL directed pair join brute-force, so the filter
    // stack is gated lossless.
    "d26_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      val ts = split(trim(col("text")), "\\s+")
      val k = ((size(ts) * 2 + 4) / 5).cast(IntegerType)
      val quote = array_join(slice(ts, lit(1), k), " ")
      val pure = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          quote.as("text"))
      val noisy = docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(quote, lit(" zzzq qqzx wwvv vvuu uqzz")).as("text"))
      operators.Dedup.containmentPrefixPairs(
          docs.unionByName(pure).unionByName(noisy), 9, 10)
        .select(col("doc_a"), col("doc_b"),
          col("n_inter").cast(LongType).as("n_inter"),
          col("n_a").cast(LongType).as("n_a"),
          col("n_b").cast(LongType).as("n_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // Per-domain document caps (Web.domainCap): URLs constructed as in
    // p54, registered domain extracted through the parse path, then at
    // most k=3 docs kept per domain preferring longer docs (n_chars
    // desc, doc_id asc unique tiebreak). The custom TopKPerKey bounds
    // shuffle volume map-side; the oracle replays the cap as a plain
    // window rank. Output is the kept rows themselves — integer-exact.
    "p55_domain_cap" -> ((s, dir) => {
      val hostCol = when(col("doc_id") % 4 === 0,
          concat(col("source"), lit(".co.uk")))
        .otherwise(concat(lit("docs."), col("source"), lit(".com")))
      val url = concat(lit("https://"), hostCol, lit("/d/"),
        col("doc_id").cast(StringType))
      operators.Web.domainCap(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast(LongType).as("n_chars"), url.as("url")),
        col("url"), k = 3)
        .select(col("domain"), col("doc_id"), col("n_chars"))
    }),

    // robots.txt crawl filtering (RFC 9309): per-source robots files
    // are CONSTRUCTED with comments, a Sitemap line, a Crawl-delay,
    // and — for even-length sources — a graftbot-specific group, then
    // parsed by the real group parser (Web.parseRobots). Decision
    // semantics are the RFC's: the agent's own group REPLACES `*`
    // (never merges), longest matching prefix wins, a length tie goes
    // to Allow, no match allows. Scale shape: the parsed rule set is
    // |sources|-sized → broadcast; the crawl-filter join is a
    // broadcast prefix join + max(struct(len, is_allow)) aggregate —
    // the fact side never shuffles before the final per-source rollup.
    // The oracle replays the decision table per (bucket, group).
    "p56_robots_filter" -> ((s, dir) => {
      import s.implicits._
      import operators.Web
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("source"),
          col("lang"))
      val ids = col("doc_id").cast(StringType)
      val path = when(col("doc_id") % 5 === 0,
          concat(lit("/private/x"), ids))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/ok/"), ids))
        .when(col("doc_id") % 5 === 2,
          concat(lit("/"), col("lang"), lit("/doc"), ids))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp/"), ids))
        .otherwise(concat(lit("/doc"), ids))
      val withPath = docs.withColumn("path", path)
      val robots = docs.select(col("source")).distinct().as[String]
        .mapPartitions { it =>
          it.flatMap { src =>
            val bot =
              if (src.length % 2 == 0)
                "\n# extended rules\nUser-agent: graftbot\n" +
                "Allow: /private\nDisallow: /en\nCrawl-delay: 2\n"
              else ""
            val txt = s"# robots for $src\nUser-agent: *\n" +
              "Disallow: /private\nAllow: /private/ok\nDisallow: /tmp\n" +
              s"Sitemap: https://$src/sitemap.xml\n" + bot
            Web.parseRobots(txt).map { case (ua, allow, prefix) =>
              (src, ua, allow, prefix)
            }
          }
        }.toDF("source", "ua", "is_allow", "prefix")
      val hasBot = robots.groupBy("source")
        .agg(max(when(col("ua") === "graftbot", 1).otherwise(0))
          .as("has_bot"))
      val grp = robots.join(broadcast(hasBot), "source")
        .filter((col("has_bot") === 1 && col("ua") === "graftbot") ||
          (col("has_bot") === 0 && col("ua") === "*"))
        .select(col("source").as("rsource"), col("is_allow"),
          col("prefix"), length(col("prefix")).as("plen"))
      val joined = withPath.join(broadcast(grp),
          withPath("source") === col("rsource") &&
            col("path").startsWith(col("prefix")), "left")
      val decided = joined.groupBy("doc_id", "source")
        .agg(max(struct(col("plen"), col("is_allow"))).as("best"))
        .select(col("source"),
          coalesce(col("best.is_allow"), lit(true)).as("allowed"),
          coalesce(col("best.plen"), lit(0)).as("rule_len"))
      decided.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(col("rule_len").cast(LongType)).as("sum_rule_len"))
        .orderBy("source")
    }),

    // min/max over a union column: VariantGroupRule rewrites them to
    // min_by/max_by on the Value.Compare key triple (null-skipping via
    // a nulled ordering), so the cross-type extremes distribute as a
    // plain hash aggregate. Ints rank below Strings, so min is the
    // numeric minimum and max the LEXICAL string maximum — the oracle
    // reconstructs both from construction-time types.
    "q113_union_minmax" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      val ks = col("k").cast(StringType)
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      e.select(col("event_type"), v.as("v"))
        .groupBy("event_type")
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
          count_distinct(col("v")).as("n_distinct"))
        .select(col("event_type"), to_json(col("mn")).as("min_json"),
          to_json(col("mx")).as("max_json"), col("n_distinct"))
        .orderBy("event_type")
    }),

    // TPC-H Q6 (forecasting revenue change): the pure scan-side query —
    // every predicate pushes to the parquet reader, one partial+final
    // aggregate, zero joins and zero shuffles beyond the 1-row
    // aggregate exchange. Discount equality on doubles is safe here:
    // the generator writes 2-dp values, and BETWEEN on the exact
    // binary doubles of 0.05/0.07 brackets identically in both engines.
    "q111_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2001-01-01").cast(TimestampType)
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * col("l_discount").cast(DecimalType(4, 2)))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q12 (shipping modes and order priority): fact-fact join +
    // per-category conditional counts (our schema's analog: returnflag
    // for shipmode, shipdate-vs-orderdate lateness for the
    // commit/receipt race). Counts are integers — no float treaty
    // needed; the join shuffles on the orderkey both sides.
    "q112_tpch_q12" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate")
          + expr("INTERVAL 30 DAYS")
          && col("l_shipdate") >= lit("2000-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2001-01-01").cast(TimestampType))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q7 (volume shipping between two nations): the disjunctive
    // nation-pair predicate is applied to the DIMS before any fact
    // join — suppliers and customers outside the two nations never
    // reach the shuffle, so both dim sides stay broadcastable at any
    // corpus size (1/12.5 of each dim here; at 100 TB the filter is
    // what keeps the plan broadcast + one orderkey shuffle). Revenue
    // is an exact decimal sum; year() keys are ints.
    "q114_tpch_q7" -> ((s, dir) => {
      val twoNations = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_8"))
      val sp = t(s, dir, "supplier")
        .join(twoNations.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val cn = t(s, dir, "customer")
        .join(twoNations.select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation")),
          col("c_nationkey") === col("cn_key"))
        .select("c_custkey", "cust_nation")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2001-01-01").cast(TimestampType))
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val vol = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2))
          - col("l_discount").cast(DecimalType(4, 2)))
      l.join(sp, l("l_suppkey") === sp("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(cn, o("o_custkey") === cn("c_custkey"))
        .filter((col("supp_nation") === "NATION_3"
            && col("cust_nation") === "NATION_8")
          || (col("supp_nation") === "NATION_8"
            && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(vol).cast(DoubleType).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q9 (product-type profit, adapted: the schema has no
    // ps_supplycost, so cost = 0.6·p_retailprice·l_quantity — same
    // shape, profit per supplier-nation per order-year). No manual
    // broadcast hints: AQE picks broadcast for part and supplier⨝nation
    // from runtime sizes (TpchUnhintedSpec guards this at sf0.1), and
    // at sf100 it can fall back to SMJ instead of OOMing a forced
    // broadcast. The one real shuffle is the lineitem⨝orders orderkey
    // join. All money math in DECIMAL.
    "q115_tpch_q9" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select("p_partkey", "p_retailprice")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val sn = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val profit = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2))
          - col("l_discount").cast(DecimalType(4, 2))) -
        lit(0.6).cast(DecimalType(3, 2)) *
        col("p_retailprice").cast(DecimalType(12, 2)) *
        col("l_quantity").cast(DecimalType(12, 2))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(sn, l("l_suppkey") === sn("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(profit).cast(DoubleType).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q2 (min-cost supplier, adapted: no partsupp table, so the
    // candidate set is the DISTINCT (partkey, suppkey) pairs observed
    // in lineitem and the "cost" is s_acctbal). The correlated MIN
    // subquery decorrelates to one |parts|-sized MIN aggregate joined
    // back — the pair-distinct shuffles once on (part, supp), the
    // rest is broadcast. Oracle runs the textbook correlated form.
    "q116_tpch_q2" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
      val sup = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
      val withBal = pairs
        .join(sup, col("l_suppkey") === col("s_suppkey"))
      val minBal = withBal.groupBy(col("l_partkey").as("mb_pk"))
        .agg(min("s_acctbal").as("min_bal"))
      withBal
        .join(minBal, col("l_partkey") === col("mb_pk")
          && col("s_acctbal") === col("min_bal"))
        .join(t(s, dir, "part").filter(col("p_size") === 15),
          col("l_partkey") === col("p_partkey"))
        .select("s_acctbal", "s_name", "p_partkey", "p_brand")
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 (important stock, adapted: "value" is the exact
    // decimal extendedprice a nation's suppliers shipped per part; the
    // HAVING threshold is a fraction of the same set's global sum).
    // The global is a 1-row aggregate crossed back in broadcast form;
    // the threshold comparison stays in DECIMAL so the boundary can't
    // flip between engines. One shuffle on partkey.
    "q117_tpch_q11" -> ((s, dir) => {
      val natSupp = t(s, dir, "supplier")
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val lv = t(s, dir, "lineitem")
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("val"))
      val perPart = lv.groupBy("l_partkey")
        .agg(sum("val").as("value_dec"))
      val global = lv.agg(sum("val").as("g"))
      perPart.crossJoin(broadcast(global))
        .filter(col("value_dec") >
          col("g") * lit(0.001).cast(DecimalType(4, 3)))
        .select(col("l_partkey"),
          col("value_dec").cast(DoubleType).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q16 (supplier counts by part attribute, NOT IN exclusion):
    // the NOT IN subquery (suppliers with negative balance, standing
    // in for the benchmark's complaint comment scan) is a broadcast
    // LEFT ANTI join — s_suppkey is non-null so NOT IN ≡ anti join.
    // count(DISTINCT) shuffles once on the (brand, type, size) key.
    "q118_tpch_q16" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13"
          && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"),
          col("p_type"), col("p_size"))
    }),

    // TPC-H Q20 (part promotion, adapted: a (supplier, part) pair
    // "dominates" a SMALL-type part when its year-2000 shipped
    // quantity exceeds half the part's total across all suppliers
    // that year — the benchmark's availqty-vs-half-shipped correlated
    // scalar re-keyed to what this schema can express). Decorrelated:
    // two aggregates over the same filtered scan joined on partkey,
    // then a semi join back to supplier. Quantities are
    // integer-valued doubles — sums are exact in any order.
    "q119_tpch_q20" -> ((s, dir) => {
      val smallParts = t(s, dir, "part")
        .filter(col("p_type") === "SMALL").select("p_partkey")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2001-01-01").cast(TimestampType))
        .join(smallParts, col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
      val perPair = l.groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("pair_qty"))
      val perPart = l.groupBy(col("l_partkey").as("pp_pk"))
        .agg(sum("l_quantity").as("part_qty"))
      val dominating = perPair
        .join(perPart, col("l_partkey") === col("pp_pk"))
        .filter(col("pair_qty") > lit(0.5) * col("part_qty"))
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(dominating, col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    }),

    // -----------------------------------------------------------------
    // LLM-data-pipeline operators
    // -----------------------------------------------------------------

    // deterministic stratified sampling (portable hash order, per-lang cap)
    "p1_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang", perKey = 5)
        .select("doc_id", "lang")),

    // whole-row exact dedup: keep the min-id representative ROW per
    // distinct text — the struct-argmin hash aggregate (map-side
    // combined; no per-key window sort). d1 reports per-group stats;
    // this returns the surviving corpus rows themselves.
    "d17_exact_rows" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast(LongType).as("n_chars"))),

    // deterministic train/eval split (hash-bucket, no shuffle)
    "p2_split" -> ((s, dir) =>
      operators.Sampling.trainEvalSplit(t(s, dir, "documents"), "doc_id", 10)
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))),

    // canonical text normalization
    "p3_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.normalize(col("text")).as("norm"),
        length(TextAnalysis.normalize(col("text"))).cast(LongType).as("norm_len"))),

    // repetition quality signals (Gopher-style top-token fraction)
    "p4_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))),

    // intra-document repetition removal (C4's within-page pass): every
    // repeated chunk keeps only its first occurrence and the text is
    // reassembled in order. chunkTokens=1 (word grain) because the
    // synthetic corpus repeats words, not lines — the same operator
    // runs chunk- or line-grained on real web text
    "p7_intradoc_dedup" -> ((s, dir) =>
      Dedup.intraDocDedup(t(s, dir, "documents"), chunkTokens = 1)),

    // exact dedup: content-keyed representative + copy count
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exactStats(t(s, dir, "documents"), "doc_id", "text")),

    // n-gram Jaccard near-dup pairs (word trigrams, inverted-index
    // self-join; see Dedup.tokenShingles for why not char-grams here).
    // maxDocFreq=50 is the default skew cap on every Jaccard-pipeline
    // query: boilerplate shingles in >50 docs are dropped before the
    // self-join (each contributes df² candidate pairs). The oracle SQL
    // applies the identical cap, and at the test SFs no shingle exceeds
    // df=25 (measured), so results here are byte-identical to uncapped —
    // the cap exists for clone-heavy corpora at soak/production scale.
    "d2_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, tokens = true, maxDocFreq = Some(50))),

    // MinHash + LSH banding candidates vs exact Jaccard ground truth:
    // the query returns its own recall so the randomized-LSH operator
    // gets a deterministic oracle (recall must be 1.0 at this SF)
    "d3_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // one shingle index feeds BOTH the LSH path and the exact ground
      // truth — built once, materialized, shared. The doc-frequency
      // cap runs inside the lazy index, before the key-partitioned
      // materialization (hot shingles never reach the shuffle that
      // would concentrate them), and partitioning by `shingle` makes
      // the exact arm's self-join exchange-free.
      val idx = operators.Materialize.eagerByKey(
        Dedup.shingleIndex(operators.Materialize.fanOut(docs), "doc_id",
          "text", n = 3, maxDocFreq = Some(50), tokens = true),
        col("shingle"))
      // UNVERIFIED candidates are enough for recall-vs-exact: the
      // verified set is cand ∩ {jaccard≥0.8} and exact IS
      // {jaccard≥0.8}, so exact ∩ verified(cand) = exact ∩ cand — a
      // separate verify pipeline (2 hash joins + 3 aggregates) would
      // recompute what the exact path below already computes
      val lsh = Dedup.minhashLshCandidatesFromIndex(idx,
        k = 32, bands = 4)
      val exact = Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.8)
        .select("id_a", "id_b")
        // referenced twice below (n_exact + the semi-join probe):
        // materialize the small pair list so the exact pipeline — the
        // expensive half of this query — runs once (r10)
        .transform(operators.Materialize.eager)
      val found = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .withColumn("recall_vs_exact",
          col("n_found").cast("double") / col("n_exact").cast("double"))
    }),

    // SimHash signatures (64-bit token-vote construction; portable
    // 2x31-bit polynomial token hash so DuckDB replays the bit votes)
    "d4_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", portable = true)),

    // near-dup clustering: pairs → connected components → one canonical
    // doc per cluster (the step that makes pairwise dedup actionable)
    "d7_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8, tokens = true,
        maxDocFreq = Some(50))
        .select("id_a", "id_b")
      Dedup.dedupClusters(pairs)
    }),

    // edit-distance-verified near-dup: shingle candidates (cheap,
    // key-partitioned) verified by BANDED Levenshtein — the threshold
    // form runs O(len·k) instead of O(len²) (returns -1 past the
    // band), and the length-difference prefilter skips the DP
    // entirely when |len_a − len_b| already exceeds the bound. The
    // verify cost is bounded by candidates × len × k, never all-pairs
    // (sf1 measurement: 24.2 s unbanded → banded+prefilter below)
    // Efraimidis-Spirakis weighted sampling without replacement:
    // key = ln(u)/w from the portable hash, distributed top-k — the
    // exact-size weighted corpus sample (longer docs more likely, no
    // reservoir state, no global sort)
    "p35_weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedSample(t(s, dir, "documents"),
        "doc_id", "n_chars", k = 50)),

    // winnowing fingerprints (the MOSS algorithm, SIGMOD 2003): hash
    // word 3-grams positionally, keep each 4-window's rightmost
    // minimum — any >= 6-token shared run shares a fingerprint at
    // ~2/(w+1) density. Pairs from the fingerprint inverted index
    // with the standard df cap; portable poly_hash, so the oracle
    // replays fingerprints bit-for-bit
    "d23_winnowing" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, w = 4, minCommon = 5, maxDocFreq = 50)),

    // set-similarity join via prefix filtering (All-Pairs/PPJoin):
    // only each doc's n−⌈0.8n⌉+1 RAREST 3-token shingles (global
    // df-asc order) generate candidates — boilerplate never indexes,
    // so the skew d2 caps with maxDocFreq never forms, and a length
    // filter rides the candidate join. All-integer threshold algebra
    // (9·inter ≥ 4·(na+nb) ⟺ J ≥ 4/5); the oracle computes ground
    // truth WITHOUT the filter, proving losslessness on real data
    "d24_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"),
        tNum = 4, tDen = 5, shingleN = 3)),

    "d22_edit_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // NOT the len-bounded candidate variant: measured at sf1-soak
      // (clone-heavy, near-identical lengths) the in-join length window
      // prunes nothing while its len payload rides the quadratic-fanout
      // shingle join — 20.8 s vs 11.2 s for this path. On varied-length
      // corpora use Dedup.ngramJaccardPairsLenBounded instead.
      val cand = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.7, tokens = true, maxDocFreq = Some(50))
        .select("id_a", "id_b")
      val ta = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val tb = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      cand.join(ta, "id_a").join(tb, "id_b")
        .filter(abs(length(col("text_a")) - length(col("text_b"))) <= 100)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("text_a"), col("text_b"), 101).cast(LongType)
            .as("edit_dist"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") <= 100)
    }),

    // sequence-length distribution for packing/batching plans: log2
    // buckets computed INTEGER-exactly as length(bin(x)) - 1 (no
    // float log at bucket boundaries), one map-side-combined aggregate
    "p34_length_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .select((length(bin(col("n_chars"))) - 1).cast(LongType)
          .as("log2_bucket"))
        .groupBy("log2_bucket").agg(count(lit(1)).as("n_docs"))),

    // curriculum construction: order the corpus easiest-first by
    // quality score with the DISTRIBUTED global rank (range partition
    // + per-partition offsets — no single-task window), the training
    // order a curriculum-learning schedule feeds the data loader
    "p33_curriculum" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      val (ranked, _) = operators.Ranking.globalRowNumber(
        scored, Seq(col("q").desc, col("doc_id")), "curriculum_pos")
      ranked.select(col("doc_id"), col("q"), col("curriculum_pos"))
    }),

    // incremental recompute driver: per-partition content fingerprints
    // (order-independent portable-hash sums, mergeable) reduce a
    // snapshot diff to |partitions| rows — epoch 2 here deletes the
    // %89 stripe and edits the %97 stripe, and only the partitions
    // those stripes touch flag as changed. At 100 TB this is THE
    // mechanism that lets a nightly pipeline recompute 3 partitions
    // instead of 2000
    "p53_partition_fingerprint" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
      val epoch2 = base.filter(col("doc_id") % 89 =!= 5)
        .withColumn("text", when(col("doc_id") % 97 === 3,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val fb = operators.Layout
        .partitionFingerprints(base, "source", col("text"))
        .toDF("source", "n_base", "fp_base")
      val fn = operators.Layout
        .partitionFingerprints(epoch2, "source", col("text"))
        .toDF("source", "n_new", "fp_new")
      fb.join(fn, Seq("source"), "full_outer") // partitions may (dis)appear
        .select(col("source"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          (!(col("fp_base") <=> col("fp_new")) ||
            !(col("n_base") <=> col("n_new"))).as("changed"))
    }),

    // lakehouse maintenance: small-file compaction planning (OPTIMIZE
    // bin-packing) over a simulated file listing — per-partition
    // cumsum cut at the target size; plans 100 TB of files by
    // shuffling only the LISTING
    "p31_compaction_plan" -> ((s, dir) => {
      val listing = t(s, dir, "documents").select(
        col("source").as("part"),
        concat(lit("f"), col("doc_id").cast("string"), lit(".parquet"))
          .as("file"),
        (col("n_chars") * 100L).as("bytes"))
      operators.Layout.compactionPlan(listing, "part", "file", "bytes",
        targetBytes = 1000000L)
    }),

    // quality-weighted sampling: keep-probability = the doc's quality
    // score, with the "coin flip" drawn from the portable Knuth hash —
    // deterministic, replayable, and zero-shuffle (filter + project)
    "p30_quality_sampling" -> ((s, dir) => {
      val u = operators.Sampling.hashKey(col("doc_id")).cast(DoubleType) /
        4294967296.0
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"), u.as("u"))
        .filter(col("u") < col("q"))
        .select(col("doc_id"), round(col("q"), 6).as("q"))
    }),

    // asymmetric near-dup: shingle containment (quotation/subset
    // detection) — directed pairs, |A∩B| / |A| ≥ 0.9; the d2 inverted
    // index with a different denominator
    "d21_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.9, tokens = true, maxDocFreq = Some(50))),

    // dedup QA: cluster-size histogram (count-of-counts over CC
    // labels, singletons folded in arithmetically) — the shape report
    // that decides whether near-dup pruning is worth running
    "p29_cluster_histogram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.dedupClusters(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.8, tokens = true, maxDocFreq = Some(50))
          .select("id_a", "id_b"))
      val hist = clusters.groupBy(col("n_members").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
      val singles = docs.agg(count(lit(1)).as("nd"))
        .crossJoin(clusters.agg(coalesce(sum("n_members"), lit(0L)).as("inc")))
        .select(lit(1L).as("cluster_size"),
          (col("nd") - col("inc")).as("n_clusters"))
      hist.unionByName(singles).groupBy("cluster_size")
        .agg(sum("n_clusters").as("n_clusters"))
    }),

    // corpus-law diagnostics: least-squares Zipf slope on the log-log
    // rank/frequency curve of the top-100 tokens (healthy natural text
    // sits near -1; spam/boilerplate bends it). The regression runs
    // over a BOUNDED 100-row set (TakeOrdered top-k, then a window on
    // 100 rows); per-term products round to 12 dp and sum as DECIMAL
    // so the reduction is order-independent
    "t19_zipf_fit" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
      val ranked = counts.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("w"))))
      val terms = ranked.select(
        round(log(col("rank").cast(DoubleType)), 12).as("x"),
        round(log(col("c").cast(DoubleType)), 12).as("y"))
      def dsum12(c: Column) = sum(round(c, 12).cast(DecimalType(28, 12)))
        .cast(DoubleType)
      terms.agg(count(lit(1)).as("n"), dsum12(col("x")).as("sx"),
          dsum12(col("y")).as("sy"), dsum12(col("x") * col("y")).as("sxy"),
          dsum12(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"))
    }),

    // classifier QA: language-ID confusion matrix (predicted vs
    // labeled) — one hash aggregate over a zero-shuffle projection
    "t18_langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),

    // dedup-aware (leakage-safe) train/eval split: one split decision
    // per near-dup cluster (CC label), so near-duplicates never
    // straddle train and eval — p2's plain hash split leaks one copy
    // into eval while its sibling trains
    "d18_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8, tokens = true, maxDocFreq = Some(50))
        .select("id_a", "id_b")
      operators.Sampling.leakageSafeSplit(
          docs.select("doc_id", "lang"),
          "doc_id", Dedup.connectedComponents(pairs), evalPct = 10)
        .select(col("doc_id"), col("split_key"), col("split"))
    }),

    // embedding near-dup pairs (cosine threshold, ids only — float-safe)
    "d5_embed_pairs" -> ((s, dir) =>
      Similarity.cosinePairs(t(s, dir, "embeddings"), 0.45)
        .select("id_a", "id_b")),

    // brute-force cosine top-k ANN (queries broadcast, corpus scanned once)
    "s1_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),

    // LSH-bucketed ANN (scale path): recall vs the brute-force ground
    // truth is computed in-query so the randomized operator still gets
    // an oracle row (recall_ok asserts the ≥0.5 contract)
    "s2_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val lsh = Similarity.lshTopK(emb, qs, k = 5, bits = 4, dim = 64, tables = 12)
        .select("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(lsh, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    // Matryoshka two-stage ANN: coarse score on the first 32 of 64
    // dims, exact full-dim rerank of the per-query top-25 pool —
    // recall vs brute in-query, the s2 oracle pattern
    "s13_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val mat = Similarity.matryoshkaTopK(emb, qs, k = 5, pdim = 32,
          cand = 25)
        .select("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(mat, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    // IVF ANN (the other scale path): recall vs brute force in-query,
    // same deterministic-oracle pattern as s2
    "s3_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = 8)
        .select("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    // SemDeDup: k-means the embedding space, cosine-compare only within
    // clusters (exact oracle: the s4 kmeans replica + in-cluster join)
    "d13_semdedup" -> ((s, dir) =>
      Dedup.semDedupPairs(t(s, dir, "embeddings"), k = 10, iters = 3,
        threshold = 0.45)),

    // embedding norm-outlier screening; every 97th vector is scaled 5×
    // in-query so the 3σ flag actually fires (clean margin both engines)
    "s8_embed_outliers" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x * when(col("vec_id") % 97 === 0, 5.0f).otherwise(1.0f))
          .as("embedding"))
      Similarity.embedOutliers(emb, z = 3.0)
    }),

    // product quantization (PQ): per-subspace codebooks compress 64-dim
    // floats to 4 code bytes; the contract oracle is deterministic —
    // mean squared reconstruction error under the learned codes must
    // beat the best single-centroid coder (total per-dim variance)
    "s9_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codebooks train on a deterministic 25% hash sample (the 100 TB
      // shape: constant-cost training, full-corpus zero-shuffle encode)
      val train = emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
      val pq = Similarity.productQuantize(emb, dim = 64, m = 4, k = 8,
        iters = 2, trainDf = Some(train))
      val pqMse = pq.agg(avg(col("err")).as("pq_mse"))
      val base = emb.select(posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("d").agg(var_pop(col("x").cast("double")).as("v"))
        .agg(sum(col("v")).as("base_mse"))
      pqMse.crossJoin(base)
        .select((col("pq_mse") < col("base_mse")).as("pq_ok"))
    }),

    // IVF-PQ serving stack: coarse cells route, PQ codes + ADC lookup
    // tables score, exact cosine re-ranks a small shortlist — recall vs
    // brute force in-query, same deterministic-oracle pattern as s2/s3.
    // nprobe=8 of nlist=16 probes half the cells; the ADC stage must
    // surface the true neighbors into the 256-candidate exact re-rank
    "s10_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      // coarse cells + PQ codebooks both train on a deterministic 25%
      // hash sample; only the encode pass scans the full corpus
      val train = emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
      val cents = Clustering.kmeansCentroids(train, k = 16, iters = 2)
      val ivfpq = Similarity.ivfPqTopK(emb, qs, k = 5, dim = 64,
          nlist = 16, nprobe = 8, m = 4, codes = 16, iters = 2,
          shortlist = 256,
          trainedCentroids = Some(cents), trainDf = Some(train))
        .select("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(ivfpq, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    // reciprocal rank fusion (Cormack et al. 2009) — the hybrid-
    // retrieval shape: fuse a lexical (BM25) and a semantic (cosine)
    // top-50 list by rrf = Σ 1/(60 + rank). Ranks come from bounded
    // lists (limit-bounded windows; audit-clean), the fuse is one
    // full-outer join on doc_id, and the fused score is IEEE
    // arithmetic on integer ranks — bit-identical across engines
    "s11_rrf" -> ((s, dir) => {
      val wT = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val tr = TextAnalysis.bm25TopK(t(s, dir, "documents"),
          Seq("spark", "join", "window"), topK = 50)
        .withColumn("r_text", row_number().over(wT))
        .select("doc_id", "r_text")
      val emb = t(s, dir, "embeddings")
      val vr = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_vec"))
      tr.join(vr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_text"), col("r_vec"),
          (coalesce(lit(1.0) / (lit(60) + col("r_text")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // IVF with TRAINED cells (the production build: k-means the corpus,
    // route by learned centroids) — recall vs brute force in-query,
    // same deterministic-oracle pattern as s2/s3
    // persisted IVF index + incremental probe — the at-scale ANN
    // ingest shape (d19's stored-index pattern for vectors): centroids
    // trained once, the corpus assigned and written bucketed by cell,
    // so every later probe batch joins the index with ZERO Exchange on
    // the index side (PlanShapeSpec asserts it). The probe batch is
    // the full 10% arrival; recall is checked on a bounded query
    // subset against in-query brute force
    "s12_ann_index_probe" -> ((s, dir) => {
      import graft.plans.VecExpressions
      val emb = t(s, dir, "embeddings")
      VecExpressions.register(s)
      val isProbe = col("vec_id") % 10 === 0
      val corpus = emb.filter(!isProbe)
      val cents0 = Clustering.kmeansCentroids(corpus, k = 16, iters = 2)
      val cents = cents0.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      }
      def topCells(vec: Column, m: Int): Column =
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.plans.VecTopCells(
            org.apache.spark.sql.GraftSqlBridge.expression(vec), cents, m))
      graft.sources.Sink.writeBucketed(
        corpus.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("cv"))
          .withColumn("cell", element_at(topCells(col("cv"), 1), 1))
          .withColumn("cn", Similarity.norm(col("cv"))),
        "graft_s12_ivf_index", Seq("cell"), numBuckets = 8,
        sortCols = Seq("cell"))
      val index = s.table("graft_s12_ivf_index")
      val probes = emb.filter(isProbe)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .withColumn("cell", explode(topCells(col("qv"), 8)))
        .withColumn("qn", Similarity.norm(col("qv")))
      val scored = index.join(probes, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", Similarity.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")))
      val ivf = Similarity.rankTopKPerQuery(scored, 5)
        .select("query_id", "neighbor_id")
      // recall oracle on a bounded query subset (brute force is the
      // ground truth, not the production path)
      val checked = emb.filter(isProbe && col("vec_id") < 100)
      val brute = Similarity.bruteForceTopK(corpus, checked, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    "s7_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val cents = Clustering.kmeansCentroids(emb, k = 16, iters = 2)
      val ivf = Similarity.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = 8,
          trainedCentroids = Some(cents))
        .select("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val found = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select((col("n_found").cast("double") / col("n_exact").cast("double")
          >= 0.5).as("recall_ok"))
    }),

    // k-means clustering (Lloyd): zero-shuffle codegen'd assignment +
    // k×dim mean shuffle per iteration; centroids rounded to 6 dp each
    // round so the unrolled DuckDB oracle reaches identical assignments
    "s4_kmeans" -> ((s, dir) =>
      Clustering.kmeans(t(s, dir, "embeddings"), k = 10, iters = 3)),

    // embedding near-dup via LSH buckets (the documented scale default;
    // d5 keeps the exact form as its own oracle) — recall vs exact
    "d6_embed_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // LSH resolution must GROW with the corpus: fixed bits means
      // candidates scale as n²/2^bits (the 16-bucket sf1 blow-up).
      // Schedule: bucket count tracks n (target ~128 vectors/bucket),
      // tables grow with bits to hold recall as per-table collision
      // probability (~0.65^bits at this threshold) shrinks. One
      // metadata-cheap count() picks the operating point.
      val n = emb.count()
      val bits = math.max(4, (math.log(n / 128.0) / math.log(2)).toInt)
      val tables = math.max(12, 3 * bits)
      val lsh = Similarity.cosinePairsLsh(emb, 0.45, bits = bits,
          tables = tables)
        .select("id_a", "id_b")
      // ground-truth arm is BLOCKED (B=2): within-block pairs are an
      // unbiased 1/B sample of all pairs (id hash ⟂ similarity), the
      // exact join becomes a block-keyed equi-join, and monitoring
      // cost is n²/B — at 100 TB crank B up so n²/B stays fixed while
      // the production LSH arm stays full-corpus. Persisted: the
      // thresholded pair set is tiny and has two consumers below —
      // without it the n²/B join runs twice.
      val exact = operators.Materialize.eager(
        Similarity.cosinePairs(emb, 0.45, blocks = 2)
          .select("id_a", "id_b"))
      val found = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact"),
          (col("n_found").cast("double") / col("n_exact").cast("double")
            >= 0.5).as("recall_ok"))
    }),

    // language ID + token counting + fingerprint
    "t1_langid_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.wsTokens(col("text")).as("n_tokens_ws"),
        TextAnalysis.regexTokens(col("text")).as("n_tokens_re"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    }),

    // quality scoring
    "t2_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // TF-IDF characteristic terms: two-level distributed agg + per-doc
    // top-k window; integer output columns so ranks hash-compare exactly
    "t3_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // unigram-LM quality scoring (CCNet-style): corpus-trained token
    // frequencies → per-doc mean negative log-likelihood
    "t4_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"))),

    // bigram-LM quality scoring: corpus-trained transition model —
    // catches shuffled-word docs a unigram model scores as fluent
    "t11_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"))),

    // DSIR importance weights (Xie et al. 2023): target = the English
    // subset; hashed uni+bigram bag-of-buckets models, add-1 smoothing
    "t13_dsir" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"),
        isTarget = col("lang") === "en", buckets = 256)),

    // BM25 ranked retrieval: corpus stats + tf/df aggregates + bounded
    // top-k; Lucene "+1" idf, standard saturation
    "t14_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"),
        Seq("spark", "join", "window"), topK = 20)),

    // RAKE keyword extraction (Rose et al. 2010): stopword-free token
    // runs as candidate phrases (gaps-and-islands, per-doc partitioned
    // windows), scored by Σ deg(w)/freq(w) in fixed-point INTEGER
    // arithmetic — the re-orderable sum stays exact, the oracle
    // replays bit-for-bit
    "t21_rake" -> ((s, dir) =>
      TextAnalysis.rakePhrases(t(s, dir, "documents"), RakeStopwords,
        topK = 20)),

    // exact ROC AUC of the t15 quality classifier against a held-out
    // label (lang = 'en' stands in for the curated/not-curated truth):
    // tie-corrected Mann-Whitney over DISTINCT integer margins with a
    // distributed prefix sum — no global window, no per-row ranks;
    // the one float op is the final division of two exact BIGINTs
    "t22_auc" -> ((s, dir) => {
      val w = Array.tabulate(64)(b =>
        ((b.toLong * 2654435761L + 104729L) % 4294967296L) - 2147483648L)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), (col("lang") === "en").as("pos"))
      Evaluation.aucExact(TextAnalysis.classifierMargin(d, w),
        scoreCol = "margin", labelCol = "pos")
    }),

    // cross-source vocabulary overlap (corpus provenance analysis —
    // which sources are near-copies of each other): pairwise Jaccard
    // of distinct token sets. Per-token fan-out is C(#sources-with-
    // token, 2) — sources are a bounded categorical, so the join is
    // linear in the corpus at any scale; top-20 is a TakeOrdered
    "t23_source_overlap" -> ((s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0).distinct()
      val sizes = v.groupBy("source").agg(count(lit(1)).as("nv"))
      val inter = v.toDF("sa", "tok").join(v.toDF("sb", "tok"), "tok")
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.toDF("sa", "na"), "sa")
        .join(sizes.toDF("sb", "nb"), "sb")
        .select(col("sa"), col("sb"), col("n_common"),
          round(col("n_common").cast(DoubleType) /
            (col("na") + col("nb") - col("n_common")).cast(DoubleType), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("sa"), col("sb")).limit(20)
    }),

    // operating-point selection: sweep 10 min-length thresholds in
    // ONE pass — bucket counts first (bounded 10-row domain), then a
    // broadcast threshold × bucket cross (≤100 rows) instead of 10
    // scans or a global window. Survivor counts and mean lengths per
    // candidate cutoff, exact
    "t26_threshold_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val by = docs
        .select(least(expr("n_chars div 100"), lit(9)).as("bucket"),
          col("n_chars"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sc"))
      // total from the 10-row bucket table, not a second corpus scan
      val tot = by.agg(sum("n").as("n_total"))
      by.withColumn("k", explode(sequence(lit(0L), lit(9L))))
        .filter(col("bucket") >= col("k"))
        .groupBy("k")
        .agg(sum("n").as("n_kept"), sum("sc").as("sum_chars"))
        .crossJoin(broadcast(tot))
        .select((col("k") * 100).as("min_chars"), col("n_kept"),
          round(col("n_kept").cast(DoubleType) /
            col("n_total").cast(DoubleType), 6).as("frac_kept"),
          round(col("sum_chars").cast(DoubleType) /
            col("n_kept").cast(DoubleType), 6).as("avg_len"))
    }),

    // corpus readability per source (Flesch 1948 reading ease on the
    // vowel-group syllable heuristic): words / vowel-groups /
    // sentence-marks are integer regexp counts summed exactly, and
    // the score is ONE double tree over those corpus sums — no
    // per-document float ever aggregated, so order of summation
    // cannot move the result
    "t24_readability" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          regexp_count(col("text"), lit("[A-Za-z]+")).cast(LongType)
            .as("w"),
          regexp_count(col("text"), lit("[AEIOUYaeiouy]+")).cast(LongType)
            .as("y"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast(LongType).as("sen"))
        .filter(col("w") > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("y").as("vowel_groups"), sum("sen").as("sentences"))
        .select(col("source"), col("n_docs"), col("words"),
          col("vowel_groups"), col("sentences"),
          round(lit(206.835)
            - lit(1.015) * (col("words").cast(DoubleType)
              / col("sentences").cast(DoubleType))
            - lit(84.6) * (col("vowel_groups").cast(DoubleType)
              / col("words").cast(DoubleType)), 6).as("flesch"))),

    // lexical diversity per source: token count, type count (distinct
    // tokens), type-token ratio, and hapax legomena (tokens occurring
    // exactly once IN THAT SOURCE) — the vocabulary-richness profile
    // that separates template spam from organic text. Hapaxes come
    // from the same (source, token) count aggregate that feeds types;
    // ratios are single divisions of exact counts
    "t25_lexical_diversity" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          round(col("n_types").cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 6).as("ttr"),
          round(col("n_hapax").cast(DoubleType) /
            col("n_types").cast(DoubleType), 6).as("hapax_ratio"))),

    // traffic burstiness profile: per-user inter-arrival
    // coefficient-of-variation (CV ≈ 1 = Poisson, > 1 = bursty),
    // binned into a bounded histogram. Gaps are exact µs integers
    // from a per-USER window (partition count scales with users,
    // never a few fat partitions); Σg² runs in DECIMAL(38,0) (a 30-day
    // µs gap squared overflows BIGINT); CV is one fixed double tree
    "t27_burstiness" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap",
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
        .filter(col("gap").isNotNull)
      val per = gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("gap").as("sg"),
          sum(col("gap").cast(DecimalType(38, 0)) *
            col("gap").cast(DecimalType(38, 0))).as("sg2"))
        .filter(col("n") >= 2)
      val mean = col("sg").cast(DoubleType) / col("n").cast(DoubleType)
      val varP = (col("sg2").cast(DoubleType) -
        col("sg").cast(DoubleType) * col("sg").cast(DoubleType) /
          col("n").cast(DoubleType)) / col("n").cast(DoubleType)
      // greatest(·,0): double rounding can put varP at -epsilon for
      // perfectly regular gaps; sqrt(-eps)=NaN buckets differently in
      // different engines, while sqrt(0)=0 lands in bucket 0 everywhere
      per.withColumn("cv", round(sqrt(greatest(varP, lit(0.0))) / mean, 6))
        .withColumn("bucket",
          least(floor(col("cv") * 10).cast(LongType), lit(19L)))
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
    }),

    // interpolated Kneser-Ney bigram probabilities (the LM behind
    // CCNet-style perplexity filtering): five exact integer counts
    // per bigram, one fixed per-row double tree, no float sums
    "t28_kneser_ney" -> ((s, dir) =>
      TextAnalysis.knBigram(t(s, dir, "documents"),
        minCount = 3L, discount = 0.75)),

    // PMI collocations (Church & Hanks 1990): bigrams whose parts
    // co-occur far above independence — the classic phrase-mining /
    // tokenizer-seeding signal. All counts are integer aggregates;
    // pmi = ln((c_xy·N²)/(N_big·c_x·c_y)) is one fixed double tree
    // (identical operand order in the oracle), rounded to 6 dp;
    // bounded top-20 via TakeOrdered
    "t20_pmi" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(split(trim(col("text")), "\\s+").as("ts"))
      val uni = toks.select(explode(col("ts")).as("tok"))
        .filter(length(col("tok")) > 0)
      val cu = uni.groupBy("tok").agg(count(lit(1)).as("c"))
      val nUni = uni.agg(count(lit(1)).as("n_uni"))
      val big = toks.filter(size(col("ts")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ts) - 2)," +
            " i -> named_struct('x', ts[i], 'y', ts[i + 1]))")).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
      val cb = big.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val nBig = big.agg(count(lit(1)).as("n_big"))
      cb.filter(col("c_xy") >= 10)
        .join(cu.toDF("x", "c_x"), "x")
        .join(cu.toDF("y", "c_y"), "y")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
        .select(col("x"), col("y"), col("c_xy"),
          round(log((col("c_xy").cast("double") * col("n_uni") * col("n_uni"))
            / (col("n_big").cast("double") * col("c_x") * col("c_y"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y")).limit(20)
    }),

    // apply a linear quality classifier (hashed bag-of-words, the
    // fastText shape): integer-valued stand-in weights synthesized
    // deterministically so the oracle replays the model bit-for-bit;
    // production swaps in trained weights with the identical plan
    "t15_classifier" -> ((s, dir) => {
      val w = Array.tabulate(64)(b =>
        (((b.toLong * 2654435761L + 104729L) % 4294967296L)
          - 2147483648L).toDouble)
      TextAnalysis.classifierScore(t(s, dir, "documents"), w,
        norm = 2147483648.0)
    }),

    // CCNet perplexity partitioning: unigram-LM scores → approx-
    // percentile tier thresholds (bounded sketch state, no global
    // sort) → head/middle/tail. The oracle checks the contract the
    // sketch must meet: every tier holds 20-47% of the corpus
    "t16_ppl_buckets" -> ((s, dir) => {
      val b = TextAnalysis.pplBuckets(t(s, dir, "documents"), buckets = 3)
      val n = b.agg(count(lit(1)).as("n_total"))
      b.groupBy("bucket_id").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(n))
        .select(
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            col("bucket_id")).as("ppl_bucket"),
          (col("n") >= col("n_total") * 0.2 &&
            col("n") <= col("n_total") * 0.47).as("bucket_ok"))
    }),

    // ORC round-trip: write documents as ORC (built-in columnar
    // alternative), read it back through the CLI's PathTable source,
    // aggregate — the format path proved end-to-end vs the parquet
    // oracle
    "q49_orc_roundtrip" -> ((s, dir) => {
      val out = scratchDir("orc")
      t(s, dir, "documents").write.mode("overwrite").orc(out)
      sources.PathTable.read(s, out, "orc")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // XML roundtrip (Spark 4 native XML datasource): write nation as
    // row-tagged XML, read it back with schema inference, aggregate —
    // the interchange format legacy feeds still arrive in. Values
    // re-infer as BIGINT/STRING; the oracle casts to match
    "q97_xml_roundtrip" -> ((s, dir) => {
      val out = scratchDir("xml")
      t(s, dir, "nation").write.mode("overwrite")
        .option("rowTag", "nation").format("xml").save(out)
      s.read.option("rowTag", "nation").format("xml").load(out)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          concat_ws("|", sort_array(collect_list("n_name"))).as("names"))
        .select(col("n_regionkey").cast(LongType).as("n_regionkey"),
          col("n_nations"), col("names"))
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // the available columns (lateness = shipped >60 days after the
    // order date; no receipt/commit dates in this schema). The Spark
    // plan is the DE-CORRELATED form — EXISTS(another supplier) ⟺
    // per-order distinct-supplier count > 1, NOT EXISTS(another LATE
    // supplier) ⟺ per-order late-supplier count = 1 — two aggregates
    // and key joins instead of two correlated subqueries per row; the
    // DuckDB oracle runs the textbook EXISTS/NOT-EXISTS formulation,
    // proving the rewrite exact on real data
    "q98_tpch_q21" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // persisted: both the wait-filter and the per-order late-count
      // derive from it — without the persist Spark re-executes the
      // lineitem⋈orders late join once per consumer. Lifecycle
      // (ADVICE r7): released by Engine.releaseCaches, which every
      // harness main (Bench/Verify/ScalingBench) calls after each
      // query — queries() builders stay side-effect-free and never
      // self-unpersist (the consumer decides when the result is done).
      val late = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
        // eager (r10): the wait-filter join and the late-count
        // aggregate otherwise race a lazy cache and each re-runs the
        // lineitem~orders join
        .transform(operators.Materialize.eager)
      val nsup = l.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct("l_suppkey").as("nsup"))
      val nlate = late.groupBy("ok").agg(count(lit(1)).as("nlate"))
      late.join(nsup, "ok").join(nlate, "ok")
        .filter(col("nsup") > 1 && col("nlate") === 1)
        .groupBy("sk").agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier")),
          col("sk") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    }),

    // TPC-H Q15 (top supplier): quarterly revenue CTE + a max-equality
    // scalar subquery — the aggregate feeding the comparison is
    // |suppliers|-sized, so the max broadcasts as a 1-row build side
    // and revenue stays DECIMAL through the equality (double compare
    // of independently-rounded sums would be engine-dependent)
    "q99_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2000-04-01").cast(TimestampType))
        .groupBy("l_suppkey")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * (lit(1).cast(DecimalType(3, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
          .as("rev"))
        // |suppliers|-sized; eagerly materialized (r10) so the max
        // scalar subquery and the equality join share one
        // materialization of the quarter's lineitem scan+aggregate
        .transform(operators.Materialize.eager)
      val mx = rev.agg(max("rev").as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q18 (large-volume customers): the IN-over-HAVING subquery
    // expressed as an aggregate join — per-order quantity totals are
    // |orders|-sized, filtered to the >250 tail before touching
    // customer; quantities sum as DECIMAL (doubles reorder)
    "q100_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(12, 2)))
          .as("total_qty"))
        .filter(col("total_qty") > 250)
      val o = t(s, dir, "orders")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("total_qty").cast(DoubleType).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    }),

    // TPC-H Q14 (promotion effect): one month of lineitem × broadcast
    // part, the CASE'd revenue share as a ratio of two DECIMAL sums —
    // the only float step is the final division, rounded to 6
    "q101_tpch_q14" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2))
          - col("l_discount").cast(DecimalType(4, 2)))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("2000-02-01").cast(TimestampType))
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).as("promo"),
          sum(rev).as("total"))
        .select(round(lit(100.0) * col("promo").cast(DoubleType)
          / col("total").cast(DoubleType), 6).as("promo_revenue_pct"))
    }),

    // TPC-H Q19 (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs over (brand, size, quantity) triplets rides the
    // broadcast-join filter — one lineitem scan, part broadcasts,
    // no union-of-three-scans rewrite needed
    "q102_tpch_q19" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2))
          - col("l_discount").cast(DecimalType(4, 2)))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#13"
            && col("l_quantity").between(1, 11)
            && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#19"
            && col("l_quantity").between(10, 20)
            && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#2"
            && col("l_quantity").between(20, 30)
            && col("p_size").between(1, 15)))
        .agg(sum(rev).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q4 (order priority checking): EXISTS(late lineitem) per
    // order — the correlated EXISTS carries a NON-equi conjunct
    // (l_shipdate > o_orderdate + 45d, our schema's analog of
    // l_commitdate < l_receiptdate), so the decorrelation is a LEFT
    // SEMI join keyed on the equi column with the inequality folded
    // into the join condition: one pass over each table, shuffle on
    // l_orderkey, no per-row subquery. Oracle runs the textbook
    // correlated EXISTS.
    "q103_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast(TimestampType)
          && col("o_orderdate") < lit("2000-04-01").cast(TimestampType))
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, o("o_orderkey") === l("l_orderkey")
          && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 45 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q13 (customer order-count distribution): the correlated
    // scalar COUNT per customer decorrelates to ONE outer join + two
    // aggregations — count(o_orderkey) over the left join counts 0
    // for order-less customers exactly like the scalar subquery's
    // COUNT(*) over an empty set (the priority filter stands in for
    // the reference benchmark's o_comment NOT LIKE, which our schema
    // lacks). Distribution group-by is |distinct counts|-sized.
    "q104_tpch_q13" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    // AVG(l_quantity) per part decorrelates to a |parts|-sized
    // aggregate broadcast back onto the scan — quantities are
    // integer-valued doubles, so sum/count is bit-exact in any order
    // and the 0.2·avg threshold is engine-independent; revenue sums
    // as DECIMAL (double sums reorder).
    "q105_tpch_q17" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val avgq = l.groupBy(col("l_partkey").as("pk"))
        .agg(avg("l_quantity").as("avg_qty"))
      l.join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#13")),
          col("l_partkey") === col("p_partkey"))
        .join(avgq, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType) / lit(7.0)).as("avg_yearly"))
    }),

    // TPC-H Q22 (global-customer-sales): acctbal above the global
    // positive mean AND NOT EXISTS recent orders. The scalar mean is a
    // 1-row aggregate (broadcast at any corpus size); NOT EXISTS is a
    // LEFT ANTI join on custkey. The mean is computed as exact
    // DECIMAL sum → double ÷ exact count so the boundary comparison
    // can't flip between engines (a reordered double sum could).
    // c_nationkey stands in for the benchmark's phone-prefix country
    // code, which our schema lacks.
    "q106_tpch_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01").cast(TimestampType))
        .select("o_custkey")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(DecimalType(12, 2)))
          .cast(DoubleType) / count(lit(1))).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("totacctbal"))
        .orderBy("cntrycode")
    }),

    // schema evolution across ingest epochs: epoch 2 adds a column;
    // mergeSchema unions the footers (epoch-1 rows read NULL for it)
    // and the epoch= path layout becomes a prunable partition column —
    // the append-only-lake reality at 100 TB, where rewriting old
    // epochs to the new schema is not an option
    "q60_schema_evolution" -> ((s, dir) => {
      // one JVM-wide temp dir, CLEARED on every invocation (ADVICE r5
      // + review): a fixed hash-keyed path could inherit stale epoch
      // files that mergeSchema silently folds in, while a fresh dir
      // per call leaks a parquet dir and a shutdown hook every bench/
      // soak iteration — so: single dir, single exit hook, per-call
      // wipe before the epoch writes
      val out = evoDir
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars") % 5).as("quality"))
        .write.mode("overwrite").parquet(s"$out/epoch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          count(col("quality")).as("n_with_quality"),
          coalesce(sum(col("quality")), lit(0L)).as("sum_quality"))
    }),

    // cross-doc common-phrase (boilerplate) detection: word trigrams in
    // ≥5 docs, top-200 by document frequency
    "p5_boilerplate" -> ((s, dir) =>
      TextAnalysis.commonPhrases(t(s, dir, "documents"),
        n = 3, minDocs = 5, topK = 200)),

    // hopping (sliding) window agg — beyond the reference's tumble; one
    // Expand pass (len/hop fan-out), no self-join; SQL TVF form in
    // DialectSpec
    "q35_hop" -> ((s, dir) =>
      Streams.hop(t(s, dir, "events"), "ts", "1 hour", "30 minutes")
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("n"))),

    // embedding L2-normalize + int8 quantization, exploded to (id, i, q)
    // long form for exact cross-engine hashing
    "s5_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"))),

    // JL random projection 64→16: deterministic arithmetic sign matrix,
    // zero-state codegen map pass; long form for exact hashing
    "s6_random_projection" -> ((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), outDim = 16)),

    // native session windows (gap merge) — the windowing-operator form
    // of q28's SQL sessionization; one shuffle on user_id, state merges
    // sorted runs per key
    "q36_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n"))),

    // approx-percentile sketch contract: the one-pass bounded-memory
    // quantile sketch must land between the exact 45th and 55th
    // percentiles; exact median rounded for cross-engine hashing
    "q39_approx_percentile" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(
          round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
          expr("approx_percentile(value, 0.5, 10000)").as("ap"),
          expr("percentile(value, 0.45)").as("lo"),
          expr("percentile(value, 0.55)").as("hi"))
        .select(col("event_type"), col("exact_p50"),
          (col("ap") >= col("lo") && col("ap") <= col("hi"))
            .as("approx_ok"))),

    // KMV (bottom-k) distinct sketch per event type: k smallest
    // portable hashes -> (k-1)·M/h_k estimate, exact below k. Unlike
    // HLL (q38) the sketch itself is deterministic and engine-
    // portable, so the oracle replays h_k bit-for-bit — and bottom-k
    // sketches compose under set algebra (q64)
    "q63_kmv_sketch" -> ((s, dir) =>
      operators.Sketches.kmvEstimate(t(s, dir, "events"),
        "user_id", "event_type", k = 64)),

    // KMV set algebra: union sketch of click-users and purchase-users
    // -> Jaccard from the both-sides fraction -> intersection
    // cardinality, the estimate HLL cannot give without inclusion-
    // exclusion error blowup. All top-k shapes are TakeOrdered
    "q64_kmv_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      operators.Sketches.kmvIntersect(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", k = 64)
    }),

    // ordered-funnel analysis (signup -> click -> purchase, each step
    // strictly after the previous, all within 7 days of first signup).
    // Three filtered per-user min-aggregates chained by equi-joins on
    // user_id: each stage shuffles only the users still in the funnel
    // (monotonically shrinking), every event_type filter is pushed to
    // the scan, and no per-user event arrays are collected — the shape
    // that survives power-law users at 100 TB where the ClickHouse
    // windowFunnel-style collect_list-per-user form does not
    "q65_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id")
        .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.select(lit(1).as("stage"), col("user_id"))
        .union(s2.select(lit(2).as("stage"), col("user_id")))
        .union(s3.select(lit(3).as("stage"), col("user_id")))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
    }),

    // cohort retention: users cohorted by the week of their first
    // signup; a (cohort_week, weeks_since) cell counts distinct users
    // active that many weeks later. Two shuffles total — one per-user
    // min, one distinct on (user, week) — then a user_id equi-join;
    // the weeks_since arithmetic is exact (both sides Monday-truncated
    // dates, so the day diff is always a multiple of 7)
    "q66_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).cast(DateType)
          .as("cohort_week"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).cast(DateType).as("w")).distinct()
      cohort.join(active, "user_id")
        .select(col("user_id"), col("cohort_week"),
          (datediff(col("w"), col("cohort_week")) / 7).cast(IntegerType)
            .as("weeks_since"))
        .filter(col("weeks_since") >= 0)
        .groupBy("cohort_week", "weeks_since")
        .agg(countDistinct("user_id").as("n_active"))
        // DATE rendered as a string: the comparator normalizes DATE
        // and TIMESTAMP asymmetrically across engines
        .select(date_format(col("cohort_week"), "yyyy-MM-dd")
          .as("cohort_week"), col("weeks_since"), col("n_active"))
    }),

    // event-sequence Markov transition matrix (session path analysis):
    // per-user lag() pairs adjacent events, then one grouped count and
    // a prev-partitioned window normalizes rows into transition
    // probabilities. Both windows are partitioned (user_id / prev) —
    // no global sort anywhere — and p is a raw IEEE division of two
    // BIGINTs, bit-identical across engines without any rounding
    "q67_markov" -> ((s, dir) => {
      Engine.registerAll(s, dir)
      s.sql(
        """WITH seq AS (
          |  SELECT user_id, event_type,
          |    lag(event_type) OVER (PARTITION BY user_id
          |                          ORDER BY ts, event_id) AS prev
          |  FROM events),
          |c AS (
          |  SELECT prev, event_type AS curr, COUNT(*) AS n
          |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
          |SELECT prev, curr, n,
          |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev)
          |    AS DOUBLE) AS p
          |FROM c""".stripMargin)
    }),

    // market-basket co-occurrence (the A-priori candidate step):
    // part pairs bought in the same order, by support. Pair
    // generation is per-basket C(b,2) with b = basket size — bounded
    // by order width, never corpus-quadratic — via a key-partitioned
    // self-join on the order; support counting is one map-side-
    // combinable aggregate; top-20 is a TakeOrdered
    "q74_basket_pairs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.toDF("ok", "pa").join(li.toDF("ok", "pb"), "ok")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("support").desc, col("pa"), col("pb")).limit(20)
    }),

    // A/B experiment readout: per-metric Welch's t between variant
    // cohorts (user_id parity stands in for the assignment hash) —
    // counts and decimal-exact Σy/Σy² partials in ONE map-side-
    // combinable aggregate, then means/variances/t as a fixed double
    // tree replicated verbatim in the oracle. The experiment-analysis
    // shape that stays a single pass at any scale
    "q77_ab_test" -> ((s, dir) => {
      def ds(c: Column) = sum(round(c, 12).cast(DecimalType(38, 12)))
        .cast(DoubleType)
      val e = t(s, dir, "events").select(col("event_type"),
        (col("user_id") % 2 === 0).as("ctl"), col("value").as("y"))
      val ma = col("sa") / col("na")
      val mb = col("sb") / col("nb")
      val va = (col("qa") - col("sa") * col("sa") / col("na")) /
        (col("na") - 1)
      val vb = (col("qb") - col("sb") * col("sb") / col("nb")) /
        (col("nb") - 1)
      e.groupBy("event_type").agg(
          sum(when(col("ctl"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("ctl"), 1L).otherwise(0L)).as("nb"),
          ds(when(col("ctl"), col("y")).otherwise(lit(0.0))).as("sa"),
          ds(when(!col("ctl"), col("y")).otherwise(lit(0.0))).as("sb"),
          ds(when(col("ctl"), col("y") * col("y")).otherwise(lit(0.0)))
            .as("qa"),
          ds(when(!col("ctl"), col("y") * col("y")).otherwise(lit(0.0)))
            .as("qb"))
        .select(col("event_type"), col("na"), col("nb"),
          round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
          round((ma - mb) / sqrt(va / col("na") + vb / col("nb")), 6)
            .as("t_welch"))
    }),

    // 2-D Pareto skyline (Börzsönyi 2001): parts no other part beats
    // on BOTH price (min) and size (max) — the "best tradeoff" query.
    // Sweep-invariant form: one groupBy to per-price max-size, one
    // distributed prefix-max over the price order (Ranking machinery,
    // no single-task window), keep rows beating every cheaper price.
    // Prices compare as exact DECIMAL-derived integer cents; the
    // oracle is the independent quadratic NOT-EXISTS dominance test
    "q75_skyline" -> ((s, dir) =>
      operators.Ranking.skyline2d(
        t(s, dir, "part").select(
          (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("price_cents"),
          col("p_size")),
        xCol = "price_cents", yCol = "p_size")),

    // per-event-type trend: closed-form OLS of value over days since
    // a FIXED epoch (small x keeps decimal products narrow) — four
    // map-side-combinable sums per group, zero windows, zero
    // driver-side math; the t19 float treaty (12-dp rounding into
    // exact DECIMAL sums, one fixed double tree at the end)
    "q76_trend_ols" -> ((s, dir) => {
      def ds(c: Column) = sum(round(c, 12).cast(DecimalType(38, 12)))
        .cast(DoubleType)
      val e = t(s, dir, "events").select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01"))
          .cast(DoubleType).as("x"),
        col("value").as("y"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      e.groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("n"), ds(col("x")).as("sx"),
          ds(col("y")).as("sy"), ds(col("x") * col("y")).as("sxy"),
          ds(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n").cast("long").as("n_events"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6)
            .as("intercept"))
    }),

    // TPC-H Q3 (shipping priority, adapted: o_orderpriority stands in
    // for o_shippriority): the canonical fact-fact join with pushed
    // date filters on BOTH scan sides, a broadcast customer dim, and a
    // bounded top-10 (TakeOrdered). Revenue is the exact decimal
    // product sum (q5 treaty) so ordering can't split on float noise
    "q71_tpch_q3" -> ((s, dir) => {
      val cut = lit("1999-01-01").cast(TimestampType)
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * (lit(1).cast(DecimalType(3, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    }),

    // TPC-H Q10 (returned items): which customers returned the most
    // revenue last quarter — lineitem R-flag filter pushed to the
    // scan, one fact-fact join, broadcast customer+nation, top-20
    "q72_tpch_q10" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast(TimestampType)
          && col("o_orderdate") < lit("2000-04-01").cast(TimestampType))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * (lit(1).cast(DecimalType(3, 2))
              - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    // TPC-H Q8 (national market share): NATION_3's share of PROMO
    // revenue sold into ASIA per order-year. Two nation joins (one
    // per side of the trade), all dims broadcast, the share a single
    // division of two exact decimal sums — group keys never touch
    // floats, so the per-year rows hash identically across engines
    "q73_tpch_q8" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val nc = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val sp = t(s, dir, "supplier")
      val ns = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("s_nation"))
      val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2))
          - col("l_discount").cast(DecimalType(4, 2)))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(nc), c("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(ns), sp("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("s_nation") === "NATION_3", rev)).as("nat"),
          sum(rev).as("tot"))
        .select(col("o_year"),
          round(coalesce(col("nat"), lit(0)).cast(DoubleType)
            / col("tot").cast(DoubleType), 6).as("mkt_share"))
    }),

    // greedy maximum-coverage selection (Nemhauser 1978, the (1-1/e)
    // submodular greedy) — coverage-based diverse data selection:
    // k rounds, each one broadcast anti-filter of the token index
    // against the covered set (tiny, <= k·doc-vocab) + one count
    // aggregate + TakeOrdered(1). Serial depth = k by definition of
    // greedy; the oracle unrolls the same k rounds as CTEs
    "p40_coverage_select" -> ((s, dir) =>
      operators.Sampling.maxCoverageSelect(t(s, dir, "documents"), k = 5)),

    // multi-source BFS reachability (the TrustRank seed-distance
    // shape) on the p36 user graph: every vertex's minimum hop count
    // from the seed set (vertices ≡ 0 mod 97), depth-capped at 3 —
    // each level is one bounded-shuffle join + anti-join, state stays
    // partitioned. Output is the distance histogram
    "p41_bfs_hops" -> ((s, dir) => {
      val e = userGraphEdges(s, dir)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") % 97 === 0).distinct()
      Graph.bfsDistances(e, seeds, maxDepth = 3)
        .groupBy("dist").agg(count(lit(1)).as("n_vertices"))
    }),

    // robust per-source length profile: exact median + MAD + 3-MAD
    // outlier counts via value histograms (windows run over the
    // DISTINCT value domain per group, never the row count — the
    // scale-safe exact-median shape for integer columns). All-integer
    // until the final dyadic ÷2/÷4, so bit-exact vs DuckDB's native
    // median() — two independent implementations agreeing
    "p42_robust_stats" -> ((s, dir) =>
      operators.Stats.groupedMedianMad(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        groupCol = "source", valueCol = "n_chars")),

    // exact per-source length quartiles on the same histogram shape —
    // type-7 interpolation at dyadic fractions, so the engine's
    // distributed form and DuckDB's native quantile_cont agree
    // bit-for-bit (two independent implementations, like p42)
    "q78_grouped_quantiles" -> ((s, dir) =>
      operators.Stats.groupedQuantiles(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        groupCol = "source", valueCol = "n_chars",
        qs = Seq(1 -> 4, 2 -> 4, 3 -> 4))),

    // per-key EWMA (α = 1/2, 10-lag truncation) — the time-series
    // smoothing every monitoring pipeline runs, made ORDER-INDEPENDENT
    // exact: values as integer cents, weights as powers of two (a
    // left fold `acc/2 + x` — acc/2 is an exponent shift, never a
    // rounding), and every partial sum fits 53 bits (17-bit cents ×
    // ≤10 lags), so the double result is bit-identical in any engine
    // and under any partitioning. Frame windows are per-user (bounded,
    // scales with users); the denominator folds the same weights over
    // ones
    "q86_ewma" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("arr", collect_list("cents").over(w))
        .select(col("user_id"), col("event_id"),
          round(
            expr("aggregate(arr, CAST(0.0 AS DOUBLE)," +
              " (acc, x) -> acc / 2.0D + CAST(x AS DOUBLE))") /
            expr("aggregate(arr, CAST(0.0 AS DOUBLE)," +
              " (acc, x) -> acc / 2.0D + 1.0D)") / 100.0, 6)
            .as("ewma"))
    }),

    // the full SQL ranking-function family (rank / dense_rank /
    // percent_rank / cume_dist / ntile) in one window — demonstrated
    // over a BOUNDED relation (daily totals per type: cardinality =
    // types × days, independent of row count), so the per-partition
    // window never becomes the q44-style single-task scale hazard.
    // percent_rank and cume_dist are single divisions of identical
    // integers in both engines — bit-equal
    "q81_rank_family" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(dsum(col("value")).as("total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("total").desc, col("day"))
      daily.select(col("event_type"), col("day"), col("total"),
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rnk") <= 10)
    }),

    // data-contract audit (Deequ-style expectations): one row per
    // declared constraint with its violation count — referential
    // integrity via a distinct-key anti-join (never a row-level join),
    // ranges and null checks as single-pass conditional counts
    "p48_data_contract" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val orphans = o.select(col("o_custkey")).distinct()
        .join(t(s, dir, "customer").select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orders.o_custkey -> customer").as("check"),
          col("n").as("n_violations"))
      val scalarChecks = o.agg(
          sum(when(col("o_totalprice") <= 0 ||
            col("o_totalprice").isNull, 1L).otherwise(0L)).as("price"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("status"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("nulldate"))
      val unpivoted = scalarChecks.selectExpr(
        "stack(3, 'orders.o_totalprice > 0', price," +
          " 'orders.o_orderstatus in (O,F,P)', status," +
          " 'orders.o_orderdate not null', nulldate)" +
          " AS (`check`, n_violations)")
      orphans.union(unpivoted)
        .select(col("check"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    }),

    // Poisson bootstrap (Chamandy 2012 — THE resampling that scales:
    // classical bootstrap needs n draws per replicate, Poisson(1)
    // weights need one hash per row×replicate and map-side combine to
    // R output rows). 32 replicates of mean doc length; weights from
    // a permille hash against the Poisson(1) CDF (368/736/920/981).
    // The permille comes from a xorshift-multiply mix, NOT a bare
    // affine hash: affine forms make replicate r+1 a constant shift
    // of replicate r and equidistribute contiguous ids, which
    // UNDERSTATES the CI the bootstrap exists to estimate (measured:
    // n_eff std 4 vs the ~39 a real Poisson draw gives; the mix
    // restores P(same weight)=.307≈Σp², n_eff std 48, replicate-mean
    // spread within 7% of a true Poisson bootstrap). Deterministic,
    // so the oracle replays every draw
    "p49_poisson_bootstrap" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("r", explode(sequence(lit(0L), lit(31L))))
        .withColumn("x",
          expr("(doc_id * 2654435761 + r * 1500450271) % 4294967296"))
        .withColumn("x", expr("x ^ (x div 65536)"))
        .withColumn("x", expr("(x * 1500450271) % 4294967296"))
        .withColumn("pm", expr("(x ^ (x div 8192)) % 1000"))
        .withColumn("wt", when(col("pm") < 368, 0L)
          .when(col("pm") < 736, 1L).when(col("pm") < 920, 2L)
          .when(col("pm") < 981, 3L).otherwise(4L))
        .groupBy("r")
        .agg(sum("wt").as("n_eff"),
          sum(col("wt") * col("n_chars")).as("sc"))
        .select(col("r"), col("n_eff"),
          round(col("sc").cast(DoubleType) /
            col("n_eff").cast(DoubleType), 6).as("mean_chars"))),

    // deterministic grouped mode: the most frequent user per event
    // type, ties to the smallest user — one count aggregate plus one
    // min(struct) winner pick, no window over the full group
    "q79_grouped_mode" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(min(struct((-col("c")).as("nc"), col("user_id").as("u")))
          .as("w"))
        .select(col("event_type"), col("w.u").as("mode_user"),
          (-col("w.nc")).as("n"))),

    // exact per-group Pearson correlation: the five product sums are
    // DECIMAL-exact (2-dp inputs cast to DECIMAL first, so products
    // and sums never round), and the correlation is one fixed double
    // tree over them — replicated operand-for-operand in the oracle.
    // The one-pass shape of every feature-covariance scan
    "q80_grouped_corr" -> ((s, dir) => {
      val d = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
      val n = col("n").cast(DoubleType)
      def dbl(c: String) = col(c).cast(DoubleType)
      d.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((n * dbl("sxy") - dbl("sx") * dbl("sy")) /
            sqrt((n * dbl("sxx") - dbl("sx") * dbl("sx")) *
              (n * dbl("syy") - dbl("sy") * dbl("sy"))), 6).as("corr"))
    }),

    // population-stability-index drift detection (the ML-ops metric
    // behind "did the feature distribution move"): events split into
    // reference/current halves by id parity, value bucketed on exact
    // integer cents, add-1 smoothing over the PRESENT buckets, and
    // PSI = Σ (p−q)·ln(p/q) accumulated as rounded-decimal terms so
    // the 20-term sum is order-independent. PSI > 0.2 = drifted
    // (industry rule of thumb)
    "p50_psi_drift" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        (col("event_id") % 2 === 0).as("ref"),
        expr("least(CAST(round(value * 100) AS BIGINT) div 1000, 19)")
          .as("b"))
      val counts = e.groupBy("event_type", "b")
        .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("ref"), 1L).otherwise(0L)).as("cc"))
      val tot = counts.groupBy("event_type")
        .agg(sum("cr").as("nr"), sum("cc").as("nc"),
          count(lit(1)).as("nb"))
      val p = (col("cr") + 1).cast(DoubleType) /
        (col("nr") + col("nb")).cast(DoubleType)
      val q = (col("cc") + 1).cast(DoubleType) /
        (col("nc") + col("nb")).cast(DoubleType)
      counts.join(tot, "event_type")
        .withColumn("term", (p - q) * log(p / q))
        .groupBy("event_type")
        .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
          round(sum(round(col("term"), 12).cast(DecimalType(38, 12)))
            .cast(DoubleType), 6).as("psi"))
        .withColumn("drifted", col("psi") > 0.2)
    }),

    // t-closeness audit (Li 2007) on p28's quasi-groups — completes
    // the privacy trio (k-anonymity p28, l-diversity p47): a group
    // can be k-anonymous AND l-diverse yet still leak when its
    // sensitive distribution diverges from the corpus-wide one.
    // Categorical sensitive (source) → equal-distance EMD = half the
    // L1 distance. Exact integer arithmetic end-to-end: the per-cell
    // term is |gc·tn − tc·gn| (all BIGINT counts, < 2^53 so the final
    // single division is the same double in any engine). The source
    // grid reaches each group via a 1-row collect_list broadcast +
    // explode — never a group×source cartesian
    "p52_t_closeness" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"),
        expr("n_chars div 50").as("len_bucket"), col("source"))
      val cells = d.groupBy("lang", "len_bucket", "source")
        .agg(count(lit(1)).as("gc"))
      val groups = cells.groupBy("lang", "len_bucket").agg(sum("gc").as("gn"))
      val glob = d.groupBy("source").agg(count(lit(1)).as("tc"))
      val tot = d.agg(count(lit(1)).as("tn"))
      val srcList = glob.agg(sort_array(collect_list("source")).as("srcs"))
      val grid = groups.crossJoin(broadcast(srcList))
        .select(col("lang"), col("len_bucket"), col("gn"),
          explode(col("srcs")).as("source"))
      grid
        .join(cells, Seq("lang", "len_bucket", "source"), "left")
        .join(broadcast(glob), "source")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          abs(coalesce(col("gc"), lit(0L)) * col("tn") - col("tc") * col("gn")))
        .groupBy("lang", "len_bucket", "gn", "tn")
        .agg(sum("term").as("num"))
        .select(col("lang"), col("len_bucket"), col("gn").as("n_members"),
          round(col("num").cast(DoubleType) /
            (lit(2.0) * col("gn") * col("tn")), 9).as("t_dist"))
        .withColumn("close", col("t_dist") <= 0.2)
    }),

    // Jaro-Winkler record linkage: p43's corrupted catalog matched by
    // the codegen'd JaroWinklerSim kernel (rapidfuzz semantics,
    // differential-locked to DuckDB by 12k fixtures) — the linkage
    // metric that forgives transpositions; same blocked candidate
    // generation over the distinct-name domain, similarity rounded to
    // 9 decimals before threshold/ordering so selection is
    // float-noise-proof in any engine
    "p51_jaro_linkage" -> ((s, dir) => {
      val dirty = t(s, dir, "part").select(
        concat(
          expr("substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))"),
          expr("substring(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)"))
          .as("p_name"))
      operators.EntityResolution.resolveJaro(
        dirty, t(s, dir, "part").select(col("p_name")), "p_name",
        minSim = 0.9)
    }),

    // discrete tail quantiles (p50/p90/p99 — the latency-style
    // percentiles that must be ACTUAL data values): type-1 inverse
    // ECDF on the histogram shape, integer rank arithmetic, so any
    // rational fraction works — checked against DuckDB's native
    // quantile_disc (a third quantile convention independently
    // replicated, after type-7 in q78)
    "q83_quantile_disc" -> ((s, dir) =>
      operators.Stats.groupedQuantilesDisc(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        groupCol = "source", valueCol = "n_chars",
        qs = Seq(1 -> 2, 9 -> 10, 99 -> 100))),

    // record linkage: a deterministically-corrupted part catalog
    // (char at position partkey % len deleted) matched back to the
    // clean one by dual-key blocking + levenshtein over the
    // DISTINCT-NAME domain — candidate count is bounded by vocabulary,
    // not corpus rows, at every scale factor
    "p43_entity_resolution" -> ((s, dir) => {
      val dirty = t(s, dir, "part").select(
        concat(
          expr("substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))"),
          expr("substring(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)"))
          .as("p_name"))
      operators.EntityResolution.resolve(
        dirty, t(s, dir, "part").select(col("p_name")), "p_name")
    }),

    // zone-map pruning audit: the same orders rows laid out by
    // arrival (orderkey mod) vs by date, 64 zones each; per-zone
    // min/max orderdate decides which zones a mid-range date
    // predicate must scan. The measurement behind "sort your data":
    // identical rows, identical predicate, ~64x fewer zones read.
    // All arithmetic is integer days — exact in any engine.
    "p44_zonemap" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"))
      val bounds = o
        .agg(min("o_orderdate").as("d0"), max("o_orderdate").as("d1"))
        .withColumn("span", (datediff(col("d1"), col("d0")) + 1)
          .cast(LongType))
        .withColumn("lo", date_add(col("d0"),
          expr("CAST(span * 45 div 100 AS INT)")))
        .withColumn("hi", date_add(col("d0"),
          expr("CAST(span * 55 div 100 AS INT)")))
      val z = o.crossJoin(broadcast(bounds))
        .withColumn("day",
          datediff(col("o_orderdate"), col("d0")).cast(LongType))
        .withColumn("m", when(col("o_orderdate").between(col("lo"),
          col("hi")), 1L).otherwise(0L))
      def layout(name: String, zone: Column) =
        z.select(lit(name).as("layout"), zone.cast(LongType).as("zone"),
          col("o_orderdate"), col("lo"), col("hi"), col("m"))
      layout("arrival", pmod(col("o_orderkey"), lit(64)))
        .union(layout("date_sorted", expr("day * 64 div span")))
        .groupBy("layout", "zone")
        .agg(min("o_orderdate").as("zmin"), max("o_orderdate").as("zmax"),
          count(lit(1)).as("n"), sum("m").as("nm"),
          max("lo").as("lo"), max("hi").as("hi"))
        .withColumn("scanned",
          col("zmax") >= col("lo") && col("zmin") <= col("hi"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_zones"),
          sum(when(col("scanned"), 1L).otherwise(0L)).as("zones_scanned"),
          sum(when(col("scanned"), col("n")).otherwise(0L))
            .as("rows_scanned"),
          sum("nm").as("rows_matching"))
    }),

    // local clustering coefficient (Watts-Strogatz): triangle density
    // of each vertex's neighborhood on the p36 user graph — the only
    // float is one division of two integers, rounded to 6 dp
    "p37_clustering_coef" -> ((s, dir) =>
      Graph.clusteringCoefficient(userGraphEdges(s, dir))),

    // community detection: 3 rounds of deterministic synchronous
    // label propagation on the p36 user graph, reported as community
    // sizes (bounded output). The oracle unrolls the same 3 rounds as
    // chained CTEs — vote counts and the (count desc, label asc)
    // winner rule are integer-exact in both engines
    "p45_lpa_communities" -> ((s, dir) =>
      Graph.labelPropagation(userGraphEdges(s, dir), iters = 3)
        .groupBy("community").agg(count(lit(1)).as("n_nodes"))),

    // last-touch marketing attribution: each purchase credits the
    // user's most recent preceding non-purchase event within 3 days,
    // else 'direct'. LOCF via last_value(CASE…) IGNORE NULLS over a
    // per-user window (partitioned — bounded tasks at any scale); the
    // two LOCF columns ride the same total order (ts, event_id) and
    // the same predicate, so they always come from the same touch row
    "q70_attribution" -> ((s, dir) => {
      Engine.registerAll(s, dir)
      s.sql(
        """WITH tagged AS (
          |  SELECT user_id, ts, event_type,
          |    last_value(CASE WHEN event_type <> 'purchase'
          |               THEN event_type END) IGNORE NULLS
          |      OVER w AS touch_type,
          |    last_value(CASE WHEN event_type <> 'purchase'
          |               THEN ts END) IGNORE NULLS
          |      OVER w AS touch_ts
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING
          |                        AND 1 PRECEDING))
          |SELECT CASE WHEN touch_ts IS NULL
          |            OR touch_ts < ts - INTERVAL 3 DAY
          |            THEN 'direct' ELSE touch_type END AS channel,
          |  COUNT(*) AS n_purchases
          |FROM tagged WHERE event_type = 'purchase'
          |GROUP BY 1""".stripMargin)
    }),

    // EXACT equi-depth histogram (16 buckets over a 6M-row column at
    // sf1): global rank via Ranking.globalRowNumber — range
    // repartition + per-partition offsets, the distributed form of
    // row_number() OVER (ORDER BY ...) — then bucket = (rn−1)·16 div N
    // and one aggregate. No single-task window anywhere; prices ride
    // as exact DECIMAL-derived cents so bucket boundaries are
    // bit-identical across engines (no double truncate-vs-round)
    "q69_equidepth" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val (ranked, total) = operators.Ranking.globalRowNumber(li,
        Seq(col("cents"), col("l_orderkey"), col("l_linenumber")))
      ranked
        .select(expr(s"((rn - 1) * 16) div ${total}L").as("bucket"),
          col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("cents").as("lo"),
          max("cents").as("hi"))
    }),

    // count-min sketch heavy hitters: a depth×width counter matrix
    // built in ONE constant-state aggregate (vs exact per-key counts,
    // which shuffle every distinct key — the thing that doesn't fit
    // at 100 TB), then min-over-rows point estimates. Portable integer
    // hashes -> the oracle replays every cell bit-for-bit; `exact`
    // rides along as the in-query quality oracle (est >= exact always)
    "q68_cms_heavy" -> ((s, dir) =>
      operators.Sketches.cmsHeavyHitters(t(s, dir, "events"),
        "user_id", depth = 4, width = 256, topK = 10)),

    // HyperLogLog distinct-count contract: the sketch (one pass, tiny
    // fixed state per group — the 100 TB path where exact distinct
    // needs a full shuffle of the keys) must land within 10% of exact;
    // same in-query-contract oracle pattern as the ANN recall checks
    "q38_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(
          countDistinct("user_id").as("exact_users"),
          approx_count_distinct("user_id", 0.02).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users") * 0.1).as("approx_ok"))),

    // mergeable-sketch rollup (DataSketches HLL): per-(type, day)
    // sketch SHARDS are built once — the pre-aggregated rollup table a
    // 100 TB log keeps instead of raw user ids — then any read-time
    // regrouping is a cheap hll_union_agg over kilobyte blobs, never a
    // re-scan. q38 shows one-shot approx; this shows the re-aggregable
    // form (union of shard sketches == sketch of the union), checked
    // in-query against the exact distinct (HLL is deterministic).
    "q51_sketch_rollup" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val shards = e
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val merged = shards.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      e.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
        .join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05 + lit(1.0)).as("merge_ok"))
    }),

    // frequent-items sketch (Karp-Shenker-Papadimitriou single-pass
    // summary, merged across partitions): the sketch must cover every
    // item whose true relative frequency exceeds the support — the
    // exact side of the contract is the DuckDB-checkable oracle
    "q48_freq_items" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sketch = ev.stat.freqItems(Seq("event_type"), 0.1)
        .select(explode(col("event_type_freqItems")).as("item"))
      val truly = ev.groupBy(col("event_type").as("item"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("tot"))))
        .filter(col("n") >= col("tot") * 0.1)
      val missed = truly.join(sketch, Seq("item"), "left_anti")
      truly.agg(count(lit(1)).as("n_frequent"))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
        .select(col("n_frequent"), (col("n_missed") === 0).as("sketch_ok"))
    }),

    // sequence packing: hash-ordered docs per source assigned to
    // ~2000-char training shards by cumulative size (never split)
    "p10_pack" -> ((s, dir) =>
      operators.Sampling.packShards(t(s, dir, "documents"),
          "doc_id", "source", "n_chars", budget = 2000L)
        .select(col("doc_id"), col("source"), col("shard"))),

    // incremental-ingest dedup: a batch of 100 new docs + ~57 simulated
    // re-crawls (uppercased/punctuated corpus copies, which normalize
    // equalizes) anti-joined against the existing corpus
    "d12_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"), col("n_chars"))
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000).as("doc_id"),
            concat(upper(col("text")), lit("!!")).as("text"),
            col("n_chars")))
      Dedup.incrementalNew(batch, corpus)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    }),

    // Ingest-time half of the incremental near-dup pattern (VERDICT r9
    // task 3 split this out of d19_index_probe, whose bench row was
    // double-counting the write): shingle the corpus, band the minhash
    // signatures, and write the index bucketed by the probe-join key
    // (band, sig) — every later incremental probe joins with zero
    // Exchange on the index side, and the skew-cap aggregation rides
    // the same pre-partitioning. At 100 TB this is the difference
    // between reshuffling the corpus-sized index per daily batch and
    // never reshuffling it. Output = a DuckDB-replayable summary of
    // the stored table: corpus docs carrying >=1 surviving shingle,
    // each contributing exactly `bands` (4) index rows.
    "d19_index_build" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the shared shingle index, capped before the keyed shuffle
      // (see d3_minhash_lsh)
      val idx = operators.Materialize.eagerByKey(
        Dedup.shingleIndex(operators.Materialize.fanOut(docs), "doc_id",
          "text", n = 3, maxDocFreq = Some(50), tokens = true),
        col("shingle"))
      val banded = Dedup.bandSignatures(idx, k = 32, bands = 4)
      graft.sources.Sink.writeBucketed(banded.filter(!(col("id") % 10 === 0)),
        d19IndexTable(dir), Seq("band", "sig"), numBuckets = 8,
        sortCols = Seq("band", "sig"))
      s.table(d19IndexTable(dir))
        .agg(countDistinct("id").as("n_docs"),
          count(lit(1)).as("n_index_rows"))
    }),

    // incremental NEAR-dup ingest, probe half: the corpus-side band
    // index persists as the bucketed table d19_index_build wrote (once
    // per sf-dir at ingest — rebuilt here only when this entry runs
    // standalone); each arriving batch is shingled, banded and
    // equi-joined against it, so per-batch cost scales with the batch,
    // never the corpus. d12 is this pattern for exact dup; recall
    // contract vs the cross-side exact Jaccard pairs (d3 discipline —
    // the exact pair set is computed in-query because recall against
    // it IS the output the oracle checks).
    "d19_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the shared shingle index, capped before the keyed shuffle
      // (see d3_minhash_lsh)
      val idx = operators.Materialize.eagerByKey(
        Dedup.shingleIndex(operators.Materialize.fanOut(docs), "doc_id",
          "text", n = 3, maxDocFreq = Some(50), tokens = true),
        col("shingle"))
      val banded = operators.Materialize.eager(
        Dedup.bandSignatures(idx, k = 32, bands = 4)) // index write + probe + caps share it
      val isBatch = col("id") % 10 === 0
      // ingest wrote the bucketed index (d19_index_build runs first in
      // Bench/Verify name order); build it here only if probed
      // standalone so the entry stays self-contained
      if (!s.catalog.tableExists(d19IndexTable(dir)))
        graft.sources.Sink.writeBucketed(banded.filter(!isBatch),
          d19IndexTable(dir), Seq("band", "sig"), numBuckets = 8,
          sortCols = Seq("band", "sig"))
      val index = s.table(d19IndexTable(dir))
      val probe = banded.filter(isBatch)    // today's arriving batch
      // skew guard on BOTH sides: a degenerate signature shared by m
      // probe docs and n index docs yields m×n candidates — cap each
      // side like self-dedup banding caps the joint bucket
      def keepOf(side: DataFrame) =
        side.groupBy("band", "sig").agg(count(lit(1)).as("m"))
          .filter(col("m") <= 200).select("band", "sig")
      val cand = probe.join(keepOf(probe), Seq("band", "sig"))
        .select(col("id").as("pid"), col("band"), col("sig"))
        .join(index.join(keepOf(index), Seq("band", "sig"))
          .select(col("id").as("cid"), col("band"), col("sig")),
          Seq("band", "sig"))
        .select(least(col("pid"), col("cid")).as("id_a"),
          greatest(col("pid"), col("cid")).as("id_b"))
        .distinct()
      val exact = Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.8)
        .filter((col("id_a") % 10 === 0) =!= (col("id_b") % 10 === 0))
        .select("id_a", "id_b")
        // referenced twice (count + semi-join probe): materialize the
        // small pair list so the exact pipeline runs once (r10)
        .transform(operators.Materialize.eager)
      val found = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact"),
          (col("n_found").cast("double") / col("n_exact").cast("double")
            >= 0.5).as("recall_ok"))
    }),

    // shard export: one row per packed shard with the newline-joined
    // payload in deterministic pack order (the training-file write)
    "p11_export" -> ((s, dir) =>
      operators.Sampling.exportShards(t(s, dir, "documents"),
        "doc_id", "source", "n_chars", "text", budget = 2000L)),

    // per-language top-10 vocabulary: map-side-combined token counts,
    // rank window over vocab-sized data only
    "t8_vocab" -> ((s, dir) =>
      TextAnalysis.vocabTopK(t(s, dir, "documents"), k = 10)),

    // content-defined chunking dedup: boundaries fall where the
    // trailing 8-char hash ≡ 0 (mod 64), so chunks re-align across
    // insertions that would shift every fixed-grid chunk
    "d16_cdc_dedup" -> ((s, dir) =>
      operators.Dedup.cdcDedup(t(s, dir, "documents"))),

    // the full C4 output: corpus-wide chunk dedup + document
    // reassembly — cleaned docs rebuilt from surviving chunks,
    // fully-boilerplate docs vanish
    "p14_crossdoc_dedup" -> ((s, dir) =>
      operators.Dedup.crossDocDedupDocs(t(s, dir, "documents"))),

    // END-TO-END curation pipeline: langid gate → quality gate → exact
    // dedup (min-id representative) → sequence packing into training
    // shards. Composes four independently-verified stages in ONE plan:
    // both scoring gates are zero-shuffle projections fused into the
    // scan, dedup is one map-side-combinable hash aggregate, packing is
    // one bounded per-source window — the whole corpus crosses exactly
    // two shuffles at any scale, and Catalyst prunes unkept columns all
    // the way down to the parquet reader.
    "p15_c4_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val kept = d
        .filter(TextAnalysis.langId(col("text")) === col("lang")
          && TextAnalysis.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val uniq = Dedup.exact(kept, "doc_id", Seq("text"))
        .select(col("doc_id"), col("source"), col("n_chars"))
      operators.Sampling.packShards(uniq, "doc_id", "source", "n_chars",
          budget = 2000L)
        .select(col("doc_id"), col("source"), col("shard"))
    }),

    // C4-style chunk-level dedup: every 8-token chunk kept only at its
    // first corpus-wide occurrence (one shuffle keyed by chunk)
    "d11_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(t(s, dir, "documents"), chunkTokens = 8)),

    // token frequency spectrum (frequency-of-frequencies): hapax share
    // and Zipf head weight — two map-side-combinable aggregations
    "t10_freq_spectrum" -> ((s, dir) =>
      TextAnalysis.freqSpectrum(t(s, dir, "documents"))),

    // distributed BPE merge learning (tokenizer prep), BATCHED: 14
    // rounds x top-16 window of symbol-disjoint merges per round (~70
    // effective merges at sf0.1) — the driver-serial depth is rounds,
    // not merges: a 30k-merge vocab is ~2k serial jobs instead of 30k
    "t9_bpe" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), rounds = 14,
        window = 16)),

    // BPE tokenizer APPLICATION: per-doc token counts under the learned
    // merges — word-level memoization (encode the vocab, join the docs)
    "t12_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), rounds = 3,
        window = 8)),

    // per-doc n-gram novelty: fraction of a doc's distinct 3-gram
    // shingles appearing in no other doc (inverted index, no all-pairs)
    "t7_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyScores(t(s, dir, "documents"), n = 3)),

    // code-point Shannon entropy per doc: one codegen'd projection, no
    // explode/groupBy; rounded 6dp (cross-engine summation order)
    "t6_entropy" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"))),

    // token-budget-capped sampling: each source keeps hash-ordered docs
    // until its running char total exceeds the budget (source mixing)
    "p9_token_budget" -> ((s, dir) =>
      operators.Sampling.tokenBudgetSample(t(s, dir, "documents"),
          "doc_id", "source", "n_chars", budget = 4000L)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))),

    // weighted mixture sampling (data mixing): per-source keep rates
    // decided row-locally by the portable hash — zero shuffles, stable
    // under reruns and appends
    "p12_mixture" -> ((s, dir) =>
      operators.Sampling.mixtureSample(t(s, dir, "documents"),
          "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultWeight = 0.1)
        .select("doc_id", "source")),

    // keyed pseudonymization: identifiers -> sha2(key || value) hex —
    // irreversible without the key but deterministic, so joins across
    // datasets keyed the same way still line up (what redaction
    // destroys). Zero-shuffle projection; the contract here shows a
    // pseudonymized self-join still matching
    "p20_pseudonymize" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("event_id") < 500)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val p = operators.Pii.pseudonymize(e, Seq("user_id"), "k1")
      // group on the pseudonymous key: cardinality must equal the
      // original user cardinality (determinism ⇒ structure preserved)
      p.groupBy("user_id").agg(count(lit(1)).as("n"))
        .select(col("user_id").as("pseudo_user"), col("n"))
    }),

    // corpus-distribution divergence audit: per-source KL(P_source ||
    // P_corpus) over unigram distributions — the drift/selection
    // metric above t13's per-document DSIR weights. Terms rounded to
    // 9 dp and summed as DECIMAL so the reduction is order-independent
    // (the float discipline in the file header)
    "t17_kl_divergence" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val bySrc = toks.groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
      val srcTot = bySrc.groupBy("source").agg(sum("n_sw").as("n_s"))
      val glob = bySrc.groupBy("w").agg(sum("n_sw").as("n_w"))
      // global total from the |sources|-row aggregate, not a second
      // tokenize pass over the corpus
      val tot = srcTot.agg(sum("n_s").as("n"))
      bySrc.join(srcTot, "source").join(glob, "w")
        .crossJoin(broadcast(tot))
        .withColumn("p", col("n_sw").cast("double") / col("n_s").cast("double"))
        .withColumn("q", col("n_w").cast("double") / col("n").cast("double"))
        .withColumn("term",
          round(col("p") * log(col("p") / col("q")), 9)
            .cast(DecimalType(28, 9)))
        .groupBy("source")
        .agg(sum(col("term")).cast(DoubleType).as("kl"))
    }),

    // pairwise Jensen-Shannon divergence between source unigram
    // distributions (the symmetric, bounded companion to t17's KL —
    // the corpus-mixture drift readout). Only the vocabulary
    // INTERSECTION needs log terms: a word in one source only
    // contributes p·ln2 exactly, folded in closed form from the
    // common-mass totals (2 − ca/ta − cb/tb), so no full-outer join
    // over the union vocabulary. Per-word terms rounded to 9 then
    // decimal-summed (t17's determinism discipline). The pair universe
    // comes from a cross of the |sources|-row totals aggregate — NOT
    // from the intersection join — so a pair sharing zero vocabulary
    // still surfaces, with the correction term alone yielding the
    // correct JS = ln 2 (ADVICE r6)
    "t29_js_divergence" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val bySrc = toks.groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
      val srcTot = bySrc.groupBy("source").agg(sum("n_sw").as("n_s"))
      val a = bySrc.toDF("sa", "w", "na").join(srcTot.toDF("sa", "ta"), "sa")
      val b = bySrc.toDF("sb", "w", "nb").join(srcTot.toDF("sb", "tb"), "sb")
      val p = col("na").cast(DoubleType) / col("ta").cast(DoubleType)
      val q = col("nb").cast(DoubleType) / col("tb").cast(DoubleType)
      val common = a.join(b, Seq("w")).filter(col("sa") < col("sb"))
        .withColumn("term",
          round(p * log(lit(2.0) * p / (p + q)) +
            q * log(lit(2.0) * q / (p + q)), 9).cast(DecimalType(28, 9)))
        .groupBy("sa", "sb")
        .agg(sum("term").as("t_common"),
          sum("na").as("ca"), sum("nb").as("cb"))
      val pairs = srcTot.toDF("sa", "ta")
        .crossJoin(srcTot.toDF("sb", "tb"))
        .filter(col("sa") < col("sb"))
      pairs.join(common, Seq("sa", "sb"), "left")
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          round((coalesce(col("t_common"), lit(0).cast(DecimalType(28, 9)))
            .cast(DoubleType) +
            log(lit(2.0)) * (lit(2.0)
              - coalesce(col("ca"), lit(0L)).cast(DoubleType)
                / col("ta").cast(DoubleType)
              - coalesce(col("cb"), lit(0L)).cast(DoubleType)
                / col("tb").cast(DoubleType)))
            * 0.5, 6).as("js"))
    }),

    // SCD2 dimension merge: one full-outer join + a generator
    // projection versions the whole dimension in a single pass —
    // updates = changed segments (%10==0), a no-op echo (%10==5, must
    // NOT open a new version), and brand-new keys (+1000000)
    "p23_scd2_merge" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val dim = c.select(col("c_custkey").cast(LongType).as("key"),
        col("c_mktsegment").as("attr"), lit(0L).as("valid_from"))
      val updates =
        c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").cast(LongType).as("key"),
            lit("MOVED").as("attr"))
          .union(c.filter(col("c_custkey") % 10 === 5)
            .select(col("c_custkey").cast(LongType).as("key"),
              col("c_mktsegment").as("attr")))
          // FRESH keys are NEGATED custkeys (ADVICE r5): an additive
          // offset collides with real keys at sf >= 10 (custkey reaches
          // 1.5M), breaking merge2's one-row-per-key precondition;
          // negation is scale-proof at any SF
          .union(c.filter(col("c_custkey") % 25 === 0)
            .select((-col("c_custkey")).cast(LongType).as("key"),
              lit("FRESH").as("attr")))
      operators.Scd.merge2(dim, updates, batchTs = 100L)
    }),

    // incremental JOIN maintenance (the delta rule): with only the
    // fact side changing, Δ(F ⋈ D) = ΔF ⋈ D — the maintained result
    // appends the delta's join, never re-joining the base. At 100 TB
    // only the delta batch scans; the dimension broadcasts into it
    "p32_incremental_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      def joined(o: DataFrame): DataFrame = o
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("p"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("p"))
      joined(orders.filter(col("o_orderkey") % 7 =!= 0)) // "the base view"
        .unionByName(joined(orders.filter(col("o_orderkey") % 7 === 0)))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("p").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
    }),

    // materialized-view maintenance: yesterday's rollup absorbs a delta
    // batch by MERGING PARTIAL STATES (count + exact DECIMAL sum are
    // both associative) — the base fact data is never rescanned. The
    // oracle is the full recompute: merge(base, delta) must equal it
    "p24_incremental_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def partial(d: DataFrame): DataFrame = d.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("sv"))
      val base = partial(ev.filter(col("event_id") % 5 =!= 0))
      val delta = partial(ev.filter(col("event_id") % 5 === 0))
      base.union(delta).groupBy("event_type")
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast(DoubleType).as("sum_value"))
    }),

    // HITS hubs/authorities over the same derived host graph — the
    // complementary link-quality model to p21 (good hubs cite good
    // authorities); half-round max-normalization is a 1-row broadcast
    "p26_hits" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 17).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 13).cast("string")).as("dst"))
      Graph.hits(edges, iters = 2)
    }),

    // differentially-private stats release (Laplace mechanism, ε=1,
    // sensitivity 1): per-source counts + inverse-CDF noise seeded
    // from the portable poly_hash, so the "random" draw replays
    // exactly in the oracle (the s6 fixed-sign-pattern trick applied
    // to DP). Zero extra shuffles beyond the count agg
    "p27_dp_counts" -> ((s, dir) => {
      val c = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n"))
      val u = ((TextAnalysis.polyHash(col("source"), 31L, 1000000007L)
        % 1000000L).cast(DoubleType) + 0.5) / 1000000.0
      c.select(col("source"),
        round(col("n") + (-signum(u - 0.5))
          * log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6).as("dp_count"))
    }),

    // k-anonymity audit: quasi-identifier combos with fewer than k
    // members — the re-identification risk report a privacy review
    // runs before release. One hash aggregate; the violating set is
    // small by definition
    "p28_k_anonymity" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), expr("n_chars div 50").as("len_bucket"))
        .groupBy("lang", "len_bucket").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") < 5)),

    // l-diversity audit (Machanavajjhala 2007) on p28's quasi-groups:
    // k-anonymity alone leaks when a quasi-group's SENSITIVE value
    // (here: source) is homogeneous — count distinct sensitives per
    // group and flag the under-diverse ones. One aggregate, exact
    "p47_l_diversity" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), expr("n_chars div 50").as("len_bucket"),
          col("source"))
        .groupBy("lang", "len_bucket")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("lang"), col("len_bucket"), col("n_members"),
          col("n_sources"), (col("n_sources") >= 3).as("diverse"))),

    // reliability diagram (calibration curve) for a pseudo-classifier:
    // deterministic permille "predicted probability" per user vs the
    // observed click rate, in 10 prediction buckets. avg_pred is exact
    // (integer permille sums); the two rates are single divisions of
    // exact BIGINTs, rounded — the model-audit pass before
    // classifier-filtered data selection is trusted
    "p46_calibration" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          expr("(user_id * 2654435761) % 1000").as("pm"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("y"))
        .withColumn("bucket", expr("pm div 100"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("pm").as("spm"),
          sum("y").as("clicks"))
        .select(col("bucket"), col("n"), col("clicks"),
          round(col("spm").cast(DoubleType) /
            (col("n") * 1000).cast(DoubleType), 6).as("avg_pred"),
          round(col("clicks").cast(DoubleType) /
            col("n").cast(DoubleType), 6).as("click_rate"))),

    // per-source grouped QA audit — the same single-pass metric battery
    // as p22, keyed by source (the per-shard dataset-card table)
    "p25_profile_by_source" -> ((s, dir) =>
      Profile.auditBy(t(s, dir, "documents"), "source",
        Profile.documentMetrics("doc_id", "text", "lang",
          allowedLangs = Seq("en", "de", "fr", "es")))),

    // time-series regularization: snap observations to an hourly grid
    // (latest event per (user, hour) via max_by), generate each user's
    // full hour span, LOCF-fill the gaps with an IGNORE NULLS window —
    // the telemetry/feature-store resampling pass. Grid fan-out is
    // bounded by span-hours per key; the fill is one partitioned window
    "q59_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          round(col("value"), 2).as("v"), col("event_id"))
      val obs = ev.groupBy("user_id", "h")
        .agg(max_by(col("v"), col("event_id")).as("v"))
      val grid = obs.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("h")
      grid.join(obs, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
          col("v").isNotNull.as("observed"))
    }),

    // link-graph authority (PageRank over a derived host graph): the
    // domain-quality signal behind source weighting. Fixed-point
    // BIGINT ranks — every round is integer multiply/divide + an
    // associative long sum, so 3 damped rounds replay bit-exactly in
    // the unrolled oracle; one shuffle per round, localCheckpointed
    // state (the connectedComponents discipline)
    "p21_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 17).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7) % 13).cast("string")).as("dst"))
      Graph.pageRank(edges, iters = 3)
    }),

    // per-vertex triangle counts (graph clustering signal — link-farm
    // detection / community density in a crawl graph): degree-ordered
    // orientation bounds every pivot's wedge fan-out to O(sqrt(m))
    // even on power-law graphs; each triangle is enumerated exactly
    // once. The synthetic user graph keeps a CONSTANT average degree
    // (vertices = users, which scale with the corpus; ~66 events/user
    // at every sf), so the plan's cost grows linearly with data — the
    // fixed-modulus alternative saturates into a complete graph
    "p36_triangles" -> ((s, dir) =>
      Graph.triangles(userGraphEdges(s, dir))),

    // single-pass data-quality audit (the Deequ/expectations gate): all
    // metrics are one aggregate pass with map-side partials; constraint
    // metrics are violation counts (0 = holds); long-form output so the
    // audit table is schema-stable and mergeable across ingest batches
    "p22_profile" -> ((s, dir) =>
      Profile.audit(t(s, dir, "documents"),
        Profile.documentMetrics("doc_id", "text", "lang",
          allowedLangs = Seq("en", "de", "fr", "es")))),

    // Z-order (Morton) clustering value: interleaved bits of two
    // dimensions — rows close in z are close in BOTH columns, so
    // range-partition + sort on z before a write gives parquet files
    // whose min/max stats prune under filters on either dimension
    "p19_zorder" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          operators.Layout.zValue(col("user_id"),
            col("event_id") % 256, bits = 8).as("z"))),

    // custom physical operator (§2.12c, full depth): top-k per key via
    // TopKPerKeyNode -> TopKPerKeyStrategy -> partial/final
    // TopKPerKeyExec. Each input partition bounds rows per key to k
    // with a heap BEFORE the exchange, so the shuffle carries
    // <= k x keys x partitions rows — the map-side combine the
    // window-function idiom (shuffle all, sort all, keep k) lacks
    "q56_topk_per_key" -> ((s, dir) =>
      graft.plans.TopKPerKey(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), round(col("l_quantity"), 2).as("qty")),
        Seq("l_returnflag"),
        Seq(("qty", false), ("l_orderkey", true), ("l_linenumber", true)),
        k = 5)),

    // correlated scalar subquery in SELECT: Catalyst de-correlates it
    // into a left outer aggregate join — per-row subqueries never
    // execute row-at-a-time
    "q57_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_q57")
      t(s, dir, "customer").createOrReplaceTempView("customer_q57")
      s.sql("""SELECT n_name,
              |  (SELECT COUNT(*) FROM customer_q57 c
              |   WHERE c.c_nationkey = n.n_nationkey) AS n_cust
              |FROM nation_q57 n""".stripMargin)
    }),

    // higher-order array functions: transform / filter / aggregate /
    // zip_with over grouped arrays — all evaluated inside the row
    // projection (codegen'd lambdas), no UDF, no extra shuffle beyond
    // the grouping
    "q55_hof" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 500)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber").cast(LongType)))
          .as("ls"))
        .select(col("l_orderkey"),
          expr("to_json(transform(ls, x -> x * x))").as("squares"),
          expr("to_json(filter(ls, x -> x % 2 = 0))").as("evens"),
          expr("aggregate(ls, 0L, (acc, x) -> acc + x)").as("ln_sum"),
          expr("to_json(zip_with(ls, reverse(ls), (a, b) -> a + b))")
            .as("pal"))),

    // null-safe equi-join (<=>): NULL keys match each other instead of
    // vanishing — still a HASH-join key for Catalyst (EqualNullSafe),
    // not a degenerate theta join; the dimension side broadcasts
    "q54_null_safe_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null))
            .otherwise(col("o_custkey")).as("k"))
      val c = t(s, dir, "customer").filter(col("c_custkey") < 40)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, lit(null))
            .otherwise(col("c_custkey")).as("ck"))
      o.join(c, col("k") <=> col("ck"))
        .select(col("o_orderkey"), col("c_custkey"))
    }),

    // UNPIVOT (melt): wide per-row measures to long (metric, value)
    // rows — q42's inverse, a pure generator projection (the Expand
    // operator), no shuffle at any scale
    "q53_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("quantity"),
          round(col("l_discount"), 2).as("discount"),
          round(col("l_tax"), 2).as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("discount"), col("tax")),
          "metric", "value")),

    // recursive CTE (Spark 4's WITH RECURSIVE): hierarchy walk over the
    // implicit binary tree parent(id) = id DIV 2 — each level is one
    // self-join of the frontier against the base table, the iterative-
    // SQL shape (org charts, BOM explosion, graph reachability) that
    // DuckDB replays verbatim. Depth must equal floor(log2(id)).
    "q52_recursive_cte" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_rec52")
      s.sql("""WITH RECURSIVE tree AS (
              |  SELECT doc_id, CAST(0 AS BIGINT) AS depth
              |  FROM docs_rec52 WHERE doc_id = 1
              |  UNION ALL
              |  SELECT d.doc_id, t.depth + 1
              |  FROM docs_rec52 d JOIN tree t ON d.doc_id DIV 2 = t.doc_id)
              |SELECT doc_id, depth FROM tree""".stripMargin)
    }),

    // RAG-style overlapping chunking: fixed windows with stride overlap
    // as (doc_id, chunk_idx, chunk) rows — a pure generator projection
    // fused into the scan (no shuffle at any corpus size); the indexing
    // front of a retrieval pipeline
    "p18_rag_chunks" -> ((s, dir) => {
      val win = 64
      val stride = 48
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(sequence(lit(0),
            greatest(length(col("text")) - 1, lit(0)), lit(stride)))
            .as("start"),
          col("text"))
        .select(col("doc_id"),
          (col("start") / stride).cast(LongType).as("chunk_idx"),
          expr(s"substring(text, start + 1, $win)").as("chunk"))
    }),

    // snapshot diff (ingest audit): two corpus versions full-outer
    // joined on 64-bit content hashes — added/removed/changed/same per
    // id, only (id, hash) ever crossing the shuffle
    "p17_dataset_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 550)
      val nw = docs.filter(col("doc_id") >= 50)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, upper(col("text")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDiff(old, nw)
    }),

    // temperature-rebalanced mixture (mT5 α-sampling): keep rates
    // DERIVED from corpus counts (∝ count^(α−1)), one tiny count agg
    // broadcast back, then the same row-local hash keep as p12 — the
    // standard multilingual/domain flattening step
    "p16_temperature" -> ((s, dir) =>
      operators.Sampling.temperatureSample(t(s, dir, "documents"),
          "doc_id", "source", alpha = 0.5)
        .select("doc_id", "source")),

    // GROUPING SETS: the explicit-combination form of q22/q41's
    // rollup/cube — per-(flag,status), per-flag, and grand total in one
    // Expand pass
    // GROUPING() disambiguation: a NULL group key from the data vs a
    // NULL minted by the rollup lattice are different facts; the
    // grouping flags are the standard SQL way to tell them apart
    "q87_grouping_flags" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gf87")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  grouping(l_returnflag) AS g_flag,
              |  grouping(l_linestatus) AS g_status,
              |  COUNT(*) AS n
              |FROM li_gf87
              |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)
    }),

    // exact two-sample Kolmogorov-Smirnov distance between the value
    // distributions of two event types — the non-parametric drift
    // test next to p50's binned PSI. ECDF numerators are exact BIGINT
    // prefix sums over distinct values (no global window); max over
    // per-row IEEE terms is order-independent, so the statistic is
    // bit-exact across engines
    "q88_ks_test" -> ((s, dir) =>
      Evaluation.ksTwoSample(t(s, dir, "events"),
        valueCol = "value", groupCol = "event_type",
        groupA = "click", groupB = "purchase")),

    "q45_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs45")
      // two-level lattice (see q22/q41): the GROUPING SETS Expand runs
      // over the ~6 (flag, status) decimal partials, not the corpus
      s.sql("""WITH b45 AS (
              |  SELECT l_returnflag, l_linestatus,
              |    SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS sq,
              |    COUNT(*) AS n
              |  FROM li_gs45 GROUP BY 1, 2)
              |SELECT l_returnflag, l_linestatus,
              |  CAST(SUM(sq) AS DOUBLE) AS sum_qty,
              |  COALESCE(SUM(n), 0) AS n
              |FROM b45
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |  (l_returnflag), ())""".stripMargin)
    }),

    // value-RANGE window frame (q43 covers ROWS frames): per-order sum
    // of quantities within 5 units below each line's quantity —
    // decimal-exact so the frame sum hashes cross-engine; partitions
    // are order-sized (≤7 rows), so the window sort is bounded
    "q46_range_frame" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_rf46")
      s.sql("""SELECT l_orderkey, l_linenumber,
              |  CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) OVER (
              |    PARTITION BY l_orderkey
              |    ORDER BY CAST(round(l_quantity, 2) AS DECIMAL(18,2))
              |    RANGE BETWEEN 5.00 PRECEDING AND CURRENT ROW)
              |    AS DOUBLE) AS range_sum
              |FROM li_rf46""".stripMargin)
    }),

    // salted join: the explicit skew tool for power-law keys — the big
    // side's hot keys spread `factor` ways, the small side replicates;
    // the oracle is the PLAIN join, proving salting is result-identical
    "q47_salted_join" -> ((s, dir) =>
      operators.Skew.saltedJoin(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment")),
          Seq("o_custkey"), factor = 8)
        .groupBy("o_orderstatus", "c_mktsegment")
        .agg(count(lit(1)).as("n"))),

    // canonical-doc selection: cluster near-dups, keep each cluster's
    // largest member (ties → min id); singletons keep themselves
    "d10_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8, tokens = true, maxDocFreq = Some(50))
        .select("id_a", "id_b")
      Dedup.canonicalDocs(docs, pairs)
    }),

    // one-pipeline dedup: pair generation + connected components run
    // ONCE and the persisted labeling feeds BOTH the cluster report
    // (n_linked) and canonical-doc selection — the production
    // composition d7/d10 pay for twice when run as separate queries
    // (canonicalDocsFromLabels exists exactly for this reuse)
    "d14_dedup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8, tokens = true, maxDocFreq = Some(50))
        .select("id_a", "id_b")
      val labels = Dedup.connectedComponents(pairs) // persisted inside
      val linked = labels.groupBy(col("comp")).agg(count(lit(1)).as("n_linked"))
      val canon = Dedup.canonicalDocsFromLabels(docs, labels)
      canon
        .join(labels.toDF("kid", "kcomp"),
          canon("keep_doc_id") === col("kid"), "left")
        .withColumn("cluster", coalesce(col("kcomp"), col("keep_doc_id")))
        .join(linked.toDF("c2", "n_linked"), col("cluster") === col("c2"), "left")
        .select(col("cluster"), col("keep_doc_id"), col("n_members"),
          col("kept_chars"), coalesce(col("n_linked"), lit(0L)).as("n_linked"))
    }),

    // explicit window frame: 5-row trailing sum/count per user (ROWS
    // BETWEEN) — decimal-exact so frame arithmetic hashes cross-engine
    "q43_moving_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        sum(round(col("value"), 6).cast(DecimalType(18, 6))).over(w)
          .cast("double").as("mov_sum"),
        count(lit(1)).over(w).as("n_frame"))
    }),

    // correlated NOT EXISTS on the SQL surface: Catalyst decorrelates
    // to a broadcast/shuffled ANTI join (the q7 API shape) — never a
    // per-row subquery
    "q96_not_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v96")
      t(s, dir, "orders").createOrReplaceTempView("orders_v96")
      s.sql(
        """SELECT c.c_custkey, c.c_name FROM customer_v96 c
          |WHERE NOT EXISTS (SELECT 1 FROM orders_v96 o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_totalprice > 400000.0)""".stripMargin)
    }),

    // windowed DISTINCT cardinality (rolling variety: distinct event
    // types over the current + 4 preceding events per user) —
    // count(DISTINCT) OVER is not in Spark's grammar; the semantics
    // compose as size(collect_set() OVER). Frame is bounded (5 rows),
    // so per-row state is constant; window is key-partitioned
    "q95_window_distinct" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w))
          .cast(LongType).as("n_types"))
    }),

    // ranking functions: spend quartiles + percent_rank over per-user
    // totals. User cardinality grows with the corpus, so even this
    // pre-aggregated input must NOT go through a global (empty
    // partitionBy) window — that is a single-task sort. Instead rank
    // distributed via Ranking.globalRowNumber and derive ntile /
    // percent_rank arithmetically from (rn, N): SQL-standard ntile(4)
    // gives the first N mod 4 buckets ceil(N/4) rows and the rest
    // floor(N/4); percent_rank = (rn-1)/(N-1). Ties cannot occur
    // (user_id is a unique tiebreak), so rank == row_number here.
    "q44_ranking" -> ((s, dir) => {
      val totals = t(s, dir, "events").groupBy("user_id")
        .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2)))
          .cast("double").as("total"))
      val (ranked, n) = operators.Ranking.globalRowNumber(
        totals, Seq(col("total").desc, col("user_id")), "rn")
      val base = n / 4
      val rem = n % 4
      val cut = rem * (base + 1) // rows in the (base+1)-sized buckets
      val quartile =
        when(col("rn") <= cut,
          floor((col("rn") - 1) / (base + 1)).cast("long") + 1L)
        .otherwise(
          floor((col("rn") - 1 - cut) / math.max(base, 1L)).cast("long")
            + rem + 1L)
      ranked.select(col("user_id"),
        quartile.as("quartile"),
        round((col("rn") - 1).cast("double")
          / math.max(n - 1L, 1L).toDouble, 6).as("pct_rank"))
    }),

    // GLOBAL ranking without the single-task global window: range
    // repartition + per-partition offsets (operators.Ranking) — the
    // corpus-scale form of q44's bounded-input ranking. Identical to
    // row_number()/percent_rank() OVER (ORDER BY ...) by construction.
    "q50_global_rank" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("value"))
      val (ranked, total) = operators.Ranking.globalRowNumber(
        ev, Seq(col("value").desc_nulls_last, col("event_id")), "rn")
      ranked.select(col("event_id"), col("rn"),
        round((col("rn") - 1).cast("double")
          / math.max(total - 1L, 1L).toDouble, 6).as("pct_rank"))
    }),

    // PIVOT with an explicit value list (no extra distinct scan — the
    // 100 TB form; pivot-without-values collects distinct keys first).
    // Empty (bucket, type) cells pivot to NULL in Spark but COUNT(*)
    // FILTER gives 0 in the oracle — coalesce to 0 so the match holds
    // on any data distribution, not just ones where every cell is hit.
    "q42_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_bucket") +:
          types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    }),

    // CUBE: all grouping-set combinations — q22 covers ROLLUP, this
    // adds the full lattice. Two-level like q22: one corpus hash-agg to
    // (flag, status) decimal partials (~6 rows), then the 4-way cube
    // Expand runs over those partials, not the 6M-row scan (20.5 s →
    // sub-second at the 10× soak). Decimal partial sums re-aggregate
    // exactly; the double cast happens once at the end, as before.
    "q41_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__sq"),
          count(lit(1)).as("__n"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast(DoubleType).as("sum_qty"),
          coalesce(sum(col("__n")), lit(0L)).as("n"))),

    // binned range join: events joined to 20 overlapping 72h campaign
    // windows (36h spacing) — equi-join on day bins, not a nested loop
    "q37_range_join" -> ((s, dir) => {
      val campaigns = s.range(20).select(
        col("id").as("campaign_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 129600L)
          .as("start_ts"),
        timestamp_seconds(lit(1704067200L) + col("id") * 129600L + 259200L)
          .as("end_ts"))
      RangeJoin.rangeJoin(t(s, dir, "events"), "ts",
          campaigns, "start_ts", "end_ts")
        .groupBy("campaign_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
    }),

    // exact substring-span dedup (Lee et al.): doc pairs sharing ≥1
    // exact 8-token span, ranked by distinct shared spans (same df≤50
    // boilerplate cap as d2, replicated in the oracle)
    "d9_substring_dup" -> ((s, dir) =>
      Dedup.substringDupPairs(t(s, dir, "documents"), n = 8,
        maxDocFreq = Some(50))),

    // URL extraction + per-host stats (domain-frequency table for
    // blocklist filtering); URLs injected deterministically like p6
    "p8_urls" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/page/"), col("doc_id").cast("string"),
          lit(" and http://cdn"), (col("doc_id") % 5).cast("string"),
          lit(".example.org")).as("text"))
      TextAnalysis.urlHostStats(d)
    }),

    // URL canonicalization + URL-keyed dedup: crawler-style messy URLs
    // (mixed-case scheme/host, default ports, www., tracking params,
    // trailing slash, fragments) injected deterministically, folded to
    // canonical form, then grouped — the normalize-before-dedup pass of
    // a web pipeline. Zero-shuffle projection + one hash aggregate
    "p13_url_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http"),
          lit("://"),
          when(col("doc_id") % 2 === 1, "WWW.").otherwise(""),
          lit("Site"), (col("doc_id") % 10).cast("string"),
          lit(".Example.COM"),
          when(col("doc_id") % 3 === 0,
            when(col("doc_id") % 2 === 0, ":443").otherwise(":80"))
            .otherwise(""),
          lit("/Page/"), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 4 === 0, "/").otherwise(""),
          lit("?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
          lit("&utm_campaign=x#sec"), (col("doc_id") % 5).cast("string"))
          .as("url"))
      d.select(col("doc_id"),
          TextAnalysis.urlCanonicalize(col("url")).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
    }),

    // Gopher-style quality rules: one codegen'd projection, no shuffle
    "t5_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"))),

    // PII detect + redact. The synthetic corpus has no PII, so the query
    // first derives a text column with deterministic doc_id-keyed PII
    // (email, IP, phone) — the oracle replays the same derivation — then
    // counts and redacts it. Zero-shuffle codegen'd regex projection.
    "p6_pii" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(".")).as("text"))
      Pii.scan(d)
    }),

    // exact distributed percentiles (linear interpolation, DuckDB
    // quantile_cont semantics) per event type — beyond the reference's
    // aggregate set; Spark's percentile is a partial-merge aggregate,
    // so the shuffle carries per-group sketch state, not rows
    "q34_percentiles" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(avg(col("value")), 6).as("mean"))),

    // benchmark decontamination: Bloom-prefiltered shingle overlap of the
    // corpus (source<>'src0') against a held-out benchmark (source='src0');
    // exact result — the Bloom phase only prunes the shuffle
    "d8_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.scores(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, tokens = true)
    }),

    // fuzzy decontamination: near-dup (not just overlapping) corpus docs
    // vs the held-out benchmark — Bloom-prefiltered cross-corpus Jaccard
    "d15_fuzzy_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.fuzzyPairs(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, threshold = 0.8, tokens = true)
    }),

    // semantic (embedding-space) decontamination — the leakage rung
    // shingle overlap misses: eval set = every 50th vector, corpus =
    // the rest; the corpus crosses ZERO shuffles (broadcast eval matrix
    // + codegen'd vec_dot over one scan; see AuditPlans allowlist)
    "d20_semantic_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontaminate.semanticScores(
        emb.filter(col("vec_id") % 50 =!= 0),
        emb.filter(col("vec_id") % 50 === 0), threshold = 0.35)
    }),

    // multimodal: binary payload + typed metadata (SQL-checkable slice)
    "m1_media_meta" -> ((s, dir) =>
      Multimodal.asMediaTable(t(s, dir, "documents"))
        .select(col("doc_id"), octet_length(col("media")).cast(LongType).as("n_bytes"),
          col("mime"), col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"))),

    // multimodal: batched per-partition feature extraction (stubbed codec)
    "m2_media_features" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"))
      Multimodal.extractFeatures(s, media).toDF()
        .select("doc_id", "n_bytes", "checksum")
    }),

    // multimodal: frame sampling (every stride-th fixed-size chunk of
    // the payload becomes a frame row — the video-frame shape)
    "m3_media_frames" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"))
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .select(col("doc_id"), col("frame_idx").cast(LongType).as("frame_idx"),
          octet_length(col("frame_bytes")).cast(LongType).as("frame_len"))
    }),

    // multimodal: REAL javax.imageio codec round trip, hash-verified —
    // encode a solid-gray PNG whose dims/level derive from doc_id,
    // decode it back, bilinear-resize to half size, decode again. PNG
    // is lossless and a constant image is resize-invariant, so the
    // oracle predicts every decoded value arithmetically; any codec
    // regression (dims, color model, scaler) breaks the hash.
    "m4_media_decode" -> ((s, dir) => {
      import s.implicits._
      fan(t(s, dir, "documents").select(col("doc_id").cast(LongType)))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (id % 64 + 16).toInt
            val h = (id % 48 + 16).toInt
            val g = (id % 256).toInt
            val png = Multimodal.encodeSolidPng(w, h, g)
            val d = Multimodal.decodeImage(png).get
            val half = Multimodal
              .resizeImageBytes(png, math.max(w / 2, 1), math.max(h / 2, 1)).get
            val r = Multimodal.decodeImage(half).get
            (id, d.width.toLong, d.height.toLong, math.round(d.meanLuma),
              r.width.toLong, r.height.toLong, math.round(r.meanLuma))
          }
        }
        .toDF("doc_id", "dec_w", "dec_h", "dec_luma",
          "rs_w", "rs_h", "rs_luma")
    }),

    // audio: REAL RIFF/WAV codec round trip — 16-bit mono PCM encoded
    // from a deterministic triangle-ish waveform, parsed back through
    // the strict chunk-walking decoder; header fields and
    // integer-exact sample features (peak, abs-energy) are predicted
    // arithmetically by the oracle, so any parser regression (chunk
    // walk, endianness, sign handling) breaks the hash
    "m6_audio_decode" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 100 + 50).toInt
            val sr = (8000 + (id % 3) * 4000).toInt
            val samples = Array.tabulate(n)(i =>
              ((id * 31 + i * 17) % 2048 - 1024).toShort)
            val d = Multimodal.decodeWav(
              Multimodal.encodePcm16Wav(sr, samples)).get
            (id, d.sampleRate.toLong, d.nSamples.toLong,
              d.peak.toLong, d.sumAbs)
          }
        }
        .toDF("doc_id", "sample_rate", "n_samples", "peak", "sum_abs")
    }),

    // header-only metadata scan: IHDR fields without pixel decode —
    // the binary-column audit that must never inflate image data
    "m7_png_header" -> ((s, dir) => {
      import s.implicits._
      fan(t(s, dir, "documents").select(col("doc_id").cast(LongType)))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (id % 64 + 16).toInt
            val h = (id % 48 + 16).toInt
            val png = Multimodal.encodeSolidPng(w, h, (id % 256).toInt)
            val (pw, ph, depth, ctype) = Multimodal.pngHeader(png).get
            (id, pw.toLong, ph.toLong, depth.toLong, ctype.toLong)
          }
        }
        .toDF("doc_id", "width", "height", "bit_depth", "color_type")
    }),

    // ISO-BMFF (MP4) header-only metadata: real box walk (ftyp brand,
    // mvhd timescale/duration, tkhd dimensions; unknown boxes skipped)
    // over synthesized containers — the compressed-video audit path
    // that needs no codec because the container layer is pure bytes
    "m9_mp4_header" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val timescale = 1000L * (id % 3 + 1)
            val duration = id % 5000 + 1000
            val w = (id % 320 + 64).toInt
            val h = (id % 240 + 48).toInt
            val m = Multimodal.mp4Header(
              Multimodal.encodeMp4(timescale, duration, w, h)).get
            (id, m.brand, m.timescale, m.duration,
              m.duration * 1000 / m.timescale, m.width.toLong,
              m.height.toLong, m.nTopBoxes.toLong)
          }
        }
        .toDF("doc_id", "brand", "timescale", "duration", "duration_ms",
          "width", "height", "n_top_boxes")
    }),

    // MP3 frame-header scan: walk MPEG-1 Layer III frames (4-byte
    // header fully determines frame length), skipping a leading ID3v2
    // tag — duration/bitrate metadata without decoding a single sample
    "m10_mp3_scan" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          val bitrates = Array(128, 160, 192, 224, 256)
          val rates = Array(44100, 48000, 32000)
          it.map { id =>
            val br = bitrates((id % 5).toInt)
            val sr = rates((id % 3).toInt)
            val nFrames = (id % 30 + 5).toInt
            val m = Multimodal.mp3Scan(Multimodal.encodeMp3(
              br, sr, nFrames, id3Bytes = (id % 50).toInt)).get
            (id, m.nFrames.toLong, m.bitrateKbps.toLong,
              m.sampleRate.toLong, m.totalSamples * 1000 / m.sampleRate)
          }
        }
        .toDF("doc_id", "n_frames", "bitrate_kbps", "sample_rate",
          "duration_ms")
    }),

    // image-text pair filtering (the LAION-style curation pass): real
    // header scans give dims, the caption side gives token counts,
    // and pairs survive only with sane aspect (1:2..2:1, checked by
    // integer cross-multiplication — no float), min side >= 32 px and
    // 3..80 caption tokens. One 1-1 join of the two per-doc passes
    "m12_pair_filter" -> ((s, dir) => {
      import s.implicits._
      val bpps = Array(1, 4, 8, 24)
      val dims = t(s, dir, "documents").select(col("doc_id")
          .cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            if (id % 2 == 0) {
              val bytes = Multimodal.encodeGif(
                (id % 200 + 10).toInt, (id % 150 + 10).toInt, (id % 8).toInt)
              val (w, h, _) = Multimodal.gifHeader(bytes).get
              (id, w.toLong, h.toLong)
            } else {
              val bytes = Multimodal.encodeBmp((id % 300 + 8).toInt,
                (id % 100 + 8).toInt, bpps((id % 4).toInt))
              val (w, h, _) = Multimodal.bmpHeader(bytes).get
              (id, w.toLong, h.toLong)
            }
          }
        }.toDF("doc_id", "w", "h")
      val caps = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(filter(split(trim(col("text")), "\\s+"),
          tk => length(tk) > 0)).cast(LongType).as("toks"))
      caps.join(dims, "doc_id")
        .withColumn("keep",
          col("h") <= col("w") * 2 && col("w") <= col("h") * 2 &&
            least(col("w"), col("h")) >= 32 &&
            col("toks").between(3, 80))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("source"), col("n_pairs"), col("n_kept"),
          round(col("n_kept").cast(DoubleType) /
            col("n_pairs").cast(DoubleType), 6).as("keep_rate"))
    }),

    // TIFF header-only scan in BOTH byte orders (II little / MM big —
    // the endianness trap the format is famous for): dims + bits from
    // the first IFD's tag walk, strip data never read
    "m13_tiff_header" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val le = id % 2 == 0
            val bytes = Multimodal.encodeTiff((id % 400 + 12).toInt,
              (id % 260 + 12).toInt, (1 << (id % 4).toInt).toInt, le)
            val (w, h, bps) = Multimodal.tiffHeader(bytes).get
            (id, if (le) "II" else "MM", w.toLong, h.toLong, bps.toLong)
          }
        }
        .toDF("doc_id", "byte_order", "width", "height", "bits_per_sample")
    }),

    // WebP canvas dims from the container header only — VP8X extended
    // header (even ids) and VP8L lossless packed header (odd ids);
    // round-trip through the fixture writers, arithmetic oracle
    "m14_webp_header" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val (w0, h0) = ((id % 300 + 1).toInt, (id % 200 + 1).toInt)
            val bytes =
              if (id % 2 == 0) Multimodal.encodeWebpVp8x(w0, h0)
              else Multimodal.encodeWebpVp8l(w0, h0)
            val (variant, w, h) = Multimodal.webpHeader(bytes).get
            (id, variant, w.toLong, h.toLong)
          }
        }
        .toDF("doc_id", "variant", "width", "height")
    }),

    // JPEG/EXIF header scan: SOF0/SOF2 dims + component count +
    // progressive flag from the marker walk, EXIF orientation (tag
    // 274) from the APP1 TIFF block — both TIFF byte orders exercised,
    // a COM segment skipped, entropy data never touched. Completes the
    // header-scan family (m9-m15) with the one ubiquitous format it
    // lacked
    "m16_jpeg_exif" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val bytes = Multimodal.encodeJpegExif(
              (id % 480 + 1).toInt, (id % 360 + 1).toInt,
              (id % 8 + 1).toInt, id % 3 == 0, id % 2 == 0)
            val (w, h, nc, prog, orient) = Multimodal.jpegHeader(bytes).get
            (id, w.toLong, h.toLong, nc.toLong, prog, orient.toLong)
          }
        }
        .toDF("doc_id", "width", "height", "components", "progressive",
          "orientation")
    }),

    // ID3v2 text frames + MP4 sample-table descent (VERDICT r7 task 7):
    // per row, an ID3v2.3-or-.4-tagged MP3 (v3 = Latin-1 text + BE32
    // frame sizes, v4 = UTF-8 + syncsafe — both decoder paths hit every
    // run) and an MP4 whose codec fourcc lives four boxes deep
    // (moov→trak→mdia→minf→stbl→stsd). Encode-then-decode with an
    // arithmetic oracle, the m16 discipline: both scans are pure byte
    // walks that never touch audio frames or sample data.
    "m17_id3_mp4_tree" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val major = if (id % 2 == 0) 3 else 4
            val mp3 = Multimodal.encodeId3v2(major,
              Seq("TIT2" -> s"title $id", "TPE1" -> s"artist ${id % 7}",
                "TALB" -> s"album ${id % 5}"),
              Multimodal.encodeMp3(128, 44100, 1))
            val (ver, frames) = Multimodal.id3v2TextFrames(mp3).get
            val fm = frames.toMap
            val codec = (id % 3) match {
              case 0 => "avc1"; case 1 => "hvc1"; case _ => "mp4v"
            }
            val mp4 = Multimodal.encodeMp4Tree(1000, id % 90000 + 1000,
              640, 360, codec)
            (id, ver.toLong, fm("TIT2"), fm("TPE1"), fm("TALB"),
              Multimodal.mp4CodecFourcc(mp4).get)
          }
        }
        .toDF("doc_id", "id3_version", "title", "artist", "album", "codec")
    }),

    // REAL compressed-audio decode: IMA ADPCM (WAV format 0x11), the
    // 4:1 lossy codec whose bitstream is pure integer tables — encode
    // a deterministic nibble stream per doc, container round-trip
    // through the RIFF writer/parser, run the full stateful decode
    // (step table, index adjust, clamps), and emit integer features.
    // The oracle replays the ENTIRE state machine sample-by-sample in
    // a recursive CTE, so any decoder divergence (table entry, clamp
    // edge, nibble order, sign bit) breaks the hash.
    "m18_adpcm_decode" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 100 + 50).toInt
            val sr = (8000 + (id % 3) * 4000).toInt
            val pred0 = ((id * 31) % 2048 - 1024).toShort
            val idx0 = (id % 89).toInt
            val codes = Array.tabulate(n)(k =>
              ((id * 7 + k * 13) % 16).toByte)
            val wav = Multimodal.encodeImaAdpcmWav(sr, pred0, idx0, codes)
            val (rate, samples) = Multimodal.decodeImaAdpcmWav(wav).get
            var peak = 0; var sumAbs = 0L
            samples.foreach { v =>
              val a = math.abs(v.toInt)
              if (a > peak) peak = a
              sumAbs += a
            }
            (id, rate.toLong, samples.length.toLong, peak.toLong, sumAbs,
              samples.last.toLong)
          }
        }
        .toDF("doc_id", "sample_rate", "n_samples", "peak", "sum_abs",
          "last_sample")
    }),

    // G.711 µ-law/A-law decode (WAV tags 7/6): the telephony companding
    // codecs ASR corpora arrive in — stateless integer expansion per
    // byte, so the oracle replays the exact ITU formulas over the same
    // deterministic byte stream with list_transform (no recursion).
    "m19_g711_decode" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 80 + 40).toInt
            val data = Array.tabulate(n)(i =>
              ((id * 11 + i * 29) % 256).toByte)
            val wav = Multimodal.encodeG711Wav(8000, aLaw = id % 2 != 0, data)
            val (rate, samples, aLaw) = Multimodal.decodeG711Wav(wav).get
            var peak = 0; var sumAbs = 0L
            samples.foreach { v =>
              val a = math.abs(v.toInt)
              if (a > peak) peak = a
              sumAbs += a
            }
            (id, if (aLaw) "alaw" else "ulaw", rate.toLong,
              samples.length.toLong, peak.toLong, sumAbs,
              samples.head.toLong, samples.last.toLong)
          }
        }
        .toDF("doc_id", "law", "sample_rate", "n_samples", "peak",
          "sum_abs", "first_sample", "last_sample")
    }),

    // ASR-prep resample: G.711 decode (µ-law 8 kHz on even ids, A-law
    // 44.1 kHz on odd) then linear-interp to 16 kHz — the exact ×2
    // upsample and the fractional 441→160 downsample paths both run
    // every batch. Integer-exact end to end: truncating division in
    // the engine, `//` in the oracle (DuckDB truncates toward zero on
    // signed numerators — measured, not assumed), so sum/peak/first/
    // last pin every output sample.
    "m21_resample_16k" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 80 + 40).toInt
            val data = Array.tabulate(n)(i =>
              ((id * 11 + i * 29) % 256).toByte)
            val src = if (id % 2 == 0) 8000 else 44100
            val wav = Multimodal.encodeG711Wav(src, aLaw = id % 2 != 0, data)
            val (rate, samples, _) = Multimodal.decodeG711Wav(wav).get
            val out = Multimodal.resampleLinear(samples, rate, 16000)
            var peak = 0L; var sumAbs = 0L
            out.foreach { v =>
              val a = math.abs(v.toLong)
              if (a > peak) peak = a
              sumAbs += a
            }
            (id, rate.toLong, out.length.toLong, peak, sumAbs,
              out.head.toLong, out.last.toLong)
          }
        }
        .toDF("doc_id", "src_rate", "n_out", "peak", "sum_abs",
          "first_out", "last_out")
    }),

    // WARC crawl-container ingest (operators.Warc): per doc a 3-record
    // WARC member (warcinfo + request + response, ISO 28500 framing) is
    // ENCODED deterministically — the response block is a full HTTP/1.1
    // message whose body is the document text, so bodies routinely
    // contain newlines and can contain the literal text `WARC/1.0`;
    // length-based framing must never be fooled by content. The engine
    // then PARSES the member back (record walk + HTTP block split) and
    // emits one row per record. The oracle re-encodes every record as a
    // DuckDB string and measures it: `file_bytes` equality pins every
    // CRLF of the framing, `block_len`/`body_len` pin Content-Length
    // round-trips, `http_status` pins the HTTP status-line split.
    // Scale shape: stateless per-row mapPartitions, zero shuffle.
    "m22_warc_records" -> ((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      t(s, dir, "documents").select(col("doc_id").cast(LongType), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, text) =>
            val file = operators.Warc.encodeFile(Seq(
              operators.Warc.Fixture.warcinfoRecord(id * 3),
              operators.Warc.Fixture.requestRecord(id, id * 3 + 1),
              operators.Warc.Fixture.responseRecord(id, id * 3 + 2,
                text)))
            val recs = operators.Warc.parseFile(file).get
            val total = file.length.toLong
            recs.zipWithIndex.map { case (r, i) =>
              val http =
                if (r.header("WARC-Type").contains("response"))
                  operators.Warc.parseHttp(r.block)
                else None
              (id, i.toLong, r.header("WARC-Type").orNull,
                r.header("WARC-Target-URI"),
                r.block.length.toLong,
                http.flatMap(_.status).map(_.toLong),
                http.map(_.body.length.toLong),
                total)
            }
          }
        }
        .toDF("doc_id", "rec_idx", "warc_type", "uri", "block_len",
          "http_status", "body_len", "file_bytes")
    }),

    // WebVTT subtitle cue extraction (operators.Subtitles): per doc a
    // VTT track is CONSTRUCTED in pure Column algebra — optional cue
    // identifier lines (i%2==0), cue settings after the end timestamp
    // (i%4==0), multi-line payloads (i%3==0), payload text sliced from
    // the document (newlines flattened so framing can't be forged) —
    // then PARSED back by the cue-model walk: header block dropped,
    // timing line found on line 1 or 2 by the ` --> ` arrow,
    // timestamps re-derived by string arithmetic (never reusing the
    // input integers). The oracle recomputes every statistic from the
    // construction arithmetic alone. Zero UDFs, zero shuffle — one
    // codegen'd projection.
    "m23_vtt_cues" -> ((s, dir) => {
      import operators.Subtitles
      val id = col("doc_id").cast(LongType)
      val ids = id.cast(StringType)
      val nCues = (id % 7 + 2).cast(IntegerType)
      val cueArr = transform(sequence(lit(0), nCues - 1), i => {
        val iL = i.cast(LongType)
        val istr = i.cast(StringType)
        val start = iL * 3000L + id % 997L
        val end = start + 800L + (iL * 37L % 1200L)
        val slice = regexp_replace(
          col("text").substr((i * 17 + 1).cast(IntegerType),
            (lit(10) + i % 5).cast(IntegerType)),
          "[\\n\\r]", " ")
        val line1 = concat(lit("w"), istr, lit(":"), slice)
        concat(
          when(i % 2 === 0,
            concat(lit("cue-"), ids, lit("-"), istr, lit("\n")))
            .otherwise(lit("")),
          Subtitles.vttTimestamp(start), lit(" --> "),
          Subtitles.vttTimestamp(end),
          when(i % 4 === 0, lit(" align:start")).otherwise(lit("")),
          lit("\n"), line1,
          when(i % 3 === 0, concat(lit("\n[x"), istr, lit("]")))
            .otherwise(lit("")))
      })
      val vtt = concat(lit("WEBVTT - doc "), ids, lit("\n\n"),
        array_join(cueArr, "\n\n"))
      fan(t(s, dir, "documents"))
        .select(id.as("doc_id"), Subtitles.parseCues(vtt).as("cues"))
        .select(col("doc_id"),
          size(col("cues")).cast(LongType).as("n_cues"),
          size(filter(col("cues"), c => c.getField("has_id")))
            .cast(LongType).as("n_with_id"),
          element_at(col("cues"), 1).getField("start_ms")
            .as("first_start"),
          element_at(col("cues"), -1).getField("end_ms").as("last_end"),
          aggregate(col("cues"), lit(0L),
            (acc, c) => acc + c.getField("end_ms") -
              c.getField("start_ms")).as("total_dur"),
          aggregate(col("cues"), lit(0L),
            (acc, c) => acc + length(c.getField("text")))
            .as("n_payload_chars"))
    }),

    // WebDataset tar shards (operators.Tar): docs are grouped into
    // BOUNDED shards (bucket = doc_id/16 → ≤16 docs regardless of SF —
    // shard COUNT scales with data, shard SIZE doesn't), each shard
    // encoded as a POSIX ustar archive with two members per sample
    // (NNNNNNNN.txt + NNNNNNNN.cls, the WebDataset basename-grouping
    // convention), then PARSED back: magic + checksum verified per
    // header, sizes from octal fields, member data offsets from the
    // 512-block walk. The oracle replays every member's byte offset as
    // a window prefix-sum over the same block arithmetic — any
    // disagreement in header size, padding, or member order breaks
    // rows. Scale shape: one shuffle (the bounded groupBy), then
    // shard-parallel encode/parse with zero further exchanges.
    "m24_tar_webdataset" -> ((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      t(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("text"),
          col("lang"), col("source"))
        .withColumn("bucket", (col("doc_id") / lit(16)).cast(LongType))
        .groupBy(col("source"), col("bucket"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"),
          col("lang")))).as("docs"))
        .as[(String, Long, Seq[(Long, String, String)])]
        .flatMap { case (src, bucket, ds) =>
          val members = ds.flatMap { case (id, text, lang) =>
            Seq((f"$id%08d.txt", text.getBytes(UTF_8)),
              (f"$id%08d.cls", lang.getBytes(UTF_8)))
          }
          val tar = operators.Tar.encode(members)
          val parsed = operators.Tar.parse(tar).get
          val shardBytes = tar.length.toLong
          val nSamples =
            parsed.map(_.name.takeWhile(_ != '.')).distinct.size.toLong
          parsed.map { m =>
            (src, bucket, m.name, m.size, m.dataOffset, shardBytes,
              nSamples)
          }
        }
        .toDF("source", "bucket", "name", "size", "data_offset",
          "shard_bytes", "n_samples")
    }),

    // .warc.gz member walk (operators.Gzip): the Common Crawl layout —
    // each WARC record is its OWN gzip member, members concatenated,
    // so member boundaries are the crawl's random-access index. Per
    // doc, a warcinfo + response record pair (m22's exact construction
    // and record-ids) is gzip'd per-record via the JDK encoder, then
    // the engine re-walks the concatenation: full RFC 1952 header
    // grammar, raw-deflate inflate, CRC32 + ISIZE trailer verified
    // against the decompressed bytes, and each member's plain bytes
    // re-parsed as a WARC record. Compressed sizes are
    // implementation-defined (never asserted); the oracle pins the
    // DECOMPRESSED record lengths via m22's string arithmetic, and
    // `walk_exact` (member offsets/lengths tile the blob exactly) +
    // crc/isize booleans pin the walk itself.
    "m25_warc_gzip" -> ((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      t(s, dir, "documents").select(col("doc_id").cast(LongType),
          col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, text) =>
            val r1 = operators.Warc.Fixture.warcinfoRecord(id * 3)
            val r3 = operators.Warc.Fixture.responseRecord(id,
              id * 3 + 2, text)
            val gz = operators.Gzip.compress(r1) ++
              operators.Gzip.compress(r3)
            val ms = operators.Gzip.members(gz).get
            // the walk must tile the blob: offsets/lengths adjacent,
            // total equals the blob length
            val walkExact = ms.length == 2 && ms(0).offset == 0L &&
              ms(1).offset == ms(0).compLen &&
              ms(0).compLen + ms(1).compLen == gz.length.toLong
            ms.zipWithIndex.map { case (m, i) =>
              val rec = operators.Warc.parseFile(m.plain).get.head
              (id, i.toLong, m.plain.length.toLong,
                rec.header("WARC-Type").orNull,
                rec.block.length.toLong, m.crcOk, m.isizeOk, walkExact)
            }
          }
        }
        .toDF("doc_id", "member_idx", "plain_len", "warc_type",
          "block_len", "crc_ok", "isize_ok", "walk_exact")
    }),

    // OGG page walk (RFC 3533, Multimodal.oggPages): per doc an OGG
    // stream is ENCODED (one page per packet, 255-byte lacing with the
    // spec's trailing-0 rule for exact multiples — packet sizes sweep
    // 1..600 so single-, two- and three-segment lacings all occur),
    // then PARSED back: magic/version checked, every page's CRC
    // recomputed with OGG's own unreflected 0x04c11db7 CRC-32 (a PNG
    // CRC table would fail every page), packets reassembled from the
    // lacing state machine, BOS/EOS flags and sequence numbers
    // verified. The oracle replays page/packet counts and byte totals
    // from the lacing arithmetic: page bytes = 27 + (size//255 + 1) +
    // size. Scale shape: stateless per-row mapPartitions, zero shuffle.
    "m26_ogg_pages" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 5 + 2).toInt
            val packets = Seq.tabulate(n) { i =>
              val sz = (((id * 7 + i * 13) % 600) + 1).toInt
              Array.tabulate(sz)(j => ((id + i * 31 + j) % 256).toByte)
            }
            val granules = Seq.tabulate(n)(i => (i + 1) * 960L)
            val serial = (id % 100000).toInt
            val ogg = Multimodal.encodeOgg(serial, packets, granules)
            val pages = Multimodal.oggPages(ogg).get
            val pktLens = Multimodal.oggPacketLengths(pages)
            val allCrc = pages.forall(_.crcOk)
            val bosEos = (pages.head.headerType & 2) == 2 &&
              (pages.last.headerType & 4) == 4 &&
              pages.tail.forall(p => (p.headerType & 2) == 0) &&
              pages.init.forall(p => (p.headerType & 4) == 0)
            val seqOk = pages.zipWithIndex.forall { case (p, i) =>
              p.seqNo == i && p.serial == serial
            }
            (id, pages.length.toLong, pktLens.length.toLong, pktLens.sum,
              pages.last.granule, ogg.length.toLong, allCrc, bosEos,
              seqOk)
          }
        }
        .toDF("doc_id", "n_pages", "n_packets", "total_payload",
          "last_granule", "file_bytes", "all_crc_ok", "bos_eos_ok",
          "seq_ok")
    }),

    // MP3 Xing/Info VBR header (Multimodal.mp3XingInfo): the
    // first-frame metadata block that turns duration from a
    // full-stream frame walk into one multiply. Files are built with
    // a tag frame (Xing on even ids, Info on odd) + n audio frames;
    // the scan re-reads the tag through the real side-info offset
    // arithmetic (mono MPEG-1 → 17 bytes) and mp3Scan independently
    // counts n+1 physical frames. Oracle: frame-length/duration
    // integer arithmetic — duration_ms = n·1152·1000/rate truncating.
    "m29_mp3_xing" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val rate = Array(44100, 48000, 32000)((id % 3).toInt)
            val br = Array(128, 192, 64, 256)((id % 4).toInt)
            val n = (id % 30 + 5).toInt
            val frameLen = 144000 * br / rate
            val total = (n + 1).toLong * frameLen
            val xing = Multimodal.encodeMp3XingFrame(br, rate,
              vbr = id % 2 == 0, frames = n.toLong, totalBytes = total)
            val audio = Multimodal.encodeMp3(br, rate, n)
            val file = xing ++ audio
            val (tag, frames, nBytes, durMs) =
              Multimodal.mp3XingInfo(file).get
            val scanned = Multimodal.mp3Scan(file).get
            (id, tag, frames.get, nBytes.get, durMs,
              scanned.nFrames.toLong, file.length.toLong)
          }
        }
        .toDF("doc_id", "tag", "xing_frames", "xing_bytes",
          "duration_ms", "scan_frames", "file_bytes")
    }),

    // FLAC metadata-block walk (Multimodal.flacMetaBlocks): the
    // mixed-endianness trap done for real — block headers and
    // SEEKTABLE entries are big-endian, but the VORBIS_COMMENT
    // interior is little-endian (the Vorbis spec embedded verbatim);
    // a single-endianness reader passes STREAMINFO and garbles every
    // tag. Comments derive from doc columns, seekpoints from modulus
    // schedules; the oracle replays counts, byte totals (vendor len +
    // 4+len per comment + 18 per seekpoint + headers), and the last
    // seekpoint sample from the construction arithmetic.
    "m30_flac_meta" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id").cast(LongType), col("lang"), col("source"))
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, lang, source) =>
            val comments = Seq(
              "TITLE" -> s"Doc $id", "ARTIST" -> source,
              "LANGUAGE" -> lang) ++
              (if (id % 2 == 0) Seq("ALBUM" -> s"Set ${id % 10}")
               else Nil)
            val nSeek = (id % 6 + 1).toInt
            val seeks = Seq.tabulate(nSeek)(k =>
              (k.toLong * 4096L, k.toLong * 1000L + id % 7, 4096))
            val flac = Multimodal.encodeFlacMeta(44100, 2, 16,
              id * 100 + 1, vendor = "graft 1.0", comments = comments,
              seekpoints = seeks)
            val (types, vendor, cs, sp) =
              Multimodal.flacMetaBlocks(flac).get
            (id, types.mkString(","), vendor, cs.length.toLong,
              cs.map { case (k, v) => k.length + 1 + v.length }.sum.toLong,
              sp.length.toLong, sp.last._1, flac.length.toLong)
          }
        }
        .toDF("doc_id", "block_types", "vendor", "n_comments",
          "comment_chars", "n_seek", "last_seek_sample", "file_bytes")
    }),

    // ZIP central-directory walk (operators.Zip): the archive is
    // written by the JDK's OWN ZipOutputStream (STORED entries, fixed
    // DOS mtime) and read back by the independent byte walk — a real
    // third-party-writer cross-check, unlike the mirrored
    // encoder/decoder fixtures. EOCD scan, directory entries, local
    // header existence at each claimed offset, and CRC agreement with
    // a recompute over the source bytes. Oracle: STORED layout
    // arithmetic — 30+name local headers, 46+name central entries,
    // 22-byte EOCD.
    "m31_zip_directory" -> ((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      t(s, dir, "documents")
        .select(col("doc_id").cast(LongType), col("text"), col("lang"))
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, text, lang) =>
            val members = Seq((f"$id%08d.txt", text.getBytes(UTF_8)),
              (f"$id%08d.cls", lang.getBytes(UTF_8)))
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            members.foreach { case (n, d) =>
              val e = new java.util.zip.ZipEntry(n)
              e.setMethod(java.util.zip.ZipEntry.STORED)
              e.setSize(d.length.toLong)
              val c = new java.util.zip.CRC32(); c.update(d)
              e.setCrc(c.getValue)
              e.setTime(315532800000L)
              z.putNextEntry(e); z.write(d); z.closeEntry()
            }
            z.close()
            val zip = bos.toByteArray
            val es = operators.Zip.entries(zip).get
            es.map { en =>
              val orig = members.find(_._1 == en.name).get._2
              val c = new java.util.zip.CRC32(); c.update(orig)
              (id, en.name, en.size, en.localOffset, en.method.toLong,
                en.localOk, c.getValue == en.crc, zip.length.toLong)
            }
          }
        }
        .toDF("doc_id", "name", "size", "local_offset", "method",
          "local_ok", "crc_match", "file_bytes")
    }),

    // the .warc.gz PATH SOURCE end-to-end (sources.WarcTable via
    // PathTable.resolve — `SELECT * FROM 'seg.warc.gz'` in the CLI):
    // a 48-record archive is written once per sf-dir (bounded driver
    // write, the q97 XML discipline), then read back through the real
    // source: gzip member walk → WARC record walk → HTTP split. The
    // oracle replays per-record URI, status, framed length, and body
    // chars from the construction arithmetic.
    "m27_warc_source" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val rows = t(s, dir, "documents").filter(col("doc_id") < 48)
        .select(col("doc_id").cast(LongType), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = rows.map { case (id, text) =>
        operators.Warc.Fixture.responseRecord(id, id * 3 + 2, text)
      }
      val outDir = new java.io.File(
        s"/tmp/graft_warc_src/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      outDir.mkdirs()
      val f = new java.io.File(outDir, "seg.warc.gz")
      java.nio.file.Files.write(f.toPath,
        recs.map(operators.Gzip.compress).reduce(_ ++ _))
      sources.PathTable.resolve(s, f.getAbsolutePath)
        .select(col("target_uri"),
          col("http_status"),
          col("content_length"),
          length(col("body")).cast(LongType).as("body_chars"))
    }),

    // the .tar PATH SOURCE end-to-end (sources.TarTable via
    // PathTable.resolve — `SELECT * FROM 'shard.tar'`): a 48-sample
    // WebDataset shard (txt + cls member per doc) is written once per
    // sf-dir, then read back through the real source: ustar checksum
    // walk → member rows with sample keys and extensions split. The
    // oracle replays names, sizes, and block offsets from the same
    // 512-block arithmetic as m24.
    "m28_tar_source" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val rows = t(s, dir, "documents").filter(col("doc_id") < 48)
        .select(col("doc_id").cast(LongType), col("text"), col("lang"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      val members = rows.flatMap { case (id, text, lang) =>
        Seq((f"$id%08d.txt", text.getBytes(UTF_8)),
          (f"$id%08d.cls", lang.getBytes(UTF_8)))
      }
      val outDir = new java.io.File(
        s"/tmp/graft_tar_src/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      outDir.mkdirs()
      val f = new java.io.File(outDir, "shard.tar")
      java.nio.file.Files.write(f.toPath,
        operators.Tar.encode(members.toSeq))
      sources.PathTable.resolve(s, f.getAbsolutePath)
        .select(col("name"), col("sample_key"), col("ext"), col("size"),
          col("data_offset"),
          length(col("text")).cast(LongType).as("text_chars"))
    }),

    // MULTI-SHARD .warc.gz via the DSv2 connector (VERDICT r8 task 5):
    // 64 shard files (doc_id % 64, 4 records each) written once per
    // sf-dir, read back through the glob surface — the connector plans
    // one input partition PER FILE and the header-only projection here
    // takes the pruned path (no block copy, no HTTP parse; the plan
    // assertion lives in WarcSourceSpec). The oracle replays shard
    // assignment, per-shard ordinals, and declared block lengths from
    // the construction arithmetic.
    "m32_warc_shards" -> ((s, dir) => {
      val rows = t(s, dir, "documents").filter(col("doc_id") < 256)
        .select(col("doc_id").cast(LongType), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // the oracle's record_idx arithmetic assumes doc_ids 0..255 are
      // all present and contiguous — fail loudly if the fixture isn't
      require(rows.map(_._1).toSeq == (0L until 256L),
        s"m32 fixture expects doc_ids 0..255, got ${rows.length} rows")
      val outDir = new java.io.File(
        s"/tmp/graft_warc_shards/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      outDir.mkdirs()
      (0 until 64).foreach { k =>
        val recs = rows.filter(_._1 % 64 == k).map { case (id, text) =>
          operators.Gzip.compress(
            operators.Warc.Fixture.responseRecord(id, id * 3 + 2, text))
        }
        java.nio.file.Files.write(
          new java.io.File(outDir, f"shard$k%05d.warc.gz").toPath,
          recs.foldLeft(Array.emptyByteArray)(_ ++ _))
      }
      sources.PathTable.resolve(s,
          s"${outDir.getAbsolutePath}/shard*.warc.gz")
        .select(
          regexp_extract(col("file"), "shard(\\d+)", 1)
            .cast(LongType).as("shard"),
          col("record_idx"), col("target_uri"), col("content_length"),
          col("warc_date"))
    }),

    // End-to-end crawl-ingest composite: 32 .warc.gz shards whose
    // response bodies are HTML, read through the graft-warc connector
    // glob, HTTP-status filtered (200 ⇔ doc_id % 3 = 0 by the fixture
    // arithmetic), then the t30 HTML extraction stack (title, visible
    // text, anchor chars) — the first operators a real crawl pipeline
    // runs, composed. The oracle replays construction + extraction
    // arithmetic end to end.
    "m33_crawl_extract" -> ((s, dir) => {
      import operators.Html
      val rows = t(s, dir, "documents").filter(col("doc_id") < 192)
        .select(col("doc_id").cast(LongType), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      require(rows.map(_._1).toSeq == (0L until 192L),
        s"m33 fixture expects doc_ids 0..191, got ${rows.length} rows")
      val outDir = new java.io.File(
        s"/tmp/graft_crawl_extract/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      outDir.mkdirs()
      (0 until 32).foreach { k =>
        val recs = rows.filter(_._1 % 32 == k).map { case (id, text) =>
          val html = s"<html><head><title>Doc $id</title>" +
            "<script>var x = \"<p>not text</p>\";</script></head><body>" +
            "<nav><a href=\"/\">Home</a></nav>" +
            s"<h1>Title $id</h1><p>$text</p></body></html>"
          operators.Gzip.compress(
            operators.Warc.Fixture.responseRecord(id, id * 7 + 1, html))
        }
        java.nio.file.Files.write(
          new java.io.File(outDir, f"seg$k%05d.warc.gz").toPath,
          recs.foldLeft(Array.emptyByteArray)(_ ++ _))
      }
      sources.PathTable.resolve(s,
          s"${outDir.getAbsolutePath}/seg*.warc.gz")
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)", 1)
            .cast(LongType).as("doc_id"),
          Html.title(col("body")).as("title"),
          Html.extractText(col("body")).as("extracted"),
          Html.anchorChars(col("body")).cast(LongType).as("link_chars"))
        .withColumn("text_chars", length(col("extracted")).cast(LongType))
    }),

    // MP4 sample-table seek index (frame sampling without a decoder):
    // stts/stsz/stsc/stco parsed from the stbl, then sample k's byte
    // offset derived the spec way — stsc chunk run mapping → stco
    // chunk offset → intra-chunk size accumulation. The ORACLE knows
    // the fixture lays chunks out contiguously, so offset(k) must
    // equal dataStart + prefix-sum(sizes[0..k)); the decoder never
    // uses that shortcut (real MP4s interleave tracks), which makes
    // the equality a genuine cross-check of the three-table walk.
    "m20_mp4_samples" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 20 + 5).toInt
            val d1 = 512 + (id % 7) * 64
            val d2 = d1 + 256
            val sizes = Array.tabulate(n)(i =>
              (100 + (id * 7 + i * 13) % 90).toInt)
            val spc = (id % 4 + 1).toInt
            val mp4 = Multimodal.encodeMp4Samples(
              90000, d1, d2, sizes, spc, 4096)
            val tbl = Multimodal.mp4SampleTables(mp4).get
            val k = id % n
            (id, tbl.sampleCount.toLong, tbl.chunkOffsets.length.toLong,
              tbl.durationTicks, tbl.totalBytes, tbl.maxSize, k,
              tbl.sampleTimestamp(k), tbl.sampleOffset(k), tbl.chunkOf(k)._1)
          }
        }
        .toDF("doc_id", "n_samples", "n_chunks", "duration_ticks",
          "total_bytes", "max_size", "k", "ts_k", "offset_k", "chunk_k")
    }),

    // FLAC STREAMINFO scan: rate/channels/bits/total-samples from the
    // mandatory first metadata block, duration as exact integer
    // division — no frame read, mirrors m10's MP3 frame-math oracle
    "m15_flac_header" -> ((s, dir) => {
      import s.implicits._
      val rates = Array(8000, 16000, 22050, 44100, 48000)
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            // STREAMINFO's total-samples field is 36-bit; bound the
            // synthetic count so amplified soak ids (>68.7M) still
            // encode a physically-valid header (identical values at
            // every driver sf — doc_id there is far below the modulus)
            val sid = id % 60000000L
            val bytes = Multimodal.encodeFlac(
              rates((id % 5).toInt), (id % 2).toInt + 1,
              if (id % 3 == 0) 24 else 16, sid * 1000 + 1)
            val (rate, ch, bps, total) = Multimodal.flacHeader(bytes).get
            (id, rate.toLong, ch.toLong, bps.toLong, total,
              total * 1000L / rate)
          }
        }
        .toDF("doc_id", "sample_rate", "channels", "bits_per_sample",
          "total_samples", "duration_ms")
    }),

    // GIF/BMP header-only scans on a mixed binary column: sniff the
    // format, read dims + depth from the fixed headers (13 / 54
    // bytes), never touch pixel data — the dimension-audit pass over
    // a heterogeneous image corpus
    "m11_gif_bmp_header" -> ((s, dir) => {
      import s.implicits._
      val bpps = Array(1, 4, 8, 24)
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            if (id % 2 == 0) {
              val g = (id % 8).toInt
              val bytes = Multimodal.encodeGif(
                (id % 200 + 10).toInt, (id % 150 + 10).toInt, g)
              val (w, h, f) = Multimodal.gifHeader(bytes).get
              (id, "gif", w.toLong, h.toLong, (f + 1).toLong,
                (1L << (f + 1)))
            } else {
              val bytes = Multimodal.encodeBmp((id % 300 + 8).toInt,
                (id % 100 + 8).toInt, bpps((id % 4).toInt))
              val (w, h, bpp) = Multimodal.bmpHeader(bytes).get
              (id, "bmp", w.toLong, h.toLong, bpp.toLong, 0L)
            }
          }
        }
        .toDF("doc_id", "fmt", "width", "height", "bits", "palette")
    }),

    // audio feature extraction through the real codec: decode the PCM
    // samples back out of the WAV container and emit per-frame
    // absolute-energy rows (50-sample frames, integer-exact sums) —
    // the framing pass an audio training pipeline runs after decode
    "m8_audio_frames" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast(LongType)).as[Long]
        .flatMap { id =>
          val n = (id % 100 + 50).toInt
          val sr = (8000 + (id % 3) * 4000).toInt
          val raw = Array.tabulate(n)(i =>
            ((id * 31 + i * 17) % 2048 - 1024).toShort)
          val (_, samples) = Multimodal.decodeWavSamples(
            Multimodal.encodePcm16Wav(sr, raw)).get
          (0 until (samples.length + 49) / 50).map { f =>
            var e = 0L
            var i = f * 50
            val hi = math.min(samples.length, (f + 1) * 50)
            while (i < hi) { e += math.abs(samples(i).toInt); i += 1 }
            (id, f.toLong, e)
          }
        }
        .toDF("doc_id", "frame_idx", "energy")
    }),

    // image near-dup via perceptual hash: real PNG encode → real codec
    // decode → aHash (area-average + mean threshold, exact arithmetic)
    // → hash-groupBy clusters. The image-side analogue of d1: one map
    // pass per image, one hash aggregate — no pairwise anything
    "m5_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val hashed = fan(t(s, dir, "documents")
          .select(col("doc_id").cast(LongType))).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            (id, Multimodal.aHash64(Multimodal.encodeStripePng(id)).get)
          }
        }.toDF("doc_id", "phash")
        // two consumers below; eagerly materialized (r10) so the
        // codec pass runs exactly once even with concurrent consumers
        .transform(operators.Materialize.eager)
      val clusters = hashed.groupBy("phash")
        .agg(min("doc_id").as("cluster_id"),
          count(lit(1)).as("cluster_size"))
      hashed.join(clusters, Seq("phash"))
        .select("doc_id", "cluster_id", "cluster_size")
    }),

    // Structured Streaming tumbling aggregation (complete mode == batch)
    "st1_stream_tumble" -> ((s, dir) =>
      Streams.runTumblingAgg(s, s"$dir/events.parquet", "ts", "1 hour",
        Seq("event_type"), Seq(count(lit(1)).as("n")),
        queryName = "st1_stream_tumble")),

    // Structured Streaming session windows: gap-merged per-user
    // sessions (complete-mode drain == q36's batch sessionization)
    "st4_stream_session" -> ((s, dir) =>
      Streams.runSessionAgg(s, s"$dir/events.parquet", "ts", "30 minutes",
          Seq("user_id"), Seq(count(lit(1)).as("n")),
          queryName = "st4_stream_session")
        .select("user_id", "session_start", "session_end", "n")),

    // stream-stream interval join (attribution shape): clicks joined to
    // purchases of the same user within the following hour; watermarks
    // on both sides bound the join state in production
    "st5_stream_join" -> ((s, dir) =>
      Streams.runStreamIntervalJoin(s, s"$dir/events.parquet", "ts",
          "event_type", "user_id", "event_id", "click", "purchase",
          "1 hour", queryName = "st5_stream_join")
        .select(col("left_id").as("click_id"),
          col("right_id").as("purchase_id"), col("k").as("user_id"))),

    // streaming top-k (trending items): per-key counts re-ranked each
    // micro-batch; complete-mode-only because a ranking is a global
    // statement over all keys
    "st10_stream_topk" -> ((s, dir) =>
      Streams.runStreamTopK(s, s"$dir/events.parquet", "user_id", 25,
          queryName = "st10_stream_topk")
        .select(col("user_id"), col("n"))),

    // streaming count-min sketch: the per-day depth×width cell matrix
    // maintained by the micro-batch engine — state per window is
    // ≤ depth·width cells, CONSTANT in key cardinality (per-key
    // windowed counts would hold every distinct key in the state
    // store). Same portable hashes as batch q68; drained table equals
    // the batch windowed sketch the oracle computes
    "st12_stream_cms" -> ((s, dir) =>
      Streams.runStreamCms(s, s"$dir/events.parquet", "ts", "1 day",
          "user_id", depth = 4, width = 256,
          queryName = "st12_stream_cms")
        .select(col("window_start"), col("j"), col("c"), col("n"))),

    // streaming distribution-drift monitor: per-window value-bucket
    // histograms accumulate as windowed stream state, then PSI vs the
    // corpus-wide reference histogram is a stateless batch readout —
    // p50's exact math (add-1 smoothing, decimal term sum) over a
    // FIXED 20-bucket grid, keyed by window instead of event_type
    "st14_stream_psi" -> ((s, dir) => {
      val nb = 20
      // re-root the drained memory table as a LogicalRDD: the readout
      // below self-joins it (grid/nct/cur), and Spark's self-join
      // attribute dedup does not cover MemoryPlan views
      val drained = Streams.runStreamBucketCounts(s, s"$dir/events.parquet",
        "ts", "1 day", buckets = nb, queryName = "st14_stream_psi")
      val cur = s.createDataFrame(drained.rdd, drained.schema)
      val ref = t(s, dir, "events").filter(col("value").isNotNull)
        .select(expr("least(CAST(round(value * 100) AS BIGINT)" +
          s" div 1000, ${nb - 1})").as("b"))
        .groupBy("b").agg(count(lit(1)).as("cr"))
      val nrt = ref.agg(sum("cr").as("nr"))
      val nct = cur.groupBy("window_start").agg(sum("cc").as("nc"))
      val grid = cur.select("window_start").distinct()
        .select(col("window_start"),
          explode(sequence(lit(0L), lit(nb - 1L))).as("b"))
      val cells = grid
        .join(ref, Seq("b"), "left")
        .join(cur, Seq("window_start", "b"), "left")
        .join(nct, "window_start")
        .crossJoin(broadcast(nrt))
        .select(col("window_start"), col("nc"),
          coalesce(col("cr"), lit(0L)).as("cr0"),
          coalesce(col("cc"), lit(0L)).as("cc0"), col("nr"))
      val p = (col("cr0") + 1).cast(DoubleType) /
        (col("nr") + nb).cast(DoubleType)
      val q = (col("cc0") + 1).cast(DoubleType) /
        (col("nc") + nb).cast(DoubleType)
      cells.withColumn("term", (p - q) * log(p / q))
        .groupBy("window_start")
        .agg(max("nc").as("n_cur"),
          round(sum(round(col("term"), 12).cast(DecimalType(38, 12)))
            .cast(DoubleType), 6).as("psi"))
        .withColumn("drifted", col("psi") > lit(0.2))
    }),

    // streaming LSH near-dup ingest: band signatures as a stateless
    // per-row projection (MinHashAgg's exact formula evaluated
    // per-row), per-(band,sig) bucket membership as
    // flatMapGroupsWithState state, candidate pairs emitted on
    // arrival — the incremental shape of d19 run on the micro-batch
    // engine. Readout = recall vs the exact Jaccard pair set (1.0 at
    // this SF), the same deterministic oracle trick as d3
    "st15_stream_lsh" -> ((s, dir) => {
      val cand = Streams.runStreamLshIngest(s, s"$dir/documents.parquet",
          "doc_id", "text", n = 3, k = 32, bands = 4,
          queryName = "st15_stream_lsh")
        .select(col("id_a"), col("id_b")).distinct()
      // exact side carries the d2/d3 doc-frequency cap: the UNCAPPED
      // self-join is quadratic in clone-family size (measured: the
      // one super-linear entry of the 240-query scaling record,
      // exponent 1.32, was THIS verify side at clone-amplified sf1,
      // not the streaming drain). At the test SFs no shingle exceeds
      // df=25, so the capped result is byte-identical
      val exact = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.8, tokens = true,
          maxDocFreq = Some(50))
        .select("id_a", "id_b")
      val found = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .withColumn("recall_vs_exact",
          col("n_found").cast("double") / col("n_exact").cast("double"))
    }),

    // streaming decontamination: corpus stream anti-joined per
    // micro-batch against the broadcast src0 eval set (exact text
    // match) — stateless, the d8 asymmetry on the micro-batch engine
    "st16_stream_decontam" -> ((s, dir) => {
      val evalSet = t(s, dir, "documents")
        .filter(col("source") === "src0").select("text").distinct()
      Streams.runStreamStaticAnti(s, s"$dir/documents.parquet", evalSet,
          Seq("text"), preFilter = Some(col("source") =!= "src0"),
          queryName = "st16_stream_decontam")
        .select(col("doc_id"), col("source"))
    }),

    // streaming fingerprint maintenance: p53's mergeable partition
    // fingerprints as a stateful streaming aggregation — the ingest
    // path keeps the snapshot-diff table current without rescans; the
    // drained result is bit-identical to the batch fingerprint
    "st17_stream_fingerprint" -> ((s, dir) =>
      Streams.runStreamFingerprints(s, s"$dir/documents.parquet",
          "source", "text", queryName = "st17_stream_fingerprint")
        // BIGINT for the oracle compare (exact; the operator's DECIMAL
        // sorts as a string in the harness while DuckDB's floats)
        .select(col("source"), col("n_rows"),
          col("fingerprint").cast(LongType).as("fingerprint"))),

    // streaming per-domain admission quota (Streams.runStreamQuotaAdmit
    // — the streaming form of p55's cap): URLs constructed as in p55,
    // registered domain extracted through the real parse path, then at
    // most k=5 docs EVER admitted per domain; state is one counter per
    // key and over-quota rows are dropped inside the state function,
    // so the sink sees ≤ k·|domains| rows regardless of stream length.
    // In-batch candidates admit in ascending doc_id order → the
    // drained admitted set is the k smallest doc_ids per domain, which
    // the oracle replays as a window rank.
    "st18_stream_quota" -> ((s, dir) => {
      val hostCol = when(col("doc_id") % 4 === 0,
          concat(col("source"), lit(".co.uk")))
        .otherwise(concat(lit("docs."), col("source"), lit(".com")))
      val url = concat(lit("https://"), hostCol, lit("/d/"),
        col("doc_id").cast(StringType))
      Streams.runStreamQuotaAdmit(s, s"$dir/documents.parquet",
          operators.Web.registeredDomain(url), col("doc_id"), k = 5,
          queryName = "st18_stream_quota")
        .select(col("key").as("domain"), col("id").as("doc_id"))
    }),

    // streaming blocklist audit (Streams.runStreamBlocklist): t32's
    // Aho-Corasick kernel on the micro-batch path — stateless per row
    // (the automaton rides whole-stage codegen inside the stream), so
    // the only state is the per-source aggregate; the drained
    // complete-mode table equals the batch rollup the oracle replays
    "st19_stream_blocklist" -> ((s, dir) =>
      Streams.runStreamBlocklist(s, s"$dir/documents.parquet",
          "source", "text",
          Seq("the", "and", "ing", "tion", "data", "with", "for",
            "ment"),
          queryName = "st19_stream_blocklist")
        .select(col("key").as("source"), col("n_docs"),
          col("n_flagged"), col("n_occurrences"))),

    // streaming GROUP BY on a union-typed key (VERDICT r8 task 6):
    // the q109 VARIANT construction (same k as Int on even event_ids,
    // as String on odd — type distinction load-bearing) grouped under
    // the incremental planner; VariantGroupRule rewrites the state-
    // store key to the type-qualified string. The drained complete-
    // mode table is bit-identical to batch q109 — the oracle IS q109's
    // SQL.
    "st20_stream_union_groupby" -> ((s, dir) => {
      val ks = get_json_object(col("props"), "$.k").cast(LongType)
        .cast(StringType)
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      Streams.runStreamUnionGroupBy(s, s"$dir/events.parquet", v,
        queryName = "st20_stream_union_groupby")
    }),

    // URL canonicalization — the crawl-frontier dedup precursor (dedup
    // keys on the CANONICAL url; per-domain quotas/robots key on the
    // registrable domain). Constructed URLs exercise every normalizer:
    // case-folding, default-port strip, dot-segment resolution,
    // fragment drop, unreserved percent-decode (%7E→~), triplet
    // uppercasing (%3f→%3F), non-default ports kept, IPv4 hosts,
    // multi-label public suffixes, null-on-unparsable. The oracle
    // replays the EXPECTED strings from construction arithmetic — two
    // independent derivations of the same canonical form.
    "p57_url_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast(LongType))
      val k7 = (col("doc_id") % 7).cast(StringType)
      val id = col("doc_id").cast(StringType)
      val k250 = (col("doc_id") % 250).cast(StringType)
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://Host"), k7, lit(".Example.COM:80/a/./b/../p"),
            id, lit("?x=1#frag")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://SUB.site"), k7, lit(".CO.UK:443/%7Euser/doc"),
            id))
        .when(col("doc_id") % 5 === 2,
          concat(lit("http://192.168.0."), k250, lit("/p/%3fq")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("ftp://files.site"), id, lit(".org:2121/pub/../data/f"),
            id))
        .otherwise(concat(lit("not a url "), id))
      d.withColumn("url", url)
        .selectExpr("doc_id", "url_canonical(url) AS canonical",
          "url_host(url) AS host", "url_domain(url) AS domain")
    }),

    // domain-level link graph — the crawl-pipeline composite over the
    // new URL kernel: extract hrefs from page HTML (regexp, codegen'd),
    // resolve each against the page URL (url_resolve = RFC 3986 §5.2 —
    // rooted, ../-relative, protocol-relative, absolute, query-only;
    // mailto: drops as NULL), aggregate (source host → registrable
    // destination domain) edges. One shuffle (the final groupBy) — at
    // crawl scale the extract+resolve stage is a pure projection. The
    // oracle replays every resolved URL from construction arithmetic;
    // min(resolved) pins exact resolution strings per edge, not just
    // counts.
    "p58_link_graph" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast(LongType))
      val id = col("doc_id").cast(StringType)
      val j = (col("doc_id") % 3).cast(StringType)
      val k7 = (col("doc_id") % 7).cast(StringType)
      val m10 = (col("doc_id") % 10).cast(StringType)
      val m5 = (col("doc_id") % 5).cast(StringType)
      val m4 = (col("doc_id") % 4).cast(StringType)
      val base = concat(lit("http://site"), k7, lit(".example.com/sec"),
        j, lit("/page"), id, lit(".html"))
      val html = concat(
        lit("<p><a href=\"/cat/p"), id, lit("\">c</a>"),
        lit("<a href=\"../up"), m10, lit("\">u</a>"),
        lit("<a href=\"//cdn.asset"), m5, lit(".net/img\">i</a>"),
        lit("<a href=\"https://Ext"), m4, lit(".ORG:443/ref#frag\">e</a>"),
        lit("<a href=\"mailto:spam@x\">m</a>"),
        lit("<a href=\"?v=2\">q</a></p>"))
      d.withColumn("base", base).withColumn("html", html)
        .select(col("base"), explode(expr(
          "regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)")).as("href"))
        .selectExpr("url_host(base) AS src_host",
          "url_resolve(base, href) AS resolved")
        .where(col("resolved").isNotNull)
        .selectExpr("src_host", "url_domain(resolved) AS dst_domain",
          "resolved")
        .groupBy("src_host", "dst_domain")
        .agg(count(lit(1)).as("n"), min(col("resolved")).as("first_url"))
    }),

    // Unicode spoof audit (UTS #39-style): homoglyph skeleton
    // (Cyrillic а in "pаypal" → "paypal"), mixed-script token count
    // (the Latin+Cyrillic token flags, the all-Greek ΒΑΝΚ token does
    // NOT — single-script is legitimate), invisible-character count
    // (ZWSP counted before NFKC strips context). Construction
    // arithmetic picks one of four shapes per doc; the oracle replays
    // expected skeletons/counts with zero Unicode logic.
    "t35_spoof_audit" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast(LongType))
      val id = col("doc_id").cast(StringType)
      val text = when(col("doc_id") % 4 === 0,
          concat(lit("pаypal account "), id))
        .when(col("doc_id") % 4 === 1,
          concat(lit("fre​e gift "), id))
        .when(col("doc_id") % 4 === 2,
          concat(lit("ΒΑΝΚ alert "), id))
        .otherwise(concat(lit("plain text "), id))
      d.withColumn("text", text)
        .selectExpr("doc_id", "spoof_skeleton(text) AS skeleton",
          "mixed_script_tokens(text) AS n_mixed",
          "invisible_count(text) AS n_invisible")
    }),

    // homoglyph dedup: the skeleton as the dedup KEY — three surface
    // variants per payload group (Cyrillic о in "cоde" / ZWSP inside
    // "code" / clean), collapsed by grouping on spoof_skeleton; the
    // spoofed-variant count comes from the audit expressions (mixed +
    // invisible > 0), NOT from the grouping arithmetic — two
    // independent derivations the oracle cross-checks.
    "d27_homoglyph_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").cast(LongType))
      val g = (col("doc_id") % 97).cast(StringType)
      val text = when(col("doc_id") % 3 === 0,
          concat(lit("offer cоde "), g))
        .when(col("doc_id") % 3 === 1,
          concat(lit("offer co​de "), g))
        .otherwise(concat(lit("offer code "), g))
      d.withColumn("text", text)
        .selectExpr("doc_id", "spoof_skeleton(text) AS skeleton",
          "mixed_script_tokens(text) + invisible_count(text) AS spoofy")
        .groupBy("skeleton")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          sum(when(col("spoofy") > 0, 1L).otherwise(0L)).as("n_spoofed"))
    }),

    // streaming DISTINCT on a union-typed column — with st20 (GROUP
    // BY) and st21 (join) this closes every union-typed verb that
    // keys streaming state: distinct() lowers to Deduplicate, the
    // VariantGroupRule rewrite turns it into the json-keyed streaming
    // aggregate, and the drained complete-mode set equals batch
    // DISTINCT (the oracle)
    "st22_stream_union_distinct" -> ((s, dir) => {
      val ks = get_json_object(col("props"), "$.k").cast(LongType)
        .cast(StringType)
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      Streams.runStreamUnionDistinct(s, s"$dir/events.parquet", v,
        queryName = "st22_stream_union_distinct")
    }),

    // streaming crawl-frontier dedup: three surface forms per canonical
    // URL (uppercase host + default port / trailing fragment /
    // unresolved dot-segments — which form a doc gets is doc_id % 3,
    // INDEPENDENT of the canonical identity doc_id % 20 × doc_id % 50),
    // canonicalized by the codegen'd expression inside the incremental
    // planner; streaming state keys on the canonical string. Drained
    // per-canonical discovery count + first discovering doc equal the
    // batch replay.
    "st23_stream_frontier_dedup" -> ((s, dir) => {
      val k20 = (col("doc_id") % 20).cast(StringType)
      val g50 = (col("doc_id") % 50).cast(StringType)
      val id = col("doc_id").cast(StringType)
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://Site"), k20, lit(".Example.COM:80/p"), g50))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://site"), k20, lit(".example.com/p"), g50,
            lit("#frag"), id))
        .otherwise(
          concat(lit("http://site"), k20, lit(".example.com/a/../p"), g50))
      Streams.runStreamFrontierDedup(s, s"$dir/documents.parquet", url,
        "doc_id", queryName = "st23_stream_frontier_dedup")
    }),

    // stream-stream interval join on a union-typed KEY (VERDICT r9
    // task 7 — st20 closed GROUP BY; this closes the join): the same
    // VARIANT construction as the join key (k typed Int on even
    // event_ids, String on odd — the type distinction load-bearing),
    // clicks joined to purchases carrying the same typed key within
    // the following hour. VariantGroupRule's join-condition rewrite
    // fires under the incremental planner, so the symmetric hash
    // join's state store keys on the extracted type-qualified string.
    "st21_stream_union_join" -> ((s, dir) => {
      val ks = get_json_object(col("props"), "$.k").cast(LongType)
        .cast(StringType)
      val v = when(col("event_id") % 2 === 0, parse_json(ks))
        .otherwise(parse_json(concat(lit("\""), ks, lit("\""))))
      Streams.runStreamUnionJoin(s, s"$dir/events.parquet", "ts",
          "event_type", "event_id", v, "click", "purchase", "1 hour",
          queryName = "st21_stream_union_join")
        .select(col("left_id").as("click_id"),
          col("right_id").as("purchase_id"), col("val_json"))
    }),

    // streaming per-window distinct users (windowed DAU): dedup state
    // + window state, both watermark-evicted; drained result equals
    // the batch COUNT(DISTINCT) per hour
    "st9_stream_distinct" -> ((s, dir) =>
      Streams.runStreamWindowDistinct(s, s"$dir/events.parquet", "ts",
          "user_id", "1 hour", "1 hour",
          queryName = "st9_stream_distinct")
        .select(col("window_start"), col("n_distinct"))),

    // stream-stream interval LEFT OUTER join: st5 plus null-padded
    // unconverted clicks, emitted when the watermark closes their
    // window — bounded state with complete output on an unbounded log
    "st8_stream_left_join" -> ((s, dir) =>
      Streams.runStreamIntervalLeftJoin(s, s"$dir/events.parquet", "ts",
          "event_type", "user_id", "event_id", "click", "purchase",
          "1 hour", queryName = "st8_stream_left_join")
        .select(col("left_id").as("click_id"),
          col("right_id").as("purchase_id"), col("k").as("user_id"))),

    // stream-stream interval FULL OUTER join: bounded state AND
    // complete output on BOTH sides — unconverted clicks and orphan
    // purchases each surface null-padded when the watermark closes
    // their window (completes the streaming outer-join matrix)
    "st11_stream_full_join" -> ((s, dir) =>
      Streams.runStreamIntervalLeftJoin(s, s"$dir/events.parquet", "ts",
          "event_type", "user_id", "event_id", "click", "purchase",
          "1 hour", queryName = "st11_stream_full_join",
          joinType = "full_outer")
        .select(col("left_id").as("click_id"),
          col("right_id").as("purchase_id"), col("k").as("user_id"))),

    // streaming exact dedup: watermark-bounded per-key state, append
    // mode; final drained output = the batch DISTINCT (the oracle)
    "st3_stream_dedup" -> ((s, dir) =>
      Streams.runStreamingDedup(s, s"$dir/events.parquet", "ts", "1 hour",
        Seq("user_id", "event_type"), queryName = "st3_stream_dedup")),

    // stream-static enrichment: event stream × broadcast customer dim,
    // stateless per-batch join; drained aggregate = batch join (oracle)
    "st6_stream_static" -> ((s, dir) =>
      Streams.runStreamStaticEnrich(s, s"$dir/events.parquet", "ts",
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey", Seq("c_mktsegment", "event_type"),
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        queryName = "st6_stream_static")),

    // streaming AS-OF enrichment: a 3-version SCD2 dimension (weekly
    // boundaries) joined by validity interval, so each event lands on
    // the version current at its event time — broadcast range join,
    // zero stream state; drained total equals the batch interval join
    "st13_stream_asof" -> ((s, dir) => {
      val dim = t(s, dir, "customer").select(col("c_custkey"))
        .crossJoin(s.range(3).toDF("ver"))
        .select(col("c_custkey"), col("ver"),
          expr("timestamp'2024-01-01' + make_dt_interval(ver * 7)")
            .as("valid_from"),
          expr("CASE WHEN ver < 2 THEN timestamp'2024-01-01'" +
            " + make_dt_interval((ver + 1) * 7) END").as("valid_to"))
      Streams.runStreamAsOfEnrich(s, s"$dir/events.parquet", "ts", dim,
        "user_id", "c_custkey", "valid_from", "valid_to",
        Seq("ver", "event_type"),
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        queryName = "st13_stream_asof")
    }),

    // streaming hopping-window counts — q35's overlap semantics on the
    // streaming path: each event lands in len/slide = 2 windows; the
    // complete-mode drain's final table equals the batch hop
    "st7_stream_hop" -> ((s, dir) =>
      Streams.runHoppingAgg(s, s"$dir/events.parquet", "ts",
          "1 hour", "30 minutes", Seq("event_type"),
          Seq(count(lit(1)).as("n")), queryName = "st7_stream_hop")
        .select(col("window_start"), col("event_type"), col("n"))),

    // tumble reached through the reference's SQL TVF syntax (named
    // arguments, DESCRIPTOR time field) — the dialect front-end path,
    // checked against the same oracle shape as q17
    "st2_sql_tumble" -> ((s, dir) => {
      Engine.table(s, dir, "events").createOrReplaceTempView("events_v")
      graft.sql.Dialect.prepare(s,
        """SELECT window_start, event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM tumble(source => TABLE events_v,
          |            time_field => DESCRIPTOR ts,
          |            window_length => INTERVAL 1 HOUR)
          |GROUP BY window_start, event_type""".stripMargin).df
    }),

    // QUALIFY window filter through the dialect front-end (the
    // Snowflake/DuckDB/BigQuery top-2-per-key idiom): rewritten at the
    // token level into a wrapped WHERE, checked against DuckDB's
    // native QUALIFY
    "q90_qualify" -> ((s, dir) => {
      Engine.table(s, dir, "orders").createOrReplaceTempView("orders_v90")
      graft.sql.Dialect.prepare(s,
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |  row_number() OVER (PARTITION BY o_custkey
          |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |FROM orders_v90
          |QUALIFY rn <= 2""".stripMargin).df
    }),

    // DISTINCT ON through the dialect front-end (the Postgres/DuckDB
    // first-row-per-group idiom): rewritten into a partitioned
    // row_number wrap — ORDER BY required, deterministic tie-break —
    // checked against DuckDB's native DISTINCT ON
    "q91_distinct_on" -> ((s, dir) => {
      Engine.table(s, dir, "orders").createOrReplaceTempView("orders_v91")
      graft.sql.Dialect.prepare(s,
        """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
          |FROM orders_v91
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin).df
    }),

    // GROUP BY ALL / ORDER BY ALL through the front-end (Spark 4 and
    // DuckDB both speak it natively — parity is the point): grouping
    // keys inferred as the non-aggregate select items
    "q92_group_by_all" -> ((s, dir) => {
      Engine.table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v92")
      graft.sql.Dialect.prepare(s,
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  COUNT(*) AS n
          |FROM lineitem_v92 GROUP BY ALL ORDER BY ALL""".stripMargin).df
    }),

    // `* EXCLUDE (cols)` star exclusion (DuckDB spelling) → Spark's
    // `* EXCEPT`: keyword swap in the dialect, full-row projection
    // minus the noisy columns
    "q93_star_exclude" -> ((s, dir) => {
      Engine.table(s, dir, "customer").createOrReplaceTempView("customer_v93")
      graft.sql.Dialect.prepare(s,
        """SELECT * EXCLUDE (c_name, c_mktsegment) FROM customer_v93
          |WHERE c_acctbal > 9000.0""".stripMargin).df
    }),

    // ASOF JOIN on the SQL surface (DuckDB/Snowflake temporal-join
    // spelling): the dialect lowers it onto AsOf.asofJoin's
    // union+window merge (|L|+|R| rows, one shuffle) — NOT a
    // correlated LATERAL, which Spark decorrelates into an all-pairs
    // BroadcastNestedLoopJoin over the left-time domain. Inner form:
    // unmatched views drop, like the native DuckDB oracle
    "q94_asof_sql" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
        .createOrReplaceTempView("views_v94")
      e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("p_value"))
        .createOrReplaceTempView("purch_v94")
      graft.sql.Dialect.prepare(s,
        """SELECT v.event_id, v.user_id, v.ts, p.p_value AS p_value
          |FROM views_v94 v ASOF JOIN purch_v94 p
          |ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin).df
    })
  )

  // -------------------------------------------------------------------
  // DuckDB oracles (driver runs these at sf0.01 and hash-compares)
  // -------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_quantity > 45""".stripMargin,

    "q3_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q4_left_join" ->
      """SELECT n_name, COUNT(c_custkey) AS n_cust
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name""".stripMargin,

    "q5_join5" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q6_theta_join" ->
      """SELECT r_name, COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey > r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q7_semi_anti" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with,
        |  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without""".stripMargin,

    "q8_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q9_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q10_setops" ->
      """WITH ck AS (SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer),
        |     sk AS (SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier)
        |SELECT 'union' AS op, k FROM (SELECT k FROM ck UNION SELECT k FROM sk)
        |UNION ALL
        |SELECT 'intersect' AS op, k FROM (SELECT k FROM ck INTERSECT SELECT k FROM sk)
        |UNION ALL
        |SELECT 'except' AS op, k FROM (SELECT k FROM ck EXCEPT SELECT k FROM sk)""".stripMargin,

    "q11_strings" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up,
        |  lower(p_brand) AS lo,
        |  substr(p_name, 1, 5) AS pre5,
        |  CASE WHEN strpos(p_name, 'a') = 0 THEN NULL
        |       ELSE CAST(strpos(p_name, 'a') - 1 AS BIGINT) END AS pos_a,
        |  replace(p_type, ' ', '_') AS ty,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  reverse(p_brand) AS rev,
        |  p_brand || '#' || p_name AS cat,
        |  repeat(p_brand, 2) AS rep,
        |  p_name LIKE '%gre%' AS has_gre,
        |  regexp_matches(p_type, '^[a-z]+ ') AS re_m
        |FROM part""".stripMargin,

    "q12_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st
        |FROM orders""".stripMargin,

    "q13_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  date_trunc('month', o_orderdate) AS mon,
        |  o_orderdate + INTERVAL 30 DAY AS due,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders""".stripMargin,

    "q14_in_subquery" ->
      """SELECT COUNT(*) AS n FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin,

    "q15_cte_window" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice FROM ranked WHERE rn = 1""".stripMargin,

    "q16_range" ->
      """SELECT i, i*i AS sq, i % 7 AS m
        |FROM range(1, 1001) t(i)""".stripMargin,

    "q17_tumble" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q18_explode" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin,

    "q19_struct" ->
      """SELECT p_partkey,
        |  struct_pack(brand := p_brand, size := p_size).brand AS brand,
        |  CAST(struct_pack(brand := p_brand, size := p_size).size AS BIGINT) AS size
        |FROM part""".stripMargin,

    "q20_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q21_lateral" ->
      """SELECT r.r_name, l.n_name
        |FROM region r,
        |LATERAL (SELECT n_name FROM nation n
        |         WHERE n.n_regionkey = r.r_regionkey
        |         ORDER BY n_name LIMIT 2) l""".stripMargin,

    "q43_moving_window" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum,
        |  COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_frame
        |FROM events""".stripMargin,

    "q44_ranking" ->
      """WITH totals AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(ntile(4) OVER (ORDER BY total DESC, user_id) AS BIGINT)
        |    AS quartile,
        |  round(percent_rank() OVER (ORDER BY total DESC, user_id), 6)
        |    AS pct_rank
        |FROM totals""".stripMargin,

    "q42_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q41_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q22_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS prio,
        |  COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q23_aggs" ->
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        |  min(l_shipdate) AS min_d, max(l_shipdate) AS max_d,
        |  COUNT(DISTINCT l_suppkey) AS nd_supp,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q24_math" ->
      """SELECT p_partkey,
        |  abs(p_retailprice - 1000.0) AS a,
        |  sqrt(p_retailprice) AS sq,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  round(ln(p_retailprice), 9) AS ln_v,
        |  round(log2(p_retailprice), 9) AS l2,
        |  round(log10(p_retailprice), 9) AS l10,
        |  round(pow(p_retailprice, 0.3), 9) AS pw,
        |  round(exp(p_retailprice / 1000.0), 9) AS ex
        |FROM part""".stripMargin,

    "q25_null_logic" ->
      """WITH n AS (SELECT n_nationkey, nullif(n_nationkey % 3, 0) AS x FROM nation)
        |SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(x AS BIGINT) AS x,
        |  x > 1 AS gt1,
        |  (x > 1) AND NULL AS and_null,
        |  (x > 1) OR NULL AS or_null,
        |  x IS NULL AS is_n,
        |  x IS NOT NULL AS is_nn,
        |  NOT (x > 1) AS not_gt1
        |FROM n""".stripMargin,

    "q26_in_tuple" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |  AND o_orderstatus NOT IN ('F')
        |GROUP BY o_orderpriority""".stripMargin,

    "q27_empty_agg" ->
      """SELECT SUM(l_quantity) AS s, COUNT(*) AS c, MIN(l_shipdate) AS m
        |FROM lineitem WHERE l_quantity < 0""".stripMargin,

    "q28_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q29_avg_int" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) // COUNT(*) AS BIGINT) AS avg_int
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q30_array_agg" ->
      """SELECT o_orderpriority,
        |  to_json(list_sort(list(o_orderkey))) AS keys
        |FROM orders WHERE o_totalprice > 480000
        |GROUP BY o_orderpriority""".stripMargin,

    "q87_grouping_flags" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q88_ks_test" ->
      """WITH pts AS (
        |  SELECT value AS v,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        |  GROUP BY value),
        |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM pts),
        |cum AS (
        |  SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
        |         SUM(cb) OVER (ORDER BY v) AS cumb
        |  FROM pts)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(MAX(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) -
        |                  CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
        |  END AS ks
        |FROM cum, tot GROUP BY na, nb""".stripMargin,

    "q90_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |FROM orders
        |QUALIFY rn <= 2""".stripMargin,

    "q91_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q92_group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q93_star_exclude" ->
      """SELECT * EXCLUDE (c_name, c_mktsegment) FROM customer
        |WHERE c_acctbal > 9000.0""".stripMargin,

    "q94_asof_sql" ->
      """SELECT v.event_id, v.user_id, v.ts, p.p_value AS p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'view') v
        |ASOF JOIN
        |     (SELECT user_id, ts, max(value) AS p_value FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,

    "q95_window_distinct" ->
      """SELECT event_id, user_id,
        |  CAST(count(DISTINCT event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types
        |FROM events""".stripMargin,

    "st16_stream_decontam" ->
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE d.source <> 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM documents e
        |                  WHERE e.source = 'src0' AND e.text = d.text)""".stripMargin,

    "st17_stream_fingerprint" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS DECIMAL(38,0)))
        |    AS BIGINT) AS fingerprint
        |FROM documents GROUP BY 1""".stripMargin,

    // quota replay: admitted = the k smallest doc_ids per registered
    // domain (the single-batch drain admits in ascending doc_id order)
    "st18_stream_quota" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN source || '.co.uk'
        |         ELSE source || '.com' END AS domain
        |  FROM documents),
        |r AS (
        |  SELECT domain, doc_id, row_number() OVER (
        |    PARTITION BY domain ORDER BY doc_id) AS rk
        |  FROM u)
        |SELECT domain, doc_id FROM r WHERE rk <= 5""".stripMargin,

    // batch rollup of the same border-free dictionary (t32's replace
    // arithmetic), grouped per source
    "st19_stream_blocklist" ->
      """WITH c AS (
        |  SELECT source, doc_id,
        |    list_sum(list_transform(
        |      ['the', 'and', 'ing', 'tion', 'data', 'with', 'for',
        |       'ment'],
        |      p -> (length(text) - length(replace(text, p, '')))
        |           // length(p))) AS cnt
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |FROM c GROUP BY source""".stripMargin,

    // streaming == batch on the union-typed key: the oracle is q109's
    // replay verbatim (the drained complete-mode table must equal it)
    "st20_stream_union_groupby" ->
      """WITH u AS (
        |  SELECT CASE WHEN event_id % 2 = 0
        |      THEN CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR)
        |      ELSE '"' || CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR) || '"' END AS val_json
        |  FROM events)
        |SELECT val_json, CAST(COUNT(*) AS BIGINT) AS n
        |FROM u GROUP BY 1""".stripMargin,

    // the expected canonical/host/domain strings replayed from the
    // construction arithmetic — no URL logic on the oracle side
    "p57_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'http://host' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com/a/p' || CAST(doc_id AS VARCHAR) || '?x=1'
        |    WHEN 1 THEN 'https://sub.site' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.co.uk/~user/doc' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN 'http://192.168.0.' || CAST(doc_id % 250 AS VARCHAR)
        |      || '/p/%3Fq'
        |    WHEN 3 THEN 'ftp://files.site' || CAST(doc_id AS VARCHAR)
        |      || '.org:2121/data/f' || CAST(doc_id AS VARCHAR)
        |    ELSE NULL END AS canonical,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |    WHEN 1 THEN 'sub.site' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
        |    WHEN 2 THEN '192.168.0.' || CAST(doc_id % 250 AS VARCHAR)
        |    WHEN 3 THEN 'files.site' || CAST(doc_id AS VARCHAR) || '.org'
        |    ELSE NULL END AS host,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'example.com'
        |    WHEN 1 THEN 'site' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
        |    WHEN 2 THEN '192.168.0.' || CAST(doc_id % 250 AS VARCHAR)
        |    WHEN 3 THEN 'site' || CAST(doc_id AS VARCHAR) || '.org'
        |    ELSE NULL END AS domain
        |FROM documents""".stripMargin,

    // every resolved URL replayed from construction arithmetic (the
    // mailto: link drops; the other five anchors each have a closed
    // form), then the same (src_host, dst_domain) edge aggregation
    "p58_link_graph" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |      AS src_host,
        |    CAST(doc_id % 3 AS VARCHAR) AS j,
        |    CAST(doc_id AS VARCHAR) AS id,
        |    CAST(doc_id % 10 AS VARCHAR) AS m10,
        |    CAST(doc_id % 5 AS VARCHAR) AS m5,
        |    CAST(doc_id % 4 AS VARCHAR) AS m4
        |  FROM documents),
        |l AS (
        |  SELECT src_host, 'example.com' AS dst_domain,
        |    'http://' || src_host || '/cat/p' || id AS resolved FROM b
        |  UNION ALL
        |  SELECT src_host, 'example.com',
        |    'http://' || src_host || '/up' || m10 FROM b
        |  UNION ALL
        |  SELECT src_host, 'example.com',
        |    'http://' || src_host || '/sec' || j || '/page' || id
        |      || '.html?v=2' FROM b
        |  UNION ALL
        |  SELECT src_host, 'asset' || m5 || '.net',
        |    'http://cdn.asset' || m5 || '.net/img' FROM b
        |  UNION ALL
        |  SELECT src_host, 'ext' || m4 || '.org',
        |    'https://ext' || m4 || '.org/ref' FROM b)
        |SELECT src_host, dst_domain, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(resolved) AS first_url
        |FROM l GROUP BY 1, 2""".stripMargin,

    // expected skeletons and counts replayed from construction
    // arithmetic — zero Unicode logic on the oracle side
    "t35_spoof_audit" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'paypal account ' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'free gift ' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN 'BANK alert ' || CAST(doc_id AS VARCHAR)
        |    ELSE 'plain text ' || CAST(doc_id AS VARCHAR) END AS skeleton,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_mixed,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_invisible
        |FROM documents""".stripMargin,

    // the homoglyph groups replayed from the construction identity
    // (doc_id % 97); spoofed-variant membership is doc_id % 3 < 2
    "d27_homoglyph_dedup" ->
      """SELECT 'offer code ' || CAST(doc_id % 97 AS VARCHAR) AS skeleton,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |  CAST(SUM(CASE WHEN doc_id % 3 < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_spoofed
        |FROM documents GROUP BY 1""".stripMargin,

    // streaming == batch DISTINCT over the union values (typed json
    // is the value identity, NULL/variant-null one row)
    "st22_stream_union_distinct" ->
      """WITH u AS (
        |  SELECT CASE WHEN event_id % 2 = 0
        |      THEN CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR)
        |      ELSE '"' || CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR) || '"' END AS val_json
        |  FROM events)
        |SELECT DISTINCT val_json FROM u""".stripMargin,

    // streaming == batch frontier dedup: every surface form of a
    // canonical URL collapses to one state key; the canonical string,
    // discovery count and first doc all replay from construction
    // arithmetic
    "st23_stream_frontier_dedup" ->
      """SELECT 'http://site' || CAST(doc_id % 20 AS VARCHAR)
        |    || '.example.com/p' || CAST(doc_id % 50 AS VARCHAR)
        |    AS canonical,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM documents GROUP BY 1""".stripMargin,

    // streaming == batch on the union-typed JOIN key: equality is
    // (type id, value) — the CASE mirrors the typed-json key, NULLs
    // never match (Kleene =), interval bound as st5
    "st21_stream_union_join" ->
      """WITH u AS (
        |  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN event_id % 2 = 0
        |      THEN CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR)
        |      ELSE '"' || CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR) || '"' END AS val_json
        |  FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.val_json
        |FROM u c JOIN u p
        |  ON c.val_json = p.val_json
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts
        | AND p.ts <= c.ts + INTERVAL '1 hour'""".stripMargin,

    "q96_not_exists" ->
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)""".stripMargin,

    "q89_merge_into" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |upd AS (
        |  SELECT o_custkey AS k,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS tot_cents
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(101 AS BIGINT)),
        |    (CAST(-2 AS BIGINT), CAST(202 AS BIGINT)),
        |    (CAST(-3 AS BIGINT), CAST(303 AS BIGINT))) v(k, tot_cents))
        |SELECT coalesce(b.k, u.k) AS c_custkey,
        |  coalesce(b.c_name, 'new-' || CAST(u.k AS VARCHAR)) AS c_name,
        |  CAST(coalesce(b.bal_cents, 0) + coalesce(u.tot_cents, 0)
        |       AS DOUBLE) / 100.0 AS bal
        |FROM base b FULL JOIN upd u ON b.k = u.k""".stripMargin,

    "q84_string_agg" ->
      """SELECT o_orderpriority,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ','
        |             ORDER BY CAST(o_orderkey AS VARCHAR)) AS keys
        |FROM orders WHERE o_totalprice > 480000
        |GROUP BY 1""".stripMargin,

    "q85_filter_clause" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_tax = 0) AS DOUBLE) AS qty_no_tax
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q31_distinct_aggs" ->
      """SELECT l_linestatus,
        |  CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sd,
        |  COUNT(DISTINCT l_partkey) AS cd,
        |  CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / COUNT(DISTINCT l_quantity) AS avg_d
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q40_asof_tolerance" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, max(value) AS p_value FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.ts,
        |  CASE WHEN epoch_ns(v.ts) - epoch_ns(p.ts)
        |            <= CAST(3600 AS BIGINT) * 1000000000
        |       THEN p.p_value END AS asof_p_value
        |FROM v ASOF LEFT JOIN p
        |ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,

    "q33_asof" ->
      """SELECT v.event_id, v.user_id, v.ts, p.p_value AS asof_p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'view') v
        |ASOF LEFT JOIN
        |     (SELECT user_id, ts, max(value) AS p_value FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,

    "q62_asof_forward" ->
      """SELECT v.event_id, v.user_id, v.ts, p.p_value AS asof_p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'view') v
        |ASOF LEFT JOIN
        |     (SELECT user_id, ts, max(value) AS p_value FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |ON v.user_id = p.user_id AND v.ts <= p.ts""".stripMargin,

    // nearest = closer of DuckDB's backward (>=) and forward (<=)
    // ASOF picks, µs gaps, ties to backward — same rule as the engine
    "q82_asof_nearest" ->
      """WITH v AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    max(value) AS p_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (
        |  SELECT v.event_id, p.ts AS bt, p.p_value AS bv
        |  FROM v ASOF LEFT JOIN p
        |    ON v.user_id = p.user_id AND v.ts >= p.ts),
        |f AS (
        |  SELECT v.event_id, p.ts AS ft, p.p_value AS fv
        |  FROM v ASOF LEFT JOIN p
        |    ON v.user_id = p.user_id AND v.ts <= p.ts)
        |SELECT v.event_id, v.user_id, v.ts,
        |  CASE WHEN f.ft IS NULL OR (b.bt IS NOT NULL AND
        |      epoch_us(v.ts) - epoch_us(b.bt)
        |        <= epoch_us(f.ft) - epoch_us(v.ts))
        |    THEN b.bv ELSE f.fv END AS asof_p_value
        |FROM v
        |JOIN b ON b.event_id = v.event_id
        |JOIN f ON f.event_id = v.event_id""".stripMargin,

    "q32_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.k') AS VARCHAR) AS k_json
        |FROM events""".stripMargin,

    "q107_union_sort" ->
      """WITH src AS (
        |  SELECT event_id % 4 AS m,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |u AS (
        |  SELECT
        |    CASE WHEN m = 0 THEN 1 WHEN m = 1 THEN 2
        |         WHEN m = 2 THEN 4 ELSE 0 END AS type_rank,
        |    CASE WHEN m = 0 THEN CAST(k AS VARCHAR)
        |         WHEN m = 1 THEN CAST(k + 0.5 AS VARCHAR)
        |         WHEN m = 2 THEN CAST(k AS VARCHAR)
        |         ELSE 'NULL' END AS val_str,
        |    CASE WHEN m = 0 THEN CAST(k AS DOUBLE)
        |         WHEN m = 1 THEN k + 0.5 ELSE NULL END AS nk
        |  FROM src)
        |SELECT type_rank, val_str, CAST(COUNT(*) AS BIGINT) AS n
        |FROM u GROUP BY type_rank, val_str, nk
        |ORDER BY type_rank, nk, val_str""".stripMargin,

    "q108_union_orderby" ->
      """WITH src AS (
        |  SELECT event_id, event_id % 4 AS m,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |u AS (
        |  SELECT event_id,
        |    CASE WHEN m = 0 THEN 1 WHEN m = 1 THEN 2
        |         WHEN m = 2 THEN 4 ELSE 0 END AS type_rank,
        |    CASE WHEN m = 0 THEN CAST(k AS VARCHAR)
        |         WHEN m = 1 THEN CAST(k + 0.5 AS VARCHAR)
        |         WHEN m = 2 THEN CAST(k AS VARCHAR)
        |         ELSE 'NULL' END AS val_str,
        |    CASE WHEN m = 0 THEN CAST(k AS DOUBLE)
        |         WHEN m = 1 THEN k + 0.5 ELSE NULL END AS nk
        |  FROM src)
        |SELECT event_id, type_rank, val_str FROM u
        |ORDER BY type_rank DESC, nk DESC NULLS LAST,
        |  val_str DESC NULLS LAST, event_id
        |LIMIT 20""".stripMargin,

    "q109_union_groupby" ->
      """WITH u AS (
        |  SELECT CASE WHEN event_id % 2 = 0
        |      THEN CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR)
        |      ELSE '"' || CAST(CAST(json_extract(props, '$.k') AS BIGINT)
        |           AS VARCHAR) || '"' END AS val_json
        |  FROM events)
        |SELECT val_json, CAST(COUNT(*) AS BIGINT) AS n
        |FROM u GROUP BY 1""".stripMargin,

    "q110_union_join" ->
      """WITH src AS (
        |  SELECT event_id, event_id % 2 AS ty,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |a AS (SELECT ty, k, COUNT(*) AS na FROM src
        |      WHERE event_id % 4 < 2 GROUP BY 1, 2),
        |b AS (SELECT ty, k, COUNT(*) AS nb FROM src
        |      WHERE event_id % 4 >= 2 GROUP BY 1, 2)
        |SELECT CASE WHEN a.ty = 0 THEN 1 ELSE 4 END AS type_rank,
        |  CASE WHEN a.ty = 0 THEN CAST(a.k AS VARCHAR)
        |       ELSE '"' || CAST(a.k AS VARCHAR) || '"' END AS val_json,
        |  CAST(a.na AS BIGINT) AS na, CAST(b.nb AS BIGINT) AS nb
        |FROM a JOIN b ON a.ty = b.ty AND a.k = b.k""".stripMargin,

    "p54_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN source || '.co.uk'
        |         ELSE 'docs.' || source || '.com' END AS host,
        |    CASE WHEN doc_id % 4 = 0 THEN source || '.co.uk'
        |         ELSE source || '.com' END AS domain,
        |    CASE WHEN doc_id % 7 = 0 THEN '/'
        |         ELSE '/' || lang || '/doc' || CAST(doc_id AS VARCHAR)
        |         END AS path,
        |    CASE WHEN doc_id % 3 = 0 THEN 'id=' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 3 = 1 THEN array_to_string(list_sort(
        |           ['a=1', 'b=2', 'id=' || CAST(doc_id AS VARCHAR)]), '&')
        |         ELSE NULL END AS q
        |  FROM documents),
        |c AS (
        |  SELECT domain,
        |    'https://' || host || path || COALESCE('?' || q, '') AS curl
        |  FROM u)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_unique
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // expected visible text rebuilt from the construction arithmetic:
    // nav anchors + h1 + body text + the entity sentence decoded one
    // level + footer, single-space-joined and collapsed
    "t30_html_extract" ->
      ("""WITH e AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |    trim(regexp_replace(
        |      (CASE WHEN doc_id % 3 = 0 THEN 'Home About' ELSE 'Home' END)
        |      || ' Title ' || CAST(doc_id AS VARCHAR)
        |      || ' ' || text
        |      || ' Q & A <em> ''quoted'' end """
        + "©"
        + """ 2024 ' || source,
        |      '\s+', ' ', 'g')) AS extracted,
        |    CASE WHEN doc_id % 3 = 0 THEN 9 ELSE 4 END AS link_chars
        |  FROM documents)
        |SELECT doc_id, title, extracted,
        |  CAST(link_chars AS BIGINT) AS link_chars,
        |  CAST(length(extracted) AS BIGINT) AS text_chars
        |FROM e""").stripMargin,

    // re-inject the corruption and re-count it independently: same
    // length-difference arithmetic, DuckDB's own replace/regexp engine
    "t31_encoding_quality" ->
      """WITH c AS (
        |  SELECT source,
        |    text || ' '
        |      || repeat(chr(65533), CAST(doc_id % 3 AS INT))
        |      || repeat(chr(195) || chr(169), CAST(doc_id % 4 AS INT))
        |      || repeat(chr(7), CAST(doc_id % 2 AS INT)) AS s
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    length(s) - length(replace(s, chr(65533), '')) AS n_repl,
        |    length(s) - length(regexp_replace(s,
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS n_ctrl,
        |    (length(s) - length(replace(s, chr(195) || chr(169), ''))) // 2
        |      AS n_moji
        |  FROM c)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n_repl > 0 OR n_moji > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_suspect,
        |  CAST(SUM(n_repl) AS BIGINT) AS sum_repl,
        |  CAST(SUM(n_ctrl) AS BIGINT) AS sum_ctrl,
        |  CAST(SUM(n_moji) AS BIGINT) AS sum_moji
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-pattern occurrence replay via non-overlapping replace()
    // counts — equal to the automaton's all-occurrence counts because
    // every dictionary pattern is border-free (AhoCountSpec locks the
    // overlap semantics the oracle can't express)
    "t32_blocklist" ->
      """WITH p AS (
        |  SELECT unnest(['the', 'and', 'ing', 'tion', 'data', 'with',
        |                 'for', 'ment']) AS pat),
        |c AS (
        |  SELECT pat, doc_id,
        |    (length(text) - length(replace(text, pat, '')))
        |      // length(pat) AS cnt
        |  FROM documents CROSS JOIN p)
        |SELECT pat,
        |  CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs,
        |  CAST(SUM(cnt) AS BIGINT) AS n_occurrences
        |FROM c GROUP BY pat HAVING SUM(cnt) > 0 ORDER BY pat""".stripMargin,

    // construction-arithmetic replay: every sanitizing replace is
    // length-preserving, so sentence i's length = len('S')+len(i)+
    // len(' ') + (4 for the protected 'Dr. ' in sentence 1) +
    // len(slice_i) + 1 terminal; the separator whitespace is consumed
    // by the split and never counted
    "t33_sentences" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(doc_id % 4 + 2 AS INT) AS k
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, k,
        |    list_transform(range(0, k),
        |      i -> 4 + CASE WHEN i = 1 THEN 4 ELSE 0 END
        |           + length(substr(text, CAST(i * 23 + 1 AS INT),
        |               CAST(8 + i % 7 AS INT)))) AS lens
        |  FROM d)
        |SELECT doc_id,
        |  CAST(k AS BIGINT) AS n_sentences,
        |  CAST(list_sum(lens) AS BIGINT) AS total_chars,
        |  CAST(lens[1] AS BIGINT) AS len_first,
        |  CAST(lens[k] AS BIGINT) AS len_last
        |FROM l""".stripMargin,

    // injection-arithmetic replay over verified-ASCII text: raw counts
    // the decomposed pair as 2 cp; NFC composes it (-1 per); NFKC
    // additionally expands each ligature (+1) and folds fullwidth (0)
    "t34_normalization" ->
      """SELECT doc_id,
        |  CAST(length(text) + 2 * (doc_id % 3) + doc_id % 2
        |    + doc_id % 4 + doc_id % 5 AS BIGINT) AS raw_chars,
        |  CAST(length(text) + doc_id % 3 + doc_id % 2
        |    + doc_id % 4 + doc_id % 5 AS BIGINT) AS nfc_chars,
        |  CAST(length(text) + doc_id % 3 + 2 * (doc_id % 2)
        |    + doc_id % 4 + doc_id % 5 AS BIGINT) AS nfkc_chars,
        |  doc_id % 3 = 0 AS is_nfc
        |FROM documents""".stripMargin,

    // replay: same page construction, same trimmed-line doc-frequency
    // threshold, same ordered reassembly (d11's list_transform idiom
    // for positions)
    "d25_line_dedup" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter'
        |          ELSE 'Sign in to continue' END)
        |    || chr(10) || text || chr(10) || ' ' || chr(10)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved'
        |             ELSE 'Share this article' END) AS page
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(parts) + 1),
        |        j -> {'pos': j - 1, 'line': trim(parts[j])})) AS u
        |    FROM (SELECT doc_id, string_split(page, chr(10)) AS parts
        |          FROM pages))
        |  WHERE u.line <> ''),
        |rare AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS df FROM ls GROUP BY 1)
        |  WHERE df <= 3),
        |kept AS (
        |  SELECT ls.* FROM ls SEMI JOIN rare ON ls.line = rare.line),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY 1)
        |SELECT ls.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_in,
        |  CAST(COALESCE(ANY_VALUE(rebuilt.n_kept), 0) AS BIGINT)
        |    AS n_lines_kept,
        |  COALESCE(ANY_VALUE(rebuilt.cleaned), '') AS cleaned
        |FROM ls LEFT JOIN rebuilt ON ls.doc_id = rebuilt.doc_id
        |GROUP BY 1""".stripMargin,

    // brute-force DIRECTED pair replay over the same constructed
    // corpus: full shingle equijoin (no prefix filter, no df cap) —
    // the engine's candidate stack is gated lossless against it
    "d26_containment" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, ts, (2 * len(ts) + 4) // 5 AS k FROM t0),
        |corpus AS (
        |  SELECT doc_id, ts FROM t0
        |  UNION ALL
        |  SELECT doc_id + 1000000, ts[1:CAST(k AS INT)]
        |  FROM q WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    list_concat(ts[1:CAST(k AS INT)],
        |      ['zzzq', 'qqzx', 'wwvv', 'vvuu', 'uqzz'])
        |  FROM q WHERE doc_id % 7 = 1),
        |toks AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |      || ' ' || ts[CAST(i AS INT) + 2] AS tok
        |  FROM corpus, unnest(range(1, len(ts) - 1)) r(i)
        |  WHERE len(ts) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS n_inter
        |  FROM toks a JOIN toks b
        |    ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
        |FROM inter
        |JOIN sz sa ON sa.doc_id = doc_a
        |JOIN sz sb ON sb.doc_id = doc_b
        |WHERE 10 * n_inter >= 9 * sa.n
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the cap as a textbook window rank; 'docs.' hosts fold to the
    // same registered domain the Spark side extracts
    "p55_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CASE WHEN doc_id % 4 = 0 THEN source || '.co.uk'
        |         ELSE source || '.com' END AS domain
        |  FROM documents),
        |r AS (
        |  SELECT domain, doc_id, n_chars, row_number() OVER (
        |    PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM u)
        |SELECT domain, doc_id, n_chars FROM r WHERE rk <= 3""".stripMargin,

    // decision-table replay of RFC 9309 semantics: graftbot group
    // (even-length sources) = [Allow /private(8), Disallow /en(3)];
    // `*` group = [Disallow /private(8), Allow /private/ok(11),
    // Disallow /tmp(4)]; longest prefix wins, tie -> Allow, no match
    // -> allowed with rule_len 0
    "p56_robots_filter" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, CAST(doc_id % 5 AS INT) AS b,
        |    length(source) % 2 = 0 AS has_bot
        |  FROM documents),
        |dec AS (
        |  SELECT doc_id, source,
        |    CASE WHEN has_bot THEN
        |      CASE WHEN b IN (0, 1) THEN TRUE
        |           WHEN b = 2 AND lang = 'en' THEN FALSE
        |           ELSE TRUE END
        |    ELSE
        |      CASE WHEN b = 0 THEN FALSE WHEN b = 1 THEN TRUE
        |           WHEN b = 3 THEN FALSE ELSE TRUE END
        |    END AS allowed,
        |    CASE WHEN has_bot THEN
        |      CASE WHEN b IN (0, 1) THEN 8
        |           WHEN b = 2 AND lang = 'en' THEN 3 ELSE 0 END
        |    ELSE
        |      CASE WHEN b = 0 THEN 8 WHEN b = 1 THEN 11
        |           WHEN b = 3 THEN 4 ELSE 0 END
        |    END AS rule_len
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(sum(rule_len) AS BIGINT) AS sum_rule_len
        |FROM dec GROUP BY source ORDER BY source""".stripMargin,

    "q113_union_minmax" ->
      """WITH u AS (
        |  SELECT event_type, event_id % 2 AS ty,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  CASE WHEN COUNT(CASE WHEN ty = 0 THEN 1 END) > 0
        |       THEN CAST(MIN(CASE WHEN ty = 0 THEN k END) AS VARCHAR)
        |       ELSE '"' || MIN(CASE WHEN ty = 1
        |            THEN CAST(k AS VARCHAR) END) || '"' END AS min_json,
        |  CASE WHEN COUNT(CASE WHEN ty = 1 THEN 1 END) > 0
        |       THEN '"' || MAX(CASE WHEN ty = 1
        |            THEN CAST(k AS VARCHAR) END) || '"'
        |       ELSE CAST(MAX(CASE WHEN ty = 0 THEN k END) AS VARCHAR)
        |       END AS max_json,
        |  CAST(COUNT(DISTINCT (ty, k)) AS BIGINT) AS n_distinct
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q111_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q112_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q114_tpch_q7" ->
      """SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
        |  CAST(SUM(vol) AS DOUBLE) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2))
        |        - CAST(l_discount AS DECIMAL(4,2))) AS vol
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00') f
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q115_tpch_q9" ->
      """SELECT nation, CAST(o_year AS INT) AS o_year,
        |  CAST(SUM(profit) AS DOUBLE) AS sum_profit FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2))
        |        - CAST(l_discount AS DECIMAL(4,2)))
        |      - CAST(0.6 AS DECIMAL(3,2))
        |        * CAST(p_retailprice AS DECIMAL(12,2))
        |        * CAST(l_quantity AS DECIMAL(12,2)) AS profit
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE p_type = 'STANDARD') f
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q116_tpch_q2" ->
      """SELECT DISTINCT s_acctbal, s_name, p_partkey, p_brand
        |FROM part p
        |JOIN lineitem l ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |WHERE p_size = 15
        |  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
        |    FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100""".stripMargin,

    "q117_tpch_q11" ->
      """WITH lv AS (
        |  SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')
        |SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS value
        |FROM lv GROUP BY 1
        |HAVING SUM(val) > (SELECT SUM(val) FROM lv)
        |  * CAST(0.001 AS DECIMAL(4,3))
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q118_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q119_tpch_q20" ->
      """SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem l
        |  WHERE l.l_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_type = 'SMALL')
        |    AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(l_quantity) > 0.5 * (
        |    SELECT SUM(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey
        |      AND l2.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |      AND l2.l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |      AND l2.l_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_type = 'SMALL')))
        |ORDER BY s_name""".stripMargin,

    "p4_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, COUNT(*) AS n FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS distinct_tokens,
        |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_token_frac
        |FROM c GROUP BY doc_id""".stripMargin,

    "p7_intradoc_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
        |      j -> {'pos': j - 1, 'chunk': ts[j]})) AS u
        |    FROM toks)),
        |f AS (
        |  SELECT doc_id, chunk, min(pos) AS pos, count(*) AS n_rep
        |  FROM ch GROUP BY doc_id, chunk)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
        |  count(*) AS n_kept, CAST(sum(n_rep - 1) AS BIGINT) AS n_dropped
        |FROM f GROUP BY doc_id""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT text, min(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    "d17_exact_rows" ->
      """SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN (SELECT text, MIN(doc_id) AS m FROM documents GROUP BY text) g
        |  ON d.text = g.text AND d.doc_id = g.m""".stripMargin,

    "q50_global_rank" ->
      """SELECT event_id,
        |  ROW_NUMBER() OVER (ORDER BY value DESC NULLS LAST, event_id) AS rn,
        |  round(CAST(ROW_NUMBER() OVER (ORDER BY value DESC NULLS LAST,
        |      event_id) - 1 AS DOUBLE)
        |    / CASE WHEN COUNT(*) OVER () > 1
        |           THEN COUNT(*) OVER () - 1 ELSE 1 END, 6) AS pct_rank
        |FROM events""".stripMargin,

    "p1_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, lang FROM r WHERE rn <= 5""".stripMargin,

    "p2_split" ->
      """SELECT CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 10
        |            THEN 'eval' ELSE 'train' END AS split,
        |  lang, COUNT(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "p3_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |       '\s+', ' ', 'g')) AS norm,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |       '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents""".stripMargin,

    "d2_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
        |FROM common
        |JOIN sz za ON za.doc_id = id_a
        |JOIN sz zb ON zb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8""".stripMargin,

    "st15_stream_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(COUNT(*) AS BIGINT) AS n_found,
        |  1.0 AS recall_vs_exact
        |FROM pairs""".stripMargin,

    "d3_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(COUNT(*) AS BIGINT) AS n_found,
        |  1.0 AS recall_vs_exact
        |FROM pairs""".stripMargin,

    // the stored index's row arithmetic: every corpus doc (doc_id % 10
    // <> 0) with >=1 shingle surviving the doc-frequency cap carries
    // exactly 4 band rows (k=32 minhash in 4 bands)
    "d19_index_build" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |corpus AS (SELECT DISTINCT doc_id FROM sh WHERE doc_id % 10 <> 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) * 4 AS BIGINT) AS n_index_rows
        |FROM corpus""".stripMargin,

    "d19_index_probe" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE)
        |        / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8
        |    AND (id_a % 10 = 0) <> (id_b % 10 = 0))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM pairs""".stripMargin,

    "d4_simhash" -> d4SimhashSql,

    "d7_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8),
        |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (
        |  SELECT id, id AS comp FROM nodes
        |  UNION
        |  SELECT e.b AS id, lbl.comp FROM lbl JOIN edges e ON e.a = lbl.id),
        |final AS (SELECT id, MIN(comp) AS comp FROM lbl GROUP BY id)
        |SELECT comp AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM final GROUP BY comp""".stripMargin,

    "p34_length_histogram" ->
      """SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS log2_bucket,
        |       COUNT(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    // t2's quality expression + a plain global ROW_NUMBER
    "p33_curriculum" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |derived AS (
         |  SELECT doc_id, text, punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(list_transform(string_split_regex(trim(lower(text)), '\\s+'), x -> x),
         |                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
         |  FROM base),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.25
         |      + least(stopword_ratio * 5.0, 1.0) * 0.25, 6) AS q
         |  FROM derived)
         |SELECT doc_id, q,
         |  row_number() OVER (ORDER BY q DESC, doc_id) AS curriculum_pos
         |FROM q""".stripMargin,

    "p53_partition_fingerprint" ->
      """WITH base AS (
        |  SELECT source, doc_id, text FROM documents),
        |newe AS (
        |  SELECT source, doc_id,
        |    CASE WHEN doc_id % 97 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 89 <> 5),
        |fb AS (
        |  SELECT source, COUNT(*) AS n,
        |    SUM(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS DECIMAL(38,0))) AS f
        |  FROM base GROUP BY 1),
        |fn AS (
        |  SELECT source, COUNT(*) AS n,
        |    SUM(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS DECIMAL(38,0))) AS f
        |  FROM newe GROUP BY 1)
        |SELECT COALESCE(b.source, n.source) AS source,
        |  CAST(COALESCE(b.n, 0) AS BIGINT) AS n_base,
        |  CAST(COALESCE(n.n, 0) AS BIGINT) AS n_new,
        |  (b.f IS DISTINCT FROM n.f OR b.n IS DISTINCT FROM n.n) AS changed
        |FROM fb b FULL OUTER JOIN fn n ON b.source = n.source""".stripMargin,

    "p31_compaction_plan" ->
      """WITH listing AS (
        |  SELECT source AS part, 'f' || doc_id || '.parquet' AS file,
        |         n_chars * 100 AS bytes
        |  FROM documents),
        |c AS (
        |  SELECT part, file, bytes,
        |    coalesce(SUM(bytes) OVER (PARTITION BY part
        |      ORDER BY bytes DESC, file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM listing)
        |SELECT part, file, CAST(bytes AS BIGINT) AS bytes,
        |       CAST(cum // 1000000 AS BIGINT) AS group_id
        |FROM c""".stripMargin,

    "p35_weighted_sample" ->
      """SELECT doc_id,
        |  greatest(CAST(n_chars AS DOUBLE), 1.0) AS weight,
        |  round(ln((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
        |           / 4294967296.0)
        |        / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS sel_key
        |FROM documents
        |ORDER BY ln((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
        |            / 4294967296.0)
        |         / greatest(CAST(n_chars AS DOUBLE), 1.0) DESC, doc_id
        |LIMIT 50""".stripMargin,

    // winnowing replica: positional 3-gram poly hashes, 4-window min
    // (QUALIFY p >= 4 keeps only full windows; the fingerprint SET is
    // the distinct window minima), df-capped pair counts
    "d23_winnowing" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |gsrc AS (
        |  SELECT doc_id,
        |    array_to_string(ts[CAST(p AS INT):CAST(p AS INT) + 2], ' ') AS g,
        |    p
        |  FROM (SELECT doc_id, ts, CAST(unnest(range(1, len(ts) - 1)) AS BIGINT) AS p
        |        FROM toks WHERE len(ts) >= 3)),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(g) + 1),
        |        i -> CAST(ascii(substr(g, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM gsrc),
        |wmins AS (
        |  SELECT doc_id, p AS e,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM grams QUALIFY p >= 4),
        |fps AS MATERIALIZED (SELECT DISTINCT doc_id, wmin AS fp FROM wmins),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
        |fpk AS MATERIALIZED (
        |  SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_common
        |FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5""".stripMargin,

    "d24_prefix_jaccard" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |toks AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |      || ' ' || ts[CAST(i AS INT) + 2] AS tok
        |  FROM t0, unnest(range(1, len(ts) - 1)) r(i)
        |  WHERE len(ts) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union
        |FROM inter
        |JOIN sz sa ON sa.doc_id = doc_a
        |JOIN sz sb ON sb.doc_id = doc_b
        |WHERE 9 * n_inter >= 4 * (sa.n + sb.n)""".stripMargin,

    "d22_edit_verify" ->
      """WITH toks AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(c AS DOUBLE) / CAST(za.n_sh + zb.n_sh - c AS DOUBLE) >= 0.7)
        |SELECT id_a, id_b,
        |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
        |FROM cand
        |JOIN documents ta ON ta.doc_id = id_a
        |JOIN documents tb ON tb.doc_id = id_b
        |WHERE levenshtein(ta.text, tb.text) <= 100""".stripMargin,

    // t2's quality expression + the portable-hash coin flip
    "p30_quality_sampling" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |derived AS (
         |  SELECT doc_id, text, punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(list_transform(string_split_regex(trim(lower(text)), '\\s+'), x -> x),
         |                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
         |  FROM base),
         |q AS (
         |  SELECT doc_id,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.25
         |      + least(stopword_ratio * 5.0, 1.0) * 0.25 AS q,
         |    CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
         |      / 4294967296.0 AS u
         |  FROM derived)
         |SELECT doc_id, round(q, 6) AS q FROM q WHERE u < q""".stripMargin,

    "d21_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / CAST(za.n_sh AS DOUBLE) AS containment
        |FROM common JOIN sz za ON za.doc_id = id_a
        |WHERE CAST(c AS DOUBLE) / CAST(za.n_sh AS DOUBLE) >= 0.9""".stripMargin,

    // fixture parameters replayed arithmetically; integer division
    // (//) replays the Long division in the Scala side exactly
    "m9_mp4_header" ->
      """SELECT doc_id, 'isom' AS brand,
        |  CAST(1000 * (doc_id % 3 + 1) AS BIGINT) AS timescale,
        |  CAST(doc_id % 5000 + 1000 AS BIGINT) AS duration,
        |  CAST((doc_id % 5000 + 1000) * 1000
        |       // (1000 * (doc_id % 3 + 1)) AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 320 + 64 AS BIGINT) AS width,
        |  CAST(doc_id % 240 + 48 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS n_top_boxes
        |FROM documents""".stripMargin,

    "m10_mp3_scan" ->
      """SELECT doc_id,
        |  CAST(doc_id % 30 + 5 AS BIGINT) AS n_frames,
        |  CAST(([128,160,192,224,256])[CAST(doc_id % 5 AS INT) + 1]
        |       AS BIGINT) AS bitrate_kbps,
        |  CAST(([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1]
        |       AS BIGINT) AS sample_rate,
        |  CAST((doc_id % 30 + 5) * 1152 * 1000
        |       // ([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1]
        |       AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "m13_tiff_header" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(doc_id % 400 + 12 AS BIGINT) AS width,
        |  CAST(doc_id % 260 + 12 AS BIGINT) AS height,
        |  CAST(([1,2,4,8])[CAST(doc_id % 4 AS INT) + 1] AS BIGINT)
        |    AS bits_per_sample
        |FROM documents""".stripMargin,

    "m14_webp_header" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'VP8X' ELSE 'VP8L' END AS variant,
        |  CAST(doc_id % 300 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 200 + 1 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "m16_jpeg_exif" ->
      """SELECT doc_id,
        |  CAST(doc_id % 480 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 360 + 1 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS components,
        |  doc_id % 3 = 0 AS progressive,
        |  CAST(doc_id % 8 + 1 AS BIGINT) AS orientation
        |FROM documents""".stripMargin,

    "m17_id3_mp4_tree" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT)
        |    AS id3_version,
        |  'title ' || CAST(doc_id AS VARCHAR) AS title,
        |  'artist ' || CAST(doc_id % 7 AS VARCHAR) AS artist,
        |  'album ' || CAST(doc_id % 5 AS VARCHAR) AS album,
        |  CASE WHEN doc_id % 3 = 0 THEN 'avc1'
        |       WHEN doc_id % 3 = 1 THEN 'hvc1'
        |       ELSE 'mp4v' END AS codec
        |FROM documents""".stripMargin,

    // full IMA state-machine replay, one recursion step per nibble:
    // step table as a list literal, bit tests as integer div/mod,
    // the same clamps — an independent decode of the same bitstream
    "m18_adpcm_decode" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 100 + 50 AS INT) AS n,
        |    8000 + (doc_id % 3) * 4000 AS sr,
        |    CAST((doc_id * 31) % 2048 - 1024 AS INT) AS pred0,
        |    CAST(doc_id % 89 AS INT) AS idx0
        |  FROM documents),
        |dec AS (
        |  SELECT doc_id, n, sr, 0 AS i, pred0 AS pred, idx0 AS idx,
        |    ABS(pred0) AS peak, CAST(ABS(pred0) AS BIGINT) AS sum_abs
        |  FROM d0
        |  UNION ALL
        |  SELECT doc_id, n, sr, i + 1, pred2, idx2,
        |    GREATEST(peak, ABS(pred2)), sum_abs + ABS(pred2)
        |  FROM (
        |    SELECT *,
        |      LEAST(32767, GREATEST(-32768,
        |        CASE WHEN code >= 8 THEN pred - delta
        |             ELSE pred + delta END)) AS pred2,
        |      LEAST(88, GREATEST(0, idx + CASE WHEN code % 8 < 4 THEN -1
        |        WHEN code % 8 = 4 THEN 2 WHEN code % 8 = 5 THEN 4
        |        WHEN code % 8 = 6 THEN 6 ELSE 8 END)) AS idx2
        |    FROM (
        |      SELECT *,
        |        step // 8
        |        + CASE WHEN code % 2 = 1 THEN step // 4 ELSE 0 END
        |        + CASE WHEN (code // 2) % 2 = 1 THEN step // 2 ELSE 0 END
        |        + CASE WHEN (code // 4) % 2 = 1 THEN step ELSE 0 END
        |          AS delta
        |      FROM (
        |        SELECT dec.*,
        |          CAST((doc_id * 7 + i * 13) % 16 AS INT) AS code,
        |          ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
        |            41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
        |            173,190,209,230,253,279,307,337,371,408,449,494,544,
        |            598,658,724,796,876,963,1060,1166,1282,1411,1552,
        |            1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
        |            4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
        |            11487,12635,13899,15289,16818,18500,20350,22385,
        |            24623,27086,29794,32767])[idx + 1] AS step
        |        FROM dec WHERE i < n) q1) q2) q3)
        |SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(n + 1 AS BIGINT) AS n_samples,
        |  CAST(peak AS BIGINT) AS peak, sum_abs,
        |  CAST(pred AS BIGINT) AS last_sample
        |FROM dec WHERE i = n""".stripMargin,

    // the exact ITU G.711 expansion formulas, byte -> complement/xor
    // intermediate -> magnitude shift, per companding law
    "m19_g711_decode" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 80 + 40 AS INT) AS n,
        |    doc_id % 2 = 0 AS is_u
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, n, is_u,
        |    CASE WHEN is_u THEN
        |      list_transform(
        |        list_transform(range(0, n),
        |          i -> CAST(255 - ((doc_id * 11 + i * 29) % 256) AS INT)),
        |        u -> CASE WHEN u >= 128
        |          THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
        |          ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
        |          END)
        |    ELSE
        |      list_transform(
        |        list_transform(range(0, n),
        |          i -> xor(CAST((doc_id * 11 + i * 29) % 256 AS INT), 85)),
        |        a -> (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
        |          (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
        |                ELSE ((a % 16) * 16 + 264)
        |                  * (1 << ((a // 16) % 8 - 1)) END))
        |    END AS smp
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN is_u THEN 'ulaw' ELSE 'alaw' END AS law,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
        |  CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT)
        |    AS sum_abs,
        |  CAST(smp[1] AS BIGINT) AS first_sample,
        |  CAST(smp[n] AS BIGINT) AS last_sample
        |FROM ex""".stripMargin,

    // m19's expansion formulas feed the same interpolation arithmetic
    // the engine runs; both sides truncate signed quotients toward
    // zero (DuckDB `//` semantics, Scala `/` semantics)
    "m21_resample_16k" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(doc_id % 80 + 40 AS INT) AS n,
        |    doc_id % 2 = 0 AS is_u,
        |    CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 44100 END AS src
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, n, src,
        |    CASE WHEN is_u THEN
        |      list_transform(
        |        list_transform(range(0, n),
        |          i -> CAST(255 - ((doc_id * 11 + i * 29) % 256) AS INT)),
        |        u -> CASE WHEN u >= 128
        |          THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
        |          ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
        |          END)
        |    ELSE
        |      list_transform(
        |        list_transform(range(0, n),
        |          i -> xor(CAST((doc_id * 11 + i * 29) % 256 AS INT), 85)),
        |        a -> (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
        |          (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
        |                ELSE ((a % 16) * 16 + 264)
        |                  * (1 << ((a // 16) % 8 - 1)) END))
        |    END AS smp
        |  FROM s),
        |rs AS (
        |  SELECT doc_id, src,
        |    ((n - 1) * 16000 + src - 1) // src AS m,
        |    list_transform(
        |      range(0, ((n - 1) * 16000 + src - 1) // src),
        |      j -> (smp[CAST((j * src) // 16000 AS INT) + 1]
        |              * (16000 - (j * src) % 16000)
        |            + smp[CAST((j * src) // 16000 AS INT) + 2]
        |              * ((j * src) % 16000)) // 16000) AS out
        |  FROM ex)
        |SELECT doc_id, CAST(src AS BIGINT) AS src_rate,
        |  CAST(m AS BIGINT) AS n_out,
        |  CAST(list_max(list_transform(out, x -> abs(x))) AS BIGINT)
        |    AS peak,
        |  CAST(list_sum(list_transform(out, x -> abs(x))) AS BIGINT)
        |    AS sum_abs,
        |  CAST(out[1] AS BIGINT) AS first_out,
        |  CAST(out[CAST(m AS INT)] AS BIGINT) AS last_out
        |FROM rs""".stripMargin,

    // independent re-encoder: the oracle rebuilds every WARC record as
    // a string (CRLFs via chr()) and measures it — file_bytes pins the
    // whole framing byte-for-byte, block_len/body_len pin the
    // Content-Length round-trip, http_status the status-line split
    "m22_warc_records" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '200 OK'
        |      WHEN 1 THEN '301 Moved Permanently'
        |      ELSE '404 Not Found' END AS sline,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 200
        |      WHEN 1 THEN 301 ELSE 404 END AS scode,
        |    'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    chr(13) || chr(10) AS nl,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blen
        |  FROM documents),
        |b AS (
        |  SELECT *,
        |    'software: graft/1.0' || nl
        |      || 'format: WARC File Format 1.1' || nl AS b1,
        |    'GET /doc/' || CAST(doc_id AS VARCHAR) || ' HTTP/1.1' || nl
        |      || 'Host: example.com' || nl
        |      || 'User-Agent: graftbot/1.0' || nl || nl AS b2,
        |    'HTTP/1.1 ' || sline || nl
        |      || 'Content-Type: text/plain; charset=utf-8' || nl
        |      || 'Content-Length: ' || CAST(blen AS VARCHAR) || nl || nl
        |      || text AS b3
        |  FROM d),
        |r AS (
        |  SELECT *,
        |    'WARC/1.0' || nl || 'WARC-Type: warcinfo' || nl
        |      || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |      || lpad(CAST(doc_id * 3 AS VARCHAR), 12, '0') || '>' || nl
        |      || 'WARC-Date: 2026-01-01T00:00:00Z' || nl
        |      || 'Content-Type: application/warc-fields' || nl
        |      || 'Content-Length: '
        |      || CAST(octet_length(CAST(b1 AS BLOB)) AS VARCHAR)
        |      || nl || nl || b1 || nl || nl AS r1,
        |    'WARC/1.0' || nl || 'WARC-Type: request' || nl
        |      || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |      || lpad(CAST(doc_id * 3 + 1 AS VARCHAR), 12, '0') || '>' || nl
        |      || 'WARC-Date: 2026-01-01T00:00:00Z' || nl
        |      || 'WARC-Target-URI: ' || uri || nl
        |      || 'Content-Type: application/http;msgtype=request' || nl
        |      || 'Content-Length: '
        |      || CAST(octet_length(CAST(b2 AS BLOB)) AS VARCHAR)
        |      || nl || nl || b2 || nl || nl AS r2,
        |    'WARC/1.0' || nl || 'WARC-Type: response' || nl
        |      || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |      || lpad(CAST(doc_id * 3 + 2 AS VARCHAR), 12, '0') || '>' || nl
        |      || 'WARC-Date: 2026-01-01T00:00:00Z' || nl
        |      || 'WARC-Target-URI: ' || uri || nl
        |      || 'Content-Type: application/http;msgtype=response' || nl
        |      || 'Content-Length: '
        |      || CAST(octet_length(CAST(b3 AS BLOB)) AS VARCHAR)
        |      || nl || nl || b3 || nl || nl AS r3
        |  FROM b),
        |f AS (
        |  SELECT *,
        |    CAST(octet_length(CAST(r1 || r2 || r3 AS BLOB)) AS BIGINT)
        |      AS file_bytes
        |  FROM r)
        |SELECT doc_id, CAST(0 AS BIGINT) AS rec_idx,
        |  'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS uri,
        |  CAST(octet_length(CAST(b1 AS BLOB)) AS BIGINT) AS block_len,
        |  CAST(NULL AS BIGINT) AS http_status,
        |  CAST(NULL AS BIGINT) AS body_len, file_bytes
        |FROM f
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), 'request', uri,
        |  CAST(octet_length(CAST(b2 AS BLOB)) AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), file_bytes
        |FROM f
        |UNION ALL
        |SELECT doc_id, CAST(2 AS BIGINT), 'response', uri,
        |  CAST(octet_length(CAST(b3 AS BLOB)) AS BIGINT),
        |  CAST(scode AS BIGINT), blen, file_bytes
        |FROM f""".stripMargin,

    // construction-arithmetic replay: cue count/id parity from the
    // modulus schedule, timestamps from the start/duration formulas,
    // payload chars from the same substr slice (newlines flattened
    // identically) — the engine side must RE-DERIVE all of these from
    // the VTT text it parsed
    "m23_vtt_cues" ->
      """WITH d AS (
        |  SELECT doc_id, text, doc_id % 7 + 2 AS n, doc_id % 997 AS s0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_cues,
        |  CAST((n + 1) // 2 AS BIGINT) AS n_with_id,
        |  CAST(s0 AS BIGINT) AS first_start,
        |  CAST((n - 1) * 3000 + s0 + 800 + ((n - 1) * 37 % 1200)
        |    AS BIGINT) AS last_end,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 800 + (i * 37 % 1200))) AS BIGINT) AS total_dur,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> length('w' || CAST(i AS VARCHAR) || ':'
        |           || replace(replace(substr(text, CAST(i * 17 + 1 AS INT),
        |                CAST(10 + i % 5 AS INT)), chr(10), ' '),
        |              chr(13), ' '))
        |         + CASE WHEN i % 3 = 0
        |             THEN length('[x' || CAST(i AS VARCHAR) || ']') + 1
        |             ELSE 0 END)) AS BIGINT) AS n_payload_chars
        |FROM d""".stripMargin,

    // block-arithmetic replay: member byte offsets as window
    // prefix-sums over 512-padded sizes in (doc_id, .txt-then-.cls)
    // order; shard total = member blocks + the 1024-byte zero trailer
    "m24_tar_webdataset" ->
      """WITH d AS (
        |  SELECT doc_id, text, lang, source,
        |    CAST(doc_id // 16 AS BIGINT) AS bucket
        |  FROM documents),
        |m AS (
        |  SELECT source, bucket, doc_id * 2 AS ord,
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS name,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size
        |  FROM d
        |  UNION ALL
        |  SELECT source, bucket, doc_id * 2 + 1,
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.cls',
        |    CAST(octet_length(CAST(lang AS BLOB)) AS BIGINT)
        |  FROM d)
        |SELECT source, bucket, name, size,
        |  CAST(512 + COALESCE(SUM(512 + ((size + 511) // 512) * 512)
        |    OVER (PARTITION BY source, bucket ORDER BY ord
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS data_offset,
        |  CAST(SUM(512 + ((size + 511) // 512) * 512)
        |    OVER (PARTITION BY source, bucket) + 1024 AS BIGINT)
        |    AS shard_bytes,
        |  CAST(COUNT(*) OVER (PARTITION BY source, bucket) // 2
        |    AS BIGINT) AS n_samples
        |FROM m""".stripMargin,

    // decompressed-side replay: plain_len re-derives each record's
    // framed length with m22's exact string arithmetic; the gzip walk
    // itself is pinned by the engine-verified crc/isize/tiling booleans
    // (compressed sizes are deflate-implementation-defined and never
    // asserted)
    "m25_warc_gzip" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '200 OK'
        |      WHEN 1 THEN '301 Moved Permanently'
        |      ELSE '404 Not Found' END AS sline,
        |    'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    chr(13) || chr(10) AS nl,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blen
        |  FROM documents),
        |b AS (
        |  SELECT *,
        |    'software: graft/1.0' || nl
        |      || 'format: WARC File Format 1.1' || nl AS b1,
        |    'HTTP/1.1 ' || sline || nl
        |      || 'Content-Type: text/plain; charset=utf-8' || nl
        |      || 'Content-Length: ' || CAST(blen AS VARCHAR) || nl || nl
        |      || text AS b3
        |  FROM d),
        |r AS (
        |  SELECT *,
        |    'WARC/1.0' || nl || 'WARC-Type: warcinfo' || nl
        |      || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |      || lpad(CAST(doc_id * 3 AS VARCHAR), 12, '0') || '>' || nl
        |      || 'WARC-Date: 2026-01-01T00:00:00Z' || nl
        |      || 'Content-Type: application/warc-fields' || nl
        |      || 'Content-Length: '
        |      || CAST(octet_length(CAST(b1 AS BLOB)) AS VARCHAR)
        |      || nl || nl || b1 || nl || nl AS r1,
        |    'WARC/1.0' || nl || 'WARC-Type: response' || nl
        |      || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |      || lpad(CAST(doc_id * 3 + 2 AS VARCHAR), 12, '0') || '>' || nl
        |      || 'WARC-Date: 2026-01-01T00:00:00Z' || nl
        |      || 'WARC-Target-URI: ' || uri || nl
        |      || 'Content-Type: application/http;msgtype=response' || nl
        |      || 'Content-Length: '
        |      || CAST(octet_length(CAST(b3 AS BLOB)) AS VARCHAR)
        |      || nl || nl || b3 || nl || nl AS r3
        |  FROM b)
        |SELECT doc_id, CAST(0 AS BIGINT) AS member_idx,
        |  CAST(octet_length(CAST(r1 AS BLOB)) AS BIGINT) AS plain_len,
        |  'warcinfo' AS warc_type,
        |  CAST(octet_length(CAST(b1 AS BLOB)) AS BIGINT) AS block_len,
        |  TRUE AS crc_ok, TRUE AS isize_ok, TRUE AS walk_exact
        |FROM r
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT),
        |  CAST(octet_length(CAST(r3 AS BLOB)) AS BIGINT), 'response',
        |  CAST(octet_length(CAST(b3 AS BLOB)) AS BIGINT),
        |  TRUE, TRUE, TRUE
        |FROM r""".stripMargin,

    // lacing-arithmetic replay: page bytes = 27-byte header + lacing
    // table (size//255 + 1 values, the trailing-0 rule makes the
    // formula exact for 255-multiples too) + payload; CRC/flag/seq
    // checks are engine-verified booleans
    "m26_ogg_pages" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n),
        |      i -> ((doc_id * 7 + i * 13) % 600) + 1) AS sizes
        |  FROM d)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_pages,
        |  CAST(n AS BIGINT) AS n_packets,
        |  CAST(list_sum(sizes) AS BIGINT) AS total_payload,
        |  CAST(n * 960 AS BIGINT) AS last_granule,
        |  CAST(list_sum(list_transform(sizes,
        |    z -> 27 + (z // 255 + 1) + z)) AS BIGINT) AS file_bytes,
        |  TRUE AS all_crc_ok, TRUE AS bos_eos_ok, TRUE AS seq_ok
        |FROM s""".stripMargin,

    // frame-length arithmetic replay: frameLen = 144000·br//rate (no
    // padding), file = (n+1) frames, duration truncating-integer
    "m29_mp3_xing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
        |      WHEN 1 THEN 48000 ELSE 32000 END AS rate,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 128
        |      WHEN 1 THEN 192 WHEN 2 THEN 64 ELSE 256 END AS br,
        |    doc_id % 30 + 5 AS n
        |  FROM documents),
        |f AS (
        |  SELECT *, 144000 * br // rate AS flen FROM d)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Xing' ELSE 'Info' END AS tag,
        |  CAST(n AS BIGINT) AS xing_frames,
        |  CAST((n + 1) * flen AS BIGINT) AS xing_bytes,
        |  CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(n + 1 AS BIGINT) AS scan_frames,
        |  CAST((n + 1) * flen AS BIGINT) AS file_bytes
        |FROM f""".stripMargin,

    // construction replay: comment chars piecewise (TITLE=Doc <id>,
    // ARTIST=<source>, LANGUAGE=<lang>, even-id ALBUM=Set <d>), file
    // bytes = 67 fixed (magic + STREAMINFO + headers + vendor frame)
    // + 4 per comment + comment chars + 18 per seekpoint
    "m30_flac_meta" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 6 + 1 AS BIGINT) AS nseek,
        |    3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS nc,
        |    (10 + length(CAST(doc_id AS VARCHAR)))
        |      + (7 + length(source)) + (9 + length(lang))
        |      + CASE WHEN doc_id % 2 = 0 THEN 11 ELSE 0 END AS cc
        |  FROM documents)
        |SELECT doc_id, '0,4,3' AS block_types, 'graft 1.0' AS vendor,
        |  CAST(nc AS BIGINT) AS n_comments,
        |  CAST(cc AS BIGINT) AS comment_chars,
        |  nseek AS n_seek,
        |  CAST((nseek - 1) * 4096 AS BIGINT) AS last_seek_sample,
        |  CAST(67 + 4 * nc + cc + 18 * nseek AS BIGINT) AS file_bytes
        |FROM d""".stripMargin,

    // STORED layout arithmetic: txt entry at offset 0, cls at
    // 42 + size(txt) (30-byte local header + 12-char name); file =
    // locals (42+size each) + centrals (58 each) + 22-byte EOCD
    "m31_zip_directory" ->
      """WITH d AS (
        |  SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 8, '0') AS k,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS st,
        |    CAST(octet_length(CAST(lang AS BLOB)) AS BIGINT) AS sl
        |  FROM documents)
        |SELECT doc_id, k || '.txt' AS name, st AS size,
        |  CAST(0 AS BIGINT) AS local_offset, CAST(0 AS BIGINT) AS method,
        |  TRUE AS local_ok, TRUE AS crc_match,
        |  CAST(222 + st + sl AS BIGINT) AS file_bytes
        |FROM d
        |UNION ALL
        |SELECT doc_id, k || '.cls', sl, CAST(42 + st AS BIGINT),
        |  CAST(0 AS BIGINT), TRUE, TRUE, CAST(222 + st + sl AS BIGINT)
        |FROM d""".stripMargin,

    // per-record replay over the same 48-doc slice: framed HTTP block
    // length via m22's arithmetic, body chars = document chars
    "m27_warc_source" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '200 OK'
        |      WHEN 1 THEN '301 Moved Permanently'
        |      ELSE '404 Not Found' END AS sline,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 200
        |      WHEN 1 THEN 301 ELSE 404 END AS scode,
        |    chr(13) || chr(10) AS nl,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blen
        |  FROM documents WHERE doc_id < 48)
        |SELECT
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
        |    AS target_uri,
        |  CAST(scode AS BIGINT) AS http_status,
        |  CAST(octet_length(CAST('HTTP/1.1 ' || sline || nl
        |    || 'Content-Type: text/plain; charset=utf-8' || nl
        |    || 'Content-Length: ' || CAST(blen AS VARCHAR) || nl || nl
        |    || text AS BLOB)) AS BIGINT) AS content_length,
        |  CAST(length(text) AS BIGINT) AS body_chars
        |FROM d""".stripMargin,

    // m27's construction arithmetic, sharded: shard = doc_id % 64,
    // per-shard ordinal = doc_id // 64 (records are written in doc_id
    // order within each shard), declared length = the HTTP block
    "m32_warc_shards" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '200 OK'
        |      WHEN 1 THEN '301 Moved Permanently'
        |      ELSE '404 Not Found' END AS sline,
        |    chr(13) || chr(10) AS nl,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS blen
        |  FROM documents WHERE doc_id < 256)
        |SELECT
        |  CAST(doc_id % 64 AS BIGINT) AS shard,
        |  CAST(doc_id // 64 AS BIGINT) AS record_idx,
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
        |    AS target_uri,
        |  CAST(octet_length(CAST('HTTP/1.1 ' || sline || nl
        |    || 'Content-Type: text/plain; charset=utf-8' || nl
        |    || 'Content-Length: ' || CAST(blen AS VARCHAR) || nl || nl
        |    || text AS BLOB)) AS BIGINT) AS content_length,
        |  '2026-01-01T00:00:00Z' AS warc_date
        |FROM d""".stripMargin,

    // crawl composite replay: the 200-status subset (doc_id % 3 = 0 by
    // the fixture's status arithmetic), then the t30-style extraction
    // replay over the constructed HTML (nav anchor 'Home' = 4 chars)
    "m33_crawl_extract" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 192 AND doc_id % 3 = 0),
        |e AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |    trim(regexp_replace(
        |      'Home Title ' || CAST(doc_id AS VARCHAR) || ' ' || text,
        |      '\s+', ' ', 'g')) AS extracted
        |  FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, title, extracted,
        |  CAST(4 AS BIGINT) AS link_chars,
        |  CAST(length(extracted) AS BIGINT) AS text_chars
        |FROM e""".stripMargin,

    // m24's block arithmetic replayed over the written shard: members
    // in (doc_id, txt-then-cls) order, offset = window prefix-sum
    "m28_tar_source" ->
      """WITH d AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id < 48),
        |m AS (
        |  SELECT doc_id * 2 AS ord,
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS name,
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS sample_key,
        |    'txt' AS ext,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size,
        |    CAST(length(text) AS BIGINT) AS text_chars
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id * 2 + 1,
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.cls',
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0'), 'cls',
        |    CAST(octet_length(CAST(lang AS BLOB)) AS BIGINT),
        |    CAST(length(lang) AS BIGINT)
        |  FROM d)
        |SELECT name, sample_key, ext, size,
        |  CAST(512 + COALESCE(SUM(512 + ((size + 511) // 512) * 512)
        |    OVER (ORDER BY ord
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS data_offset,
        |  text_chars
        |FROM m""".stripMargin,

    // contiguous-layout arithmetic replay: the engine derives offset_k
    // through stsc/stco/stsz; the oracle derives it as dataStart +
    // prefix-sum — equality proves the chunk-table walk
    "m20_mp4_samples" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    doc_id % 20 + 5 AS n,
        |    512 + (doc_id % 7) * 64 AS d1,
        |    512 + (doc_id % 7) * 64 + 256 AS d2,
        |    doc_id % 4 + 1 AS spc,
        |    list_transform(range(0, doc_id % 20 + 5),
        |      i -> 100 + (doc_id * 7 + i * 13) % 90) AS sizes
        |  FROM documents),
        |k0 AS (SELECT *, doc_id % n AS k, n // 2 AS n1 FROM s)
        |SELECT doc_id,
        |  n AS n_samples,
        |  (n + spc - 1) // spc AS n_chunks,
        |  n1 * d1 + (n - n1) * d2 AS duration_ticks,
        |  CAST(list_sum(sizes) AS BIGINT) AS total_bytes,
        |  CAST(list_max(sizes) AS BIGINT) AS max_size,
        |  k,
        |  CASE WHEN k < n1 THEN k * d1
        |       ELSE n1 * d1 + (k - n1) * d2 END AS ts_k,
        |  4096 + CAST(COALESCE(list_sum(sizes[1:k]), 0) AS BIGINT)
        |    AS offset_k,
        |  k // spc + 1 AS chunk_k
        |FROM k0""".stripMargin,

    "m15_flac_header" ->
      """SELECT doc_id,
        |  CAST(([8000,16000,22050,44100,48000])[CAST(doc_id % 5 AS INT) + 1]
        |    AS BIGINT) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 24 ELSE 16 END AS BIGINT)
        |    AS bits_per_sample,
        |  CAST((doc_id % 60000000) * 1000 + 1 AS BIGINT) AS total_samples,
        |  ((doc_id % 60000000) * 1000 + 1) * 1000 //
        |    ([8000,16000,22050,44100,48000])[CAST(doc_id % 5 AS INT) + 1]
        |    AS duration_ms
        |FROM documents""".stripMargin,

    "m11_gif_bmp_header" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'bmp' END AS fmt,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 200 + 10
        |            ELSE doc_id % 300 + 8 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 150 + 10
        |            ELSE doc_id % 100 + 8 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 + 1
        |            ELSE ([1,4,8,24])[CAST(doc_id % 4 AS INT) + 1]
        |       END AS BIGINT) AS bits,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |            THEN ([2,4,8,16,32,64,128,256])
        |                   [CAST(doc_id % 8 AS INT) + 1]
        |            ELSE 0 END AS BIGINT) AS palette
        |FROM documents""".stripMargin,

    // encoder fixture: TYPE_INT_RGB -> 8-bit truecolor (type 2)
    "m7_png_header" ->
      """SELECT doc_id,
        |  CAST(doc_id % 64 + 16 AS BIGINT) AS width,
        |  CAST(doc_id % 48 + 16 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(2 AS BIGINT) AS color_type
        |FROM documents""".stripMargin,

    // d7's CC lattice, then count-of-counts with the singleton row
    // derived arithmetically
    "p29_cluster_histogram" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8),
        |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (
        |  SELECT id, id AS comp FROM nodes
        |  UNION
        |  SELECT e.b AS id, lbl.comp FROM lbl JOIN edges e ON e.a = lbl.id),
        |final AS (SELECT id, MIN(comp) AS comp FROM lbl GROUP BY id),
        |cl AS (SELECT comp, COUNT(*) AS n FROM final GROUP BY comp),
        |h AS (
        |  SELECT n AS cluster_size, COUNT(*) AS n_clusters FROM cl GROUP BY n
        |  UNION ALL
        |  SELECT 1, (SELECT COUNT(*) FROM documents)
        |            - (SELECT coalesce(SUM(n), 0) FROM cl))
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
        |FROM h GROUP BY 1""".stripMargin,

    "t18_langid_confusion" ->
      s"""SELECT lang, ${langIdSql("text")} AS lang_pred, COUNT(*) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "t19_zipf_fit" ->
      """WITH counts AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w ORDER BY c DESC, w LIMIT 100),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank
        |  FROM counts),
        |terms AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 12) AS x,
        |         round(ln(CAST(c AS DOUBLE)), 12) AS y FROM ranked),
        |ag AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(x*y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x*x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM terms)
        |SELECT n, round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope
        |FROM ag""".stripMargin,

    // d7's CC lattice + the p2 hash rule keyed by the cluster label
    "d18_leakage_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8),
        |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (
        |  SELECT id, id AS comp FROM nodes
        |  UNION
        |  SELECT e.b AS id, lbl.comp FROM lbl JOIN edges e ON e.a = lbl.id),
        |final AS (SELECT id, MIN(comp) AS comp FROM lbl GROUP BY id)
        |SELECT d.doc_id,
        |  COALESCE(f.comp, d.doc_id) AS split_key,
        |  CASE WHEN ((COALESCE(f.comp, d.doc_id) * 2654435761) % 4294967296) % 100 < 10
        |       THEN 'eval' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN final f ON f.id = d.doc_id""".stripMargin,

    "d5_embed_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin,

    "s1_ann_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "t1_langid_tokens" ->
      s"""SELECT doc_id,
         |  ${langIdSql("text")} AS lang_pred,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens_ws,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_re,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(text) + 1),
         |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         |FROM documents""".stripMargin,

    "t2_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |derived AS (
         |  SELECT doc_id, text, punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(list_transform(string_split_regex(trim(lower(text)), '\\s+'), x -> x),
         |                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                list_transform(toks, t -> CAST(length(t) AS BIGINT))),
         |                (a, b) -> a + b) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS mean_word_len
         |  FROM base)
         |SELECT doc_id, punct_ratio, stopword_ratio, mean_word_len,
         |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |    + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.25
         |    + least(stopword_ratio * 5.0, 1.0) * 0.25 AS quality
         |FROM derived""".stripMargin,

    "t3_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM terms WHERE len(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df_docs,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf AS DOUBLE)
        |        * ln((CAST(n_docs AS DOUBLE) + 1.0)
        |             / (CAST(df_docs AS DOUBLE) + 1.0)) DESC, term) AS rank
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df_docs, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 3""".stripMargin,

    "t4_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
        |counts AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT SUM(c) AS n_total FROM counts)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(-SUM(ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)))
        |        / COUNT(*), 6) AS avg_neg_logp
        |FROM tk JOIN counts USING (tok) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    "t11_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS r(i)
        |  WHERE len(ts) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(-SUM(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)))
        |        / COUNT(*), 6) AS avg_neg_logp
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id""".stripMargin,

    "t14_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |              AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
        |       WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  round(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 6)
        |    AS score,
        |  COUNT(*) AS n_terms
        |FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "t21_rake" -> {
      val stop = RakeStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    lower(ts[CAST(i AS INT)]) AS w
         |  FROM t0, unnest(range(1, len(ts) + 1)) r(i)
         |  WHERE length(ts[CAST(i AS INT)]) > 0),
         |marked AS (
         |  SELECT doc_id, pos, w, w IN ($stop) AS is_stop FROM toks),
         |grouped AS (
         |  SELECT doc_id, pos, w, is_stop,
         |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM marked),
         |phrases AS (
         |  SELECT doc_id, grp,
         |    array_to_string(list(w ORDER BY pos), ' ') AS phrase,
         |    COUNT(*) AS len
         |  FROM grouped WHERE NOT is_stop
         |  GROUP BY 1, 2 HAVING COUNT(*) <= 8),
         |pw AS (
         |  SELECT doc_id, grp, phrase, len,
         |    unnest(string_split(phrase, ' ')) AS w
         |  FROM phrases),
         |stats AS (
         |  SELECT w, COUNT(*) AS freq, SUM(len) AS deg
         |  FROM pw GROUP BY 1),
         |occ AS (
         |  SELECT doc_id, grp, phrase, len,
         |    SUM(deg * 1000000 // freq) AS score
         |  FROM pw JOIN stats USING (w)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT phrase, CAST(MIN(len) AS INT) AS n_words,
         |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |  CAST(MIN(score) AS BIGINT) AS score
         |FROM occ GROUP BY phrase
         |ORDER BY score DESC, phrase LIMIT 20""".stripMargin
    },

    "t22_auc" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS pos,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> length(t) > 0) AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, pos,
        |    COALESCE(list_sum(list_transform(ts, tok ->
        |      (list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(tok) + 1),
        |             i -> CAST(ascii(substr(tok, CAST(i AS INT), 1))
        |                  AS BIGINT))),
        |         (a, b) -> (a * 31 + b) % 1000000007) % 64
        |       * 2654435761 + 104729) % 4294967296 - 2147483648)),
        |      0) AS margin
        |  FROM toks),
        |g AS (
        |  SELECT margin AS v,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        |  FROM m GROUP BY 1),
        |c AS (
        |  SELECT v, np, nn,
        |    COALESCE(SUM(nn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * (2 * below + nn)) AS DOUBLE)
        |    / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE) AS auc
        |FROM c""".stripMargin,

    "t28_kneser_ney" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS r(i)
        |  WHERE len(ts) >= 2),
        |cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |cl AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS nfollow
        |       FROM cb GROUP BY 1),
        |np AS (SELECT w2, COUNT(*) AS nprec FROM cb GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS btypes FROM cb)
        |SELECT w1, w2, c2,
        |  round((CAST(c2 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
        |    + 0.75 * CAST(nfollow AS DOUBLE) / CAST(c1 AS DOUBLE)
        |      * (CAST(nprec AS DOUBLE) / CAST(btypes AS DOUBLE)), 6)
        |    AS pkn
        |FROM cb JOIN cl USING (w1) JOIN np USING (w2) CROSS JOIN bt
        |WHERE c2 >= 3""".stripMargin,

    "t20_pmi" ->
      """WITH t0 AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |uni AS (SELECT unnest(ts) AS tok FROM t0),
        |u AS (SELECT tok FROM uni WHERE length(tok) > 0),
        |cu AS (SELECT tok, COUNT(*) AS c FROM u GROUP BY 1),
        |nu AS (SELECT COUNT(*) AS n_uni FROM u),
        |big AS (
        |  SELECT ts[CAST(i AS INT)] AS x, ts[CAST(i AS INT) + 1] AS y
        |  FROM t0, unnest(range(1, len(ts))) r(i) WHERE len(ts) >= 2),
        |cb AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
        |nb AS (SELECT COUNT(*) AS n_big FROM big)
        |SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
        |  round(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)
        |    / (CAST(n_big AS DOUBLE) * cx.c * cy.c)), 6) AS pmi
        |FROM cb
        |JOIN cu cx ON cx.tok = cb.x
        |JOIN cu cy ON cy.tok = cb.y, nu, nb
        |WHERE c_xy >= 10
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin,

    "t13_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(ts) AS feat FROM toks),
        |big AS (
        |  SELECT doc_id, lang,
        |    ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS feat
        |  FROM toks, unnest(range(1, len(ts))) AS r(i)
        |  WHERE len(ts) >= 2),
        |f0 AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
        |f AS (
        |  SELECT doc_id, lang,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(feat) + 1),
        |          i -> CAST(ascii(substr(feat, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 256 AS b
        |  FROM f0),
        |dc AS (SELECT doc_id, lang, b, COUNT(*) AS c FROM f GROUP BY 1, 2, 3),
        |rawb AS (SELECT b, SUM(c) AS rc FROM dc GROUP BY 1),
        |tgtb AS (SELECT b, SUM(c) AS tc FROM dc WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(rc) FROM rawb) AS rt,
        |               (SELECT SUM(tc) FROM tgtb) AS tt),
        |model AS (
        |  SELECT rawb.b,
        |    ln((COALESCE(tc, 0) + 1.0) / (tt + 1.0 * 256))
        |      - ln((rc + 1.0) / (rt + 1.0 * 256)) AS logr
        |  FROM rawb LEFT JOIN tgtb ON rawb.b = tgtb.b, tot)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        |  round(SUM(CAST(c AS DOUBLE) * logr), 6) AS dsir_logw
        |FROM dc JOIN model USING (b) GROUP BY 1""".stripMargin,

    "t15_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |          i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 64 AS b
        |  FROM tok),
        |z AS (
        |  SELECT doc_id,
        |    SUM((b * 2654435761 + 104729) % 4294967296 - 2147483648) AS z,
        |    COUNT(*) AS n
        |  FROM h GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  round(CAST(z AS DOUBLE) / (n * 2147483648.0), 6) AS quality_score,
        |  z > 0 AS keep
        |FROM z""".stripMargin,

    "t16_ppl_buckets" ->
      """SELECT unnest(['head','middle','tail']) AS ppl_bucket,
        |  TRUE AS bucket_ok""".stripMargin,

    "q49_orc_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,

    "q101_tpch_q14" ->
      """SELECT round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2000-02-01 00:00:00'""".stripMargin,

    "q102_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
        |       AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#19' AND l_quantity BETWEEN 10 AND 20
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 20 AND 30
        |       AND p_size BETWEEN 1 AND 15)""".stripMargin,

    "q98_tpch_q21" ->
      """WITH w AS (
        |  SELECT DISTINCT l1.l_orderkey AS ok, l1.l_suppkey AS sk
        |  FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1
        |      FROM lineitem l3 JOIN orders o3
        |        ON o3.o_orderkey = l3.l_orderkey
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey
        |        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY))
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier ON s_suppkey = sk
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q99_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '2000-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE rev = (SELECT MAX(rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q100_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q103_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '2000-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q104_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, (SELECT COUNT(*) FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority <> '1-URGENT') AS c_count
        |  FROM customer c) cc
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q105_tpch_q17" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < 0.2 * (SELECT AVG(l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin,

    "q106_tpch_q22" ->
      """SELECT c_nationkey AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / COUNT(*) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q97_xml_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  COUNT(*) AS n_nations,
        |  array_to_string(list_sort(list(n_name)), '|') AS names
        |FROM nation GROUP BY 1""".stripMargin,

    "p5_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks)
        |SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY 1
        |HAVING COUNT(*) >= 5
        |ORDER BY n_docs DESC, shingle LIMIT 200""".stripMargin,

    "q35_hop" ->
      """SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |    - k.k * INTERVAL '30 minutes' AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        |GROUP BY 1, 2""".stripMargin,

    "s5_quantize" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, embedding, nrm,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM n)
        |SELECT vec_id, CAST(i AS BIGINT) AS i,
        |  CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) / nrm * 127)
        |       AS BIGINT) AS q
        |FROM e""".stripMargin,

    "s6_random_projection" ->
      """WITH p AS (
        |  SELECT vec_id, embedding, unnest(range(1, 17)) AS j
        |  FROM embeddings)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  round(list_aggregate(list_transform(embedding, (x, i) ->
        |    CAST(x AS DOUBLE)
        |      * (CASE WHEN ((i*2654435761 + j*2246822519) % 4294967296) >> 31 = 0
        |         THEN 1.0 ELSE -1.0 END)), 'sum') / sqrt(16.0), 6) AS y
        |FROM p""".stripMargin,

    "st5_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP)
        |     <= CAST(c.ts AS TIMESTAMP) + INTERVAL '1 hour'""".stripMargin,

    "q51_sketch_rollup" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS merge_ok
        |FROM events GROUP BY 1""".stripMargin,

    "st10_stream_topk" ->
      """SELECT user_id, COUNT(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, user_id LIMIT 25""".stripMargin,

    "st9_stream_distinct" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |    AS window_start,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1""".stripMargin,

    "st8_stream_left_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP)
        |     <= CAST(c.ts AS TIMESTAMP) + INTERVAL '1 hour'""".stripMargin,

    "st11_stream_full_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  coalesce(c.user_id, p.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP)
        |     <= CAST(c.ts AS TIMESTAMP) + INTERVAL '1 hour'""".stripMargin,

    "st6_stream_static" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // the batch interval join the streaming as-of drain must equal
    "st13_stream_asof" ->
      """WITH dim AS (
        |  SELECT c_custkey, v.ver,
        |    TIMESTAMP '2024-01-01' + v.ver * INTERVAL 7 DAY AS valid_from,
        |    CASE WHEN v.ver < 2 THEN
        |      TIMESTAMP '2024-01-01' + (v.ver + 1) * INTERVAL 7 DAY
        |    END AS valid_to
        |  FROM customer, (SELECT unnest([0, 1, 2]) AS ver) v)
        |SELECT CAST(dim.ver AS BIGINT) AS ver, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim
        |  ON e.user_id = dim.c_custkey
        |  AND CAST(e.ts AS TIMESTAMP) >= dim.valid_from
        |  AND (dim.valid_to IS NULL
        |       OR CAST(e.ts AS TIMESTAMP) < dim.valid_to)
        |GROUP BY 1, 2""".stripMargin,

    // q35's batch-hop oracle: each event replicated into the k ∈ {0,1}
    // overlapping 1h windows aligned to 30-minute slides
    "st7_stream_hop" ->
      """SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |    - k.k * INTERVAL '30 minutes' AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        |GROUP BY 1, 2""".stripMargin,

    "st4_stream_session" ->
      """WITH o AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
        |            >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS session_end, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q36_session_window" ->
      """WITH o AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
        |            >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS session_end, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q39_approx_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS exact_p50,
        |  TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin,

    "q38_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin,

    "q63_kmv_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    (user_id * 2654435761) % 4294967296 AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_min
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT event_type, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(kth_min AS BIGINT) AS kth_min,
        |  round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |        ELSE 63.0 * 4294967296.0 / CAST(kth_min AS DOUBLE) END,
        |        4) AS est
        |FROM s""".stripMargin,

    "q64_kmv_intersect" ->
      """WITH ha AS (
        |  SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS h
        |  FROM events WHERE event_type = 'click' ORDER BY h LIMIT 64),
        |hb AS (
        |  SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS h
        |  FROM events WHERE event_type = 'purchase' ORDER BY h LIMIT 64),
        |m AS (
        |  SELECT h, COUNT(*) = 2 AS in_both
        |  FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
        |  GROUP BY h),
        |u AS (SELECT * FROM m ORDER BY h LIMIT 64),
        |agg AS (
        |  SELECT COUNT(*) AS n_union, MAX(h) AS kth,
        |    SUM(CASE WHEN in_both THEN 1 ELSE 0 END) AS nb
        |  FROM u),
        |est AS (
        |  SELECT n_union, kth, nb,
        |    round(CASE WHEN n_union < 64 THEN CAST(n_union AS DOUBLE)
        |          ELSE 63.0 * 4294967296.0 / CAST(kth AS DOUBLE) END,
        |          4) AS union_est
        |  FROM agg)
        |SELECT CAST(n_union AS BIGINT) AS n_union_kept,
        |  CAST(kth AS BIGINT) AS union_kth_min,
        |  CAST(nb AS BIGINT) AS n_both, union_est,
        |  round(CAST(nb AS DOUBLE) / CAST(n_union AS DOUBLE), 6) AS jaccard,
        |  round(CAST(nb AS DOUBLE) / CAST(n_union AS DOUBLE) * union_est,
        |        4) AS intersection_est
        |FROM est""".stripMargin,

    "q65_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
        |  GROUP BY 1)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT CAST(1 AS INTEGER) AS stage, user_id FROM s1
        |  UNION ALL SELECT 2, user_id FROM s2
        |  UNION ALL SELECT 3, user_id FROM s3)
        |GROUP BY 1""".stripMargin,

    "q66_retention" ->
      """WITH cohort AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST(datediff('day', cohort_week, w) // 7 AS INTEGER)
        |    AS weeks_since,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM cohort JOIN active USING (user_id)
        |WHERE datediff('day', cohort_week, w) >= 0
        |GROUP BY 1, 2""".stripMargin,

    "q67_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT prev, event_type AS curr, COUNT(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, curr, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev)
        |    AS DOUBLE) AS p
        |FROM c""".stripMargin,

    "q74_basket_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |p AS (
        |  SELECT a.pk AS pa, b.pk AS pb
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |sup AS (
        |  SELECT pa, pb, COUNT(*) AS support FROM p GROUP BY 1, 2)
        |SELECT pa, pb, CAST(support AS BIGINT) AS support
        |FROM sup WHERE support >= 2
        |ORDER BY support DESC, pa, pb LIMIT 20""".stripMargin,

    // independent quadratic dominance test — NOT the sweep the engine
    // runs, so the green gate proves the prefix-max form correct
    "q75_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_cents,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part)
        |SELECT price_cents, p_size FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        |    AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
        |""".stripMargin,

    "q77_ab_test" ->
      """WITH e AS (
        |  SELECT event_type, user_id % 2 = 0 AS ctl, value AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN ctl THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN NOT ctl THEN 1 ELSE 0 END) AS nb,
        |    CAST(SUM(CAST(round(CASE WHEN ctl THEN y ELSE 0 END, 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS sa,
        |    CAST(SUM(CAST(round(CASE WHEN NOT ctl THEN y ELSE 0 END, 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(round(CASE WHEN ctl THEN y * y ELSE 0 END, 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS qa,
        |    CAST(SUM(CAST(round(CASE WHEN NOT ctl THEN y * y ELSE 0 END,
        |      12) AS DECIMAL(38,12))) AS DOUBLE) AS qb
        |  FROM e GROUP BY 1),
        |b AS (
        |  SELECT event_type, na, nb, sa / na AS ma, sb / nb AS mb,
        |    (qa - sa * sa / na) / (na - 1) AS va,
        |    (qb - sb * sb / nb) / (nb - 1) AS vb
        |  FROM a)
        |SELECT event_type, CAST(na AS BIGINT) AS na,
        |  CAST(nb AS BIGINT) AS nb,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_welch
        |FROM b""".stripMargin,

    "q76_trend_ols" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS DOUBLE) AS x,
        |    value AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxy,
        |    CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxx
        |  FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 6) AS intercept
        |FROM a""".stripMargin,

    "t23_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |sizes AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_common
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, CAST(n_common AS BIGINT) AS n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / (na.nv + nb.nv - n_common), 6) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.source = inter.sa
        |JOIN sizes nb ON nb.source = inter.sb
        |ORDER BY jaccard DESC, sa, sb LIMIT 20""".stripMargin,

    "t26_threshold_sweep" ->
      """WITH b AS (
        |  SELECT least(n_chars // 100, 9) AS bucket, COUNT(*) AS n,
        |    SUM(n_chars) AS sc
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT t.k, SUM(b.n) AS nk, SUM(b.sc) AS s
        |  FROM b, range(10) t(k) WHERE b.bucket >= t.k GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents)
        |SELECT CAST(k * 100 AS BIGINT) AS min_chars,
        |  CAST(nk AS BIGINT) AS n_kept,
        |  round(CAST(nk AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |    AS frac_kept,
        |  round(CAST(s AS DOUBLE) / CAST(nk AS DOUBLE), 6) AS avg_len
        |FROM a, tot""".stripMargin,

    "m12_pair_filter" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 200 + 10
        |         ELSE doc_id % 300 + 8 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 150 + 10
        |         ELSE doc_id % 100 + 8 END AS h
        |  FROM documents),
        |caps AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        tk -> length(tk) > 0)) AS toks
        |  FROM documents),
        |j AS (
        |  SELECT c.source,
        |    CASE WHEN d.h <= d.w * 2 AND d.w <= d.h * 2
        |      AND least(d.w, d.h) >= 32
        |      AND c.toks BETWEEN 3 AND 80 THEN 1 ELSE 0 END AS keep
        |  FROM caps c JOIN dims d ON d.doc_id = c.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS keep_rate
        |FROM j GROUP BY 1""".stripMargin,

    "t25_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |tc AS (
        |  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |a AS (
        |  SELECT source, SUM(c) AS n_tokens, COUNT(*) AS n_types,
        |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
        |  FROM tc GROUP BY 1)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(n_hapax AS BIGINT) AS n_hapax,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
        |    AS hapax_ratio
        |FROM a""".stripMargin,

    "p46_calibration" ->
      """WITH e AS (
        |  SELECT (user_id * 2654435761) % 1000 AS pm,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |a AS (
        |  SELECT pm // 100 AS bucket, COUNT(*) AS n, SUM(pm) AS spm,
        |    SUM(y) AS clicks
        |  FROM e GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
        |  CAST(clicks AS BIGINT) AS clicks,
        |  round(CAST(spm AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS avg_pred,
        |  round(CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS click_rate
        |FROM a""".stripMargin,

    "p47_l_diversity" ->
      """SELECT lang, CAST(n_chars // 50 AS BIGINT) AS len_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  COUNT(DISTINCT source) >= 3 AS diverse
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // same regexes, same integer sums, same double tree — the only
    // floats are two divisions of exact BIGINTs
    "t24_readability" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
        |      AS w,
        |    CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+'))
        |      AS BIGINT) AS y,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS sen
        |  FROM documents),
        |a AS (
        |  SELECT source, COUNT(*) AS n_docs, SUM(w) AS words,
        |    SUM(y) AS vowel_groups, SUM(sen) AS sentences
        |  FROM d WHERE w > 0 GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(words AS BIGINT) AS words,
        |  CAST(vowel_groups AS BIGINT) AS vowel_groups,
        |  CAST(sentences AS BIGINT) AS sentences,
        |  round(206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |    - 84.6 * (CAST(vowel_groups AS DOUBLE)
        |              / CAST(words AS DOUBLE)), 6) AS flesch
        |FROM a""".stripMargin,

    "q71_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q72_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '2000-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q73_tpch_q8" ->
      """WITH f AS (
        |  SELECT year(o_orderdate) AS o_year, n2.n_name AS s_nation,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2))
        |        - CAST(l_discount AS DECIMAL(4,2))) AS rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'ASIA')
        |SELECT CAST(o_year AS INT) AS o_year,
        |  round(CAST(coalesce(
        |      SUM(CASE WHEN s_nation = 'NATION_3' THEN rev END), 0)
        |    AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
        |FROM f GROUP BY 1""".stripMargin,

    "q70_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |               THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |               THEN ts END IGNORE NULLS)
        |      OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING
        |                        AND 1 PRECEDING))
        |SELECT CASE WHEN touch_ts IS NULL
        |            OR touch_ts < ts - INTERVAL 3 DAY
        |            THEN 'direct' ELSE touch_type END AS channel,
        |  COUNT(*) AS n_purchases
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    "q69_equidepth" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents,
        |    l_orderkey, l_linenumber FROM lineitem),
        |r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
        |      AS rn,
        |    COUNT(*) OVER () AS total
        |  FROM v)
        |SELECT (rn - 1) * 16 // total AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n, MIN(cents) AS lo,
        |  MAX(cents) AS hi
        |FROM r GROUP BY 1""".stripMargin,

    "q68_cms_heavy" ->
      """WITH r AS (SELECT user_id AS k FROM events),
        |cells AS (
        |  SELECT t.j,
        |    (k * (2654435761 + t.j * 81006)) % 4294967296 % 256 AS c,
        |    COUNT(*) AS n
        |  FROM r CROSS JOIN range(0, 4) t(j) GROUP BY 1, 2),
        |exact AS (SELECT k, COUNT(*) AS exact FROM r GROUP BY 1),
        |est AS (
        |  SELECT k, exact, MIN(n) AS est
        |  FROM exact CROSS JOIN range(0, 4) t(j)
        |  JOIN cells ON cells.j = t.j AND cells.c =
        |    (k * (2654435761 + t.j * 81006)) % 4294967296 % 256
        |  GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(est AS BIGINT) AS est,
        |  CAST(exact AS BIGINT) AS exact
        |FROM est ORDER BY est DESC, user_id LIMIT 10""".stripMargin,

    "q48_freq_items" ->
      """WITH f AS (
        |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM f)
        |SELECT (SELECT COUNT(*) FROM f, t WHERE n >= tot * 0.1)
        |    AS n_frequent,
        |  TRUE AS sketch_ok""".stripMargin,

    "p11_export" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars, text,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_chars, text, hk,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum
        |  FROM h),
        |sh AS (
        |  SELECT source,
        |    CAST(floor((cum - n_chars) / 2000) AS BIGINT) AS shard,
        |    doc_id, text, hk, n_chars
        |  FROM c)
        |SELECT source, shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        |  string_agg(text, chr(10) ORDER BY hk, doc_id) AS payload
        |FROM sh GROUP BY 1, 2""".stripMargin,

    "p10_pack" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum
        |  FROM h)
        |SELECT doc_id, source,
        |  CAST(floor((cum - n_chars) / 2000) AS BIGINT) AS shard
        |FROM c""".stripMargin,

    "d12_incremental" ->
      """WITH nrm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |         '\s+', ' ', 'g')) AS k
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 1000, upper(text) || '!!', n_chars
        |  FROM documents WHERE doc_id < 400 AND doc_id % 7 = 0),
        |bk AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |         '\s+', ' ', 'g')) AS k,
        |    n_chars
        |  FROM batch)
        |SELECT b.doc_id, CAST(b.n_chars AS BIGINT) AS n_chars
        |FROM bk b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM nrm c WHERE c.doc_id < 400 AND c.k = b.k)""".stripMargin,

    "t10_freq_spectrum" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |wf AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w)
        |SELECT f, COUNT(*) AS n_words FROM wf GROUP BY f""".stripMargin,

    "t8_vocab" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |w AS (
        |  SELECT lang, token, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token)
        |      AS rank
        |  FROM c)
        |SELECT lang, token, n, rank FROM w WHERE rank <= 10""".stripMargin,

    "d11_chunk_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(
        |        range(1, CAST(ceil(len(ts) / 8.0) AS INT) + 1),
        |        j -> {'pos': j - 1,
        |              'chunk': array_to_string(ts[(j-1)*8+1 : j*8], ' ')}))
        |        AS u
        |    FROM toks)),
        |w AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM ch)
        |SELECT doc_id, pos, chunk FROM w WHERE rn = 1""".stripMargin,

    "d16_cdc_dedup" ->
      """WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |b AS (
        |  SELECT doc_id, text, n,
        |    list_filter(range(8, n + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, 9),
        |          w -> CAST(ascii(substr(text, CAST(i - 8 + w AS INT), 1))
        |               AS BIGINT))),
        |        (a, x) -> (a * 31 + x) % 1000000007) % 64 = 0) AS bps
        |  FROM c),
        |st AS (
        |  SELECT doc_id, text,
        |    list_prepend(CAST(0 AS BIGINT), bps) AS ss,
        |    list_append(bps, CAST(n AS BIGINT)) AS es
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ss) + 1),
        |      j -> {'pos': j - 1,
        |            'chunk': substr(text, CAST(ss[j] + 1 AS INT),
        |                            CAST(es[j] - ss[j] AS INT))})) AS u
        |    FROM st)),
        |w AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM ch WHERE length(chunk) > 0)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, chunk
        |FROM w WHERE rn = 1""".stripMargin,

    "p14_crossdoc_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(
        |        range(1, CAST(ceil(len(ts) / 8.0) AS INT) + 1),
        |        j -> {'pos': j - 1,
        |              'chunk': array_to_string(ts[(j-1)*8+1 : j*8], ' ')}))
        |        AS u
        |    FROM toks)),
        |w AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM ch),
        |k AS (SELECT doc_id, pos, chunk FROM w WHERE rn = 1),
        |nc AS (SELECT doc_id, CAST(ceil(len(ts) / 8.0) AS BIGINT)
        |    AS n_chunks FROM toks),
        |r AS (
        |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept
        |  FROM k GROUP BY 1)
        |SELECT r.doc_id, clean_text, n_kept, n_chunks - n_kept AS n_dropped
        |FROM r JOIN nc USING (doc_id)""".stripMargin,

    // chains the verified t1 (langid), t2 (quality), d1/d17 (exact
    // dedup) and p10 (packing) oracle fragments into one statement
    "p15_c4_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang, source, n_chars,
         |    ${langIdSql("text")} AS lang_pred,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |scored2 AS (
         |  SELECT doc_id, text, lang, source, n_chars, lang_pred, punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(list_transform(string_split_regex(trim(lower(text)), '\\s+'), x -> x),
         |                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
         |  FROM scored),
         |kept AS (
         |  SELECT doc_id, text, source, n_chars FROM scored2
         |  WHERE lang_pred = lang
         |    AND least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |        + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.25
         |        + least(stopword_ratio * 5.0, 1.0) * 0.25 >= 0.5),
         |uniq AS (
         |  SELECT k.doc_id, k.source, k.n_chars FROM kept k
         |  JOIN (SELECT text, MIN(doc_id) AS m FROM kept GROUP BY text) g
         |    ON k.text = g.text AND k.doc_id = g.m),
         |h AS (
         |  SELECT doc_id, source, n_chars,
         |    (doc_id * 2654435761) % 4294967296 AS hk
         |  FROM uniq),
         |c AS (
         |  SELECT doc_id, source, n_chars,
         |    SUM(n_chars) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum
         |  FROM h)
         |SELECT doc_id, source,
         |  CAST(floor((cum - n_chars) / 2000) AS BIGINT) AS shard
         |FROM c""".stripMargin,

    "t9_bpe" -> bpeSql(rounds = 14, window = 16),

    "t12_bpe_encode" -> bpeEncodeSql(rounds = 3, window = 8),

    "t7_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN df USING (shingle)
        |GROUP BY 1""".stripMargin,

    "t6_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |f AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, SUM(k) AS n FROM f GROUP BY 1)
        |SELECT f.doc_id,
        |  round(-SUM((CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)),
        |    6) AS entropy
        |FROM f JOIN n ON f.doc_id = n.doc_id
        |GROUP BY 1""".stripMargin,

    "q47_salted_join" ->
      """SELECT o_orderstatus, c_mktsegment, COUNT(*) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "p12_mixture" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id * 2654435761) % 4294967296) % 10000 <
        |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |              WHEN 'src2' THEN 2500 ELSE 1000 END""".stripMargin,

    "p20_pseudonymize" ->
      """SELECT sha256('k1:' || CAST(user_id AS VARCHAR)) AS pseudo_user,
        |  COUNT(*) AS n
        |FROM events WHERE event_id < 500 GROUP BY 1""".stripMargin,

    "t17_kl_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |tk AS (SELECT source, w FROM toks WHERE length(w) > 0),
        |by_src AS (
        |  SELECT source, w, COUNT(*) AS n_sw FROM tk GROUP BY 1, 2),
        |src_tot AS (
        |  SELECT source, SUM(n_sw) AS n_s FROM by_src GROUP BY 1),
        |gw AS (SELECT w, SUM(n_sw) AS n_w FROM by_src GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM tk)
        |SELECT b.source,
        |  CAST(SUM(CAST(round(
        |    (CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
        |    * ln((CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
        |         / (CAST(n_w AS DOUBLE) / CAST(n AS DOUBLE))), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS kl
        |FROM by_src b
        |JOIN src_tot st ON b.source = st.source
        |JOIN gw g ON b.w = g.w
        |CROSS JOIN tot
        |GROUP BY 1""".stripMargin,

    "t29_js_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |tk AS (SELECT source, w FROM toks WHERE length(w) > 0),
        |by_src AS (
        |  SELECT source, w, COUNT(*) AS n_sw FROM tk GROUP BY 1, 2),
        |src_tot AS (
        |  SELECT source, SUM(n_sw) AS n_s FROM by_src GROUP BY 1),
        |shared AS (
        |  SELECT a.source AS sa, b.source AS sb, ta.n_s AS ta, tb.n_s AS tb,
        |    a.n_sw AS na, b.n_sw AS nb
        |  FROM by_src a
        |  JOIN by_src b ON a.w = b.w AND a.source < b.source
        |  JOIN src_tot ta ON ta.source = a.source
        |  JOIN src_tot tb ON tb.source = b.source),
        |agg AS (
        |  SELECT sa, sb,
        |    SUM(CAST(round(
        |      (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |        * ln(2.0 * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |             / ((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |                + (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))))
        |      + (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
        |        * ln(2.0 * (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
        |             / ((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |                + (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))), 9)
        |      AS DECIMAL(28,9))) AS t_common,
        |    SUM(na) AS ca, SUM(nb) AS cb
        |  FROM shared GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS sa, a.n_s AS ta, b.source AS sb, b.n_s AS tb
        |  FROM src_tot a JOIN src_tot b ON a.source < b.source)
        |SELECT p.sa AS source_a, p.sb AS source_b,
        |  round((CAST(COALESCE(g.t_common, 0) AS DOUBLE)
        |    + ln(2.0) * (2.0
        |        - CAST(COALESCE(g.ca, 0) AS DOUBLE) / CAST(p.ta AS DOUBLE)
        |        - CAST(COALESCE(g.cb, 0) AS DOUBLE) / CAST(p.tb AS DOUBLE)))
        |    * 0.5, 6) AS js
        |FROM pairs p LEFT JOIN agg g ON g.sa = p.sa AND g.sb = p.sb""".stripMargin,

    "p19_zorder" ->
      """SELECT event_id,
        |  CAST(list_aggregate(list_transform(range(0, 8), i ->
        |    (((user_id >> i) & 1) << (2 * i))
        |    | ((((event_id % 256) >> i) & 1) << (2 * i + 1))),
        |    'sum') AS BIGINT) AS z
        |FROM events""".stripMargin,

    "q56_topk_per_key" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, qty
        |FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    round(l_quantity, 2) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY round(l_quantity, 2) DESC, l_orderkey,
        |               l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5""".stripMargin,

    "q57_scalar_subquery" ->
      """SELECT n_name,
        |  (SELECT COUNT(*) FROM customer c
        |   WHERE c.c_nationkey = n.n_nationkey) AS n_cust
        |FROM nation n""".stripMargin,

    "q55_hof" ->
      """SELECT l_orderkey,
        |  to_json(list_transform(ls, x -> x * x)) AS squares,
        |  to_json(list_filter(ls, x -> x % 2 = 0)) AS evens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
        |    (acc, x) -> acc + x) AS ln_sum,
        |  to_json(list_transform(range(1, len(ls) + 1),
        |    i -> ls[CAST(i AS INT)]
        |       + ls[CAST(len(ls) - i + 1 AS INT)])) AS pal
        |FROM (SELECT l_orderkey,
        |        list_sort(list(CAST(l_linenumber AS BIGINT))) AS ls
        |      FROM lineitem WHERE l_orderkey < 500 GROUP BY 1)""".stripMargin,

    "q54_null_safe_join" ->
      """SELECT o.o_orderkey, c.c_custkey
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |             ELSE o_custkey END AS k
        |      FROM orders WHERE o_orderkey < 200) o
        |JOIN (SELECT c_custkey,
        |        CASE WHEN c_custkey % 10 = 0 THEN NULL
        |             ELSE c_custkey END AS ck
        |      FROM customer WHERE c_custkey < 40) c
        |  ON o.k IS NOT DISTINCT FROM c.ck""".stripMargin,

    "q53_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m.metric,
        |  CASE m.metric WHEN 'quantity' THEN round(l_quantity, 2)
        |                WHEN 'discount' THEN round(l_discount, 2)
        |                ELSE round(l_tax, 2) END AS value
        |FROM lineitem
        |CROSS JOIN (SELECT unnest(['quantity','discount','tax']) AS metric) m""".stripMargin,

    "q52_recursive_cte" ->
      """WITH RECURSIVE tree AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS depth
        |  FROM documents WHERE doc_id = 1
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1
        |  FROM documents d JOIN tree t ON d.doc_id // 2 = t.doc_id)
        |SELECT doc_id, depth FROM tree""".stripMargin,

    "p18_rag_chunks" ->
      """SELECT doc_id,
        |  CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  substr(text, CAST(s AS INT) + 1, 64) AS chunk
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(length(text), 1), 48)) AS s
        |  FROM documents)""".stripMargin,

    "p17_dataset_diff" ->
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 550),
        |nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id >= 50)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> n.text THEN 'changed'
        |       ELSE 'same' END AS status
        |FROM old o FULL JOIN nw n ON o.doc_id = n.doc_id""".stripMargin,

    "p16_temperature" ->
      """WITH n AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
        |r AS (SELECT source,
        |  CAST(round(sqrt(CAST((SELECT MIN(c) FROM n) AS DOUBLE)
        |      / CAST(c AS DOUBLE)) * 10000) AS BIGINT) AS thr
        |  FROM n)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ((doc_id * 2654435761) % 4294967296) % 10000 < thr""".stripMargin,

    "q45_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin,

    "q46_range_frame" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY CAST(round(l_quantity, 2) AS DECIMAL(18,2))
        |    RANGE BETWEEN 5.00 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS range_sum
        |FROM lineitem""".stripMargin,

    "p9_token_budget" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum
        |  FROM h)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM c WHERE cum <= 4000""".stripMargin,

    "d10_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8),
        |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (
        |  SELECT id, id AS comp FROM nodes
        |  UNION
        |  SELECT e.b AS id, lbl.comp FROM lbl JOIN edges e ON e.a = lbl.id),
        |final AS (SELECT id, MIN(comp) AS comp FROM lbl GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(f.comp, d.doc_id) AS cluster, d.n_chars
        |  FROM documents d LEFT JOIN final f ON f.id = d.doc_id),
        |w AS (
        |  SELECT cluster, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY cluster
        |                       ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM lab)
        |SELECT doc_id AS keep_doc_id, n_members,
        |  CAST(n_chars AS BIGINT) AS kept_chars
        |FROM w WHERE rn = 1""".stripMargin,

    "d14_dedup_pipeline" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz za ON za.doc_id = id_a
        |  JOIN sz zb ON zb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.8),
        |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (
        |  SELECT id, id AS comp FROM nodes
        |  UNION
        |  SELECT e.b AS id, lbl.comp FROM lbl JOIN edges e ON e.a = lbl.id),
        |final AS (SELECT id, MIN(comp) AS comp FROM lbl GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(f.comp, d.doc_id) AS cluster, d.n_chars
        |  FROM documents d LEFT JOIN final f ON f.id = d.doc_id),
        |w AS (
        |  SELECT cluster, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY cluster
        |                       ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM lab),
        |linked AS (SELECT comp, COUNT(*) AS n_linked FROM final GROUP BY comp)
        |SELECT w.cluster, w.doc_id AS keep_doc_id, w.n_members,
        |  CAST(w.n_chars AS BIGINT) AS kept_chars,
        |  COALESCE(l.n_linked, CAST(0 AS BIGINT)) AS n_linked
        |FROM w LEFT JOIN linked l ON l.comp = w.cluster WHERE rn = 1""".stripMargin,

    "q37_range_join" ->
      """WITH c AS (
        |  SELECT i AS campaign_id,
        |    TIMESTAMP '2024-01-01' + to_seconds(129600 * i) AS start_ts,
        |    TIMESTAMP '2024-01-01' + to_seconds(129600 * i + 259200) AS end_ts
        |  FROM range(20) t(i))
        |SELECT c.campaign_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN c
        |  ON e.ts >= c.start_ts AND e.ts < c.end_ts
        |GROUP BY 1""".stripMargin,

    "d9_substring_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts) - 7, 1) + 1),
        |      i -> list_aggregate(ts[CAST(i AS INT):CAST(i AS INT) + 7],
        |                          'string_agg', ' '))) AS shingle
        |  FROM toks),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM sh a JOIN sh b USING (shingle)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    "p8_urls" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 20) || '.example.com/page/'
        |         || doc_id || ' and http://cdn' || (doc_id % 5)
        |         || '.example.org' AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text,
        |    'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?')) AS url
        |  FROM d)
        |SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS host,
        |  COUNT(*) AS n_urls,
        |  COUNT(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY host""".stripMargin,

    "p13_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
        |    || (CASE WHEN doc_id % 2 = 1 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 10 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 3 = 0 THEN
        |          (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        |        ELSE '' END)
        |    || '/Page/' || CAST(doc_id % 5 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR)
        |    || '&utm_campaign=x#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS q
        |  FROM u),
        |n AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(CASE WHEN scheme = 'https'
        |        THEN regexp_replace(hostport, ':443$', '')
        |        ELSE regexp_replace(hostport, ':80$', '') END,
        |      '^www\.', '') AS host,
        |    regexp_replace(path0, '/+$', '') AS path,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      p -> NOT regexp_matches(p,
        |        '^(utm_[A-Za-z0-9_]+|fbclid|gclid)=')), '&') AS kept
        |  FROM c)
        |SELECT scheme || '://' || host || path
        |    || (CASE WHEN len(kept) > 0 THEN '?' || kept ELSE '' END) AS canon,
        |  count(*) AS n_docs, min(doc_id) AS keep_doc_id
        |FROM n GROUP BY 1""".stripMargin,

    "s9_pq" ->
      "SELECT true AS pq_ok",

    "s10_ivfpq" ->
      "SELECT true AS recall_ok",

    "s11_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |              AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
        |       WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |bm AS (
        |  SELECT doc_id,
        |    round(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 6)
        |      AS score
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
        |tr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS r_text
        |  FROM bm),
        |vs AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                     CAST(c.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                               CAST(q.embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(c.embedding AS DOUBLE[]))))
        |      AS cosine
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id = 0),
        |vrk AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_vec
        |  FROM vs ORDER BY cosine DESC, doc_id LIMIT 50),
        |f AS (
        |  SELECT coalesce(tr.doc_id, vrk.doc_id) AS doc_id,
        |    CAST(r_text AS INT) AS r_text, CAST(r_vec AS INT) AS r_vec
        |  FROM tr FULL OUTER JOIN vrk ON tr.doc_id = vrk.doc_id)
        |SELECT doc_id, r_text, r_vec,
        |  coalesce(1.0 / (60 + r_text), 0.0)
        |    + coalesce(1.0 / (60 + r_vec), 0.0) AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "t5_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(ws, x -> len(x)), 'sum')
        |        / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
        |  round(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
        |        / CAST(len(ws) AS DOUBLE), 6) AS alpha_frac,
        |  CAST(len(list_filter(ws, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it'],
        |    lower(x)))) AS BIGINT) AS n_stopwords,
        |  (len(ws) >= 50 AND len(ws) <= 100000
        |   AND list_aggregate(list_transform(ws, x -> len(x)), 'sum')
        |       / CAST(len(ws) AS DOUBLE) >= 3.0
        |   AND list_aggregate(list_transform(ws, x -> len(x)), 'sum')
        |       / CAST(len(ws) AS DOUBLE) <= 10.0
        |   AND len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
        |       / CAST(len(ws) AS DOUBLE) >= 0.8
        |   AND len(list_filter(ws, x -> list_contains(
        |     ['the','a','an','and','or','of','to','in','is','it'],
        |     lower(x)))) >= 2) AS passes
        |FROM w""".stripMargin,

    "p6_pii" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 10.'
        |      || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
        |      || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || '.' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM d""".stripMargin,

    "q34_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(avg(value), 6) AS mean
        |FROM events GROUP BY event_type""".stripMargin,

    "st3_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "d8_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
        |corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
        |sz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
        |cont AS (
        |  SELECT doc_id, COUNT(*) AS n_contam
        |  FROM corpus JOIN bench USING (shingle) GROUP BY 1)
        |SELECT sz.doc_id, n_shingles,
        |  COALESCE(n_contam, CAST(0 AS BIGINT)) AS n_contam,
        |  CAST(COALESCE(n_contam, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |    AS contam_frac
        |FROM sz LEFT JOIN cont USING (doc_id)""".stripMargin,

    "d15_fuzzy_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
        |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
        |           || ' ' || ts[CAST(i AS INT) + 2])) AS shingle
        |  FROM toks),
        |a AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
        |b AS (SELECT doc_id, shingle FROM sh WHERE source = 'src0'),
        |sza AS (SELECT doc_id, COUNT(*) AS n FROM a GROUP BY 1),
        |szb AS (SELECT doc_id, COUNT(*) AS n FROM b GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM a JOIN b USING (shingle) GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / CAST(za.n + zb.n - c AS DOUBLE) AS jaccard
        |FROM common
        |JOIN sza za ON za.doc_id = id_a
        |JOIN szb zb ON zb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / CAST(za.n + zb.n - c AS DOUBLE) >= 0.8""".stripMargin,

    // replays the Spark cosine expression tree exactly
    // (dot / (sqrt(dot_a) * sqrt(dot_b)), sequential accumulation)
    // rather than list_cosine_similarity's sqrt(a*b) grouping
    "d20_semantic_decontam" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
        |co AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0),
        |s AS (
        |  SELECT co.vec_id AS id,
        |    list_dot_product(co.v, ev.v)
        |      / (sqrt(list_dot_product(co.v, co.v))
        |         * sqrt(list_dot_product(ev.v, ev.v))) AS sim
        |  FROM co CROSS JOIN ev)
        |SELECT id, COUNT(*) AS n_hits, round(MAX(sim), 6) AS max_sim
        |FROM s WHERE sim >= 0.35 GROUP BY id""".stripMargin,

    "p21_pagerank" -> p21PagerankSql(iters = 3),

    "p40_coverage_select" -> p40CoverageSql(k = 5),

    // level-by-level unrolled BFS (depth 3) over the same synthetic
    // user graph; NOT IN is null-safe here (vertex ids are non-null)
    "p41_bfs_hops" ->
      """WITH mm AS (SELECT MAX(user_id) + 1 AS m FROM events),
        |e0 AS (
        |  SELECT user_id AS src,
        |    (user_id * 31 + event_id * 7 + 1) % m AS dst
        |  FROM events, mm),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |adj AS (
        |  SELECT a AS s, b AS d FROM und
        |  UNION ALL SELECT b, a FROM und),
        |verts AS (SELECT src AS v FROM e0 UNION SELECT dst FROM e0),
        |s0 AS (SELECT v FROM verts WHERE v % 97 = 0),
        |f1 AS (
        |  SELECT DISTINCT d AS v FROM adj JOIN s0 ON adj.s = s0.v
        |  WHERE d NOT IN (SELECT v FROM s0)),
        |f2 AS (
        |  SELECT DISTINCT d AS v FROM adj JOIN f1 ON adj.s = f1.v
        |  WHERE d NOT IN (SELECT v FROM s0)
        |    AND d NOT IN (SELECT v FROM f1)),
        |f3 AS (
        |  SELECT DISTINCT d AS v FROM adj JOIN f2 ON adj.s = f2.v
        |  WHERE d NOT IN (SELECT v FROM s0)
        |    AND d NOT IN (SELECT v FROM f1)
        |    AND d NOT IN (SELECT v FROM f2)),
        |lv AS (
        |  SELECT 0 AS dist, v FROM s0
        |  UNION ALL SELECT 1, v FROM f1
        |  UNION ALL SELECT 2, v FROM f2
        |  UNION ALL SELECT 3, v FROM f3)
        |SELECT CAST(dist AS INT) AS dist, COUNT(*) AS n_vertices
        |FROM lv GROUP BY 1""".stripMargin,

    "q78_grouped_quantiles" ->
      """SELECT source, unnest([CAST(0.25 AS DOUBLE), 0.5, 0.75]) AS q,
        |  unnest([quantile_cont(n_chars, 0.25),
        |          quantile_cont(n_chars, 0.5),
        |          quantile_cont(n_chars, 0.75)]) AS quantile
        |FROM documents GROUP BY source""".stripMargin,

    // DuckDB's NATIVE median() vs the engine's value-histogram form —
    // two independent implementations; interpolated medians are exact
    // dyadic doubles so equality is exact
    "p42_robust_stats" ->
      """WITH med AS (
        |  SELECT source, COUNT(*) AS n, median(n_chars) AS med
        |  FROM documents GROUP BY 1),
        |mad AS (
        |  SELECT d.source, median(abs(d.n_chars - med.med)) AS mad
        |  FROM documents d JOIN med ON d.source = med.source
        |  GROUP BY 1),
        |o AS (
        |  SELECT d.source,
        |    COUNT(CASE WHEN abs(d.n_chars - med.med) > 3 * mad.mad
        |      THEN 1 END) AS n_outliers
        |  FROM documents d
        |  JOIN med ON d.source = med.source
        |  JOIN mad ON d.source = mad.source
        |  GROUP BY 1)
        |SELECT med.source, CAST(med.n AS BIGINT) AS n,
        |  CAST(med.med AS DOUBLE) AS median,
        |  CAST(mad.mad AS DOUBLE) AS mad,
        |  CAST(o.n_outliers AS BIGINT) AS n_outliers
        |FROM med
        |JOIN mad ON mad.source = med.source
        |JOIN o ON o.source = med.source""".stripMargin,

    // list() preserves frame order; list_prepend(0.0) seeds the fold
    // like Spark's explicit zero (DuckDB's list_reduce otherwise
    // seeds with the first element) — p27 established the pattern
    "q86_ewma" ->
      """WITH c AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id,
        |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |      AS arr
        |  FROM c)
        |SELECT user_id, event_id,
        |  round(
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(arr, x -> CAST(x AS DOUBLE))),
        |      (acc, x) -> acc / 2.0 + x)
        |    / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(arr, x -> 1.0)),
        |      (acc, x) -> acc / 2.0 + x) / 100.0, 6) AS ewma
        |FROM f""".stripMargin,

    "q81_rank_family" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, total,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY total DESC, day)
        |QUALIFY rnk <= 10""".stripMargin,

    "p48_data_contract" ->
      """WITH orphan AS (
        |  SELECT COUNT(*) AS n FROM (
        |    SELECT DISTINCT o_custkey FROM orders) o
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |s AS (
        |  SELECT
        |    SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
        |        THEN 1 ELSE 0 END) AS price,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |        THEN 1 ELSE 0 END) AS status,
        |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS nulldate
        |  FROM orders)
        |SELECT 'orders.o_custkey -> customer' AS "check",
        |  CAST(n AS BIGINT) AS n_violations, n = 0 AS pass FROM orphan
        |UNION ALL SELECT 'orders.o_totalprice > 0',
        |  CAST(price AS BIGINT), price = 0 FROM s
        |UNION ALL SELECT 'orders.o_orderstatus in (O,F,P)',
        |  CAST(status AS BIGINT), status = 0 FROM s
        |UNION ALL SELECT 'orders.o_orderdate not null',
        |  CAST(nulldate AS BIGINT), nulldate = 0 FROM s""".stripMargin,

    "p49_poisson_bootstrap" ->
      """WITH x0 AS (
        |  SELECT n_chars,
        |    (doc_id * 2654435761 + t.r * 1500450271) % 4294967296 AS x,
        |    t.r
        |  FROM documents, range(32) t(r)),
        |x1 AS (SELECT r, n_chars, xor(x, x // 65536) AS x FROM x0),
        |x2 AS (SELECT r, n_chars,
        |         (x * 1500450271) % 4294967296 AS x FROM x1),
        |w AS (
        |  SELECT r, xor(x, x // 8192) % 1000 AS pm, n_chars FROM x2),
        |ww AS (
        |  SELECT r,
        |    CASE WHEN pm < 368 THEN 0 WHEN pm < 736 THEN 1
        |         WHEN pm < 920 THEN 2 WHEN pm < 981 THEN 3
        |         ELSE 4 END AS wt,
        |    n_chars
        |  FROM w)
        |SELECT CAST(r AS BIGINT) AS r, CAST(SUM(wt) AS BIGINT) AS n_eff,
        |  round(CAST(SUM(wt * n_chars) AS DOUBLE)
        |        / CAST(SUM(wt) AS DOUBLE), 6) AS mean_chars
        |FROM ww GROUP BY 1""".stripMargin,

    "q79_grouped_mode" ->
      """SELECT event_type, user_id AS mode_user,
        |  CAST(c AS BIGINT) AS n
        |FROM (
        |  SELECT event_type, user_id, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2)
        |QUALIFY row_number()
        |  OVER (PARTITION BY event_type ORDER BY c DESC, user_id) = 1
        |""".stripMargin,

    // identical decimal partials and double tree; DuckDB's native
    // corr() is deliberately NOT used (incremental float accumulation
    // is order-dependent there; the decimal partials are not)
    "q80_grouped_corr" ->
      """WITH d AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM d GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
        |FROM a""".stripMargin,

    "t27_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |per AS (
        |  SELECT user_id, COUNT(*) AS n, SUM(gap) AS sg,
        |    SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0)))
        |      AS sg2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2),
        |cv AS (
        |  SELECT user_id,
        |    round(sqrt(greatest((CAST(sg2 AS DOUBLE)
        |        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 0))
        |      / (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv
        |  FROM per)
        |SELECT CAST(least(floor(cv * 10), 19) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM cv GROUP BY 1""".stripMargin,

    "p50_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type, event_id % 2 = 0 AS ref,
        |    least(CAST(round(value * 100) AS BIGINT) // 1000, 19) AS b
        |  FROM events),
        |counts AS (
        |  SELECT event_type, b,
        |    SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS cr,
        |    SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS cc
        |  FROM e GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, SUM(cr) AS nr, SUM(cc) AS nc,
        |    COUNT(*) AS nb
        |  FROM counts GROUP BY 1),
        |terms AS (
        |  SELECT c.event_type, t.nr, t.nc,
        |    (CAST(c.cr + 1 AS DOUBLE) / CAST(t.nr + t.nb AS DOUBLE)
        |     - CAST(c.cc + 1 AS DOUBLE) / CAST(t.nc + t.nb AS DOUBLE))
        |    * ln((CAST(c.cr + 1 AS DOUBLE) / CAST(t.nr + t.nb AS DOUBLE))
        |       / (CAST(c.cc + 1 AS DOUBLE) / CAST(t.nc + t.nb AS DOUBLE)))
        |      AS term
        |  FROM counts c JOIN tot t ON t.event_type = c.event_type)
        |SELECT event_type, CAST(MAX(nr) AS BIGINT) AS n_ref,
        |  CAST(MAX(nc) AS BIGINT) AS n_cur,
        |  round(CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
        |             AS DOUBLE), 6) AS psi,
        |  round(CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
        |             AS DOUBLE), 6) > 0.2 AS drifted
        |FROM terms GROUP BY 1""".stripMargin,

    "q83_quantile_disc" ->
      """SELECT source,
        |  unnest([CAST(0.5 AS DOUBLE), 0.9, 0.99]) AS q,
        |  unnest([quantile_disc(n_chars, 0.5),
        |          quantile_disc(n_chars, 0.9),
        |          quantile_disc(n_chars, 0.99)]) AS quantile
        |FROM documents GROUP BY source""".stripMargin,

    // dual-key blocking replayed: prefix-3 OR suffix-3 candidates
    // over distinct names, levenshtein <= 2, best = (dist, canon) min
    "p43_entity_resolution" ->
      """WITH dirty AS (
        |  SELECT DISTINCT
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |    || substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)
        |      AS dirty
        |  FROM part),
        |canon AS (SELECT DISTINCT p_name AS canon FROM part),
        |cand AS (
        |  SELECT d.dirty, c.canon FROM dirty d JOIN canon c
        |    ON substr(d.dirty, 1, 3) = substr(c.canon, 1, 3)
        |  UNION
        |  SELECT d.dirty, c.canon FROM dirty d JOIN canon c
        |    ON substr(d.dirty, length(d.dirty) - 2, 3)
        |     = substr(c.canon, length(c.canon) - 2, 3)),
        |scored AS (
        |  SELECT dirty, canon, levenshtein(dirty, canon) AS dist
        |  FROM cand WHERE levenshtein(dirty, canon) <= 2)
        |SELECT dirty, canon AS match_name, CAST(dist AS INT) AS dist
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY dirty
        |                           ORDER BY dist, canon) = 1""".stripMargin,

    "p52_t_closeness" ->
      """WITH d AS (
        |  SELECT lang, n_chars // 50 AS len_bucket, source FROM documents),
        |cells AS (
        |  SELECT lang, len_bucket, source, COUNT(*) AS gc
        |  FROM d GROUP BY 1, 2, 3),
        |groups AS (
        |  SELECT lang, len_bucket, CAST(SUM(gc) AS BIGINT) AS gn
        |  FROM cells GROUP BY 1, 2),
        |gsrc AS (SELECT source, COUNT(*) AS tc FROM d GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS tn FROM d),
        |grid AS (
        |  SELECT g.lang, g.len_bucket, g.gn, s.source, s.tc
        |  FROM groups g CROSS JOIN gsrc s),
        |terms AS (
        |  SELECT grid.lang, grid.len_bucket, grid.gn, tot.tn,
        |    abs(COALESCE(c.gc, 0) * tot.tn - grid.tc * grid.gn) AS term
        |  FROM grid
        |  LEFT JOIN cells c ON c.lang = grid.lang
        |    AND c.len_bucket = grid.len_bucket AND c.source = grid.source
        |  CROSS JOIN tot)
        |SELECT lang, len_bucket, gn AS n_members,
        |  round(CAST(SUM(term) AS DOUBLE) / (2.0 * gn * tn), 9) AS t_dist,
        |  round(CAST(SUM(term) AS DOUBLE) / (2.0 * gn * tn), 9) <= 0.2 AS close
        |FROM terms GROUP BY lang, len_bucket, gn, tn""".stripMargin,

    "p51_jaro_linkage" ->
      """WITH dirty AS (
        |  SELECT DISTINCT
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |    || substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)
        |      AS dirty
        |  FROM part),
        |canon AS (SELECT DISTINCT p_name AS canon FROM part),
        |cand AS (
        |  SELECT d.dirty, c.canon FROM dirty d JOIN canon c
        |    ON substr(d.dirty, 1, 3) = substr(c.canon, 1, 3)
        |  UNION
        |  SELECT d.dirty, c.canon FROM dirty d JOIN canon c
        |    ON substr(d.dirty, length(d.dirty) - 2, 3)
        |     = substr(c.canon, length(c.canon) - 2, 3)),
        |scored AS (
        |  SELECT dirty, canon,
        |    round(jaro_winkler_similarity(dirty, canon), 9) AS sim9
        |  FROM cand
        |  WHERE round(jaro_winkler_similarity(dirty, canon), 9) >= 0.9)
        |SELECT dirty, canon AS match_name, round(sim9, 6) AS sim
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY dirty
        |                           ORDER BY sim9 DESC, canon) = 1""".stripMargin,

    // integer-day zone arithmetic replayed; sums cast back to BIGINT
    // (DuckDB widens SUM(int) to HUGEINT)
    "p44_zonemap" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
        |  FROM orders),
        |b AS (
        |  SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1,
        |    CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) + 1
        |         AS BIGINT) AS span
        |  FROM o),
        |b2 AS (SELECT d0, span,
        |    d0 + CAST(span * 45 // 100 AS INT) AS lo,
        |    d0 + CAST(span * 55 // 100 AS INT) AS hi FROM b),
        |z AS (
        |  SELECT o_orderkey, o_orderdate, lo, hi, span,
        |    CAST(date_diff('day', d0, o_orderdate) AS BIGINT) AS day,
        |    CASE WHEN o_orderdate BETWEEN lo AND hi THEN 1 ELSE 0 END AS m
        |  FROM o, b2),
        |l AS (
        |  SELECT 'arrival' AS layout, o_orderkey % 64 AS zone,
        |    o_orderdate, lo, hi, m FROM z
        |  UNION ALL
        |  SELECT 'date_sorted', day * 64 // span, o_orderdate, lo, hi, m
        |  FROM z),
        |zm AS (
        |  SELECT layout, zone, min(o_orderdate) AS zmin,
        |    max(o_orderdate) AS zmax, COUNT(*) AS n, SUM(m) AS nm,
        |    max(lo) AS lo, max(hi) AS hi
        |  FROM l GROUP BY 1, 2)
        |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_zones,
        |  CAST(SUM(CASE WHEN zmax >= lo AND zmin <= hi THEN 1 ELSE 0 END)
        |       AS BIGINT) AS zones_scanned,
        |  CAST(SUM(CASE WHEN zmax >= lo AND zmin <= hi THEN n ELSE 0 END)
        |       AS BIGINT) AS rows_scanned,
        |  CAST(SUM(nm) AS BIGINT) AS rows_matching
        |FROM zm GROUP BY 1""".stripMargin,

    "p36_triangles" ->
      """WITH mm AS (SELECT MAX(user_id) + 1 AS m FROM events),
        |e0 AS (
        |  SELECT user_id AS src,
        |    (user_id * 31 + event_id * 7 + 1) % m AS dst
        |  FROM events, mm),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1),
        |wd AS (
        |  SELECT und.a, und.b, d1.deg AS da, d2.deg AS db
        |  FROM und
        |  JOIN deg d1 ON d1.v = und.a
        |  JOIN deg d2 ON d2.v = und.b),
        |o AS (
        |  SELECT
        |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS w,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dw
        |  FROM wd),
        |tri AS (
        |  SELECT e1.u, e1.w AS v1, e2.w AS v2
        |  FROM o e1
        |  JOIN o e2 ON e1.u = e2.u
        |    AND (e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w))
        |  JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w)
        |SELECT v, COUNT(*) AS n_tri FROM (
        |  SELECT u AS v FROM tri
        |  UNION ALL SELECT v1 FROM tri
        |  UNION ALL SELECT v2 FROM tri)
        |GROUP BY 1""".stripMargin,

    "p37_clustering_coef" ->
      """WITH mm AS (SELECT MAX(user_id) + 1 AS m FROM events),
        |e0 AS (
        |  SELECT user_id AS src,
        |    (user_id * 31 + event_id * 7 + 1) % m AS dst
        |  FROM events, mm),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1),
        |wd AS (
        |  SELECT und.a, und.b, d1.deg AS da, d2.deg AS db
        |  FROM und
        |  JOIN deg d1 ON d1.v = und.a
        |  JOIN deg d2 ON d2.v = und.b),
        |o AS (
        |  SELECT
        |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS w,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dw
        |  FROM wd),
        |tri AS (
        |  SELECT e1.u, e1.w AS v1, e2.w AS v2
        |  FROM o e1
        |  JOIN o e2 ON e1.u = e2.u
        |    AND (e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w))
        |  JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w),
        |tc AS (
        |  SELECT v, COUNT(*) AS n_tri FROM (
        |    SELECT u AS v FROM tri
        |    UNION ALL SELECT v1 FROM tri
        |    UNION ALL SELECT v2 FROM tri)
        |  GROUP BY 1)
        |SELECT deg.v, CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(deg.deg AS BIGINT) AS deg,
        |  round(CASE WHEN deg.deg >= 2
        |    THEN CAST(2 * coalesce(tc.n_tri, 0) AS DOUBLE)
        |         / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS coef
        |FROM deg LEFT JOIN tc ON tc.v = deg.v""".stripMargin,

    // the 3 LPA rounds unrolled; each round: join labels to the
    // symmetric adjacency on the neighbor, count votes, keep the
    // (count desc, label asc) winner via QUALIFY
    "p45_lpa_communities" ->
      """WITH mm AS (SELECT MAX(user_id) + 1 AS m FROM events),
        |e0 AS (
        |  SELECT user_id AS src,
        |    (user_id * 31 + event_id * 7 + 1) % m AS dst
        |  FROM events, mm),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |adj AS (
        |  SELECT a AS n, b AS nb FROM und
        |  UNION ALL SELECT b, a FROM und),
        |l0 AS (SELECT DISTINCT n AS node, n AS lab FROM adj),
        |l1 AS (
        |  SELECT n AS node, lab FROM (
        |    SELECT adj.n, l.lab, COUNT(*) AS c
        |    FROM adj JOIN l0 l ON l.node = adj.nb
        |    GROUP BY 1, 2
        |    QUALIFY row_number()
        |      OVER (PARTITION BY adj.n ORDER BY c DESC, l.lab) = 1)),
        |l2 AS (
        |  SELECT n AS node, lab FROM (
        |    SELECT adj.n, l.lab, COUNT(*) AS c
        |    FROM adj JOIN l1 l ON l.node = adj.nb
        |    GROUP BY 1, 2
        |    QUALIFY row_number()
        |      OVER (PARTITION BY adj.n ORDER BY c DESC, l.lab) = 1)),
        |l3 AS (
        |  SELECT n AS node, lab FROM (
        |    SELECT adj.n, l.lab, COUNT(*) AS c
        |    FROM adj JOIN l2 l ON l.node = adj.nb
        |    GROUP BY 1, 2
        |    QUALIFY row_number()
        |      OVER (PARTITION BY adj.n ORDER BY c DESC, l.lab) = 1))
        |SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM l3 GROUP BY 1""".stripMargin,

    "p26_hits" -> p26HitsSql(iters = 2),

    // the noise draw replays exactly: same poly_hash, same inverse-CDF
    // expression tree (IEEE-deterministic), round(·,6) for display
    "p27_dp_counts" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |h AS (
        |  SELECT source, n,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(source) + 1),
        |          i -> CAST(ascii(substr(source, CAST(i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS ph
        |  FROM c),
        |u AS (SELECT source, n,
        |        (CAST(ph % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u FROM h)
        |SELECT source,
        |  round(n + (-sign(u - 0.5)) * ln(1 - 2 * abs(u - 0.5)), 6) AS dp_count
        |FROM u""".stripMargin,

    "p28_k_anonymity" ->
      """SELECT lang, n_chars // 50 AS len_bucket, COUNT(*) AS n_members
        |FROM documents GROUP BY 1, 2 HAVING COUNT(*) < 5""".stripMargin,

    // replays the synthetic sequence arithmetically over range()
    "q61_dsv2_source" ->
      """SELECT id % 10 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST((id * 2654435761 % 1000000) / 1000.0
        |                AS DECIMAL(18,3))) AS DOUBLE) AS sum_val
        |FROM range(90000, 100000) t(id) GROUP BY 1""".stripMargin,

    // epoch-1 rows (even doc_id) have no quality column -> NULL
    "q60_schema_evolution" ->
      """SELECT source, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_quality,
        |  CAST(coalesce(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 5 END), 0)
        |       AS BIGINT) AS sum_quality
        |FROM documents GROUP BY source""".stripMargin,

    "p23_scd2_merge" ->
      """WITH dim AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS key, c_mktsegment AS attr,
        |         CAST(0 AS BIGINT) AS valid_from
        |  FROM customer),
        |u AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS key, 'MOVED' AS attr
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT CAST(c_custkey AS BIGINT), c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 5
        |  UNION ALL SELECT CAST(-c_custkey AS BIGINT), 'FRESH'
        |  FROM customer WHERE c_custkey % 25 = 0),
        |j AS (
        |  SELECT coalesce(d.key, u.key) AS key, d.attr AS old_attr,
        |         d.valid_from, u.attr AS new_attr,
        |         d.key IS NOT NULL AS has_old, u.key IS NOT NULL AS has_new
        |  FROM dim d FULL OUTER JOIN u ON d.key = u.key)
        |SELECT key, new_attr AS attr, CAST(100 AS BIGINT) AS valid_from,
        |       CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        |FROM j WHERE NOT has_old
        |UNION ALL
        |SELECT key, old_attr, valid_from, CAST(NULL AS BIGINT), TRUE
        |FROM j WHERE has_old
        |        AND (NOT has_new OR new_attr IS NOT DISTINCT FROM old_attr)
        |UNION ALL
        |SELECT key, old_attr, valid_from, CAST(100 AS BIGINT), FALSE
        |FROM j WHERE has_old AND has_new
        |        AND new_attr IS DISTINCT FROM old_attr
        |UNION ALL
        |SELECT key, new_attr, CAST(100 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM j WHERE has_old AND has_new
        |        AND new_attr IS DISTINCT FROM old_attr""".stripMargin,

    "p25_profile_by_source" ->
      """WITH m AS (
        |  SELECT source, COUNT(*) AS row_count,
        |    COUNT(*) - COUNT(doc_id) AS id_nulls,
        |    COUNT(doc_id) - COUNT(DISTINCT doc_id) AS id_dupes,
        |    COUNT(*) - COUNT(text) AS text_nulls,
        |    COUNT(CASE WHEN length(trim(text)) = 0 THEN 1 END) AS text_empty,
        |    COUNT(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 END)
        |      AS lang_invalid,
        |    COUNT(DISTINCT lang) AS distinct_langs,
        |    MIN(length(text)) AS min_chars,
        |    MAX(length(text)) AS max_chars,
        |    round(CAST(SUM(CAST(length(text) AS DECIMAL(28,6))) AS DOUBLE)
        |          / COUNT(text), 6) AS mean_chars
        |  FROM documents GROUP BY source)
        |SELECT source, 'row_count' AS metric, CAST(row_count AS DOUBLE) AS value FROM m
        |UNION ALL SELECT source, 'id_nulls', CAST(id_nulls AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'id_dupes', CAST(id_dupes AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'text_nulls', CAST(text_nulls AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'text_empty', CAST(text_empty AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'lang_invalid', CAST(lang_invalid AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'distinct_langs', CAST(distinct_langs AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'min_chars', CAST(min_chars AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'max_chars', CAST(max_chars AS DOUBLE) FROM m
        |UNION ALL SELECT source, 'mean_chars', CAST(mean_chars AS DOUBLE) FROM m""".stripMargin,

    "q59_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         round(value, 2) AS v, event_id
        |  FROM events WHERE user_id < 20),
        |obs AS (
        |  SELECT user_id, h, arg_max(v, event_id) AS v
        |  FROM ev GROUP BY user_id, h),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM obs GROUP BY user_id),
        |j AS (
        |  SELECT g.user_id, g.h, o.v
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.h = o.h)
        |SELECT user_id, h,
        |  last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  v IS NOT NULL AS observed
        |FROM j""".stripMargin,

    // oracle = the one-shot full join the incremental form maintains
    "p32_incremental_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // oracle = full recompute; the query merges base+delta partials
    "p24_incremental_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q58_setops_all" ->
      """WITH ck AS (SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer),
        |sk AS (SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier),
        |ia AS (SELECT k FROM ck INTERSECT ALL SELECT k FROM sk),
        |ea AS (SELECT k FROM ck EXCEPT ALL SELECT k FROM sk)
        |SELECT 'intersect_all' AS op, k, COUNT(*) AS n FROM ia GROUP BY 1, 2
        |UNION ALL
        |SELECT 'except_all' AS op, k, COUNT(*) AS n FROM ea GROUP BY 1, 2""".stripMargin,

    "p22_profile" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS row_count,
        |    COUNT(*) - COUNT(doc_id) AS id_nulls,
        |    COUNT(doc_id) - COUNT(DISTINCT doc_id) AS id_dupes,
        |    COUNT(*) - COUNT(text) AS text_nulls,
        |    COUNT(CASE WHEN length(trim(text)) = 0 THEN 1 END) AS text_empty,
        |    COUNT(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 END)
        |      AS lang_invalid,
        |    COUNT(DISTINCT lang) AS distinct_langs,
        |    MIN(length(text)) AS min_chars,
        |    MAX(length(text)) AS max_chars,
        |    round(CAST(SUM(CAST(length(text) AS DECIMAL(28,6))) AS DOUBLE)
        |          / COUNT(text), 6) AS mean_chars
        |  FROM documents)
        |SELECT 'row_count' AS metric, CAST(row_count AS DOUBLE) AS value FROM m
        |UNION ALL SELECT 'id_nulls', CAST(id_nulls AS DOUBLE) FROM m
        |UNION ALL SELECT 'id_dupes', CAST(id_dupes AS DOUBLE) FROM m
        |UNION ALL SELECT 'text_nulls', CAST(text_nulls AS DOUBLE) FROM m
        |UNION ALL SELECT 'text_empty', CAST(text_empty AS DOUBLE) FROM m
        |UNION ALL SELECT 'lang_invalid', CAST(lang_invalid AS DOUBLE) FROM m
        |UNION ALL SELECT 'distinct_langs', CAST(distinct_langs AS DOUBLE) FROM m
        |UNION ALL SELECT 'min_chars', CAST(min_chars AS DOUBLE) FROM m
        |UNION ALL SELECT 'max_chars', CAST(max_chars AS DOUBLE) FROM m
        |UNION ALL SELECT 'mean_chars', CAST(mean_chars AS DOUBLE) FROM m""".stripMargin,

    "m1_media_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  'application/octet-stream' AS mime,
        |  CAST(doc_id % 640 + 64 AS BIGINT) AS width,
        |  CAST(doc_id % 480 + 48 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "s2_ann_lsh" ->
      "SELECT true AS recall_ok",

    "s13_matryoshka" ->
      "SELECT true AS recall_ok",

    "s3_ann_ivf" ->
      "SELECT true AS recall_ok",

    "s7_ann_ivf_kmeans" ->
      "SELECT true AS recall_ok",

    "s12_ann_index_probe" ->
      "SELECT true AS recall_ok",

    "s8_embed_outliers" ->
      """WITH n AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 97 = 0 THEN 5.0 ELSE 1.0 END
        |      * sqrt(list_aggregate(list_transform(embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings),
        |st AS (SELECT avg(nrm) AS mu, stddev_pop(nrm) AS sd FROM n)
        |SELECT n.vec_id, (abs(n.nrm - st.mu) > 3 * st.sd) AS is_outlier
        |FROM n, st""".stripMargin,

    "s4_kmeans" -> s4KmeansSql(k = 10, iters = 3, dim = 64),

    "d13_semdedup" ->
      s"""WITH asg AS (
         |${s4KmeansSql(k = 10, iters = 3, dim = 64)}
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM asg a JOIN asg b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                             CAST(eb.embedding AS DOUBLE[])) >= 0.45""".stripMargin,

    "d6_embed_lsh" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id < b.vec_id AND a.vec_id % 2 = b.vec_id % 2
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM pairs""".stripMargin,

    "m2_media_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS checksum
        |FROM documents""".stripMargin,

    // fixed-size-frame contract: only FULL 64-byte frames are emitted
    // (docs under one frame yield no rows), so frame_len is constant
    "m3_media_frames" ->
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n FROM documents WHERE length(text) >= 64),
        |idxs AS (
        |  SELECT doc_id, n,
        |    unnest(range(0, CAST(n // 64 AS INT), 4)) AS fi
        |  FROM base)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(64 AS BIGINT) AS frame_len
        |FROM idxs""".stripMargin,

    "m4_media_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 64 + 16 AS BIGINT) AS dec_w,
        |  CAST(doc_id % 48 + 16 AS BIGINT) AS dec_h,
        |  CAST(doc_id % 256 AS BIGINT) AS dec_luma,
        |  CAST(greatest((doc_id % 64 + 16) // 2, 1) AS BIGINT) AS rs_w,
        |  CAST(greatest((doc_id % 48 + 16) // 2, 1) AS BIGINT) AS rs_h,
        |  CAST(doc_id % 256 AS BIGINT) AS rs_luma
        |FROM documents""".stripMargin,

    // arithmetic replay of the synthetic waveform: header fields are
    // closed-form, peak/energy re-derived per sample index
    "m6_audio_decode" ->
      """WITH s AS (
        |  SELECT doc_id, unnest(range(0, doc_id % 100 + 50)) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, (doc_id * 31 + i * 17) % 2048 - 1024 AS x FROM s)
        |SELECT doc_id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(doc_id % 100 + 50 AS BIGINT) AS n_samples,
        |  CAST(MAX(abs(x)) AS BIGINT) AS peak,
        |  CAST(SUM(abs(x)) AS BIGINT) AS sum_abs
        |FROM v GROUP BY doc_id""".stripMargin,

    "m8_audio_frames" ->
      """WITH d AS (SELECT doc_id, doc_id % 100 + 50 AS n FROM documents),
        |f AS (
        |  SELECT doc_id, n, unnest(range(0, (n + 49) // 50)) AS frame_idx
        |  FROM d),
        |s AS (
        |  SELECT doc_id, frame_idx,
        |    unnest(range(frame_idx * 50, least(n, (frame_idx + 1) * 50))) AS i
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(SUM(abs((doc_id * 31 + i * 17) % 2048 - 1024)) AS BIGINT)
        |    AS energy
        |FROM s GROUP BY 1, 2""".stripMargin,

    // the stripe fixture makes the aHash a pure function of doc_id % 8
    // (bit y·8+x set iff (doc_id + x) % 8 >= 4), so the oracle replays
    // the cluster structure arithmetically
    "m5_image_dedup" ->
      """WITH h AS (SELECT doc_id, doc_id % 8 AS k FROM documents),
        |c AS (SELECT k, MIN(doc_id) AS cluster_id,
        |        COUNT(*) AS cluster_size
        |      FROM h GROUP BY 1)
        |SELECT h.doc_id, c.cluster_id, c.cluster_size
        |FROM h JOIN c ON h.k = c.k""".stripMargin,

    "st1_stream_tumble" ->
      """SELECT event_type, COUNT(*) AS n,
        |  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start
        |FROM events GROUP BY event_type, window_start""".stripMargin,

    "st2_sql_tumble" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "st12_stream_cms" ->
      """SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP))
        |    AS window_start,
        |  CAST(t.j AS INT) AS j,
        |  (user_id * (2654435761 + t.j * 81006)) % 4294967296 % 256 AS c,
        |  COUNT(*) AS n
        |FROM events CROSS JOIN range(0, 4) t(j)
        |GROUP BY 1, 2, 3""".stripMargin,

    "st14_stream_psi" ->
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP))
        |      AS window_start,
        |    least(CAST(round(value * 100) AS BIGINT) // 1000, 19) AS b
        |  FROM events WHERE value IS NOT NULL),
        |ref AS (SELECT b, COUNT(*) AS cr FROM e GROUP BY 1),
        |nrt AS (SELECT SUM(cr) AS nr FROM ref),
        |cur AS (SELECT window_start, b, COUNT(*) AS cc FROM e GROUP BY 1, 2),
        |nct AS (SELECT window_start, SUM(cc) AS nc FROM cur GROUP BY 1),
        |grid AS (
        |  SELECT w.window_start, t.b
        |  FROM (SELECT DISTINCT window_start FROM cur) w, range(0, 20) t(b)),
        |terms AS (
        |  SELECT g.window_start, n.nc,
        |    (CAST(coalesce(r.cr, 0) + 1 AS DOUBLE) / CAST(nr.nr + 20 AS DOUBLE)
        |     - CAST(coalesce(c.cc, 0) + 1 AS DOUBLE) / CAST(n.nc + 20 AS DOUBLE))
        |    * ln((CAST(coalesce(r.cr, 0) + 1 AS DOUBLE) / CAST(nr.nr + 20 AS DOUBLE))
        |       / (CAST(coalesce(c.cc, 0) + 1 AS DOUBLE) / CAST(n.nc + 20 AS DOUBLE)))
        |      AS term
        |  FROM grid g
        |  LEFT JOIN ref r ON r.b = g.b
        |  LEFT JOIN cur c ON c.window_start = g.window_start AND c.b = g.b
        |  JOIN nct n ON n.window_start = g.window_start
        |  CROSS JOIN nrt nr)
        |SELECT window_start, CAST(MAX(nc) AS BIGINT) AS n_cur,
        |  round(CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
        |             AS DOUBLE), 6) AS psi,
        |  round(CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
        |             AS DOUBLE), 6) > 0.2 AS drifted
        |FROM terms GROUP BY 1""".stripMargin
  )

  /** Unrolled DuckDB replica of Lloyd's k-means (s4), iteration by
    * iteration, mirroring graft.operators.Clustering.kmeans bit for bit:
    * same smallest-id init, the same left-fold Σ(vᵢ−cᵢ)² distance as the
    * codegen'd VecNearestCell loop, the same lower-cell tie-break, the
    * same round(avg, 6) centroid quantization (which absorbs summation-
    * order noise between engines), the same keep-previous-centroid rule
    * for empty cells.
    */
  /** DuckDB replica of the distributed BPE trainer (t9): same word-freq
    * table, same double-space segmentations, same (count desc, pair asc)
    * argmax, same one-pass replace application — unrolled per round
    * like the kmeans oracle.
    */
  /** Shared CTE prefix for the BPE oracles: word table `w`, initial
    * char segmentation `s0`, and `rounds` unrolled merge rounds ending
    * at segmentation table `s<rounds>` (with per-round winners in
    * `b1..b<rounds>`).
    */
  /** DuckDB replica of [[TextAnalysis.bpeTrain]]'s batched rule.
    * Per round: bigram-count the current segmentation, window the top
    * `window` pairs by (count desc, pair), KEEP a candidate iff its two
    * symbols appear in no better-ranked candidate (a per-row NOT
    * EXISTS — the same rule the Scala side applies, chosen over greedy
    * filtering exactly so both engines can express it without a
    * sequential fold), then apply all kept merges as an unrolled
    * replace chain IN RANK ORDER (normative: an earlier merge can
    * create occurrences of a later pair's symbol, so the order is
    * part of the algorithm, not an implementation detail). A missing krk slot replaces the 5-space sentinel
    * (symbols are non-empty and space-free, so a padded segmentation
    * never contains 3+ consecutive spaces) — a no-op.
    */
  private def bpeCtes(rounds: Int, window: Int): String = {
    def round(i: Int): String = {
      val prev = s"s${i - 1}"
      val applied = (1 to window).foldLeft("' ' || seg || ' '") { (acc, k) =>
        s"""replace($acc,
           |      coalesce((SELECT ' ' || pair || ' ' FROM b$i WHERE krk = $k), '     '),
           |      coalesce((SELECT ' ' || merged || ' ' FROM b$i WHERE krk = $k), ''))""".stripMargin
      }
      s"""p$i AS (
         |  SELECT pair, SUM(f) AS c FROM (
         |    SELECT f, unnest(list_transform(range(1, len(sy)),
         |      j -> sy[CAST(j AS INT)] || '  ' || sy[CAST(j AS INT) + 1])) AS pair
         |    FROM (SELECT f, string_split(seg, '  ') AS sy FROM $prev)
         |    WHERE len(sy) >= 2)
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (
         |  SELECT pair, c, replace(pair, '  ', '') AS merged,
         |    string_split(pair, '  ')[1] AS a, string_split(pair, '  ')[2] AS b,
         |    row_number() OVER (ORDER BY c DESC, pair) AS rk
         |  FROM p$i ORDER BY c DESC, pair LIMIT $window),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS batch, pair, c, merged,
         |    row_number() OVER (ORDER BY rk) AS krk
         |  FROM k$i k1
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM k$i k2 WHERE k2.rk < k1.rk
         |      AND (k2.a IN (k1.a, k1.b) OR k2.b IN (k1.a, k1.b)))),
         |s$i AS MATERIALIZED (
         |  SELECT w, f, trim($applied) AS seg
         |  FROM $prev)""".stripMargin
    }
    s"""WITH w AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT w, f, array_to_string(string_split(w, ''), '  ') AS seg
       |  FROM w),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  private def bpeSql(rounds: Int, window: Int): String =
    s"""${bpeCtes(rounds, window)}
       |SELECT CAST(row_number() OVER (ORDER BY batch, krk) AS BIGINT) AS round,
       |  merged, CAST(c AS BIGINT) AS pair_count
       |FROM (${(1 to rounds)
        .map(i => s"SELECT batch, krk, merged, c FROM b$i")
        .mkString("\nUNION ALL\n")})""".stripMargin

  private def bpeEncodeSql(rounds: Int, window: Int): String =
    s"""${bpeCtes(rounds, window)},
       |enc AS (
       |  SELECT w, len(string_split(seg, '  ')) AS n_tok FROM s$rounds),
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN enc USING (w)
       |GROUP BY doc_id""".stripMargin

  /** Unrolled fixed-point PageRank replica of [[Graph.pageRank]]: all
    * integer arithmetic (`//`, associative BIGINT sums), so every round
    * is bit-exact — no float-rounding treaty needed (the s4 kmeans
    * discipline, minus even the round()).
    */
  private def p21PagerankSql(iters: Int, dampingPct: Int = 85,
                             scale: Long = 1000000000000L): String = {
    def round(i: Int) =
      s"""r$i AS (
         |  SELECT v.host,
         |    tp.tp + CAST(($dampingPct * coalesce(m.in_mass, 0)) // 100
         |                 AS BIGINT) AS rank
         |  FROM v CROSS JOIN tp
         |  LEFT JOIN (
         |    SELECT e.dst, CAST(SUM(p.rank // d.outdeg) AS BIGINT) AS in_mass
         |    FROM e JOIN r${i - 1} p ON e.src = p.host
         |           JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) m ON v.host = m.dst)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT 'h' || (doc_id % 17) AS src,
       |                  'h' || ((doc_id * 7) % 13) AS dst
       |  FROM documents),
       |v AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |n AS (SELECT COUNT(*) AS nv FROM v),
       |tp AS (SELECT CAST((($scale * ${100 - dampingPct}) // 100) // nv
       |                   AS BIGINT) AS tp FROM n),
       |r0 AS (SELECT host, CAST($scale // nv AS BIGINT) AS rank FROM v, n),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT host, rank FROM r$iters""".stripMargin
  }

  /** Unrolled integer HITS replica of [[Graph.hits]] — bit-exact like
    * the PageRank oracle (sums in HUGEINT, cast back to BIGINT).
    */
  private def p26HitsSql(iters: Int, scale: Long = 1000000L): String = {
    def round(i: Int) =
      s"""a${i}r AS (
         |  SELECT e.dst, SUM(h.hub) AS ar
         |  FROM e JOIN h${i - 1} h ON e.src = h.host GROUP BY e.dst),
         |a$i AS (
         |  SELECT v.host,
         |    CAST((coalesce(r.ar, 0) * $scale) // m.amax AS BIGINT) AS auth
         |  FROM v CROSS JOIN (SELECT MAX(ar) AS amax FROM a${i}r) m
         |  LEFT JOIN a${i}r r ON v.host = r.dst),
         |h${i}r AS (
         |  SELECT e.src, SUM(a.auth) AS hr
         |  FROM e JOIN a$i a ON e.dst = a.host GROUP BY e.src),
         |h$i AS (
         |  SELECT v.host,
         |    CAST((coalesce(r.hr, 0) * $scale) // m.hmax AS BIGINT) AS hub
         |  FROM v CROSS JOIN (SELECT MAX(hr) AS hmax FROM h${i}r) m
         |  LEFT JOIN h${i}r r ON v.host = r.src)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT 'h' || (doc_id % 17) AS src,
       |                  'h' || ((doc_id * 7) % 13) AS dst
       |  FROM documents),
       |v AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT host, CAST($scale AS BIGINT) AS hub FROM v),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT h.host, h.hub, a.auth
       |FROM h$iters h JOIN a$iters a ON h.host = a.host""".stripMargin
  }

  private def s4KmeansSql(k: Int, iters: Int, dim: Int): String = {
    val distFold =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}),
         |        i -> (p.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
         |             * (p.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))),
         |        (a, b) -> a + b)""".stripMargin
    def assign(a: String, cPrev: String) =
      s"""$a AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (
         |      SELECT p.vec_id, c.cell, $distFold AS dist
         |      FROM pts p CROSS JOIN $cPrev c))
         |  WHERE rn = 1)""".stripMargin
    def update(cNext: String, a: String, cPrev: String) =
      s"""$cNext AS (
         |  SELECT prev.cell, coalesce(g.cv, prev.cv) AS cv
         |  FROM $cPrev prev LEFT JOIN (
         |    SELECT cell, list(mv ORDER BY d) AS cv FROM (
         |      SELECT a.cell, d.d, round(avg(d.x), 6) AS mv
         |      FROM $a a JOIN dims d USING (vec_id) GROUP BY 1, 2)
         |    GROUP BY 1) g USING (cell))""".stripMargin
    val rounds = (1 to iters).map { i =>
      assign(s"a$i", s"c${i - 1}") + ",\n" + update(s"c$i", s"a$i", s"c${i - 1}")
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, d, v[d] AS x FROM pts, unnest(range(1, ${dim + 1})) AS t(d)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
       |  FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT $k)),
       |$rounds,
       |${assign("afinal", s"c$iters")}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cluster FROM afinal""".stripMargin
  }

  /** DuckDB replica of the portable SimHash (d4): the same two
    * polynomial token hashes packed into 62 bits, the same 64
    * conditional-sum bit votes, the same bit assembly — so the oracle
    * hash-matches the distributed implementation exactly.
    */
  private def d4SimhashSql: String = {
    def poly(mult: Long, mod: Long) =
      s"""list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, length(tok) + 1),
         |          i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
         |      (a, b) -> (a * $mult + b) % $mod)""".stripMargin
    val votes = (0 until 64).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n    ")
    val bits = (0 until 64).map(i =>
      s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT id,
       |    (${poly(31L, 1000000007L)}) * 2147483648 + (${poly(37L, 998244353L)}) AS h
       |  FROM toks),
       |v AS (
       |  SELECT id,
       |    $votes
       |  FROM h GROUP BY id)
       |SELECT id, $bits AS simhash FROM v""".stripMargin
  }

  /** DuckDB SQL replica of TextAnalysis.langId (replace-count scoring,
    * same markers, same tie-break).
    */
  private def langIdSql(textCol: String): String = {
    def occ(pat: String): String = {
      val esc = pat.replace("'", "''")
      s"CAST((length(' ' || lower($textCol) || ' ') - length(replace(' ' || lower($textCol) || ' ', '$esc', ''))) / ${pat.length} AS BIGINT)"
    }
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> ms.map(occ).mkString("(", " + ", ")")
    }
    val bestExpr = scores.map(_._2).reduceLeft((a, b) => s"greatest($a, $b)")
    val cases = scores.map { case (l, s) =>
      s"WHEN $s = $bestExpr AND $bestExpr > 0 THEN '$l'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }
}
