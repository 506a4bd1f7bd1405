package graft

/** Engine.session's SPARK_GRAFT_CONF audit: an override the live
  * session does not carry is named, one that it carries is not. Also
  * its AQE empty-relation propagation, which spares observed plans.
  */
class EngineSpec extends SparkSpec {

  test("unappliedConf names overrides the live session or context does not carry") {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val writer = "spark.shuffle.sort.bypassMergeThreshold"
    val liveWriter = spark.sparkContext.getConf.getOption(writer)
    val got = Engine.unappliedConf(spark, Seq(
      "spark.sql.session.timeZone" -> tz,           // carried: quiet
      "spark.sql.shuffle.partitions" -> "12345",    // session conf differs
      writer -> "12345",                            // SparkContext conf differs
      "spark.graft.unknownKnob" -> "on"))           // never set
    assert(got == Seq(
      ("spark.sql.shuffle.partitions", "12345", Some(parts)),
      (writer, "12345", liveWriter),
      ("spark.graft.unknownKnob", "on", None)))
  }

  test("AQE prunes above an empty stage, except on a plan that observes") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val big = spark.range(0, 20000).toDF("k")
    // empty only at run time: no static rule can prove it
    val none = spark.range(0, 100).toDF("k").filter(col("k") * 2 < 0)
    val pruned = big.join(none.groupBy("k").count(), "k")
    assert(pruned.collect().isEmpty)
    assert(pruned.queryExecution.executedPlan.toString.contains("EmptyRelation"))
    val observed = big.join(
      none.observe("engine_spec_obs", count(lit(1)).as("n")).groupBy("k").count(), "k")
    assert(observed.collect().isEmpty)
    assert(!observed.queryExecution.executedPlan.toString.contains("EmptyRelation"))
    assert(observed.queryExecution.observedMetrics("engine_spec_obs").getLong(0) == 0)
  }
}
