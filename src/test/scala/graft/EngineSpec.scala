package graft

/** Engine.session's SPARK_GRAFT_CONF audit: an override the live
  * session does not carry is named, one that it carries is not.
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
}
