package graft

import org.apache.spark.sql.functions._

/** JDBC federation — the Spark-native replacement for the reference's
  * plugin-database RPC (postgres/mysql plugins → `spark.read.format
  * ("jdbc")`, COVERAGE.md design swap). Exercised against an in-JVM
  * embedded Derby database (ships with Spark for the Hive metastore),
  * closing the round-1 "zero tests" gap without needing a network DB.
  */
class JdbcFederationSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def withConn[A](f: java.sql.Connection => A): A = {
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def setupTable(): Unit = withConn { conn =>
    val st = conn.createStatement()
    try st.execute("DROP TABLE region_labels") catch { case _: Exception => }
    st.execute("CREATE TABLE region_labels (r_key INT, label VARCHAR(32))")
    val ins = conn.prepareStatement("INSERT INTO region_labels VALUES (?, ?)")
    Seq(0 -> "africa", 1 -> "america", 2 -> "asia").foreach { case (k, v) =>
      ins.setInt(1, k); ins.setString(2, v); ins.addBatch()
    }
    ins.executeBatch()
  }

  test("octosql.yml databases bind as FROM <db>.<table> (config.go parity)") {
    setupTable()
    val cfg = java.nio.file.Files.createTempFile("octosql", ".yml")
    java.nio.file.Files.writeString(cfg,
      s"""databases:
         |  - name: labelsdb
         |    type: jdbc
         |    config:
         |      url: $url
         |      driver: $driver
         |""".stripMargin)
    val prev = sys.props.get("graft.octosql.config")
    sys.props("graft.octosql.config") = cfg.toString
    try {
      // parse shape
      val dbs = graft.sources.OctoConfig.databases
      assert(dbs.contains("labelsdb") && dbs("labelsdb").dbType == "jdbc")
      // full dialect path: config db named like a table qualifier
      val rows = graft.sql.Dialect.prepare(spark,
        "SELECT r_key, label FROM labelsdb.region_labels").df.collect()
      assert(rows.length == 3)
      assert(rows.filter(_.getAs[Number](0).intValue >= 1).map(_.getString(1)).toSet ==
        Set("america", "asia"))
      // unknown database types error honestly
      val e = intercept[IllegalArgumentException](
        graft.sources.OctoConfig.table(spark,
          graft.sources.OctoConfig.DbConfig("x", "mongodb", Map.empty), "t"))
      assert(e.getMessage.contains("not built into this engine"))
    } finally {
      prev match {
        case Some(p) => sys.props("graft.octosql.config") = p
        case None    => sys.props.remove("graft.octosql.config")
      }
    }
  }

  test("jdbc scan joins against parquet tables (plugin-database parity)") {
    setupTable()
    val jdbc = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "region_labels").load()
    val region = Engine.table(spark, sf, "region")
    val joined = region.join(broadcast(jdbc),
        region("r_regionkey") === jdbc("r_key"))
      .select("r_regionkey", "r_name", "label")
    val rows = joined.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(2)).toSet == Set("africa", "america", "asia"))
  }

  test("jdbc filter pushdown reaches the external database") {
    setupTable()
    val jdbc = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "region_labels").load()
      .filter(col("r_key") > 0)
    // the JDBC relation compiles the filter into its WHERE clause —
    // visible as PushedFilters in the scan node
    val plan = jdbc.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.toUpperCase.contains("GREATERTHAN(R_KEY"),
      s"filter not pushed to JDBC source:\n$plan")
    assert(jdbc.count() == 2)
  }
}
