package graft

import java.nio.file.Files
import graft.sql.Dialect

/** Dialect front-end tests, mirroring the reference's golden scenario
  * suite (tests/scenarios) — path tables, joins, LOOKUP JOIN, object
  * access, regex operators, conversions, range TVF — through
  * [[Dialect.prepare]], the path the CLI runs.
  */
class OctoSqlSpec extends SparkSpec {

  private def run(sql: String) = Dialect.prepare(spark, sql).df

  private lazy val dir = Files.createTempDirectory("graft_sql").toFile

  private def write(name: String, content: String): String = {
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private lazy val objects = write("objects.json",
    (1 to 100).map(i => s"""{"field1": "abc", "field2": $i, "field3": "test"}""")
      .mkString("", "\n", "\n"))

  private lazy val join1 = write("join1.json",
    """{"k": "a", "v": 1}
      |{"k": "b", "v": 2}
      |{"k": "a", "v": 3}
      |""".stripMargin)

  private lazy val join2 = write("join2.json",
    """{"k": "a", "w": 10}
      |{"k": "c", "w": 30}
      |""".stripMargin)

  private lazy val nested = write("test.json",
    """{"field1": "value", "field2": 42, "field3": {"field4": "eulav", "field5": 24}}
      |{"field1": "value2", "field2": 43, "field3": {"field4": "x", "field5": 25}}
      |""".stripMargin)

  test("aggregation over a json path table (datasources/json/simple.in)") {
    val row = run(
      s"SELECT COUNT(*) AS c, SUM(field2) AS s FROM $objects").collect().head
    assert(row.getLong(0) == 100L && row.getDouble(1) == 5050.0)
  }

  test("equi join between two path tables (stream_join.in)") {
    val rows = run(
      s"SELECT j1.k, j1.v, j2.w FROM $join1 j1 JOIN $join2 j2 ON j1.k = j2.k")
      .collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getString(0) == "a"))
  }

  test("LOOKUP JOIN parses and behaves as inner join (lookup_join.in)") {
    val n = run(
      s"SELECT j1.v, j2.w FROM $join1 j1 LOOKUP JOIN $join2 j2 ON j1.k = j2.k")
      .count()
    assert(n == 2)
  }

  test("object field access a->b (objects/explode.in)") {
    val rows = run(
      s"SELECT field3->field4 AS f4, field3->field5 AS f5 FROM $nested")
      .orderBy("f5").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("eulav", "x"))
  }

  test("object explosion a->* (objects/explode.in)") {
    val df = run(s"SELECT field3->* FROM $nested")
    assert(df.columns.toSet == Set("field4", "field5"))
    assert(df.count() == 2)
  }

  test("regex operators ~, ~*, !~ (functions/strings.in)") {
    val row = run(
      s"""SELECT field1 ~ 'val.*' AS m, field1 ~* 'VAL.*' AS ci,
         |field1 !~ 'zzz' AS nm FROM $nested LIMIT 1""".stripMargin)
      .collect().head
    assert(row.getBoolean(0) && row.getBoolean(1) && row.getBoolean(2))
  }

  test("conversions int()/float()/string() null-on-fail (functions/conversions.in)") {
    val row = run(
      "SELECT int('42') AS a, int('abc') AS b, float('3.5') AS c, string(7) AS d")
      .collect().head
    assert(row.getLong(0) == 42L && row.isNullAt(1)
      && row.getDouble(2) == 3.5 && row.getString(3) == "7")
  }

  test("string() returns the octosql display string (values.go String())") {
    val row = run(
      "SELECT string('abc') AS q, string(CAST(18248328.0 AS DOUBLE)) AS f, " +
        "string(CAST('3.000000000' AS DECIMAL(38,9))) AS d, " +
        "string(timestamp_seconds(1655931949)) AS t, string(NULL) AS n")
      .collect().head
    assert(row.getString(0) == "'abc'")       // strings come back quoted
    assert(row.getString(1) == "1.8248328e+07") // Go shortest float form
    assert(row.getString(2) == "3s")          // durations as Go strings
    assert(row.getString(3) == "2022-06-22T21:05:49Z")
    assert(row.getString(4) == "<null>")      // Strict=false in reference
  }

  test("full reference function surface is SQL-reachable (functions.go sweep)") {
    // every name in the reference's function map resolves and computes:
    // abs sqrt ceil floor log2 log log10 pow not like upper lower
    // reverse substr replace position len now parse_time time_from_unix
    // time_to_unix int float string in panic (panic covered separately)
    val row = run(
      """SELECT abs(-3) AS a, sqrt(49.0) AS b, ceil(42.5) AS c, floor(42.5) AS d,
        |  log2(8.0) AS e, log(9.0) AS f, log10(100.0) AS g, pow(2.0, 3.0) AS h,
        |  not(false) AS i, like('test', '%es%') AS j, upper('a') AS k,
        |  lower('A') AS l, reverse('ab') AS m, replace('test', 'es', 'X') AS n,
        |  now() IS NOT NULL AS o, parse_time('2022-06-22', '2006-01-02') IS NOT NULL AS p
        |""".stripMargin).collect().head
    assert(row.getAs[Number](0).longValue == 3L)
    assert(row.getDouble(1) == 7.0)
    assert(row.getDouble(5) == math.log(9.0)) // log is natural log
    assert(row.getBoolean(8) && row.getBoolean(9))
    assert(row.getString(12) == "ba" && row.getString(13) == "tXt")
    assert(row.getBoolean(14) && row.getBoolean(15))
  }

  test("format-prefixed table names: csv.file / lines.file (physical.go database rule)") {
    val dir = java.nio.file.Files.createTempDirectory("pfx")
    java.nio.file.Files.write(dir.resolve("plainfile"), "a,b\n1,x\n2,y\n".getBytes)
    val rows = run(
      s"SELECT a, b FROM csv.${dir.toString}/plainfile").collect()
    assert(rows.length == 2 && rows.map(_.getInt(0)).toSet == Set(1, 2))
    val lrows = run(
      s"SELECT number, text FROM lines.${dir.toString}/plainfile").collect()
    assert(lrows.length == 3 && lrows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("substr clamps a negative start to the string start") {
    // the reference panics on negative starts (Go slice bounds); we
    // clamp rather than inherit Spark's count-from-the-end semantics
    val row = run("SELECT substr('hello', 0 - 3) AS s").collect().head
    assert(row.getString(0) == "hello")
    // ...but a NULL start stays NULL (strict descriptor; Greatest alone
    // would skip the null and clamp to position 1)
    val n = run(
      "SELECT substr('hello', CAST(NULL AS BIGINT)) AS s").collect().head
    assert(n.isNullAt(0))
  }

  test("VARIANT args get runtime type assertions (Maybe-pass analog)") {
    // a union-typed (VARIANT) argument narrows at runtime toward the
    // descriptor type — string values compute, wrong runtime types fail
    // like the reference's TypeAssertion (invalid type: X, expected: Y)
    val ok = run(
      """SELECT upper(parse_json('"abc"')) AS u, len(parse_json('"abcd"')) AS l""")
      .collect().head
    assert(ok.getString(0) == "ABC" && ok.getLong(1) == 4L)
    val e = intercept[Throwable](
      run("SELECT upper(parse_json('17'))").collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(
      _.contains("invalid type: Int, expected: String"))), e.toString)
    // NULL passes through strict assertions (targets are summed w/ NULL)
    val n = run("SELECT upper(parse_json('null')) AS u")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("arity of VARIANT-ish (untypeable) calls is still checked") {
    import org.apache.spark.sql.functions._
    spark.range(1).select(lit(Array[Byte](1, 2)).as("b"))
      .createOrReplaceTempView("bin_v")
    val e = intercept[graft.sql.Dialect.TypecheckException](
      run("SELECT pow(b) FROM bin_v").collect())
    assert(e.getMessage == "unknown function: pow(binary)")
    // typeFn descriptors carry their arity too: len takes exactly one
    // argument even when a VARIANT blinds the type check
    val e2 = intercept[graft.sql.Dialect.TypecheckException](
      run("SELECT len('a', parse_json('1'))").collect())
    assert(e2.getMessage.startsWith("unknown function: len(String, "))
  }

  test("variant numerics assert toward Float (JSON numbers are Float)") {
    // abs/time_from_unix have (Int) then (Float) overloads; the variant
    // assertion narrows to the LAST arity match, like the resolver's
    // own last-wins loops — JSON-derived numbers then flow as Float
    val r = run("SELECT abs(parse_json('-1.5')) AS a").collect().head
    assert(r.getDouble(0) == 1.5)
  }

  test("substr is 0-based in the dialect") {
    val row = run("SELECT substr('hello', 1, 3) AS s").collect().head
    assert(row.getString(0) == "ell")
  }

  test("range TVF yields column i (simple/range.in)") {
    val rows = run(
      "SELECT i FROM range(1, 5) WHERE i > 2").collect().map(_.getLong(0))
    assert(rows.sorted.toSeq == Seq(3L, 4L))
  }

  test("TRIGGER clause is accepted and stripped") {
    val n = run(
      s"SELECT k, COUNT(*) AS c FROM $join1 GROUP BY k TRIGGER COUNTING 1 ORDER BY k")
      .count()
    assert(n == 2)
    // TRIGGER DELAY parses too — the reference accepts the syntax but
    // typecheck-panics (logical/group_by.go:40-42); here the batch form
    // runs (the streaming semantics live in Streams.delayTriggerCounts)
    val d = run(
      s"SELECT k, COUNT(*) AS c FROM $join1 GROUP BY k TRIGGER DELAY 2 ORDER BY k")
      .count()
    assert(d == 2)
  }

  test("unnest() explodes lists") {
    val arr = write("arr.json", """{"xs": [1, 2, 3]}""" + "\n")
    val n = run(s"SELECT unnest(xs) AS x FROM $arr").count()
    assert(n == 3)
  }

  test("csv path table with WHERE and strings (outputs/csv)") {
    val csv = write("people.csv", "name,age\nalice,30\nbob,25\n")
    val rows = run(
      s"SELECT name FROM $csv WHERE age > 26").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alice"))
  }

  test("string literals are never rewritten") {
    val row = run(
      "SELECT 'a -> b ~* int(x) FROM t.csv' AS s").collect().head
    assert(row.getString(0) == "a -> b ~* int(x) FROM t.csv")
  }

  test("federated cross-source join: parquet x csv x json in one query") {
    val csv = write("regions_extra.csv",
      "r_regionkey,bonus\n0,10\n1,20\n2,30\n3,40\n4,50\n")
    val json = write("region_tags.json",
      (0 to 4).map(i => s"""{\"r_regionkey\": $i, \"tag\": \"t$i\"}""").mkString("\n"))
    val rows = run(
      s"""SELECT r.r_name, e.bonus, t.tag
         |FROM $sf/region.parquet r
         |JOIN $csv e ON r.r_regionkey = e.r_regionkey
         |JOIN $json t ON r.r_regionkey = t.r_regionkey""".stripMargin)
      .collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(2)).toSet == Set("t0", "t1", "t2", "t3", "t4"))
  }

  test("nested unnest(unnest(x)) flattens (reference map.go nesting)") {
    val arr2 = write("arr2.json", """{"xs": [[1, 2], [3]]}""" + "\n")
    val rows = run(s"SELECT unnest(unnest(xs)) AS x FROM $arr2")
      .collect().map(_.getDouble(0)).sorted
    assert(rows.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("unnest of an empty list emits zero rows (reference unnest.go)") {
    val arr3 = write("arr3.json",
      """{"id": 1, "xs": [7]}
        |{"id": 2, "xs": []}
        |""".stripMargin)
    val rows = run(s"SELECT id, unnest(xs) AS x FROM $arr3").collect()
    assert(rows.length == 1)
    assert(rows.head.getDouble(0) == 1.0)
  }

  test("position() is 0-based with NULL when absent, len() over strings") {
    val row = run(
      "SELECT position('hello', 'll') AS p, position('hello', 'zz') AS np, len('abcd') AS l")
      .collect().head
    assert(row.getLong(0) == 2L) // reference position() is Int (int64)
    assert(row.isNullAt(1))
    assert(row.getLong(2) == 4L) // reference len() is Int (int64)
  }

  test("triple-nested unnest flattens to explode(flatten(flatten(x)))") {
    val arr4 = write("arr4.json", """{"xs": [[[1, 2], [3]], [[4]]]}""" + "\n")
    val rows = run(
      s"SELECT unnest(unnest(unnest(xs))) AS v FROM $arr4")
      .collect().map(_.getDouble(0)).sorted
    assert(rows.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("columns named trigger/interval do not confuse the clause rewrites") {
    val f = write("trig.json",
      """{"trigger": 1, "interval": 5}
        |{"trigger": 2, "interval": 7}
        |""".stripMargin)
    // a COLUMN reference `trigger` must not truncate the query, and a
    // column `interval` must not be parsed as an interval literal
    val rows = run(
      s"SELECT trigger, interval FROM $f ORDER BY trigger")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1.0, 5.0), (2.0, 7.0)))
    // the real clause still strips: TRIGGER COUNTING over a group-by
    val agg = run(
      s"SELECT trigger, COUNT(*) AS c FROM $f GROUP BY trigger TRIGGER COUNTING 1")
      .collect()
    assert(agg.length == 2)
  }

  test("FROM ... AS alias keeps the qualifier (alias with and without AS agree)") {
    val noAs = run(
      s"SELECT p.k, q.w FROM $join1 p JOIN $join2 q ON p.k = q.k")
      .collect().map(r => (r.getString(0), r.get(1).toString)).sorted
    val withAs = run(
      s"SELECT p.k, q.w FROM $join1 AS p JOIN $join2 AS q ON p.k = q.k")
      .collect().map(r => (r.getString(0), r.get(1).toString)).sorted
    assert(withAs.toSeq == noAs.toSeq && noAs.nonEmpty)
  }

  test("gzip-compressed path tables: data.json.gz and notes.lines.gz") {
    def gz(name: String, content: String): String = {
      val f = new java.io.File(dir, name)
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(f))
      out.write(content.getBytes("UTF-8")); out.close()
      f.getAbsolutePath
    }
    val j = gz("gzdata.json.gz",
      """{"k": "a", "v": 1}
        |{"k": "b", "v": 2}
        |""".stripMargin)
    val rows = run(s"SELECT k, v FROM $j ORDER BY k")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("a", 1.0), ("b", 2.0)))
    val l = gz("gznotes.lines.gz", "alpha\nbeta\n")
    val lines = run(
        s"SELECT number, text FROM $l ORDER BY number")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(lines == Seq((0L, "alpha"), (1L, "beta")))
  }

  test("panic() raises, unix time round-trips (functions/panic.in)") {
    intercept[Exception] {
      run("SELECT panic('boom')").collect()
    }
    val r = run(
      "SELECT time_to_unix(time_from_unix(1700000000)) AS u").collect().head
    assert(r.getLong(0) == 1700000000L)
  }
}
