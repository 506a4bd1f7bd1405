package graft

import graft.sources.{Docs, PathTable}
import graft.sql.Dialect

class StdinDocsSpec extends SparkSpec {

  private def run(sql: String) = Dialect.prepare(spark, sql).df

  test("stdin.json reads driver stdin (stdin/json.in scenario)") {
    val orig = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(
        "{\"a\": 1}\n{\"a\": 2}\n".getBytes))
      val df = PathTable.resolve(spark, "stdin.json")
      assert(df.count() == 2)
      assert(df.columns.toSeq == Seq("a"))
    } finally System.setIn(orig)
  }

  test("seq-sum scenario: SUM(int(text)) over stdin.lines (stdin/sum.in)") {
    val orig = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(
        (1 to 100).mkString("\n").getBytes))
      val df = run(
        "SELECT SUM(int(text)) AS s FROM stdin.lines")
      assert(df.collect().head.getLong(0) == 5050L)
    } finally System.setIn(orig)
  }

  test("docs tables are generated from the resolver registry") {
    import graft.sql.Resolver
    // docs.functions == registry entries with descriptions, name-sorted
    // (reference docs/functions.go:32-49 skips empty descriptions)
    val fn = Docs.functions(spark).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expectedFn = Resolver.functions.toSeq
      .filter(_._2.description.nonEmpty)
      .map { case (n, d) => (n, d.description) }.sortBy(_._1)
    assert(fn == expectedFn && fn.length > 20)
    val ag = Docs.aggregates(spark).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expectedAg = Resolver.aggregates.toSeq
      .filter(_._2._1.nonEmpty)
      .map { case (n, (d, _)) => (n, d) }.sortBy(_._1)
    assert(ag == expectedAg && ag.length == 10)
    // per-descriptor signature tables (docs/function_signatures.go,
    // docs/aggregate_signatures.go), reachable through dialect SQL
    val sumSigs = run(
      "SELECT argument_type FROM docs.aggregate_signatures WHERE name = 'sum'")
      .collect().map(_.getString(0)).toSeq
    assert(sumSigs == Seq("Int", "Float", "Duration"))
    val substrSigs = run(
      "SELECT argument_types, output_type FROM docs.function_signatures WHERE name = 'substr'")
      .collect()
    assert(substrSigs.length == 2)
    assert(substrSigs.map(_.getSeq[String](0).toList).toSet ==
      Set(List("String", "Int"), List("String", "Int", "Int")))
    assert(substrSigs.forall(_.getString(1) == "String"))
    val viaSql = run(
      "SELECT name FROM docs.aggregates WHERE name = 'array_agg'")
    assert(viaSql.count() == 1)
  }

  test("plugins meta-datasource tables (datasources/plugins parity)") {
    // installed tables list the built-in connectors; repo views are
    // empty with the reference's schemas (no plugin RPC, zero egress)
    val installed = run(
      "SELECT name FROM plugins.installed_plugins").collect().map(_.getString(0))
    assert(installed.toSet.contains("parquet") && installed.toSet.contains("jdbc"))
    assert(run("SELECT * FROM plugins.available_plugins").count() == 0)
    val vers = run(
      "SELECT plugin_name, version FROM plugins.installed_versions")
    assert(vers.count() == installed.length)
    assert(run("SELECT * FROM plugins.repositories").columns.toSeq ==
      Seq("slug", "name", "description"))
  }
}
