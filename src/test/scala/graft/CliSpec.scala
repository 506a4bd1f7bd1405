package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** The cobra-parity CLI surface beyond queries: -h/--help, -v/--version,
  * arg-count validation, and the `plugin` subcommand tree
  * (cmd/root.go, cmd/plugin*.go).
  */
class CliSpec extends SparkSpec {

  private def run(args: String*): (String, String, Int) = {
    val out = new ByteArrayOutputStream(); val err = new ByteArrayOutputStream()
    val code = Cli.execute(spark, Cli.parseArgs(args.toArray), ".", None,
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"))
    (out.toString("UTF-8"), err.toString("UTF-8"), code)
  }

  test("-h/--help print the root help to stdout and exit 0") {
    for (flag <- Seq("-h", "--help")) {
      val (out, err, code) = run(flag)
      assert(code == 0 && err.isEmpty)
      assert(out == Cli.Usage)
    }
    // help wins even alongside a query (cobra checks help before Args)
    val (out2, _, code2) = run("SELECT 1", "-h")
    assert(code2 == 0 && out2 == Cli.Usage)
  }

  test("-v/--version print the cobra version line and exit 0") {
    for (flag <- Seq("-v", "--version")) {
      val (out, err, code) = run(flag)
      assert(code == 0 && err.isEmpty)
      assert(out == s"octosql version ${Cli.Version}\n")
    }
  }

  test("arg-count validation matches cobra ExactArgs(1)") {
    val (_, err0, code0) = run()
    assert(code0 == 1 && err0.contains("Error: accepts 1 arg(s), received 0"))
    assert(err0.contains("Usage:")) // usage text accompanies the error
    val (_, err2, code2) = run("SELECT 1", "SELECT 2")
    assert(code2 == 1 && err2.contains("Error: accepts 1 arg(s), received 2"))
  }

  test("plugin subcommand tree: help, install stub, repository stub") {
    val (outP, _, codeP) = run("plugin")
    assert(codeP == 0 && outP == Cli.PluginUsage)
    val (outH, _, codeH) = run("plugin", "--help")
    assert(codeH == 0 && outH == Cli.PluginUsage)
    // install with no args: reference installs config-listed plugins
    // (none configured here) — success no-op
    val (_, _, codeI) = run("plugin", "install")
    assert(codeI == 0)
    // built-in connectors "install" as no-ops
    val (_, errB, codeB) = run("plugin", "install", "parquet")
    assert(codeB == 0 && errB.isEmpty)
    // unknown plugins fail honestly (no repositories, no egress)
    val (_, errU, codeU) = run("plugin", "install", "postgres")
    assert(codeU == 1 && errU.contains("couldn't install plugin 'postgres'"))
    val (outR, _, codeR) = run("plugin", "repository")
    assert(codeR == 0 && outR == Cli.PluginRepositoryUsage)
    val (_, errA, codeA) = run("plugin", "repository", "add", "http://x")
    assert(codeA == 1 && errA.contains("couldn't add repository"))
    val (_, errX, codeX) = run("plugin", "frobnicate")
    assert(codeX == 1 &&
      errX.contains("""unknown command "frobnicate" for "octosql plugin""""))
    // install's own help, and unknown repository subcommands blame the
    // right command (review findings)
    val (outIH, _, codeIH) = run("plugin", "install", "--help")
    assert(codeIH == 0 && outIH == Cli.PluginInstallUsage)
    val (_, errRX, codeRX) = run("plugin", "repository", "remove", "x")
    assert(codeRX == 1 &&
      errRX.contains("""unknown command "remove" for "octosql plugin repository""""))
  }

  test("--explain 1|2 emit well-formed dot with the plan's operator names") {
    val dir = java.nio.file.Files.createTempDirectory("dotx")
    java.nio.file.Files.write(dir.resolve("e.csv"), "k,v\na,1\nb,2\n".getBytes)
    val (out1, err1, code1) =
      run(s"SELECT k, SUM(v) FROM $dir/e.csv GROUP BY k", "--explain", "1")
    assert(code1 == 0, s"stderr: $err1")
    assert(out1.startsWith("digraph {"), out1.take(120))
    assert(out1.contains("rankdir=LR"))
    assert(out1.contains("shape=record"))
    assert(out1.contains("->")) // edges present
    // operator names from the actual plan
    assert(out1.contains("HashAggregate"), out1)
    assert(out1.contains("Scan"), out1)
    assert(out1.trim.endsWith("}"))
    // --explain 2 adds per-operator output types to the labels
    val (out2, _, code2) =
      run(s"SELECT k, SUM(v) FROM $dir/e.csv GROUP BY k", "--explain", "2")
    assert(code2 == 0)
    assert(out2.contains("bigint") || out2.contains("string"), out2)
    assert(out2.length > out1.length)
  }

  test("pipeline kernels are reachable from CLI SQL (char_entropy, poly_hash)") {
    val f = java.io.File.createTempFile("graft_cli_entropy", ".csv")
    try {
      java.nio.file.Files.write(f.toPath,
        "t\nab\naaaa\n".getBytes("UTF-8"))
      val (out, err, code) = run(
        s"SELECT char_entropy(t) AS e, poly_hash(t, 31, 1000000007) AS h FROM ${f.getAbsolutePath} ORDER BY e",
        "--output", "csv")
      assert(code == 0, err)
      // entropy: 'aaaa' → 0, 'ab' → 1 bit; hashes: fold of 31·acc+cp
      val a = 97L
      val hAaaa = (((a * 31 + a) * 31 + a) * 31 + a) % 1000000007L
      val hAb = (a * 31 + 98L) % 1000000007L
      assert(out == s"e,h\n0,$hAaaa\n1,$hAb\n", out)
    } finally f.delete()
  }

  test("ORDER BY a union-typed column through the CLI (VariantSortRule in the SQL path)") {
    // heterogeneous JSON: the value column infers to Float | String
    // (reference union typing); ORDER BY over it must follow the
    // TypeID-first Value.Compare order — previously only the final
    // live-table render could sort unions (driver-side comparator),
    // now the QUERY's ORDER BY works too, distributed
    val f = java.nio.file.Files.createTempFile("cli_union", ".json")
    java.nio.file.Files.writeString(f,
      """{"value": "pear"}
        |{"value": 9.5}
        |{"value": "apple"}
        |{"value": 2}
        |""".stripMargin)
    val (out, err, code) = run(
      s"SELECT value FROM ${f.toString} ORDER BY value", "--output", "json")
    assert(code == 0, s"stderr: $err")
    // Floats (2 before 9.5) sort before Strings ("apple" before "pear")
    assert(out.linesIterator.toSeq ==
      Seq("""{"value":2}""", """{"value":9.5}""",
        """{"value":"apple"}""", """{"value":"pear"}"""), out)
  }

  private def gzip(f: java.io.File, content: String): String = {
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    try out.write(content.getBytes("UTF-8")) finally out.close()
    f.getAbsolutePath
  }

  test("gzip-compressed json and csv path tables return their rows") {
    val dir = java.nio.file.Files.createTempDirectory("cli_gz").toFile
    val j = gzip(new java.io.File(dir, "data.json.gz"),
      "{\"k\": \"a\", \"v\": 1}\n{\"k\": \"b\", \"v\": 2.5}\n")
    val (outJ, errJ, codeJ) = run(s"SELECT k, v FROM $j ORDER BY k", "--output", "csv")
    assert(codeJ == 0, s"stderr: $errJ")
    assert(outJ == "k,v\na,1\nb,2.5\n", outJ)
    val c = gzip(new java.io.File(dir, "data.csv.gz"), "k,n\nx,3\ny,4\n")
    val (outC, errC, codeC) = run(s"SELECT k, n FROM $c ORDER BY k", "--output", "csv")
    assert(codeC == 0, s"stderr: $errC")
    assert(outC == "k,n\nx,3\ny,4\n", outC)
  }

  test("columns named trigger and interval select through the CLI") {
    val f = java.nio.file.Files.createTempFile("cli_trig", ".json")
    java.nio.file.Files.writeString(f,
      "{\"trigger\": 1, \"interval\": 5}\n{\"trigger\": 2, \"interval\": 7}\n")
    val (out, err, code) =
      run(s"SELECT trigger, interval FROM $f ORDER BY trigger", "--output", "csv")
    assert(code == 0, s"stderr: $err")
    assert(out == "trigger,interval\n1,5\n2,7\n", out)
  }

  test("--describe lists the output names and types") {
    val f = java.nio.file.Files.createTempFile("cli_desc", ".json")
    java.nio.file.Files.writeString(f,
      "{\"k\": \"a\", \"v\": 1}\n{\"k\": \"b\", \"v\": 2}\n")
    val (out, err, code) =
      run(s"SELECT * FROM $f", "--describe", "--output", "csv")
    assert(code == 0, s"stderr: $err")
    assert(out == "name,type,time_field\nk,String,false\nv,Float,false\n", out)
  }

  test("query flags still parse with flags before the query") {
    val (out, err, code) = run("-o", "json", "SELECT 1 AS a")
    assert(code == 0, s"stderr: $err")
    assert(out.contains("{\"a\":1}"), out)
  }
}
