package graft

import java.nio.file.Files
import graft.sources.PathTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

/** File-source round-trips the reference supports (CSV/TSV/JSON/lines,
  * SURVEY §2.1) — the driver gate only exercises parquet, so these pin
  * the other formats.
  */
class SourcesSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_src").toFile

  private def write(name: String, content: String): String = {
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  /** The schema Spark's whole-file inference gives a CSV path. */
  private def inferred(path: String, header: Boolean = true): StructType =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path).schema

  /** Spark jobs `f` starts, counted under a job group of its own. */
  private def jobsIn[T](f: => T): (T, Int) = {
    val group = s"graft_jobs_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "jobsIn")
    try {
      val r = f
      // the listener bus is private[spark]: drain it reflectively, as
      // graft.Profile does, so every job start has been delivered
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (r, jobs.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** 150 rows of int, double, timestamp, boolean and string columns. */
  private def typedCsv(name: String): String =
    write(name, "i,d,ts,b,s\n" + (1 to 150).map { n =>
      f"$n,${n * 1.5},2024-01-${n % 28 + 1}%02d 10:00:00,${n % 2 == 0},w$n"
    }.mkString("\n") + "\n")

  test("csv scan with header + schema inference") {
    val p = write("t.csv", "a,b,c\n1,2.5,x\n2,3.5,y\n")
    val df = PathTable.resolve(spark, p)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 2)
    assert(df.schema("a").dataType.typeName == "integer")
    assert(df.schema("b").dataType.typeName == "double")
    assert(df.schema == inferred(p))
    // past the 100-row sample: inferSchema's schema, typed on the
    // driver with no Spark job
    val typed = typedCsv("typed.csv")
    val (big, jobs) = jobsIn(PathTable.resolve(spark, typed))
    assert(jobs == 0, s"$jobs Spark jobs while typing a CSV table")
    assert(big.schema == inferred(typed))
    assert(big.schema.map(_.dataType.typeName) ==
      Seq("integer", "double", "timestamp", "boolean", "string"))
    assert(big.count() == 150)
  }

  test("csv sample: header names, part-file directories and .csv.gz type as inferSchema does") {
    // duplicate and empty header names go through Spark's makeSafeHeader
    val names = write("names.csv", "a,a,,b\n" + (1 to 120).map(n => s"$n,x$n,$n.5,").mkString("\n"))
    assert(PathTable.resolve(spark, names).schema == inferred(names))
    val parts = new java.io.File(dir, "parts.csv").getAbsolutePath
    spark.read.option("header", "true").option("inferSchema", "true").csv(typedCsv("src.csv"))
      .repartition(3).write.option("header", "true").mode("overwrite").csv(parts)
    val (fromDir, jobs) = jobsIn(PathTable.resolve(spark, parts))
    assert(jobs == 0 && fromDir.schema == inferred(parts) && fromDir.count() == 150)
    val gz = new java.io.File(dir, "typed.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    try out.write(Files.readAllBytes(java.nio.file.Paths.get(typedCsv("for_gz.csv")))) finally out.close()
    val fromGz = PathTable.resolve(spark, gz.getAbsolutePath)
    assert(fromGz.schema == inferred(gz.getAbsolutePath) && fromGz.count() == 150)
  }

  test("a csv value the 100-row sample under-typed fails naming the file and the sample") {
    val p = write("late.csv", "k,v\n" + (1 to 200).map(n =>
      if (n == 150) s"$n,2.5" else s"$n,$n").mkString("\n") + "\n")
    val df = PathTable.read(spark, p, "csv")
    assert(df.schema("v").dataType.typeName == "integer")
    val e = intercept[Exception](df.collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msg.contains(p) && msg.contains("its first 100 rows under-typed a column"), msg)
    assert(PathTable.isCsvSampleMisfit(e))
    // whole-file typing reads every value
    val whole = PathTable.read(spark, p, "csv", wholeFileCsv = true)
    assert(whole.schema("v").dataType.typeName == "double")
    assert(whole.where("k = 150").collect().head.getDouble(1) == 2.5)
  }

  test("stdin csv/tsv are typed from all their lines on the driver, as inferSchema types them") {
    import spark.implicits._
    val lines = "i,d,s\n" +: (1 to 300).map(n => if (n == 250) s"$n,x,s$n" else s"$n,$n.5,s$n")
    val (df, jobs) = jobsIn(PathTable.readStdinLines(spark, "csv", lines))
    assert(jobs == 0, s"$jobs Spark jobs while typing stdin")
    assert(df.schema == spark.read.option("header", "true").option("inferSchema", "true")
      .csv(spark.createDataset(lines)).schema)
    assert(df.schema.map(_.dataType.typeName) == Seq("integer", "string", "string"))
    assert(df.count() == 300)
    val tsv = PathTable.readStdinLines(spark, "tsv", Seq("a\tb", "1\tx", "2\ty"))
    assert(tsv.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("a" -> "integer", "b" -> "string"))
  }

  test("tsv scan") {
    val p = write("t.tsv", "a\tb\n1\tx\n2\ty\n")
    val df = PathTable.resolve(spark, p)
    assert(df.count() == 2 && df.columns.length == 2)
  }

  test("csv without header (?header=false)") {
    val p = write("nh.csv", "1,x\n2,y\n")
    val df = PathTable.resolve(spark, s"$p?header=false")
    assert(df.count() == 2)
    assert(df.columns.head.startsWith("_c"))
    val big = write("nh_big.csv", (1 to 150).map(n => s"$n,x$n,${n % 3 == 0}").mkString("\n"))
    val sampled = PathTable.resolve(spark, s"$big?header=false")
    assert(sampled.schema == inferred(big, header = false) && sampled.count() == 150)
  }

  test("jsonlines scan with union-shape schema merge") {
    val p = write("t.json",
      """{"a": 1, "b": "x"}
        |{"a": 2, "c": true}
        |""".stripMargin)
    val df = PathTable.resolve(spark, p)
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("a", "b", "c"))
  }

  test("lines scan yields {number, text} in file order") {
    val p = write("t.log", "first\nsecond\nthird\n")
    val df = PathTable.resolve(spark, p)
    val rows = df.orderBy("number").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("first", "second", "third"))
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("parquet scan") {
    val df = PathTable.resolve(spark, s"$sf/nation.parquet")
    assert(df.count() == 25)
  }

  test("orc scan resolves by extension and round-trips parquet content") {
    val out = new java.io.File(dir, "nation_rt.orc").getAbsolutePath
    val src = PathTable.resolve(spark, s"$sf/nation.parquet")
    src.write.mode("overwrite").orc(out)
    val df = PathTable.resolve(spark, out)
    assert(df.count() == 25)
    assert(df.columns.toSet == src.columns.toSet)
    // format-prefixed form too (orc.<path> has a dot, so use read)
    assert(PathTable.read(spark, out, "orc").count() == 25)
  }

  test("lines numbering is per-file and the plan has no single-task Window") {
    // two files in one glob: numbers restart per file, like the
    // reference's per-file sequential numbering (lines/impl.go)
    val dir = java.nio.file.Files.createTempDirectory("graftlines")
    java.nio.file.Files.write(dir.resolve("a.log"), "a0\na1\na2\n".getBytes)
    java.nio.file.Files.write(dir.resolve("b.log"), "b0\nb1\n".getBytes)
    val df = PathTable.linesWithNumbers(spark, dir.toString + "/*.log")
    val rows = df.collect().map(r => (r.getString(2).split('/').last, r.getLong(0), r.getString(1)))
    val byFile = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toSeq).toMap
    assert(byFile("a.log") == Seq((0L, "a0"), (1L, "a1"), (2L, "a2")))
    assert(byFile("b.log") == Seq((0L, "b0"), (1L, "b1")))
    // scale guard: the round-1 implementation funnelled everything
    // through one task via Window.orderBy(monotonically_increasing_id())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unpartitioned Window crept back into the lines plan:\n$plan")
  }
}
