package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Engine

/** One op as it ran: `seconds` is its latency, `error` why it failed. */
final case class OpRecord(id: Int, name: String, seconds: Double, rows: Long,
                          inputBytes: Long, error: Option[String])

/** The benchmark harness: one long-lived graft session at local[4], one
  * closed-loop client, whole cycles of the workload's ops.
  *
  *   graftbench.Main --workload cli_files --dir <inputs> --seconds 10
  *     --trace 0|1 --out result.json --detail detail.json --spans spans.json
  *   graftbench.Main --workload cli_files --dir <inputs> --selftest 1 --out selftest.json
  *
  * With `--trace 0` it reports the end-to-end metrics. With `--trace 1`
  * it runs half the cycles untraced and half traced, and reports the
  * per-layer metrics of the traced half plus the tracing overhead.
  */
object Main {
  val Cores = 4
  // a cold-JVM set-up and a warm restart; their median is their mean.
  // More rounds would not fit the run budget of three workloads.
  val SetupRounds = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val dir = new File(a("dir")).getAbsolutePath
    val exp = Check.mapper.readTree(new File(dir, "expected.json"))
    val ops = Workloads.ops(workload, dir, exp)
    if (a.get("selftest").contains("1")) selfTest(ops, a("out"))
    else run(workload, ops, a("seconds").toDouble, a("trace") == "1", a)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 ops beyond it: the 11th
    * slowest op, at percentile 100·(n−10)/n. With 10 ops or fewer no
    * percentile qualifies and the slowest op is reported, at 100.
    */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private final class Runner(ops: Seq[Op], val tracer: Tracer) {
    var spark: SparkSession = _
    private var seq = 0
    val all = mutable.ArrayBuffer[OpRecord]()

    def runOp(op: Op): OpRecord = {
      seq += 1
      val id = seq
      val t0 = System.nanoTime()
      val done = try Right(tracer.op(id, op.name)(op.run(spark, tracer)))
        catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      tracer.settle()
      val error = done match {
        case Left(e) => Some(s"failed: $e")
        case Right(d) =>
          try d.check(d.result) catch { case e: Throwable => Some(s"check failed: $e") }
      }
      Engine.releaseCaches(spark)
      error.foreach(e => System.err.println(s"[perfbench] op ${op.name} wrong: $e"))
      val r = OpRecord(id, op.name, sec, op.rows, op.inputBytes, error)
      all += r
      r
    }

    /** A fresh Engine.session and the flagship op's first result; returns
      * its seconds.
      */
    def setUp(): Double = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Engine.session(s"local[$Cores]")
      runOp(ops.head)
      (System.nanoTime() - t0) / 1e9
    }

    /** `cycles` whole cycles of the ops. */
    def timed(cycles: Int): Seq[OpRecord] =
      Seq.fill(cycles)(ops.map(runOp)).flatten
  }

  private def run(workload: String, ops: Seq[Op], seconds: Double, trace: Boolean,
                  a: Map[String, String]): Unit = {
    val r = new Runner(ops, new Tracer)
    val setups = Seq.fill(SetupRounds)(r.setUp())
    // warm-up: first runs are 2-3x slower than steady state. The
    // flagship op already ran in every set-up.
    val w0 = System.nanoTime()
    ops.tail.foreach(r.runOp)
    val warmup = (System.nanoTime() - w0) / 1e9
    // The cycle count follows from --seconds and the workload's nominal
    // cycle time, never from measured speed, so every commit gets the
    // same number of samples.
    val cycles = math.max(1, math.ceil(seconds / Workloads.nominalCycleSeconds(workload)).toInt)
    val untraced = r.timed(if (trace) math.max(1, cycles / 2) else cycles)
    val t0 = System.nanoTime()
    val traced = if (trace) { r.tracer.attach(r.spark); r.timed(math.max(1, cycles / 2)) } else Nil

    def endToEnd(recs: Seq[OpRecord]): mutable.LinkedHashMap[String, (Double, String)] = {
      val ok = recs.filter(_.error.isEmpty)
      val m = mutable.LinkedHashMap[String, (Double, String)]()
      if (ok.nonEmpty) {
        val flagship = ok.filter(_.name == ops.head.name)
        m("rows_per_s") = (ok.map(_.rows).sum / recs.map(_.seconds).sum, "1/s")
        m("op_p50_s") = (median(ok.map(_.seconds)), "s")
        m("op_tail_s") = (tail(ok.map(_.seconds))._1, "s")
        if (flagship.nonEmpty)
          m("flagship_rows_per_s") = (ops.head.rows / median(flagship.map(_.seconds)), "1/s")
      }
      m("setup_s") = (median(setups), "s")
      m("peak_rss_mb") = (peakRssMb(), "MB")
      m
    }
    val e2e = endToEnd(untraced)
    val metrics: Map[String, (Double, String)] =
      if (!trace) e2e.toMap
      else {
        val layer = r.tracer.layerMetrics(traced, Cores)
        val overhead = 100 * (endToEnd(traced).get("op_p50_s").fold(Double.NaN)(_._1) /
          e2e.get("op_p50_s").fold(Double.NaN)(_._1) - 1)
        (layer.map { case (k, v) => k -> (v, Units.of(k)) } +
          ("trace.overhead_pct" -> (overhead, "%"))).filterNot(_._2._1.isNaN)
      }
    val failed = r.all.count(_.error.nonEmpty)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> r.all.size,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)
    write(a("out"), Json(result))

    val okU = untraced.filter(_.error.isEmpty).map(_.seconds)
    val perOp = (untraced ++ traced).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val ok = rs.filter(_.error.isEmpty).map(_.seconds)
      name -> Map("ops" -> rs.size, "failed" -> rs.count(_.error.nonEmpty),
        "median_s" -> (if (ok.isEmpty) null else median(ok)),
        "errors" -> rs.flatMap(_.error).distinct.take(3))
    }.toMap
    val detail = Map(
      "workload" -> workload,
      "config" -> Map("cpus" -> Cores, "master" -> s"local[$Cores]",
        "spark" -> r.spark.version, "jdk" -> System.getProperty("java.version"),
        "run_seconds" -> seconds, "timed_cycles" -> cycles, "trace" -> trace),
      "error_rate" -> failed.toDouble / r.all.size,
      "op_tail" -> (if (okU.isEmpty) null
        else Map("percentile" -> tail(okU)._2, "ops" -> okU.size)),
      "setup_samples_s" -> setups,
      "warmup_s" -> warmup,
      "untraced" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "ops" -> perOp)
    write(a("detail"), Json(detail))
    if (trace) write(a("spans"), Json(Map(
      "workload" -> workload,
      "spans" -> r.tracer.spanRecords(t0),
      "self_time_s" -> r.tracer.selfTimes(traced.map(_.id).toSet))))
    r.spark.stop()
  }

  /** Check every op's real output, then each deliberately corrupted
    * variant of it; the verdicts go to `out`.
    */
  private def selfTest(ops: Seq[Op], out: String): Unit = {
    val r = new Runner(ops, new Tracer)
    r.spark = Engine.session(s"local[$Cores]")
    val verdicts = ops.map { op =>
      val d = op.run(r.spark, r.tracer)
      val clean = d.check(d.result)
      val rejected = d.corruptions.map { case (what, f) =>
        what -> d.check(f(d.result)).isDefined }.toMap
      Engine.releaseCaches(r.spark)
      op.name -> Map("clean_error" -> clean.orNull, "corruption_rejected" -> rejected)
    }.toMap
    write(out, Json(verdicts))
    r.spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("amplification") || name.endsWith("yield")) "ratio"
    else "count"
}

/** Minimal JSON rendering for the harness's own outputs. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => apply(o.orNull)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
