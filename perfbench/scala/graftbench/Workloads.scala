package graftbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import scala.jdk.CollectionConverters._
import graft.Cli
import graft.octo.Formats
import graft.operators.{Dedup, Materialize}
import graft.sql.Dialect
import graft.streaming.Streams

/** What an op returns: its result, and how to check it. The result is
  * evaluated lazily, after the clock stops, so reading back outputs that
  * the op already materialized is not timed. `corruptions` are
  * deliberately broken variants of a result that the check must reject
  * (used by the smoke test).
  */
trait Done {
  type R
  def result: R
  def check(r: R): Option[String]
  def corruptions: Seq[(String, R => R)]
}

object Done {
  def apply[A](res: => A)(chk: A => Option[String])(bad: (String, A => A)*): Done =
    new Done {
      type R = A
      lazy val result = res
      def check(r: A) = chk(r)
      def corruptions = bad
    }
}

/** One closed-loop op: `run` does the timed work and returns the result
  * to check, which the harness checks after the clock stops.
  */
final case class Op(name: String, rows: Long, inputBytes: Long,
                    run: (SparkSession, Tracer) => Done)

object Workloads {
  import Check.Row

  /** The seconds a run counts for one cycle: it times
    * ceil(--seconds ÷ this) whole cycles, at least one.
    */
  def nominalCycleSeconds(workload: String): Double = workload match {
    case "cli_files" => 3.0
    case "stream_drain" => 12.0
    case _ => 4.0
  }

  /** The ops of one cycle, in order; the first is the workload's flagship. */
  def ops(workload: String, dir: String, exp: JsonNode): Seq[Op] = workload match {
    case "cli_files" => cli(dir, exp)
    case "stream_drain" => stream(dir, exp)
    case "dedup_corpus" => Seq(dedup(dir, exp, lsh = true))
    case "dedup_exact" => Seq(dedup(dir, exp, lsh = false))
  }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) f.listFiles.map(bytesUnder).sum else f.length

  /** Change the leading digit of the first number on the output's last
    * line with a digit: a value of the last row changes by at least 10 %.
    */
  private def bumpLeadingDigit(s: String): String = {
    val line = s.lastIndexWhere(_.isDigit)
    val i = s.indexWhere(_.isDigit, s.lastIndexOf('\n', line) + 1)
    s.updated(i, ((s(i) - '0' + 1) % 10 + '0').toChar)
  }

  /** Add one to the first numeric value of the first row. */
  private def bumpFirstNumber(rows: IndexedSeq[Row]): IndexedSeq[Row] = {
    val j = rows.head.indexWhere(_.isInstanceOf[Double])
    rows.updated(0, rows.head.updated(j, rows.head(j).asInstanceOf[Double] + 1))
  }

  // ---- cli_files ------------------------------------------------------

  private def cli(dir: String, exp: JsonNode): Seq[Op] =
    exp.get("queries").elements.asScala.toSeq.map { q =>
      val sql = q.get("sql").asText
      val fmt = q.get("output").asText
      val want = Check.rows(q.get("expected"))
      val ordered = q.get("ordered").asBoolean
      val bytes = q.get("reads").elements.asScala.map(f => new File(dir, f.asText).length).sum
      Op(q.get("name").asText, q.get("input_rows").asLong, bytes, (spark, t) => {
        val buf = new ByteArrayOutputStream()
        val out = new PrintStream(buf, false, "UTF-8")
        if (t.enabled) {
          // Cli.execute's path for a query without --describe/--explain,
          // split at the module boundaries so that each gets a span
          val prep = t.span("sql", "Dialect.prepare")(
            Dialect.prepare(spark, sql, Dialect.Ctx(dir, None)))
          t.span("catalyst", "optimizedPlan")(prep.df.queryExecution.optimizedPlan)
          t.span("catalyst", "executedPlan")(prep.df.queryExecution.executedPlan)
          t.span("octo", "Formats.render")(out.print(Formats.render(prep, fmt)))
        } else {
          val err = new ByteArrayOutputStream()
          val code = Cli.execute(spark, Cli.parseArgs(Array(sql, "--output", fmt)), dir,
            None, out, new PrintStream(err, true, "UTF-8"))
          if (code != 0)
            throw new RuntimeException(s"exit code $code: " +
              err.toString("UTF-8").linesIterator.filter(_.startsWith("Error")).mkString)
        }
        out.flush()
        t.count("octo.output_bytes", buf.size)
        Done(buf.toString("UTF-8"))(Check.cliOutput(_, fmt, want, ordered))(
          "leading digit of the last row changed" -> bumpLeadingDigit)
      })
    }

  // ---- stream_drain ---------------------------------------------------

  private def stream(dir: String, exp: JsonNode): Seq[Op] = {
    val ev = s"$dir/events"
    val evRows = exp.at("/input_rows/events").asLong
    val users = s"$dir/users.parquet"
    val aggs = Seq(count(lit(1)).as("n"), sum("amount").as("amt"))
    // (name, graft call, rows read, bytes read, run)
    val runners: Seq[(String, String, Long, Long, SparkSession => DataFrame)] = Seq(
      ("tumbling_agg", "Streams.runTumblingAgg", evRows, bytesUnder(new File(ev)),
        s => Streams.runTumblingAgg(s, ev, "ts", "1 minute", Seq("event_type"), aggs,
          "perfbench_tumble")),
      ("session_agg", "Streams.runSessionAgg", evRows, bytesUnder(new File(ev)),
        s => Streams.runSessionAgg(s, ev, "ts", "5 minutes", Seq("user_id"), aggs,
          "perfbench_session")),
      ("interval_join", "Streams.runStreamIntervalJoin", evRows, bytesUnder(new File(ev)),
        s => Streams.runStreamIntervalJoin(s, ev, "ts", "event_type", "user_id", "event_id",
          "click", "purchase", "10 minutes", "perfbench_join")),
      ("streaming_dedup", "Streams.runStreamingDedup", evRows, bytesUnder(new File(ev)),
        s => Streams.runStreamingDedup(s, ev, "ts", "1 hour", Seq("user_id", "event_type"),
          "perfbench_dedup")),
      ("static_enrich", "Streams.runStreamStaticEnrich",
        evRows + exp.at("/input_rows/users").asLong,
        bytesUnder(new File(ev)) + new File(users).length,
        s => Streams.runStreamStaticEnrich(s, ev, "ts", s.read.parquet(users), "user_id", "uid",
          Seq("tier"), aggs, "perfbench_enrich")))
    runners.map { case (name, call, rows, bytes, runner) =>
      val want = exp.at(s"/runners/$name")
      val cols = want.get("columns").elements.asScala.map(_.asText).toSeq
      val wantRows = Check.rows(want.get("rows"))
      Op(name, rows, bytes, (spark, t) => {
        val got = t.span("streaming", call)(runner(spark)).select(cols.map(col): _*).collect()
          .map(r => r.toSeq.map(Check.canon).toIndexedSeq).toIndexedSeq
        Done(got)(Check.rowsMatch(_, wantRows, ordered = false))(
          "first number bumped" -> bumpFirstNumber, "last row dropped" -> (_.dropRight(1)))
      })
    }
  }

  // ---- dedup_corpus / dedup_exact ------------------------------------

  final case class DedupResult(pairs: IndexedSeq[Row], comp: IndexedSeq[Row],
                               canon: IndexedSeq[Row], cands: Option[Seq[(Long, Long)]])

  /** The near-duplicate pipeline through the public Dedup and
    * Materialize calls: shingle index, exact Jaccard pairs, MinHash-LSH
    * candidates (dedup_corpus only), connected components, canonical docs.
    */
  private def dedup(dir: String, exp: JsonNode, lsh: Boolean): Op = {
    val path = s"$dir/docs.parquet"
    val nDocs = exp.at("/input_rows/docs").asLong
    val cap = exp.get("cap").asInt
    val threshold = exp.get("threshold").asDouble
    val n = exp.get("shingle_n").asInt
    val wantPairs = Check.rows(exp.get("exact_pairs"))
    val wantComp = Check.rows(exp.get("components"))
    val wantCanon = Check.rows(exp.get("canonical"))
    val exact = wantPairs.map(r => (r(0).asInstanceOf[Double].toLong, r(1).asInstanceOf[Double].toLong))
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.map(Check.canon).toIndexedSeq).toIndexedSeq

    def check(r: DedupResult): Option[String] = {
      val failures = Seq(
        Check.rowsMatch(r.pairs, wantPairs, ordered = false).map("exact pairs: " + _),
        r.cands.flatMap(Check.lshCandidates(_, exact, nDocs)),
        Check.rowsMatch(r.comp, wantComp, ordered = false).map("components: " + _),
        Check.rowsMatch(r.canon, wantCanon, ordered = false).map("canonical docs: " + _)
      ).flatten
      if (failures.isEmpty) None else Some(failures.mkString("; "))
    }

    Op("pipeline", nDocs, new File(path).length, (spark, t) => {
      def stage[T](name: String)(f: => T): T = t.span("operators", name)(f)
      def eager(df: DataFrame) = t.span("operators", "Materialize.eager")(Materialize.eager(df))
      val docs = spark.read.parquet(path)
      val idx = stage("shingle_index")(
        eager(Dedup.shingleIndex(docs, "doc_id", "text", n, Some(cap), tokens = true)))
      val pairs = stage("exact_pairs")(eager(Dedup.ngramJaccardPairsFromIndex(idx, threshold)))
      val cands = if (lsh) Some(stage("lsh_candidates")(
        eager(Dedup.minhashLshCandidatesFromIndex(idx, k = 32, bands = 8)))) else None
      val comp = stage("connected_components")(Dedup.connectedComponents(pairs))
      val canon = stage("canonical_docs")(
        Dedup.canonicalDocsFromLabels(docs, comp, "doc_id", "n_chars").collect())
      if (t.enabled) t.count("operators.materialized_bytes",
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
      Done {
        val candPairs = cands.map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        candPairs.foreach { cs =>
          t.count("operators.candidates", cs.size)
          t.count("operators.verified_candidates", cs.count(exact.toSet))
        }
        DedupResult(rowsOf(pairs.select("id_a", "id_b", "jaccard")),
          rowsOf(comp.select("id", "comp")),
          canon.map(_.toSeq.map(Check.canon).toIndexedSeq).toIndexedSeq, candPairs)
      }(check)(
        Seq("one exact pair dropped" -> ((r: DedupResult) => r.copy(pairs = r.pairs.drop(1))),
          "one component relabelled" -> ((r: DedupResult) =>
            r.copy(comp = r.comp.updated(0, r.comp(0).updated(1, -1.0)))),
          "one canonical doc replaced" -> ((r: DedupResult) =>
            r.copy(canon = r.canon.updated(0, r.canon(0).updated(0, -1.0))))) ++
          (if (lsh) Seq("candidates emptied" -> ((r: DedupResult) => r.copy(cands = Some(Nil))))
           else Nil): _*)
    })
  }
}
