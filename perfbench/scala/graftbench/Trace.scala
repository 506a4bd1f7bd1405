package graftbench

import scala.collection.mutable
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory tracing for the traced run. Spans are recorded by the
  * benchmark around its own calls into each graft module; Spark jobs
  * are attributed to the innermost open span through a job-local
  * property, and their task counters and the streaming progress reports
  * come from listeners the benchmark registers itself. Nothing is
  * recorded until [[attach]]: the end-to-end metrics are measured with
  * tracing off.
  */
final class Tracer {
  import Tracer._

  final case class Span(id: Int, layer: String, name: String, parent: Int,
                        op: Int, start: Long, var end: Long = 0L)

  final class Job(val id: Int, val span: Int, val op: Int, val start: Long) {
    var end: Long = start
    var stages, tasks = 0L
    var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
  }

  private var on = false
  def enabled: Boolean = on
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val progress = mutable.ArrayBuffer[(Int, StreamingQueryProgress)]()
  private val counters = mutable.HashMap[(Int, String), Double]()
  private val stageJob = mutable.HashMap[Int, Job]()
  private var stack = List.empty[Span]
  private var currentOp = 0
  private var sc: SparkContext = _
  // job events carry wall-clock millis; spans use nanoTime
  private var clockOffsetNs = 0L

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Run `f` as op number `id`, inside a root span of layer `op`. */
  def op[T](id: Int, name: String)(f: => T): T = {
    currentOp = id
    span("op", name)(f)
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size + 1, layer, name, stack.headOption.fold(0)(_.id),
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def count(key: String, v: Double): Unit =
    if (enabled) counters((currentOp, key)) = counters.getOrElse((currentOp, key), 0.0) + v

  private def counter(opId: Int, key: String): Double = counters.getOrElse((opId, key), 0.0)

  /** Wait until every listener event posted so far has been handled. */
  def settle(): Unit = if (enabled) BenchBus.drain(sc)

  private def ns(millis: Long): Long = millis * 1000000L - clockOffsetNs

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // jobs outside every span (the harness reading results back for
      // its checks) belong to no op
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
        .foreach { span =>
          val j = new Job(e.jobId, span, spans(span - 1).op, ns(e.time))
          jobs += j
          e.stageIds.foreach(stageJob(_) = j)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = ns(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += ((currentOp, e.progress)) }
  }

  /** Length of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time per layer: a span's duration minus the part covered by
    * its child spans and by the Spark jobs launched under it. Job time
    * itself rolls up as layer `spark`.
    */
  def selfTimes(ops: Set[Int]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val jobsOf = jobs.groupBy(_.span)
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    spans.filter(s => ops(s.op)).foreach { s =>
      val childIv = kids.get(s.id).toSeq.flatten.map(c => (c.start, c.end))
      val jobIv = jobsOf.get(s.id).toSeq.flatten.map(j => (j.start, j.end))
      out(s.layer) += (s.end - s.start - covered(childIv ++ jobIv, s.start, s.end)) / 1e9
      out("spark") += covered(jobIv, s.start, s.end) / 1e9
    }
    out.toMap
  }

  /** The per-layer metrics of BENCHMARK.json's `per_layer`, averaged
    * per op over `ops` (the traced ops), with `cores` executor slots.
    */
  def layerMetrics(ops: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val ids = ops.map(_.id).toSet
    val sp = spans.filter(s => ids(s.op))
    val js = jobs.filter(j => ids(j.op))
    def layerOf(j: Job) = spans(j.span - 1).layer
    def dur(ss: Iterable[Span]) = ss.map(s => (s.end - s.start) / 1e9).sum
    def named(layer: String, name: String) = dur(sp.filter(s => s.layer == layer && s.name == name))
    val sqlJobs = js.filter(layerOf(_) == "sql")
    val jobWall = ops.map { o =>
      val mine = js.filter(_.op == o.id)
      covered(mine.map(j => (j.start, j.end)).toSeq, Long.MinValue, Long.MaxValue) / 1e9
    }.sum
    val taskS = js.map(_.taskMs).sum / 1e3
    val inputBytes = js.map(_.input).sum.toDouble
    val prog = progress.filter(p => ids(p._1)).map(_._2)
    def dms(key: String) =
      prog.map(p => Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum / 1e3
    // state size: the last report of each query run
    val lastProg = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    def lastState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      lastProg.flatMap(_.stateOperators).map(f).sum.toDouble
    val drain = dur(sp.filter(_.layer == "streaming"))
    val self = selfTimes(ids)
    def ctr(k: String) = ops.map(o => counter(o.id, k)).sum
    val m = mutable.LinkedHashMap[String, Double](
      "sql.prepare_s" -> dur(sp.filter(_.layer == "sql")),
      "sql.prepare_jobs" -> sqlJobs.size.toDouble,
      "sources.infer_task_s" -> sqlJobs.map(_.taskMs).sum / 1e3,
      "sources.input_mb" -> inputBytes / 1e6,
      "catalyst.optimize_s" -> named("catalyst", "optimizedPlan"),
      "catalyst.plan_s" -> named("catalyst", "executedPlan"),
      "octo.render_s" -> self.getOrElse("octo", 0.0),
      "octo.output_bytes" -> ctr("octo.output_bytes"),
      "streaming.drain_s" -> drain,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.trigger_s" -> dms("triggerExecution"),
      "streaming.addBatch_s" -> dms("addBatch"),
      "streaming.queryPlanning_s" -> dms("queryPlanning"),
      "streaming.walCommit_s" -> dms("walCommit"),
      "streaming.startstop_s" -> (if (prog.isEmpty) 0.0 else drain - dms("triggerExecution")),
      "streaming.state_commit_s" -> prog.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> lastState(_.numRowsTotal),
      "streaming.state_mem_mb" -> lastState(_.memoryUsedBytes) / 1e6,
      "streaming.state_instances" -> lastState(_.numStateStoreInstances))
    for (stage <- DedupStages) m(s"operators.${stage}_s") = named("operators", stage)
    m ++= Seq(
      "operators.materialize_s" -> named("operators", "Materialize.eager"),
      "operators.candidates" -> ctr("operators.candidates"),
      "operators.materialized_mb" -> ctr("operators.materialized_bytes") / 1e6,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "exec.idle_core_s" -> (cores * jobWall - taskS),
      "exec.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> js.map(_.shuffleRead).sum / 1e6,
      "exec.spill_mb" -> js.map(_.spill).sum / 1e6)
    for (layer <- SelfLayers) m(s"self.${layer}_s") = self.getOrElse(layer, 0.0)
    // per op, except the ratios below
    m.mapValuesInPlace((_, v) => v / n)
    val fileBytes = ops.map(_.inputBytes).sum.toDouble
    m("sources.read_amplification") = if (fileBytes > 0) inputBytes / fileBytes else 0.0
    val cands = ctr("operators.candidates")
    m("operators.candidate_yield") =
      if (cands > 0) ctr("operators.verified_candidates") / cands else 0.0
    m.toMap
  }

  /** Every span and job, for the spans file. */
  def spanRecords(t0: Long): Seq[Map[String, Any]] =
    spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "op" -> s.op, "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9)
    } ++ jobs.toSeq.map { j =>
      Map("id" -> s"job-${j.id}", "name" -> s"spark job ${j.id}", "layer" -> "spark",
        "parent" -> j.span, "op" -> j.op, "start_s" -> (j.start - t0) / 1e9,
        "end_s" -> (j.end - t0) / 1e9, "tasks" -> j.tasks, "task_s" -> j.taskMs / 1e3)
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val DedupStages = Seq("shingle_index", "exact_pairs", "lsh_candidates",
    "connected_components", "canonical_docs")
  val SelfLayers = Seq("op", "sql", "catalyst", "octo", "streaming", "operators", "spark")
}
