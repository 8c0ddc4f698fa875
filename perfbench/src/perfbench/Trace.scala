package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it. `module` is the library package
  * whose frame is innermost on the job's call site.
  */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, module: String,
    site: String, pooled: Boolean, broadcast: Boolean, var stages: Int = 0, var tasks: Int = 0,
    var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0, var inputBytes: Long = 0)

/** A timed interval: an operation (root), one of the benchmark's calls into
  * the library (child), a stream batch from the query's progress (leaf) or a
  * Spark job from the listener (leaf). Times are epoch milliseconds so
  * listener events line up. A layer's self time is its spans' time not
  * covered by their Spark jobs.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

object Trace {
  /** Library package → module name; anything else on the call site's
    * innermost `graft.`/`perfbench.` frame is attributed as shown.
    */
  val modules: Seq[String] =
    Seq("Pipeline", "operators", "sources", "streaming", "sql", "functions", "bench")

  def moduleOf(callSite: String): String = {
    val frames = callSite.linesIterator.map(_.trim.stripPrefix("at ")).toSeq
    frames.collectFirst {
      case f if f.startsWith("graft.Pipeline") => "Pipeline"
      case f if f.startsWith("graft.") && f.count(_ == '.') > 2 &&
          modules.contains(f.split('.')(1)) => f.split('.')(1)
      case f if f.startsWith("perfbench.") => "bench"
    }.getOrElse("unattributed")
  }

  /** Union length (ms) of intervals clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    c.foreach { case (a, b) =>
      if (curB < 0 || a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Listener-backed job log, attached only during traced cycles. */
final class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val execModule = mutable.HashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // jobs an SQL execution submits from a pool thread (AQE stages,
    // broadcasts) carry no library frame: fall back to the execution's site
    val own = Trace.moduleOf(result.map(_.details).getOrElse(""))
    val module = Some(own).filter(_ != "unattributed")
      .orElse(prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong)))
      .getOrElse("unattributed")
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, module,
      result.map(_.name).getOrElse(""), pooled = own == "unattributed",
      broadcast = prop("spark.rdd.scope").exists(_.contains("\"BroadcastExchange\"")))
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execModule(s.executionId) = Trace.moduleOf(s.details))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toVector)
}

/** Spans of the run, kept in memory and written out when the run ends.
  * Operations are serial, so a job belongs to the operation (and the
  * innermost call) whose window contains its start — job groups are not
  * used, since staged writes on pooled threads can carry stale ones.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var openOp: Option[(Int, Long)] = None
  private val calls = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  val jobLog = new JobLog
  @volatile var enabled = false

  /** Attach or detach the job listener; detaching first waits until the
    * events of the traced operations have been delivered.
    */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) spark.sparkContext.addSparkListener(jobLog)
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobLog)
    }
    enabled = on
  }

  private def fresh(): Int = { nextId += 1; nextId }

  /** Time the benchmark's call `name` into the library (child of the op). */
  def call[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally openOp.foreach { case (opId, _) =>
      if (enabled) calls += Span(fresh(), opId, name, "call", t0, System.currentTimeMillis())
    }
  }

  /** Open an operation's root span; its name is given when it closes. */
  def beginOp(): Int = {
    val id = fresh()
    openOp = Some((id, System.currentTimeMillis()))
    id
  }

  def endOp(name: String): Unit = openOp.foreach { case (id, t0) =>
    if (enabled) spans += Span(id, 0, name, "op", t0, System.currentTimeMillis())
    openOp = None
  }

  def leaf(parent: Int, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Double]): Unit =
    if (enabled) spans += Span(fresh(), parent, name, "leaf", startMs, endMs, attrs)

  /** Attach calls and job leaves to their operations (run end). */
  def finish(): Seq[Span] = {
    val ops = spans.filter(_.kind == "op").toVector
    val jobs = jobLog.snapshot()
    val jobSpans = jobs.flatMap { j =>
      ops.find(o => j.startMs >= o.startMs && j.startMs <= o.endMs).map { o =>
        val inner = calls.filter(c => c.parent == o.id && j.startMs >= c.startMs && j.startMs <= c.endMs)
          .sortBy(c => c.endMs - c.startMs).headOption
        Span(fresh(), inner.map(_.id).getOrElse(o.id), s"job ${j.id} ${j.module}: ${j.site}", "job",
          j.startMs, if (j.endMs < 0) j.startMs else j.endMs,
          Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
            "broadcast" -> (if (j.broadcast) 1.0 else 0.0), "pooled" -> (if (j.pooled) 1.0 else 0.0),
            "shuffle_write_bytes" -> j.shuffleWriteBytes.toDouble,
            "spill_bytes" -> j.spillBytes.toDouble, "input_bytes" -> j.inputBytes.toDouble))
      }
    }
    spans ++= calls
    spans ++= jobSpans
    spans.toSeq
  }

  /** Per-operation layer metrics from the finished spans and the job log. */
  def layerMetrics(opId: Int): Map[String, Double] = {
    val all = spans.toSeq
    val op = all.find(_.id == opId).get
    val calls = all.filter(s => s.kind == "call" && s.parent == opId)
    val jobs = jobLog.snapshot().filter(j => j.startMs >= op.startMs && j.startMs <= op.endMs)
    val iv = jobs.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
    val busy = Trace.unionMs(iv, op.startMs, op.endMs)
    val leaves = all.filter(s => s.kind == "leaf" && s.parent == opId)
    val children = (calls ++ leaves).map(c => (c.startMs, c.endMs)) ++ iv
    def selfOf(ss: Seq[Span]) =
      ss.map(c => (c.endMs - c.startMs) - Trace.unionMs(iv, c.startMs, c.endMs)).sum / 1000.0
    val base = Map(
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> jobs.map(_.stages).sum.toDouble,
      "driver.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "driver.broadcast_jobs" -> jobs.count(_.broadcast).toDouble,
      "driver.pool_jobs" -> jobs.count(_.pooled).toDouble,
      "driver.job_busy_s" -> busy / 1000.0,
      "driver.outside_jobs_s" -> (op.endMs - op.startMs - busy) / 1000.0,
      "operators.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
      "operators.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "operators.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "self_s.op" -> (op.endMs - op.startMs - Trace.unionMs(children, op.startMs, op.endMs)) / 1000.0,
      "self_s.call" -> selfOf(calls),
      "self_s.batch" -> selfOf(leaves),
      "self_s.job" -> busy / 1000.0)
    val perModule = (Trace.modules :+ "unattributed").flatMap { m =>
      val js = jobs.filter(_.module == m)
      Seq(s"jobs.$m" -> js.size.toDouble,
        s"job_s.$m" -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0)
    }
    base ++ perModule
  }
}
