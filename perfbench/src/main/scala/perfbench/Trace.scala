package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds. `kind` is "call"
  * for a harness call into a layer, "trigger" for a streaming
  * micro-batch, and "job" for a Spark job. */
final class Span(val id: Int, val name: String, val kind: String, val opId: String,
    val start: Long, var end: Long, var parent: Int) {
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def dur: Long = end - start
}

/** Per-job task totals, filled from the listener's task-end events. */
final class JobTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  val stages: mutable.Set[Int] = mutable.Set.empty
}

/** Span recorder. Spans live in memory and are written out once, at
  * the end of a run. Calls are spans opened and closed on the client
  * thread, so they nest by construction. Spark jobs come from a
  * listener and become children of the innermost call or trigger span
  * that contains their start. When `enabled` is false, `span` only runs
  * its body and the listener is never attached. */
final class Tracer(val enabled: Boolean) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()

  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack.empty[Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val jobTotals = mutable.Map.empty[Int, JobTotals]
  private val stageToJob = mutable.Map.empty[Int, Int]
  @volatile private var openJobs = 0
  @volatile private var lastEventNs = 0L

  private def newSpan(name: String, kind: String, opId: String, start: Long, end: Long,
      parent: Int): Span = synchronized {
    val s = new Span(nextId, name, kind, opId, start, end, parent)
    nextId += 1
    spans += s
    s
  }

  /** Times `f` as a child of the innermost open call span. */
  def span[A](name: String, opId: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = newSpan(name, "call", if (opId.nonEmpty) opId else parent.fold("")(_.opId),
        now, 0L, parent.fold(-1)(_.id))
      stack.push(s)
      try f
      finally { s.end = now; stack.pop(); () }
    }

  /** Records a streaming trigger, timed by Spark's query progress. */
  def trigger(name: String, start: Long, end: Long): Unit =
    if (enabled) { newSpan(name, "trigger", "", start, end, -1); () }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = newSpan(s"job ${e.jobId}", "job", "", e.time * 1000000L, 0L, -1)
      jobSpans(e.jobId) = s
      jobTotals(e.jobId) = new JobTotals
      e.stageIds.foreach(st => stageToJob(st) = e.jobId)
      openJobs += 1
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.get(e.jobId).foreach(_.end = e.time * 1000000L)
      openJobs -= 1
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageToJob.get(e.stageId); t <- jobTotals.get(job)) {
        t.tasks += 1
        t.stages += e.stageId
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
      lastEventNs = System.nanoTime()
    }
  }

  /** Waits until the listener bus has delivered every job end: no open
    * job and no event for 300 ms, or 10 s at most. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (openJobs > 0 || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  /** Attaches every job (and trigger) to the innermost enclosing span,
    * copies the job totals into the job spans, and returns the spans. */
  def finish(): Seq[Span] = synchronized {
    for ((id, s) <- jobSpans) {
      if (s.end == 0L) s.end = s.start
      val t = jobTotals(id)
      s.attrs ++= Seq("tasks" -> t.tasks.toDouble, "stages" -> t.stages.size.toDouble,
        "task_run_ms" -> t.runMs.toDouble, "task_cpu_ms" -> t.cpuNs / 1e6,
        "gc_ms" -> t.gcMs.toDouble, "shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
        "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble)
    }
    val containers = spans.filter(s => s.kind != "job").toSeq
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
    for (s <- spans if s.parent < 0 && s.kind != "call") {
      // job times carry millisecond resolution: allow that much slack
      val enclosing = containers.filter(c => c.id != s.id && c.start - 1000000L <= s.start &&
        s.start <= c.end &&
        (s.kind == "job" || c.kind == "call"))
      if (enclosing.nonEmpty) {
        // deepest first; a trigger beats the call that was waiting on it
        val best = enclosing.maxBy(c => (if (c.kind == "trigger") 1000 else 0) + depth(c))
        s.parent = best.id
      }
    }
    spans.toSeq
  }

  /** Op id of a span: its own, else its nearest ancestor's. */
  def opOf(s: Span): String =
    if (s.opId.nonEmpty || s.parent < 0) s.opId else opOf(spans(s.parent))

  /** Root-most ancestor. */
  def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(spans(s.parent))

  /** Duration minus the part of it that the children's union covers. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Writes the spans as JSON lines. */
  def write(path: String, all: Seq[Span], self: Map[Int, Long]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        s""""op":${Json.str(opOf(s))},"parent":${s.parent},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_ns":${self(s.id)},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Tracer {
  /** The tracer of untraced runs: spans cost one branch. */
  val off = new Tracer(false)
}
