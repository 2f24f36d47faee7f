package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch nanoseconds so
  * spans recorded by the benchmark and spans rebuilt from Spark's listener
  * events (epoch milliseconds) share one clock. `parent` is -1 for roots.
  */
final case class Span(id: Int, parent: Int, opId: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
  def layer: String = Trace.layerOf(name)
}

/** Per-task totals of one Spark stage, folded from `SparkListenerTaskEnd`. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * records spans (kept in memory, reported when the run ends), tags every
  * Spark job with the current operation's job group and collects job,
  * stage, task and streaming-progress events from listeners.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1

  private def add(parent: Int, opId: Int, name: String, start: Long, end: Long): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, opId, name, start, end)
    id
  }

  /** Record `body` as a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      // reserve the id now so children can name it as parent
      val id = add(parent, currentOp, name, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized { spans(id) = spans(id).copy(end = now()) }
      }
    }

  /** Root span of one operation; Spark jobs it starts carry its job group. */
  def op[A](opId: Int, name: String, sc: org.apache.spark.SparkContext)(body: => A): A =
    if (!enabled) body
    else {
      currentOp = opId
      sc.setJobGroup(s"perfbench-op-$opId", name, interruptOnCancel = false)
      try span("op")(body)
      finally { sc.clearJobGroup(); currentOp = -1 }
    }

  // ---------------------------------------------------------------- Spark

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTimes = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val stageTotals = scala.collection.mutable.Map.empty[Int, StageTotals]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val opId = group.collect { case g if g.startsWith("perfbench-op-") =>
        g.stripPrefix("perfbench-op-").toInt }.getOrElse(-1)
      jobs(e.jobId) = JobRec(opId, e.time * 1000000L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = e.time * 1000000L
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageTimes(i.stageId) = (s * 1000000L, c * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val t = stageTotals.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** True once every job seen has ended and its stages reported. */
  private def quiet: Boolean = synchronized {
    jobs.keys.forall(jobEnds.contains) &&
      jobs.values.flatMap(_.stageIds).forall(s => stageTimes.contains(s) || !stageTotals.contains(s))
  }

  /** Listener events arrive asynchronously; wait (bounded) for the tail. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5000000000L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (quiet) stable += 1 else stable = 0
    }
  }

  // ------------------------------------------------------------ streaming

  val progress = ArrayBuffer.empty[Progress]

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp)
      Tracer.this.synchronized {
        progress += Progress(
          start.getEpochSecond * 1000000000L + start.getNano,
          p.batchDuration, ms("addBatch"),
          p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  // --------------------------------------------------------------- spans

  private def innermost(own: Seq[Span], opId: Int, t: Long): Span = {
    // listener times are whole milliseconds: allow one of slack
    val covering = own.filter(s => s.start - 1000000L <= t && t <= s.end + 1000000L &&
      (s.opId == opId || opId < 0) && (s.name == "op" || s.name.startsWith("ops.")))
    if (covering.isEmpty) null else covering.maxBy(_.start)
  }

  /** Operation of every job: its job group, else the operation running
    * when it started (jobs of streaming threads may carry no group).
    */
  private def jobOwners(own: Seq[Span]): Map[Int, Span] =
    jobs.toSeq.flatMap { case (jobId, j) =>
      Option(innermost(own, j.opId, j.start)).map(jobId -> _)
    }.toMap

  /** Benchmark spans plus job, stage and streaming-batch spans rebuilt from
    * listener events. A job's parent is its operation's innermost span that
    * covers the job's start; a stage's parent is its job.
    */
  def completeSpans(): Seq[Span] = synchronized {
    val own = spans.toList
    val out = ArrayBuffer.empty[Span] ++= own
    var id = nextId
    for ((jobId, p) <- jobOwners(own); end <- jobEnds.get(jobId)) {
      val j = jobs(jobId)
      val jid = id; id += 1
      out += Span(jid, p.id, p.opId, "spark.job", j.start, end)
      for (s <- j.stageIds; (a, b) <- stageTimes.get(s)) {
        out += Span(id, jid, p.opId, "spark.stage", a, b); id += 1
      }
    }
    for (pr <- progress; p <- Option(innermost(own, -1, pr.start))) {
      out += Span(id, p.id, p.opId, "streaming.batch", pr.start, pr.start + pr.durationMs * 1000000L)
      id += 1
    }
    out.toList
  }

  /** Stage totals of every job owned by one of `opIds`. */
  def stageTotalsFor(opIds: Set[Int]): Seq[StageTotals] = synchronized {
    val owners = jobOwners(spans.toList)
    jobs.toSeq.filter { case (jobId, _) => owners.get(jobId).exists(p => opIds.contains(p.opId)) }
      .flatMap(_._2.stageIds).distinct.flatMap(stageTotals.get)
  }

  /** Streaming progress of batches that started inside one of `ops`. */
  def progressWithin(ops: Seq[Span]): Seq[Progress] = synchronized {
    progress.filter(p => ops.exists(o => o.start <= p.start && p.start <= o.end)).toList
  }
}

object Tracer {
  private final case class JobRec(opId: Int, start: Long, stageIds: Seq[Int])

  /** One streaming micro-batch, from its `StreamingQueryProgress`. */
  final case class Progress(start: Long, durationMs: Long, addBatchMs: Long, commitMs: Long,
                            stateRows: Long, stateMemBytes: Long)
}

object Trace {
  /** Layer of a span name: the module group its time is charged to. */
  def layerOf(name: String): String =
    if (name == "op") "driver"
    else if (name == "plans.plan") "plans"
    else if (name == "spark.job") "spark.job"
    else if (name == "spark.stage") "spark.stage"
    else if (name.startsWith("ops.")) "ops"
    else if (name == "streaming.batch") "streaming"
    else if (name.startsWith("format.")) "format"
    else "other"

  val Layers: Seq[String] = Seq("driver", "plans", "spark.job", "spark.stage", "ops", "streaming", "format")

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the part of `within` covered by the union of `iv`. */
  def coveredLength(iv: Seq[(Long, Long)], within: Seq[(Long, Long)]): Long =
    within.map { case (a, b) =>
      unionLength(iv.flatMap { case (s, e) =>
        val s2 = math.max(s, a); val e2 = math.min(e, b)
        if (e2 > s2) Some((s2, e2)) else None
      })
    }.sum

  /** Per layer: self time (span time not covered by its children) in
    * nanoseconds, and the share of operation wall time its spans cover.
    */
  def layerBreakdown(spans: Seq[Span]): Map[String, (Long, Double)] = {
    val children = spans.groupBy(_.parent)
    val ops = spans.filter(_.name == "op").map(s => (s.start, s.end))
    val opTotal = ops.map { case (a, b) => b - a }.sum.toDouble
    Layers.map { l =>
      val mine = spans.filter(_.layer == l)
      val self = mine.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        s.dur - coveredLength(kids, Seq((s.start, s.end)))
      }.sum
      // every op span covers its own operation: the driver's share is the
      // part of operation time no child span covers
      val covered = if (l == "driver") self else coveredLength(mine.map(s => (s.start, s.end)), ops)
      l -> (math.max(0L, self), if (opTotal > 0) covered / opTotal else 0.0)
    }.toMap
  }
}
