package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory span recorder plus a SparkListener that bills every job, task,
  * GC pause, shuffle byte and spill byte to the span that was active on the
  * submitting thread.
  *
  * Spans are recorded only in traced units; the benchmark code opens them
  * around calls into the engine's public functions, so nothing inside the
  * engine is instrumented. The active span travels to Spark as the local
  * property [[Prop]]. Jobs that carry no span, or a span that had already
  * closed when the job started (a pool thread that inherited a stale
  * property), are kept apart; those that start inside a traced unit are
  * reported as unattributed work instead of dropped.
  */
object Trace {
  val Prop = "perfbench.span"
  /** Property value of jobs run by [[untraced]]: never billed. */
  private val Ignore = -2
  val Unattributed = -1

  final case class Span(id: Int, name: String, parent: Int, runId: String,
      startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final class Cost {
    var jobs = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  @volatile var runId = ""
  private val spans = mutable.ArrayBuffer[Span]()
  private val costs = mutable.HashMap[Int, Cost]()
  private val active = new ThreadLocal[Span]

  /** Jobs with no live span, by job id, with their start time. */
  private val loose = mutable.HashMap[Int, (Long, Cost)]()

  private def cost(id: Int): Cost = costs.synchronized(costs.getOrElseUpdate(id, new Cost))

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Summed cost of span-less jobs that started inside one of `roots`: work
    * a traced unit caused on threads that did not carry its span. */
  def unattributedIn(roots: Seq[Span]): Cost = {
    val out = new Cost
    loose.synchronized(loose.values.toList).foreach { case (t, c) =>
      if (roots.exists(r => t >= r.startMs && t <= r.endMs)) c.synchronized {
        out.jobs += c.jobs; out.taskMs += c.taskMs; out.gcMs += c.gcMs
        out.shuffleBytes += c.shuffleBytes; out.spillBytes += c.spillBytes
      }
    }
    out
  }

  /** Runs `body` inside a span named `name`, child of the thread's active
    * span. */
  def span[A](sc: SparkContext, name: String)(body: => A): A = {
    val parent = Option(active.get)
    val s = spans.synchronized {
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    active.set(s)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      active.set(parent.orNull)
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Runs `body` with its jobs excluded from all billing (checks and
    * helper passes inside traced code). */
  def untraced[A](sc: SparkContext)(body: => A): A = {
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, Ignore.toString)
    try body finally sc.setLocalProperty(Prop, prev)
  }

  final class Listener extends SparkListener {
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(_.toIntOption)
      val id = tagged match {
        case Some(Ignore) => Ignore
        case Some(sid) =>
          val open = spans.synchronized(spans.lift(sid)).exists(s =>
            s.endMs == 0L || s.endMs >= e.time)
          if (open) sid else Unattributed
        case None => Unattributed
      }
      jobSpan.put(e.jobId, id)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
      if (id == Unattributed) loose.synchronized(loose(e.jobId) = (e.time, new Cost))
      val c = costFor(e.jobId, id)
      if (c != null) c.synchronized(c.jobs += 1)
    }

    private def costFor(job: Int, id: Int): Cost =
      if (id == Ignore) null
      else if (id == Unattributed) loose.synchronized(loose.get(job).map(_._2).orNull)
      else cost(id)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = costFor(e.jobId, jobSpan.getOrDefault(e.jobId, Unattributed))
      if (c != null) c.synchronized(c.jobIntervals += ((jobStartMs.getOrDefault(e.jobId, e.time), e.time)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val c = costFor(job, jobSpan.getOrDefault(job, Unattributed))
      val m = e.taskMetrics
      if (c != null && m != null) {
        c.synchronized {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Length of the union of `[start, end]` intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span ids of `root` and all its descendants. */
  def subtree(root: Int): Set[Int] = {
    val all = allSpans
    var ids = Set(root)
    var grew = true
    while (grew) {
      val next = ids ++ all.filter(s => ids(s.parent)).map(_.id)
      grew = next.size > ids.size
      ids = next
    }
    ids
  }

  /** Summed cost of a span and its descendants. */
  def costTree(root: Int): Cost = {
    val out = new Cost
    subtree(root).foreach { id =>
      val c = cost(id)
      c.synchronized {
        out.jobs += c.jobs; out.taskMs += c.taskMs; out.gcMs += c.gcMs
        out.shuffleBytes += c.shuffleBytes; out.spillBytes += c.spillBytes
        out.jobIntervals ++= c.jobIntervals
      }
    }
    out
  }

  /** Wall time of a span not covered by any of its jobs: driver-side work
    * and inter-job gaps. */
  def driverGapS(s: Span): Double = {
    val busy = costTree(s.id).jobIntervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs))
    }.filter { case (a, b) => b > a }
    math.max(0.0, (s.endMs - s.startMs - unionMs(busy.toSeq)) / 1000.0)
  }

  /** Spans plus per-name totals and self times, written at exit. */
  def toJson: Map[String, Any] = {
    val all = allSpans
    val childWall = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    val byName = all.groupBy(_.name).map { case (n, ss) =>
      n -> Map(
        "count" -> ss.size,
        "total_s" -> ss.map(_.wallS).sum,
        "self_s" -> ss.map(s => s.wallS - childWall.getOrElse(s.id, 0.0)).sum)
    }
    Map(
      "spans" -> all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "by_name" -> byName)
  }
}
