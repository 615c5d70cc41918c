package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Spans of one operation share `op`; a
  * root span has `parent == 0`. Times are epoch milliseconds (comparable
  * with Spark listener event times) plus a nanosecond duration. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startMs: Long, endMs: Long, durNs: Long)

/** Spark counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    outBytes += o.outBytes; outRecords += o.outRecords
    jobIntervals ++= o.jobIntervals
  }
}

/** The benchmark's outside-in recorder. Spans are taken around the
  * harness's calls into the program's public functions and kept in
  * memory. A span's id rides a Spark local property, which Spark copies
  * into threads the traced call starts (the sink's write pool, stream
  * execution threads) and into the properties of every job, so the
  * listener can attribute jobs, tasks and their counters to the span.
  * A job group is not used for this: the sink sets its own group on its
  * write threads, which would hide the span. Streaming progress is
  * attributed by time to the operation that was running.
  *
  * When `enabled` is false, `span` only runs its body. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val bySpan = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  private val progress = new ConcurrentLinkedQueue[(Long, Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toLong)
      span.foreach { s =>
        Recorder.this.synchronized {
          e.stageIds.foreach(stageSpan(_) = s)
          jobStart(e.jobId) = (s, e.time)
          counters(s).jobs += 1
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (s, t0) =>
          counters(s).jobIntervals += ((t0, e.time))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Recorder.this.synchronized {
        for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          val c = counters(s)
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      progress.add((at, ms("addBatch"), ms("triggerExecution")))
    }
  }

  private def counters(s: Long): Counters = bySpan.getOrElseUpdate(s, new Counters)

  /** Start recording: attach both listeners. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Stop recording: wait until every queued listener event has been
    * delivered, then detach. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Time `body` as a root span: a new operation. */
  def op[T](name: String)(body: => T): T = timed(name, root = true)(body)

  /** Time `body` as a child of the thread's innermost open span. */
  def span[T](name: String)(body: => T): T = timed(name, root = false)(body)

  private def timed[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val outer = stack.get
      val id = ids.incrementAndGet()
      val (op, parent) =
        if (root || outer.isEmpty) (id, 0L) else (outer.head._2, outer.head._1)
      val prevProp = sc.getLocalProperty(SpanProperty)
      stack.set((id, op) :: outer)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - n0
        spans.add(Span(id, op, parent, name, t0, System.currentTimeMillis(), dur))
        sc.setLocalProperty(SpanProperty, prevProp)
        stack.set(outer)
      }
    }

  /** Everything recorded: spans, counters per span (jobs of child
    * spans stay on the child), and streaming batches as
    * (epoch ms, addBatch ms, triggerExecution ms). */
  def result(): Trace = synchronized {
    Trace(spans.asScala.toVector.sortBy(_.id), bySpan.toMap,
      progress.asScala.toVector)
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"
}

final case class Trace(spans: Vector[Span], counters: Map[Long, Counters],
    batches: Vector[(Long, Long, Long)]) {

  private val children: Map[Long, Vector[Span]] = spans.groupBy(_.parent)

  def roots(name: String): Vector[Span] =
    spans.filter(s => s.parent == 0 && s.name == name)

  def inOp(op: Long): Vector[Span] = spans.filter(_.op == op)

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = children.getOrElse(s.id, Vector.empty)
    s.durNs - math.min(s.durNs, kids.map(_.durNs).sum)
  }

  /** Counters of every span of one operation, summed. */
  def opCounters(op: Long): Counters = {
    val c = new Counters
    inOp(op).foreach(s => counters.get(s.id).foreach(c.add))
    c
  }

  /** Wall time of `root` during which none of its operation's jobs ran. */
  def driverGapMs(root: Span): Long = {
    val iv = opCounters(root.op).jobIntervals
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (root.endMs - root.startMs) - covered
  }

  /** Streaming batches whose trigger started inside `root`. */
  def batchesIn(root: Span): Vector[(Long, Long, Long)] =
    batches.filter(b => b._1 >= root.startMs && b._1 <= root.endMs)
}
