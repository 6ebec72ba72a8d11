package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the id of the root span (the client
  * request) it belongs to; a root span has `parent == -1` and `op == id`.
  */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String,
    val startNs: Long) {
  var endNs: Long = 0L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out at the end of the run. When tracing
  * is off every entry point is a plain call: no span, no job property, no
  * listener.
  *
  * Spark jobs are attributed to the span that was active on the submitting
  * thread: each span sets the `perfbench.span` local property, which the
  * [[JobLog]] listener reads off the job-start event.
  */
object Trace {
  val SpanProperty = "perfbench.span"
  @volatile var on: Boolean = false
  private var sc: SparkContext = _
  private var nextId = 0L
  private var stack: List[Span] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val opClass: mutable.Map[Long, String] = mutable.Map.empty
  val jobs = new JobLog

  def enable(context: SparkContext): Unit = {
    on = true; sc = context
    sc.addSparkListener(jobs)
  }

  def current: Option[Span] = stack.headOption

  private def open(name: String): Span = {
    nextId += 1
    val parent = stack.headOption
    val s = new Span(nextId, parent.map(_.id).getOrElse(-1L),
      parent.map(_.op).getOrElse(nextId), name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
  }

  /** Root span of one client request of class `cls`. */
  def op[T](cls: String)(body: => T): T =
    if (!on) body
    else {
      val s = open("op")
      opClass(s.id) = cls
      val io0 = IoStats.sample(); val gc0 = JvmStats.gcMs()
      try body
      finally {
        val io1 = IoStats.sample()
        io1.zip(io0).zip(IoStats.Names).foreach { case ((a, b), n) => s.attrs(n) = (a - b).toDouble }
        s.attrs("jvm.gc_ms") = (JvmStats.gcMs() - gc0).toDouble
        JvmStats.notePeak()
        close(s)
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** Record a counter on the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.attrs(name) = s.attrs.getOrElse(name, 0.0) + v)

  /** Record a child of the innermost span that ended just now and took
    * `nanos` (a duration the engine reports about a call already wrapped).
    */
  def child(name: String, nanos: Long, attrs: Map[String, Double]): Unit =
    if (on) stack.headOption.foreach { p =>
      val now = System.nanoTime()
      nextId += 1
      val s = new Span(nextId, p.id, p.op, name, now - nanos)
      s.endNs = now
      s.attrs ++= attrs
      spans += s
    }
}

/** Job, stage and task events keyed by the span that submitted the job. */
final class JobLog extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var inputBytes = 0L; var recordsRead = 0L
    var shuffleWrite = 0L; var peakMem = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, Agg]()

  private def agg(span: Long): Agg = bySpan.computeIfAbsent(span, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    span.foreach { s =>
      val id = s.toLong
      jobSpan.put(e.jobId, id); jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, id))
      agg(id).synchronized { agg(id).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { id =>
      val a = agg(id)
      a.synchronized { a.intervals += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val a = agg(id); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(id)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
}

/** Hadoop `FileSystem` byte statistics of the `file` scheme (the driver and
  * the local-mode executors share them). The local filesystem counts no read
  * or write ops, and metadata JSON commits go through java.nio, so only
  * bytes through Hadoop streams are seen.
  */
object IoStats {
  val Names = Seq("io.bytes_read", "io.bytes_written")
  private def stat(key: String): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)
  def sample(): Seq[Long] = Seq(stat("bytesRead"), bytesWritten())
  def bytesWritten(): Long = stat("bytesWritten")
}

object JvmStats {
  private var peakAfterGc = 0L
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  /** Largest heap occupancy seen right after a collection. */
  def notePeak(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakAfterGc = math.max(peakAfterGc, used)
  }
  def peakAfterGcMb: Double = peakAfterGc / 1048576.0
}
