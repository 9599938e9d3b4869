package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span (or to a whole traced run). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    taskMs += m.executorRunTime
    gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    spillBytes += m.diskBytesSpilled
  }
}

/** One timed call at a layer boundary. Times are ns since the tracer's
  * origin; `parent` is 0 for a root span; `op` groups the spans of one
  * benchmark operation (a pipeline run, a micro-batch, a query).
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded around the benchmark's calls into the engine, plus a
  * Spark listener that attributes task metrics to the span that submitted
  * the job. Attribution goes through a local property rather than the job
  * group, so a streaming query's own job group (used to cancel it on stop)
  * is left alone. When `enabled` is false, [[span]] only runs its body, so
  * no job carries a span and the listener counts nothing: that is the
  * untraced mode.
  */
final class Tracer {
  @volatile var enabled = false
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val work = new ConcurrentHashMap[Long, Work]()
  /** Everything the listener attributed to some span. */
  val total = new Work
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val markersSeen = new AtomicLong(0)

  val Prop = "graftbench.span"

  def now: Long = System.nanoTime() - origin

  /** An epoch-millisecond timestamp (Spark's progress reports) on the span clock. */
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L

  def newId(): Long = nextId.getAndIncrement()

  /** Time `body` as a span; a nested span without its own `op` takes its
    * parent's.
    */
  def span[T](name: String, op: Long = -1)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val parent = stack.get.headOption
      val open = Span(newId(), name, parent.map(_.id).getOrElse(0L),
        if (op >= 0) op else parent.map(_.op).getOrElse(0L), now, 0L)
      val prevProp = sc.map(_.getLocalProperty(Prop)).orNull
      stack.set(open :: stack.get)
      sc.foreach(_.setLocalProperty(Prop, open.id.toString))
      try body
      finally {
        val end = now
        sc.foreach(_.setLocalProperty(Prop, prevProp))
        stack.set(stack.get.tail)
        spans.synchronized { spans += open.copy(endNs = end) }
      }
    }

  /** Record a span measured elsewhere (streaming phases, planning phases).
    * Returns its id so children can hang off it.
    */
  def record(name: String, parent: Long, op: Long, startNs: Long, endNs: Long,
             id: Long = newId()): Long = {
    spans.synchronized { spans += Span(id, name, parent, op, startNs, endNs) }
    id
  }

  /** Id of the innermost open span on this thread (0 outside any). */
  def current: Long = stack.get.headOption.map(_.id).getOrElse(0L)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  /** Span duration minus the union of its children's intervals. */
  def selfNs(s: Span, children: Map[Long, Seq[Span]]): Long = {
    val ivs = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curEnd = Long.MinValue
    var curStart = 0L
    ivs.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd != Long.MinValue) covered += curEnd - curStart
    s.durNs - covered
  }

  def children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Bytes of RDD blocks stored (cache, checkpoint), at each block's largest. */
  def materializedBytes: Long = blockBytes.values.asScala.map(_.longValue).sum

  /** Write every span as one JSON object per line. */
  def writeJsonl(path: String): Unit = {
    val kids = children
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      val w = Option(work.get(s.id)).getOrElse(new Work)
      sb ++= f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        f""""dur_ms":${s.durNs / 1e6}%.3f,"self_ms":${selfNs(s, kids) / 1e6}%.3f,""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"task_ms":${w.taskMs},""" +
        s""""gc_ms":${w.gcMs},"input_bytes":${w.inputBytes},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""shuffle_write_records":${w.shuffleWriteRecords},""" +
        s""""spill_bytes":${w.spillBytes}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Block until the listener has seen every event posted so far: run a
    * marker job and wait for its end event (the bus delivers in order).
    */
  def drain(sc: SparkContext): Unit = {
    val before = markersSeen.get
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, "-1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Prop, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (markersSeen.get == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  val listener: SparkListener = new SparkListener {
    private def spanOf(props: java.util.Properties): Long =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      if (id == -1L) markerJobs.add(e.jobId)
      else if (id > 0) {
        e.stageIds.foreach(s => stageSpan.put(s, id))
        val w = workOf(id)
        w.synchronized(w.jobs += 1)
        total.synchronized(total.jobs += 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) markersSeen.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val w = workOf(id)
        w.synchronized(w.stages += 1)
        total.synchronized(total.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) Option(stageSpan.get(e.stageId)).foreach { id =>
        val w = workOf(id)
        w.synchronized(w.add(e.taskMetrics))
        total.synchronized(total.add(e.taskMetrics))
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blockBytes.merge(b.blockId.name, b.memSize + b.diskSize,
          (x, y) => math.max(x.longValue, y.longValue))
    }
  }
}
