package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.embed.Embedder
import graft.llm.{LMClient, LMRequest, LMResult}

/** One traced call: wall clock in epoch ms (to line up with Spark's job
  * events) and a nanosecond duration.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Long, endMs: Long, durNs: Long)

/** Records a span around each public call the benchmark makes into a
  * layer. Jobs submitted inside a span carry its id as the
  * [[Tracer.SpanProp]] local property, so the listener can attribute them.
  * When disabled, [[span]] just runs its body.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack.set(id :: stack.get)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        spans.synchronized(spans += Span(id, parent, layer, name, ms0, ms0 + dur / 1000000L, dur))
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Spans whose ancestry includes `root` (itself included). */
  def subtree(root: Long): Set[Long] = {
    val byParent = all.groupBy(_.parent)
    def go(id: Long): Set[Long] = Set(id) ++ byParent.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    s.durNs / 1e6 - Intervals.covered(kids, s.startMs, s.endMs)
  }
}

object Tracer { val SpanProp = "perfbench.span" }

object Intervals {
  /** Milliseconds of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

final case class JobRec(id: Int, span: Long, startMs: Long, var endMs: Long)

final case class TaskRec(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, inputBytes: Long,
    recordsRead: Long, bytesWritten: Long, failed: Boolean)

/** Spark's own listener events, kept in memory for the traced phase. */
final class SparkProbe extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val rec =
      if (m == null) TaskRec(e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, failed)
    tasks.synchronized(tasks += rec)
  }

  def allJobs: Vector[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toVector.sortBy(_.id)
  }
  def allTasks: Vector[TaskRec] = tasks.synchronized(tasks.toVector)
  def jobOfStage(stage: Int): Int = Option(stageJob.get(stage)).map(_.intValue).getOrElse(-1)

  /** Block until every job the scheduler knows about has its end event
    * here: drain the listener bus, then wait out any straggling job.
    */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    def pending = sc.statusTracker.getActiveJobIds().nonEmpty || allJobs.exists(_.endMs < 0)
    org.apache.spark.perfbench.BusDrain.drain(sc)
    while (pending && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      org.apache.spark.perfbench.BusDrain.drain(sc)
    }
    require(!pending, "listener events did not drain within 30 s")
  }
}

/** Executor-side LLM call counters (local mode: one JVM). */
object LmProbe {
  val calls = new AtomicLong()
  val requests = new AtomicLong()
  val nanos = new AtomicLong()
  val errors = new AtomicLong()
  def snapshot(): Seq[Long] = Seq(calls.get, requests.get, nanos.get, errors.get)
}

/** LMClient that times every `complete` call into the wrapped client. */
final case class TimedLM(inner: LMClient) extends LMClient {
  override def maxBatchSize: Int = inner.maxBatchSize
  override def maxCtxLen: Int = inner.maxCtxLen
  override def maxTokens: Int = inner.maxTokens
  override def countTokens(s: String): Int = inner.countTokens(s)
  override def modelName: String = inner.modelName
  override def complete(batch: Seq[LMRequest]): Seq[LMResult] = {
    val t0 = System.nanoTime()
    try inner.complete(batch)
    catch { case e: Throwable => LmProbe.errors.incrementAndGet(); throw e }
    finally {
      LmProbe.calls.incrementAndGet()
      LmProbe.requests.addAndGet(batch.length.toLong)
      LmProbe.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

object EmbedProbe {
  val texts = new AtomicLong()
  val nanos = new AtomicLong()
}

/** Embedder that counts and times every `embed` call into the wrapped one. */
final case class TimedEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.embed(texts)
    finally {
      EmbedProbe.texts.addAndGet(texts.length.toLong)
      EmbedProbe.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
}
