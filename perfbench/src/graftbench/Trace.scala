package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spark's local-property keys for a thread's job group and description. */
private object Props {
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"
}
import Props._

/** One traced call into a layer. Times are wall-clock milliseconds (with
  * sub-millisecond digits from the monotonic clock), the clock Spark's
  * listener events use, so spans and jobs share one time axis. */
final case class Span(id: Int, parent: Int, layer: String, name: String, epoch: Long,
                      startMs: Double, endMs: Double)

/** Span recorder. Spans are kept in memory and written with the result.
  * Entering a span sets the Spark job group of the calling thread to the
  * span's layer, so [[JobListener]] can attribute every job (and its
  * tasks) to the layer that caused it. Outside a traced iteration
  * (`recording = false`) `span` is a plain call. */
final class Tracer(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val ids = new AtomicInteger(0)
  private val buf = ArrayBuffer.empty[Span]
  // Inheritable: the streaming thread a query starts inside a span sees
  // that span as its parent.
  private val current = new InheritableThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  @volatile var recording = false
  @volatile var epoch = -1L

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  def add(s: Span): Unit = buf.synchronized { buf += s }

  def currentSpan: Int = current.get()

  def newId(): Int = ids.incrementAndGet()

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!recording) return body
    val sc = spark.sparkContext
    val id = newId()
    val parent = current.get().intValue()
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    val prevDesc = sc.getLocalProperty(JobDescKey)
    current.set(id)
    sc.setJobGroup(layer, name)
    val start = nowMs
    try body
    finally {
      add(Span(id, parent, layer, name, epoch, start, nowMs))
      current.set(parent)
      setGroup(sc, prevGroup, prevDesc)
    }
  }

  /** Point the calling thread's job group at `layer` without opening a
    * span (for work whose span is closed later from outside). */
  def label(layer: String, name: String): Unit =
    if (recording) spark.sparkContext.setJobGroup(layer, name)

  private def setGroup(sc: SparkContext, group: String, desc: String): Unit =
    if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, desc)

  /** Materialize a lazy layer output at its span boundary, so the work it
    * stands for runs (and is timed) inside that span. Returns the cached
    * frame; the caller owns the cache. */
  def materialize(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached
  }
}

/** Job and task records, attributed by the job group at submission. Only
  * jobs submitted under a job group are kept: a trace run labels every
  * timed region (see `Main.timed`), and set-up and oracle checks run
  * without a group. */
final class JobListener extends SparkListener {
  @volatile var listening = false
  // jobId -> (group, startMs, endMs)
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Any]]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  // jobId, stageId, durationMs, cpuNs, gcMs, shuffleWriteB, shuffleReadB, spillB, recordsRead
  val tasks = ArrayBuffer.empty[Array[Long]]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    if (!listening) return
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).orNull
    if (group == null) return
    jobs(e.jobId) = Array[Any](group, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_(2) = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val job = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (job.isEmpty || m == null) return
    tasks += Array(job.get.toLong, e.stageId.toLong, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and no event arrived for a short quiet period. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((events, jobs.values.exists(j => j(2).asInstanceOf[Double].isNaN)))
      if (n == last && !open) return
      last = n
      Thread.sleep(200)
    }
  }
}
