package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run (one JVM, one workload). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val trace: Boolean,
                val work: String) {
  val tracer = new Tracer(spark)
  val listener = new JobListener
  private var dirs = 0
  def freshDir(tag: String): String = { dirs += 1; s"$work/$tag-$dirs" }
  def now: Double = tracer.nowMs
  /** The untimed set-up is repeated this often; `setup_s` is the median of
    * all runs (the first also pays class loading and JIT, so the
    * median is a warm one). */
  val setups = 3

  /** Wall time of each phase of the run (set-up, oracle, warm-up, timed
    * loop, probe), s: where a run's time goes, for the report. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase[T](name: String)(body: => T): T = {
    val t0 = now
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (now - t0) / 1000
  }

  /** Run an untraced iteration's ingest of a trace run under a job group
    * of its own, listed in `it` under `ingest_groups`, so the listener can
    * count the records the fused path reads. Otherwise a plain call. */
  def ingest[T](it: Iter, traced: Boolean)(body: => T): T = {
    if (!trace || traced) return body
    val group = s"ingest-${tracer.newId()}"
    it.push("ingest_groups", group)
    spark.sparkContext.setJobGroup(group, "untraced ingest")
    try body
    finally spark.sparkContext.setJobGroup("untraced", "timed")
  }
}

/** One timed iteration's raw measurements, written as a JSON object. */
final class Iter(traced: Boolean) {
  val m = mutable.LinkedHashMap[String, Any]("traced" -> traced)
  def update(k: String, v: Any): Unit = m(k) = v
  def push(k: String, v: Any): Unit = m(k) = m.get(k).map(_.asInstanceOf[List[Any]]).getOrElse(Nil) :+ v
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE`. Runs set-up, a warm-up and the timed loop of
  * one workload, checks the result against the oracle and writes raw
  * samples, spans and Spark job/task records to FILE. All derived
  * metrics are computed from that file by `perfbench/metrics.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = o("work")
    new File(work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, o("seed").toLong, o("seconds").toDouble, o("trace") == "1", work)
    ctx.phases("start") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    spark.sparkContext.addSparkListener(ctx.listener)
    ctx.listener.listening = ctx.trace
    val res: mutable.Map[String, Any] = o("workload") match {
      case "smt_ingest" => SmtIngest.run(ctx)
      case "live_tail" => LiveTail.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.phase("drain")(ctx.listener.drain())
    res("phases_s") = ctx.phases
    res("workload") = o("workload")
    res("seed") = ctx.seed
    res("trace") = ctx.trace
    res("cores") = cores
    res("heap_mb") = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    res("java") = System.getProperty("java.version")
    res("spark") = spark.version
    res("spans") = ctx.tracer.spans.map(s => Seq(s.id, s.parent, s.layer, s.name, s.epoch, s.startMs, s.endMs))
    ctx.listener.synchronized {
      res("jobs") = ctx.listener.jobs.toSeq.map { case (id, j) => Seq(id, j(0), j(1), j(2)) }
      res("tasks") = ctx.listener.tasks.toList.map(_.toSeq)
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(o("out")), res)
    spark.stop()
    // Threads the engine leaves running (non-daemon pools) would keep the
    // JVM alive for seconds after main returns.
    System.exit(0)
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Run `setup` `ctx.setups` times into fresh directories, timing each;
    * keep the last one's inputs and delete the others. */
  def setUp[T](ctx: Ctx, res: mutable.Map[String, Any])(setup: String => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var kept: Option[(String, T)] = None
    (1 to ctx.setups).foreach { _ => ctx.phase("setup") {
      kept.foreach { case (d, _) => Files.delete(new File(d)) }
      val dir = ctx.freshDir("setup")
      val t0 = ctx.now
      val v = setup(dir)
      times += (ctx.now - t0) / 1000
      kept = Some(dir -> v)
    }}
    res("setup_s") = times.toList
    res("setup_runs") = ctx.setups
    kept.get._2
  }

  /** The timed loop: `warmups` untimed warm-up iterations, then iterations
    * while the next one (predicted to last as long as the previous one)
    * ends within the run's time; at least two. The first warm-up pays
    * class loading and code generation for the workload's plans, and
    * iteration times keep falling while the JIT compiles the hot paths; a
    * workload with long iterations needs fewer. A count, not a time: a
    * time-bound warm-up would leave a run on a slower host less warm,
    * compounding the slowdown. In a traced run iterations alternate
    * untraced and traced, so the trace overhead is measured against
    * interleaved untraced iterations under the same conditions. */
  def loop(ctx: Ctx, res: mutable.Map[String, Any], warmups: Int)(iteration: Boolean => Iter): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    res("warmup_iterations") = ctx.phase("warmup")(List.fill(warmups)(iteration(false).m))
    res("warmup") = warmups
    val its = mutable.ArrayBuffer.empty[Iter]
    val t0 = ctx.now
    var n = 0
    var last = 0.0
    ctx.phase("loop") {
      while (n < 2 || (ctx.now - t0 + last) / 1000 <= ctx.seconds) {
        val start = ctx.now
        its += iteration(ctx.trace && n % 2 == 1)
        last = ctx.now - start
        n += 1
      }
    }
    res("iterations") = its.toList.map(_.m)
    memory(res)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private val MiB = 1024.0 * 1024.0

  /** Memory of the iterations: the heap pools' peak use since the loop
    * began, the committed heap and the JVM's peak resident set (VmHWM).
    * The heap is pre-touched, so VmHWM always holds the whole committed
    * heap; what is resident beyond it is off-heap (metaspace, code,
    * threads, direct buffers). */
  private def memory(res: mutable.Map[String, Any]): Unit = {
    res("heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / MiB
    res("heap_committed_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MiB
    res("vm_hwm_mb") = vmHwmMb()
  }

  /** The timed region of an iteration. Spans are taken only here (when
    * `traced`). In a trace run the region's jobs are submitted under the
    * group `traced` or `untraced` (spans and [[Ctx.ingest]] refine it), so
    * the listener keeps them apart from set-up and oracle jobs. */
  def timed[T](ctx: Ctx, traced: Boolean)(body: => T): T = {
    val sc = ctx.spark.sparkContext
    if (ctx.trace) sc.setJobGroup(if (traced) "traced" else "untraced", "timed")
    ctx.tracer.recording = traced
    try body
    finally { ctx.tracer.recording = false; if (ctx.trace) sc.clearJobGroup() }
  }
}
