package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed operation. `iv` is in epoch ms; `wall` in seconds; `cpu` is
  * the process's CPU seconds less those of the JIT compiler threads. */
final case class OpRec(id: Int, name: String, pass: Int, traced: Boolean,
    iv: Iv, wall: Double, cpu: Double, ok: Boolean)

/** One wrapped call into a layer, inside operation `op`. */
final case class Span(op: Int, layer: String, name: String, iv: Iv)

/** Closed-loop benchmark harness: one client thread issues the
  * workload's operations back to back against a `local[nproc]` session.
  *
  * Run: `Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <out.json>`.
  * The run builds the session, sets the workload up, makes one untimed
  * pass (JIT warm-up, reference results), then runs whole passes until
  * `seconds` have been measured, and writes every metric, each
  * operation's verdict and the verification outputs under `workDir`.
  * With tracing on, passes alternate between untraced and traced; the
  * traced ones register the [[Tracer]] and split each operation's wall
  * time into layers. */
object Harness {

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads, which the JVM hides from
    * ThreadMXBean: from /proc/self/task, in clock ticks of 10 ms. */
  def jitCpuS: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case NonFatal(_) => 0L }
    }.sum / 100.0
  }
  private val heap = ManagementFactory.getMemoryMXBean

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val cores: Int) {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val spans = mutable.ArrayBuffer.empty[Span]
    /** workload checks made outside the timed region: (name, value) */
    val checks = mutable.ArrayBuffer.empty[(String, String)]
    /** per-layer counters and gauges the workloads record in traced passes */
    val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** most heap in use at the end of any timed operation */
    var heapPeak = 0L
    var pass = 0
    var traced = false
    private var nextOp = 0
    private var curOp = -1

    def op(name: String)(body: => Boolean): Unit = {
      val id = nextOp
      nextOp += 1
      curOp = id
      sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      val j0 = jitCpuS
      val c0 = cpuS
      val t0 = nowMs
      val n0 = System.nanoTime()
      val ok = try body catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val c1 = cpuS
      val j1 = jitCpuS
      sc.clearJobGroup()
      curOp = -1
      ops += OpRec(id, name, pass, traced, Iv(t0, t0 + wall * 1000), wall,
        c1 - c0 - (j1 - j0), ok)
      if (pass > 0) heapPeak = heapPeak max heap.getHeapMemoryUsage.getUsed
      if (traced) PerfbenchAccess.drainListenerBus(sc)
    }

    /** Untimed check of the last operation's effect; a false or a throw
      * marks that operation wrong. */
    def verify(what: String)(ok: => Boolean): Unit = {
      val good = try ok catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check $what failed: $e")
          false
      }
      if (!good) {
        System.err.println(s"[perfbench] wrong result: $what")
        ops(ops.size - 1) = ops.last.copy(ok = false)
      }
    }

    def span[T](layer: String, name: String = "")(body: => T): T =
      if (!traced) body
      else {
        val t0 = nowMs
        try body finally spans += Span(curOp, layer, name, Iv(t0, nowMs))
      }

    def count(name: String, v: Double): Unit = if (traced) counters(name) += v
    def gauge(name: String, v: Double): Unit =
      if (traced) gauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  trait Workload {
    /** Passes a window runs at least. Set so that the window, not
      * `seconds`, fixes the pass count: runs then compare medians over the
      * same passes however fast the machine is. */
    def minPasses: Int
    def setup(ctx: Ctx): Unit
    def pass(ctx: Ctx): Unit
    /** untimed, after the window: outputs the Python side checks */
    def dump(ctx: Ctx, dir: String): Unit
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest of the fixed percentiles with at least 10 samples above it. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    Seq(99, 95, 90, 75, 50, 25).map { p =>
      val k = math.ceil(p / 100.0 * n).toInt max 1
      (p, k, n - k)
    }.find(_._3 >= 10) match {
      case Some((p, k, _)) => (p, s(k - 1))
      case None => (0, if (s.isEmpty) 0.0 else s.head)
    }
  }

  private def readProc(file: String): Map[String, String] =
    try Files.readAllLines(Paths.get(file)).asScala.flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0) Some(l.take(i).trim -> l.drop(i + 1).trim) else None
    }.toMap
    catch { case NonFatal(_) => Map.empty }

  private def kb(m: Map[String, String], k: String): Double =
    m.get(k).map(_.split("\\s+")(0).toDouble).getOrElse(0.0)

  /** nproc, effective local dir, loadavg, steal and dirty/writeback pages:
    * noise diagnostics only, never gated. */
  def envRecord(ctx: Ctx): Map[String, Any] = {
    val mem = readProc("/proc/meminfo")
    val stat = try Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong).toSeq)
      .getOrElse(Seq.empty)
      catch { case NonFatal(_) => Seq.empty[Long] }
    Map(
      "nproc" -> ctx.cores,
      "local_dir" -> PerfbenchAccess.effectiveLocalDirs(ctx.sc),
      "loadavg" -> osBean.getSystemLoadAverage,
      "steal_ticks" -> stat.lift(7).getOrElse(0L),
      "total_ticks" -> stat.sum,
      "dirty_kb" -> kb(mem, "Dirty"),
      "writeback_kb" -> kb(mem, "Writeback"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    graft.sources.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, data, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = workloadName match {
      case "etl_build" => new EtlBuild
      case "store_churn" => new StoreChurn
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, work)
    val sessionS = (nowMs - jvmStartMs) / 1000
    val ctx = new Ctx(spark, data, work, cores)
    val env0 = envRecord(ctx)

    val f0 = System.nanoTime()
    workload.setup(ctx)
    val fixtureS = (System.nanoTime() - f0) / 1e9
    val p0 = System.nanoTime()
    workload.pass(ctx)
    val firstPassS = (System.nanoTime() - p0) / 1e9
    val setupOps = ctx.ops.size
    val setupFailed = ctx.ops.count(!_.ok)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcS = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1000.0
    val gc0 = gcS
    val jit0 = jitCpuS

    val tracer = new Tracer
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val w0 = System.nanoTime()
    def measured = (System.nanoTime() - w0) / 1e9
    var i = 0
    while (measured < seconds || passes.size < workload.minPasses) {
      ctx.pass = passes.size + 1
      ctx.traced = trace && i % 2 == 1
      if (ctx.traced) {
        spark.sparkContext.addSparkListener(tracer)
        listeners.register(tracer)
      }
      workload.pass(ctx)
      if (ctx.traced) {
        PerfbenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        listeners.unregister(tracer)
      }
      passes += ctx.pass -> ctx.traced
      i += 1
    }
    val windowS = measured
    val gcWindow = gcS - gc0
    val jitWindow = jitCpuS - jit0
    val heapPeakMb = ctx.heapPeak / 1048576.0
    ctx.traced = false
    // what the workload keeps on the heap: used heap after a full
    // collection, taken twice so that the state Spark's cleaner drops once
    // the first one has cleared its weak references is gone too
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapLiveMb = heap.getHeapMemoryUsage.getUsed / 1048576.0

    val verifyDir = s"$work/verify"
    workload.dump(ctx, verifyDir)
    val status = readProc("/proc/self/status")
    val env1 = envRecord(ctx)

    val timed = ctx.ops.drop(setupOps)
    val byPass = timed.groupBy(_.pass)
    def passWall(traced: Boolean) = passes.filter(_._2 == traced)
      .map(p => byPass(p._1).map(_.wall).sum).toSeq
    val untracedPass = passWall(traced = false)
    val (tailP, tailV) = tail(timed.filterNot(_.traced).map(_.wall).toSeq)
    val nPasses = passes.size.toDouble

    val endToEnd = Map(
      "pass_s" -> median(untracedPass),
      "cpu_s" -> median(passes.filterNot(_._2).map(p => byPass(p._1).map(_.cpu).sum).toSeq),
      "setup_s" -> (sessionS + fixtureS + firstPassS),
      "peak_rss_mb" -> kb(status, "VmHWM") / 1024.0,
      "heap_live_mb" -> heapLiveMb)

    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else Layers.attribute(ctx, tracer, timed.filter(_.traced).toSeq,
        passes.count(_._2)) ++ Map(
        "jvm.gc_s" -> gcWindow / nPasses,
        "jvm.jit_s" -> jitWindow / nPasses,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "setup.session_s" -> sessionS,
        "setup.fixture_s" -> fixtureS,
        "setup.first_pass_s" -> firstPassS,
        "trace.overhead_s" -> (median(passWall(traced = true)) - median(untracedPass)))

    val result = Map(
      "workload" -> workloadName,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "op_tail" -> Map("percentile" -> tailP, "value_s" -> tailV,
        "n" -> timed.count(!_.traced)),
      "passes" -> passes.size,
      "window_s" -> windowS,
      "setup_ops" -> setupOps,
      "setup_failed" -> setupFailed,
      "ops" -> timed.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "wall_s" -> o.wall, "ok" -> o.ok)),
      "checks" -> ctx.checks.map { case (k, v) => Seq(k, v) },
      "env_start" -> env0,
      "env_end" -> env1)
    Files.write(Paths.get(out),
      Serialization.write(result)(DefaultFormats).getBytes(UTF_8))
    spark.stop()
  }
}
