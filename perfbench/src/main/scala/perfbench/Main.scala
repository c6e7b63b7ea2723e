package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(mode: String, workload: String, seed: Long,
    seconds: Int, trace: Boolean, out: Path, work: Path, fixture: Path,
    expected: Path, latency: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def p(k: String): Path = Paths.get(m(k)).toAbsolutePath
    Args(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", p("out"), p("work"), p("fixture"),
      p("expected"), p("latency"))
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run reports. `e2e` holds the contract's end-to-end
  * metrics, `named` the workload's own names for the same figures,
  * `layers` the traced run's per-layer metrics. */
final case class Outcome(e2e: Map[String, Metric], named: Map[String, Metric],
    layers: Map[String, Metric], sizes: Map[String, String])

/** Operation bookkeeping shared by the workloads: every query, cycle or
  * trigger is attempted once, and a thrown error or a failed output
  * check marks it failed. */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(op: String, why: String): Unit = {
    failed += 1
    failures += s"$op: $why"
    System.err.println(s"[perfbench] FAILED $op: $why")
  }
  /** Run one operation; a throw counts as a failure and yields None. */
  def attempt[A](op: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(op, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }
}

/** Context handed to a workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args,
    val ops: Ops) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  /** How many operations make about `--seconds` of measured work, given a
    * workload's nominal operation time. The count follows from the
    * arguments alone: a loop that stops on the clock measures one
    * operation more on some runs than on others, and a median over 3 or 4
    * warming operations then jumps between runs. */
  def opsFor(nominalS: Double, min: Int): Int =
    math.max(min, math.round(args.seconds / nominalS).toInt)
}

trait Workload {
  /** Set-up: inputs and servers the workload needs; returns its seconds. */
  def setup(ctx: Ctx): Double
  /** Untimed warm-up after set-up; returns its seconds. */
  def warmup(ctx: Ctx): Double
  def measure(ctx: Ctx): Outcome
  def close(): Unit
}

object Main {
  private val started = System.nanoTime()

  /** Progress line on stderr, for reading a run's log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code =
      try a.mode match {
        case "run" => run(a)
        case "record" => Registry.record(a)
        case "selftest" => SelfTest.run(a)
        case other => sys.error(s"unknown mode $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(a: Args, extra: Map[String, String] = Map.empty): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workloadFor(name: String): Workload = name match {
    case "registry" => new Registry
    case "s3_ingest" => new Product(Product.S3)
    case "fs_rescan" => new Product(Product.Fs)
    case "scan_stream" => new ScanStream
    case other => sys.error(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def gcNs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum * 1000000L
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val cal0 = System.nanoTime()
    val machineStart = Machine.context()
    val calS = (System.nanoTime() - cal0) / 1e9
    val w = workloadFor(a.workload)
    val extra =
      if (a.workload == "scan_stream") ScanStream.sessionConf else Map.empty[String, String]
    val spark = session(a, extra)
    // JVM and session start, without the calibration loop
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - calS
    val tracer = new Tracer(spark, a.trace)
    val ops = new Ops
    val ctx = new Ctx(spark, tracer, a, ops)
    try {
      note("set-up")
      val setup = w.setup(ctx)
      note("warm-up")
      val warm = w.warmup(ctx)
      note("measure")
      val setupS = sessionS + setup + warm
      val gc0 = gcNs()
      val out = w.measure(ctx)
      val gcS = (gcNs() - gc0) / 1e9
      tracer.stop()
      val e2e = out.e2e ++ Map(
        "setup_s" -> Metric(setupS, "s"),
        "peak_rss_mb" -> Metric(peakRssMb(), "MB"))
      val layers = if (a.trace) out.layers + ("jvm.gc_s" ->
        Metric(gcS / math.max(1, ops.attempted), "s")) else Map.empty[String, Metric]
      val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      if (a.trace) tracer.writeSpans(a.out.resolveSibling(runId + ".spans.jsonl"), runId)
      val machineEnd = Machine.loadAvg()
      def mjson(m: Map[String, Metric]): String = Json.obj(m.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.obj(Seq("value" -> Json.num(v.value), "unit" -> Json.str(v.unit)))
      })
      val record = Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
        "machine" -> Json.obj(machineStart.toSeq :+ ("load1_end" -> Json.num(machineEnd))),
        "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
          "setup_s" -> Json.num(setup),
          "warmup_s" -> Json.num(warm))),
        "sizes" -> Json.obj(out.sizes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
        "attempted" -> ops.attempted.toString, "failed" -> ops.failed.toString,
        "failures" -> ops.failures.map(Json.str).mkString("[", ",", "]"),
        "metrics" -> mjson(e2e), "named" -> mjson(out.named),
        "layers" -> mjson(layers)))
      Files.createDirectories(a.out.getParent)
      Files.writeString(a.out, record + "\n")
      0
    } finally {
      try w.close() finally spark.stop()
    }
  }
}

/** Machine context recorded beside every run's metrics, so noise on a
  * shared machine stays attributable: processor count, load average and
  * the fixed integer-mixing calibration loop `graft.Bench` uses, timed on
  * one thread and on every processor (a quarter of its iterations). */
object Machine {
  val CalIters = 100000000L

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ")(0).toDouble
    catch { case _: Exception => Double.NaN }

  private def calWork(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29; i += 1
    }
    x
  }

  def context(): Map[String, String] = {
    val load = loadAvg()
    calWork(20000000L)
    val t1 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong(calWork(CalIters))
    val oneMs = (System.nanoTime() - t1) / 1e6
    val n = Runtime.getRuntime.availableProcessors
    val tn = System.nanoTime()
    val threads = (1 to n).map(_ => new Thread(() => { sink.addAndGet(calWork(CalIters)); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val allMs = (System.nanoTime() - tn) / 1e6
    if (sink.get == 42L) System.err.println("calibration sink")
    Map("nproc" -> n.toString, "load1_start" -> Json.num(load),
      "cal_iters" -> CalIters.toString, "cal_1t_ms" -> Json.num(oneMs),
      "cal_nt_ms" -> Json.num(allMs))
  }
}
