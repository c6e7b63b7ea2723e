package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `registry` workload: the analytics surface. A panel of queries
  * chosen from the registry by measured latency ([[Registry.panelFrom]])
  * runs against the fixed fixture tables in a fixed order: the pass is
  * cold, and in a shuffled order the first-use costs of shared Spark
  * paths land on different queries, which moved the median query
  * latency by up to a quarter between orders.
  * A query's latency runs from the construction call `fn(spark, dir)`
  * to the end of its action, and the action is an order-independent
  * checksum over every output column, so Catalyst cannot prune columns
  * the way a `count()` lets it. Each run starts a fresh JVM and the
  * panel's queries are not run before they are timed, so first-run
  * codegen and compile cost is part of every timed query. */
final class Registry extends Workload {
  import Registry._

  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    expected = loadExpected(ctx.args.expected)
    panel = panelFrom(ctx.args.latency)
    tables.foreach(t => require(Files.exists(ctx.args.fixture.resolve(s"$t.parquet")),
      s"fixture table $t is missing"))
    (System.nanoTime() - t0) / 1e9
  }

  private var expected: Map[String, Expect] = Map.empty
  private var panel: Seq[Q] = Seq.empty

  /** A generic warm-up in the manner of graft.Bench's (a count of the three
    * largest tables and one aggregate), so the session's first-use costs
    * land before the pass. */
  def warmup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    Seq("lineitem", "orders", "events").foreach(t =>
      ctx.spark.read.parquet(ctx.args.fixture.resolve(s"$t.parquet").toString).count())
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def measure(ctx: Ctx): Outcome = {
    val dir = ctx.args.fixture.toString
    val t = ctx.tracer
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // a cold pass over the panel takes about 30 s on 4 cores
    (0 until ctx.opsFor(30.0, 1)).foreach { pass =>
      val p0 = System.nanoTime()
      panel.foreach { q =>
        val op = s"m:${q.name}#$pass"
        Main.note(s"query $op")
        val q0 = System.nanoTime()
        ctx.ops.attempt(op) {
          t.span("registry.query", op) {
            val df = t.span("Tables", op)(q.fn(ctx.spark, dir))
            val got = t.span("operators", op)(checksum(df))
            verify(q.name, got, expected).foreach(ctx.ops.fail(op, _))
          }
        }
        lat += ((q.name, q.family, (System.nanoTime() - q0) / 1e9))
        ctx.spark.sharedState.cacheManager.clearCache()
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val secs = lat.map(_._3).toSeq
    val wall = passes.sum
    val p50 = Main.median(secs)
    val p95 = Main.pct(secs, 0.95)
    // the panel's queries differ by an order of magnitude and their
    // median falls between unlike queries, so it jumps between runs; the
    // geometric mean weighs each query's own run-to-run change equally
    val geo = math.exp(secs.map(math.log).sum / secs.size)
    val e2e = Map(
      "op_latency_s" -> Metric(geo, "s"),
      "items_per_s" -> Metric(secs.size / wall, "1/s"))
    val named = Map(
      "registry_pass_s" -> Metric(Main.median(passes.toSeq), "s"),
      "query_p50_s" -> Metric(p50, "s"),
      "query_geomean_s" -> Metric(geo, "s"),
      "query_p95_s" -> Metric(p95, "s"))
    val layers = if (!t.enabled) Map.empty[String, Metric] else {
      t.drain()
      val n = secs.size.max(1)
      val measured = (op: String) => op.startsWith("m:")
      def spanS(layer: String): Double =
        t.spansOf(layer).filter(s => measured(s.op)).map(s => (s.endNs - s.startNs) / 1e9).sum
      val buildJobs = t.jobsWhere { case (l, op) => l == "Tables" && measured(op) }.size
      val catalyst = t.catalystMs.collect { case (op, ms) if measured(op) => ms }.sum
      val perFamily = families.map { case (f, _) =>
        val ops = t.spansOf("operators").filter(s => measured(s.op) &&
          panel.exists(q => q.family == f && s.op.startsWith(s"m:${q.name}#")))
        s"operators.exec_s.$f" ->
          Metric(ops.map(s => (s.endNs - s.startNs) / 1e9).sum / ops.size.max(1), "s")
      }.toMap
      Map(
        "Tables.build_s" -> Metric(spanS("Tables") / n, "s"),
        "Tables.build_jobs" -> Metric(buildJobs.toDouble / n, "count"),
        "plans.catalyst_ms" -> Metric(catalyst / n, "ms"),
        "operators.exec_s" -> Metric(spanS("operators") / n, "s")) ++ perFamily ++
        Layers.spark(t, measured, n, wall, ctx.nproc)
    }
    Outcome(e2e, named, layers, Map(
      "fixture" -> "perfbench/fixture (the sf0.001 tables)",
      "panel_queries" -> panel.size.toString,
      "passes" -> passes.size.toString,
      "registry_queries" -> graft.SparkEntry.queries.size.toString))
  }

  def close(): Unit = ()
}

object Registry {
  final case class Q(name: String, family: String,
      fn: (SparkSession, String) => DataFrame)
  /** Expected checksum of one query's full result. Oracle-less queries
    * (no DuckDB oracle) check their row count only. */
  final case class Expect(oracle: Boolean, rows: Long, sum: Long, xor: Long)

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "TpchFull" -> graft.operators.TpchFull.queries,
    "Scrape" -> graft.operators.Scrape.queries,
    "Enrich" -> graft.operators.Enrich.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Incremental" -> graft.operators.Incremental.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Pipeline" -> graft.operators.Pipeline.queries,
    "Selection" -> graft.operators.Selection.queries,
    "Graph" -> graft.operators.Graph.queries,
    "Cohort" -> graft.operators.Cohort.queries,
    "Skew" -> graft.operators.Skew.queries,
    "Stats" -> graft.operators.Stats.queries,
    "Quant" -> graft.operators.Quant.queries,
    "TextAnalysis" -> graft.functions.TextAnalysis.queries,
    "Similarity" -> graft.functions.Similarity.queries,
    "EventWindows" -> graft.streaming.EventWindows.queries,
    "StreamDedup" -> graft.streaming.StreamDedup.queries,
    "StreamJoin" -> graft.streaming.StreamJoin.queries,
    "Capstone" -> graft.operators.Capstone.queries,
    "Privacy" -> graft.operators.Privacy.queries)

  /** The panel: one query per family, chosen from the latencies
    * `--record` measured over the whole registry
    * (`expected/registry_latency_sf0.001.tsv`, second pass): the query at
    * the family's median latency (the upper median when the family has an
    * even count; ties by name), so each family is represented by its
    * typical query and has its `operators.exec_s.<family>` figure.
    * Queries registered after the recording are not candidates, so the
    * panel stays fixed until the next recording. Ordered by family as
    * listed in [[families]]. */
  def panelFrom(latency: Path): Seq[Q] = {
    val warm = Files.readAllLines(latency).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val c = l.split("\t"); c(0) -> c(3).toDouble }.toMap
    families.map { case (f, qs) =>
      val byLat = qs.keys.filter(warm.contains).toSeq.sortBy(n => (warm(n), n))
      val n = byLat(byLat.size / 2)
      Q(n, f, qs(n))
    }
  }

  /** (rows, sum of xxhash64 mod 2^40, xor of xxhash64) over all output
    * columns: order-independent and forces every column to be computed. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.selectExpr("xxhash64(*) AS h")
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 40))), bit_xor(col("h")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def verify(name: String, got: (Long, Long, Long),
      expected: Map[String, Expect]): Option[String] =
    expected.get(name) match {
      case None => Some("no expected checksum recorded")
      case Some(e) if e.rows != got._1 => Some(s"rows ${got._1} != expected ${e.rows}")
      case Some(e) if e.oracle && (e.sum != got._2 || e.xor != got._3) =>
        Some(s"checksum ${got._2}/${got._3} != expected ${e.sum}/${e.xor}")
      case _ => None
    }

  def loadExpected(p: Path): Map[String, Expect] =
    Files.readAllLines(p).asScala.filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        val Array(n, o, r, s, x) = l.split("\t")
        n -> Expect(o == "1", r.toLong, s.toLong, x.toLong)
      }.toMap

  /** `--mode record`: two passes over every registered query in name
    * order. The first pass's checksums become the expected file; the
    * second pass must reproduce them (a query whose result changes
    * between passes fails the recording). Both passes' latencies, from
    * the construction call to the end of the checksum action, go to the
    * latency file the panel is chosen from. Run it only on a commit whose
    * `graft.Verify` dump of the same fixture passes `dev/check.py`
    * against the DuckDB oracle. */
  def record(a: Args): Int = {
    Files.createDirectories(a.work)
    val spark = Main.session(a)
    try {
      val oracle = graft.SparkEntry.oracleSql.keySet
      val familyOf = families.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
      val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      def pass(): Seq[((Long, Long, Long), Double)] = qs.map { case (_, fn) =>
        val t0 = System.nanoTime()
        val got = checksum(fn(spark, a.fixture.toString))
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        (got, secs)
      }
      val cold = pass()
      val warm = pass()
      val unstable = qs.indices.filter(i => cold(i)._1 != warm(i)._1).map(qs(_)._1)
      require(unstable.isEmpty, s"results changed between passes: ${unstable.mkString(", ")}")
      val sums = qs.indices.map { i =>
        val (r, s, x) = cold(i)._1
        s"${qs(i)._1}\t${if (oracle(qs(i)._1)) 1 else 0}\t$r\t$s\t$x"
      }
      val lats = qs.indices.map { i =>
        f"${qs(i)._1}\t${familyOf(qs(i)._1)}\t${cold(i)._2}%.4f\t${warm(i)._2}%.4f"
      }
      Files.createDirectories(a.expected.getParent)
      Files.writeString(a.expected,
        "# name\toracle\trows\tsum(xxhash64 mod 2^40)\txor(xxhash64)\n" +
          sums.mkString("\n") + "\n")
      Files.writeString(a.latency,
        "# name\tfamily\tcold_s\twarm_s (one JVM, two passes in name order)\n" +
          lats.mkString("\n") + "\n")
      0
    } finally spark.stop()
  }
}

/** Spark-runtime per-layer figures, per measured operation. */
object Layers {
  def spark(t: Tracer, measured: String => Boolean, nOps: Int, wallS: Double,
      nproc: Int): Map[String, Metric] = {
    t.drain()
    val stages = t.stagesWhere(a => measured(a.op) && a.tasks > 0)
    val jobs = t.jobsWhere { case (_, op) => measured(op) }
    val n = nOps.max(1).toDouble
    val taskS = stages.map(_.taskNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> Metric(jobs.size / n, "count"),
      "spark.stages" -> Metric(stages.size / n, "count"),
      "spark.tasks" -> Metric(stages.map(_.tasks).sum / n, "count"),
      "spark.task_s" -> Metric(taskS / n, "s"),
      "spark.core_util" -> Metric(taskS / (wallS * nproc), "ratio"),
      "spark.shuffle_read_mb" -> Metric(stages.map(_.shuffleRead).sum / mb / n, "MB"),
      "spark.shuffle_write_mb" -> Metric(stages.map(_.shuffleWrite).sum / mb / n, "MB"),
      "spark.spill_mb" -> Metric(stages.map(_.spill).sum / mb / n, "MB"),
      "spark.peak_exec_mem_mb" -> Metric(
        (if (stages.isEmpty) 0L else stages.map(_.peakMem).max) / mb, "MB"))
  }
}
