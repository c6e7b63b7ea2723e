package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{RocksDb, ScrapeTws}

/** The `scan_stream` workload: a seeded sequence of churned scan
  * listings over a universe of files, fed one scan per trigger through
  * a parquet file source into [[ScrapeTws.changeStream]] with the tuned
  * RocksDB state provider, its change events appended to a parquet log
  * per batch (the `--stream-events` path's shape). The only workload
  * that drives streaming state, event-time timers and the micro-batch
  * loop.
  *
  * No-data micro-batches are off so every trigger is exactly one scan:
  * with them on, whether a watermark-only batch runs before the next
  * scan arrives is a race, and the per-trigger event counts checked
  * here would not be determined by the inputs. */
final class ScanStream extends Workload {
  import ScanStream._

  private var dir: Path = _
  private var query: StreamingQuery = _
  private var model: Model = _
  private var scan: Map[Int, (Long, Long)] = Map.empty
  private var scanNo = 0
  private var rnd: scala.util.Random = _
  private var lastFed: Map[Int, (Long, Long)] = Map.empty
  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    dir = ctx.args.work.resolve("stream")
    Files.createDirectories(dir.resolve("source"))
    Files.createDirectories(dir.resolve("staging"))
    rnd = new scala.util.Random(ctx.args.seed)
    model = new Model
    scanNo = 0
    scan = (0 until Universe).map(i => i -> (sizeOf(i), modOf(i))).toMap
    stage(ctx, scan, 0)
    (System.nanoTime() - t0) / 1e9
  }

  private def startQuery(ctx: Ctx): Unit = {
    val s = ctx.spark
    val src = s.readStream.schema(scanSchema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir.resolve("source").toString)
    val log = dir.resolve("events").toString
    query = RocksDb.withRocksDb(s) {
      ScrapeTws.changeStream(s, src, Source).writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("append").parquet(s"$log/batch=$id")
          ()
        }
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .outputMode("append")
        .start()
    }
  }

  def warmup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    startQuery(ctx)
    (0 until 3).foreach(i => trigger(ctx, s"warmup:$i"))
    (System.nanoTime() - t0) / 1e9
  }

  /** Write scan `k`'s listing as one parquet file in the staging dir. */
  private def stage(ctx: Ctx, listing: Map[Int, (Long, Long)], k: Int): Unit = {
    val obs = new Timestamp(BaseMs + k * 60000L)
    val rows = listing.toSeq.sortBy(_._1).map { case (i, (size, mod)) =>
      SRow(Source, s"/d${i % 100}", s"f$i.bin", "application/octet-stream",
        new Timestamp(1000L + i), new Timestamp(mod), size, obs)
    }
    val out = dir.resolve("staging").resolve(s"scan$k")
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), scanSchema)
      .write.parquet(out.toString)
  }

  private val triggerS = mutable.ArrayBuffer.empty[(Long, Double, Int)]

  /** Feed the staged scan, wait for its trigger, check its events, and
    * stage the next scan (untimed). */
  private def trigger(ctx: Ctx, op: String, stageNext: Boolean = true): Unit = {
    val k = scanNo
    val staged = dir.resolve("staging").resolve(s"scan$k")
    val file = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Main.note(s"trigger $op")
    val expect = model.apply(scan, k)
    lastFed = scan
    System.gc()
    val t0 = System.nanoTime()
    val ok = ctx.ops.attempt(op) {
      ctx.tracer.span("streaming.trigger", op) {
        Files.move(file, dir.resolve("source").resolve(s"scan$k.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (ok.isDefined) {
      val got = eventCounts(ctx, k)
      if (got != expect) ctx.ops.fail(op, s"events $got != expected $expect")
      if (op.startsWith("m:")) triggerS += ((k.toLong, secs, scan.size))
    }
    scanNo += 1
    if (stageNext) {
      scan = next(scan)
      stage(ctx, scan, scanNo)
    }
  }

  private def eventCounts(ctx: Ctx, batch: Int): Map[String, Long] = {
    val p = dir.resolve("events").resolve(s"batch=$batch")
    if (!Files.exists(p)) Map.empty
    else ctx.spark.read.schema(eventSchema).parquet(p.toString)
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The next scan: of the files in this one 5% vanish and 10% change
    * size; of those absent, 30% reappear unchanged; 2% of the universe's
    * size in new files appear. */
  private def next(cur: Map[Int, (Long, Long)]): Map[Int, (Long, Long)] = {
    val known = model.state.keys
    val kept = cur.flatMap { case (i, (size, mod)) =>
      val u = rnd.nextDouble()
      if (u < 0.05) None
      else if (u < 0.15) Some(i -> (size + 1, mod + 60000L))
      else Some(i -> (size, mod))
    }
    val back = known.filterNot(cur.contains).filter(_ => rnd.nextDouble() < 0.3)
      .map(i => i -> model.state(i).meta)
    val fresh = (0 until Universe / 50).map { j =>
      val i = model.nextId + j
      i -> (sizeOf(i), modOf(i))
    }
    model.nextId += Universe / 50
    kept ++ back ++ fresh
  }

  def measure(ctx: Ctx): Outcome = {
    (0 until ctx.opsFor(1.25, MinTriggers)).foreach(c => trigger(ctx, s"m:trigger$c"))
    settle(ctx)
    val secs = triggerS.map(_._2).toSeq
    val perTrigger = Main.median(triggerS.map(_._3.toDouble).toSeq)
    val e2e = Map(
      "op_latency_s" -> Metric(Main.median(secs), "s"),
      "items_per_s" -> Metric(perTrigger / Main.median(secs), "1/s"))
    val named = Map("stream_rows_per_s" -> Metric(perTrigger / Main.median(secs), "1/s"))
    Outcome(e2e, named, if (ctx.tracer.enabled) layers(ctx, secs) else Map.empty,
      Map("universe" -> s"$Universe files, growing ${Universe / 50} per scan",
        "triggers" -> secs.size.toString,
        "rows_per_trigger" -> perTrigger.toLong.toString))
  }

  /** Feed the last scan again (untimed), so every file it lacks is
    * tombstoned, then check that the compacted event log equals it. */
  private def settle(ctx: Ctx): Unit = {
    val last = lastFed
    Product.deleteTree(dir.resolve("staging").resolve(s"scan$scanNo"))
    scan = last
    stage(ctx, scan, scanNo)
    trigger(ctx, "settle", stageNext = false)
    val snap = ScrapeTws.snapshotOf(ctx.spark.read.schema(eventSchema)
      .parquet(dir.resolve("events").toString))
      .select("filename", "size", "modified", "deleted").collect()
    val live = snap.filter(_.isNullAt(3)).map(r =>
      r.getString(0).stripPrefix("f").stripSuffix(".bin").toInt ->
        ((r.getLong(1), r.getTimestamp(2).getTime))).toMap
    val dead = snap.count(!_.isNullAt(3)).toLong
    val wantDead = model.state.size.toLong - last.size
    if (live != last || dead != wantDead)
      ctx.ops.fail("settle", s"snapshot has ${live.size} live and $dead dead files; " +
        s"the last scan has ${last.size} and $wantDead are gone")
  }

  private def layers(ctx: Ctx, secs: Seq[Double]): Map[String, Metric] = {
    val t = ctx.tracer
    t.drain()
    val ids = triggerS.map(_._1).toSet
    val ps = t.progress.filter(p => ids(p.batchId)).toSeq
    val n = ps.size.max(1).toDouble
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n
    val state = ps.flatMap(_.stateOperators.headOption)
    val measured = (op: String) => ids.exists(k => op == s"batch:$k")
    val events = triggerS.map { case (k, _, _) => eventCounts(ctx, k.toInt).values.sum }.sum
    phases.map(p => s"streaming.trigger_ms.$p" -> Metric(dur(p), "ms")).toMap ++ Map(
      "streaming.state_rows" -> Metric(state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "streaming.state_mb" -> Metric(state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB"),
      "streaming.state_commit_ms" -> Metric(state.map(_.commitTimeMs.toDouble).sum / n, "ms"),
      "streaming.events_out" -> Metric(events / n, "count")) ++
      Layers.spark(t, measured, secs.size, secs.sum, ctx.nproc)
  }

  private def stopQuery(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  def close(): Unit = stopQuery()
}

object ScanStream {
  val Universe = 10000
  val MinTriggers = 3
  val Source = "bench"
  val BaseMs = 1700000000000L
  val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  val sessionConf: Map[String, String] = Map(noDataKey -> "false")
  val phases = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

  def sizeOf(i: Int): Long = 10L * i
  def modOf(i: Int): Long = 5000L + i

  val scanSchema: StructType = StructType(Seq(
    StructField("external_source", StringType), StructField("path", StringType),
    StructField("filename", StringType), StructField("mime_type", StringType),
    StructField("created", TimestampType), StructField("modified", TimestampType),
    StructField("size", LongType), StructField("observed", TimestampType)))

  val eventSchema: StructType = StructType(Seq(
    StructField("uuid_external_file", StringType), StructField("external_source", StringType),
    StructField("path", StringType), StructField("filename", StringType),
    StructField("mime_type", StringType), StructField("created_ms", LongType),
    StructField("modified_ms", LongType), StructField("size", LongType),
    StructField("deleted_ms", LongType), StructField("action", StringType),
    StructField("event_ms", LongType), StructField("event_seq", LongType)))

  /** Per-file state as the change stream should hold it. */
  final case class St(meta: (Long, Long), deleted: Boolean, armed: Int)

  /** Reference model of the change stream, one scan per micro-batch.
    * In batch k the watermark is scan k-1's instant: the scan's rows are
    * applied first (insert on first sight, update on changed metadata,
    * revive for an unchanged tombstoned file), then every file whose
    * deletion timer (its last sighting's or re-stamp's instant + 1 ms)
    * is at or below the watermark is tombstoned again. */
  final class Model {
    val state = mutable.Map.empty[Int, St]
    var nextId: Int = Universe

    def apply(listing: Map[Int, (Long, Long)], k: Int): Map[String, Long] = {
      val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val next = mutable.Map.empty[Int, St] ++ state
      listing.foreach { case (i, meta) =>
        state.get(i) match {
          case None => counts("insert") += 1
          case Some(s) if s.meta != meta => counts("update") += 1
          case Some(s) if s.deleted => counts("revive") += 1
          case _ => ()
        }
        next(i) = St(meta, deleted = false, armed = k)
      }
      if (k >= 2) next.foreach { case (i, s) =>
        if (!listing.contains(i) && s.armed <= k - 2) {
          counts("delete") += 1
          next(i) = s.copy(deleted = true, armed = k - 1)
        }
      }
      state.clear()
      state ++= next
      counts.toMap
    }
  }
}
