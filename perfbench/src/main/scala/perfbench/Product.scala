package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.sinks.{PgMerge, PgWireClient}
import graft.sources.{FileListing, S3Wire}
import graft.sources.S3Wire.S3Object

/** The product cycle: list a source, classify, and publish the scan into
  * `external_file` in one transaction with `PgMerge.publishScanWire`.
  *
  *  - `s3_ingest` lists a seeded namespace through [[S3Wire.listDF]]
  *    against the benchmark's own endpoint, into a table emptied
  *    (untimed) before each cycle: the first scrape of a bucket, where
  *    COPY, the insert arm and WAL dominate the sink.
  *  - `fs_rescan` lists a real file tree through [[FileListing.listDF]]
  *    after applying a churn (10% vanish, 10% modified, 5% new, 75%
  *    unchanged) to a tree and table restored (untimed) to the same
  *    published state before each cycle: the daemon's steady state,
  *    where listing and the compare, update and tombstone arms dominate.
  *
  * After every cycle the table is checked against the generator's
  * expected state: live and dead counts plus an order-independent
  * checksum over (path, filename, mime_type, size, modified,
  * deleted IS NULL), with MIME types from [[Product.mimeByExt]]. */
final class Product(kind: Product.Kind) extends Workload {
  import Product._

  private var pg: PgCluster = _
  private var admin: PgWireClient = _
  private var endpoint: S3Endpoint = _
  private var base: Array[Row] = Array.empty
  private var namespace: Array[S3Object] = Array.empty
  private def src = if (kind == S3) "bench_s3" else "bench_fs"
  private def ctxWork(ctx: Ctx) = ctx.args.work.resolve(kind.name)
  private def treeRoot(ctx: Ctx) = ctxWork(ctx).resolve("tree")
  private def stash(ctx: Ctx) = ctxWork(ctx).resolve("stash")

  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    pg = new PgCluster(ctxWork(ctx).resolve("pg"), statements = ctx.tracer.enabled)
    pg.start()
    admin = pg.client()
    kind match {
      case S3 =>
        namespace = s3Namespace(ctx.args.seed, S3Objects)
        base = namespace.map(s3Row)
        endpoint = new S3Endpoint(ctx.nproc)
        endpoint.serve(namespace)
      case Fs =>
        Files.createDirectories(stash(ctx))
        base = fsUniverse(ctx.args.seed, FsFiles, treeRoot(ctx))
        base.foreach(write)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def warmup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    kind match {
      case S3 =>
        // a quarter of the namespace first, so the full-size warm-up
        // cycle starts with the code paths compiled
        val (fullNs, fullBase) = (namespace, base)
        endpoint.serve(fullNs.take(fullNs.length / 4))
        base = fullBase.take(fullNs.length / 4)
        cycle(ctx, "warmup:0")
        endpoint.serve(fullNs)
        base = fullBase
        cycle(ctx, "warmup:1")
      case Fs =>
        // the published state every cycle starts from
        publish(ctx, "warmup:publish")
        check(ctx, "warmup:publish", base.toSeq)
        admin.exec(s"CREATE TABLE ef_base AS SELECT * FROM ${PgMerge.table}")
        // the publish above only inserts; churned cycles compile the
        // compare, update and tombstone paths before they are timed (the
        // first two churned cycles of a run are still markedly slower)
        (0 until 2).foreach(i => cycle(ctx, s"warmup:churn$i"))
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def publish(ctx: Ctx, op: String): Unit = {
    val t = ctx.tracer
    val df = kind match {
      case S3 => t.span("sources.S3Wire", op)(
        S3Wire.listDF(ctx.spark, endpoint.conf, "bench", "", Some(src)))
      case Fs => t.span("sources.FileListing", op)(
        FileListing.listDF(ctx.spark, treeRoot(ctx).toUri.toString, Some(src)))
    }
    t.span("sinks.PgMerge", op)(PgMerge.publishScanWire(df, "127.0.0.1", pg.port,
      "postgres", "postgres", src))
    publishEndMs(op) = System.currentTimeMillis()
  }

  private val publishEndMs = mutable.Map.empty[String, Long]
  private val cycleS = mutable.ArrayBuffer.empty[Double]
  private val pgStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var listedPerCycle = 0L
  private var cycleNo = 0

  /** Reset (untimed), one timed cycle, then the output check. */
  private def cycle(ctx: Ctx, op: String): Unit = {
    cycleNo += 1
    Main.note(s"cycle $op")
    val rnd = new scala.util.Random(ctx.args.seed * 1000003L + cycleNo)
    val expect: Seq[Row] = kind match {
      case S3 =>
        admin.exec(s"TRUNCATE ${PgMerge.table}")
        base.toSeq
      case Fs => churn(ctx, rnd)
    }
    admin.exec("VACUUM ANALYZE")
    admin.exec("CHECKPOINT")
    listedPerCycle = expect.count(_.live).toLong
    val before = if (ctx.tracer.enabled) pgSnapshot() else Map.empty[String, Double]
    if (endpoint != null) endpoint.resetCounters()
    System.gc()
    val t0 = System.nanoTime()
    val ok = ctx.ops.attempt(op) {
      ctx.tracer.span("product.cycle", op)(publish(ctx, op))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (ok.isDefined) {
      if (op.startsWith("m:")) {
        cycleS += secs
        if (ctx.tracer.enabled) pgStats += pgDelta(before) ++ s3Counters()
      }
      check(ctx, op, expect)
    }
    if (kind == Fs) restore(ctx)
  }

  /** Compare the table with the expected rows; a mismatch fails `op`. */
  private def check(ctx: Ctx, op: String, expect: Seq[Row]): Unit = {
    val got = tableState(admin, src)
    val want = (expect.count(_.live).toLong, expect.count(!_.live).toLong,
      expect.map(rowHash).sum)
    if (got != want) ctx.ops.fail(op, s"table (live, dead, checksum) $got != expected $want")
  }

  private val churned = mutable.ArrayBuffer.empty[(Row, Row)]
  private val vanished = mutable.ArrayBuffer.empty[Row]
  private val added = mutable.ArrayBuffer.empty[Row]

  /** Apply one seeded churn to the tree; returns the expected table. */
  private def churn(ctx: Ctx, rnd: scala.util.Random): Seq[Row] = {
    val idx = rnd.shuffle(base.indices.toVector)
    val nV = base.length / 10
    val vanishSet = idx.take(nV).toSet
    val modSet = idx.slice(nV, 2 * nV).toSet
    churned.clear(); vanished.clear(); added.clear()
    val out = base.indices.map { i =>
      val r = base(i)
      if (vanishSet(i)) {
        Files.move(file(r), stash(ctx).resolve(s"$i"), StandardCopyOption.ATOMIC_MOVE)
        vanished += r
        r.copy(live = false)
      } else if (modSet(i)) {
        val m = r.copy(size = r.size + 1 + rnd.nextInt(100),
          modifiedMs = r.modifiedMs + 60000L + rnd.nextInt(1000))
        write(m)
        churned += ((r, m))
        m
      } else r
    }
    val fresh = (0 until base.length / 20).map { j =>
      val i = base.length + j
      val r = fsRow(treeRoot(ctx), i, rnd)
      write(r)
      added += r
      r
    }
    out ++ fresh
  }

  /** Undo the churn and reload the published table (untimed). */
  private def restore(ctx: Ctx): Unit = {
    val pos = base.zipWithIndex.toMap
    vanished.foreach(r => Files.move(stash(ctx).resolve(s"${pos(r)}"), file(r),
      StandardCopyOption.ATOMIC_MOVE))
    churned.foreach { case (orig, _) => write(orig) }
    added.foreach(r => Files.delete(file(r)))
    // a short-lived session, so its table statistics are flushed (at its
    // exit) before the next cycle's counters are read
    pg.withClient { c =>
      c.exec(s"TRUNCATE ${PgMerge.table}")
      c.exec(s"INSERT INTO ${PgMerge.table} SELECT * FROM ef_base")
    }
    ()
  }

  private def pgSnapshot(): Map[String, Double] = {
    admin.exec("SELECT pg_stat_statements_reset()")
    admin.exec("SELECT pg_stat_clear_snapshot()")
    val r = admin.query("SELECT pg_current_wal_lsn() - '0/0'::pg_lsn, " +
      "coalesce(n_tup_ins, 0), coalesce(n_tup_upd, 0), " +
      "(SELECT sessions FROM pg_stat_database WHERE datname = 'postgres') " +
      s"FROM pg_stat_user_tables WHERE relname = '${PgMerge.table}'").head
    Map("wal" -> r(0).get.toDouble, "ins" -> r(1).get.toDouble,
      "upd" -> r(2).get.toDouble, "sessions" -> r(3).get.toDouble)
  }

  private def pgDelta(before: Map[String, Double]): Map[String, Double] = {
    def stmt(pattern: String): Double = admin.queryOne(
      "SELECT coalesce(sum(total_exec_time), 0) FROM pg_stat_statements " +
        s"WHERE query ILIKE '$pattern'").get.toDouble
    val ms = Map(
      "pg.copy_ms" -> stmt("COPY %"),
      "pg.dedup_ms" -> stmt("CREATE TABLE % AS SELECT DISTINCT%"),
      "pg.upsert_ms" -> stmt(s"INSERT INTO ${PgMerge.table}%"),
      "pg.tombstone_ms" -> stmt(s"UPDATE ${PgMerge.table}%"),
      "pg.commit_ms" -> stmt("COMMIT"))
    Thread.sleep(200) // server backends flush table statistics as they exit
    val after = pgSnapshot()
    val rows = admin.queryOne(s"SELECT count(*) FROM ${PgMerge.table}").get.toDouble
    val bytes = admin.queryOne(s"SELECT pg_total_relation_size('${PgMerge.table}')").get.toDouble
    ms ++ Map(
      "pg.rows_inserted" -> (after("ins") - before("ins")),
      "pg.rows_updated" -> (after("upd") - before("upd")),
      "pg.wal_bytes_per_obj" -> (after("wal") - before("wal")) / listedPerCycle.max(1),
      "pg.table_bytes_per_row" -> bytes / rows.max(1),
      "pg.sessions" -> (after("sessions") - before("sessions")))
  }

  private def s3Counters(): Map[String, Double] =
    if (endpoint == null) Map.empty
    else Map(
      "sources.S3Wire.requests" -> endpoint.requests.get.toDouble,
      "sources.S3Wire.keys_per_request" ->
        endpoint.entries.get.toDouble / endpoint.requests.get.max(1),
      "sources.S3Wire.max_inflight" -> endpoint.maxInflight.get.toDouble,
      "sources.S3Wire.endpoint_busy_s" -> endpoint.busyNs.get / 1e9)

  def measure(ctx: Ctx): Outcome = {
    val n = ctx.opsFor(if (kind == S3) 1.25 else 2.5, MinCycles)
    (0 until n).foreach(c => cycle(ctx, s"m:cycle$c"))
    val secs = cycleS.toSeq
    val med = Main.median(secs)
    val e2e = Map(
      "op_latency_s" -> Metric(med, "s"),
      "items_per_s" -> Metric(listedPerCycle / med, "1/s"))
    val named = kind match {
      case S3 => Map("ingest_objs_per_s" -> Metric(listedPerCycle / med, "1/s"))
      case Fs => Map("rescan_cycle_s" -> Metric(med, "s"))
    }
    Outcome(e2e, named, if (ctx.tracer.enabled) layers(ctx, secs) else Map.empty,
      Map("objects_listed_per_cycle" -> listedPerCycle.toString,
        "cycles" -> secs.size.toString) ++ (kind match {
        case S3 => Map("namespace" -> s"$S3Objects keys under logs/dayNN/ (25 prefixes)")
        case Fs => Map("tree" -> s"$FsFiles files in $FsDirs directories",
          "churn" -> "10% vanish, 10% modified, 5% new, 75% unchanged")
      }))
  }

  private def layers(ctx: Ctx, secs: Seq[Double]): Map[String, Metric] = {
    val t = ctx.tracer
    t.drain()
    val n = secs.size.max(1)
    val measured = (op: String) => op.startsWith("m:")
    def spanS(layer: String): Double =
      t.spansOf(layer).filter(s => measured(s.op)).map(s => (s.endNs - s.startNs) / 1e9).sum / n
    // per cycle: the stage that finishes last is the COPY stage; every
    // other stage lists and classifies
    val byOp = t.stagesWhere(a => measured(a.op) && a.tasks > 0).groupBy(_.op)
    val copyStages = byOp.values.map(_.maxBy(_.completeMs)).toSeq
    val scanStages = byOp.values.flatMap(ss => ss.filterNot(_ eq ss.maxBy(_.completeMs))).toSeq
    val lastJobEnd = t.jobsWhere { case (_, op) => measured(op) }
      .groupBy(j => t.jobLayer(j)._2).map { case (op, js) => op -> js.map(t.jobEndMs).max }
    val txn = lastJobEnd.collect { case (op, end) if publishEndMs.contains(op) =>
      (publishEndMs(op) - end) / 1e3 }.sum / n
    def dur(s: StageAgg) = (s.completeMs - s.submitMs) / 1e3
    def avg(k: String): Double = if (pgStats.isEmpty) 0.0 else pgStats.map(_.getOrElse(k, 0.0)).sum / pgStats.size
    def peak(k: String): Double = if (pgStats.isEmpty) 0.0 else pgStats.map(_.getOrElse(k, 0.0)).max
    val source = kind match {
      case S3 => Map(
        "sources.S3Wire.plan_s" -> Metric(spanS("sources.S3Wire"), "s"),
        "sources.S3Wire.requests" -> Metric(avg("sources.S3Wire.requests"), "count"),
        "sources.S3Wire.keys_per_request" -> Metric(avg("sources.S3Wire.keys_per_request"), "count"),
        "sources.S3Wire.max_inflight" -> Metric(peak("sources.S3Wire.max_inflight"), "count"),
        "sources.S3Wire.endpoint_busy_s" -> Metric(avg("sources.S3Wire.endpoint_busy_s"), "s"))
      case Fs => Map(
        "sources.FileListing.plan_s" -> Metric(spanS("sources.FileListing"), "s"),
        "sources.FileListing.files_listed" -> Metric(listedPerCycle.toDouble, "count"),
        "sources.FileListing.tasks" -> Metric(scanStages.map(_.tasks).sum.toDouble / n, "count"))
    }
    val pgMs = Seq("pg.copy_ms", "pg.dedup_ms", "pg.upsert_ms", "pg.tombstone_ms", "pg.commit_ms")
      .map(k => k -> Metric(avg(k), "ms"))
    val pgCounts = Seq("pg.rows_inserted" -> "count", "pg.rows_updated" -> "count",
      "pg.wal_bytes_per_obj" -> "B", "pg.table_bytes_per_row" -> "B", "pg.sessions" -> "count")
      .map { case (k, u) => k -> Metric(avg(k), u) }
    val catalyst = t.catalystMs.collect { case (op, ms) if measured(op) => ms }.sum / n
    source ++ pgMs ++ pgCounts ++ Map(
      "plans.catalyst_ms" -> Metric(catalyst, "ms"),
      "scan_stage_s" -> Metric(scanStages.map(dur).sum / n, "s"),
      "sinks.PgMerge.copy_stage_s" -> Metric(copyStages.map(dur).sum / n, "s"),
      "sinks.PgMerge.txn_s" -> Metric(txn, "s")) ++
      Layers.spark(t, measured, n, secs.sum, ctx.nproc)
  }

  private def closePg(): Unit = {
    if (admin != null) try admin.close() catch { case _: Exception => () }
    admin = null
    if (pg != null) pg.close()
    pg = null
  }

  def close(): Unit = {
    closePg()
    if (endpoint != null) endpoint.close()
  }
}

object Product {
  sealed abstract class Kind(val name: String)
  case object S3 extends Kind("s3")
  case object Fs extends Kind("fs")

  val S3Objects = 20000
  val FsFiles = 1200
  /** `FileListing` lists on the driver when a tree has fewer than 4 x
    * nproc directories; 32 keeps the executor-side shard listing of a
    * real tree in play on machines of up to 8 processors. */
  val FsDirs = 32
  val MinCycles = 3

  /** One expected row of `external_file`. */
  final case class Row(path: String, filename: String, size: Long,
      modifiedMs: Long, live: Boolean)

  /** The benchmark's own extension table: an extension missing here
    * (and a name without one) expects a NULL mime_type. */
  val mimeByExt: Map[String, String] = Map(
    "json" -> "application/json", "bin" -> "application/octet-stream",
    "txt" -> "text/plain", "csv" -> "text/csv", "png" -> "image/png",
    "gz" -> "application/gzip")

  private val fsExts = Vector("json", "bin", "txt", "csv", "png", "gz", "dat", "")

  def mimeOf(filename: String): Option[String] = {
    val i = filename.lastIndexOf('.')
    if (i < 0) None else mimeByExt.get(filename.substring(i + 1).toLowerCase)
  }

  /** 60 bits of md5 over the checked columns, the same text the SQL side
    * of [[tableState]] hashes. */
  def rowHash(r: Row): BigInt = {
    val s = s"${r.path}|${r.filename}|${mimeOf(r.filename).getOrElse("")}|" +
      s"${r.size}|${r.modifiedMs}|${r.live}"
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    BigInt(1, d.take(8)) >> 4
  }

  /** (live, dead, checksum) of one source's rows in `external_file`. */
  def tableState(c: PgWireClient, src: String): (Long, Long, BigInt) = {
    val r = c.query(
      "SELECT count(*) FILTER (WHERE deleted IS NULL), " +
        "count(*) FILTER (WHERE deleted IS NOT NULL), " +
        "coalesce(sum(('x' || substr(md5(path || '|' || filename || '|' || " +
        "coalesce(mime_type, '') || '|' || coalesce(size::text, '') || '|' || " +
        "(extract(epoch FROM modified) * 1000)::bigint::text || '|' || " +
        "(deleted IS NULL)::text), 1, 15))::bit(60)::bigint), 0) " +
        s"FROM ${PgMerge.table} WHERE external_source = '$src'").head
    (r(0).get.toLong, r(1).get.toLong, BigInt(r(2).get))
  }

  /** ProductBench's namespace shape (keys under `logs/dayNN/`, one in
    * four `.json`, the rest `.bin`) with seeded days, sizes and times. */
  def s3Namespace(seed: Long, n: Int): Array[S3Object] = {
    val rnd = new scala.util.Random(seed)
    val base = 1700000000000L
    (0 until n).map { i =>
      val day = rnd.nextInt(25)
      val key =
        if (i % 4 == 0) f"logs/day$day%02d/part-$i%08d.json"
        else f"logs/day$day%02d/blob-$i%08d.bin"
      S3Object(key, base + rnd.nextInt(1000000000), 100L + rnd.nextInt(1 << 20))
    }.toArray.sortBy((o: S3Object) => o.key)
  }

  /** The row a published key becomes: path "/" + its prefix, filename
    * the rest. */
  def s3Row(o: S3Object): Row = {
    val i = o.key.lastIndexOf('/')
    Row("/" + o.key.substring(0, i), o.key.substring(i + 1), o.size, o.modifiedMs,
      live = true)
  }

  def fsRow(root: Path, i: Int, rnd: scala.util.Random): Row = {
    val ext = fsExts(rnd.nextInt(fsExts.size))
    val name = if (ext.isEmpty) f"f$i%07d" else f"f$i%07d.$ext"
    Row(root.resolve(f"d${i % FsDirs}%03d").toString, name, rnd.nextInt(400).toLong,
      1700000000000L + rnd.nextInt(1000000000), live = true)
  }

  def fsUniverse(seed: Long, n: Int, root: Path): Array[Row] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => fsRow(root, i, rnd)).toArray
  }

  def file(r: Row): Path = java.nio.file.Paths.get(r.path, r.filename)

  private val zeros = new Array[Byte](1 << 12)

  /** Write a file of the row's size and set its modification time. */
  def write(r: Row): Unit = {
    val p = file(r)
    Files.createDirectories(p.getParent)
    Files.write(p, java.util.Arrays.copyOf(zeros, r.size.toInt))
    require(p.toFile.setLastModified(r.modifiedMs), s"cannot set mtime of $p")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
  }
}
