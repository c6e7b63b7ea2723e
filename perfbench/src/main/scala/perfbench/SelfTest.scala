package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.lit

import graft.sinks.PgMerge
import graft.sources.S3Wire
import graft.sources.S3Wire.S3Object

/** `--selftest`: the benchmark's own checks must catch what they exist
  * to catch. A corrupted query result and a corrupted table row each
  * fail their check and count as failed operations; the endpoint serves
  * a paged namespace exactly once, with and without a delimiter; and a
  * run records its machine context. Exits 1 if any case fails. */
object SelfTest {
  def run(a: Args): Int = {
    java.nio.file.Files.createDirectories(a.work)
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception =>
        System.err.println(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      results += ((name, r))
      println(s"${if (r) "PASS" else "FAIL"} $name")
    }

    expect("machine context is recorded") {
      val m = Machine.context()
      Seq("nproc", "load1_start", "cal_1t_ms", "cal_nt_ms", "cal_iters").forall(m.contains) &&
        m("cal_1t_ms").toDouble > 0 && m("cal_nt_ms").toDouble > 0 && m("nproc").toInt > 0
    }

    expect("endpoint pages a namespace exactly once") {
      val ns = (0 until 2500).map(i =>
        S3Object(f"logs/day${i % 7}%02d/k$i%05d.json", 1700000000000L + i, i.toLong))
        .sortBy(_.key).toArray
      val ep = new S3Endpoint(2)
      try {
        ep.serve(ns)
        val flat = S3Wire.listAll(ep.conf, "bench", "", 100).toVector
        val flatRequests = ep.requests.get
        // delimiter walk: common prefixes first, then each prefix's pages
        ep.resetCounters()
        val groups = mutable.ArrayBuffer.empty[String]
        var token: Option[String] = None
        var more = true
        while (more) {
          val p = S3Wire.listPage(ep.conf, "bench", "logs/", token, Some("/"), 3)
          groups ++= p.commonPrefixes
          token = p.nextToken
          more = token.nonEmpty
        }
        val nested = groups.toVector.flatMap(g => S3Wire.listAll(ep.conf, "bench", g, 64))
        flat.map(_.key) == ns.map(_.key).toVector && flat == ns.toVector &&
          flatRequests == 25 && groups.size == 7 && groups.distinct.size == 7 &&
          nested.map(_.key).sorted == ns.map(_.key).toVector
      } finally ep.close()
    }

    val spark = Main.session(a)
    try {
      expect("a corrupted query result fails its check and counts as failed") {
        val expected = Registry.loadExpected(a.expected)
        val panel = Registry.panelFrom(a.latency)
        val q = panel.head
        val df = q.fn(spark, a.fixture.toString)
        val ops = new Ops
        ops.attempt("clean") {
          Registry.verify(q.name, Registry.checksum(df), expected).foreach(ops.fail("clean", _))
        }
        val cleanOk = ops.failed == 0
        ops.attempt("corrupt") {
          val bad = df.union(df.limit(1))
          Registry.verify(q.name, Registry.checksum(bad), expected).foreach(ops.fail("corrupt", _))
        }
        val oracleQ = panel.find(p => expected.get(p.name).exists(_.oracle)).get
        val odf = oracleQ.fn(spark, a.fixture.toString)
        val first = odf.columns.head
        ops.attempt("corrupt-value") {
          // same row count, one column's values changed
          val bad = odf.withColumn(first, lit(null).cast(odf.schema(first).dataType))
          Registry.verify(oracleQ.name, Registry.checksum(bad), expected)
            .foreach(ops.fail("corrupt-value", _))
        }
        cleanOk && ops.failed == 2 && ops.attempted == 3
      }

      expect("a corrupted table row fails its check and counts as failed") {
        val pg = new PgCluster(a.work.resolve("pg"), statements = false)
        val ep = new S3Endpoint(2)
        try {
          pg.start()
          val ns = Product.s3Namespace(a.seed, 3000)
          ep.serve(ns)
          PgMerge.publishScanWire(S3Wire.listDF(spark, ep.conf, "bench", "", Some("st")),
            "127.0.0.1", pg.port, "postgres", "postgres", "st")
          val rows = ns.map(Product.s3Row)
          val want = (rows.length.toLong, 0L, rows.map(Product.rowHash).sum)
          pg.withClient { c =>
            val clean = Product.tableState(c, "st") == want
            c.exec(s"UPDATE ${PgMerge.table} SET size = size + 1 WHERE filename = " +
              s"(SELECT min(filename) FROM ${PgMerge.table})")
            val ops = new Ops
            ops.attempt("corrupt-row") {
              val got = Product.tableState(c, "st")
              if (got != want) ops.fail("corrupt-row", s"$got != $want")
            }
            clean && ops.failed == 1
          }
        } finally { ep.close(); pg.close() }
      }
    } finally spark.stop()

    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }
}
