package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.S3Wire.{S3Conf, S3Object}

/** An in-JVM ListObjectsV2 endpoint over a sorted, in-memory namespace:
  * prefix, delimiter grouping, max-keys, and a continuation token that
  * names the last key a page covered (start-after is an initial token).
  * Signatures are not verified. It serves from at most `threads` handler
  * threads and counts what the `sources.S3Wire` metrics need: requests,
  * entries per page, peak concurrent requests and handler busy time. */
final class S3Endpoint(threads: Int) extends AutoCloseable {
  @volatile private var keys: Array[S3Object] = Array.empty
  @volatile private var contents: Array[String] = Array.empty

  /** Serve `ns` (sorted by key); each object's XML is rendered once here
    * so request handling stays a small part of a listing's time. */
  def serve(ns: Array[S3Object]): Unit = {
    contents = ns.map(o => s"<Contents><Key>${xesc(o.key)}</Key><LastModified>" +
      java.time.Instant.ofEpochMilli(o.modifiedMs).toString +
      s"</LastModified><Size>${o.size}</Size></Contents>")
    keys = ns
  }
  val requests = new AtomicLong
  val entries = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicInteger
  val maxInflight = new AtomicInteger

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-s3-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    val t0 = System.nanoTime()
    try respond(ex)
    finally {
      busyNs.addAndGet(System.nanoTime() - t0)
      inflight.decrementAndGet()
      ex.close()
    }
  })
  server.setExecutor(pool)
  server.start()

  def conf: S3Conf = S3Conf(s"http://127.0.0.1:${server.getAddress.getPort}",
    "us-east-1", "k", "s", pathStyle = true)

  def resetCounters(): Unit = {
    requests.set(0); entries.set(0); busyNs.set(0); maxInflight.set(0)
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }

  private def xesc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** First index whose key is strictly greater than `k`. */
  private def above(keys: Array[S3Object], k: String): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid).key.compareTo(k) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def atLeast(keys: Array[S3Object], k: String): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid).key.compareTo(k) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def respond(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val keys = this.keys
    val contents = this.contents
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2).padTo(2, "")
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    val prefix = params.getOrElse("prefix", "")
    val delim = params.get("delimiter").filter(_.nonEmpty)
    val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
    val after = params.get("continuation-token").orElse(params.get("start-after"))
    var i = math.max(atLeast(keys, prefix), after.map(above(keys, _)).getOrElse(0))
    val objs = new StringBuilder
    val groups = new StringBuilder
    var n = 0
    var last: String = null
    while (n < maxKeys && i < keys.length && keys(i).key.startsWith(prefix)) {
      val o = keys(i)
      val rest = o.key.substring(prefix.length)
      val cut = delim.map(rest.indexOf(_)).getOrElse(-1)
      if (cut >= 0) {
        val g = prefix + rest.substring(0, cut + delim.get.length)
        val j = atLeast(keys, g + Char.MaxValue)
        groups ++= s"<CommonPrefixes><Prefix>${xesc(g)}</Prefix></CommonPrefixes>"
        last = keys(j - 1).key
        i = j
      } else {
        objs ++= contents(i)
        last = o.key
        i += 1
      }
      n += 1
    }
    entries.addAndGet(n.toLong)
    val truncated = i < keys.length && keys(i).key.startsWith(prefix)
    val next =
      if (truncated) s"<NextContinuationToken>${xesc(last)}</NextContinuationToken>" +
        "<IsTruncated>true</IsTruncated>"
      else "<IsTruncated>false</IsTruncated>"
    val xml = (s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      s"<ListBucketResult><Name>bench</Name><KeyCount>$n</KeyCount>$next" +
      objs + groups + "</ListBucketResult>").getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/xml")
    ex.sendResponseHeaders(200, xml.length.toLong)
    ex.getResponseBody.write(xml)
  }
}
