package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: name, start, end, the enclosing span, and the
  * operation (query, cycle or trigger) it belongs to. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long)

/** Per-stage figures gathered from task ends, attributed to the layer
  * span that launched the stage's job. */
final class StageAgg(val layer: String, val op: String) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
}

/** Spans and listener-derived counters for the traced run. When
  * `enabled` is false no listener is registered and [[span]] only runs
  * its body, so the untraced run measures the program alone.
  *
  * Jobs are attributed to spans through a Spark local property set
  * before each call, read back from the job's properties: the listener
  * bus is asynchronous, so the time a job's events arrive says nothing
  * about which call launched it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val LayerKey = "perfbench.layer"
  private val BatchRe = """batch = (\d+)""".r
  val OpKey = "perfbench.op"
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  // listener state; written on the listener-bus thread, read after drain()
  val jobLayer = mutable.Map.empty[Int, (String, String)]
  val jobEndMs = mutable.Map.empty[Int, Long]
  val stageOf = mutable.Map.empty[Int, StageAgg]
  val catalystMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a stream's jobs run on its own thread, whose job description
      // names the micro-batch
      val batch = prop("spark.job.description")
        .flatMap(d => BatchRe.findFirstMatchIn(d)).map(_.group(1))
      val (layer, op) = prop(LayerKey) match {
        case Some(l) => (l, prop(OpKey).getOrElse(""))
        case None => batch.fold(("untraced", ""))(b => ("streaming", s"batch:$b"))
      }
      jobLayer(e.jobId) = (layer, op)
      e.stageIds.foreach(s => stageOf.getOrElseUpdate(s, new StageAgg(layer, op)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEndMs(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOf.get(e.stageInfo.stageId).foreach { a =>
          a.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
          a.completeMs = e.stageInfo.completionTime.getOrElse(0L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageOf.get(e.stageId).foreach { a =>
        a.tasks += 1
        a.taskNs += m.executorRunTime * 1000000L
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private var currentOp = ""
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      catalystMs(currentOp) += ms
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress; () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as one call into `layer` for operation `op`. */
  def span[A](layer: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevLayer = sc.getLocalProperty(LayerKey)
      val prevOp = sc.getLocalProperty(OpKey)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc.setLocalProperty(LayerKey, layer)
      sc.setLocalProperty(OpKey, op)
      currentOp = op
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(LayerKey, prevLayer)
        sc.setLocalProperty(OpKey, prevOp)
        if (parent < 0) {
          // every event of this operation is delivered before the next
          // one starts, so per-operation attribution needs no clock
          org.apache.spark.PerfbenchBus.drain(sc)
        }
        spans += Span(id, parent, layer, op, start - t0, end - t0)
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def spansOf(layer: String): Seq[Span] = spans.filter(_.name == layer).toSeq

  /** Span duration minus the part its direct children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var hi = Long.MinValue
    kids.foreach { case (a, b) =>
      val lo = math.max(a, hi)
      if (b > lo) covered += b - lo
      hi = math.max(hi, b)
    }
    (s.endNs - s.startNs) - covered
  }

  def stagesWhere(p: StageAgg => Boolean): Seq[StageAgg] = synchronized {
    stageOf.values.filter(p).toSeq
  }

  def jobsWhere(p: ((String, String)) => Boolean): Seq[Int] = synchronized {
    jobLayer.collect { case (j, lo) if p(lo) => j }.toSeq
  }

  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON lines, written once when the run ends. */
  def writeSpans(path: java.nio.file.Path, runId: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","op":"${Json.esc(s.op)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON writing for the run record. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
