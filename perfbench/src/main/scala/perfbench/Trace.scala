package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side call: spans of one query or operation share `trace`,
  * and `parent` is the span that caused it (0 for a root). */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** Task-side totals for one layer tag. */
final class LayerAcc {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spark listener that attributes jobs and task metrics to the layer tag
  * the submitting thread carried in its `perfbench.layer` local property. */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val acc = mutable.HashMap.empty[String, LayerAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.LayerKey))).getOrElse("untagged")
    e.stageIds.foreach(stageLayer(_) = layer)
    acc.getOrElseUpdate(layer, new LayerAcc).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(stageLayer.getOrElse(e.stageId, "untagged"), new LayerAcc)
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over every tag accepted by `p`. */
  def sum(p: String => Boolean): LayerAcc = synchronized {
    val out = new LayerAcc
    acc.foreach { case (k, a) if p(k) =>
        out.jobs += a.jobs; out.cpuNs += a.cpuNs
        out.shuffleBytes += a.shuffleBytes; out.spillBytes += a.spillBytes
      case _ =>
    }
    out
  }
}

/** Counts every QueryExecution the session finishes or fails. */
final class PlanListener extends QueryExecutionListener {
  val ok = new AtomicLong
  val failed = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    ok.incrementAndGet(); ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
    failed.incrementAndGet(); ()
  }
}

/** Collects the streaming progress reports of every running query. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e; () }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[StreamingQueryListener.QueryProgressEvent] = synchronized(progress.toSeq)
}

/** Spans and listeners of the traced run. Untraced runs create the same
  * tracer with `traced = false`: every call site runs identically, but
  * no span is kept and no listener is registered. Spans stay in memory
  * and are written out when the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val layers = new LayerListener
  val plans = new PlanListener
  val streams = new StreamListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private var stack: List[Span] = Nil
  @volatile private var on = false

  /** Registers (or removes) the three listeners; spans are kept only
    * while enabled. */
  def enable(yes: Boolean): Unit = if (traced && yes != on) {
    if (yes) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
    }
    on = yes
  }

  /** Tags every job the calling thread submits inside `f` with `layer`,
    * and records a span named `name` when tracing is on. A span opened
    * with no enclosing span starts a new trace id. */
  def span[A](name: String, layer: String = null)(f: => A): A = {
    val sc = spark.sparkContext
    val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
    if (layer != null) sc.setLocalProperty(Tracer.LayerKey, layer)
    val t0 = System.nanoTime()
    val parent = stack.headOption
    val id = ids.incrementAndGet()
    val open = Span(id, parent.map(_.trace).getOrElse(id), parent.map(_.id).getOrElse(0L),
      name, t0, 0L)
    val kept = on
    if (kept) stack = open :: stack
    try f
    finally {
      val t1 = System.nanoTime()
      if (kept) {
        stack = stack.drop(1)
        synchronized { spans += open.copy(endNs = t1) }
      }
      sc.setLocalProperty(Tracer.LayerKey, prevLayer)
    }
  }

  /** Waits until the listeners have processed every event posted so far:
    * a job's task and job ends are posted before its action returns, and
    * a stream query's last progress before its `stop()` returns, so
    * totals read afterwards are complete. */
  def drain(): Unit = if (on) org.apache.spark.ListenerBusDrain(spark.sparkContext, 30000L)

  def recorded: Seq[Span] = synchronized(spans.toSeq)

  /** Self time per span name: a span's duration minus the part of its
    * interval covered by its child spans, summed per name, in ms. */
  def selfTimeMs: Map[String, Double] = {
    val all = recorded
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
}
