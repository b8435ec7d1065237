package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sink.{EventPoster, PostResult}

/** One traced interval: a call into a layer's public function, or one
  * phase of a streaming micro-batch. Times are `System.nanoTime`. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** One HTTP attempt seen by [[TimedPoster]]. `status` is -1 when the
  * transport threw; `gapNs` is the wait before a retry of the same payload. */
final case class Attempt(start: Long, end: Long, status: Int, exception: String,
    events: Int, bytes: Int, retry: Boolean, gapNs: Long)

/** In-memory span and attempt buffers, written out when the run ends. Off
  * (and free) unless a traced run switches it on. */
object Trace {
  @volatile var enabled = false
  @volatile var run = ""
  val spans = new ConcurrentLinkedQueue[Span]()
  val attempts = new ConcurrentLinkedQueue[Attempt]()

  def span[T](name: String, parent: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = System.nanoTime()
      try f finally spans.add(Span(name, s, System.nanoTime(), parent, run))
    }

  def clear(): Unit = { spans.clear(); attempts.clear() }

  /** Seconds of `[from, to)` covered by the union of `spans`. */
  def covered(spans: Seq[Span], from: Long, to: Long): Double = {
    var total = 0L; var cur = from
    spans.map(s => (math.max(s.start, from), math.min(s.end, to)))
      .filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { total += e - math.max(s, cur); cur = e }
      }
    total / 1e9
  }
}

/** Timing decorator around the program's `EventPoster`. One instance per
  * sink (the poster factory runs once per partition), so "the previous
  * payload" is the sink's previous attempt and an identical array
  * reference marks a retry. */
final class TimedPoster(inner: EventPoster) extends EventPoster {
  @transient private var last: Array[Byte] = _
  private var lastEnd = 0L

  override def post(gz: Array[Byte], nEvents: Int): PostResult = {
    val start = System.nanoTime()
    val retry = last eq gz
    val gap = if (retry) start - lastEnd else 0L
    def log(status: Int, exception: String): Unit = if (Trace.enabled)
      Trace.attempts.add(Attempt(start, System.nanoTime(), status, exception,
        nEvents, gz.length, retry, gap))
    try {
      val r = inner.post(gz, nEvents)
      log(r.status, null)
      r
    } catch {
      case NonFatal(e) =>
        log(-1, e.getClass.getName)
        throw e
    } finally {
      last = gz
      lastEnd = System.nanoTime()
    }
  }
}

/** Task metrics summed per layer. A job's layer is its job description
  * (set by the benchmark around each call), or `stream` for jobs of a
  * streaming micro-batch; the untagged rest is `other`. */
final class StatsListener extends SparkListener {
  final class Acc {
    val cpuNs = new LongAdder; val runMs = new LongAdder
    val bytesRead = new LongAdder; val recordsRead = new LongAdder
    def totals: LayerTotals = LayerTotals(cpuNs.sum, runMs.sum, bytesRead.sum, recordsRead.sum)
  }
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  /** Jobs per (query id, batch id) of streaming micro-batches. */
  val streamJobs = new ConcurrentHashMap[String, LongAdder]()

  def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)
  def total(f: Acc => LongAdder): Long = accs.values.asScala.map(a => f(a).sum).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val query = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
    val layer = query.map(_ => "stream").orElse(
      p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .filter(_.startsWith(StatsListener.Tag)).map(_.stripPrefix(StatsListener.Tag)))
      .getOrElse("other")
    query.foreach { q =>
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("?")
      streamJobs.computeIfAbsent(s"$q/$batch", _ => new LongAdder).increment()
    }
    e.stageIds.foreach(s => stageLayer.put(s, layer))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageLayer.getOrDefault(e.stageId, "other"))
      a.cpuNs.add(m.executorCpuTime); a.runMs.add(m.executorRunTime)
      a.bytesRead.add(m.inputMetrics.bytesRead); a.recordsRead.add(m.inputMetrics.recordsRead)
    }
  }
}

/** Task metrics of one layer: CPU ns, run ms, input bytes and records. */
final case class LayerTotals(cpuNs: Long, runMs: Long, bytesRead: Long, recordsRead: Long) {
  def -(o: LayerTotals): LayerTotals =
    LayerTotals(cpuNs - o.cpuNs, runMs - o.runMs, bytesRead - o.bytesRead, recordsRead - o.recordsRead)
}

object StatsListener {
  /** Job-description prefix that names the layer of a job. */
  val Tag = "perfbench:"
}

/** Progress of one streaming micro-batch: rows read and phase durations (ms). */
final case class StreamBatch(query: String, batchId: Long, endNs: Long, rows: Long,
    durations: Map[String, Long])

/** Streaming query progress, kept per micro-batch; each progress phase
  * also becomes a span while tracing. */
final class StreamStats extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[StreamBatch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val now = System.nanoTime()
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(StreamBatch(p.id.toString, p.batchId, now, p.numInputRows, d))
    if (Trace.enabled) {
      val total = d.getOrElse("triggerExecution", 0L) * 1000000L
      val batch = s"stream.batch/${p.id}/${p.batchId}"
      Trace.spans.add(Span(batch, now - total, now, "run", Trace.run))
      // phases in execution order, laid end to end inside the trigger
      var t = now - total
      Seq("latestOffset", "queryPlanning", "walCommit", "getBatch", "addBatch", "commitOffsets")
        .foreach { k =>
          val ns = d.getOrElse(k, 0L) * 1000000L
          if (ns > 0) Trace.spans.add(Span(s"stream.$k", t, t + ns, batch, Trace.run))
          t += ns
        }
    }
  }
}
