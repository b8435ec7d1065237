package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sink.EventBatchSink

/** Answer script of the loopback endpoint: status and injected latency as
  * a pure function of the request ordinal (1-based, per epoch), so a
  * workload's failures do not depend on timing. */
final case class Script(latencyMs: Long = 0, status: Long => Int = _ => 200)

object Script {
  val AcceptAll: Script = Script()
  /** A throttled burst at the start of a run (429, 429, 503 on the first
    * three requests, which come from three different sink partitions that
    * then back off side by side), a 400 on every 10th request, and 4 ms on
    * every post. Retries land off the run's critical path only by chance,
    * so they are placed where they overlap: the unseeded backoff jitter of
    * `EventBatchSink` then moves the run's wall time by at most one jitter
    * draw, not by a sum of them. */
  val Flaky: Script = Script(4, o =>
    if (o <= 2) 429 else if (o == 3) 503 else if (o % 10 == 0) 400 else 200)
}

/** What the endpoint saw during one epoch (one batch run or one streaming
  * window). Delivery is tracked per input row, addressed by the
  * `s<seed>f<file>r<row>` insert id the generator planted. */
final class Delivery(val m: Manifest) {
  /** 200-answered deliveries per row. */
  val counts: Array[AtomicIntegerArray] = m.files.map(f => new AtomicIntegerArray(f.rows)).toArray
  /** per file, nanoTime of the first delivery of its last-delivered row. */
  val lastNs = new AtomicLongArray(m.files.size)
  val foreign = new AtomicLong
  val foreignIds = new ConcurrentLinkedQueue[String]()
  val wireErrors = new AtomicLong
  val wireMessages = new ConcurrentLinkedQueue[String]()
  val rawBytes = new AtomicLong
  val gzBytes = new AtomicLong
  val ordinal = new AtomicLong
  /** rows delivered at least once */
  val distinct = new AtomicLong
  /** 200-answered deliveries of planted ids, repeats included */
  val accepted = new AtomicLong
  /** events in batches answered with a 4xx other than 429, which the sink
    * dead-letters without a retry */
  val rejected = new AtomicLong

  /** (file, row) of a planted insert id, or null for a foreign one. */
  def locate(id: String): (Int, Int) = {
    val pre = s"s${m.seed}f"
    if (id == null || !id.startsWith(pre)) return null
    val r = id.indexOf('r', pre.length)
    if (r < 0) return null
    try {
      val f = id.substring(pre.length, r).toInt
      val row = id.substring(r + 1).toInt
      if (f >= 0 && f < m.files.size && row >= 0 && row < m.files(f).rows) (f, row) else null
    } catch { case _: NumberFormatException => null }
  }

  def noteForeign(id: String): Unit = {
    foreign.incrementAndGet()
    if (foreignIds.size < 10) foreignIds.add(String.valueOf(id))
  }

  def wireError(msg: String): Unit = {
    wireErrors.incrementAndGet()
    if (wireMessages.size < 10) wireMessages.add(msg)
  }
}

/** In-process import endpoint on loopback (`com.sun.net.httpserver`, at most
  * four handler threads). It checks the wire shape the sink must send —
  * basic auth with the API secret, gzip content encoding, NDJSON of event
  * objects carrying the project token — and records delivery per insert id.
  * The per-row bookkeeping is a field lookup and an array increment, so the
  * endpoint's own CPU stays small next to the sink it measures. */
final class Endpoint(secret: String, token: String) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(4)
  private val auth = "Basic " + Base64.getEncoder.encodeToString(s"$secret:".getBytes(UTF_8))
  private val mapper = new ObjectMapper()
  @volatile private var epoch: Delivery = _
  @volatile private var script: Script = Script.AcceptAll

  server.createContext("/import", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/import"

  /** Start a new epoch; deliveries before this call are forgotten. */
  def reset(m: Manifest, s: Script): Delivery = {
    script = s
    epoch = new Delivery(m)
    epoch
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  private def handle(ex: HttpExchange): Unit = {
    val d = epoch
    val now = System.nanoTime()
    try {
      val gz = ex.getRequestBody.readAllBytes()
      d.gzBytes.addAndGet(gz.length)
      val s = script
      val status = s.status(d.ordinal.incrementAndGet())
      if (s.latencyMs > 0) Thread.sleep(s.latencyMs)
      val h = ex.getRequestHeaders
      if (h.getFirst("Authorization") != auth) d.wireError("bad Authorization header")
      if (h.getFirst("Content-Encoding") != "gzip") d.wireError("missing gzip Content-Encoding")
      if (status == 200 || (status >= 400 && status < 500 && status != 429)) {
        val raw = EventBatchSink.gunzip(gz)
        d.rawBytes.addAndGet(raw.length)
        val events = record(d, new String(raw, UTF_8), status == 200, now)
        if (status != 200) d.rejected.addAndGet(events)
      }
      val body = (if (status == 200) "{\"code\":200,\"status\":\"OK\"}"
        else s"""{"code":$status,"error":"scripted"}""").getBytes(UTF_8)
      ex.sendResponseHeaders(status, body.length)
      ex.getResponseBody.write(body)
    } catch {
      case t: Throwable =>
        d.wireError(s"unreadable request: $t")
        try ex.sendResponseHeaders(400, -1) catch { case _: Throwable => }
    } finally ex.close()
  }

  /** Record one request's events; returns how many it held. */
  private def record(d: Delivery, ndjson: String, ok: Boolean, now: Long): Int = {
    val lines = ndjson.split('\n')
    checkFirstLine(d, lines(0))
    lines.foreach { line =>
      if (!line.startsWith("{\"event\":") || !line.endsWith("}"))
        d.wireError(s"not an event object: ${line.take(80)}")
      val id = Endpoint.insertId(line)
      val at = d.locate(id)
      if (at == null) d.noteForeign(id)
      else if (ok) {
        d.accepted.incrementAndGet()
        if (d.counts(at._1).getAndIncrement(at._2) == 0) {
          d.distinct.incrementAndGet()
          d.lastNs.accumulateAndGet(at._1, now, Math.max)
        }
      }
    }
    lines.length
  }

  /** Full JSON parse of one line per batch: event name plus the token. */
  private def checkFirstLine(d: Delivery, line: String): Unit =
    try {
      val n = mapper.readTree(line)
      val props = n.get("properties")
      if (n.get("event") == null || !n.get("event").isTextual || props == null ||
          props.get("token") == null || props.get("token").asText != token ||
          props.get("$insert_id") == null)
        d.wireError(s"event without name, token or insert id: ${line.take(80)}")
    } catch { case e: Exception => d.wireError(s"invalid JSON line: $e") }
}

object Endpoint {
  private val Key = "\"$insert_id\":\""
  /** The `$insert_id` string value of one event JSON line, or null. */
  def insertId(line: String): String = {
    val i = line.indexOf(Key)
    if (i < 0) return null
    val s = i + Key.length
    val e = line.indexOf('"', s)
    if (e < 0) null else line.substring(s, e)
  }
}
