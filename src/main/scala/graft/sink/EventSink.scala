package graft.sink

import java.io.{ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Result of one HTTP POST attempt. */
final case class PostResult(status: Int, body: String)

/** Pluggable transport so the sink is testable without a network
  * (`M/main.py:356-368` uses a requests.Session; tests inject fakes). */
trait EventPoster extends Serializable {
  /** @param gzippedNdjson gzip of newline-joined event JSON lines. */
  def post(gzippedNdjson: Array[Byte], nEvents: Int): PostResult
}

/** A DLQ record for an event that could not be delivered
  * (`M/main.py:377-400`). */
final case class SinkDlqRecord(reason: String, response: String, payload: String)

/** Batched, retrying event sink — `BatchPostToMixpanel`
  * (`M/main.py:306-423`) re-expressed as a partition-local buffer:
  *
  *  - flush at >= `batchSizeEvents` events or >= `batchSizeBytes` of
  *    UTF-8 payload (checked after each append, `M/main.py:404-413`);
  *  - payload = newline-joined JSON lines, gzipped (`M/main.py:352-354`);
  *  - HTTP 200 => success; 429/5xx/exception => retry with
  *    `min(2^r + U(0,1), 60)`s backoff, at most 5 retries
  *    (`M/main.py:374-376,390-392`);
  *  - other 4xx => whole batch dead-lettered per event with the response
  *    snippet (`M/main.py:377-389`); retries exhausted => per-event DLQ
  *    (`M/main.py:393-400`).
  *
  * Used inside `mapPartitions`/`foreachPartition` — one instance per
  * partition, no shared state, DLQ records returned as data (Spark has
  * no bundle/window mismatch, so the reference's finish_bundle
  * re-windowing workaround disappears; SURVEY.md §2.9).
  *
  * At scale: posting parallelism = partition count; the reference's
  * AddRandomKey+GroupByKey fan-out (`M/main.py:296-303,507-508`) is a
  * plain `repartition(n)` upstream.
  */
final class EventBatchSink(
    poster: EventPoster,
    batchSizeEvents: Int = EventBatchSink.DefaultBatchEvents,
    batchSizeBytes: Long = EventBatchSink.DefaultBatchBytes,
    maxRetries: Int = 5,
    sleeper: Long => Unit = Thread.sleep,
    jitter: () => Double = () => scala.util.Random.nextDouble())
  extends Serializable {

  private val buffer = new ArrayBuffer[String]()
  private var bufferBytes = 0L
  private var sent = 0L

  /** Successfully posted event count (monitoring counter analog,
    * `M/main.py:370-372`). */
  def eventsSent: Long = sent

  /** Append one serialized event; returns DLQ records if this append
    * triggered a flush that dead-lettered. */
  def add(eventJson: String): Seq[SinkDlqRecord] = {
    buffer += eventJson
    bufferBytes += EventBatchSink.utf8Length(eventJson)
    if (buffer.size >= batchSizeEvents || bufferBytes >= batchSizeBytes) flush()
    else Nil
  }

  /** Flush any buffered events; returns DLQ records for failures. */
  def flush(): Seq[SinkDlqRecord] = {
    if (buffer.isEmpty) return Nil
    val gz = EventBatchSink.gzipLines(buffer, bufferBytes)
    var retries = 0
    var dlq = Vector.empty[SinkDlqRecord]
    var done = false
    while (!done && retries < maxRetries) {
      val attempt =
        try Some(poster.post(gz, buffer.size))
        catch { case scala.util.control.NonFatal(_) => None }
      attempt match {
        case Some(r) if r.status == 200 =>
          sent += buffer.size
          done = true
        case Some(r) if r.status == 429 || r.status >= 500 =>
          retries += 1
          backoff(retries)
        case Some(r) => // non-retryable client error: dead-letter the batch
          dlq = buffer.iterator.map(e => SinkDlqRecord(
            s"client_error_${r.status}", r.body.take(500), e)).toVector
          done = true
        case None =>
          retries += 1
          backoff(retries)
      }
    }
    if (!done && retries == maxRetries)
      dlq = buffer.iterator.map(e =>
        SinkDlqRecord("max_retries_reached", "", e)).toVector
    buffer.clear()
    bufferBytes = 0
    dlq
  }

  private def backoff(retries: Int): Unit =
    sleeper((math.min(math.pow(2, retries) + jitter(), 60.0) * 1000).toLong)
}

object EventBatchSink {
  /** `MP_BATCH_SIZE_EVENTS` (`M/main.py:22`). */
  val DefaultBatchEvents = 2000
  /** `MP_BATCH_SIZE_BYTES` (`M/main.py:23`). */
  val DefaultBatchBytes: Long = 2L * 1024 * 1024

  /** `s.getBytes(UTF_8).length` without encoding: 1-3 bytes per char,
    * 4 per surrogate pair, and 1 for an unpaired surrogate (the encoder
    * replaces it with `?`). */
  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (
        if (c < 0x80) 1
        else if (c < 0x800) 2
        else if (!Character.isSurrogate(c)) 3
        else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
        else 1)
      i += 1
    }
    n
  }

  /** gzip of the newline-joined `lines`, encoded as UTF-8 straight into
    * the compressor — the same bytes as `gzip(lines.mkString("\n")
    * .getBytes(UTF_8))` with no joined-string or byte-array copy.
    * `rawBytes` (their encoded size) sizes the output buffer. */
  def gzipLines(lines: Iterable[String], rawBytes: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(64L, rawBytes / 4).toInt)
    val out = new OutputStreamWriter(new GZIPOutputStream(bos, 8192), UTF_8)
    var first = true
    lines.foreach { l =>
      if (!first) out.write('\n')
      out.write(l)
      first = false
    }
    out.close()
    bos.toByteArray
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}

/** Test/offline poster: accepts everything, remembers nothing (for
  * throughput benchmarks) or records batches (for assertions). */
final class RecordingPoster(record: Boolean = true,
    script: Seq[PostResult] = Nil) extends EventPoster {
  val batches = new ArrayBuffer[(Int, Array[Byte])]()
  private var i = 0
  override def post(gz: Array[Byte], nEvents: Int): PostResult = {
    if (record) batches += ((nEvents, gz))
    val r = if (i < script.size) script(i) else PostResult(200, "ok")
    i += 1
    r
  }
}
