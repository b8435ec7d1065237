package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.sink._

/** K1 `BatchPostToMixpanel` semantics (`M/main.py:306-423`): buffer
  * thresholds, gzip framing, retry/backoff, DLQ channels. */
class SinkSpec extends SparkSpec {

  private def sinkWith(script: Seq[PostResult],
      batchEvents: Int = 3, batchBytes: Long = 1 << 20)
      : (EventBatchSink, RecordingPoster, ArrayBuffer[Long]) = {
    val poster = new RecordingPoster(script = script)
    val sleeps = ArrayBuffer[Long]()
    val sink = new EventBatchSink(poster, batchEvents, batchBytes,
      maxRetries = 5, sleeper = ms => { sleeps += ms; () }, jitter = () => 0.5)
    (sink, poster, sleeps)
  }

  test("flushes at the event-count threshold") {
    val (sink, poster, _) = sinkWith(Nil, batchEvents = 3)
    assert(sink.add("""{"e":1}""").isEmpty)
    assert(sink.add("""{"e":2}""").isEmpty)
    assert(sink.add("""{"e":3}""").isEmpty) // triggers flush, all OK
    assert(poster.batches.map(_._1).toSeq == Seq(3))
    assert(sink.eventsSent == 3)
  }

  test("flushes at the byte threshold") {
    val big = "x" * 600
    val (sink, poster, _) = sinkWith(Nil, batchEvents = 1000, batchBytes = 1000)
    sink.add(big); sink.add(big) // 1200 bytes >= 1000
    assert(poster.batches.size == 1 && poster.batches(0)._1 == 2)
  }

  test("payload is gzipped newline-joined NDJSON") {
    val (sink, poster, _) = sinkWith(Nil, batchEvents = 2)
    sink.add("""{"a":1}"""); sink.add("""{"b":2}""")
    val body = new String(EventBatchSink.gunzip(poster.batches(0)._2), UTF_8)
    assert(body == "{\"a\":1}\n{\"b\":2}")
  }

  test("retries 429/5xx with exponential backoff, then succeeds") {
    val (sink, poster, sleeps) = sinkWith(
      Seq(PostResult(429, ""), PostResult(503, ""), PostResult(200, "ok")))
    sink.add("e")
    val dlq = sink.flush()
    assert(dlq.isEmpty && sink.eventsSent == 1)
    assert(poster.batches.size == 3)
    // min(2^r + 0.5, 60) seconds in millis for r = 1, 2
    assert(sleeps.toSeq == Seq(2500L, 4500L))
  }

  test("non-retryable 4xx dead-letters every event with response snippet") {
    val (sink, _, _) = sinkWith(Seq(PostResult(400, "bad" * 500)))
    sink.add("e1"); sink.add("e2")
    val dlq = sink.flush()
    assert(dlq.map(_.reason).distinct == Seq("client_error_400"))
    assert(dlq.map(_.payload) == Seq("e1", "e2"))
    assert(dlq.head.response.length == 500) // truncated snippet
  }

  test("exhausted retries dead-letter the batch") {
    val (sink, _, sleeps) = sinkWith(Seq.fill(5)(PostResult(500, "boom")))
    sink.add("e1")
    val dlq = sink.flush()
    assert(dlq.map(_.reason) == Seq("max_retries_reached"))
    // 2^r + 0.5 for r = 1..5; the 60 s cap is above all of these
    assert(sleeps.toSeq == Seq(2500L, 4500L, 8500L, 16500L, 32500L))
  }

  test("byte threshold counts UTF-8 bytes: multi-byte chars and surrogate pairs") {
    // 2 + 3 + 4 bytes: é, €, and U+1F600 (a surrogate pair)
    val unit = "\u00e9\u20ac\ud83d\ude00"
    val line = unit * 100 // 400 UTF-16 chars, 900 bytes
    assert(line.getBytes(UTF_8).length == 900)
    // two lines flush at 1800 bytes but not at 1801: counted exactly 900
    val (exact, atLimit, _) = sinkWith(Nil, batchEvents = 1000, batchBytes = 1800)
    val (above, belowLimit, _) = sinkWith(Nil, batchEvents = 1000, batchBytes = 1801)
    Seq(exact, above).foreach { s => s.add(line); s.add(line) }
    assert(atLimit.batches.map(_._1).toSeq == Seq(2))
    assert(belowLimit.batches.isEmpty)
    // an unpaired surrogate encodes as the 1-byte '?', and the payload
    // is exactly the joined lines' UTF-8
    val odd = Seq("a\ud83d", "\ude00b", unit)
    assert(odd.map(EventBatchSink.utf8Length) == odd.map(_.getBytes(UTF_8).length.toLong))
    odd.foreach(exact.add)
    exact.flush()
    assert(EventBatchSink.gunzip(atLimit.batches(1)._2).toSeq ==
      odd.mkString("\n").getBytes(UTF_8).toSeq)
  }
}
