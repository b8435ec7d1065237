package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import graft.config.{CastType, FieldMapping, SourceConfig}
import graft.pipeline.{BatchPipeline, StreamingPipeline}
import graft.sink.{EventPoster, PostResult}

/** Events accepted by [[HalfRejectingPoster]] across instances. */
private object OnePassPosted {
  val n = new AtomicLong
}

/** Accepts every other batch and answers the rest 400, so both the
  * posted channel and the API DLQ carry rows. */
private class HalfRejectingPoster extends EventPoster {
  private var calls = 0
  def post(gz: Array[Byte], nEvents: Int): PostResult = {
    calls += 1
    if (calls % 2 == 1) { OnePassPosted.n.addAndGet(nEvents); PostResult(200, "ok") }
    else PostResult(400, "rejected")
  }
}

/** Input records read by file-scan stages, and jobs started per
  * streaming micro-batch. */
private class PassListener extends SparkListener {
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  val scanRecords = new AtomicLong
  val batchJobs = new ConcurrentHashMap[String, AtomicLong]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
      scanStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && scanStages.contains(e.stageId))
      scanRecords.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")).map(q =>
        s"$q/${p.getProperty("streaming.sql.batchId")}"))
      .foreach(k => batchJobs.computeIfAbsent(k, _ => new AtomicLong).incrementAndGet())
}

/** Delivery is one pass: the input is scanned once, events are posted
  * once, and both DLQ channels and the counters come out of that pass —
  * in a batch run and in every streaming micro-batch. */
class OnePassSpec extends SparkSpec {
  import spark.implicits._

  // one file per input, so one partition and several sink batches per
  // partition (2000 events each): the API DLQ gets the rejected ones
  private val Rows = 4500
  private val BadEvery = 10 // every 10th row has an empty event name
  private val Bad = (Rows / BadEvery).toLong

  private def cfg(id: String, prefix: String) = SourceConfig(
    configId = id, sourcePrefix = prefix,
    eventNameField = Some("event_type"),
    fieldMappings = Seq(
      FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
      FieldMapping("uid", "$user_id", CastType.StringT)))

  /** `Rows` rows in one parquet file under `path`. */
  private def writeInput(path: String): Unit =
    (0 until Rows).map(i =>
      (if (i % BadEvery == 0) "" else s"e$i", i.toLong, s"u$i"))
      .toDF("event_type", "ts_epoch", "uid")
      .coalesce(1).write.mode("overwrite").parquet(path)

  private def withListener[T](f: PassListener => T): T = {
    val l = new PassListener
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  test("batch run plus both DLQ writes reads each input row exactly once") {
    val dir = Files.createTempDirectory("graft_onepass").toString
    writeInput(s"$dir/src/a/part.parquet")
    writeInput(s"$dir/src/b/part.parquet")
    val configs = Seq(cfg("a", s"$dir/src/a/"), cfg("b", s"$dir/src/b/"))
    val uris = Seq(s"$dir/src/a/part.parquet", s"$dir/src/b/part.parquet")
    OnePassPosted.n.set(0)
    withListener { l =>
      drain()
      val res = BatchPipeline.run(spark, uris, configs,
        () => new HalfRejectingPoster)
      res.transformDlq.write.json(s"$dir/dlq_transform")
      res.apiDlq.write.json(s"$dir/dlq_api")
      // re-reading either channel neither re-posts nor re-scans
      val posted = OnePassPosted.n.get
      assert(res.transformDlq.count() == res.transformDlq.count())
      assert(res.apiDlq.count() == res.apiDlq.count())
      drain()
      assert(l.scanRecords.get == 2L * Rows)
      assert(OnePassPosted.n.get == posted)
      val ok = 2L * (Rows - Bad)
      val apiRows = spark.read.json(s"$dir/dlq_api").count()
      assert(apiRows > 0 && posted > 0)
      assert(posted + apiRows == ok)
      assert(spark.read.json(s"$dir/dlq_transform").count() == 2L * Bad)
      for (id <- Seq("a", "b")) {
        val m = res.counters.transformMetrics(id)
        assert(m("n_rows") == Rows && m("n_dlq") == Bad, s"$id: $m")
      }
    }
  }

  test("a streaming micro-batch runs exactly one job") {
    val dir = Files.createTempDirectory("graft_onepass_stream").toString
    writeInput(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    var counters = Map.empty[String, Long]
    withListener { l =>
      val q = StreamingPipeline.sinkStream(
        StreamingPipeline.transformStream(spark, cfg("s", s"$dir/in/"),
          s"$dir/in", schema),
        () => new HalfRejectingPoster, _ => (), _ => (),
        triggerInterval = "1 seconds", onCounters = m => counters = m)
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      drain()
      assert(l.batchJobs.get(s"${q.id}/0").get == 1L)
      assert(l.batchJobs.size == 1, l.batchJobs)
    }
    assert(counters == Map("n_rows" -> Rows.toLong, "n_dlq" -> Bad,
      "missing_distinct_id" -> 0L, "ts_parse_errors" -> 0L))
  }

  test("a transform-DLQ writer with two actions neither re-posts nor re-scans") {
    val dir = Files.createTempDirectory("graft_onepass_twice").toString
    writeInput(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    OnePassPosted.n.set(0)
    val dlqCounts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val apiRows = new AtomicLong
    withListener { l =>
      drain()
      val q = StreamingPipeline.sinkStream(
        StreamingPipeline.transformStream(spark, cfg("s", s"$dir/in/"),
          s"$dir/in", schema),
        () => new HalfRejectingPoster,
        dlq => { dlqCounts.add(dlq.count()); dlqCounts.add(dlq.count()) },
        api => apiRows.addAndGet(api.count()),
        triggerInterval = "1 seconds")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      drain()
      assert(l.scanRecords.get == Rows)
    }
    assert(dlqCounts.asScala.toSeq == Seq(Bad, Bad))
    assert(apiRows.get > 0)
    assert(OnePassPosted.n.get + apiRows.get == Rows - Bad)
  }
}
