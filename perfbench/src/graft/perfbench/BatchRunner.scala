package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Launcher
import graft.pipeline.{BatchPipeline, FileLedger}
import graft.pipeline.BatchPipeline.{BatchCounters, Result}
import graft.sink.EventPoster

/** Runs `batch_flaky_endpoint`: `Launcher --mode batch`'s call sequence
  * (glob, ledger filter, `BatchPipeline.run`, ledger record, DLQ writes)
  * over the generated input, repeated until the window closes, one gated
  * sample per run. A traced run alternates that sequence with the same
  * steps made as separate calls into each layer, each inside a span. */
final class BatchRunner(o: Main.Opts, work: Path, endpoint: Endpoint) extends Runner {
  import BatchRunner._

  private val inDir = work.resolve("in")
  private val (main, warm) = inputs(o.seed, inDir.toString)
  private var ctx: Ctx = _
  private var configUri: String = _
  private var iteration = 0
  /** Time the last sample spent in the gate, which is not setup. */
  private var lastGateNs = 0L

  def setup(): Double = {
    val times = (1 to Main.Setups).map { rep =>
      if (ctx != null) { ctx.spark.stop(); ctx = null }
      val t0 = System.nanoTime()
      var paused = 0L
      if (rep == 1) {
        // input generation is not setup
        Gen.write(main)
        Gen.writeLedger(work.resolve("ledger_base"),
          (0 until LedgerHistory).map(i => s"$inDir/old/$i.parquet"))
        configUri = Gen.writeConfigs(main, work.resolve("sources.json"))
        Gen.writeConfigs(warm, work.resolve("warm_sources.json"))
        paused = System.nanoTime() - t0
      }
      ctx = Main.startSession(work, Main.launcherArgs(configUri, endpoint))
      val warmArgs = ctx.args.copy(sourceConfigsGcsUri = "file://" + work.resolve("warm_sources.json"))
      val warmCtx = new Ctx(ctx.spark, warmArgs,
        Launcher.loadConfigsOrAbort(ctx.spark, warmArgs).fold(sys.error, identity),
        ctx.opts, ctx.stats, ctx.streamStats)
      // the warm-up run of the last setup is gated (outside setup time)
      val gated = rep == Main.Setups
      val s = sample(warmCtx, warm, traced = false, gated)
      if (s._2.nonEmpty) throw new GateFailure(s._2.map("warm-up run: " + _))
      paused += lastGateNs
      val t = (System.nanoTime() - t0 - paused) / 1e9
      System.err.println(f"[perfbench] setup $rep: $t%.2f s (not counted: generation and gate ${paused / 1e9}%.2f s)")
      t
    }
    Report.median(times)
  }

  def measure(): Outcome = {
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val samples = Vector.newBuilder[Map[String, Double]]
    val errors = Vector.newBuilder[String]
    var attempted = 0L; var failed = 0L
    Trace.clear()
    while (System.nanoTime() < deadline || attempted < (if (o.trace) 2 else 1)) {
      val traced = o.trace && attempted % 2 == 1
      val (m, errs) = sample(ctx, main, traced)
      attempted += 1
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
      samples += m
      System.err.println(s"[perfbench] run $attempted${if (traced) " traced" else ""}: " +
        m.toSeq.sortBy(_._1).map { case (k, x) => f"$k=$x%.4g" }.mkString(" "))
    }
    Outcome(samples.result(), attempted, failed, errors.result())
  }

  def close(): Unit = if (ctx != null) ctx.spark.stop()

  /** One gated pipeline run over `m`; returns its metrics and gate errors. */
  private def sample(c: Ctx, m: Manifest, traced: Boolean, gated: Boolean = true)
      : (Map[String, Double], Seq[String]) = {
    iteration += 1
    val dir = work.resolve(s"iter$iteration")
    Files.createDirectories(dir)
    Main.copyTree(work.resolve("ledger_base"), dir.resolve("ledger"))
    val a = c.args.copy(
      inputGcsPattern = Some(s"${m.dir}/*"),
      processedLedgerDir = Some(dir.resolve("ledger").toString),
      dlqTopicTransformErrors = Some(dir.resolve("dlq_transform").toString),
      dlqTopicApiErrors = Some(dir.resolve("dlq_api").toString))
    val script = if (m eq main) Script.Flaky else Script.AcceptAll
    val d = endpoint.reset(m, script)
    val inner = Launcher.posterFactory(a)
    val factory: () => EventPoster = if (traced) () => new TimedPoster(inner()) else inner
    val cpu0 = c.cpuNs; val gc0 = Main.gcSeconds(); val steal0 = Main.stealSeconds()
    val layer0 = layerTotals(c)
    Trace.run = s"$Name/${o.seed}/$iteration"
    Trace.enabled = traced
    val t0 = System.nanoTime()
    val res =
      if (traced) Trace.span("run", "")(tracedRun(c, a, factory))
      else launcherRun(c, a, factory)
    val t1 = System.nanoTime()
    Trace.enabled = false
    val cpu = (c.cpuNs - cpu0) / 1e9
    val layer1 = layerTotals(c)
    val gc = Main.gcSeconds() - gc0; val steal = Main.stealSeconds() - steal0

    if (!gated) {
      Gen.deleteTree(dir)
      lastGateNs = 0
      return (Map.empty, Nil)
    }
    val observed = observe(c, m, res, a)
    val v = Gate.check(m, d, observed)
    lastGateNs = System.nanoTime() - t1
    val wall = (t1 - t0) / 1e9
    val lat = m.files.indices.filter(f => d.lastNs.get(f) > 0).map(f => (d.lastNs.get(f) - t0) / 1e9)
    val metrics = Map(
      "wall_s" -> wall,
      "events_per_s" -> m.totalRows / wall,
      "cpu_s_per_mevent" -> cpu / (m.totalRows / 1e6),
      "delivered_ratio" -> v.delivered.toDouble / m.totalOk,
      "wire_bytes_per_event" -> d.gzBytes.get.toDouble / math.max(1, v.delivered),
      "file_latency_p50_s" -> Report.quantile(lat, 0.5),
      "file_latency_p90_s" -> Report.quantile(lat, 0.9))
    val layers =
      if (!traced) Map.empty[String, Double]
      else layerMetrics(m, d, v, res, observed, layer0, layer1,
        Trace.spans.asScala.filter(_.run == Trace.run).toSeq,
        Trace.attempts.asScala.filter(a => a.start >= t0 && a.end <= t1).toSeq) ++
        Map("gc_s" -> gc, "task_cpu_s" -> cpu, "steal_s" -> steal)
    Gen.deleteTree(dir)
    (metrics ++ layers, v.errors)
  }

  /** `Launcher.main`'s batch branch, step for step. */
  private def launcherRun(c: Ctx, a: Launcher.Args, factory: () => EventPoster): Result = {
    val led = a.processedLedgerDir.get
    val uris = FileLedger.unprocessed(c.spark, glob(c, a.inputGcsPattern.get), led)
    val res = BatchPipeline.run(c.spark, uris, c.configs, factory, c.opts)
    FileLedger.record(c.spark, res.imported, led)
    res.transformDlq.write.mode("append").json(a.dlqTopicTransformErrors.get)
    res.apiDlq.write.mode("append").json(a.dlqTopicApiErrors.get)
    res
  }

  /** The same run as separate calls into each layer's public functions,
    * each in a span and under a job description naming its layer. The
    * transform is also forced once through a no-op sink so its cost shows
    * apart from the sink's. */
  private def tracedRun(c: Ctx, a: Launcher.Args, factory: () => EventPoster): Result = {
    val sc = c.spark.sparkContext
    def layer[T](name: String)(f: => T): T = {
      sc.setJobDescription(StatsListener.Tag + name)
      try Trace.span(name, "run")(f) finally sc.setJobDescription(null)
    }
    val led = a.processedLedgerDir.get
    val globbed = layer("list")(glob(c, a.inputGcsPattern.get))
    val uris = layer("ledger.filter")(FileLedger.unprocessed(c.spark, globbed, led))
    // the decoys keep the glob above the threshold, so `BatchPipeline.run`
    // routes on the cluster too
    require(uris.size > BatchPipeline.DistributedRouteThreshold, s"${uris.size} URIs routed locally")
    val (routed, matched, unmatched) =
      layer("route")(BatchPipeline.routeFilesDistributed(c.spark, uris, c.configs))
    val (readable, readErrors) = layer("footer")(BatchPipeline.isolateCorrupt(c.spark, routed))
    layer("transform") {
      val (json, _, _) = BatchPipeline.transformObserved(c.spark, readable, c.opts)
      json.write.format("noop").mode("overwrite").save()
    }
    val res = layer("sink") {
      val (json, dlq, obs) = BatchPipeline.transformObserved(c.spark, readable, c.opts)
      val api = BatchPipeline.post(json, factory).localCheckpoint(true)
      Result(json, dlq, api, BatchCounters(matched, unmatched, readErrors, obs),
        readable.values.flatten.toSeq)
    }
    layer("ledger.record")(FileLedger.record(c.spark, res.imported, led))
    layer("dlq") {
      res.transformDlq.write.mode("append").json(a.dlqTopicTransformErrors.get)
      res.apiDlq.write.mode("append").json(a.dlqTopicApiErrors.get)
    }
    res
  }

  /** Gather what the program reported and wrote. */
  private def observe(c: Ctx, m: Manifest, res: Result, a: Launcher.Args): Observed =
    Observed(Some(res.counters.routed), Some(res.counters.unmatchedUris),
      Some(res.counters.readErrors),
      m.expected.keys.map(id => id -> res.counters.transformMetrics(id)).toMap,
      Some(dlqCounts(readDlq(c, a.dlqTopicTransformErrors.get, TransformDlqSchema))),
      payloadIds(readDlq(c, a.dlqTopicApiErrors.get, ApiDlqSchema)),
      Some(res.imported.toSet))
}

object BatchRunner {
  val Name = "batch_flaky_endpoint"
  /** Name prefix of objects no config matches. */
  val Decoy = "zz_"
  val BadShare = 0.10
  /** Historical URIs already in the ledger before the run; none of them is
    * in the glob, so the anti-join has real work and filters nothing. */
  val LedgerHistory = 5000

  /** A few large files under one wildcard config with typed
    * `time`/`$user_id`/`$insert_id` mappings, 10% transform-bad rows and
    * both DLQ dirs; an endpoint answering a fixed share of 429/503/400 by
    * request ordinal. Around them, the listing a backfill meets: a second
    * config shadowed by the first (first match wins), a CSV config with its
    * objects, two truncated-footer files and enough decoys that the glob
    * lists more than 10,000 URIs (distributed routing), and the
    * processed-file ledger on, holding older URIs. `p` goes in front of
    * every config id and prefix. */
  def configs(dir: String, p: String): Seq[CfgSpec] = Seq(
    CfgSpec(s"${p}events", s"$dir/${p}events_"),
    CfgSpec(s"${p}events_archive", s"$dir/${p}events_archive_", dynamicName = false),
    CfgSpec(s"${p}exports", s"$dir/${p}exports_", fileType = "CSV"))

  /** The object layout with `rows` events per event file. */
  def files(rows: Int): IndexedSeq[FileSpec] = {
    val events = (0 until EventFiles).map(i => FileSpec(f"events_$i%02d.parquet", rows))
    val corrupt = (0 until 2).map(i => FileSpec(f"events_corrupt_$i.parquet", 250, corrupt = true))
    val csv = (0 until 10).map(i => FileSpec(f"exports_$i%03d.csv", 0, parquet = false))
    val decoys = (0 until 10300).map(i => FileSpec(f"${Decoy}other_$i%05d.json", 0, parquet = false))
    (events ++ corrupt ++ csv ++ decoys).toIndexedSeq
  }
  val EventFiles = 4
  val Rows = 250000
  val WarmRows = 10000

  /** (measured, warm-up) manifests. The warm-up objects are the layout at
    * `WarmRows` without the decoys, under a `w_` name prefix that only the
    * `w_` configs match. Both manifests list every object of the directory,
    * since every run globs all of them. */
  def inputs(seed: Long, dir: String): (Manifest, Manifest) = {
    val warm = files(WarmRows).filterNot(_.name.startsWith(Decoy))
      .map(f => f.copy(name = "w_" + f.name))
    val all = files(Rows) ++ warm
    (Manifest(seed, dir, configs(dir, ""), all, BadShare),
      Manifest(seed, dir, configs(dir, "w_"), all, BadShare))
  }

  val TransformDlqSchema: StructType = StructType(Seq("error_type", "config_id",
    "source_field", "original_row").map(StructField(_, StringType)))
  val ApiDlqSchema: StructType = StructType(Seq("reason", "response", "payload")
    .map(StructField(_, StringType)))

  /** `Launcher.main`'s glob: local paths come back `file:`-schemed and are
    * stripped so they prefix-match plain-path configs. */
  def glob(c: Ctx, pattern: String): Seq[String] = {
    val p = new HPath(pattern)
    p.getFileSystem(c.spark.sparkContext.hadoopConfiguration).globStatus(p).toSeq.map { st =>
      val u = st.getPath.toUri
      if (u.getScheme == null || u.getScheme == "file") u.getPath else st.getPath.toString
    }
  }

  def readDlq(c: Ctx, dir: String, schema: StructType): DataFrame =
    if (!Files.exists(Path.of(dir))) c.spark.createDataFrame(
      c.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else c.spark.read.schema(schema).option("recursiveFileLookup", "true").json(dir)

  def dlqCounts(dlq: DataFrame): Map[(String, String), Long] =
    dlq.groupBy("config_id", "error_type").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  def payloadIds(api: DataFrame): Seq[String] =
    api.select(col("payload")).collect().map(r => Endpoint.insertId(r.getString(0))).toSeq

  def layerTotals(c: Ctx): Map[String, LayerTotals] = {
    c.drain()
    Seq("transform", "sink", "dlq").map(l => l -> c.stats.acc(l).totals).toMap
  }

  def exceptionKind(cls: String): String =
    if (cls.contains("Timeout")) "timeout"
    else if (scala.util.Try(classOf[java.io.IOException].isAssignableFrom(Class.forName(cls)))
        .getOrElse(false)) "io"
    else "other"

  /** Post-layer metrics from the decorator's attempts. */
  def postMetrics(attempts: Seq[Attempt]): Map[String, Double] = {
    val lat = attempts.map(a => (a.end - a.start) / 1e6)
    val exc = attempts.filter(_.status < 0).map(a => exceptionKind(a.exception))
    Map(
      "post.attempts" -> attempts.size.toDouble,
      "post.retries_429" -> attempts.count(_.status == 429).toDouble,
      "post.retries_5xx" -> attempts.count(_.status >= 500).toDouble,
      "post.exceptions" -> exc.size.toDouble,
      "post.exceptions_timeout" -> exc.count(_ == "timeout").toDouble,
      "post.exceptions_io" -> exc.count(_ == "io").toDouble,
      "post.exceptions_other" -> exc.count(_ == "other").toDouble,
      "post.latency_p50_ms" -> Report.quantile(lat, 0.5),
      "post.latency_p99_ms" -> Report.quantile(lat, 0.99),
      "post.busy_s" -> lat.sum / 1e3,
      "backoff.s" -> attempts.filter(_.retry).map(_.gapNs / 1e9).sum,
      "sink.batches" -> attempts.count(!_.retry).toDouble,
      "sink.bytes_gz" -> attempts.filter(!_.retry).map(_.bytes.toDouble).sum)
  }

  def layerMetrics(m: Manifest, d: Delivery, v: Verdict, res: Result, o: Observed,
      before: Map[String, LayerTotals], after: Map[String, LayerTotals],
      spans: Seq[Span], attempts: Seq[Attempt]): Map[String, Double] = {
    def secs(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    def delta(l: String) = after(l) - before(l)
    val run = spans.find(_.name == "run")
    val runS = run.map(_.seconds).getOrElse(0.0)
    val top = spans.filter(_.parent == "run")
    val selfS = run.map(r => runS - Trace.covered(top, r.start, r.end)).getOrElse(0.0)
    val post = postMetrics(attempts)
    val (t, sink, dlq) = (delta("transform"), delta("sink"), delta("dlq"))
    val counters = o.counters.values
    post ++ Map(
      "list.s" -> secs("list"),
      "route.s" -> secs("route"),
      "route.uris" -> (res.counters.routed.values.sum + res.counters.unmatchedUris).toDouble,
      "route.unmatched" -> res.counters.unmatchedUris.toDouble,
      "footer.s" -> secs("footer"),
      "footer.files" -> (res.imported.size + res.counters.readErrors.values.sum).toDouble,
      "footer.corrupt" -> res.counters.readErrors.values.sum.toDouble,
      "ledger.filter_s" -> secs("ledger.filter"),
      "ledger.record_s" -> secs("ledger.record"),
      "transform.s" -> secs("transform"),
      "transform.task_cpu_s" -> t.cpuNs / 1e9,
      "transform.rows_in" -> counters.map(_.getOrElse("n_rows", 0L)).sum.toDouble,
      "transform.rows_dlq" -> counters.map(_.getOrElse("n_dlq", 0L)).sum.toDouble,
      "scan.bytes_read" -> (sink.bytesRead + dlq.bytesRead).toDouble,
      "scan.files" -> res.imported.size.toDouble,
      "scan.passes" -> (sink.recordsRead + dlq.recordsRead).toDouble / math.max(1L, m.totalRows),
      "sink.s" -> secs("sink"),
      "sink.task_cpu_s" -> sink.cpuNs / 1e9,
      "sink.self_s" -> ((sink.runMs - t.runMs) / 1e3 - post("post.busy_s") - post("backoff.s")),
      "sink.bytes_raw" -> d.rawBytes.get.toDouble,
      "sink.reposts" -> v.reposts.toDouble,
      "dlq.transform_rows" -> o.dlqByType.map(_.values.sum.toDouble)
        .getOrElse(counters.map(_.getOrElse("n_dlq", 0L)).sum.toDouble),
      "dlq.api_rows" -> o.apiDlqIds.size.toDouble,
      "dlq.write_s" -> secs("dlq"),
      "run.s" -> runS,
      "run.self_s" -> selfS,
      "trace.coverage" -> (if (runS > 0) 1 - selfS / runS else 0.0))
  }
}
