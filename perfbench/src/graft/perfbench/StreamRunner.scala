package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQuery

import graft.Launcher
import graft.pipeline.StreamingPipeline
import graft.sink.EventPoster

/** Runs `stream_backlog`: the calls `Launcher.startStreams` makes (one
  * `transformStreamRouted` + `sinkStream` per Parquet config over one
  * shared watch directory) with a short trigger, a per-trigger file cap and
  * `onCounters` wired. The streams start on a few warm-up files; then a
  * backlog of pre-staged files is renamed into the watch directory and
  * drained micro-batch by micro-batch. */
final class StreamRunner(o: Main.Opts, work: Path, endpoint: Endpoint) extends Runner {
  import StreamRunner._

  private val nWindow = o.seconds * FilesPerSecond
  private val watch = work.resolve("watch")
  private val stage = work.resolve("stage")
  private val warmStage = work.resolve("warm_stage")
  private val main = manifest(o.seed, watch.toString, nWindow)
  private var ctx: Ctx = _

  /** Transform counters per config, summed over micro-batches. */
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()
  private def counted(k: String): Long =
    counters.values.asScala.map(m => Option(m.get(k)).map(_.sum).getOrElse(0L)).sum

  def setup(): Double = {
    val times = (1 to Main.Setups).map { rep =>
      if (ctx != null) { ctx.spark.stop(); ctx = null }
      val t0 = System.nanoTime()
      var paused = 0L
      val warmWatch = work.resolve(s"warm_watch$rep")
      val warm = manifest(o.seed + 1, warmWatch.toString, 0)
      if (rep == 1) {
        // input generation is not setup
        Gen.write(main.copy(dir = stage.toString))
        Gen.write(warm.copy(dir = warmStage.toString))
        paused = System.nanoTime() - t0
      }
      val uri = Gen.writeConfigs(warm, work.resolve(s"warm_sources$rep.json"))
      ctx = Main.startSession(work, streamArgs(uri, warmWatch))
      val d = endpoint.reset(warm, Script.AcceptAll)
      counters.clear()
      // warm-up files are in place before the streams start: the first
      // micro-batch runs at start, without waiting for a trigger
      arrive(warmStage, warmWatch, warm.files.map(_.name))
      val qs = start(ctx, ctx.args, None)
      val failed = awaitDelivered(d, warm.totalOk, qs)
      val stopped = stop(qs, failed)
      // the warm-up window of the last setup is gated (outside setup time)
      if (stopped.nonEmpty || rep == Main.Setups) {
        val g0 = System.nanoTime()
        val errors = stopped ++ Gate.check(warm, d, observe(ctx)).errors
        if (errors.nonEmpty) throw new GateFailure(errors.map("warm-up: " + _))
        paused += System.nanoTime() - g0
      }
      val t = (System.nanoTime() - t0 - paused) / 1e9
      System.err.println(f"[perfbench] setup $rep: $t%.2f s")
      t
    }
    Report.median(times)
  }

  private def streamArgs(configUri: String, dir: Path): Launcher.Args =
    Main.launcherArgs(configUri, endpoint).copy(mode = "streaming",
      inputSubscription = Some(dir.toString), maxFilesPerTrigger = Some(FilesPerTrigger))

  /** `Launcher.startStreams`, with the workload's trigger and counters. The
    * streams run without DLQ dirs; the gate checks their transform DLQ
    * through the counters. */
  private def start(c: Ctx, a: Launcher.Args, poster: Option[() => EventPoster])
      : Seq[StreamingQuery] = {
    val dir = a.inputSubscription.get
    val post = poster.getOrElse(Launcher.posterFactory(a))
    c.configs.filter(_.isParquet).map { cfg =>
      val compiled = StreamingPipeline.transformStreamRouted(
        c.spark, cfg, c.configs, dir, Gen.Schema, c.opts,
        maxFilesPerTrigger = a.maxFilesPerTrigger)
      StreamingPipeline.sinkStream(compiled, post, _ => (), _ => (),
        triggerInterval = s"$TriggerMs milliseconds",
        onCounters = m => {
          val acc = counters.computeIfAbsent(cfg.configId, _ => new ConcurrentHashMap())
          m.foreach { case (k, v) => acc.computeIfAbsent(k, _ => new LongAdder).add(v) }
        })
        .option("checkpointLocation", s"${dir}_graft_ckpt_${cfg.configId}")
        .start()
    }
  }

  /** Rename staged files into the watch directory (atomic on one file system). */
  private def arrive(from: Path, to: Path, names: Seq[String]): Unit = {
    Files.createDirectories(to)
    names.foreach { n =>
      val tmp = to.resolveSibling(s"${to.getFileName}_incoming")
      Files.createDirectories(tmp)
      Files.copy(from.resolve(n), tmp.resolve(n), StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp.resolve(n), to.resolve(n), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Wait until `n` distinct events are delivered, at most `WaitS` seconds
    * and while every stream runs; why not, if not. */
  private def awaitDelivered(d: Delivery, n: Long, qs: Seq[StreamingQuery]): Seq[String] = {
    val deadline = System.nanoTime() + WaitS * 1000000000L
    while (d.distinct.get < n && System.nanoTime() < deadline && qs.forall(_.isActive))
      Thread.sleep(5)
    if (d.distinct.get >= n) Nil
    else s"streams delivered ${d.distinct.get} of $n events and stopped delivering" +:
      qs.flatMap(_.exception).map(e => s"stream failed: ${e.getMessage}")
  }

  /** Let the streams finish every landed file; a stream failure, if any. */
  private def settle(qs: Seq[StreamingQuery]): Seq[String] =
    try { qs.foreach(_.processAllAvailable()); Nil }
    catch { case NonFatal(e) => Seq(s"stream failed: ${e.getMessage}") }

  /** Stop the streams, after letting them settle unless `failed` says they
    * stopped delivering; what went wrong. */
  private def stop(qs: Seq[StreamingQuery], failed: Seq[String]): Seq[String] = {
    val errors = if (failed.nonEmpty) failed else settle(qs)
    qs.foreach(_.stop())
    errors
  }

  private def observe(c: Ctx): Observed = {
    c.drain()
    Observed(None, None, None,
      counters.asScala.map { case (k, v) => k -> v.asScala.map { case (n, x) => n -> x.sum }.toMap }.toMap,
      None, Nil, None)
  }

  def measure(): Outcome = {
    val c = ctx
    val uri = Gen.writeConfigs(main, work.resolve("sources.json"))
    val a = streamArgs(uri, watch)
    val mc = new Ctx(c.spark, a, Launcher.loadConfigsOrAbort(c.spark, a).fold(sys.error, identity),
      c.opts, c.stats, c.streamStats)
    val d = endpoint.reset(main, Script.AcceptAll)
    counters.clear()
    Trace.clear()
    val inner = Launcher.posterFactory(a)
    // warm-up files, in place before the streams start
    arrive(stage, watch, main.files.take(WarmFiles).map(_.name))
    val qs = start(mc, a, if (o.trace) Some(() => new TimedPoster(inner())) else None)
    var failed = awaitDelivered(d, okOf.take(WarmFiles).sum, qs)
    var landed = WarmFiles

    // The backlog lands in `Drains` parts, one after the other; every
    // metric is the median over the parts, so a burst of CPU steal on the
    // host moves one part, not the run. A traced run alternates untraced
    // and traced parts.
    val part = nWindow / Drains
    val drains = Vector.newBuilder[Drain]
    var i = 0
    while (i < Drains && failed.isEmpty) {
      val to = if (i == Drains - 1) main.files.size else WarmFiles + (i + 1) * part
      val files = landed until to
      landed = to
      drainOnce(mc, d, qs, files, o.trace && i % 2 == 1) match {
        case Right(dr) => drains += dr
        case Left(errors) => failed = errors
      }
      i += 1
    }
    failed = stop(qs, failed)
    // after a failure, the files that never landed are not expected
    val m = main.copy(files = main.files.take(landed))
    val errors = failed ++ Gate.check(m, d, observe(mc)).errors
    if (errors.nonEmpty) return Outcome(Nil, nWindow, 1, errors)

    val epoch = Map(
      "delivered_ratio" -> d.distinct.get.toDouble / main.totalOk,
      "wire_bytes_per_event" -> d.gzBytes.get.toDouble / math.max(1L, d.distinct.get))
    val samples = drains.result().zipWithIndex.map { case (dr, k) =>
      if (!o.trace) dr.e2e ++ epoch
      else {
        val p50 = Map("latency_p50_s" -> dr.e2e("file_latency_p50_s"))
        if (k % 2 == 0) p50 else layerMetrics(dr, part) ++ p50
      }
    }
    System.err.println("[perfbench] window: " +
      samples.last.toSeq.sortBy(_._1).map { case (k, x) => f"$k=$x%.4g" }.mkString(" "))
    Outcome(samples, nWindow, 0, Nil)
  }

  private lazy val okOf: IndexedSeq[Long] =
    main.files.indices.map(f => (0 until main.files(f).rows).count(main.delivers(f, _)).toLong)

  /** Land `files` in the watch directory at once, wait until every event of
    * theirs is delivered and let the streams settle. A file's latency runs
    * from the moment the part landed to the endpoint receiving its last
    * event. Left: why the part was not delivered. */
  private def drainOnce(c: Ctx, d: Delivery, qs: Seq[StreamingQuery], files: Seq[Int],
      traced: Boolean): Either[Seq[String], Drain] = {
    val cpu0 = c.cpuNs; val gc0 = Main.gcSeconds(); val steal0 = Main.stealSeconds()
    val jobs0 = c.stats.streamJobs.values.asScala.map(_.sum).sum
    val (rows0, dlq0, raw0, acc0, dist0) =
      (counted("n_rows"), counted("n_dlq"), d.rawBytes.get, d.accepted.get, d.distinct.get)
    Trace.enabled = traced
    val t0 = System.nanoTime()
    arrive(stage, watch, files.map(main.files(_).name))
    val staged = System.nanoTime()
    val failed = awaitDelivered(d, dist0 + files.map(okOf).sum, qs)
    val errors = if (failed.nonEmpty) failed else settle(qs)
    Trace.enabled = false
    if (errors.nonEmpty) return Left(errors)
    val end = files.map(d.lastNs.get).max
    val cpu = (c.cpuNs - cpu0) / 1e9
    val jobs = c.stats.streamJobs.values.asScala.map(_.sum).sum - jobs0
    val lat = files.filter(okOf(_) > 0).map(f => (d.lastNs.get(f) - t0) / 1e9)
    val events = files.filter(main.eligible).map(main.files(_).rows.toLong).sum
    val batches = c.streamStats.batches.asScala.filter(b => b.rows > 0 && b.endNs >= t0).toSeq
    Right(Drain(Map(
      "events_per_s" -> events / ((end - t0) / 1e9),
      "cpu_s_per_mevent" -> cpu / (events / 1e6),
      "file_latency_p50_s" -> Report.quantile(lat, 0.5),
      "file_latency_p90_s" -> Report.quantile(lat, 0.9)),
      batches, jobs, staged, t0, end,
      Map("gc_s" -> (Main.gcSeconds() - gc0), "task_cpu_s" -> cpu,
        "steal_s" -> (Main.stealSeconds() - steal0),
        "transform.rows_in" -> (counted("n_rows") - rows0).toDouble,
        "transform.rows_dlq" -> (counted("n_dlq") - dlq0).toDouble,
        "sink.bytes_raw" -> (d.rawBytes.get - raw0).toDouble,
        "sink.reposts" -> ((d.accepted.get - acc0) - (d.distinct.get - dist0)).toDouble)))
  }

  private def layerMetrics(dr: Drain, files: Int): Map[String, Double] = {
    val batches = dr.batches
    def p50(f: StreamBatch => Long) = Report.median(batches.map(b => f(b) / 1e3))
    def dur(b: StreamBatch, k: String) = b.durations.getOrElse(k, 0L)
    // files waiting after each micro-batch: every query reads every file
    // (then filters), so a query's rows read count its files
    val backlog = batches.groupBy(_.query).values.flatMap { bs =>
      var rows = 0L
      bs.sortBy(_.batchId).map { b =>
        rows += b.rows
        files - rows / RowsPerFile
      }
    }
    val attempts = Trace.attempts.asScala.filter(a => a.start >= dr.t0 && a.end <= dr.end).toSeq
    BatchRunner.postMetrics(attempts) ++ dr.counts ++ Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_p50_s" -> p50(dur(_, "triggerExecution")),
      "stream.add_batch_p50_s" -> p50(dur(_, "addBatch")),
      "stream.list_p50_s" -> p50(dur(_, "latestOffset")),
      "stream.commit_p50_s" -> p50(b => dur(b, "walCommit") + dur(b, "commitOffsets")),
      "stream.planning_p50_s" -> p50(dur(_, "queryPlanning")),
      "stream.jobs_per_batch" -> (if (batches.isEmpty) 0.0 else dr.jobs.toDouble / batches.size),
      "stream.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "gen.late_ms_max" -> (dr.stagedNs - dr.t0) / 1e6,
      "run.s" -> (dr.end - dr.t0) / 1e9)
  }

  def close(): Unit = if (ctx != null) ctx.spark.stop()
}

object StreamRunner {
  val Name = "stream_backlog"

  /** What one backlog drain measured: end-to-end values, the micro-batches
    * and jobs it took, its times and per-drain layer counts. */
  final case class Drain(e2e: Map[String, Double], batches: Seq[StreamBatch],
      jobs: Long, stagedNs: Long, t0: Long, end: Long, counts: Map[String, Double])

  /** Backlog parts per run. */
  val Drains = 8
  /** Backlog files per window second, each of `RowsPerFile` events. */
  val FilesPerSecond = 16
  val RowsPerFile = 500
  /** Files the streams start on, before the backlog. */
  val WarmFiles = 8
  /** At most this many files per micro-batch. */
  val FilesPerTrigger = 8
  /** Shorter than a micro-batch's work: micro-batches run back to back. */
  val TriggerMs = 200L
  /** Longest wait for a part's delivery before the run fails. */
  val WaitS = 60L

  val Prefixes = Seq("a_", "b_")
  /** Every `UnmatchedEvery`-th file matches no config: each stream reads
    * and drops it. */
  val UnmatchedEvery = 15

  def files(n: Int): IndexedSeq[FileSpec] = (0 until n).map { i =>
    val p = if (i % UnmatchedEvery == UnmatchedEvery - 1) "z_" else Prefixes(i % Prefixes.size)
    FileSpec(f"$p$i%05d.parquet", RowsPerFile)
  }
  def configs(dir: String): Seq[CfgSpec] = Prefixes.zipWithIndex.map { case (p, i) =>
    CfgSpec(s"stream_${p.stripSuffix("_")}", s"$dir/$p", dynamicName = i == 0, wildcard = i == 0)
  }
  /** The warm-up files, then `n` backlog files. */
  def manifest(seed: Long, dir: String, n: Int): Manifest =
    Manifest(seed, dir, configs(dir), files(WarmFiles + n), 0.02)
}
