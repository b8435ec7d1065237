package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{Launcher, Sessions}
import graft.compile.ConfigCompiler
import graft.config.SourceConfig

/** One named number of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** A live session with everything a workload needs from setup. */
final class Ctx(val spark: SparkSession, val args: Launcher.Args,
    val configs: Seq[SourceConfig], val opts: ConfigCompiler.Options,
    val stats: StatsListener, val streamStats: StreamStats) {
  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)
  def cpuNs: Long = { drain(); stats.total(_.cpuNs) }
}

/** Outcome of a run: per-sample metric values (one sample per batch run or
  * per streaming window), how many operations were attempted and failed,
  * and the gate's messages. */
final case class Outcome(samples: Seq[Map[String, Double]], attempted: Long,
    failed: Long, errors: Seq[String])

/** The correctness gate failed outside the measured samples (a warm-up run)
  * or the run could not reach it (a stream that stopped delivering): the
  * run reports `correct: false` with these messages. */
final class GateFailure(val errors: Seq[String]) extends Exception(errors.mkString("; "))

/** Benchmark entry point; `run.py` builds this and calls it. Prints one
  * JSON result line last on stdout and exits 0, or 1 when the correctness
  * gate failed. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: String = ".bench_build/work",
      traces: String = ".bench_build/traces")

  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  val Secret = "perfbench-secret"
  val Token = "perfbench-token"

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--traces" :: v :: t => parse(t, o.copy(traces = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    val code =
      try {
        val (line, ok) = run(o)
        println(line)
        if (ok) 0 else 1
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  def run(o: Opts): (String, Boolean) = {
    val workloads = Seq(BatchRunner.Name, StreamRunner.Name)
    require(workloads.contains(o.workload),
      s"unknown workload ${o.workload}; known: ${workloads.mkString(", ")}")
    val work = Path.of(o.work, s"${o.workload}-${o.seed}").toAbsolutePath
    Gen.deleteTree(work)
    Files.createDirectories(work)
    val endpoint = new Endpoint(Secret, Token)
    try {
      val runner =
        if (o.workload == BatchRunner.Name) new BatchRunner(o, work, endpoint)
        else new StreamRunner(o, work, endpoint)
      val (setupS, outcome) =
        try {
          val s = runner.setup()
          (s, runner.measure())
        } catch { case g: GateFailure => (0.0, Outcome(Nil, 1, 1, g.errors)) }
      val spans = Trace.spans.asScala.toSeq
      val attempts = Trace.attempts.asScala.toSeq
      runner.close()
      if (o.trace) writeTrace(Path.of(o.traces), o.workload, o.seed, spans, attempts)
      val ok = outcome.errors.isEmpty && outcome.failed == 0
      if (!ok) {
        System.err.println(s"[perfbench] CORRECTNESS GATE FAILED on ${o.workload} seed ${o.seed}:")
        outcome.errors.distinct.take(20).foreach(e => System.err.println(s"[perfbench]   $e"))
      }
      val metrics =
        if (!ok) Nil
        else if (o.trace) Report.perLayer(outcome.samples)
        else Report.endToEnd(outcome.samples, setupS, peakRssMb())
      (Report.json(ok, outcome.attempted, outcome.failed, metrics), ok)
    } finally {
      endpoint.stop()
      Gen.deleteTree(work)
    }
  }

  /** Session as `Launcher.main` builds it, at `local[4]`, with scratch
    * space inside the work directory. Like `Launcher.main`, no
    * `Sessions.warm`: a one-time cost the program pays lands in setup. */
  def startSession(work: Path, args: Launcher.Args): Ctx = {
    val spark = Sessions.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stats = new StatsListener
    spark.sparkContext.addSparkListener(stats)
    val streamStats = new StreamStats
    spark.streams.addListener(streamStats)
    val configs = Launcher.loadConfigsOrAbort(spark, args).fold(sys.error, identity)
    val opts = ConfigCompiler.Options(deterministic = false, token = args.mixpanelProjectToken)
    new Ctx(spark, args, configs, opts, stats, streamStats)
  }

  def launcherArgs(configUri: String, endpoint: Endpoint): Launcher.Args =
    Launcher.parseArgs(Seq("--mode", "batch",
      "--source_configs_gcs_uri", configUri, "--config_uri_scheme", "file",
      "--mixpanel_project_token", Token, "--mixpanel_api_secret", Secret,
      "--mixpanel_api_url", endpoint.url))

  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Hypervisor steal since boot, seconds (USER_HZ = 100). */
  def stealSeconds(): Double =
    try Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
    catch { case _: Exception => 0.0 }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def writeTrace(dir: Path, workload: String, seed: Long, spans: Seq[Span],
      attempts: Seq[Attempt]): Unit = {
    Files.createDirectories(dir)
    val t0 = (spans.map(_.start) ++ attempts.map(_.start)).minOption.getOrElse(0L)
    def q(s: String) = if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.sortBy(_.start).map(s =>
      s"""{"name":${q(s.name)},"start":${(s.start - t0) / 1e9},"end":${(s.end - t0) / 1e9},"parent":${q(s.parent)},"run":${q(s.run)}}""") ++
      attempts.sortBy(_.start).map(a =>
        s"""{"name":"post","start":${(a.start - t0) / 1e9},"end":${(a.end - t0) / 1e9},"parent":"sink","status":${a.status},"exception":${q(a.exception)},"events":${a.events},"bytes":${a.bytes},"retry":${a.retry},"gap_s":${a.gapNs / 1e9}}""")
    Files.write(dir.resolve(s"$workload-seed$seed.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** A workload's life in one run: `setup` (timed, repeated), `measure`
  * (the timed window), `close`. */
trait Runner {
  /** Median seconds of the setup repetitions. */
  def setup(): Double
  def measure(): Outcome
  def close(): Unit
}
