package graft

import java.lang.management.ManagementFactory

import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-query task-metric aggregation: separates "the engine did more
  * work" (task time, GC, spill, shuffle volume) from "the box was
  * slow" (wall-clock stretching while task totals stay put) — the
  * distinction that makes a slow bench run diagnosable instead of a
  * mystery. Listener-bus events are async; the post-query settle sleep
  * in the loop doubles as the drain window. */
final class BenchListener extends SparkListener {
  val taskTimeMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcTimeMs = new LongAdder
  val spillBytes = new LongAdder
  val shuffleReadBytes = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val tasks = new LongAdder
  /** Straggler forensics: any task over [[BenchListener.SlowTaskMs]]
    * is recorded with its stage's callsite so a slow run names the
    * operator that stalled, not just the query. */
  val slowTasks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Largest single-task CPU time in the query — THE wedge signature
    * (one task at run≈cpu for 90-150 s while siblings take ms). Carried
    * into the stdout metric line so a wedged bench total is
    * discountable from the JSON alone. */
  val maxTaskCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
  /** Live tasks (taskId -> start wall-ms, stageId, partition index) for
    * the wedge watchdog in [[Bench.main]]. */
  val running =
    new java.util.concurrent.ConcurrentHashMap[Long, (Long, Int, Int)]()
  /** Task attempts the watchdog killed: tid -> (stageId, partition).
    * Registered by the watchdog BEFORE it calls killTaskAttempt. */
  val killedTasks =
    new java.util.concurrent.ConcurrentHashMap[Long, (Int, Int)]()
  /** Wall seconds of the slowest RELAUNCHED attempt of a killed task
    * (same stage+partition, different tid) — the number that proves a
    * wedge kill bounded the query: a sub-second relaunch means the
    * stage moved on while the zombie burned CPU off to the side. */
  val relaunchMsMax = new java.util.concurrent.atomic.AtomicLong(0)
  /** Per-stage attribution (stage id -> summed task CPU ns, tasks,
    * callsite), so a query's CPU names the operator that spent it. */
  private val stageCpuNs =
    new java.util.concurrent.ConcurrentHashMap[Int, LongAdder]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, LongAdder]()
  private val callsites =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageExecution =
    new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val executionFrames =
    new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def reset(): Unit = {
    Seq(taskTimeMs, taskCpuNs, gcTimeMs, spillBytes,
      shuffleReadBytes, shuffleWriteBytes, tasks).foreach(_.reset())
    slowTasks.clear()
    maxTaskCpuNs.set(0)
    running.clear()
    killedTasks.clear()
    relaunchMsMax.set(0)
    stageCpuNs.clear()
    stageTasks.clear()
    callsites.clear()
    stageExecution.clear()
    executionFrames.clear()
  }

  /** Stages that ran tasks since the last [[reset]], most CPU first. */
  def stageCosts: Seq[BenchListener.StageCost] =
    stageCpuNs.asScala.toSeq.map { case (sid, cpu) =>
      BenchListener.StageCost(sid, cpu.sum, stageTasks.get(sid).sum,
        callsites.getOrDefault(sid, "?"))
    }.sortBy(c => (-c.cpuNs, c.stageId))

  /** A stage's callsite: its operators (the SQL scopes of its RDDs, in
    * pipeline order) and its innermost three `graft.*` frames — from the
    * stage's own submitting stack, else from its SQL execution's action
    * (AQE submits shuffle stages from a pool thread). [[Bench]]'s own
    * frames count only when no other `graft.*` frame is on the stack. */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val ops = info.rddInfos.sortBy(_.id)
      .flatMap(_.scope.flatMap(s => BenchListener.ScopeName
        .findFirstMatchIn(s.toString).map(_.group(1).trim)))
      .distinct.mkString(" > ")
    val frames = Some(BenchListener.graftFrames(info.details))
      .filter(_.nonEmpty)
      .orElse(Option(stageExecution.get(info.stageId))
        .flatMap(id => Option(executionFrames.get(id))))
      .getOrElse("")
    callsites.put(info.stageId, s"[$ops] $frames".take(300))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExecution.put(_, id.toLong)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionFrames.put(s.executionId, BenchListener.graftFrames(s.details))
    case _ => ()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    running.put(e.taskInfo.taskId,
      (System.currentTimeMillis(), e.stageId, e.taskInfo.index))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    running.remove(e.taskInfo.taskId)
    if (!killedTasks.containsKey(e.taskInfo.taskId) &&
        killedTasks.containsValue((e.stageId, e.taskInfo.index))) {
      val runMs = e.taskInfo.finishTime - e.taskInfo.launchTime
      relaunchMsMax.accumulateAndGet(runMs, Math.max(_, _))
    }
    val m = e.taskMetrics
    if (m != null) {
      maxTaskCpuNs.accumulateAndGet(m.executorCpuTime, Math.max(_, _))
      taskTimeMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcTimeMs.add(m.jvmGCTime)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      tasks.add(1)
      stageCpuNs.computeIfAbsent(e.stageId, _ => new LongAdder)
        .add(m.executorCpuTime)
      stageTasks.computeIfAbsent(e.stageId, _ => new LongAdder).add(1)
      if (m.executorRunTime >= BenchListener.SlowTaskMs)
        slowTasks.add(s"stage ${e.stageId} " +
          s"(${callsites.getOrDefault(e.stageId, "?")}) " +
          s"task ${e.taskInfo.index}: run=${m.executorRunTime / 1000}s " +
          s"cpu=${m.executorCpuTime / 1000000000L}s " +
          s"gc=${m.jvmGCTime / 1000}s")
    }
  }
}

object BenchListener {
  val SlowTaskMs = 5000L

  final case class StageCost(stageId: Int, cpuNs: Long, tasks: Long,
      callsite: String)

  /** The operator name in an RDD scope's JSON form. */
  private val ScopeName = "\"name\":\"([^\"]*)\"".r

  /** The innermost three `graft.*` frames of a call-site stack, joined
    * outward; Bench's own frames only if they are all there is. */
  private def graftFrames(stack: String): String = {
    val graft = stack.linesIterator.map(_.trim.stripPrefix("at "))
      .filter(_.contains("graft.")).toSeq
    val own = graft.filterNot(_.contains("graft.Bench$"))
    (if (own.nonEmpty) own else graft).take(3).mkString(" <- ")
  }
}

object Bench {

  /** Stages per query printed to stderr by CPU (`[bench-stage]`). */
  private val TopStages = 5

  /** Pull every input byte through the OS page cache before timing:
    * the first query over a cold file otherwise pays the physical read
    * inside its measurement. */
  def warmInputs(dir: String): Unit = {
    val f = new java.io.File(dir)
    val files = Option(f.listFiles()).getOrElse(Array.empty)
    files.foreach { child =>
      if (child.isDirectory) warmInputs(child.getPath)
      else {
        val in = new java.io.FileInputStream(child)
        val buf = new Array[Byte](1 << 20)
        try { while (in.read(buf) > 0) () } finally in.close()
      }
    }
  }

  private def driverGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Hypervisor CPU-steal seconds since boot (/proc/stat cpu field 8,
    * USER_HZ ticks). This box is a shared VM: a steal burst stretches
    * task WALL time while task CPU time stays flat — the signature
    * that a slow bench run was the box, not the engine. 0 when
    * unreadable. */
  private def stealSeconds: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  private def jitTotalMs: Long =
    try ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    catch { case _: Exception => 0L }

  /** Used bytes across the JIT CodeHeap pools (method code evicted from
    * a full code cache runs interpreted — one candidate cause of the
    * single-task CPU wedge; tracked per query to correlate). */
  private def codeCacheUsedMb: Double =
    try ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
    catch { case _: Exception => 0.0 }

  /** Wedge forensics: stack of every live executor task thread plus
    * JIT state, printed to stderr when the watchdog trips. */
  private def dumpTaskThreads(tag: String): Unit = {
    val jit = s"jit_total_ms=$jitTotalMs codecache_used_mb=${codeCacheUsedMb.toInt}"
    System.err.println(s"[bench-wedge] $tag $jit")
    Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
      if (t.getName.startsWith("Executor task launch worker")) {
        System.err.println(s"[bench-wedge] thread ${t.getName} state=${t.getState}")
        frames.take(30).foreach(f => System.err.println(s"[bench-wedge]   at $f"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Straggler guard: diagnosed (rare, ~1-in-8 runs) single-task
    // wedges — a task burning 100-270 s of CPU while every other
    // core idles, with steal/GC/spill ruled out by the diag metrics.
    // Speculation re-launches any such outlier on an idle core; the
    // copy completes in the task's normal sub-second time and the
    // stage moves on. Bench queries are side-effect-free, so
    // duplicate task attempts are safe here (the posting sink path
    // is NOT benched with a real poster).
    //
    // Round 19 (the 32-core efficiency diagnosis): the r18 settings
    // (interval 1 s, quantile 0.75, multiplier 4, no runtime floor)
    // speculated ORDINARY sub-second tasks once 32 slots made a
    // 4x-median outlier common. Measured A/B on the 10-gate heavy
    // subset at local[32], identical binary: tempering saves 4-9%
    // task time on the shuffle-heavy gates (stream_graph_append
    // 96.9→87.9 task-s, stream_incremental_dedup 126.0→115.2,
    // embed_dbscan 178.4→165.3) and ~0 on CPU-bound ones — real but
    // NOT the 32-core collapse cause (round 19 put that on VM
    // memory-bandwidth/scheduling contention; AQE size-based
    // coalescing measured worse and stays off). minTaskRuntime keeps
    // speculation armed strictly for the wedge it was added for
    // (tasks that normally finish in ms running 20 s+), and the 45 s
    // watchdog kill below stays as the backstop.
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "2s")
      .config("spark.speculation.multiplier", "4")
      .config("spark.speculation.quantile", "0.75")
      .config("spark.speculation.minTaskRuntime", "20s")
      .config("spark.speculation.task.duration.threshold", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.warm(spark)
    warmInputs(sfDir)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    // ---- wedge watchdog -------------------------------------------------
    // The recurring defect (rounds 4-5): ONE task burning 90-157 s of
    // real CPU (run≈cpu, gc=0, steal=0) on work that normally takes
    // sub-seconds, random query victim, ~1-in-8 runs, speculation never
    // saving it. Forensics: at WedgeDumpMs we thread-dump every live
    // task thread 3x at 5 s spacing (the repeated samples show whether
    // the stack MOVES — a pinned stack in one generated method is the
    // interpreted-execution signature) plus JIT/code-cache state. At
    // WedgeKillMs we kill the task attempt (interrupt+relaunch): a
    // relaunch that completes in the task's normal sub-second time
    // proves the wedge is THREAD-local (deopt/interpreter trap), not
    // method-global (code-cache eviction would wedge the retry too) —
    // and bounds the damage to any single bench query.
    val wedgeDumpMs = 20000L
    val wedgeKillMs = 45000L
    val currentQuery = new java.util.concurrent.atomic.AtomicReference("")
    val wedgeEvents = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
    val killEvents = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
    val watchdog = new Thread(() => {
      val dumped = new java.util.HashSet[Long]()
      val killed = new java.util.HashSet[Long]()
      var dumpsLeft = Map.empty[Long, Int]
      while (true) {
        Thread.sleep(5000)
        val now = System.currentTimeMillis()
        listener.running.forEach { (tid, info) =>
          val (start, stage, idx) = info
          val age = now - start
          if (age >= wedgeDumpMs && (!dumped.contains(tid) || dumpsLeft.getOrElse(tid, 0) > 0)) {
            if (!dumped.contains(tid)) { dumped.add(tid); dumpsLeft += tid -> 2 }
            else dumpsLeft += tid -> (dumpsLeft(tid) - 1)
            dumpTaskThreads(
              s"query=${currentQuery.get} stage=$stage part=$idx tid=$tid age_s=${age / 1000}")
            wedgeEvents.computeIfAbsent(currentQuery.get, _ => new LongAdder).increment()
          }
          if (age >= wedgeKillMs && !killed.contains(tid)) {
            killed.add(tid)
            // register BEFORE the kill so the relaunch (same
            // stage+partition, new tid) is attributed even if it
            // finishes before this call returns
            listener.killedTasks.put(tid, (stage, idx))
            val ok = try spark.sparkContext.killTaskAttempt(
              tid, interruptThread = true,
              reason = s"graft wedge watchdog: age=${age / 1000}s") catch {
              case e: Exception => System.err.println(s"[bench-wedge] kill failed: $e"); false
            }
            if (ok)
              killEvents.computeIfAbsent(currentQuery.get, _ => new LongAdder).increment()
            System.err.println(
              s"[bench-wedge] KILLED tid=$tid query=${currentQuery.get} age_s=${age / 1000} ok=$ok")
          }
        }
      }
    }, "graft-wedge-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    // ---------------------------------------------------------------------
    // optional comma-separated filter for isolating a query's variance
    // (diagnostics); the driver runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // ---- steal-probe gating --------------------------------------------
    // The box sees episodic hypervisor steal storms (30-90 s bursts;
    // three rounds of driver benches landed inside one). The honest
    // engine numbers come from quiet windows, so the bench now gates
    // ITSELF: (a) before the loop, wait for a quiet probe window;
    // (b) after any query whose window absorbed real steal, wait for
    // quiet and re-measure, within a bounded retry budget. Accepted
    // measurements are the reported walls; `steal_s` sums steal inside
    // ACCEPTED windows only, `steal_run_s` keeps the whole-run
    // envelope so the gating is transparent, and `retried` names the
    // re-measured queries.
    val probeMs = 8000L
    // ~1 tick/8 s: the launch bar the round-10..12 protocol converged on
    val quietBar = probeMs / 1000.0 * 0.02
    def awaitQuiet(maxWaitMs: Long, tag: String): Double = {
      val t0 = System.currentTimeMillis()
      var last = Double.MaxValue
      while (last > quietBar &&
          System.currentTimeMillis() - t0 + probeMs <= maxWaitMs) {
        val s0 = stealSeconds
        Thread.sleep(probeMs)
        last = stealSeconds - s0
        if (last > quietBar)
          System.err.println(f"[bench-quiet] $tag: steal $last%.2f s/" +
            f"${probeMs / 1000}%d s window — waiting")
      }
      (System.currentTimeMillis() - t0) / 1e3
    }
    val quietWaitS = awaitQuiet(480000L, "pre-run")
    var retryBudgetMs = 480000L
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val stealRun0 = stealSeconds
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Map[String, Double], Seq[String]) = {
      listener.reset()
      graft.queries.SharedFrames.drainBuilt() // discard pre-query noise
      currentQuery.set(name)
      val gc0 = driverGcMs
      val steal0 = stealSeconds
      val jit0 = jitTotalMs
      val t0 = System.nanoTime()
      // noop sink evaluates every output column (count() would let
      // Catalyst prune projection-only queries down to a row count)
      val err =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries that cache intermediates must not bleed memory pressure
      // into the next measurement; give the context cleaner a chance to
      // drain before the next timer starts (also drains the listener bus
      // so the diag snapshot below is complete)
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
      val diag = Map(
        "task_s" -> listener.taskTimeMs.sum / 1e3,
        "cpu_s" -> listener.taskCpuNs.sum / 1e9,
        "max_task_cpu_s" -> listener.maxTaskCpuNs.get / 1e9,
        "relaunch_s" -> listener.relaunchMsMax.get / 1e3,
        "steal_s" -> (stealSeconds - steal0),
        "gc_s" -> (driverGcMs - gc0) / 1e3,
        "task_gc_s" -> listener.gcTimeMs.sum / 1e3,
        "jit_ms" -> (jitTotalMs - jit0).toDouble,
        "codecache_mb" -> codeCacheUsedMb,
        "spill_mb" -> listener.spillBytes.sum / 1e6,
        "shuf_rw_mb" ->
          (listener.shuffleReadBytes.sum + listener.shuffleWriteBytes.sum) / 1e6,
        "tasks" -> listener.tasks.sum.toDouble)
      // straggler forensics to stderr (stdout carries only the JSON line)
      listener.slowTasks.asScala.foreach(s =>
        System.err.println(s"[bench-slow] $name: $s"))
      // where the query's CPU went: its top stages and their callsites
      listener.stageCosts.take(TopStages).foreach { c =>
        System.err.println(f"[bench-stage] $name: s${c.stageId} " +
          f"cpu=${c.cpuNs / 1e9}%.2fs tasks=${c.tasks} ${c.callsite}")
      }
      // shared-frame tiers whose FIRST build ran inside this query's
      // window — the attribution that explains first-caller cost
      // swings as the board grows (verdict r15 secondary observation)
      (dt, err, diag, graft.queries.SharedFrames.drainBuilt())
    }
    val results = selected.map { case (name, fn) =>
      var (dt, err, diag, builtFrames) = runOnce(name, fn)
      var attempts = 1
      // a steal-polluted window (absolute and relative floor — tiny
      // walls absorb scheduler jitter) re-measures after a quiet wait;
      // retries stop when the global budget is spent so a full-blown
      // storm degrades to the old single-measurement behavior
      while (err.isEmpty && attempts <= 2 && retryBudgetMs > 0 &&
          diag("steal_s") > math.max(1.0, 0.25 * dt)) {
        val w0 = System.currentTimeMillis()
        val waited = awaitQuiet(math.min(120000L, retryBudgetMs), name)
        System.err.println(f"[bench-retry] $name: steal ${diag("steal_s")}%.1f s" +
          f" in a ${dt}%.1f s wall — re-measuring (waited $waited%.1f s)")
        val again = runOnce(name, fn)
        retryBudgetMs -= (System.currentTimeMillis() - w0)
        // keep the CLEANEST attempt, not the last: a retry window can
        // be more polluted than the first (budget exhausted
        // mid-storm) — accept the re-measurement only if it absorbed
        // less steal (ties to the lower wall), and never let a
        // crashed retry replace a good measurement
        val cleaner = again._2.isEmpty &&
          (again._3("steal_s") < diag("steal_s") ||
            (again._3("steal_s") == diag("steal_s") && again._1 < dt))
        if (cleaner) { dt = again._1; err = again._2; diag = again._3 }
        // builds happened in whichever attempt ran them; attribution
        // is the union (a retry reads the already-persisted frames)
        builtFrames = builtFrames ++ again._4
        attempts += 1
        retried.updateWith(name)(n => Some(n.getOrElse(0) + 1))
      }
      // a crashed query must not bench as a perf win: sentinel -1
      (name, if (err.isDefined) -1.0 else dt, err, diag, builtFrames)
    }
    // truncate BEFORE escaping: a post-escape cut can split a \" or
    // \\ pair and leave the stdout JSON metric line unclosed
    def esc(s: String): String = s.take(300).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    def f3(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def f2(d: Double): String = BigDecimal(d)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // The driver keeps only a ~2 KB tail of stdout and parses the
    // metric JSON out of it. At 59 queries the wall-time map alone is
    // ~1.4 KB, so the line must carry per-query DIAG only where it
    // earns its bytes (round 6 lost the whole line to three 59-entry
    // maps): wall times for every query at 2 dp, ONE scalar for
    // box-wide steal, and max single-task CPU (the wedge signature)
    // only for wedged/killed queries plus the top 8 by wall. Kill
    // accountability rides along per killed query: kill count and the
    // relaunched attempt's wall, so the JSON alone shows whether the
    // 45 s kill bounded the query (fast relaunch + bounded wall = the
    // zombie burned CPU off to the side; no relaunch = kill failed).
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val wedgedSet = wedgeEvents.asScala.filter(_._2.sum > 0).keys.toSet
    val killedSet = killEvents.asScala.filter(_._2.sum > 0).keys.toSet
    // top-5 (was 8): at 70+ queries the wall map alone nears the
    // 1.9 KB guard; five slowest + wedged/killed keeps the wedge
    // signature visible without shedding the whole diag block
    val diagNames = (results.sortBy(-_._2).take(5).map(_._1).toSet
      ++ wedgedSet ++ killedSet)
    def diagMap(label: String, field: String, names: Set[String]): String = {
      val entries = results.collect { case (k, _, _, d, _) if names(k) =>
        "\"" + k + "\":" + f2(d.getOrElse(field, 0.0))
      }
      if (entries.isEmpty) "" else entries.mkString(s""","$label":{""", ",", "}")
    }
    val maxCpuJson = diagMap("max_task_cpu_s", "max_task_cpu_s", diagNames)
    val relaunchJson = diagMap("relaunch_s", "relaunch_s", killedSet)
    // first-caller attribution: which SharedFrames tiers each query
    // built inside its measurement window — the map that makes
    // cross-round per-query swings on shared-build gates explainable
    // from the JSON alone (~one entry per tier per run, bounded by
    // the tier count, not the query count)
    val builtJson = {
      val entries = results.collect {
        case (k, _, _, _, b) if b.nonEmpty =>
          "\"" + k + "\":" + b.map("\"" + _ + "\"").mkString("[", ",", "]")
      }
      if (entries.isEmpty) ""
      else entries.mkString(""","built_frames":{""", ",", "}")
    }
    val wedges = {
      val w = wedgedSet.toSeq.sorted
      if (w.isEmpty) "" else w.map("\"" + _ + "\"").mkString(",\"wedged\":[", ",", "]")
    }
    val kills = {
      val k = killEvents.asScala.filter(_._2.sum > 0).toSeq.sortBy(_._1)
      if (k.isEmpty) ""
      else k.map { case (q, n) => "\"" + q + "\":" + n.sum }
        .mkString(",\"kills\":{", ",", "}")
    }
    // Full per-query diag goes to STDERR: the driver keeps only the
    // stdout tail and parses the metric JSON out of it — rounds 2, 3
    // and 6 all lost the metric line (r2: shutdown warnings printed
    // after it; r3/r6: inline diag payload overflowed the tail). So
    // stdout carries ONE compact line, emitted after spark.stop() so
    // no executor/stream shutdown warning can print behind it.
    val diagJson = results.map { case (k, _, _, d, _) =>
      "\"" + k + "\":" + d.toSeq.sortBy(_._1)
        .map { case (m, v) => "\"" + m + "\":" + f3(v) }
        .mkString("{", ",", "}")
    }.mkString("{\"diag\":{", ",", "}}")
    System.err.println(s"[bench-diag] $diagJson")
    // Errors shed like every other payload (round 8 lost the metric
    // line when a 13-entry error map — 300 chars each — consumed the
    // driver's 2 KB stdout tail): full messages go to stderr; the
    // stdout line carries at most `maxN` entries of `msgLen` chars.
    // The `failed` count always survives, so a partial error map is
    // detectable from the JSON alone.
    // truncate the RAW message, then escape: truncating after esc()
    // could split a \" or \\ pair and leave the JSON string unclosed
    val errsAll = results.collect { case (k, _, Some(e), _, _) => (k, e) }
    errsAll.foreach { case (k, e) =>
      System.err.println(s"[bench-error] $k: ${esc(e)}") }
    def errJsonN(maxN: Int, msgLen: Int): String =
      if (errsAll.isEmpty) ""
      else errsAll.take(maxN)
        .map { case (k, e) => "\"" + k + "\":\"" + esc(e.take(msgLen)) + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val total = results.collect { case (_, v, None, _, _) => v }.sum
    // STEAL-INVARIANT headline: Σ per-query executor task time. Wall
    // clock stretches under hypervisor steal while task run time stays
    // put (tasks that aren't scheduled aren't running), so this is the
    // series to compare rounds on when the box is noisy; the wall
    // total stays alongside as the latency-shaped number. Failed
    // queries are excluded from both totals.
    val engineTotal =
      results.collect { case (_, _, None, d, _) => d.getOrElse("task_s", 0.0) }.sum
    // task RUN time still stretches somewhat while a thread sits
    // descheduled under steal (r14 run 1 vs 2: +19% task vs +15%
    // wall); task CPU time does not — the strictly steal-invariant
    // series rides alongside
    val engineCpuTotal =
      results.collect { case (_, _, None, d, _) => d.getOrElse("cpu_s", 0.0) }.sum
    // steal_s: steal inside the ACCEPTED measurement windows (what the
    // reported walls actually absorbed); steal_run_s: the whole-run
    // envelope including waits and discarded attempts. retried/
    // quiet_wait_s make the gating auditable from the JSON alone.
    val steal = f2(results.map(_._4.getOrElse("steal_s", 0.0)).sum)
    val stealRun = f2(stealSeconds - stealRun0)
    // capped: a storm window retries dozens of queries and the full
    // map once shed the entire wall map off the line — 16 names plus
    // a count keeps the gating auditable without eating the budget
    // most-retried first (name tiebreak) so WHICH queries survive the
    // 16-entry cap is deterministic run-to-run, not HashMap order
    val retriedJson =
      if (retried.isEmpty) ""
      else retried.toSeq.sortBy { case (q, n) => (-n, q) }.take(16)
        .map { case (q, n) => "\"" + q + "\":" + n }
        .mkString(",\"retried\":{", ",", "}") +
        (if (retried.size > 16) s""","retried_more":${retried.size - 16}"""
         else "")
    // per-query engine (task) seconds, filtered to a name set so the
    // shedding ladder can carry it at the same threshold as the walls
    def taskJson(names: Set[String]): String = {
      // errored queries are excluded, matching engine_total /
      // engine_cpu_total, so summing the map reconciles with them
      val entries = results.collect { case (k, _, None, d, _) if names(k) =>
        "\"" + k + "\":" + f2(d.getOrElse("task_s", 0.0))
      }
      if (entries.isEmpty) "" else entries.mkString(""","task_s":{""", ",", "}")
    }
    def line(queries: String, taskMap: String, diag: String,
        errJson: String): String =
      s"""{"metric":"total","value":${f2(total)},"engine_total":${f2(engineTotal)},"engine_cpu_total":${f2(engineCpuTotal)},"unit":"sec","queries":$queries$taskMap,"steal_s":$steal,"steal_run_s":$stealRun,"quiet_wait_s":${f2(quietWaitS)}$retriedJson$diag$errJson,"sf":"$sfDir","failed":${errsAll.size}}"""
    // belt-and-braces: if the line would still overflow the driver
    // tail, shed in stages — (1) the diag maps (wall times and kill
    // accountability outrank per-query CPU forensics, which stderr
    // carries anyway); (2) error messages shrink (stderr has them in
    // full); (3) wall entries below a rising threshold ladder, until
    // the line fits at ANY query count (the slow queries are the ones
    // worth reading; the full map is on stderr). A parseable partial
    // line always beats a truncated complete one.
    val allNames = results.map(_._1).toSet
    val full = line(qs, taskJson(allNames),
      s"$maxCpuJson$relaunchJson$builtJson$wedges$kills", errJsonN(20, 160))
    lazy val noDiag = line(qs, taskJson(allNames),
      s"$relaunchJson$builtJson$wedges$kills", errJsonN(6, 90))
    def atLeast(th: Double, withTask: Boolean): String = {
      val names = results.collect { case (k, v, _, _, _) if v >= th => k }.toSet
      line(
        results.collect { case (k, v, _, _, _) if names(k) =>
          s"\"" + k + "\":" + f2(v)
        }.mkString("{", ",", "}"),
        if (withTask) taskJson(names) else "",
        s"$relaunchJson$wedges$kills", errJsonN(3, 60))
    }
    // walls outrank the task map: after the with-task thresholds, a
    // second no-task pass keeps the slow-query walls on the line
    // before anything falls back to an empty map
    val ladder = Seq(0.1, 0.2, 0.5, 1.0, 2.0, 5.0)
    val out =
      if (full.length <= 1900) full
      else if (noDiag.length <= 1900) noDiag
      else (ladder.iterator.map(atLeast(_, withTask = true)) ++
          ladder.iterator.map(atLeast(_, withTask = false)))
        .find(_.length <= 1900)
        .getOrElse(line("{}", "", s"$wedges$kills", errJsonN(1, 60)))
    // durable copy: a partial/overflowed stdout tail can no longer
    // lose the run's numbers — the un-shed line lands on disk too.
    // cwd-relative on purpose (the driver launches from the repo
    // root); a failed write is REPORTED, not swallowed — a silently
    // missing safety net defeats its purpose
    try {
      val f = new java.io.File("target/bench_full.json")
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f)
      try w.println(full) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] durable copy failed: $e")
    }
    try spark.stop() catch { case _: Exception => () }
    println(out)
  }
}
