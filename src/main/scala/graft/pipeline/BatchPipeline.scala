package graft.pipeline

import java.nio.charset.StandardCharsets.US_ASCII

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.{CompiledEvents, ConfigCompiler}
import graft.config.SourceConfig
import graft.operators.Router
import graft.sink.{EventBatchSink, EventPoster, SinkDlqRecord}

/** Batch backfill pipeline — `run_batch()` (`M/main_batch.py:431-503`)
  * re-expressed Spark-first:
  *
  * reference shape: glob -> MatchAll -> route -> CoGroupByKey join ->
  * per-file iter_batches read -> MapEvents -> post.
  *
  * Spark shape: the file<->config join disappears — configs route FILES,
  * each config's files are read with ONE vectorized
  * `spark.read.parquet(paths*)` scan (predicate pushdown + column
  * pruning intact), and the per-row mapping is the compiled projection.
  * Only the posting stage repartitions (the analog of the reference's
  * AddRandomKey fan-out).
  *
  * Delivery is ONE pass, as in the reference's single Beam pass per
  * bundle (`MapEvents` tags ok rows and transform errors, the sink
  * emits the API DLQ, counters are metrics on the same pass —
  * `M/main.py:145-162,274-277,377-400`): [[deliver]] posts the ok rows,
  * passes the transform-DLQ rows through, collects the API-DLQ rows and
  * fills the counters in one job; both DLQ channels are filters over
  * its checkpoint. [[StreamingPipeline.sinkStream]] runs the same
  * function per micro-batch.
  *
  * Routing runs driver-side below [[DistributedRouteThreshold]] (a few
  * thousand string prefix tests are cheaper than a job) and as a
  * distributed [[Router.route]] plan above it — at millions of objects
  * a driver-side O(files x configs) Scala loop is a single-threaded
  * bottleneck and a driver-memory hazard.
  */
object BatchPipeline {

  /** Above this many URIs, route with a distributed plan. */
  val DistributedRouteThreshold = 10000

  /** A3 metric counters for one batch run — the reference's operational
    * backbone (`M/main.py:55-63,145,274-277`, `M/main_batch.py:101-103`):
    *  - `routed`: matched file count per config (`matched_<config_id>`);
    *  - `unmatchedUris`: files matching no config (`unmatched_uri`);
    *  - `readErrors`: unreadable/corrupt parquet files skipped, per
    *    config (`read_error_<config_id>`);
    *  - `transform`: per-config [[Observation]] carrying `n_rows`,
    *    `n_dlq`, `missing_distinct_id`, `ts_parse_errors` — filled by
    *    the delivery pass (zero extra passes).
    */
  final case class BatchCounters(
      routed: Map[String, Long],
      unmatchedUris: Long,
      readErrors: Map[String, Long],
      transform: Map[String, Observation]) {
    /** Transform-stage counters for one config; blocks until the pass
      * that carries the observation has run. */
    def transformMetrics(configId: String): Map[String, Long] =
      transform.get(configId).map(counterValues).getOrElse(Map.empty)
  }

  /** An observation's counters as longs. Blocks until it is filled. */
  private[pipeline] def counterValues(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }

  /** The three output channels (§2.8, §2.2) plus the run's counters.
    * `transformDlq` and `apiDlq` from [[run]] are filters over the
    * delivery pass's checkpoint: delivery already happened, and any
    * number of actions on them neither re-posts nor re-scans the input.
    * `eventsJson` is the lazy per-config event JSON, which [[run]] never
    * evaluates (an action on it scans and maps again, but never posts).
    * `imported` is the URI set the run actually transformed (routed,
    * PARQUET, passed the corrupt check) — the ONLY set a processed-file
    * ledger may record: unmatched and corrupt-skipped files must stay
    * eligible for a later retry (a fixed re-upload, a config added for
    * their prefix). */
  final case class Result(
      eventsJson: DataFrame,
      transformDlq: DataFrame,
      apiDlq: DataFrame,
      counters: BatchCounters,
      imported: Seq[String])

  /** Route a file list to configs driver-side: each URI's FIRST
    * matching config, found once, gives both the per-config matched
    * counts (before the parquet filter, like `matched_<id>`,
    * `M/main.py:55-58`) and the routed PARQUET paths (P2+P3). Same
    * (routed, matched, unmatched) triple as [[routeFilesDistributed]],
    * which [[run]] switches to past the threshold. */
  def routeFiles(uris: Seq[String], configs: Seq[SourceConfig])
      : (Map[SourceConfig, Seq[String]], Map[String, Long], Long) = {
    val firsts = uris.flatMap(u =>
      configs.find(c => u.startsWith(c.sourcePrefix)).map(_ -> u))
    val byCfg = firsts.groupBy(_._1)
    val matched = configs.map(c =>
      c.configId -> byCfg.get(c).fold(0L)(_.size.toLong)).toMap
    val routed = byCfg.collect {
      case (cfg, pairs) if cfg.isParquet => cfg -> pairs.map(_._2)
    }
    (routed, matched, (uris.size - firsts.size).toLong)
  }

  /** Distributed routing: the prefix matching runs as a codegen'd
    * [[Router.route]] plan over a URI DataFrame, not a driver loop.
    * Only the per-config path lists needed to build the scans (plus
    * their counts) come back to the driver — the unrouted URI set is
    * never driver-materialized. */
  def routeFilesDistributed(spark: SparkSession, uris: Seq[String],
      configs: Seq[SourceConfig])
      : (Map[SourceConfig, Seq[String]], Map[String, Long], Long) = {
    import spark.implicits._
    val uriDf = uris.toDF("uri")
    routeUriFrame(uriDf, configs)
  }

  /** Same, from an already-distributed URI frame (e.g. a listing scan).
    * Exactly TWO jobs over the frame: one [[Router.routeCounts]] pass
    * (per-config matched + `__unmatched__`, at P2 — before the parquet
    * filter, as the reference counts) and one routed-parquet collect
    * for the path lists the scans need. At million-object scale a third
    * pass is a third full listing scan — don't add one. */
  def routeUriFrame(uriDf: DataFrame, configs: Seq[SourceConfig])
      : (Map[SourceConfig, Seq[String]], Map[String, Long], Long) = {
    val countRows = Router.routeCounts(uriDf, configs).collect()
    val byName = countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val matched = configs.map(c =>
      c.configId -> byName.getOrElse(c.configId, 0L)).toMap
    val routedRows = Router.routeParquet(uriDf, configs).collect()
    val byId = configs.map(c => c.configId -> c).toMap
    val routed = routedRows.groupBy(_.getString(1)).map { case (id, rows) =>
      byId(id) -> rows.map(_.getString(0)).toSeq
    }
    (routed, matched, byName.getOrElse("__unmatched__", 0L))
  }

  /** True iff `path` exists and carries the parquet magic footer. The
    * per-file check mirrors the reference's per-file open/except
    * (`M/main_batch.py:86-103`): a bad file is counted and skipped, the
    * rest of the config's files still load. Driver-side 4-byte reads —
    * exact accounting for backfills up to ~100k files; beyond that rely
    * on `ignoreCorruptFiles` (always set on the scan) and forgo exact
    * per-config counts. */
  def readableParquet(spark: SparkSession, path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val status = fs.getFileStatus(p)
      // a directory (partitioned/committer layout) defers to the scan's
      // ignoreCorruptFiles — the footer check is for single objects,
      // which is what GCS notifications/globs deliver
      if (status.isDirectory) return true
      val len = status.getLen
      len >= 8 && {
        val in = fs.open(p)
        try {
          in.seek(len - 4)
          val b = new Array[Byte](4)
          in.readFully(b)
          new String(b, US_ASCII) == "PAR1"
        } finally in.close()
      }
    } catch { case NonFatal(_) => false }

  /** Split each config's paths into (readable, corrupt-count). */
  def isolateCorrupt(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]])
      : (Map[SourceConfig, Seq[String]], Map[String, Long]) = {
    val checked = routed.map { case (cfg, paths) =>
      val (good, bad) = paths.partition(readableParquet(spark, _))
      (cfg, good, bad.size.toLong)
    }
    (checked.collect { case (cfg, good, _) if good.nonEmpty =>
      cfg -> good
    }.toMap,
      checked.collect { case (cfg, _, bad) if bad > 0 =>
        cfg.configId -> bad
      }.toMap)
  }

  /** Escape Hadoop glob metacharacters so a literal file-name prefix
    * embeds safely in a glob pattern. */
  private def globEscape(s: String): String =
    s.flatMap(c => if ("*?[]{}\\".contains(c)) s"\\$c" else c.toString)

  /** Transform stage with NO driver-side file list at all — the shape
    * for lakes past [[routeUriFrame]]'s collect (10⁷-10⁸ objects,
    * where even the routed path list is a driver-memory hazard). Each
    * parquet config scans its own prefix directly:
    *
    *  - scan root = the config prefix's directory part; a partial
    *    file-name prefix becomes a recursive leaf-glob scan matching
    *    GCS FLAT prefix semantics (both `d/a_x.parquet` and files
    *    under a prefix-named subdirectory `d/a_2024/`), a directory
    *    prefix scans recursively. Listing is Spark's own distributed
    *    FileIndex — file paths live in executor-side listing
    *    partitions, never in a driver Seq.
    *  - first-match-wins across OVERLAPPING prefixes is enforced by the
    *    router when-chain over `input_file_name()` — a file under two
    *    configs' prefixes is transformed only by its first match, same
    *    as the routed paths (`M/main.py:37-63`).
    *  - corrupt isolation is the scan's `ignoreCorruptFiles` (S6's
    *    backstop); per-file footer accounting is a driver-scale
    *    feature by design — at this scale read errors surface in the
    *    scan metrics, not as exact per-config counts.
    *
    * Returns the same (json, dlq, observations) shape as
    * [[transformObserved]]. */
  def transformPrefixScans(spark: SparkSession, configs: Seq[SourceConfig],
      opts: ConfigCompiler.Options = ConfigCompiler.Options())
      : (DataFrame, DataFrame, Map[String, Observation]) = {
    val parts = configs.filter(_.isParquet).sortBy(_.configId).map { cfg =>
      val p = cfg.sourcePrefix
      val slash = p.lastIndexOf('/')
      // a prefix with no '/' would make `dir` the empty string and fail
      // deep inside the scan with an unrelatable Hadoop path error —
      // reject it here with the config's name attached
      require(slash >= 0, s"config ${cfg.configId}: source prefix '$p' " +
        "has no '/' — prefix-scan mode needs a directory component")
      val (dir, base) = (p.substring(0, slash + 1), p.substring(slash + 1))
      val reader = spark.read.option("ignoreCorruptFiles", "true")
        .option("recursiveFileLookup", "true")
      val scanned =
        // GCS prefix semantics are FLAT: prefix `d/a_` matches object
        // `d/a_x.parquet` AND `d/a_2024/part.parquet`. A leaf glob
        // (`d/a_*`, glob metachars in the base escaped) matches both
        // the flat files and any prefix-named subdirectory, which
        // recursiveFileLookup then descends — full prefix semantics
        // with no driver-side listing, and still no reading of
        // unrelated subdirectories the way a recursive scan +
        // `pathGlobFilter` (leaf-name-only) would. A directory prefix
        // scans its whole tree.
        (if (base.nonEmpty) reader.parquet(dir + globEscape(base) + "*")
         else reader.parquet(dir))
      val routedRows = scanned.filter(
        Router.firstMatchExpr(
          Router.normalizeFileUri(input_file_name()), configs)
          === cfg.configId)
      cfg.configId -> ConfigCompiler.compile(cfg, routedRows, opts)
    }
    observed(spark, parts)
  }

  /** The transform stage: per-config compiled mapping over one
    * vectorized scan each; event JSON + transform-DLQ frames unioned
    * across configs (both have config-independent schemas), plus, per
    * config, an [[Observation]] with the A3 transform counters, filled
    * by the first action on the JSON frame. */
  def transformObserved(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]],
      opts: ConfigCompiler.Options = ConfigCompiler.Options())
      : (DataFrame, DataFrame, Map[String, Observation]) =
    observed(spark, compileRouted(spark, routed, opts))

  /** Each routed config's compiled mapping over ONE vectorized scan of
    * its files, keyed and ordered by config id. */
  private def compileRouted(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]], opts: ConfigCompiler.Options)
      : Seq[(String, CompiledEvents)] =
    routed.toSeq.sortBy(_._1.configId)
      .filter(_._2.nonEmpty).map { case (cfg, paths) =>
        val input = spark.read
          // corrupt-file isolation at the scan too (S6): a file that
          // passed the footer check but has a rotten page must not fail
          // the whole config (`M/main_batch.py:100-103`)
          .option("ignoreCorruptFiles", "true")
          .parquet(paths: _*)
        cfg.configId -> ConfigCompiler.compile(cfg, input, opts)
      }

  /** Event JSON + transform-DLQ frames unioned across configs, each
    * config's JSON frame carrying its own counters [[Observation]]. */
  private def observed(spark: SparkSession, parts: Seq[(String, CompiledEvents)])
      : (DataFrame, DataFrame, Map[String, Observation]) = {
    val obs = parts.map { case (id, _) => id -> Observation() }
    (unionOr(parts.zip(obs).map { case ((_, c), (_, o)) =>
      c.okObserved(o).select(EventJson.as("event_json")) }, emptyJson(spark)),
      unionOr(parts.map(_._2.dlq), emptyDlq(spark)),
      obs.toMap)
  }

  /** The wire format of one event (`M/main.py:278-284`). */
  private val EventJson = to_json(struct(col("event"), col("properties")))

  /** Channel tags of [[deliver]]'s output rows. */
  private val TransformDlqChannel = 1
  private val ApiDlqChannel = 2

  /** One config's compiled frame in the config-independent row shape
    * [[deliver]] consumes: `event_json` for an ok row, else null and the
    * four transform-DLQ fields. `obs` collects the config's A3 counters
    * on the delivery pass itself. */
  private[pipeline] def deliveryRows(compiled: CompiledEvents,
      obs: Observation): DataFrame =
    compiled.df
      .observe(obs, CompiledEvents.counterAggs.head,
        CompiledEvents.counterAggs.tail: _*)
      .select(when(col("error").isNull, EventJson).as("event_json"),
        col("error.error_type"), col("error.config_id"),
        col("error.source_field"), col("error.original_row"))

  /** The delivery pass — the only place events are posted, for both
    * pipelines. ONE `mapPartitions` over `rows` (see [[deliveryRows]])
    * feeds every ok row to a partition-local [[EventBatchSink]] and
    * passes every transform-DLQ row through; its output, tagged by
    * channel, is materialized once with `localCheckpoint(eager = true)`.
    * That single job posts, fills every observation on `rows` and stores
    * both DLQ channels. Returns `(transformDlq, apiDlq)`: filters over
    * the checkpoint, with the columns `error_type, config_id,
    * source_field, original_row` and `reason, response, payload`. Any
    * number of actions on them neither re-posts nor re-scans.
    *
    * Delivery is AT-LEAST-ONCE: a task retry re-posts the batches its
    * failed attempt already sent, and a lost checkpoint block fails the
    * action that reads it (a streaming micro-batch then replays from the
    * stream checkpoint and re-posts). The import endpoint dedups on
    * `$insert_id` (`M/main.py:272-273`). `parallelism` is the analog of
    * the reference's 5000-key fan-out (`M/main.py:296-303`) — size it to
    * the cluster, not to 5000; 0 keeps the input partitioning. */
  def deliver(rows: DataFrame, posterFactory: () => EventPoster,
      parallelism: Int = 0): (DataFrame, DataFrame) = {
    val spark = rows.sparkSession
    import spark.implicits._
    val fanned = if (parallelism > 0) rows.repartition(parallelism) else rows
    val tagged = fanned.as[(String, String, String, String, String)]
      .mapPartitions { it =>
        val sink = new EventBatchSink(posterFactory())
        def api(d: SinkDlqRecord) =
          (ApiDlqChannel, d.reason, d.response, d.payload, null: String)
        it.flatMap { case (json, errorType, configId, field, row) =>
          if (json != null) sink.add(json).map(api)
          else Seq((TransformDlqChannel, errorType, configId, field, row))
        } ++ sink.flush().map(api)
      }
      .toDF("channel", "c1", "c2", "c3", "c4")
      .localCheckpoint(eager = true)
    def channel(tag: Int, names: String*): DataFrame =
      tagged.filter(col("channel") === tag).select(names.zipWithIndex.map {
        case (n, i) => col(s"c${i + 1}").as(n) }: _*)
    (channel(TransformDlqChannel,
      "error_type", "config_id", "source_field", "original_row"),
      channel(ApiDlqChannel, "reason", "response", "payload"))
  }

  /** Posting only: [[deliver]] over rows that are all ok events (an
    * `event_json` column). Posts now, exactly once, and returns the
    * checkpointed API DLQ (`reason, response, payload`) — safe to re-use,
    * never re-posts. */
  def post(eventsJson: DataFrame, posterFactory: () => EventPoster,
      parallelism: Int = 0): DataFrame =
    deliver(eventsJson.select(col("event_json") +:
      Seq.fill(4)(lit(null).cast("string")): _*),
      posterFactory, parallelism)._2

  /** Full pipeline: route -> corrupt-isolate -> transform -> deliver.
    * Every config's compiled frame goes through ONE [[deliver]] pass:
    * the input is scanned once, posting executes in here exactly once,
    * and both DLQ channels and all counters are complete when this
    * returns. */
  def run(spark: SparkSession, uris: Seq[String], configs: Seq[SourceConfig],
      posterFactory: () => EventPoster,
      opts: ConfigCompiler.Options = ConfigCompiler.Options(),
      postParallelism: Int = 0): Result = {
    val (routed, matchedCounts, unmatched) =
      if (uris.size > DistributedRouteThreshold)
        routeFilesDistributed(spark, uris, configs)
      else routeFiles(uris, configs)
    val (readable, readErrors) = isolateCorrupt(spark, routed)
    val parts = compileRouted(spark, readable, opts)
    val obs = parts.map { case (id, _) => id -> Observation() }.toMap
    val (transformDlq, apiDlq) = deliver(
      unionOr(parts.map { case (id, c) => deliveryRows(c, obs(id)) },
        emptyRows(spark)),
      posterFactory, postParallelism)
    Result(unionOr(parts.map(_._2.json), emptyJson(spark)), transformDlq,
      apiDlq, BatchCounters(matchedCounts, unmatched, readErrors, obs),
      readable.values.flatten.toSeq)
  }

  private def unionOr(frames: Seq[DataFrame], empty: => DataFrame): DataFrame =
    frames.reduceOption(_ union _).getOrElse(empty)

  private def emptyJson(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[String].toDF("event_json")
  }

  private def emptyDlq(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(String, String, String, String)]
      .toDF("error_type", "config_id", "source_field", "original_row")
  }

  private def emptyRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(String, String, String, String, String)]
      .toDF("event_json", "error_type", "config_id", "source_field",
        "original_row")
  }
}
