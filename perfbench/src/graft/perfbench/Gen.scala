package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types._

/** What the generator planted in one row. Every row carries at most one
  * edge property, so each expected counter has exactly one cause. */
object Kind {
  val Ok = 0
  /** `insert_id` null: the required `$insert_id` mapping dead-letters it. */
  val NullInsertId = 1
  /** `event_name` null or empty: dead-lettered by dynamic-name configs,
    * delivered under a static name by the others. */
  val NullEventName = 2
  /** `value` is NaN: scrubbed to null, still delivered. */
  val NanValue = 3
  /** `bussiness_ts` does not parse: delivered, counted in `ts_parse_errors`. */
  val BadTs = 4
  /** neither `user_id` nor `did`: delivered, counted in `missing_distinct_id`. */
  val NoDistinctId = 5
}

/** One source config as the generator sees it; `json` renders the
  * `sources.json` shape the engine loads. */
final case class CfgSpec(id: String, prefix: String, fileType: String = "PARQUET",
    dynamicName: Boolean = true, wildcard: Boolean = true) {
  def isParquet: Boolean = fileType.equalsIgnoreCase("PARQUET")
  def json: String = {
    val name =
      if (dynamicName) "\"mixpanel_event_name_from_field\": \"event_name\""
      else s""""mixpanel_event_name": "${id}_event""""
    val maps = Seq(
      """{"source_field": "bussiness_ts", "mixpanel_field": "time", "type": "unix_timestamp_auto"}""",
      """{"source_field": "user_id", "mixpanel_field": "$user_id", "type": "string"}""",
      """{"source_field": "did", "mixpanel_field": "$device_id", "type": "string"}""",
      """{"source_field": "insert_id", "mixpanel_field": "$insert_id", "type": "string_or_uuid", "is_required_in_source": true}""",
      """{"source_field": "value", "mixpanel_field": "amount", "type": "float"}""") ++
      (if (wildcard) Seq("""{"source_field": "*", "mixpanel_field": "*"}""") else Nil)
    s"""{"config_id": "$id", "source_gcs_prefix": "$prefix", "file_type": "$fileType", $name, "field_mappings": [${maps.mkString(", ")}]}"""
  }
}

/** One generated object. `rows` is 0 for objects that are not event
  * Parquet; `corrupt` marks a Parquet file with a truncated footer. */
final case class FileSpec(name: String, rows: Int, corrupt: Boolean = false,
    parquet: Boolean = true)

/** Expected outcome of one input set, computed by the generator from what
  * it planted — never from the program under test. Routing is first
  * matching prefix in declaration order. */
final case class Manifest(seed: Long, dir: String, configs: Seq[CfgSpec],
    files: IndexedSeq[FileSpec], badShare: Double) {
  /** Config each object routes to, if any (by index into `files`). */
  val route: IndexedSeq[Option[CfgSpec]] =
    files.map(f => configs.find(c => s"$dir/${f.name}".startsWith(c.prefix)))
  /** Objects the program must transform: routed to a Parquet config and readable. */
  val eligible: IndexedSeq[Boolean] = files.indices.map(i =>
    route(i).exists(_.isParquet) && files(i).parquet && !files(i).corrupt && files(i).rows > 0)

  def matched: Map[String, Long] = configs.map(c =>
    c.id -> route.count(_.exists(_.id == c.id)).toLong).toMap
  def unmatched: Long = route.count(_.isEmpty).toLong
  def readErrors: Map[String, Long] = configs.map(c => c.id -> files.indices.count(i =>
    route(i).exists(_.id == c.id) && c.isParquet && files(i).corrupt).toLong)
    .filter(_._2 > 0).toMap
  def imported: Seq[String] = files.indices.filter(eligible).map(i => s"$dir/${files(i).name}")

  def kind(file: Int, row: Int): Int = Gen.kind(seed, file, row, badShare)
  /** DLQ error type of a row under its file's config, or null if delivered. */
  def dlqType(file: Int, row: Int): String = kind(file, row) match {
    case Kind.NullInsertId => "missing_required_field"
    case Kind.NullEventName if route(file).exists(_.dynamicName) =>
      "missing_dynamic_event_name"
    case _ => null
  }
  def delivers(file: Int, row: Int): Boolean = eligible(file) && dlqType(file, row) == null

  /** Per config: rows in, (error_type -> rows), delivered, ts_parse_errors,
    * missing_distinct_id. */
  lazy val expected: Map[String, Expect] = configs.filter(_.isParquet).map { c =>
    var rows = 0L; var okRows = 0L; var ts = 0L; var nd = 0L
    val dlq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    files.indices.filter(i => eligible(i) && route(i).exists(_.id == c.id)).foreach { f =>
      var r = 0
      while (r < files(f).rows) {
        rows += 1
        val t = dlqType(f, r)
        if (t != null) dlq(t) += 1
        else {
          okRows += 1
          kind(f, r) match {
            case Kind.BadTs => ts += 1
            case Kind.NoDistinctId => nd += 1
            case _ =>
          }
        }
        r += 1
      }
    }
    c.id -> Expect(rows, dlq.toMap, okRows, ts, nd)
  }.toMap

  def totalRows: Long = expected.values.map(_.rows).sum
  def totalOk: Long = expected.values.map(_.ok).sum
}

final case class Expect(rows: Long, dlq: Map[String, Long], ok: Long,
    tsParseErrors: Long, missingDistinctId: Long)

/** Seeded input synthesis. Rows follow `events.parquet`'s schema
  * (`event_id, ts, user_id, event_type, value, props`) extended with the
  * mapping columns of the `sources.json` shape (`bussiness_ts`, `did`,
  * `insert_id`, `event_name`). A row is a pure function of
  * (seed, file, row), so the manifest needs no second copy of the data. */
object Gen {
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("bussiness_ts", StringType),
    StructField("did", StringType),
    StructField("insert_id", StringType),
    StructField("event_name", StringType)))

  private val NaiveFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val EventNames = Array("page_view", "add_to_cart", "checkout",
    "signup", "search", "purchase", "share", "logout")

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, file: Int, row: Int): Long =
    mix(mix(seed * 1000003L + file) + row)

  def kind(seed: Long, file: Int, row: Int, badShare: Double): Int = {
    val u = (hash(seed, file, row) >>> 11).toDouble / (1L << 53).toDouble
    if (u < badShare / 2) Kind.NullInsertId
    else if (u < badShare) Kind.NullEventName
    else if (u < badShare + 0.01) Kind.NanValue
    else if (u < badShare + 0.02) Kind.BadTs
    else if (u < badShare + 0.03) Kind.NoDistinctId
    else Kind.Ok
  }

  def insertId(seed: Long, file: Int, row: Int): String = s"s${seed}f${file}r$row"

  /** Parquet schema of the generated files, as Spark writes `Schema`. */
  val ParquetSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |  optional binary bussiness_ts (STRING);
      |  optional binary did (STRING);
      |  optional binary insert_id (STRING);
      |  optional binary event_name (STRING);
      |}""".stripMargin)

  private lazy val HadoopConf = new org.apache.hadoop.conf.Configuration()

  /** One row as a Parquet group; null fields are left unset. */
  def row(groups: SimpleGroupFactory, seed: Long, file: Int, r: Int, badShare: Double): Group = {
    val h = hash(seed, file, r)
    val k = kind(seed, file, r, badShare)
    val sec = 1709251200L + (h >>> 40) % (30L * 86400)
    val tsStr = if (k == Kind.BadTs) "not a timestamp"
      else if ((h & 1) == 0) java.time.Instant.ofEpochSecond(sec).toString
      else java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
        .format(NaiveFormat)
    val name = EventNames(((h >>> 8) & 7).toInt)
    val g = groups.newGroup()
    g.add("event_id", file.toLong * 1000000L + r)
    g.add("ts", sec * 1000000L)
    if (k != Kind.NoDistinctId) g.add("user_id", (h >>> 20) % 100000L)
    g.add("event_type", name)
    g.add("value", if (k == Kind.NanValue) Double.NaN else ((h >>> 30) % 100000L) / 100.0)
    g.add("props", s"""{"plan":"p${(h >>> 12) % 5}","n":${(h >>> 16) % 1000}}""")
    g.add("bussiness_ts", tsStr)
    if (k != Kind.NoDistinctId) g.add("did", f"d${(h >>> 24) % 50000L}%05d")
    if (k != Kind.NullInsertId) g.add("insert_id", insertId(seed, file, r))
    if (k != Kind.NullEventName) g.add("event_name", name)
    else if ((h & 2) != 0) g.add("event_name", "")
    g
  }

  /** Write every object of `m` under `m.dir` (created fresh), four files at
    * a time, with Parquet's own writer: no Spark job, so generation costs
    * neither a session nor per-task overhead. */
  def write(m: Manifest): Unit = {
    val dir = Path.of(m.dir)
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = m.files.indices.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = writeOne(m, f, dir.resolve(m.files(f).name))
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
  }

  private def writeOne(m: Manifest, f: Int, target: Path): Unit = {
    val spec = m.files(f)
    if (!spec.parquet) Files.write(target, s"id,value\n${spec.name},1\n".getBytes(UTF_8))
    else {
      val groups = new SimpleGroupFactory(ParquetSchema)
      val w = ExampleParquetWriter.builder(new LocalOutputFile(target))
        .withConf(HadoopConf)
        .withType(ParquetSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try {
        var r = 0
        while (r < spec.rows) { w.write(row(groups, m.seed, f, r, m.badShare)); r += 1 }
      } finally w.close()
      if (spec.corrupt) truncateFooter(target)
    }
  }

  /** A processed-file ledger table holding `uris`, in the layout
    * `FileLedger.record` writes. */
  def writeLedger(dir: Path, uris: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val schema = MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary uri (STRING); " +
        "optional int64 recorded_at (TIMESTAMP(MICROS,true)); }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve("part-00000.parquet")))
      .withConf(HadoopConf).withType(schema).build()
    try uris.foreach(u => w.write(groups.newGroup().append("uri", u)
      .append("recorded_at", 1709251200000000L)))
    finally w.close()
  }

  private def truncateFooter(p: Path): Unit = {
    val b = Files.readAllBytes(p)
    Files.write(p, java.util.Arrays.copyOf(b, b.length - 3))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  def writeConfigs(m: Manifest, file: Path): String = {
    Files.write(file, m.configs.map(_.json).mkString("[\n", ",\n", "\n]").getBytes(UTF_8))
    "file://" + file.toAbsolutePath
  }
}
