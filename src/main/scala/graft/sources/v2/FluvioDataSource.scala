package graft.sources.v2

import java.io.File
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{ConsumeOpt, RecordView, TopicRegistry}

/** DataSource-v2 streaming source for topic directories — the Spark-native
  * analog of the reference's LIVE consumer loop
  * (`/root/reference/src/consume.rs:72-134`): a consume that keeps
  * delivering as the log grows, with REAL per-partition log offsets in the
  * streaming checkpoint (not file names).
  *
  * ```
  * spark.readStream.format("graft.sources.v2.FluvioTableProvider")
  *   .option("cmd", "events_mp -A -B").option("baseDir", dir).load()
  * ```
  *
  * Fixed record schema, like the Kafka source: (partition INT, offset
  * LONG, timestamp TIMESTAMP, value STRING). Column projection and
  * transform chains compose on top (they are plan-level). `-d` consumes
  * ([[graft.streaming.ConsumeStream]]) read through this face.
  *
  * Offset model: a topic partition is an append-only sequence of parquet
  * segment files with DENSE record offsets; the stream offset per
  * partition is the record count delivered so far (≡ LEO when caught up,
  * matching `fluvio_partitions()`). `latestOffset` reads only footer
  * metadata (row counts, cached by (mtime, length)); `planInputPartitions`
  * maps record ranges onto segment files, so a micro-batch reads ONLY the
  * new segments — never a rescan of the topic. Bind-time offset flags
  * follow the reference: `-B`/`-H n`/`--start n` → absolute starts,
  * `-T n`/default-end → relative to the log end AS OF STREAM START (the
  * reference computes the start offset once at bind, consume.rs:580-605);
  * the starts are kept in the checkpoint, so a restart keeps the window.
  *
  * Admission control (the 100 TB guard): `.option("maxRecordsPerTrigger",
  * n)` caps each micro-batch at n records, split across partitions
  * proportionally to backlog — without it, the FIRST batch of a `-B`
  * consume over a deep topic is the entire log in one transaction.
  * `.option("maxBytesPerTrigger", n)` caps the ESTIMATED parquet bytes per
  * micro-batch the same way (the streaming analog of the reference's
  * `-b/--maxbytes`, consume.rs:507-509) — on fat-payload topics a record
  * cap alone under-controls memory; both compose (min wins per partition).
  * A partition that vanishes or truncates below the committed offset fails
  * the query loudly (Kafka `failOnDataLoss=true` semantics).
  * `Trigger.AvailableNow` is supported: the log end is latched at start,
  * drained in rate-limited batches, then the query stops.
  */
object FluvioDsv2 {
  /** Times any planner has called SupportsPushDownRequiredColumns
    * .pruneColumns on a fluvio scan in this JVM — 0 on Spark 4.1, whose
    * micro-batch planner plans streaming relations before
    * V2ScanRelationPushDown. DsvPushdownCanarySpec asserts which route
    * (interface vs the `columns` option) is operative and fails loudly
    * if an upgrade flips it without the spec being updated. */
  val pruneColumnsCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Times any planner has called SupportsPushDownFilters.pushFilters on
    * a fluvio scan in this JVM — the batch-face pushdown canary
    * (DsvPushdownCanarySpec pins that V2ScanRelationPushDown drives the
    * batch offset/partition range pruning). */
  val pushFiltersCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  val Schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("value", StringType, nullable = true)))

  /** The advertised schema restricted to a `columns` option value
    * (comma-separated record-column names, advertised-schema order
    * preserved); unknown names fail loudly with the valid set. */
  def prunedSchema(columns: Option[String]): StructType = columns match {
    case None => Schema
    case Some(spec) =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty)
      require(want.nonEmpty, "fluvio `columns` option: empty column list")
      val known = Schema.fieldNames.toSet
      val bad = want.filterNot(known)
      require(bad.isEmpty,
        s"fluvio `columns` option: unknown column(s) ${bad.mkString(", ")} " +
          s"(valid: ${Schema.fieldNames.mkString(", ")})")
      StructType(Schema.fields.filter(f => want.contains(f.name)))
  }

  /** partition id → its data directory/file. Hive `partition=N` subdirs
    * for multi-partition topics; partition 0 = the topic path itself
    * otherwise. */
  def partitionDirs(baseDir: String, topic: String): Map[Int, File] = {
    val root = new File(TopicRegistry.topicPath(baseDir, topic))
    val subs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("partition="))
    if (subs.nonEmpty)
      subs.map(f => f.getName.stripPrefix("partition=").toInt -> f).toMap
    else Map(0 -> root)
  }

  /** Data segments of one partition, in append order (mtime, then name —
    * appended segments always have later mtimes). */
  def segmentFiles(dirOrFile: File): Seq[File] =
    if (dirOrFile.isFile) Seq(dirOrFile)
    else Option(dirOrFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.getName.endsWith(".parquet"))
      .sortBy(f => (f.lastModified(), f.getName)).toSeq

  /** What a segment's footer says: each row group's first row and first
    * byte, the file length, and the column types. */
  final case class Segment(rows: Long, groupRows: Array[Long],
                           groupBytes: Array[Long], length: Long,
                           schema: MessageType) {
    /** The row groups holding file rows [lo, hi): the first one's first
      * row, and a byte range holding exactly their midpoints — parquet-mr
      * picks a split's row groups by midpoint. */
    def groupRange(lo: Long, hi: Long): (Long, Long, Long) = {
      val g0 = groupRows.lastIndexWhere(_ <= lo)
      val g1 = groupRows.lastIndexWhere(_ < hi)
      (groupRows(g0), groupBytes(g0),
        if (g1 + 1 < groupBytes.length) groupBytes(g1 + 1) else length)
    }

    /** How column `col` stores time: `int96`, or the unit of an INT64
      * column (`millis`/`micros`/`nanos`; un-annotated INT64 counts as
      * micros). */
    def tsUnit(col: String): String =
      schema.getFields.asScala.find(_.getName.equalsIgnoreCase(col))
        .filter(_.isPrimitive).map(_.asPrimitiveType) match {
        case Some(t) if t.getPrimitiveTypeName == PrimitiveTypeName.INT96 => "int96"
        case Some(t) => t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
            case TimeUnit.MILLIS => "millis"
            case TimeUnit.MICROS => "micros"
            case TimeUnit.NANOS  => "nanos"
          }
          case _ => "micros"
        }
        case None => "micros"
      }
  }

  // footers, keyed by (path, mtime, length) — segments are immutable once
  // written, so this never goes stale
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Segment]()

  /** PLANNER-side footer parses actually performed (cache misses) —
    * the steady-state contract is that `latestOffset` on an unchanged
    * topic costs file stats only: each segment's footer is parsed at
    * most ONCE per (path, mtime, length) identity, never once per
    * trigger. FluvioDsv2Spec pins a zero delta across triggers;
    * tools/StreamBench reports the counter beside throughput.
    * (Executor-side DATA reads open footers as part of reading — that
    * is the scan itself, not planning overhead, and is not counted.) */
  val footerParses = new java.util.concurrent.atomic.AtomicLong(0L)

  def segment(f: File): Segment =
    segmentCache.computeIfAbsent(
      (f.getAbsolutePath, f.lastModified(), f.length()),
      key => {
        footerParses.incrementAndGet()
        val r = ParquetFileReader.open(new LocalInputFile(f.toPath))
        try {
          val groups = r.getRowGroups.asScala.toArray
          Segment(r.getRecordCount, groups.map(_.getRowCount).scanLeft(0L)(_ + _).init,
            groups.map(_.getStartingPos), key._3, r.getFileMetaData.getSchema)
        } finally r.close()
      })

  def rowCount(f: File): Long = segment(f).rows

  /** Current LEO (record count) per partition. */
  def leo(baseDir: String, topic: String): Map[Int, Long] =
    partitionDirs(baseDir, topic).map { case (p, d) =>
      p -> segmentFiles(d).map(rowCount).sum
    }

  /** The one partition-selection contract, used by the batch and
    * micro-batch faces of the source. Single-partition topics
    * (no `partition=N` subdirs): `-p`/`-A` are accepted and ignored,
    * matching the reference's consumer pinned to partition 0 regardless
    * of flags (reference `src/consume.rs:179`). Multi-partition
    * topics: default reads partition 0 (the reference's pin), `-p N`
    * selects one — only that subtree is listed and read — and `-A` reads
    * all. */
  def selectedDirs(baseDir: String, opt: ConsumeOpt): Map[Int, File] = {
    val dirs = partitionDirs(baseDir, opt.topic)
    if (dirs.size <= 1 || opt.allPartitions) dirs
    else dirs.filter(_._1 == opt.partition)
  }

  /** Map the record range [from, to) of topic partition `p` onto its
    * segment files by cumulative row count — only overlapping segments
    * become input partitions, each ranged to the row groups it needs.
    * The ONE range→file mapping, shared by the micro-batch planner and
    * the batch scan (a mapping bug cannot make the two faces read
    * different records). */
  def sliceSegments(topic: String, files: Seq[File], p: Int, from: Long, to: Long,
                    view: RecordView, fields: Seq[String]): Seq[FluvioInputPartition] = {
    val parts = Seq.newBuilder[FluvioInputPartition]
    var cum = 0L
    for (f <- files) {
      val seg = segment(f)
      val fileStart = cum
      val fileEnd = cum + seg.rows
      val lo = math.max(from, fileStart)
      val hi = math.min(to, fileEnd)
      if (hi > lo) {
        val (firstRow, byteStart, byteEnd) = seg.groupRange(lo - fileStart, hi - fileStart)
        parts += FluvioInputPartition(topic, f.getAbsolutePath, p,
          skip = lo - fileStart, take = hi - lo, firstRow, byteStart, byteEnd,
          view, seg.tsUnit(view.timestampCol), fields)
      }
      cum = fileEnd
    }
    parts.result()
  }

  /** Most rows per columnar batch: Spark's default parquet batch size. */
  val BatchRows = 4096

  /** The file columns a slice reads, typed for the vectorized reader:
    * offsets as LONG (an INT32 column widens), timestamps as the stored
    * LONG (scaled to µs by the reader) or, for INT96, as TIMESTAMP, and
    * values as STRING (an un-annotated BINARY column reads as one). */
  def requestedSchema(view: RecordView, fields: Seq[String], int96: Boolean): StructType =
    StructType(fields.collect {
      case "offset"    => StructField(view.offsetCol, LongType)
      case "timestamp" => StructField(view.timestampCol, if (int96) TimestampType else LongType)
      case "value"     => StructField(view.valueCol, StringType)
    })

  /** The Hadoop conf of one scan: only the keys Spark's parquet reader
    * reads (topics are local files, so no file-system settings), with
    * fixed values so that results do not depend on the session — NANOS
    * timestamps read as longs (the reader divides them), un-annotated
    * BINARY reads as a string. It loads no default resources, so it
    * costs no XML parse and ships in a few hundred bytes. The requested
    * schema is the one of INT64-timestamp segments; a slice of an INT96
    * segment reads through a copy with its own. */
  def scanConf(view: RecordView, fields: Seq[String]): Configuration = {
    val conf = new Configuration(false)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      requestedSchema(view, fields, int96 = false).json)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, true)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, true)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf
  }

  private[v2] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Per-partition log positions, serialized as `{"0": 123, "1": 456}` in
  * the streaming checkpoint — restart-stable consumer offsets. */
case class FluvioOffset(positions: Map[Int, Long]) extends Offset {
  override def json(): String = {
    val node = FluvioDsv2.mapper.createObjectNode()
    positions.toSeq.sortBy(_._1).foreach { case (p, o) => node.put(p.toString, o) }
    FluvioDsv2.mapper.writeValueAsString(node)
  }
}

object FluvioOffset {
  def fromJson(json: String): FluvioOffset = {
    val node = FluvioDsv2.mapper.readTree(json)
    FluvioOffset(node.properties().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap)
  }
}

/** Registered as format("fluvio") via the DataSourceRegister service
  * file (META-INF/services). */
class FluvioTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "fluvio"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FluvioDsv2.prunedSchema(Option(options.get("columns")))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties arrive with the user's original key casing; DSv2 options
    // are case-insensitive by convention (inferSchema already receives a
    // CaseInsensitiveStringMap), so look up through the same wrapper
    val opts = new CaseInsensitiveStringMap(properties)
    val cmd = Option(opts.get("cmd")).getOrElse(
      throw new IllegalArgumentException("fluvio source requires a `cmd` option"))
    val baseDir = Option(opts.get("baseDir")).getOrElse(
      throw new IllegalArgumentException("fluvio source requires a `baseDir` option"))
    new FluvioTable(cmd, baseDir, Option(opts.get("columns")))
  }
}

class FluvioTable(cmd: String, baseDir: String,
                  columns: Option[String] = None)
    extends Table with SupportsRead {
  private val opt: ConsumeOpt = ConsumeOpt.parse(cmd) match {
    case Left(err) => throw new IllegalArgumentException(err)
    case Right(o)  => o
  }
  private val view: RecordView = TopicRegistry.requireRecordView(baseDir, opt.topic)

  override def name(): String = s"fluvio_consume(${opt.topic})"
  override def schema(): StructType = FluvioDsv2.prunedSchema(columns)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Kafka-style admission control: caps records and/or bytes admitted
    // per micro-batch (0/absent = unlimited). Bytes are the streaming
    // analog of the reference's `-b/--maxbytes` fetch cap
    // (`/root/reference/src/consume.rs:507-509,640-643`) — on a topic with
    // fat payloads, record-count admission alone under-controls memory.
    // Read here — Spark passes stream options to the scan builder, not the
    // table properties.
    val maxPerTrigger = options.getLong("maxRecordsPerTrigger", 0L)
    val maxBytesPerTrigger = options.getLong("maxBytesPerTrigger", 0L)
    // `--rows` as a row range PER PARTITION (dense offsets: a `--rows 500`
    // consume of a deep topic PLANS ~500 rows; per partition under `-A`,
    // an axis the single-partition reference, consume.rs:179, lacks). The
    // batch face caps unless `rowsCap=false`, set by the consume wrappers
    // when a cardinality-CHANGING chain counts post-transform rows; the
    // micro-batch face caps only on `rowsCap=true` (the `-d` wrapper's
    // map-only chains), as a stream's default bound is admission control.
    val rowsCap = Option(options.get("rowsCap")).map(_.toBoolean)
    // COLUMN PRUNING, two routes to the same reader projection: the
    // `columns` option, and SupportsPushDownRequiredColumns for planners
    // that push into this scan. The batch planner does; Spark 4.1's
    // micro-batch planner plans streaming relations before
    // V2ScanRelationPushDown, so a stream names its columns (the `-d`
    // wrapper does). The reader materializes ONLY the pruned fields.
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var pruned: StructType = FluvioDsv2.prunedSchema(columns)
      override def pruneColumns(requiredSchema: StructType): Unit = {
        // counted for DsvPushdownCanarySpec, which pins which planners call it
        FluvioDsv2.pruneColumnsCalls.incrementAndGet()
        pruned = requiredSchema
      }

      // FILTER PUSHDOWN (batch face): offset bounds and partition
      // equality tighten the planned record ranges — with dense
      // per-partition offsets an offset predicate IS a row-range
      // predicate, so `offset >= n` skips [0, n) without reading it and
      // `partition = p` lists only that subtree (the Kafka-source
      // analog of storage partition pruning). Every accepted filter is
      // ALSO returned as a residual: the range arithmetic is exact on
      // the dense-log model, but re-evaluation on the delivered rows is
      // one codegen'd comparison and keeps correctness independent of
      // that model — the standard conservative DSv2 contract.
      private var offLo = 0L                 // inclusive record-range lo
      private var offHi = Long.MaxValue      // exclusive record-range hi
      private var partEq: Option[Int] = None
      private var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private def longOf(v: Any): Option[Long] = v match {
        case l: Long => Some(l)
        case i: Int  => Some(i.toLong)
        case _       => None
      }
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        import org.apache.spark.sql.sources._
        FluvioDsv2.pushFiltersCalls.incrementAndGet()
        accepted = filters.filter {
          case EqualTo("partition", v) =>
            longOf(v).exists { p => partEq = Some(p.toInt); true }
          case EqualTo("offset", v) =>
            longOf(v).exists { n =>
              offLo = math.max(offLo, n); offHi = math.min(offHi, n + 1); true }
          case GreaterThanOrEqual("offset", v) =>
            longOf(v).exists { n => offLo = math.max(offLo, n); true }
          case GreaterThan("offset", v) =>
            longOf(v).exists { n => offLo = math.max(offLo, n + 1); true }
          case LessThan("offset", v) =>
            longOf(v).exists { n => offHi = math.min(offHi, n); true }
          case LessThanOrEqual("offset", v) =>
            longOf(v).exists { n => offHi = math.min(offHi, n + 1); true }
          case _ => false
        }
        filters // all residual (see contract note above)
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        accepted

      override def build(): Scan = new Scan {
        override def readSchema(): StructType = pruned
        override def description(): String =
          s"fluvio_consume(${opt.topic}) " +
            s"PushedOffsetRange: [$offLo, ${if (offHi == Long.MaxValue) "inf" else offHi}) " +
            s"PushedPartition: ${partEq.getOrElse("*")} " +
            // the cmd's own offset window resolves bind-time inside the
            // source (segment-level planning, not deliver-then-filter) —
            // surfaced here so plan audits can pin it from explain output
            s"CmdWindow: start=${opt.startOffset} end=${opt.end.getOrElse("leo")} " +
            s"rows=${if (rowsCap.getOrElse(true)) opt.rows.toString else "uncapped"}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FluvioMicroBatchStream(opt, view, baseDir, maxPerTrigger,
            maxBytesPerTrigger, pruned.fieldNames.toSeq, rowsCap.getOrElse(false),
            Some(checkpointLocation))
        override def toBatch: Batch =
          new FluvioBatch(if (rowsCap.getOrElse(true)) opt else opt.copy(rows = Long.MaxValue),
            view, baseDir, pruned.fieldNames.toSeq, offLo, offHi, partEq)
      }
    }
  }
}

/** Batch face of the DSv2 source — the SAME provider, offset algebra,
  * range→file mapping and reader as the streaming face (the Kafka
  * source's one-source-two-faces shape). Each partition's window is
  * [[ConsumeOpt.window]] against its CURRENT log end, then pushed
  * offset/partition filters tighten that [from, until) record range
  * before it maps onto segment files — a `--rows`-capped or
  * offset-filtered batch consume reads only the overlapping segments,
  * and inside them skips straight to the range. */
class FluvioBatch(opt: ConsumeOpt, view: RecordView, baseDir: String,
                  fields: Seq[String],
                  offLo: Long, offHi: Long, partEq: Option[Int])
    extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val dirs0 = FluvioDsv2.selectedDirs(baseDir, opt)
    val dirs = partEq match {
      case Some(pe) => dirs0.filter(_._1 == pe)
      case None     => dirs0
    }
    dirs.toSeq.sortBy(_._1).flatMap { case (p, d) =>
      val files = FluvioDsv2.segmentFiles(d)
      // the `--rows` cap is part of the window, applied BEFORE the pushed
      // filters, so a user predicate on top of the capped consume filters
      // the capped rows, never widens them
      val (start, until) = opt.window(files.map(FluvioDsv2.rowCount).sum)
      val from = math.max(start, offLo)
      val to = math.min(until, offHi)
      if (to > from) FluvioDsv2.sliceSegments(opt.topic, files, p, from, to, view, fields)
      else Seq.empty
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FluvioReaderFactory(view, fields)
}

/** Micro-batch face. With `rowsCap`, `--rows` ends each partition at its
  * bind-time start + `rows`; `checkpoint` is the source's checkpoint
  * directory, where the bind-time starts are kept. */
class FluvioMicroBatchStream(opt: ConsumeOpt, view: RecordView, baseDir: String,
                             maxPerTrigger: Long = 0L,
                             maxBytesPerTrigger: Long = 0L,
                             fields: Seq[String] =
                               FluvioDsv2.Schema.fieldNames.toSeq,
                             rowsCap: Boolean = false,
                             checkpoint: Option[String] = None)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val windowed = if (rowsCap) opt else opt.copy(rows = Long.MaxValue)

  /** Bind-time start per partition, like the reference's calculate_offset
    * (consume.rs:580-605): end-relative flags read the log end ONCE. The
    * starts are written to the checkpoint (as the Kafka source writes its
    * initial offsets), so a restart before any batch committed, and the
    * `--rows` end, keep the first run's window. */
  private lazy val starts: Map[Int, Long] = {
    def fresh = partitionMeta().map { case (p, (rows, _)) => p -> opt.window(rows)._1 }
    checkpoint.map(c => new Path(c, "bind-starts")).fold(fresh) { f =>
      val fs = f.getFileSystem(new Configuration())
      if (!fs.exists(f)) { // written whole, then renamed into place
        val tmp = f.suffix(".tmp")
        val out = fs.create(tmp, true)
        try out.write(FluvioOffset(fresh).json().getBytes("UTF-8")) finally out.close()
        fs.rename(tmp, f)
      }
      val in = fs.open(f)
      try FluvioOffset.fromJson(new String(in.readAllBytes(), "UTF-8")).positions finally in.close()
    }
  }

  override def initialOffset(): Offset = FluvioOffset(starts)

  /** ONE directory listing + stat pass over the selected partitions:
    * per partition, (row count, on-disk bytes) across its segments. Row
    * counts come from the (path, mtime, length)-keyed footer cache, so a
    * steady-state trigger costs file stats only — footers are parsed once
    * per segment ever. Every per-trigger metadata consumer (ends, byte
    * sizing) derives from a single snapshot instead of re-listing. */
  private def partitionMeta(): Map[Int, (Long, Long)] =
    FluvioDsv2.selectedDirs(baseDir, opt).map { case (p, d) =>
      val fs = FluvioDsv2.segmentFiles(d)
      p -> ((fs.map(FluvioDsv2.rowCount).sum, fs.map(_.length()).sum))
    }

  /** Current deliverable end per partition: the end of the window from
    * its bind-time start against the current LEO (`--end N` inclusive),
    * never below that start. A partition added after bind starts at 0.
    * Footer-metadata only — no data read. */
  private def currentEnds(meta: Map[Int, (Long, Long)]): Map[Int, Long] =
    meta.map { case (p, (rows, _)) =>
      val from = starts.getOrElse(p, 0L)
      p -> math.max(from, windowed.until(from, rows))
    }

  private def currentEnds(): Map[Int, Long] = currentEnds(partitionMeta())

  // Trigger.AvailableNow contract: latch the log ends ONCE at prepare
  // time; every subsequent micro-batch targets this fixed end (reached in
  // maxRecordsPerTrigger-sized steps if admission control is on), then the
  // query shuts down — records appended after the latch wait for the next
  // run. Without the latch a busy topic could keep an "available now"
  // query alive indefinitely.
  @volatile private var availableNowEnds: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnds = Some(currentEnds())

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option.when(maxPerTrigger > 0L)(ReadLimit.maxRows(maxPerTrigger)),
      Option.when(maxBytesPerTrigger > 0L)(ReadLimit.maxBytes(maxBytesPerTrigger))
    ).flatten
    limits match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = FluvioOffset(currentEnds())

  override def latestOffset(): Offset =
    // SupportsAdmissionControl streams are driven via latestOffset(start,
    // limit); keep the no-arg form total (≡ no limit) for direct callers
    FluvioOffset(availableNowEnds.getOrElse(currentEnds()))

  /** Rate-limited batch end: admit at most `budget` records above `start`,
    * split across partitions PROPORTIONALLY to their backlog (a hot
    * partition cannot starve the others; allocation is deterministic —
    * floor of the proportional share, remainder to the lowest partition
    * ids). The same shape as the Kafka source's maxOffsetsPerTrigger. */
  private[v2] def admit(start: Map[Int, Long], target: Map[Int, Long],
                        budget: Long): Map[Int, Long] = {
    val backlog = target.map { case (p, t) =>
      p -> math.max(0L, t - start.getOrElse(p, 0L)) }
    val total = backlog.values.sum
    if (total <= budget) return target
    val base = backlog.toSeq.sortBy(_._1).map { case (p, b) =>
      // floor share — via BigInt: `budget * b` on Longs overflows for a
      // large trigger cap times a deep backlog, turning the share negative
      // (admitted end below `start` ⇒ zero-row batch with a REGRESSED
      // committed offset — a stalled stream)
      (p, b, (BigInt(budget) * b / total).toLong)
    }
    var remainder = budget - base.map(_._3).sum
    base.map { case (p, b, share) =>
      val bump = if (remainder > 0 && share < b) { remainder -= 1; 1L } else 0L
      p -> (start.getOrElse(p, 0L) + share + bump)
    }.toMap
  }

  /** Estimated bytes per record per partition, from a [[partitionMeta]]
    * snapshot: on-disk bytes / footer row count. The parquet-encoded size
    * is the same stored size the reference's `--maxbytes` caps fetches by
    * (consume.rs:507-509) — an estimate (segments mix compression ratios)
    * but metadata-only and conservative enough for admission control. */
  private def avgBytesPerRecord(meta: Map[Int, (Long, Long)]): Map[Int, Double] =
    meta.map { case (p, (rows, bytes)) =>
      p -> (if (rows == 0L) 0.0 else bytes.toDouble / rows)
    }

  /** Byte-budget analog of [[admit]]: the byte budget splits across
    * partitions proportionally to their byte backlog, then converts to a
    * record count via the partition's average record size. A budget below
    * one record's size still admits ONE record (lowest partition id with
    * backlog) — the same minimum-progress rule as Kafka's maxBytes
    * handling; otherwise the stream would stall forever. */
  private[v2] def admitBytes(start: Map[Int, Long], target: Map[Int, Long],
                             byteBudget: Long,
                             bpr: Map[Int, Double]): Map[Int, Long] = {
    val backlog = target.map { case (p, t) =>
      p -> math.max(0L, t - start.getOrElse(p, 0L)) }
    val bytes = backlog.map { case (p, b) => p -> b * bpr.getOrElse(p, 0.0) }
    val totalBytes = bytes.values.sum
    if (totalBytes <= byteBudget) return target
    val recs = scala.collection.mutable.Map.empty[Int, Long]
    backlog.foreach { case (p, b) =>
      recs(p) =
        if (bpr.getOrElse(p, 0.0) <= 0.0) b
        else math.min(b,
          (byteBudget * (bytes(p) / totalBytes) / bpr(p)).toLong)
    }
    // redistribute the leftover byte budget (each partition's floor
    // truncation strands up to one record's bytes) to backlogged
    // partitions, lowest id first — the byte analog of admit()'s record
    // remainder bump; without it a many-partition topic undershoots the
    // budget by ~one record per partition every trigger
    var leftover = byteBudget - recs.map { case (p, r) => r * bpr.getOrElse(p, 0.0) }.sum
    for (p <- backlog.keys.toSeq.sorted if leftover > 0.0 && bpr.getOrElse(p, 0.0) > 0.0) {
      val extra = math.min(backlog(p) - recs(p), (leftover / bpr(p)).toLong)
      if (extra > 0L) { recs(p) += extra; leftover -= extra * bpr(p) }
    }
    val ends = backlog.keys.map(p => p -> (start.getOrElse(p, 0L) + recs(p))).toMap
    val admitted = recs.values.sum
    if (admitted == 0L && backlog.values.sum > 0L) {
      val p = backlog.filter(_._2 > 0L).keys.min
      ends.updated(p, start.getOrElse(p, 0L) + 1L)
    } else ends
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // one listing+stat snapshot serves BOTH the target ends and the byte
    // sizing — a trigger never walks the segment metadata twice. LAZY so
    // an AvailableNow stream with latched ends and a row-only limit does
    // ZERO metadata work per trigger (the pre-snapshot behavior)
    lazy val meta = partitionMeta()
    val target = availableNowEnds.getOrElse(currentEnds(meta))
    val s = start.asInstanceOf[FluvioOffset].positions
    def applyOne(l: ReadLimit): Map[Int, Long] = l match {
      case r: ReadMaxRows  => admit(s, target, r.maxRows())
      case b: ReadMaxBytes => admitBytes(s, target, b.maxBytes(), avgBytesPerRecord(meta))
      case _               => target // allAvailable/minRows/other hints
    }
    val end = limit match {
      case composite: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        // both caps hold: the admitted end per partition is the MIN of
        // what each limiter admits. Each limiter's own minimum-progress
        // guarantee does NOT survive the min (they may spend their one
        // guaranteed record on DIFFERENT partitions), so re-apply it at
        // the composition level or the stream can stall forever with
        // backlog present.
        val mins = composite.getReadLimits.map(applyOne).reduce { (a, b) =>
          target.keys.map(p =>
            p -> math.min(a.getOrElse(p, 0L), b.getOrElse(p, 0L))).toMap
        }
        val admitted = mins.map { case (p, e) =>
          math.max(0L, e - s.getOrElse(p, 0L)) }.sum
        val backlogged = target.filter { case (p, t) => t > s.getOrElse(p, 0L) }
        if (admitted == 0L && backlogged.nonEmpty) {
          val p = backlogged.keys.min
          mins.updated(p, s.getOrElse(p, 0L) + 1L)
        } else mins
      case l => applyOne(l)
    }
    FluvioOffset(end)
  }

  override def deserializeOffset(json: String): Offset = FluvioOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FluvioOffset].positions
    val e = end.asInstanceOf[FluvioOffset].positions
    val dirs = FluvioDsv2.selectedDirs(baseDir, opt)
    // one segment listing per partition serves the data-loss check AND
    // the range→file mapping below (row counts hit the footer cache)
    val filesByPart: Map[Int, Seq[File]] =
      dirs.map { case (p, d) => p -> FluvioDsv2.segmentFiles(d) }
    // data-loss contract (Kafka's failOnDataLoss=true): a topic partition
    // that VANISHED, or whose log shrank below the committed offset
    // (segment deletion / compaction), cannot be streamed exactly-once —
    // fail loudly instead of silently planning zero rows over the hole
    for ((p, from) <- s.toSeq.sortBy(_._1)) {
      val files = filesByPart.getOrElse(p,
        throw new IllegalStateException(
          s"fluvio stream: partition $p of topic '${opt.topic}' vanished " +
            s"(committed offset $from); a removed partition cannot be " +
            "streamed exactly-once — restart from a fresh checkpoint to " +
            "accept the loss"))
      val leoP = files.map(FluvioDsv2.rowCount).sum
      if (leoP < from)
        throw new IllegalStateException(
          s"fluvio stream: partition $p of topic '${opt.topic}' truncated " +
            s"(log end $leoP < committed offset $from); segments were " +
            "deleted or compacted — restart from a fresh checkpoint to " +
            "accept the loss")
    }
    val parts = Seq.newBuilder[InputPartition]
    // iterate the END map: a topic partition ADDED after stream start has
    // no entry in `s` (bind-time initialOffset) but latestOffset already
    // advanced and will commit it — planning from `s` would silently skip
    // every record it ever held. New partitions start at 0 (their whole
    // log is new to this query).
    for ((p, to) <- e.toSeq.sortBy(_._1)) {
      val from0 = s.getOrElse(p, 0L)
      if (to > from0)
        parts ++= FluvioDsv2.sliceSegments(opt.topic,
          filesByPart.getOrElse(p, Seq.empty), p, from0, to, view, fields)
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FluvioReaderFactory(view, fields)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One segment-file slice: rows [skip, skip+take) of `path`, belonging to
  * topic partition `partitionId`. The slice reads the byte range
  * [byteStart, byteEnd), which holds the row groups from file row
  * `firstRow` on; `tsUnit` is how the segment stores time
  * ([[FluvioDsv2.Segment.tsUnit]]). */
case class FluvioInputPartition(topic: String, path: String, partitionId: Int,
                                skip: Long, take: Long,
                                firstRow: Long, byteStart: Long, byteEnd: Long,
                                view: RecordView, tsUnit: String,
                                fields: Seq[String]) extends InputPartition

/** Reader factory of one scan: ships the scan's Hadoop conf with the
  * plan and reads every slice columnar. */
class FluvioReaderFactory(conf: SerializableConfiguration) extends PartitionReaderFactory {
  def this(view: RecordView, fields: Seq[String]) =
    this(new SerializableConfiguration(FluvioDsv2.scanConf(view, fields)))
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("fluvio slices are read columnar only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new FluvioColumnarReader(partition.asInstanceOf[FluvioInputPartition], conf.value)
}

/** Executor-side reader: Spark's `VectorizedParquetRecordReader` over
  * one segment slice, reading only the pruned file columns of the row
  * groups the slice needs (a Spark-internal reader; DsvReaderCanarySpec
  * pins the API it relies on). `partition` is a constant vector. The
  * rows before `skip` in the first batch are dropped by a row-index
  * shift, and the last batch is cut by its row count, so no per-row
  * object is built. Timestamps are normalized to Spark's µs: INT96 reads
  * with no calendar rebase (the raw julian-day arithmetic), INT64 reads
  * as the stored long and is scaled by its unit. */
class FluvioColumnarReader(p: FluvioInputPartition, shared: Configuration)
    extends PartitionReader[ColumnarBatch] {

  private val requested = FluvioDsv2.requestedSchema(p.view, p.fields, p.tsUnit == "int96")

  private val reader: VectorizedParquetRecordReader = {
    val key = ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA
    val conf =
      if (shared.get(key) == requested.json) shared
      else { val c = new Configuration(shared); c.set(key, requested.json); c }
    // a batch no larger than the rows the slice reads from its first row
    // group on: a live tick's 500-row slice allocates 500-row vectors
    val r = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED",
      "UTC", false, math.min(FluvioDsv2.BatchRows.toLong, p.skip + p.take - p.firstRow).toInt)
    try {
      r.initialize(new FileSplit(new Path(p.path), p.byteStart, p.byteEnd - p.byteStart,
        Array.empty[String]), new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      r.initBatch(StructType(Seq(StructField("partition", IntegerType))),
        new GenericInternalRow(Array[Any](p.partitionId)))
    } catch { case e: Throwable => r.close(); throw e }
    r
  }
  private val raw = reader.resultBatch()

  // per output field: its column in `raw` (the partition constant comes
  // after the file columns), its type and its µs scale (multiply, divide)
  private val (mul, div) = p.tsUnit match {
    case "millis" => (1000L, 1L)
    case "nanos"  => (1L, 1000L)
    case _        => (1L, 1L)
  }
  private val columns: Seq[(Int, DataType, Long, Long)] = p.fields.map {
    case "partition" => (requested.length, IntegerType, 1L, 1L)
    case "timestamp" => (requested.fieldIndex(p.view.timestampCol), TimestampType, mul, div)
    case f =>
      val c = if (f == "offset") p.view.offsetCol else p.view.valueCol
      (requested.fieldIndex(c), FluvioDsv2.Schema(f).dataType, 1L, 1L)
  }
  private val offsetIdx =
    if (p.fields.contains("offset")) requested.fieldIndex(p.view.offsetCol) else -1

  private var row = p.firstRow // file row of the next batch's first row
  private var left = p.take    // rows still to deliver
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (left > 0 && reader.nextBatch()) {
      val n = raw.numRows
      val first = row
      row += n
      val drop = math.min(n.toLong, math.max(0L, p.skip - first)).toInt
      if (drop < n) {
        val k = math.min((n - drop).toLong, left).toInt
        left -= k
        if (offsetIdx >= 0) checkOffsets(raw.column(offsetIdx), drop, k, first)
        current = new ColumnarBatch(columns.map { case (i, dt, m, d) =>
          val v = raw.column(i)
          if (drop == 0 && m == 1L && d == 1L) v else new SliceVector(v, drop, m, d, dt)
        }.toArray, k)
        return true
      }
    }
    false
  }

  /** Offsets are dense log positions: a null one is corrupt data, and a
    * column vector would quietly read it as 0. */
  private def checkOffsets(v: ColumnVector, drop: Int, k: Int, first: Long): Unit =
    if (v.hasNull) for (i <- drop until drop + k if v.isNullAt(i))
      throw new IllegalStateException(
        s"fluvio topic '${p.topic}' partition ${p.partitionId}: null offset at " +
          s"row ${first + i} of segment ${p.path}; offsets must be dense log " +
          "positions, so the segment is corrupt")

  override def get(): ColumnarBatch = current

  override def close(): Unit = reader.close()
}

/** `base` seen from row `shift` on, its longs scaled by `mul` then `div`:
  * drops a batch's leading rows and normalizes a timestamp unit to µs
  * without copying. */
private final class SliceVector(base: ColumnVector, shift: Int, mul: Long, div: Long,
                                dt: DataType) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def hasNull(): Boolean = base.hasNull
  override def numNulls(): Int = base.numNulls // of the whole base batch: an upper bound
  override def isNullAt(r: Int): Boolean = base.isNullAt(r + shift)
  override def getBoolean(r: Int): Boolean = base.getBoolean(r + shift)
  override def getByte(r: Int): Byte = base.getByte(r + shift)
  override def getShort(r: Int): Short = base.getShort(r + shift)
  override def getInt(r: Int): Int = base.getInt(r + shift)
  override def getLong(r: Int): Long = base.getLong(r + shift) * mul / div
  override def getFloat(r: Int): Float = base.getFloat(r + shift)
  override def getDouble(r: Int): Double = base.getDouble(r + shift)
  override def getArray(r: Int): ColumnarArray = base.getArray(r + shift)
  override def getMap(r: Int): ColumnarMap = base.getMap(r + shift)
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(r + shift, precision, scale)
  override def getUTF8String(r: Int): UTF8String = base.getUTF8String(r + shift)
  override def getBinary(r: Int): Array[Byte] = base.getBinary(r + shift)
  override def getChild(i: Int): ColumnVector =
    throw new UnsupportedOperationException("fluvio record columns are flat")
}
