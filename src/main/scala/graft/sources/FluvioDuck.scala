package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.transforms.{TransformChain, TransformRegistry}

/** How a stored table plays the role of a Fluvio topic: which columns carry
  * the record offset / timestamp / JSON value.
  *
  * Reference record model: (offset i64, timestamp epoch-ms, value bytes),
  * `/root/reference/src/consume.rs:260-309`. Our canonical topic fixture is
  * `events.parquet` (event_id=offset, ts=timestamp, props=value) — see
  * /root/repo/FIXTURES.md §1.
  */
final case class RecordView(offsetCol: String, timestampCol: String, valueCol: String)

object TopicRegistry {
  /** Built-in record views for the standard fixtures; other parquet tables
    * in the base dir are visible to the admin scans (topics/partitions) but
    * cannot be consumed — mirroring that only stream topics are consumable. */
  val recordViews: Map[String, RecordView] = Map(
    "events"    -> RecordView("event_id", "ts", "props"),
    // 4-partition derived fixture (see [[MpFixture]]): per-partition dense
    // offsets, hive `partition=N` subdirs.
    "events_mp" -> RecordView("offset", "ts", "value")
  )

  /** Conf key registering topic `name` without a source edit. */
  def confKey(topic: String): String = s"spark.graft.topic.$topic.columns"

  /** Runtime topic registration: `spark.graft.topic.<name>.columns =
    * "offsetCol,timestampCol,valueCol"` makes a NEW parquet topic
    * consumable by configuration alone — the Spark analog of the
    * reference discovering topics from the live cluster at scan time
    * (`/root/reference/src/topic.rs:109`) instead of a hard-coded list.
    * Conf wins over the built-in map so a deployment can re-map a fixture.
    * Resolution happens driver-side at plan/bind time (batch consume, `-d`
    * stream bind, DSv2 table creation), so the session conf is always in
    * scope; the resolved [[RecordView]] is what ships to executors.
    *
    * Prefer the explicit-session overload: the session is in hand at every
    * consume entry point, and the thread-local lookup is thread-dependent
    * (a pool thread created before the session existed sees no active
    * session). The no-arg form falls back active → default session so the
    * DSv2 planning path stays robust off the main thread. */
  def confView(spark: SparkSession, topic: String): Option[RecordView] =
    spark.conf.getOption(confKey(topic)).map { v =>
      val parts = v.split(",", -1).map(_.trim)
      if (parts.length != 3 || parts.exists(_.isEmpty))
        throw new IllegalArgumentException(
          s"${confKey(topic)} must be `offsetCol,timestampCol,valueCol`, got `$v`")
      RecordView(parts(0), parts(1), parts(2))
    }

  def confView(topic: String): Option[RecordView] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(confView(_, topic))

  /** Conf-registered view, else built-in. */
  def recordView(spark: SparkSession, topic: String): Option[RecordView] =
    confView(spark, topic).orElse(recordViews.get(topic))

  def recordView(topic: String): Option[RecordView] =
    confView(topic).orElse(recordViews.get(topic))

  def topicPath(baseDir: String, topic: String): String = s"$baseDir/$topic.parquet"

  def exists(baseDir: String, topic: String): Boolean =
    new java.io.File(topicPath(baseDir, topic)).exists()

  /** All topics in a base dir (one parquet file or directory per topic). */
  def allTopics(baseDir: String): Seq[String] = {
    val f = new java.io.File(baseDir)
    Option(f.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted.toSeq
  }

  /** The ONE two-message consume error contract, shared by every consume
    * path (batch, `-d` streaming, DSv2): a parquet table that exists but
    * has no record view is "not a stream topic"; anything else is
    * "Topic not found". */
  def requireRecordView(spark: SparkSession, baseDir: String, topic: String): RecordView =
    require(recordView(spark, topic), baseDir, topic)

  def requireRecordView(baseDir: String, topic: String): RecordView =
    require(recordView(topic), baseDir, topic)

  private def require(view: Option[RecordView], baseDir: String,
                      topic: String): RecordView =
    view.getOrElse(
      if (exists(baseDir, topic))
        throw new IllegalArgumentException(
          s"topic `$topic` is not a stream topic (no record view registered; " +
            s"set ${confKey(topic)}=offsetCol,timestampCol,valueCol)")
      else
        throw new IllegalArgumentException(s"Topic not found: $topic"))

  /** Partition count of a topic, from its hive `partition=N` layout
    * (directory metadata only); single-partition topics have no subdirs. */
  def partitionCount(baseDir: String, topic: String): Int = {
    val subs = Option(new java.io.File(topicPath(baseDir, topic)).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("partition="))
    math.max(subs, 1)
  }
}

/** Builds the 4-partition `events_mp` topic fixture, derived
  * deterministically from the `events` table: round-robin produce —
  * record `event_id` lands in partition `event_id % 4` at per-partition
  * dense offset `event_id DIV 4` (exactly how a multi-partition log
  * assigns offsets). Written once per sf dir into a temp base dir as
  * hive-partitioned parquet (`partition=N/`), so a `-p N` consume prunes
  * to one subtree at the SCAN (storage-level partition pruning — the
  * parallelism axis the reference hard-codes away, consume.rs:179). */
object MpFixture {
  val NumPartitions = 4

  def baseDir(spark: SparkSession, sfDir: String): String = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_mp_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_"))
    val topic = new java.io.File(base, "events_mp.parquet")
    // cache stamp = source mtime+length: a regenerated events table must
    // invalidate the derived fixture, or the oracle (which reads the
    // fresh source) would silently diverge from a stale topic
    val src = new java.io.File(Tables.path(sfDir, "events"))
    val stamp = s"${src.lastModified()}_${src.length()}"
    val stampFile = new java.io.File(base, "source.stamp")
    val fresh = new java.io.File(topic, "_SUCCESS").exists() &&
      stampFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(stampFile.toPath)) == stamp
    if (!fresh) {
      Tables.load(spark, sfDir, "events")
        .select(
          expr(s"event_id DIV $NumPartitions").as("offset"),
          col("ts"),
          col("props").as("value"),
          (col("event_id") % NumPartitions).cast("int").as("partition"))
        .repartition(col("partition"))
        .write.mode("overwrite").partitionBy("partition")
        .parquet(topic.getAbsolutePath)
      java.nio.file.Files.write(stampFile.toPath, stamp.getBytes)
    }
    base.getAbsolutePath
  }
}

/** Spark-native equivalents of the reference's three table-valued functions
  * (`/root/reference/src/lib.rs:37-39`):
  *
  *   - [[consume]]  ≙ `fluvio_consume('<topic> <options>')`
  *   - [[topics]]    ≙ `fluvio_topics()`
  *   - [[partitions]]≙ `fluvio_partitions()`
  *
  * Everything is declared through the DataFrame API so Catalyst gets full
  * pushdown/pruning freedom; no driver-side row loops.
  */
object FluvioDuck {

  /** The one partition-selection contract, shared by the batch and
    * streaming consume paths. Single-partition topics (no `partition`
    * layout column): `-p`/`-A` are accepted and ignored, matching the
    * reference's consumer pinned to partition 0 regardless of flags
    * (/root/reference/src/consume.rs:179). Multi-partition topics (hive
    * `partition=N` subdirs) implement the axis Spark actually has:
    * default reads partition 0 (the reference's pin), `-p N` selects one
    * partition — a partition-value filter the scan turns into storage
    * partition pruning (only that subtree is listed/read) — and `-A`
    * reads all. */
  def selectPartition(df: DataFrame, opt: ConsumeOpt): DataFrame =
    if (!df.columns.contains("partition") || opt.allPartitions) df
    else df.filter(col("partition") === opt.partition)

  /** Materialize a bounded window of a topic as a DataFrame.
    *
    * Pipeline (mirrors the reference's semantics, not its execution):
    * parse options → record view → offset window filter → transform chain →
    * column projection (default 3-col record schema or `-c` mappings) →
    * offset order + `--rows` cap.
    *
    * Reference lifecycle: `/root/reference/src/consume.rs:158-210` (bind),
    * `:72-134` (read loop). The reference pulls record-at-a-time over a
    * blocking stream into 2048-row chunks, single-partition; here the whole
    * thing is one Catalyst plan over a parquet scan (filter pushdown,
    * column pruning and whole-stage codegen apply).
    *
    * Divergences (documented in SURVEY.md §1.2/§4.2): offset/LEO are Long
    * (not int32-truncated); `--rows` caps post-transform rows in offset
    * order, like the reference.
    */
  def consume(spark: SparkSession, cmd: String, baseDir: String): DataFrame = {
    val opt = ConsumeOpt.parse(cmd) match {
      case Left(err) => throw new IllegalArgumentException(err) // scan_error_surface
      case Right(o)  => o
    }
    // `-d` = continuous: route to the Structured Streaming flavor (the
    // reference keeps the scan open past the log end,
    // /root/reference/src/consume.rs:480-482,675). The result is a
    // STREAMING DataFrame — attach a writeStream sink; never a silent
    // bounded-batch fallback.
    if (opt.continuous)
      return graft.streaming.ConsumeStream.consume(spark, cmd, baseDir)
    // r14: the DSv2 batch face is THE bounded consume path — one source
    // serving batch, streaming and the SQL TVF, like Spark's Kafka
    // source. Offset algebra and the `--rows` window cap resolve inside
    // the source (segment-level row-range planning: a `--rows 500`
    // consume of a deep topic PLANS ~500 rows); `-c` mappings and
    // transform chains compose on top as plan-level projections. The
    // original file-source implementation stays as the documented
    // fallback ([[consumeFileSource]], conf-selectable) — same grammar,
    // same results (DsvPushdownCanarySpec pins face equality).
    if (spark.conf.getOption("spark.graft.consume.face").contains("file"))
      consumeFileSource(spark, cmd, baseDir)
    else
      graft.sources.v2.FluvioBatchConsume.consume(spark, cmd, baseDir)
  }

  /** The file-source consume fallback (`spark.graft.consume.face=file`):
    * the pre-r14 primary path — a parquet file-source scan with the whole
    * grammar (offset windows, LEO joins, transforms, `-c`, `--rows`)
    * expressed in-plan. Kept whole: it is the A/B twin that proves the
    * DSv2 face's bind-time offset algebra against a pure Catalyst
    * formulation, and the escape hatch if a deployment's topic layout
    * defeats the DSv2 planner's footer-count model. */
  def consumeFileSource(spark: SparkSession, cmd: String, baseDir: String): DataFrame = {
    val opt = ConsumeOpt.parse(cmd) match {
      case Left(err) => throw new IllegalArgumentException(err) // scan_error_surface
      case Right(o)  => o
    }
    if (opt.continuous)
      return graft.streaming.ConsumeStream.consume(spark, cmd, baseDir)
    val view = TopicRegistry.requireRecordView(spark, baseDir, opt.topic)

    val raw = Tables.load(spark, baseDir, opt.topic)

    // ---- partition selection (shared contract with the streaming path —
    // see [[selectPartition]]). Offsets are dense PER PARTITION, so all
    // offset-window logic below stays exact for any single-partition
    // selection; under `-A`, offset windows/caps apply per partition
    // (records carry a `__part` key and every end-relative window joins
    // per-partition LEOs — a fan-in total order would serialize the
    // scan; documented divergence).
    val selected = selectPartition(raw, opt)
    val multiPart = opt.allPartitions && raw.columns.contains("partition")

    // Canonical record shape. Offsets in fixtures are dense from 0 per
    // partition (LEO = max(offset)+1 = count).
    val baseCols = Seq(
      col(view.offsetCol).cast("long").as("offset"),
      col(view.timestampCol).cast("timestamp").as("timestamp"),
      col(view.valueCol).cast("string").as("value"))
    val records =
      if (multiPart) selected.select(baseCols :+ col("partition").as("__part"): _*)
      else selected.select(baseCols: _*)

    // Log-end offset join for end-relative windows: PER PARTITION for a
    // `-A` multi-partition read (grouped agg broadcast-joined on
    // `__part`), else one global LEO via a broadcast single-row agg —
    // in-plan either way, no driver collect, any partition count.
    def leoJoin(target: DataFrame, leoName: String): (DataFrame, Column) =
      if (multiPart) {
        val leo = records.groupBy("__part").agg((max(col("offset")) + 1).as(leoName))
        (target.join(broadcast(leo), "__part"), col(leoName))
      } else {
        val leo = records.agg((max(col("offset")) + 1).as(leoName))
        (target.crossJoin(broadcast(leo)), col(leoName))
      }

    // ---- offset window (calculate_offset, /root/reference/src/consume.rs:580-605)
    val windowed: DataFrame = opt.startOffset match {
      case OffsetSpec.FromBeginning(0) => records
      case OffsetSpec.FromBeginning(n) => records.filter(col("offset") >= n)
      case OffsetSpec.Absolute(n)      => records.filter(col("offset") >= n)
      case OffsetSpec.FromEnd(n) =>
        val (j, leo) = leoJoin(records, "__leo")
        j.filter(col("offset") >= leo - n).drop("__leo")
      case OffsetSpec.End =>
        val (j, leo) = leoJoin(records, "__leo")
        j.filter(col("offset") >= leo).drop("__leo")
    }
    val ended = opt.end match {
      case Some(e) => windowed.filter(col("offset") <= e) // inclusive end bound
      case None    => windowed
    }

    // ---- transform chain (SmartModule analog), applied to the record view
    // BEFORE projection, like the server-side WASM chain
    // (/root/reference/src/consume.rs:650-673). A chain of map-type
    // (cardinality-preserving) transforms commutes with the row cap, so it
    // is treated as cap-friendly below and applied to the capped window.
    val chain = TransformChain.fromOpt(opt)
    val mapOnlyChain = chain.forall(t => TransformRegistry.preservesCardinality(t.uses))
    def applyChain(df: DataFrame): DataFrame =
      chain.foldLeft(df) { (d, t) => TransformRegistry(t.uses)(d, t.params) }
    val transformed = if (mapOnlyChain) ended else applyChain(ended)

    // ---- `--rows` cap in offset order (post-transform, matching the
    // reference's chunk-fill count at /root/reference/src/consume.rs:75-92).
    //
    // Without transforms the cap is a pure OFFSET-RANGE FILTER: fixture
    // offsets are dense from 0 (like a contiguous log), so "first N rows of
    // the window" ≡ offset < windowStart + N — fully parallel, pushed to
    // the scan, and no single-partition GlobalLimit shuffle at any scale.
    // A transform chain can drop records (rows counts POST-transform), so
    // that path keeps the exact sort+limit semantics.
    val capped0: DataFrame =
      if (mapOnlyChain) {
        val capN = math.min(opt.rows, Long.MaxValue - 10_000_000L)
        opt.startOffset match {
          case OffsetSpec.FromBeginning(n) => transformed.filter(col("offset") < n + capN)
          case OffsetSpec.Absolute(n)      => transformed.filter(col("offset") < n + capN)
          case OffsetSpec.FromEnd(n) =>
            val (j, leo) = leoJoin(transformed, "__leo2")
            j.filter(col("offset") < leo - n + capN).drop("__leo2")
          case OffsetSpec.End =>
            val (j, leo) = leoJoin(transformed, "__leo2")
            j.filter(col("offset") < leo + capN).drop("__leo2")
        }
      } else {
        // cardinality-changing chain: the cap must count POST-transform
        // rows in offset order, per partition under `-A`. Block-bucketed
        // counting cap — no global sort, no single-partition GlobalLimit
        // funnel (see OrderedCap).
        graft.plans.OrderedCap.byKey(transformed, "offset", opt.rows,
          groups = if (multiPart) Seq("__part") else Nil)
      }
    // map-type transforms run AFTER the cap (commutes; see above)
    val capped = if (mapOnlyChain && chain.nonEmpty) applyChain(capped0) else capped0

    projectAndOrder(capped, opt)
  }

  /** The consume grammar's projection + ordering tail, SHARED by the DSv2
    * face and the file-source fallback (extracted r14 so the faces cannot
    * drift — identical plan shape over either scan).
    *
    * Projection: default record columns or -c mappings (the reference's
    * columns_mappings, src/consume.rs:607-637). With mappings, one
    * streaming pass per row decodes every mapping (ColumnMapping.project).
    *
    * Ordering: record order WITHIN each partition (the log order users see
    * from a consume). sortWithinPartitions, not orderBy: parquet row order
    * is already offset order inside every split, so this is a near-free
    * partition-local sort with NO range-shuffle Exchange — a plain 100 TB
    * `fluvio_consume` must not pay a full distributed sort for order the
    * log already has. Splits scan in offset order in practice; a consumer
    * needing a guaranteed TOTAL order across partitions adds its own
    * orderBy("offset") (documented divergence, SURVEY §4.2). Behind a
    * filtering chain the `--rows` cap (OrderedCap) hash-shuffles the kept
    * rows by offset block (2^20 offsets), so when they span several
    * blocks the partitions here are hash-ordered blocks: each sorted,
    * but the blocks not in offset order, even for a one-split topic. */
  private[graft] def projectAndOrder(capped: DataFrame, opt: ConsumeOpt): DataFrame = {
    val projected =
      if (opt.columns.isEmpty)
        capped.select(col("offset"), col("timestamp"), col("value"))
      else {
        ColumnMapping.project(capped, opt.columns, col("offset").as("__offset"))
      }
    val ordered = projected
      .sortWithinPartitions(col(if (opt.columns.isEmpty) "offset" else "__offset"))
    if (opt.columns.isEmpty) ordered else ordered.drop("__offset")
  }

  /** `fluvio_topics()` — one row per topic: (name, partitions).
    * Reference: `/root/reference/src/topic.rs:20-28`, schema `:52-53`.
    * Fixture topics are single-partition parquet tables. */
  def topics(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    TopicRegistry.allTopics(baseDir)
      .map(t => (t, TopicRegistry.partitionCount(baseDir, t)))
      .toDF("name", "partitions")
  }

  /** `fluvio_partitions()` — one row per partition: (topic, partition, LEO).
    * Reference: `/root/reference/src/partition.rs:21-29`, replica-key split
    * `:113-122`, LEO `:131`. LEO = log-end-offset = row count for dense
    * offsets; computed as a union of per-topic single-row aggregates (one
    * distributed job, no driver-side counting). Partition id is VARCHAR, as
    * in the reference's replica-key split. */
  def partitions(spark: SparkSession, baseDir: String): DataFrame = {
    val perTopic = TopicRegistry.allTopics(baseDir).map { t =>
      val df = Tables.load(spark, baseDir, t)
      if (df.columns.contains("partition"))
        // multi-partition topic: per-partition LEO via one grouped agg
        // (map-side partials; the partition column comes free from the
        // hive layout, no data read beyond row counts)
        df.groupBy(col("partition").cast("string").as("partition"))
          .agg(count(lit(1)).as("LEO"))
          .select(lit(t).as("topic"), col("partition"), col("LEO"))
      else
        df.agg(count(lit(1)).as("LEO"))
          .select(lit(t).as("topic"), lit("0").as("partition"), col("LEO"))
    }
    perTopic.reduce(_.unionAll(_))
  }
}
