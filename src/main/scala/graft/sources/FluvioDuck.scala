package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.v2.FluvioDsv2
import graft.transforms.TransformChain

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
  * A consume is declared through the DataFrame API so Catalyst gets full
  * pushdown/pruning freedom; no driver-side row loops. The admin scans
  * read directory listings and parquet footers only.
  */
object FluvioDuck {

  /** Materialize a bounded window of a topic as a DataFrame.
    *
    * Pipeline (mirrors the reference's semantics, not its execution):
    * parse options → DSv2 scan of the offset window → transform chain →
    * column projection (default 3-col record schema or `-c` mappings) →
    * offset order within each partition.
    *
    * Reference lifecycle: `/root/reference/src/consume.rs:158-210` (bind),
    * `:72-134` (read loop). The reference pulls record-at-a-time over a
    * blocking stream into 2048-row chunks, single-partition; here the whole
    * thing is one Catalyst plan over the `fluvio` DSv2 source, which serves
    * batch, streaming and the SQL TVF like Spark's Kafka source. The offset
    * window (`-B`/`-H`/`--start`/`-T`/`--end`) and the `--rows` cap resolve
    * inside the source ([[ConsumeOpt.window]] per partition against its
    * footer-count LEO): a `--rows 500` consume of a deep topic plans ~500
    * rows. Column projection prunes through SupportsPushDownRequiredColumns
    * and user predicates push through SupportsPushDownFilters
    * (DsvPushdownCanarySpec pins both).
    *
    * The transform chain (SmartModule analog,
    * reference `src/consume.rs:650-673`) composes on top of the scan.
    * A map-only chain commutes with the cap, so it runs over the capped
    * window. A chain that can drop records runs over the uncapped window
    * (`rowsCap=false`), and [[graft.plans.OrderedCap.byKey]] then counts
    * post-transform rows in offset order, like the reference's chunk fill
    * (`:75-92`).
    *
    * Divergences (documented in SURVEY.md §1.2/§4.2): offset/LEO are Long
    * (not int32-truncated); under `-A` offset windows and the `--rows` cap
    * apply per partition (the reference is single-partition,
    * consume.rs:179, so the axis has no reference semantics; a total-N
    * arrival-order cap would serialize the scan).
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
    val chain = TransformChain.fromOpt(opt)
    val mapOnly = TransformChain.mapOnly(chain)
    val rel = spark.read.format("fluvio")
      .option("cmd", cmd).option("baseDir", baseDir)
      .option("rowsCap", String.valueOf(mapOnly))
      .load()
    val transformed = TransformChain.run(chain, rel)
    // `partition` is the DSv2 extra beside (offset, timestamp, value):
    // the post-transform cap counts per partition under `-A`, where
    // offsets repeat across partitions; the projection then drops it
    val capped =
      if (mapOnly) transformed
      else graft.plans.OrderedCap.byKey(transformed, "offset", opt.rows,
        groups = if (opt.allPartitions) Seq("partition") else Nil)
    projectAndOrder(capped, opt)
  }

  /** The consume grammar's projection + ordering tail.
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
  private def projectAndOrder(capped: DataFrame, opt: ConsumeOpt): DataFrame = {
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
    * The partition count is the topic's layout as the DSv2 source reads
    * it ([[FluvioDsv2.partitionDirs]]): directory metadata only, no job. */
  def topics(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    TopicRegistry.allTopics(baseDir)
      .map(t => (t, FluvioDsv2.partitionDirs(baseDir, t).size))
      .toDF("name", "partitions")
  }

  /** `fluvio_partitions()` — one row per partition: (topic, partition, LEO).
    * Reference: `/root/reference/src/partition.rs:21-29`, replica-key split
    * `:113-122`, LEO `:131`. LEO = log-end-offset = record count for dense
    * offsets, read from the same cached parquet footer counts the consume
    * planners use ([[FluvioDsv2.leo]]) — a local relation, no Spark job.
    * Partition id is VARCHAR, as in the reference's replica-key split. */
  def partitions(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    TopicRegistry.allTopics(baseDir).flatMap { t =>
      FluvioDsv2.leo(baseDir, t).toSeq.sortBy(_._1).map { case (p, leo) => (t, p.toString, leo) }
    }.toDF("topic", "partition", "LEO")
  }
}
