package graft.sources.v2

import graft.SparkSpec
import graft.sources.{MpFixture, Tables}
import org.apache.spark.sql.functions._

/** The DSv2 MicroBatchStream source: real per-partition log offsets over a
  * growing topic directory — the analog of the reference's live consumer
  * loop (consume.rs:72-134), with the offset-window flags computed at bind
  * time like the reference (consume.rs:580-605). */
class FluvioDsv2Spec extends SparkSpec {

  private val fmt = classOf[FluvioTableProvider].getName

  private def mkTopic(prefix: String, n: Long): (java.io.File, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < n)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    (dir, topicDir)
  }

  private def startQuery(cmd: String, baseDir: String): (String, org.apache.spark.sql.streaming.StreamingQuery) = {
    val name = s"dsv2_${System.nanoTime()}"
    val q = spark.readStream.format(fmt)
      .option("cmd", cmd).option("baseDir", baseDir).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    (name, q)
  }

  test("steady-state planning parses each segment footer at most once, never per trigger") {
    // the 100 TB contract behind latestOffset: row counts come from the
    // (path, mtime, length)-keyed footer cache, so a trigger over an
    // UNCHANGED topic costs file stats only — at a production trigger
    // rate, per-trigger footer parsing would be a planner-side read
    // amplification proportional to segment count x trigger count
    val (dir, topicDir) = mkTopic("dsv2_footer", 100)
    // snapshot BEFORE the query binds: bind-time offset resolution is
    // allowed (and expected) to parse the initial segments' footers
    val before = FluvioDsv2.footerParses.get()
    val (name, q) = startQuery("events -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      val afterDrain = FluvioDsv2.footerParses.get()
      assert(afterDrain - before >= 1, "the initial drain must parse the segment")
      // repeated no-new-data rounds: zero parses
      q.processAllAvailable()
      q.processAllAvailable()
      assert(FluvioDsv2.footerParses.get() == afterDrain,
        "triggers over an unchanged topic must not parse footers")
      // one appended segment: exactly the new file's footer is parsed
      Tables.load(spark, sf, "events")
        .filter(col("event_id") >= 100 && col("event_id") < 130)
        .coalesce(1).write.mode("append").parquet(topicDir.getAbsolutePath)
      q.processAllAvailable()
      assert(spark.table(name).count() == 130)
      val appended = FluvioDsv2.footerParses.get() - afterDrain
      assert(appended == 1, s"expected 1 new-footer parse, got $appended")
    } finally q.stop()
  }

  test("micro-batches deliver new segments as the topic grows; offsets are log positions") {
    val (dir, topicDir) = mkTopic("dsv2_grow", 100)
    val (name, q) = startQuery("events -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)
      Tables.load(spark, sf, "events")
        .filter(col("event_id") >= 100 && col("event_id") < 160)
        .write.mode("append").parquet(topicDir.getAbsolutePath)
      q.processAllAvailable()
      val rows = spark.table(name).select("partition", "offset")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(rows.length == 160)
      assert(rows.map(_._2).sorted.toSeq == (0L until 160L)) // exactly once
      assert(rows.forall(_._1 == 0))
      // the committed stream offset is a real log position
      val progress = q.lastProgress.sources.head
      assert(progress.endOffset.contains("160"), progress.endOffset)
    } finally q.stop()
  }

  test("bind-time -T n starts n before the log end, like the reference") {
    val (dir, topicDir) = mkTopic("dsv2_tail", 100)
    val (name, q) = startQuery("events -T 5", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      assert(spark.table(name).select("offset").collect()
        .map(_.getLong(0)).sorted.toSeq == (95L until 100L))
      // later appends still stream (bind-time start, unbounded tail)
      Tables.load(spark, sf, "events")
        .filter(col("event_id") >= 100 && col("event_id") < 120)
        .write.mode("append").parquet(topicDir.getAbsolutePath)
      q.processAllAvailable()
      assert(spark.table(name).count() == 25)
    } finally q.stop()
  }

  test("--end N caps delivery inclusively") {
    val (dir, _) = mkTopic("dsv2_end", 100)
    val (name, q) = startQuery("events -B --end 49", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      assert(spark.table(name).select("offset").collect()
        .map(_.getLong(0)).sorted.toSeq == (0L to 49L))
    } finally q.stop()
    // the largest --end means "no end": it saturates instead of wrapping
    // to a negative cap that would never deliver
    val (all, q2) = startQuery(s"events -B --end ${Long.MaxValue}", dir.getAbsolutePath)
    try {
      q2.processAllAvailable()
      assert(spark.table(all).count() == 100L)
    } finally q2.stop()
  }

  test("multi-partition topic: -p prunes to one partition, -A streams all") {
    val base = MpFixture.baseDir(spark, sf)
    val perPart = Tables.load(spark, sf, "events").count() / 4
    val (n1, q1) = startQuery("events_mp -p 2 -B", base)
    try {
      q1.processAllAvailable()
      val rows = spark.table(n1).select("partition", "offset").collect()
      assert(rows.length == perPart)
      assert(rows.forall(_.getInt(0) == 2))
    } finally q1.stop()
    val (n2, q2) = startQuery("events_mp -A -B", base)
    try {
      q2.processAllAvailable()
      val byPart = spark.table(n2).groupBy("partition").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byPart == Map(0 -> perPart, 1 -> perPart, 2 -> perPart, 3 -> perPart))
    } finally q2.stop()
  }

  test("timestamps survive the unit conversion (nanos fixture -> micros)") {
    val (dir, _) = mkTopic("dsv2_ts", 10)
    val (name, q) = startQuery("events -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      val got = spark.table(name).orderBy("offset")
        .select("timestamp").head().getTimestamp(0)
      val exp = Tables.load(spark, sf, "events").orderBy("event_id")
        .select(col("ts").cast("timestamp")).head().getTimestamp(0)
      assert(got == exp, s"$got != $exp")
    } finally q.stop()
  }

  test("restart from checkpoint resumes at the committed log offsets (no re-delivery)") {
    val (dir, topicDir) = mkTopic("dsv2_restart", 80)
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // foreachBatch sink: supports checkpoint recovery (memory does not)
    def start() = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.select("offset").collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == (0L until 80L), s"first run: ${got.size}")
    got.clear()
    // topic grows while NO query is running; the restart must pick up
    // exactly the new records from the checkpointed per-partition offset
    Tables.load(spark, sf, "events")
      .filter(col("event_id") >= 80 && col("event_id") < 130)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.asScala.toSeq.sorted == (80L until 130L),
        s"restart delivered ${got.size} rows (expected exactly the 50 new)")
    } finally q2.stop()
  }

  test("crash recovery: a stream killed MID-LOG under admission control resumes " +
      "from the committed offsets — two-phase run ≡ one batch read, no dupes/holes") {
    // Phase 1 streams with a 30-record trigger cap and CRASHES inside
    // batch 1 (after batch 0 committed 30 rows — mid-log, backlog
    // remaining). The topic then GROWS while the query is down. Phase 2
    // restarts from the SAME checkpoint: Spark replays batch 1 from the
    // offset WAL with its ORIGINAL admitted range (not the grown end),
    // then drains the rest. An exactly-once sink sees every record once:
    // the crash threw BEFORE recording, so the replay is the only
    // delivery. The concatenated two-phase output must be row-identical
    // to a batch read of the final log.
    val (dir, topicDir) = mkTopic("dsv2_crash", 80)
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2_crash_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]() // (batchId, offset)
    def start(crashAtBatch: Long) = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("maxRecordsPerTrigger", "30").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId == crashAtBatch)
          throw new RuntimeException("injected sink crash")
        df.select("offset").collect().foreach(r => got.add((batchId, r.getLong(0))))
        ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start(crashAtBatch = 1L)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(err.getMessage.contains("injected sink crash"), err.getMessage)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.map(_._2).toSeq.sorted == (0L until 30L),
      "phase 1 must have committed exactly batch 0 (offsets 0-29) before the crash")
    // the log grows while the stream is down
    Tables.load(spark, sf, "events")
      .filter(col("event_id") >= 80 && col("event_id") < 120)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val q2 = start(crashAtBatch = -1L)
    try q2.processAllAvailable() finally q2.stop()
    val all = got.asScala.toSeq
    // exactly-once at the sink: every log record delivered exactly once
    assert(all.map(_._2).sorted == (0L until 120L),
      s"two-phase output is not the batch read: ${all.size} rows")
    // the replayed batch is batch 1 with its ORIGINAL pre-growth range —
    // the committed-offset resume, not a rescan and not the grown end
    val replayed = all.filter { case (b, _) => b == 1L }.map(_._2).sorted
    assert(replayed == (30L until 60L),
      s"replayed batch 1 was not the WAL'd [30,60) range: $replayed")
    // and no later batch exceeds the admission cap
    val sizes = all.groupBy(_._1).view.mapValues(_.size)
    assert(sizes.values.forall(_ <= 30), s"a batch exceeded the cap: $sizes")
  }

  test("maxRecordsPerTrigger caps each micro-batch; AvailableNow drains and stops") {
    val (dir, _) = mkTopic("dsv2_limit", 100)
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("maxRecordsPerTrigger", "30").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sizes.add(df.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    // AvailableNow must terminate on its own once the latched end is reached
    assert(q.awaitTermination(60000), "AvailableNow query did not stop")
    import scala.jdk.CollectionConverters._
    val batches = sizes.asScala.toSeq.filter(_ > 0)
    assert(batches.sum == 100, s"delivered ${batches.sum}")
    assert(batches.forall(_ <= 30), s"a batch exceeded the cap: $batches")
    assert(batches.length == 4, s"expected ceil(100/30)=4 batches, got $batches")
  }

  test("streaming decontamination composes onto the DSv2 source under byte admission control") {
    // the stateless decontamination gate (broadcast anti-join on text
    // fingerprints) applied directly to the DSv2 readStream, WITH
    // maxBytesPerTrigger on: proves the stream-static anti-join survives
    // micro-batch planning + admission control, and that the multi-batch
    // streaming result is row-identical to the batch gate on the same log
    val (dir, _) = mkTopic("dsv2_decon", 100)
    val events = Tables.load(spark, sf, "events").filter(col("event_id") < 100)
    val contam = events.filter(col("event_id") < 30)
      .select(graft.operators.TextAnalysis.fingerprint(col("props")).as("fp"))
    val expected = graft.streaming.StreamingDedup.decontaminate(
        events.select(col("event_id"), col("props").as("value")), "value", contam, "fp")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < 100, s"degenerate fixture: ${expected.size}")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("maxBytesPerTrigger", "2048").load()
    val cleaned = graft.streaming.StreamingDedup.decontaminate(stream, "value", contam, "fp")
    val q = cleaned.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.incrementAndGet()
        df.select("offset").collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(batches.get() > 1,
        "byte cap produced a single micro-batch — admission control was not exercised")
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq.sorted == expected)
    } finally q.stop()
  }

  test("admission control splits the budget across partitions by backlog") {
    val base = MpFixture.baseDir(spark, sf)
    val perPart = Tables.load(spark, sf, "events").count() / 4
    val firstBatch =
      new java.util.concurrent.atomic.AtomicReference[Map[Int, Long]](null)
    val q = spark.readStream.format(fmt)
      .option("cmd", "events_mp -A -B").option("baseDir", base)
      .option("maxRecordsPerTrigger", "100").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (id == 0L) firstBatch.set(
          df.groupBy("partition").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap)
        ()
      }
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // equal backlogs (perPart each) ⇒ the 100-record budget splits 25/25/25/25
      assert(perPart > 25, s"fixture too small for the test: $perPart")
      assert(firstBatch.get() == Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L),
        s"first batch split: ${firstBatch.get()}")
    } finally q.stop()
  }

  // direct handle on the admission arithmetic, bound to a real tiny topic
  private def streamFor(dir: java.io.File): FluvioMicroBatchStream = {
    val opt = graft.sources.ConsumeOpt.parse("events -B")
      .getOrElse(sys.error("parse failed"))
    val view = graft.sources.TopicRegistry
      .requireRecordView(dir.getAbsolutePath, "events")
    new FluvioMicroBatchStream(opt, view, dir.getAbsolutePath)
  }

  test("admit: huge budget x deep backlog does not overflow into a regressed offset") {
    val (dir, _) = mkTopic("dsv2_ovf", 10)
    val s = streamFor(dir)
    val start = Map(0 -> 0L, 1 -> 0L)
    // budget * backlog ~ 1.5e19 > Long.MaxValue: the naive Long product
    // went negative, admitting an end BELOW start (stalled stream)
    val target = Map(0 -> 4000000000L, 1 -> 5000000000L)
    val budget = 3000000000L
    val end = s.admit(start, target, budget)
    val admitted = end.map { case (p, e) => p -> (e - start(p)) }
    assert(admitted.values.forall(_ >= 0L), s"negative admission: $end")
    assert(admitted.values.sum == budget, admitted.toString)
    assert(admitted(1) > admitted(0)) // still proportional to backlog
  }

  test("admitBytes: splits a byte budget by byte backlog; tiny budgets still progress") {
    val (dir, _) = mkTopic("dsv2_bytes_u", 10)
    val s = streamFor(dir)
    val start = Map(0 -> 0L, 1 -> 0L)
    val target = Map(0 -> 100L, 1 -> 100L)
    val bpr = Map(0 -> 10.0, 1 -> 30.0) // partition 1 rows are 3x fatter
    // 2000-byte budget over a 4000-byte backlog: p0 gets 500 B -> 50
    // records, p1 gets 1500 B -> 50 records
    assert(s.admitBytes(start, target, 2000L, bpr) == Map(0 -> 50L, 1 -> 50L))
    // a budget below one record's size admits exactly ONE record, not zero
    val tiny = s.admitBytes(start, target, 5L, bpr)
    assert(tiny.map { case (p, e) => e - start(p) }.sum == 1L, tiny.toString)
    // budget >= backlog bytes: everything is admitted
    assert(s.admitBytes(start, target, 10000L, bpr) == target)
  }

  test("admitBytes: leftover byte budget redistributes to backlogged partitions") {
    val (dir, _) = mkTopic("dsv2_bytes_r", 10)
    val s = streamFor(dir)
    val start = Map(0 -> 0L, 1 -> 0L)
    val target = Map(0 -> 100L, 1 -> 100L)
    val bpr = Map(0 -> 10.0, 1 -> 10.0)
    // floor shares strand bytes: 1999 B x 50% / 10 B = 99 records each
    // (1980 B used); the 19 B leftover buys one MORE record on the lowest
    // backlogged partition id — without redistribution every trigger
    // undershoots the budget by up to ~one record per partition
    assert(s.admitBytes(start, target, 1999L, bpr) == Map(0 -> 100L, 1 -> 99L))
    // leftover never over-admits: 2005 B -> 100 + 100 floors at the
    // backlog, and total admitted bytes stays within the budget
    val full = s.admitBytes(start, target, 2005L, bpr)
    val bytesUsed = full.map { case (p, e) => (e - start(p)) * bpr(p) }.sum
    assert(bytesUsed <= 2005.0, full.toString)
  }

  test("composite record+byte caps cannot stall: progress survives the min-composition") {
    // the stall shape: the record limiter spends its one guaranteed
    // record on p0 (lowest id), the byte limiter gives p0 zero records
    // (its byte share is below one fat record) and spends its budget on
    // p1 — the per-partition MIN then admits zero everywhere, forever
    val dir = java.nio.file.Files.createTempDirectory("dsv2_comp").toFile
    val topicDir = new java.io.File(dir, "events_mp.parquet")
    import spark.implicits._
    val fat = (0 until 30000).map(i => (i * 2654435761L).toHexString).mkString
    Seq((0L, fat)).toDF("offset", "value")
      .withColumn("ts", lit(null).cast("timestamp"))
      .coalesce(1).write.mode("append")
      .parquet(new java.io.File(topicDir, "partition=0").getAbsolutePath)
    spark.range(100).select(col("id").as("offset"),
        lit(null).cast("timestamp").as("ts"), md5(col("id").cast("string")).as("value"))
      .coalesce(1).write.mode("append")
      .parquet(new java.io.File(topicDir, "partition=1").getAbsolutePath)
    val opt = graft.sources.ConsumeOpt.parse("events_mp -A -B")
      .getOrElse(sys.error("parse failed"))
    val view = graft.sources.TopicRegistry
      .requireRecordView(dir.getAbsolutePath, "events_mp")
    val stream = new FluvioMicroBatchStream(opt, view, dir.getAbsolutePath)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val start = FluvioOffset(Map(0 -> 0L, 1 -> 0L))
    val limit = ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(1L), ReadLimit.maxBytes(20000L)))
    val end = stream.latestOffset(start, limit)
      .asInstanceOf[FluvioOffset].positions
    val admitted = end.map { case (p, e) => e - start.positions(p) }.sum
    assert(admitted >= 1L, s"composite limit admitted nothing: $end")
  }

  test("maxBytesPerTrigger: fat payloads split into multiple micro-batches where a record cap would not") {
    // a topic whose 60 records carry ~2 KB incompressible payloads each —
    // the shape where record-count admission under-controls memory
    val dir = java.nio.file.Files.createTempDirectory("dsv2_fat").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    spark.range(60).select(
        col("id").as("event_id"),
        lit(null).cast("timestamp").as("ts"),
        concat_ws("", (0 until 64).map(i =>
          md5(concat(col("id").cast("string"), lit(i)))): _*).as("props"))
      .coalesce(1).write.mode("append").parquet(topicDir.getAbsolutePath)
    def run(opts: Map[String, String]): Seq[Long] = {
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      var reader = spark.readStream.format(fmt)
        .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load().writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          sizes.add(df.count()); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      assert(q.awaitTermination(60000), "AvailableNow query did not stop")
      import scala.jdk.CollectionConverters._
      sizes.asScala.toSeq.filter(_ > 0)
    }
    // record cap alone: 1000 >> 60 records, one giant batch
    val recordCapped = run(Map("maxRecordsPerTrigger" -> "1000"))
    assert(recordCapped == Seq(60L), recordCapped.toString)
    // byte cap: ~2 KB/record estimated from segment metadata; a 40 KB
    // budget admits ~20 records per batch -> several batches, same total
    val byteCapped = run(Map("maxBytesPerTrigger" -> "40000"))
    assert(byteCapped.sum == 60L, byteCapped.toString)
    assert(byteCapped.length > 1, s"byte cap produced one batch: $byteCapped")
    // both caps compose: the tighter (records) wins
    val both = run(Map("maxBytesPerTrigger" -> "40000",
      "maxRecordsPerTrigger" -> "10"))
    assert(both.sum == 60L && both.forall(_ <= 10L), both.toString)
  }

  test("a vanished topic partition fails the query loudly (failOnDataLoss contract)") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_vanish").toFile
    val topicDir = new java.io.File(dir, "events_mp.parquet")
    val src = Tables.load(spark, sf, "events").filter(col("event_id") < 50)
      .select(col("event_id").as("offset"), col("ts"), col("props").as("value"))
    for (p <- 0 to 1)
      src.write.mode("append")
        .parquet(new java.io.File(topicDir, s"partition=$p").getAbsolutePath)
    val (name, q) = startQuery("events_mp -A -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)
      // the producer drops partition 1 while the query is live
      val p1 = new java.io.File(topicDir, "partition=1")
      p1.listFiles().foreach(_.delete()); p1.delete()
      src.write.mode("append")
        .parquet(new java.io.File(topicDir, "partition=0").getAbsolutePath)
      val e = intercept[Exception](q.processAllAvailable())
      assert(e.toString.contains("vanished") ||
        Option(e.getCause).exists(_.getMessage.contains("vanished")), e.toString)
    } finally q.stop()
  }

  test("a truncated log (segments deleted below the committed offset) fails loudly") {
    val (dir, topicDir) = mkTopic("dsv2_trunc", 100)
    val (_, q) = startQuery("events -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      // compaction rewrites the topic to 10 rows: LEO 10 < committed 100
      topicDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      Tables.load(spark, sf, "events").filter(col("event_id") < 10)
        .write.mode("append").parquet(topicDir.getAbsolutePath)
      val e = intercept[Exception](q.processAllAvailable())
      assert(e.toString.contains("truncated") ||
        Option(e.getCause).exists(_.getMessage.contains("truncated")), e.toString)
    } finally q.stop()
  }

  test("a topic partition added mid-stream is read from 0, not silently committed away") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_newpart").toFile
    val topicDir = new java.io.File(dir, "events_mp.parquet")
    val src = Tables.load(spark, sf, "events")
      .filter(col("event_id") < 50)
      .select(col("event_id").as("offset"), col("ts"),
        col("props").as("value"))
    for (p <- 0 to 1)
      src.write.mode("append")
        .parquet(new java.io.File(topicDir, s"partition=$p").getAbsolutePath)
    val (name, q) = startQuery("events_mp -A -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)
      // producer adds partition 2 while the query is live
      src.write.mode("append")
        .parquet(new java.io.File(topicDir, "partition=2").getAbsolutePath)
      q.processAllAvailable()
      val p2 = spark.table(name).filter(col("partition") === 2)
        .select("offset").collect().map(_.getLong(0)).sorted
      assert(p2.toSeq == (0L until 50L), s"partition 2 delivered ${p2.length} rows")
    } finally q.stop()
  }

  test("null value/timestamp cells stream as nulls (nullable schema), not task crashes") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_nulls").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 10)
      .withColumn("props", when(col("event_id") === 5, lit(null)).otherwise(col("props")))
      .withColumn("ts", when(col("event_id") === 7, lit(null)).otherwise(col("ts")))
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val (name, q) = startQuery("events -B", dir.getAbsolutePath)
    try {
      q.processAllAvailable()
      val rows = spark.table(name).orderBy("offset").collect()
      assert(rows.length == 10)
      assert(rows(5).isNullAt(rows(5).fieldIndex("value")))
      assert(rows(7).isNullAt(rows(7).fieldIndex("timestamp")))
      assert(!rows(4).isNullAt(rows(4).fieldIndex("value")))
    } finally q.stop()
  }

  test("options are case-insensitive (cmd/baseDir/maxRecordsPerTrigger)") {
    val (dir, _) = mkTopic("dsv2_ci", 10)
    val name = s"dsv2_ci_${System.nanoTime()}"
    val q = spark.readStream.format("fluvio")
      .option("CMD", "events -B").option("basedir", dir.getAbsolutePath).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).count() == 10)
  }

  test("short name: format(\"fluvio\") resolves via DataSourceRegister") {
    val (dir, _) = mkTopic("dsv2_short", 10)
    val name = s"dsv2_sn_${System.nanoTime()}"
    val q = spark.readStream.format("fluvio")
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).count() == 10)
  }

  test("error surface matches the batch contract") {
    val (dir, _) = mkTopic("dsv2_err", 10)
    val e1 = intercept[Exception](
      spark.readStream.format(fmt)
        .option("cmd", "nosuch -B").option("baseDir", dir.getAbsolutePath).load())
    assert(e1.getMessage.contains("Topic not found") ||
      Option(e1.getCause).exists(_.getMessage.contains("Topic not found")),
      e1.toString)
    val e2 = intercept[Exception](
      spark.readStream.format(fmt)
        .option("baseDir", dir.getAbsolutePath).load())
    assert(e2.toString.contains("cmd"), e2.toString)
  }

  test("backfill handoff: batch [0, X) + stream --start X covers the log exactly once") {
    // the lambda-architecture handoff: bounded batch processing up to a
    // chosen offset, then the stream takes over FROM that offset — the
    // offset algebra is shared (bind-time --start/--end), so the union
    // must equal one full batch read with no seam
    val (dir, _) = mkTopic("dsv2_handoff", 120)
    val batchPart = graft.sources.FluvioDuck
      .consume(spark, "events --start 0 --end 69", dir.getAbsolutePath)
      .select("offset").collect().map(_.getLong(0))
    assert(batchPart.sorted.toSeq == (0L until 70L))
    val name = s"dsv2_handoff_${System.nanoTime()}"
    val q = spark.readStream.format(fmt)
      .option("cmd", "events --start 70")
      .option("baseDir", dir.getAbsolutePath).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamPart = spark.table(name).select("offset")
        .collect().map(_.getLong(0))
      assert(streamPart.sorted.toSeq == (70L until 120L))
      val union = (batchPart ++ streamPart).sorted.toSeq
      assert(union == (0L until 120L), "handoff must cover the log exactly once")
    } finally q.stop()
  }

  test("`columns` option prunes the stream schema and the reader projection") {
    val (dir, _) = mkTopic("dsv2_prune", 60)
    val df = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("columns", "offset").load()
    // the STREAM's schema is already pruned — the value string is never
    // materialized by the reader, not merely projected away afterwards
    assert(df.schema.fieldNames.toSeq == Seq("offset"), df.schema.treeString)
    val name = s"dsv2_prune_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 60L))
    } finally q.stop()
  }

  test("`columns` option preserves advertised order and rejects unknown names") {
    val (dir, _) = mkTopic("dsv2_prune_bad", 10)
    // order in the option does not matter: advertised order is canonical
    val df = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("columns", "value, partition").load()
    assert(df.schema.fieldNames.toSeq == Seq("partition", "value"))
    val e = intercept[Exception](
      spark.readStream.format(fmt)
        .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
        .option("columns", "offset, nope").load())
    assert(e.getMessage.contains("unknown column(s) nope"), e.getMessage)
  }

  test("full-schema streams are unaffected by the pruning path") {
    val (dir, _) = mkTopic("dsv2_prune_full", 30)
    val name = s"dsv2_full_${System.nanoTime()}"
    val q = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name)
        .select("partition", "offset", "timestamp", "value").collect()
      assert(rows.length == 30)
      assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(3)))
    } finally q.stop()
  }
}
