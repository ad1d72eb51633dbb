package graft.streaming

import graft.SparkSpec
import graft.sources.{ConsumeOpt, FluvioDuck, MappedType, ColumnMapping}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def opt(cmd: String): ConsumeOpt = ConsumeOpt.parse(cmd).toOption.get

  /** micro-batch the stream plan to completion and collect results. */
  private def runStream(df: org.apache.spark.sql.DataFrame,
                        mode: String = "append"): Seq[org.apache.spark.sql.Row] = {
    val name = s"mem_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.table(name).collect().toSeq
  }

  /** A one-segment `events` topic under a fresh base dir: offsets
    * [0, rows), one second apart, payload `{"k": offset % 7}`. */
  private def topic(rows: Long): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("stream_topic").toFile
    appendRecords(dir, 0L, rows)
    dir
  }

  private def appendRecords(dir: java.io.File, from: Long, until: Long): Unit =
    (from until until).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 1000), s"""{"k": ${i % 7}}"""))
      .toDF("event_id", "ts", "props").coalesce(1)
      .write.mode("append").parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)

  test("stream plan equals batch plan on the same prefix (parity)") {
    val dir = topic(50).getAbsolutePath
    val got = runStream(ConsumeStream.consume(spark, "events -d -H 10 -c k:i=k", dir))
      .map(_.getInt(0))
    val exp = FluvioDuck.consume(spark, "events -H 10 -c k:i=k", dir).collect().map(_.getInt(0))
    assert(exp.length == 40)
    assert(got.sorted == exp.toSeq.sorted)
  }

  test("streaming consume applies transforms like batch") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    input.addData((0L until 20L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i), s"""{"k": $i}""")))
    val o = opt(
      "events -d -B --smartmodule graft/filter-json-eq -e key=k -e value=5")
    val streamed = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"), o, "event_id", "ts", "props")
    val got = runStream(streamed)
    assert(got.map(_.getLong(0)) == Seq(5L))
  }

  test("windowed aggregation with watermark over a stream") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val base = 1700000000000L
    input.addData((0L until 120L).map(i =>
      (i, new java.sql.Timestamp(base + i * 1000), s"""{"v": ${i % 10}}""")))
    val o = opt("events -d -B")
    val rec = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"), o, "event_id", "ts", "props")
    val agg = ConsumeStream.windowedAgg(rec,
      ColumnMapping("v", MappedType.D, "v"), "1 minute", "10 seconds")
    val rows = runStream(agg, mode = "complete")
    assert(rows.map(_.getLong(1)).sum == 120L) // all records in some window
    assert(rows.length == 3) // 120s starting mid-minute → 3 minute windows
  }

  test("file-based streaming consume over the fixture topic dir") {
    // copy events.parquet into a temp "topic dir" the stream can watch
    val dir = java.nio.file.Files.createTempDirectory("stream_topic").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    val src = graft.sources.Tables.load(spark, sf, "events")
    src.limit(100).write.mode("overwrite").parquet(topicDir.getAbsolutePath)
    val stream = ConsumeStream.consume(spark, "events -d -B -c k:i=k",
      dir.getAbsolutePath)
    assert(stream.isStreaming)
    val rows = runStream(stream)
    assert(rows.length == 100)
  }

  test("growing topic: a parquet file appended MID-QUERY arrives as a new micro-batch") {
    // the reference's live consumer keeps delivering as the log grows
    // (consume.rs:72-134); on the file-backed topic the same contract is
    // "new parquet segment in the topic dir = new micro-batch"
    val dir = java.nio.file.Files.createTempDirectory("grow_topic").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    val src = graft.sources.Tables.load(spark, sf, "events")
    src.filter(col("event_id") < 100)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val stream = ConsumeStream.consume(spark, "events -d -B --rows 100000000",
      dir.getAbsolutePath)
    val name = s"grow_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)
      // a producer appends a new segment while the query is RUNNING
      src.filter(col("event_id") >= 100 && col("event_id") < 150)
        .write.mode("append").parquet(topicDir.getAbsolutePath)
      q.processAllAvailable()
      val offsets = spark.table(name).select("offset")
        .collect().map(_.getLong(0)).sorted
      assert(offsets.length == 150, s"got ${offsets.length} records")
      assert(offsets.toSeq == (0L until 150L)) // new records, no re-delivery
    } finally q.stop()
  }

  test("sliding windows: each record lands in window/slide overlapping windows") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val base = 1700000000000L // 2023-11-14 22:13:20 UTC
    input.addData((0L until 60L).map(i =>
      (i, new java.sql.Timestamp(base + i * 1000), "{}")))
    val rec = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"), opt("events -d -B"),
      "event_id", "ts", "props")
    val rows = runStream(
      ConsumeStream.slidingAgg(rec, "1 minute", "30 seconds", "10 seconds"),
      mode = "complete")
    // 60 one-second records from 22:13:20: minute-long windows sliding
    // every 30 s -> 4 overlapping windows touch the span, each record in 2
    assert(rows.map(_.getLong(1)).sum == 120L)
    assert(rows.length == 4)
  }

  test("session windows: gap splits sessions per key") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val base = 1700000000000L
    // key a: records at 0s,5s then a 60s gap then 120s -> two sessions
    // key b: one session
    input.addData(Seq(
      (0L, new java.sql.Timestamp(base), """{"k": "a"}"""),
      (1L, new java.sql.Timestamp(base + 5000), """{"k": "a"}"""),
      (2L, new java.sql.Timestamp(base + 120000), """{"k": "a"}"""),
      (3L, new java.sql.Timestamp(base + 7000), """{"k": "b"}""")))
    val rec = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"), opt("events -d -B"),
      "event_id", "ts", "props")
    val rows = runStream(
      ConsumeStream.sessionAgg(rec, ColumnMapping("k", MappedType.S, "k"),
        "30 seconds", "10 seconds"),
      mode = "complete")
    val byKey = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byKey == Map("a" -> 2, "b" -> 1))
    assert(rows.map(_.getLong(3)).sum == 4L) // every record in some session
  }

  test("stream-static enrichment join against a dimension table") {
    val dim = Seq((0L, "even"), (1L, "odd")).toDF("parity", "label")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    input.addData((0L until 10L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i), "{}")))
    val rec = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"), opt("events -d -B"),
      "event_id", "ts", "props")
    val enriched = ConsumeStream.enrich(
      rec, dim, col("offset") % 2, col("parity"))
    assert(enriched.isStreaming)
    val rows = runStream(enriched.select(col("offset"), col("label")))
    assert(rows.length == 10)
    assert(rows.forall(r =>
      r.getString(1) == (if (r.getLong(0) % 2 == 0) "even" else "odd")))
  }

  test("stream-stream correlation join within a time bound") {
    val base = 1700000000000L
    val lIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    // left key k=1 at t=0s; right k=1 at t=5s (within 10s) and t=60s (outside)
    lIn.addData(Seq(
      (0L, new java.sql.Timestamp(base), """{"k": 1}"""),
      (1L, new java.sql.Timestamp(base + 1000), """{"k": 2}""")))
    rIn.addData(Seq(
      (10L, new java.sql.Timestamp(base + 5000), """{"k": 1}"""),
      (11L, new java.sql.Timestamp(base + 60000), """{"k": 1}"""),
      (12L, new java.sql.Timestamp(base + 2000), """{"k": 3}""")))
    def rec(in: MemoryStream[(Long, java.sql.Timestamp, String)]) =
      ConsumeStream.fromRecords(in.toDS.toDF("event_id", "ts", "props"),
        opt("events -d -B"), "event_id", "ts", "props")
    val key = ColumnMapping("k", MappedType.I, "k")
    val joined = ConsumeStream.correlate(rec(lIn), rec(rIn),
      key.toColumn(col("value")), key.toColumn(col("value")),
      watermarkDelay = "10 seconds", within = "10 seconds")
    assert(joined.isStreaming)
    val rows = runStream(joined.select("l_offset", "r_offset"))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 10L)))
  }

  test("-d --rows N (map-only): exactly N rows, then later data adds nothing") {
    val dir = topic(20)
    val streamed = ConsumeStream.consume(spark, "events -d -B --rows 5", dir.getAbsolutePath)
    val name = s"mem_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 5L))
      appendRecords(dir, 20L, 40L)
      q.processAllAvailable()
      assert(spark.table(name).count() == 5) // cap already filled
    } finally q.stop()
  }

  test("-d --rows N with a cardinality-changing chain: stateful cap counts post-transform rows") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    // k = i % 3: the filter keeps offsets 1,4,7,10,13,... (10 of 30)
    input.addData((0L until 30L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i), s"""{"k": ${i % 3}}""")))
    val streamed = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"),
      opt("events -d -B --rows 4 --smartmodule graft/filter-json-eq -e key=k -e value=1"),
      "event_id", "ts", "props")
    val name = s"mem_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 4L, 7L, 10L)) // first 4 POST-filter rows in offset order
      input.addData((30L until 60L).map(i =>
        (i, new java.sql.Timestamp(1700000000000L + i), s"""{"k": 1}""")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 4) // cap already filled
    } finally q.stop()
  }

  test("runBounded: delivers exactly N rows and stops the query (reference -d lifecycle)") {
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    input.addData((0L until 20L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i), s"""{"k": $i}""")))
    val streamed = ConsumeStream.fromRecords(
      input.toDS.toDF("event_id", "ts", "props"),
      opt("events -d -B --rows 7"), "event_id", "ts", "props")
    val rows = ConsumeStream.runBounded(streamed, 7, timeoutMs = 60000)
    assert(rows.size == 7)
    assert(rows.map(_.getLong(0)).sorted == (0L until 7L))
  }

  test("seeded aggregators (aggregate_initial analog)") {
    val ds = Seq("a", "b", "c").toDS
    val got = ds.select(SeededConcatAggregator("SEED", "|").toColumn).head()
    assert(got.split('|').head == "SEED")
    assert(got.split('|').toSet == Set("SEED", "a", "b", "c"))
    val nums = Seq(1.0, 2.0, 3.0).toDS
    assert(nums.select(SeededSumAggregator(100.0).toColumn).head() == 106.0)
  }

  test("streaming ANN ingest: micro-batches append to the partitioned index under a frozen model") {
    // the streaming face of the index-append lifecycle: a live pipeline
    // ingests new embeddings as they arrive — each micro-batch is assigned
    // with the model persisted at build time (loaded ONCE, broadcast into
    // every batch, never retrained) and appended into the existing cell
    // partitions. Proof: after two micro-batches the index holds exactly
    // the batch-mode assignment of the full table, and an exact IVF query
    // over it matches brute force.
    import graft.operators.{AnnModels, Ivf, Similarity}
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("stream_ann").toFile.getAbsolutePath
    val base = e.filter(col("vec_id") % 2 === 0)
    val cents = Ivf.centroidsRefined(base, "vec_id", "embedding", nCells = 8)
    Ivf.indexTable(base, "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/index")
    AnnModels.saveCentroids(spark, dir, cents)

    // "ingest session": the model crosses as a dir path only
    val frozen = AnnModels.loadCentroids(spark, dir)
    // Seq[Float] keeps the streamed generation's parquet schema identical
    // to the base generation's array<float> embedding column
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q = input.toDS.toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Ivf.indexTable(batch, "embedding", frozen)
          .write.mode("append").partitionBy("cell").parquet(s"$dir/index")
      }
      .start()
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val combined = spark.read.parquet(s"$dir/index")
    assert(combined.count() == e.count())
    val fresh = Ivf.indexTable(e, "embedding", cents)
      .select(col("vec_id"), col("cell"))
    assert(combined.select(col("vec_id"), col("cell").cast("int"))
      .exceptAll(fresh).isEmpty,
      "streamed index cells diverge from the batch assignment")
    val query = Array.tabulate(64)(i => math.sin(2.0 * i + 1.0))
    val got = Ivf.ivfTopKFromIndex(combined, "vec_id", "embedding", frozen,
        query, k = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(exact),
      "streamed-index IVF top-10 differs from brute force")
  }

  test("streaming incremental dedup: batches gate against the store, survivors append") {
    // the streaming face of the persisted-signature-store lifecycle:
    // each micro-batch is deduped against the STORE AS OF ITS TRIGGER
    // (duplicates of stored docs drop; within-batch clones of new docs
    // drop by keep-min-id) and the survivors' bands APPEND — so a clone
    // arriving in a LATER batch is caught by its original's appended
    // signature without any historical text being re-read.
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("stream_mh").toFile.getAbsolutePath
    val bands = s"$dir/bands"
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different historical document body goes right here")
    ).toDF("doc_id", "text")
    Dedup.minhashStoreWrite(base, "doc_id", "text", bands)

    val input = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = input.toDS.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hits = Dedup.minhashStoreCandidates(batch, "doc_id", "text", bands)
          .select("new_id").distinct()
          .collect().map(_.getLong(0)).toSet
        val keep = batch.filter(!col("doc_id").isin(hits.toSeq: _*))
        survivors ++= keep.collect().map(_.getLong(0))
        Dedup.minhashStoreAppend(keep, "doc_id", "text", bands)
        ()
      }
      .start()
    try {
      // batch 1: one dup of stored doc 1, one novel doc 100
      input.addData(Seq(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (100L, "an entirely novel streaming document with fresh content inside")))
      q.processAllAvailable()
      // batch 2: a clone of batch-1's NOVEL doc — caught only because
      // doc 100's bands were appended at the previous trigger
      input.addData(Seq(
        (200L, "an entirely novel streaming document with fresh content inside"),
        (201L, "yet another unrelated document streaming in at the very end")))
      q.processAllAvailable()
    } finally q.stop()

    assert(survivors.toSet == Set(100L, 201L), survivors.toString)
    // the store now answers for base + both surviving generations
    val next = Seq((300L, "yet another unrelated document streaming in at the very end"))
      .toDF("doc_id", "text")
    val hit = Dedup.minhashStoreCandidates(next, "doc_id", "text", bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit == Set((300L, 201L)), hit.toString)
  }

  test("streaming URL admission: canonical-variant re-crawls drop across triggers, novelty persists") {
    // the incremental-dedup lifecycle on the URL axis: each micro-batch
    // gates through the canonical-URL store AS OF ITS TRIGGER
    // (urlStoreAdmit — left-anti on the canonical string, in-batch
    // re-crawls collapse), survivors append. A VARIANT of a page first
    // seen in an earlier trigger is rejected only because its
    // original's canonical URL was appended then.
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("stream_url").toFile.getAbsolutePath
    val store = s"$dir/urls"
    Dedup.urlStoreWrite(
      Seq((1L, "https://a.com/base")).toDF("doc_id", "url"), "url", store)

    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val q = input.toDS.toDF("doc_id", "url").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val keep = Dedup.urlStoreAdmit(batch, "doc_id", "url", store)
        admitted ++= keep.select("doc_id").collect().map(_.getLong(0))
        Dedup.urlStoreAppend(
          batch.join(keep.select("doc_id"), "doc_id"), "url", store)
        ()
      }
      .start()
    try {
      // trigger 1: a messy variant of the stored page (drop), a novel
      // page crawled twice in-batch under two variants (admit min id)
      input.addData(Seq(
        (10L, "HTTPS://WWW.A.com/base#frag"),
        (11L, "https://b.com/new/"),
        (12L, "HTTPS://b.com/new?utm_source=x")))
      q.processAllAvailable()
      // trigger 2: a variant of trigger-1's NOVEL page — caught only
      // via the canonical URL appended at the previous trigger
      input.addData(Seq(
        (20L, "https://B.com:443/new"),
        (21L, "https://c.com/other")))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.toSet == Set(11L, 21L), admitted.toString)
  }

  test("streaming CMS: per-batch sketches MERGE into the batch-equal corpus sketch") {
    // the streaming face of the frequency sketch: each micro-batch
    // aggregates its own depth×width CMS executor-side (one bounded
    // array per batch reaches the driver — the sketch IS the summary),
    // and the running store merges by element-wise ADD. Pure counting =
    // trigger-boundary-independent: however the log is sliced into
    // batches, the merged sketch equals the one-shot batch sketch.
    import graft.operators.TextAnalysis
    import graft.functions.SketchAggregates
    val (depth, width) = (4, 64)
    val store = new Array[Long](depth * width)
    var seenTokens = 0L
    val input = MemoryStream[(Long, String)]
    val q = input.toDS.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val row = TextAnalysis.cmsSketch(batch, "text", depth, width).head()
        val sk = row.getSeq[Long](0)
        var i = 0
        while (i < store.length) { store(i) += sk(i); i += 1 }
        seenTokens += row.getLong(1)
        ()
      }
      .start()
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "gamma beta"))
    val b2 = Seq((3L, "alpha delta"), (4L, "beta beta epsilon"))
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val oneShot = TextAnalysis.cmsSketch((b1 ++ b2).toDF("doc_id", "text"),
      "text", depth, width).head()
    assert(store.toSeq === oneShot.getSeq[Long](0))
    assert(seenTokens === oneShot.getLong(1))
    assert(SketchAggregates.cmsEstimate(store, depth, width, "beta") === 4L)
    assert(SketchAggregates.cmsEstimate(store, depth, width, "alpha") === 3L)
  }

  test("streaming HLL: per-batch registers merge by MAX into the batch-equal sketch") {
    // the cardinality twin of the streaming CMS store: HLL registers
    // merge by element-wise max, so duplicates arriving in later
    // batches never move a register and the merged store equals the
    // one-shot batch sketch over the union
    import graft.operators.TextAnalysis
    val store = scala.collection.mutable.Map.empty[Int, Int]
    val input = MemoryStream[(Long, String)]
    val q = input.toDS.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.hllSketch(batch, "text").collect().foreach { r =>
          val (b, rank) = (r.getInt(0), r.getInt(1))
          store(b) = math.max(store.getOrElse(b, 0), rank)
        }
        ()
      }
      .start()
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"))
    val b2 = Seq((3L, "alpha beta"), (4L, "epsilon zeta")) // doc 3 dups doc 1
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val oneShot = TextAnalysis.hllSketch((b1 ++ b2).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(store.toMap === oneShot)
  }

  test("streaming LM gate: micro-batches score against the persisted model, batch-equal") {
    // the quality-LM filter as an INGEST gate: the model (lmTrain's
    // three tables) persists once, then every micro-batch scores
    // against it via lmScoreWith — a stream-static join, no
    // re-training per trigger. Scores must equal the one-shot batch
    // scoring of the same rows against the same model, bit for bit
    // (the model tables are static; lm_micro_avg is integer).
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("stream_lm").toFile.getAbsolutePath
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
    val (bs, bo, dflt) = TextAnalysis.lmTrain(
      corpus.withColumn("is_tgt", col("lang") === "en"), "text", "is_tgt")
    bs.write.parquet(s"$dir/bigram")
    bo.write.parquet(s"$dir/backoff")
    dflt.write.parquet(s"$dir/dflt")
    def model = (spark.read.parquet(s"$dir/bigram"),
      spark.read.parquet(s"$dir/backoff"), spark.read.parquet(s"$dir/dflt"))

    val rows = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(40)
    val (b1, b2) = rows.splitAt(20)
    val input = MemoryStream[(Long, String)]
    val scored = scala.collection.mutable.Map[Long, Long]()
    val q = input.toDS.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (mb, mw, md) = model
        TextAnalysis.lmScoreWith(batch, "doc_id", "text", mb, mw, md)
          .select("id", "lm_micro_avg").collect()
          .foreach(r => scored(r.getLong(0)) = r.getLong(1))
        ()
      }
      .start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val (mb, mw, md) = model
    val oneShot = TextAnalysis.lmScoreWith(
        rows.toSeq.toDF("doc_id", "text"), "doc_id", "text", mb, mw, md)
      .select("id", "lm_micro_avg").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scored.toMap === oneShot)
    assert(oneShot.nonEmpty)
  }
}
