package graft.tools

import graft.sources.FluvioDuck

/** End-to-end smoke driver for the public API: builds a real local Spark
  * session and runs the reference's documented usage shapes against the
  * fixture topics. `sbt "runMain graft.tools.Demo [sfDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session("4")

    println("=== fluvio_topics() ===")
    FluvioDuck.topics(spark, sf).show(20, false)

    println("=== fluvio_partitions() ===")
    FluvioDuck.partitions(spark, sf).show(20, false)

    println("=== consume: last 5 records, default columns ===")
    FluvioDuck.consume(spark, "events -T 5", sf).show(false)

    println("=== consume: typed JSON column mapping ===")
    FluvioDuck.consume(spark, "events -B --rows 5 -c k:i=k -c missing=nope", sf)
      .show(false)

    println("=== consume + SQL aggregate (README flagship shape) ===")
    FluvioDuck.consume(spark, "events -B --rows 999999", sf)
      .createOrReplaceTempView("stream")
    spark.sql(
      """SELECT get_json_object(value, '$.k') AS k, count(*) AS n
        |FROM stream GROUP BY 1 ORDER BY n DESC LIMIT 5""".stripMargin)
      .show(false)

    println("=== consume with jolt transform ===")
    val joltCmd = "events -B --rows 3 " +
      """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"shift\",\"spec\":{\"k\":\"kk\"}}]"}}"""
    FluvioDuck.consume(spark, joltCmd, sf).show(false)

    println("=== error surface: bad flags ===")
    try FluvioDuck.consume(spark, "events -B -T 5", sf)
    catch { case e: IllegalArgumentException => println(s"OK error: ${e.getMessage}") }

    println("=== SQL TVFs (the reference's documented surface) ===")
    graft.sql.GraftSql.register(spark)
    spark.conf.set("spark.graft.dataDir", sf)
    spark.sql("SELECT * FROM fluvio_consume('events -B --rows 3')").show(false)

    println("=== training-data pipeline: clean corpus (score -> filter -> dedup) ===")
    val cleaned = graft.queries.Pipeline.queries("pipeline_clean_corpus")(spark, sf)
    println(s"kept ${cleaned.count()} docs; first rows:")
    cleaned.show(5, false)

    println("=== similarity: exact vs IVF top-5 over embeddings ===")
    val embs = graft.sources.Tables.load(spark, sf, "embeddings")
    val q = Array.fill(64)(1.0)
    graft.operators.Similarity.cosineTopK(embs, "vec_id", "embedding", q, 5).show(false)
    graft.operators.Ivf.ivfTopK(embs, "vec_id", "embedding", q, 5,
      nCells = 8, nProbe = 4).show(false)

    println("=== ANN index lifecycle: train -> persist model+codes -> reload -> query ===")
    locally {
      import graft.operators.{AnnModels, Pq}
      val idx = java.nio.file.Files.createTempDirectory("demo_pq_index")
        .toFile.getAbsolutePath
      val cbs = Pq.codebooks(embs, "vec_id", "embedding", m = 16, codeBits = 8,
        iters = 3, maxSample = 1024)
      Pq.encodedTable(embs, "embedding", cbs).drop("embedding")
        .write.mode("overwrite").parquet(s"$idx/codes")
      AnnModels.saveCodebooks(spark, idx, cbs)
      // "later session": only `idx` crosses the line — no training here
      Pq.pqTopKFromEncoded(spark.read.parquet(s"$idx/codes"), embs,
        "vec_id", "embedding", AnnModels.loadCodebooks(spark, idx),
        q, k = 5, shortlist = 100).show(false)
    }

    println("=== multi-partition topic: -p selection + per-partition LEO ===")
    val mpBase = graft.sources.MpFixture.baseDir(spark, sf)
    FluvioDuck.partitions(spark, mpBase).orderBy("partition").show(false)
    println("partition 2, first 3 records:")
    FluvioDuck.consume(spark, "events_mp -p 2 -B --rows 3", mpBase).show(false)

    println("=== dedup clusters + deterministic sampling ===")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val pairs = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 3, maxDocFreq = 1000L).filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5)
    val cl = graft.operators.Dedup.clusters(pairs)
    println(s"near-dup graph: ${pairs.count()} pairs -> " +
      s"${cl.select("cluster").distinct().count()} clusters over ${cl.count()} docs")
    val sampled = graft.operators.Sampling.hashSample(docs, "doc_id", 4)
    println(s"hash sample 4/16: kept ${sampled.count()} of ${docs.count()} docs (deterministic)")

    println("=== decontamination: corpus vs a planted test set ===")
    import org.apache.spark.sql.functions.col
    val testSet = docs.select("doc_id", "text").filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    // one execution: collect the tiny pair list, derive both stats from it
    val hits = graft.operators.Dedup.minhashNearDupsAcross(
      docs.select("doc_id", "text"), testSet, "doc_id", "text", threshold = 0.5)
      .select("id_l").collect().map(_.getLong(0))
    println(s"contaminated corpus docs: ${hits.distinct.length} " +
      s"(cross pairs: ${hits.length})")

    println("=== as-of join + sessionization over events ===")
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val l = ev.select(col("event_id"), (col("event_id") % 4).as("k"),
      col("event_id").as("t"))
    val marks = ev.filter(col("event_id") % 7 === 0)
      .select((col("event_id") % 4).as("k"), col("event_id").as("mark_id"))
      .withColumn("mt", col("mark_id"))
    graft.operators.Temporal.asofJoin(l, marks, Seq("k"), "t", "mt")
      .orderBy("event_id").show(3, false)
    val sess = graft.operators.Sessions.sessionSummary(
      ev.select(col("user_id"), col("event_id")), "user_id", "event_id", gap = 100L)
      .select("user_id").collect().map(_.getLong(0))
    println(s"sessions: ${sess.length} across ${sess.distinct.length} users")

    println("=== duplicated-substring spans (suffix-array dedup, shuffle-native) ===")
    graft.operators.Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("id", "span_start").show(5, false)

    println("=== DSIR selection + LM scoring (target = lang 'en') ===")
    val tagged = docs.withColumn("is_tgt", col("lang") === "en")
    val picked = graft.operators.Sampling.dsirSelect(
      tagged, "doc_id", "text", "is_tgt", topN = 20).collect()
    println(s"DSIR top-20 ids: ${picked.take(5).map(_.getLong(0)).mkString(", ")}, ...")
    graft.operators.TextAnalysis.lmScore(tagged, "doc_id", "text", "is_tgt")
      .orderBy("lm_micro_avg").show(3, false)

    println("=== incremental dedup: persisted signature store ===")
    val storeDir = java.nio.file.Files.createTempDirectory("demo_mh_store_")
    try {
      val bands = storeDir.resolve("bands").toString
      graft.operators.Dedup.minhashStoreWrite(
        docs.select("doc_id", "text"), "doc_id", "text", bands)
      val batch = docs.select("doc_id", "text").filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val inc = graft.operators.Dedup.minhashStoreCandidates(
        batch, "doc_id", "text", bands).count()
      println(s"new-batch candidates vs reloaded store: $inc")
    } finally {
      import java.nio.file.{Files, Path}
      Files.walk(storeDir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach((p: Path) => { Files.deleteIfExists(p); () })
    }

    println("=== bucketed layout: co-located keyed work, no re-shuffle ===")
    try {
      graft.operators.Layout.bucketWrite(
        docs.select("doc_id", "source"), "demo_docs_bucketed", "doc_id", buckets = 8)
      val n = spark.table("demo_docs_bucketed")
        .groupBy("doc_id").count().count()
      println(s"bucketed table groupBy(doc_id) rows: $n (plan shuffle-free)")
    } finally spark.sql("DROP TABLE IF EXISTS demo_docs_bucketed")

    println("=== perceptual-hash image dedup (real decoded pixels) ===")
    val phashDups = graft.operators.Multimodal.phashPairs(
      graft.operators.Multimodal.phashHashes(
        graft.operators.Multimodal.phashMedia(spark, docs)), maxDist = 2)
    println(s"pHash duplicate pairs (exact + brightness-shifted clones): ${phashDups.count()}")

    println("=== CMS frequency sketch: one-pass aggregate + probes ===")
    import graft.functions.SketchAggregates
    val cmsRow = graft.operators.TextAnalysis.cmsSketch(docs, "text", 4, 256).head()
    val sketch = cmsRow.getSeq[Long](0).toArray
    for (w <- Seq("table", "spark", "the"))
      println(s"cms estimate '$w': " +
        SketchAggregates.cmsEstimate(sketch, 4, 256, w) +
        s" (corpus tokens: ${cmsRow.getLong(1)})")

    println("=== TF-IDF keywords + BM25 retrieval ===")
    graft.operators.TextAnalysis
      .tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .orderBy("doc_id").show(3, false)
    graft.operators.TextAnalysis
      .bm25Rank(docs, "doc_id", "text", Seq("spark", "hash", "window"), topN = 3)
      .orderBy("rk").show(3, false)

    println("=== binary (1-bit) ANN: 16-byte index, Hamming shortlist, exact rerank ===")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val onesQ = Array.fill(64)(1.0)
    val bqDir = java.nio.file.Files.createTempDirectory("demo_bq").toFile.getAbsolutePath
    graft.operators.Bq.encodedTable(e, "vec_id", "embedding")
      .drop("embedding", "label").write.mode("overwrite").parquet(bqDir)
    graft.operators.Bq.bqTopKFromEncoded(
        spark.read.parquet(bqDir), e, "vec_id", "embedding", onesQ, k = 3)
      .show(3, false)

    println("=== mixture design: temperature weights + per-source medians ===")
    graft.SparkEntry.queries("sample_temperature")(spark, sf).show(5, false)
    graft.SparkEntry.queries("sketch_hist_by_source")(spark, sf).show(5, false)

    println("=== token-budget curriculum head (WeightedCap: two reads, no global window) ===")
    graft.SparkEntry.queries("sample_token_budget")(spark, sf).show(5, false)

    println("=== spectral: dominant principal direction (power iteration) ===")
    graft.operators.Spectral.powerIteration(e, "embedding")
      .orderBy(org.apache.spark.sql.functions.abs(col("v_micro")).desc)
      .show(5, false)

    println("=== graph centrality: PageRank over the purchase graph ===")
    graft.SparkEntry.queries("graph_pagerank")(spark, sf).show(5, false)

    println("=== hard-negative mining: nearest wrong-label neighbors ===")
    graft.SparkEntry.queries("emb_hard_negatives")(spark, sf).show(5, false)

    println("=== cleaning funnel: docs/tokens surviving each gate ===")
    graft.SparkEntry.queries("pipeline_funnel")(spark, sf).show(5, false)

    println("=== video scene cuts + audio silence runs (real decode) ===")
    graft.SparkEntry.queries("multimodal_scenecut")(spark, sf).show(3, false)
    graft.SparkEntry.queries("multimodal_vad")(spark, sf).show(3, false)

    println("=== semantic decontamination: corpus rows cloned into eval ===")
    graft.SparkEntry.queries("semdedup_decontaminate")(spark, sf).show(3, false)

    spark.stop()
  }
}
