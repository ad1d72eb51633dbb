package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** IVF-flat approximate nearest neighbor — the coarse-quantizer companion
  * to the random-hyperplane LSH in [[Similarity]] (the brief's "IVF or
  * LSH-bucketed variant"; having both covers the two standard ANN scale
  * paths).
  *
  *   - Index: `nCells` centroids seeded as a deterministic hash-sample
  *     (top-k by xxhash64(id, seed) — a per-partition TakeOrdered of k
  *     VECTORS, never a driver scan of the data), then Lloyd-refined with
  *     SPHERICAL k-means over a bounded sample ([[centroidsRefined]]);
  *     every row is assigned to its nearest centroid by a codegen'd
  *     argmin.
  *   - Query: rank only the rows whose cell is among the `nProbe`
  *     centroids closest to the query (driver-side math over nCells
  *     vectors), exact cosine within the probed cells.
  *
  * At corpus scale the assignment is materialized once and the table is
  * bucketed/partitioned by `cell`, so a query's probe-filter prunes file
  * groups instead of scanning; assignment cost is one VectorDot per cell
  * per row, all inside whole-stage codegen. Recall at low nProbe is
  * OPTIMIZED, not just tuned: spherical Lloyd steps lift mean top-20
  * recall at nProbe=2/16 from 0.32 to 0.39 on the embeddings fixture
  * (8-query panel, tools/IvfTune; pinned in IvfSpec). nProbe = nCells
  * degenerates to exact brute force regardless of centroid quality.
  */
object Ivf {

  /** Seed-deterministic centroid sample: the k vectors with the smallest
    * xxhash64(id, seed). Accepts array<float> or array<double> vector
    * columns (same contract as the NearestCell/VectorDot kernels). */
  def centroids(df: DataFrame, idCol: String, vecCol: String,
                nCells: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rows = df.select(col(vecCol).cast("array<double>"))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(nCells)
      .collect()
    if (rows.isEmpty)
      throw new IllegalArgumentException(
        s"IVF centroids: input has no rows — cannot sample $nCells centroids")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** Lloyd-refined centroids: start from the [[centroids]] hash-sample,
    * pull a bounded seed-deterministic training sample (`maxSample`
    * vectors — driver-side math stays a few thousand small arrays, the
    * same collect budget class as the centroids themselves), and run
    * `iters` k-means iterations. Centroids move to the mean of their
    * assigned sample vectors; a cell that captures no sample keeps its
    * previous centroid (never collapses to zero). Fully deterministic for
    * a given (seed, iters, maxSample): the sample is hash-ordered, the
    * assignment argmin breaks ties by lowest cell id.
    *
    * Why it helps: a raw hash-sample leaves centroid density proportional
    * to DATA density only by luck — two sampled points can sit in the same
    * cluster, leaving another cluster split across far cells, which is
    * what makes low-nProbe recall "tuned, not optimized". Lloyd steps pull
    * the centroids toward the k-means optimum, tightening cells so the
    * true neighbors of a query concentrate in fewer cells. */
  def centroidsRefined(df: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, seed: Long = 42L, iters: Int = 3,
                       maxSample: Int = 4096): Array[Array[Double]] = {
    val init = centroids(df, idCol, vecCol, nCells, seed)
    if (iters <= 0) return init
    // SPHERICAL k-means, because the ranking metric is cosine: train on
    // unit-normalized vectors and renormalize centroids each step. With
    // unit centroids, argmin_c ||v-c||^2 = ||v||^2 - 2 v.c + 1 ==
    // argmax_c v.c for ANY corpus vector v — so the existing L2 argmin
    // kernel (NearestCell) and probe ranking become purely directional,
    // matching the cosine scoring. Plain (L2) Lloyd steps on raw vectors
    // were measured to REDUCE cosine recall here (magnitude dominates the
    // mean): 0.35 -> 0.30 at nProbe=2 on the embeddings fixture.
    def unit(v: Array[Double]): Array[Double] = {
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      val n = math.sqrt(n2)
      if (n == 0.0) v else v.map(_ / n)
    }
    var cents = init.map(unit)
    // disjoint hash order (seed+1) so the training sample is not just the
    // centroids themselves on small inputs
    val sample = df.select(col(vecCol).cast("array<double>"))
      .orderBy(xxhash64(col(idCol), lit(seed + 1)))
      .limit(maxSample)
      .collect().map(r => unit(r.getSeq[Double](0).toArray))
    for (_ <- 1 to iters) {
      val dim = cents.head.length
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      for (v <- sample) {
        // argmax dot == argmin L2 on the unit sphere; ties -> lowest cell
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          val cent = cents(c)
          while (i < dim) { d += v(i) * cent(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old else unit(sums(c)) // mean direction
      }
    }
    cents
  }

  /** Nearest-centroid id for each row's vector, via the native
    * [[graft.functions.NearestCell]] expression — one codegen'd kernel
    * over the centroid matrix. (The composed form — per-cell VectorDots +
    * `array_min` over (score, cell) structs — compares struct elements
    * through an interpreted ordering per row×cell: the round-1 perf-cliff
    * pattern, measured poisoning the whole bench JVM.) */
  def assignCell(vecCol: Column, cents: Array[Array[Double]]): Column =
    graft.functions.NearestCell(vecCol, cents)

  /** The nProbe cells closest to the query vector. */
  def probeCells(cents: Array[Array[Double]], query: Array[Double],
                 nProbe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      val d = c.map(x => x * x).sum -
        2.0 * c.zip(query).map { case (x, y) => x * y }.sum
      (d, i)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq

  /** IVF top-k: probe the closest cells, rank by exact cosine.
    * Output: (id, score), highest first. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              refineIters: Int = 3): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "need 1 <= nProbe <= nCells")
    val cents = centroidsRefined(df, idCol, vecCol, nCells, seed, refineIters)
    val probes = probeCells(cents, query, nProbe)
    df.withColumn("__cell", assignCell(col(vecCol), cents))
      .filter(col("__cell").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** The materialized index table: input columns + `cell` — what a
    * persistent deployment writes out partitioned/bucketed by cell so
    * probe filters prune storage. */
  def indexTable(df: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 16, seed: Long = 42L,
                 refineIters: Int = 3): DataFrame =
    indexTable(df, vecCol,
      centroidsRefined(df, idCol, vecCol, nCells, seed, refineIters))

  /** [[indexTable]] with PRECOMPUTED centroids — assign without a
    * training collect (train once, index many tables/increments). */
  def indexTable(df: DataFrame, vecCol: String,
                 cents: Array[Array[Double]]): DataFrame =
    df.withColumn("cell", assignCell(col(vecCol), cents))

  /** REDUNDANT coarse assignment (spill-tree / multi-assign): every row
    * is indexed under its `depth` nearest cells, so a probe that reaches
    * ANY of them finds the row — recall at fixed nProbe jumps at the
    * price of ×depth index rows (the published storage-for-recall trade;
    * essential when the embedding space clusters weakly and true
    * neighbors straddle cell boundaries). depth = 1 degenerates to
    * [[indexTable]]. Assignment is fully distributed: rows × broadcast
    * centroid table, per-row distance rank window — no driver loop.
    * Downstream candidate joins MUST dedup (qid, id) pairs
    * ([[ivfBatchTopK]]'s `dedupCandidates`). */
  def indexTableMulti(df: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Double]], depth: Int): DataFrame = {
    require(depth >= 1 && depth <= cents.length,
      s"need 1 <= depth ($depth) <= nCells (${cents.length})")
    if (depth == 1) indexTable(df, vecCol, cents)
    else {
      import org.apache.spark.sql.expressions.Window
      val spark = df.sparkSession
      import spark.implicits._
      val centTable = broadcast(
        cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
          .toDF("__cell", "__cvec")
          .withColumn("__c2", expr("aggregate(__cvec, 0d, (a, x) -> a + x * x)")))
      df.crossJoin(centTable)
        .withColumn("__d", col("__c2") - lit(2.0) * dot(col("__cvec"), col(vecCol)))
        .withColumn("__ar", row_number().over(
          Window.partitionBy(idCol).orderBy(col("__d").asc, col("__cell").asc)))
        .filter(col("__ar") <= depth)
        .withColumn("cell", col("__cell"))
        .drop("__cell", "__cvec", "__c2", "__d", "__ar")
    }
  }

  /** IVF top-k against a MATERIALIZED [[indexTable]] written
    * `partitionBy("cell")` (or bucketed by cell) — the deployment query
    * path, and the form whose EXECUTED plan proves the storage-pruning
    * claim: the probe filter is a predicate on the PARTITION column, so
    * the scan's `PartitionFilters` prunes non-probed cells at file-listing
    * time — at corpus scale a 16-cell/4-probe query lists and reads ~1/4
    * of the files. The centroids that wrote the index must be passed back
    * in (they are the model; persist them beside the index with
    * [[AnnModels.saveCentroids]] and load with [[AnnModels.loadCentroids]]
    * — bit-exact round-trip). Output: (id, score) highest first;
    * nProbe = nCells is exact. */
  def ivfTopKFromIndex(index: DataFrame, idCol: String, vecCol: String,
                       cents: Array[Array[Double]], query: Array[Double],
                       k: Int, nProbe: Int,
                       cellCol: String = "cell"): DataFrame = {
    require(nProbe >= 1 && nProbe <= cents.length,
      s"need 1 <= nProbe ($nProbe) <= nCells (${cents.length})")
    val probes = probeCells(cents, query, nProbe)
    index.filter(col(cellCol).isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Bin-pack an index directory grown by streaming/batch `append`
    * writes (one small file per trigger inside every `cell=N` partition
    * — the 100 TB small-file death) down to `filesPerCell` files per
    * cell, preserving rows and the partition layout exactly, so probe
    * pruning and query results are untouched (spec: CompactionSpec).
    * Maintenance op (no concurrent appender) — the swap is the
    * object-store-safe generation-pointer protocol, readers included:
    * see [[Compaction.Manifest]]. */
  def indexCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                   filesPerCell: Int = 1, cellCol: String = "cell"): Unit =
    Compaction.compactPartitioned(spark, path, cellCol, filesPerCell)

  /** BATCH kNN through the IVF index: for every row of `queries`, the
    * exact-cosine top-k among ONLY the index rows whose `cell` is one of
    * that query's `nProbe` nearest cells — the shortlist generator the
    * corpus-wide kNN audits (label noise, hard negatives) ride instead
    * of a row×row cartesian. Fully distributed:
    *
    *   1. per-query probed cells = queries × broadcast(centroid table)
    *     (nCells small rows), ranked by the same `Σc² − 2·c·q` algebra as
    *     [[probeCells]] (tie-broken by cell id) in a qid-keyed window —
    *     n·nCells rows, never collected;
    *   2. candidates = (qid, cell) pairs equi-JOINED to the index on
    *     `cell` — a hash join, never a nested-loop cartesian (each index
    *     row has exactly one cell, so candidates are already distinct);
    *   3. exact cosine + qid-keyed top-k window on candidates only.
    *
    * Cost is n·nProbe·mean(|cell|): scale nCells with the corpus (the
    * `Similarity.nCellsFor` recipe) and the mean cell size is a constant,
    * making the whole audit linear where the brute-force quarter-sample
    * cartesian stayed O(n²). nProbe trades recall for cost exactly as in
    * the single-query path; nProbe = nCells is exhaustive.
    * Output: (qid, id, score, rk) with rk in [1, k], score = exact cosine
    * rounded to 1e-6 (the engine-portable quantum), ties broken by id.
    *
    * `idCol` must be an INTEGRAL type (byte/short/int/long) and k ≤ 64:
    * ranking rides the bounded [[graft.functions.TopKAgg]], which keys
    * its buffer on the id widened to long. A non-integral id would cast
    * to null and be SILENTLY DROPPED by the aggregate's null-id skip
    * (and a fractional id could collide after truncation), so the
    * operator fails loudly up front instead. */
  def ivfBatchTopK(index: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   cents: Array[Array[Double]], k: Int, nProbe: Int,
                   cellCol: String = "cell",
                   excludeSelf: Boolean = false,
                   dedupCandidates: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= cents.length,
      s"need 1 <= nProbe ($nProbe) <= nCells (${cents.length})")
    require(k >= 1 && k <= 64,
      s"ivfBatchTopK: k must be in [1,64] (bounded TopKAgg buffer), got $k")
    locally {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DataType}
      val idt = index.schema(idCol).dataType
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(idt),
        s"ivfBatchTopK: id column '$idCol' must be an integral type " +
          s"(byte/short/int/long), got $idt — a non-integral id would cast " +
          "to null and be silently dropped from the top-k")
    }
    import org.apache.spark.sql.expressions.Window
    val spark = index.sparkSession
    import spark.implicits._
    val centTable = broadcast(
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("__cell", "__cvec")
        .withColumn("__c2", expr("aggregate(__cvec, 0d, (a, x) -> a + x * x)")))
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
    val probed = q.crossJoin(centTable)
      .withColumn("__d", col("__c2") - lit(2.0) * dot(col("__cvec"), col("__qv")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("__d").asc, col("__cell").asc)))
      .filter(col("__pr") <= nProbe)
      .select(col("qid"), col("__qv"), col("__cell").as(cellCol))
    val cand = probed.join(index, cellCol)
    val self = if (excludeSelf) cand.filter(col(idCol) =!= col("qid")) else cand
    // score AT the join projection: candidate rows leave the join as
    // narrow (qid, id, score) triples, so the downstream dedup/rank
    // shuffles never carry the two embedding arrays (the arrays only
    // ride the small cell-keyed join inputs — measured 3x on the
    // label-noise audit at sf0.1)
    val scored = self.select(col("qid"), col(idCol),
      round(cosine(col(vecCol), col("__qv")), 6).as("score"))
    // r14 (guide §2.3): the qid-keyed top-k is a bounded TopKAgg, not a
    // rank window — map-side partials reduce each partition to ≤ k rows
    // per query before the exchange and nothing ever sorts the candidate
    // stream (WindowGroupLimit pruned the old exchange but still paid a
    // partition-local sort of every scored candidate). A multi-assigned
    // index ([[indexTableMulti]]) surfaces the same (query, row) pair
    // once per probed assigned cell with an IDENTICAL score; dedupIds
    // folds the old dropDuplicates(qid, id) into the aggregate's buffer
    // (exact under the identical-score invariant — see TopKAgg.Buffer),
    // removing that extra keyed shuffle too. Output rows, order ranks and
    // schema are unchanged (TopKAggregateSpec parity; every ANN entry
    // hash-matches the DuckDB oracle through this path).
    val idType = scored.schema(idCol).dataType
    scored.groupBy("qid")
      .agg(graft.functions.TopKAggregates.topk(
        col("score"), col(idCol).cast("long"), lit(null).cast("long"), k,
        dedupIds = dedupCandidates).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), col("col.id").cast(idType).as(idCol),
        col("col.score").as("score"), (col("pos") + 1).as("rk"))
  }

  /** A derived [[ivfBatchTopK]] configuration for an EXACT-recall batch
    * kNN audit: assignment redundancy `depth` ([[indexTableMulti]]),
    * probe width `nProbe`, and the resulting expected candidate volume
    * in corpus-reads (`depth·nProbe/nCells` — the fraction of index rows
    * a query's candidate join touches). */
  final case class OperatingPoint(nCells: Int, depth: Int, nProbe: Int,
                                  sampleSize: Int, volume: Double)

  /** Derive the (depth, nProbe) operating point for an exact-recall
    * batch-kNN audit over THIS corpus and THIS centroid set, instead of
    * hand-pinning constants that silently stop holding at the next scale
    * (the r08 weak finding: nCells=8/depth=2/nProbe=7 were grid-swept by
    * hand against one fixture).
    *
    * Procedure (one bounded linear pass + driver math over ≤ (k+1)·
    * sampleSize vectors):
    *
    *   1. a DETERMINISTIC fixed-size query sample — the first
    *      `sampleSize` rows by md5(id) (scale-independent: the sample
    *      cost is |s|·n dot products however big the corpus, where a
    *      fraction-based sample would quietly turn the derivation
    *      quadratic);
    *   2. the sample's exact top-k neighbors via a broadcast cross-join
    *      (the bounded-broadcast pattern: the broadcast side is the
    *      fixed-size sample, never the corpus) with the same 1e-6 score
    *      quantum and id tie-break as [[ivfBatchTopK]];
    *   3. driver-side coverage sweep: for each assignment depth d, the
    *      minimal nProbe at which EVERY sampled query's whole exact
    *      top-k lands in a probed cell, plus a safety margin of
    *      ceil(marginFrac·nCells) probes for the queries the sample
    *      didn't see (capped at nCells);
    *   4. pick the config with the smallest candidate VOLUME
    *      (d·nProbe/nCells), tie-broken toward smaller depth (smaller
    *      index) then smaller nProbe.
    *
    * On corpora that cluster, step 4 lands on a genuinely sub-corpus
    * point and the audit is linear. On corpora that DON'T cluster (the
    * near-random 64-dim fixture), the sweep discovers that no
    * sub-corpus point reaches full recall and converges to
    * (depth=1, nProbe=nCells) — candidate volume exactly 1.0: the audit
    * honestly degenerates to a corpus scan through the same equi-join
    * plan, which is CHEAPER than the hand-pinned point it replaces
    * (depth-2/nProbe-7 read 1.75 corpus-equivalents; a grid sweep over
    * (nCells, nProbe, assign-depth) found 1.0 the fixture's min-volume
    * full-coverage config at every swept nCells).
    *
    * The derived point guarantees full recall only for sampled queries;
    * the margin covers the rest statistically. For an audit gated on
    * hash-exactness, (depth=1, nProbe=nCells) is the one config exact by
    * CONSTRUCTION — the derivation can only return something narrower
    * when a sub-corpus config passes sampled coverage with its whole
    * margin, which a non-clustering corpus never does (a config
    * undershooting global coverage at half the corpus fails sampled
    * coverage with probability ≈ 1 − coverage^sampleSize ≈ 1). */
  def deriveOperatingPoint(df: DataFrame, idCol: String, vecCol: String,
                           cents: Array[Array[Double]], k: Int,
                           sampleSize: Int = 64, maxDepth: Int = 3,
                           marginFrac: Double = 0.125): OperatingPoint = {
    require(k >= 1 && k <= 64,
      s"k must be in [1,64] (sampled truth rides the bounded TopKAgg), got $k")
    require(sampleSize >= 1, s"sampleSize must be >= 1, got $sampleSize")
    val nCells = cents.length
    val base = df.select(col(idCol).cast("long").as("__tid"),
      col(vecCol).cast("array<double>").as("__tv"))
    val sampleQ = broadcast(
      base.orderBy(md5(col("__tid").cast("string")), col("__tid"))
        .limit(sampleSize)
        .select(col("__tid").as("__qid"), col("__tv").as("__qv")))
    // r14: sampled exact-kNN truth via the bounded TopKAgg (the
    // ivfBatchTopK shape) — the window formulation partition-locally
    // sorted the whole sample×corpus pair stream; the aggregate keeps a
    // k-slot buffer per sampled query and shuffles ≤ k·sampleSize rows.
    // Same (score DESC, tid ASC) order, so the derived truth pairs —
    // and therefore the derived operating point — are identical.
    val topPairs = base.crossJoin(sampleQ)
      .filter(col("__tid") =!= col("__qid"))
      .select(col("__qid"), col("__tid"),
        round(cosine(col("__tv"), col("__qv")), 6).as("__s"))
      .groupBy("__qid")
      .agg(graft.functions.TopKAggregates.topk(
        col("__s"), col("__tid"), lit(null).cast("long"), k).as("__top"))
      .select(col("__qid"), explode(col("__top")).as("__t"))
      .select(col("__qid"), col("__t.id").as("__tid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a corpus of < 2 vectors yields no (query, neighbor) pairs and no
    // coverage evidence — fail with the function's own vocabulary, not
    // scala's "empty.max"
    require(topPairs.nonEmpty,
      s"deriveOperatingPoint: no sampled-kNN pairs (corpus has fewer than 2 rows?)")
    val queryIds = topPairs.map(_._1).distinct
    val targetIds = topPairs.map(_._2).distinct
    // the ≤ (k+1)·sampleSize vectors the sweep needs, fetched with the
    // ids pushed into the scan — never a corpus collect
    def vecsOf(ids: Array[Long]): Map[Long, Array[Double]] =
      base.filter(col("__tid").isInCollection(ids))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qVecs = vecsOf(queryIds)
    val tVecs = vecsOf(targetIds)
    // full cell ranking (closest first) per involved vector, driver-side
    val qRank = qVecs.map { case (id, v) => id -> probeCells(cents, v, nCells) }
    val tRank = tVecs.map { case (id, v) => id -> probeCells(cents, v, nCells) }
    val margin = math.ceil(marginFrac * nCells).toInt
    val candidates = (1 to math.min(maxDepth, nCells)).map { d =>
      // for pair (q, t): the probe width that first reaches any of t's
      // d assigned cells in q's probe order
      val needed = topPairs.map { case (qid, tid) =>
        val assigned = tRank(tid).take(d).toSet
        qRank(qid).indexWhere(assigned.contains) + 1
      }.max
      val p = math.min(nCells, needed + margin)
      OperatingPoint(nCells, d, p, sampleSize, d.toDouble * p / nCells)
    }
    candidates.minBy(op => (op.volume, op.depth, op.nProbe))
  }

  /** Persist/load the derived audit configuration beside the index+model
    * it was derived FOR (same philosophy as [[AnnModels]]: parameters
    * are part of the model; re-deriving on a different corpus state
    * silently changes the query's meaning). Plain one-line properties
    * file — human-auditable in the artifact dir. Only the INTEGER
    * fields are persisted: `volume` is definitionally
    * depth·nProbe/nCells, so recomputing it on load is exact, while a
    * formatted decimal is both lossy (7/24 has no finite decimal) and
    * locale-sensitive (`%.4f` under a comma-decimal default locale
    * writes `1,0000`, which `toDouble` then rejects on reload). */
  def saveOperatingPoint(dir: String, op: OperatingPoint): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "operating_point"),
      s"nCells=${op.nCells} depth=${op.depth} nProbe=${op.nProbe} sampleSize=${op.sampleSize}\n"
        .getBytes("UTF-8"))

  def loadOperatingPoint(dir: String): OperatingPoint = {
    val line = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "operating_point")), "UTF-8").trim
    // unknown keys (e.g. the retired `volume=` field in pre-existing
    // artifact dirs) parse into the map and are simply ignored
    val kv = line.split(' ').map { t =>
      val Array(a, b) = t.split('='); a -> b
    }.toMap
    val (nCells, depth, nProbe) =
      (kv("nCells").toInt, kv("depth").toInt, kv("nProbe").toInt)
    OperatingPoint(nCells, depth, nProbe, kv("sampleSize").toInt,
      depth.toDouble * nProbe / nCells)
  }
}
