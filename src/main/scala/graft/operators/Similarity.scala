package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, mirroring how a 100 TB pipeline would run them:
  *   - [[cosineTopK]] / [[nearDupPairs]]: exact brute force. Per-row scalar
  *     math against a broadcast query vector (top-k) or a self-join
  *     (pairs). The top-k is a `TakeOrderedAndProject` — per-partition
  *     top-k then a k-row merge, no global sort, no driver materialization
  *     of the data. This is the correct *baseline* even at scale when k is
  *     small; the self-join is quadratic and only for validation scales.
  *   - [[annTopK]] / [[annNearDupPairs]]: LSH-bucketed (signed random
  *     hyperplanes). Signature = b bits; candidates share a bucket (or a
  *     probing bucket within Hamming radius). Turns the quadratic pair
  *     space into a per-bucket product — the scale path. Recall is tunable
  *     via bits/probes; exactness is NOT guaranteed (that's the point).
  */
object Similarity {

  /** Exact cosine top-k against one query vector.
    * Output: (id, score) rows, highest first. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** Default input-size guard for [[nearDupPairs]]: 20k rows ≈ 2×10⁸
    * candidate pairs — the outer edge of what a validation run should ever
    * brute-force. */
  val NearDupMaxRows: Long = 20000L

  /** Exact near-duplicate pairs: all (a, b), a < b, with cosine ≥ threshold.
    * Per-row norms are materialized BEFORE the self-join, so each of the
    * O(n²) pairs costs exactly one dot product (not three) — the norm
    * subexpression would otherwise also be re-evaluated by the pushed-down
    * threshold filter.
    *
    * Quadratic BY CONSTRUCTION — validation scales only; the scale path is
    * [[annNearDupPairs]] (banded signature join, Σ bucket²). Because the
    * plan is a cartesian-class self-join, the input size is guarded: more
    * than `maxRows` rows fails LOUDLY before any pair is formed (one cheap
    * linear count vs a quadratic join that would run for days on a corpus).
    * Raising the guard is an explicit opt-in at the call site. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, maxRows: Long = NearDupMaxRows): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"nearDupPairs: input has $n rows > maxRows=$maxRows — the exact " +
        s"pair join is O(n^2) and intended for validation scales only. " +
        s"Use annNearDupPairs (banded LSH) for large inputs, or pass " +
        s"maxRows explicitly to opt in to the brute-force join.")
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // the id-inequality CASE guard: the threshold filter is pushed
        // into the join condition, which evaluates on every candidate
        // pair BEFORE the id< conjunct can drop it — without the guard
        // the dot product runs on all n² ordered pairs (self + both
        // orders) instead of the n²/2 the join keeps (the
        // text_fuzzy_pairs finding, PERF.md)
        when(col("id_a") < col("id_b"),
          dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
          .as("score"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al., 2023): cluster
    * the embedding space (the k-means cells from [[Ivf]]), then within
    * each cluster drop every row that has a near-identical neighbor
    * (cosine ≥ `threshold`) with a smaller id — one representative
    * survives per near-duplicate set, the same keep-min-id rule as
    * [[Dedup.exact]]. Returns the DISTINCT dropped ids.
    *
    * Scale shape is the published recipe's: the pair join is WITHIN-CELL
    * only (equi-join on the cell id), so the cost is Σ |cell|² — at
    * corpus scale `nCells` grows with n to keep clusters small
    * (SemDeDup uses k ≈ n/⟨cluster⟩; the paper runs 50k clusters over
    * 100M+ embeddings), never a global n² join. Cell assignment is the
    * deterministic codegen'd [[graft.functions.NearestCell]] kernel, so
    * IDENTICAL vectors are guaranteed to share a cell — which is what
    * lets a planted-clone CORRECTNESS oracle pin the whole pipeline
    * (clone pairs have cosine exactly ~1 ≥ any practical threshold). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, threshold: Double = 0.999,
                    seed: Long = 42L): DataFrame = {
    // Zero-norm vectors are EXEMPT by contract: cosine is undefined with
    // no direction (the guarded division yields null, which never crosses
    // the threshold), so two all-zero vectors are NOT semantic duplicates
    // here. Byte-identical rows — including all-zero ones — are exact
    // duplicates and belong to Dedup.exact/drops upstream, which every
    // published SemDeDup deployment runs before the semantic pass.
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val reserved = Seq("__cell", "__id", "__vec", "__nrm")
    require(reserved.forall(!df.columns.contains(_)),
      s"semanticDedup: ${reserved.mkString("/")} are reserved")
    val cents = Ivf.centroidsRefined(df, idCol, vecCol, nCells, seed)
    // norms materialize BEFORE the join (one dot per pair, not three —
    // the nearDupPairs rule) and the SAME plan self-joins aliased twice,
    // renaming only AFTER the join, so the two Exchange children
    // canonicalize equal and the scan + cell-assignment + shuffle run
    // ONCE per query (the annNearDupPairs exchange-reuse rule)
    val cells = df.select(
      Ivf.assignCell(col(vecCol), cents).as("__cell"),
      col(idCol).as("__id"), col(vecCol).as("__vec"),
      l2Norm(col(vecCol)).as("__nrm"))
    cells.as("l").hint("shuffle_hash").join(cells.as("r"), Seq("__cell"))
      .filter(col("l.__id") < col("r.__id"))
      // id-inequality CASE guard (the text_fuzzy_pairs finding): both
      // filters are pushed into the join condition, and the cosine
      // conjunct would otherwise evaluate on every within-cell ordered
      // pair — self-matches and both orders — before the id< conjunct
      // drops them; the guard short-circuits the dot to the kept half
      .filter(when(col("l.__id") < col("r.__id"),
        dot(col("l.__vec"), col("r.__vec")) /
          (col("l.__nrm") * col("r.__nrm"))) >= threshold)
      .select(col("r.__id").as("dropped_id"))
      .distinct()
  }

  /** Cross-corpus SEMANTIC decontamination: corpus rows whose embedding
    * is near-identical (cosine ≥ `threshold`) to ANY eval-set embedding —
    * the semantic face of [[graft.operators.Dedup.ngramContaminated]]
    * (paraphrased eval leakage that no n-gram check can see). Same
    * architecture as [[semanticDedup]]: k-means cells trained on the
    * CORPUS, both sides assigned with the same deterministic centroids,
    * pairs formed within shared cells only — the eval side is test-set
    * sized, so the join cost is Σ_cell |corpus_cell|·|eval_cell|, never
    * corpus². Identical vectors share a cell by construction
    * (NearestCell is deterministic), which is what lets a planted-clone
    * oracle pin the pipeline. Zero-norm rows are exempt (no direction —
    * the semanticDedup contract). Returns distinct corpus `drop_id`s. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String, nCells: Int = 16,
                            threshold: Double = 0.999,
                            seed: Long = 42L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val cents = Ivf.centroidsRefined(corpus, idCol, vecCol, nCells, seed)
    def cells(df: DataFrame) = df.select(
      Ivf.assignCell(col(vecCol), cents).as("__cell"),
      col(idCol).as("__id"), col(vecCol).as("__vec"),
      l2Norm(col(vecCol)).as("__nrm"))
    cells(corpus).as("c").hint("shuffle_hash")
      .join(cells(evalSet).as("e"), Seq("__cell"))
      .filter(dot(col("c.__vec"), col("e.__vec")) /
        (col("c.__nrm") * col("e.__nrm")) >= threshold)
      .select(col("c.__id").as("drop_id"))
      .distinct()
  }

  /** SemDeDup's cluster-count recipe, made executable: k ≈ n/⟨cluster⟩.
    * The paper's operating points (50k clusters over 100M+ LAION
    * embeddings ≈ 2k vectors per cluster; smaller corpora proportionally)
    * all reduce to "hold the MEAN CELL SIZE constant as n grows", which is
    * exactly what keeps the within-cell pair join Σ|cell|² ≈ n·⟨cluster⟩ —
    * LINEAR in n — instead of quietly sliding toward n² when a fixed cell
    * count meets a growing corpus. Capped at 65,536 cells: centroid
    * assignment is one fused kernel over the centroid matrix per row, and
    * the matrix itself is driver-trained reference data (the
    * [[Ivf.centroidsRefined]] budget); past that, shard the corpus. */
  def nCellsFor(n: Long, targetClusterSize: Long = 100L): Int = {
    require(n > 0L, s"nCellsFor: corpus size must be positive, got $n")
    require(targetClusterSize > 0L,
      s"nCellsFor: target cluster size must be positive, got $targetClusterSize")
    val k = (n + targetClusterSize - 1L) / targetClusterSize
    math.max(1L, math.min(k, 65536L)).toInt
  }

  /** [[semanticDedup]] with the cell count DERIVED from the corpus size
    * via [[nCellsFor]] — the scale knob self-tunes the way
    * [[Dedup.paramsFor]] derives LSH banding from the jaccard threshold,
    * instead of a caller-remembered constant. Costs one extra metadata-
    * cheap count() action before the dedup itself. */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.999, seed: Long = 42L,
                        targetClusterSize: Long = 100L): DataFrame =
    semanticDedup(df, idCol, vecCol,
      nCellsFor(df.count(), targetClusterSize), threshold, seed)

  /** The bucket-pruned candidate rows an [[annTopK]] probe ranks: rows
    * within `probeRadius` Hamming distance of the query's signature in ANY
    * of `nBands` independent signature tables (classic multi-table LSH —
    * a true neighbor is missed only if EVERY table separates it, so recall
    * converges to 1 exponentially in nBands while each table stays
    * selective). One scan; the per-row cost is nBands signature dots.
    * Exposed for recall/pruning measurement (RecallTune,
    * emb_ann_topk_recall). */
  def annCandidates(df: DataFrame, idCol: String, vecCol: String,
                    query: Array[Double], nPlanes: Int = 12,
                    probeRadius: Int = 2, nBands: Int = 1,
                    seed: Long = 42L): DataFrame = {
    val dim = query.length
    val perBand = (0 until nBands).map { b =>
      val planes = randomPlanes(nPlanes, dim, seed + b)
      val querySig: Long = planes.zipWithIndex.map { case (p, i) =>
        val d = p.zip(query).map { case (x, y) => x * y }.sum
        if (d >= 0.0) 1L << i else 0L
      }.sum
      bit_count(rhpSignature(col(vecCol), planes).bitwiseXOR(lit(querySig))) <= probeRadius
    }
    df.filter(perBand.reduce(_ || _))
  }

  /** LSH-bucketed approximate top-k: probe the query's bucket plus all
    * buckets within `probeRadius` Hamming distance of it, in each of
    * `nBands` signature tables; rank the surviving candidates by exact
    * cosine. One scan + one bucket-pruned ranking. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int,
              nPlanes: Int = 12, probeRadius: Int = 2,
              nBands: Int = 1, seed: Long = 42L): DataFrame =
    annCandidates(df, idCol, vecCol, query, nPlanes, probeRadius, nBands, seed)
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** LSH-bucketed near-dup pairs: join on equal signature bucket, then
    * exact-cosine filter. Banding over `nBands` signature words raises
    * recall (a pair is a candidate if ANY band matches). Scales as
    * Σ bucket² instead of n².
    *
    * All band signatures are computed in ONE corpus scan (a per-row
    * signature array exploded into (band, bucket) rows) — a per-band
    * union would rescan the corpus nBands times, the difference between
    * one and twelve passes over 100 TB. Shuffle volume is unchanged
    * (nBands rows/doc either way).
    *
    * HOT-BUCKET CAP ([[graft.operators.Dedup.minhashCandidates]]'s
    * discipline on the embedding axis): a bucket with m > `maxBucket`
    * members emits an m−1 STAR around its minimum id instead of the
    * C(m, 2) clique. A bucket that hot is a mass of near-identical
    * embeddings (template pages, exact re-crawls) — dedup-cluster
    * evidence, not pair-enumeration work; the star still merges the
    * group under connected components, every emitted pair is still
    * exact-cosine verified, sub-cap buckets are bit-identical to the
    * uncapped join, and a starred-out pair can still surface whole from
    * any of the other bands. */
  def annNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nPlanes: Int = 12, nBands: Int = 4,
                      seed: Long = 42L, dim: Int = 64,
                      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bandSigs = (0 until nBands).map { b =>
      val planes = randomPlanes(nPlanes, dim, seed + b)
      struct(lit(b).as("band"), rhpSignature(col("vec"), planes).as("bucket"))
    }
    val banded = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        l2Norm(col(vecCol)).as("nrm"))
      .select(col("id"), col("vec"), col("nrm"),
        explode(array(bandSigs: _*)).as("bb"))
      .select(col("id"), col("vec"), col("nrm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // bucket census + hub (min id, carried WITH its vector/norm via a
    // struct-min so the star pairs never need a second join back to the
    // corpus) over the same (band, bucket) partitioning the join uses
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val sized = banded
      .withColumn("__m", count(lit(1)).over(w))
      .withColumn("__hub",
        min(struct(col("id"), col("vec"), col("nrm"))).over(w))
    val small = sized.filter(col("__m") <= maxBucket)
    // Self-join the SAME plan aliased twice, renaming only AFTER the join:
    // the two Exchange children then canonicalize equal and AQE reuses the
    // shuffle stage — the signature pipeline runs ONCE per query. (Renaming
    // the sides before the join, as an earlier version did, broke the
    // match: 2 scans + 2 identical shuffles in the executed plan.)
    val cliquePairs = small.as("l").hint("shuffle_hash")
      .join(small.as("r"), Seq("band", "bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        (dot(col("l.vec"), col("r.vec")) / (col("l.nrm") * col("r.nrm"))).as("score"))
    // hub = bucket min id, so id_a < id_b by construction
    val starPairs = sized
      .filter(col("__m") > maxBucket && col("id") =!= col("__hub").getField("id"))
      .select(col("__hub").getField("id").as("id_a"), col("id").as("id_b"),
        (dot(col("__hub").getField("vec"), col("vec")) /
          (col("__hub").getField("nrm") * col("nrm"))).as("score"))
    cliquePairs.unionByName(starPairs)
      .filter(col("score") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }
}
