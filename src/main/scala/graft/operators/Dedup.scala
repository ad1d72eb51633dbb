package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline. All are
  * shuffle-architected for scale:
  *
  *   - [[exact]]: hash-groupBy on a fingerprint — one shuffle on the hash,
  *     map-side partial aggregation, no data skew beyond true duplicates.
  *   - [[minhashCandidates]]: shingle → 64 minhashes → banded buckets →
  *     within-bucket pairs. Shuffles: by (doc, shingle) dedup, by doc for
  *     the signature agg, by (band, bucket) for candidates. Never forms
  *     the n² pair space.
  *   - [[simhash]]: 64-bit near-dup signature per doc (one agg);
  *     [[simhashPairs]] pairs docs within a Hamming radius via 4-segment
  *     blocking (a pair within radius 3 must agree on ≥1 of 4 segments —
  *     pigeonhole), again avoiding n².
  *   - [[ngramJaccard]]: exact Jaccard via a common-shingle join with a
  *     document-frequency cap on shingles (stop-shingle removal) so the
  *     join fan-out stays bounded on skewed corpora.
  */
object Dedup {

  /** Word n-gram shingles of the normalized text, as one row per distinct
    * (id, shingle). One pass per document via the native
    * [[graft.functions.WordShingles]] expression — the equivalent
    * `transform(sequence(...))` higher-order form runs interpreted and
    * re-evaluates the normalize/split subtree per shingle position
    * (O(tokens²) regex work; the round-1 dedup bottleneck). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.WordShingles(col(textCol), n)).as("shingle"))

  /** Exact dedup: one representative (min id) per fingerprint group.
    * Returns (fingerprint, keep_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** The id set to drop under exact dedup (everything but the kept
    * representative). */
  def exactDrops(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val keep = withFp.groupBy("fp").agg(min("id").as("keep_id"))
    withFp.join(keep, "fp").filter(col("id") =!= col("keep_id"))
      .select(col("id").as("drop_id"), col("keep_id"))
  }

  /** Minhash signature per document as an ordered array<long>:
    * sig[i] = min over shingles of xxh64(shingle, seed=i), computed by the
    * one-pass [[graft.functions.MinHashAgg]] TypedImperativeAggregate —
    * one groupBy(doc) with map-side partial aggregation, no row
    * multiplication, no wide generated code. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleLen: Int = 3): DataFrame =
    shingles(df, idCol, textCol, shingleLen)
      .groupBy("id")
      .agg(graft.functions.SketchAggregates.minhash(col("shingle"), numHashes).as("sig"))

  /** (id, band, bucket) rows for banded LSH: `bands` buckets per doc, each
    * keyed by the hash of `rowsPerBand` consecutive minhash values. The
    * ONE banding construction, shared by the self-join candidates and the
    * cross-corpus path — a hashing change must not be able to diverge
    * them. */
  private def bandedBuckets(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, bands: Int,
                            shingleLen: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleLen)
    val bandBuckets = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }
    sigs.select(col("id"), explode(array(bandBuckets: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The shared jaccard-verification tail: score candidate pairs by exact
    * shingle jaccard (computed ONLY for candidates), keep ≥ threshold.
    * `shA`/`shB` are (id, shingle) tables for the pair's two sides (the
    * same table for a self-join). */
  private def verifyJaccard(cand: DataFrame, aCol: String, bCol: String,
                            shA: DataFrame, shB: DataFrame,
                            threshold: Double): DataFrame = {
    val szA = shA.groupBy("id").agg(count(lit(1)).as("sz_a"))
    val szB = shB.groupBy("id").agg(count(lit(1)).as("sz_b"))
    val inter = cand
      .join(shA.withColumnsRenamed(Map("id" -> aCol)), aCol)
      .join(shB.withColumnsRenamed(Map("id" -> bCol)), Seq(bCol, "shingle"))
      .groupBy(aCol, bCol).agg(count(lit(1)).as("inter"))
    inter
      .join(szA.withColumnsRenamed(Map("id" -> aCol)), aCol)
      .join(szB.withColumnsRenamed(Map("id" -> bCol)), bCol)
      .select(col(aCol), col(bCol),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** S-curve banding parameters from the target jaccard threshold: with
    * `b` bands of `r = numHashes/b` rows, a pair of jaccard s collides in
    * some band with probability 1 - (1 - s^r)^b, an S-curve whose
    * midpoint sits near t = (1/b)^(1/r). Pick the divisor-of-numHashes
    * band count whose midpoint is closest to the threshold FROM BELOW —
    * t <= threshold keeps candidate recall high AT the threshold (pairs
    * right at the cut sit on the high side of the curve), spending
    * candidate waste on sub-threshold pairs that exact verification
    * rejects anyway. Falls back to the closest midpoint overall when no
    * divisor lands below (thresholds under (1/numHashes): every banding
    * is above the ask).
    *
    * Returns (bands, rowsPerBand). Examples at numHashes=64:
    * threshold 0.2 -> (32, 2) [t=0.18]; 0.5 -> (16, 4) [t=0.5];
    * 0.8 -> (8, 8) [t=0.77]. The legacy explicit default bands=16
    * (t=0.5) under-recalls thresholds below ~0.4 — exactly what the
    * auto path fixes. */
  def paramsFor(threshold: Double, numHashes: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    val options = (1 to numHashes).filter(numHashes % _ == 0)
      .map { b => (b, math.pow(1.0 / b, b.toDouble / numHashes)) }
    val below = options.filter(_._2 <= threshold)
    val (bands, _) =
      if (below.nonEmpty) below.maxBy(_._2)
      else options.minBy { case (_, t) => math.abs(t - threshold) }
    (bands, numHashes / bands)
  }

  /** [[minhashNearDups]] with the banding DERIVED from the threshold via
    * [[paramsFor]] — the caller states intent (the jaccard cut) and the
    * operator picks its own operating point. The explicit-knob form stays
    * for callers tuning candidate volume by hand. */
  def minhashNearDupsAuto(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, numHashes: Int = 64,
                          shingleLen: Int = 3,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (bands, _) = paramsFor(threshold, numHashes)
    minhashNearDups(df, idCol, textCol, threshold, numHashes, bands,
      shingleLen, maxBucket)
  }

  /** Default hot-bucket cap for banded-LSH candidate generation: a
    * (band, bucket) group with more members than this is crawl-style
    * boilerplate density, and its C(m, 2) full clique is capped to an
    * m−1 STAR (every member paired with the bucket's minimum id). The
    * 4-step scale ladder measured the uncapped failure mode — candidate
    * pairs growing ~45-100× on 10× docs when replica cliques scale —
    * and this is the [[TextAnalysis.fuzzyPairs]] maxBlock discipline
    * applied to the minhash/RHP band buckets. 256 keeps every
    * legitimate near-dup cluster below the cap on the fixtures while
    * bounding a pathological 100k-doc boilerplate bucket at 10⁵ star
    * pairs instead of 5×10⁹ clique pairs. */
  val DefaultMaxBucket: Int = 256

  /** Banded LSH candidate pairs from minhash signatures: docs sharing any
    * (band, bucket) are candidates. Returns distinct (id_a, id_b), a < b.
    * Never forms the n² pair space: the join is on (band, bucket).
    *
    * HOT-BUCKET CAP: a bucket with m > `maxBucket` members emits an
    * m−1 STAR around its minimum id instead of the C(m, 2) clique —
    * the last unbounded spot in the candidate-generation story. Why a
    * star is the right degradation and not a loss:
    *
    *   - a bucket that hot means ≥ maxBucket docs share an entire
    *     band's signature rows — near-identical boilerplate, which is
    *     DEDUP work (keep one, drop the rest), not pair-enumeration
    *     work; the star carries exactly the m−1 edges connected-
    *     component clustering ([[clusters]]) needs to merge the group,
    *     and verification still runs per emitted pair, so no false
    *     positive can enter;
    *   - below the cap NOTHING changes (the spec pins capped ≡ uncapped
    *     on sub-cap buckets), and a pair starred out of one band can
    *     still surface as a full candidate from any of the other
    *     bands - 1 buckets it collides in;
    *   - the alternative — dropping hot buckets outright, as the fuzzy
    *     path does — is wrong HERE, because these pairs are the dedup
    *     family's own positives, not another operator's job.
    *
    * Plan shape: one window (count + min) over the same (band, bucket)
    * exchange the join shuffles on, so the cap costs no extra
    * corpus-sized shuffle and the two join sides still collapse into
    * ONE signature pipeline (Exchange + ReusedExchange — pinned by
    * PlanAuditSpec). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleLen: Int = 3,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val exploded = bandedBuckets(df, idCol, textCol, numHashes, bands, shingleLen)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val sized = exploded
      .withColumn("__m", count(lit(1)).over(w))
      .withColumn("__hub", min(col("id")).over(w))
    val small = sized.filter(col("__m") <= maxBucket)
    // shuffle_hash, not broadcast: with both sides shuffled on
    // (band, bucket) the two identical signature subtrees collapse into
    // ONE Exchange + ReusedExchange — the expensive shingle→minhash
    // pipeline runs once, not once per join side. (A broadcast join has
    // no common exchange to reuse, and at corpus scale the signature
    // table could not broadcast anyway.)
    val cliquePairs = small.as("l").hint("shuffle_hash")
      .join(small.as("r"), Seq("band", "bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    // hub = bucket min, so id_a < id_b holds by construction
    val starPairs = sized.filter(col("__m") > maxBucket && col("id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("id").as("id_b"))
    cliquePairs.unionByName(starPairs).distinct()
  }

  /** Near-dup pairs = LSH candidates verified by exact shingle Jaccard ≥
    * threshold. The Jaccard is computed ONLY for candidate pairs — fan out
    * each candidate by the left doc's shingles, match them against the
    * right doc's shingle set — so verification cost is |candidates| ×
    * avg-shingles, never the all-pairs shingle join. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 64, bands: Int = 16,
                      shingleLen: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // No .cache(): the shingle explode is a narrow one-pass chain off the
    // scan — recomputing it per use is cheaper than pinning a corpus-sized
    // table in executor memory (and caching leaked across queries in r1).
    val sh = shingles(df, idCol, textCol, shingleLen)
    val cand = minhashCandidates(df, idCol, textCol, numHashes, bands,
      shingleLen, maxBucket)
    verifyJaccard(cand, "id_a", "id_b", sh, sh, threshold)
  }

  /** CROSS-CORPUS near-dup pairs (decontamination): documents of `left`
    * within jaccard ≥ threshold of any document of `right` — the
    * "scrub the training corpus against the eval/test set" step every
    * training-data pipeline runs. Same banded-LSH architecture as
    * [[minhashNearDups]] but the (band, bucket) join is across the two
    * corpora (never a self-join, never n²): candidates = bucket
    * collisions, verified by exact shingle jaccard computed only for
    * candidate pairs. Scales as Σ per-bucket (|left| × |right|) — at
    * 100 TB the right side (an eval set) is typically tiny, and the
    * verification fan-out is |candidates| × avg-shingles.
    *
    * Returns (id_l, id_r, jaccard), one row per cross pair ≥ threshold. */
  def minhashNearDupsAcross(left: DataFrame, right: DataFrame,
                            idCol: String, textCol: String, threshold: Double,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleLen: Int = 3): DataFrame = {
    val cand = bandedBuckets(left, idCol, textCol, numHashes, bands, shingleLen)
      .withColumnRenamed("id", "id_l")
      .join(bandedBuckets(right, idCol, textCol, numHashes, bands, shingleLen)
        .withColumnRenamed("id", "id_r"), Seq("band", "bucket"))
      .select("id_l", "id_r").distinct()
    verifyJaccard(cand, "id_l", "id_r",
      shingles(left, idCol, textCol, shingleLen),
      shingles(right, idCol, textCol, shingleLen), threshold)
  }

  /** EXACT n-gram overlap decontamination — the GPT-3/PaLM-style
    * contamination check that complements the jaccard form
    * ([[minhashNearDupsAcross]]): a corpus document sharing ANY single
    * word n-gram (n=13 is the literature's standard) with ANY eval
    * document is contaminated. No threshold, no sketch, no similarity
    * score — one shared n-gram flags the doc, which catches verbatim
    * QUOTES of an eval item inside an otherwise-unrelated document that
    * jaccard (normalized by doc size) can never reach.
    *
    * Plan: distinct n-gram sets both sides, LEFT SEMI equi-join corpus
    * grams against eval grams, distinct ids. One shuffle on the gram (or
    * a broadcast: at 100 TB the eval side is the tiny one — its distinct
    * gram set broadcasts and the corpus pass is map-only). Returns
    * `drop_id` rows, sorted use left to the caller. */
  def ngramContaminated(corpus: DataFrame, evalSet: DataFrame,
                        idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val cGrams = shingles(corpus, idCol, textCol, n)
    val eGrams = shingles(evalSet, idCol, textCol, n).select("shingle")
    cGrams.join(eGrams, Seq("shingle"), "left_semi")
      .select(col("id").as("drop_id")).distinct()
  }

  /** [[ngramContaminated]] behind a BLOOM PREFILTER — the same exact
    * answer, restructured for the 100 TB membership shape: a Bloom
    * filter of the eval set's distinct grams (built by Spark's
    * distributed sketch aggregation; ~1.2 MB per million grams at 1%
    * fpp) rides to every executor as expression reference data and
    * prunes the corpus gram stream IN THE SCAN PROJECTION, before any
    * shuffle — so the exact LEFT SEMI confirm join receives only true
    * hits plus the fpp sliver of false positives instead of every gram
    * of the corpus. The confirm join then removes the false positives,
    * which is what makes the output EXACTLY [[ngramContaminated]]'s
    * (hash-match-same, not approximately-same): the Bloom guarantee is
    * no false NEGATIVES, so the prefilter can only pass extra rows,
    * never drop a real hit.
    *
    * Cost shape vs the plain form: the plain LEFT SEMI must move the
    * corpus-side grams to the join (or rely on AQE to broadcast the eval
    * side); the bloom form makes the corpus pass map-only by
    * construction, at the price of one count action + one aggregation
    * over the SMALL side to size and build the filter. Probe is the
    * codegen'd [[graft.functions.BloomMightContainExpr]] (UTF-8 bytes,
    * no per-row String). */
  def ngramContaminatedBloom(corpus: DataFrame, evalSet: DataFrame,
                             idCol: String, textCol: String, n: Int = 13,
                             fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val cGrams = shingles(corpus, idCol, textCol, n)
    val eGrams = shingles(evalSet, idCol, textCol, n)
      .select("shingle").distinct()
    // the eval side is the small side BY DEFINITION (it's a test set);
    // one count action sizes the filter, one distributed aggregation
    // builds it — both touch only that small side
    val nGrams = math.max(eGrams.count(), 1L)
    val bloom = eGrams.stat.bloomFilter("shingle", nGrams, fpp)
    cGrams.filter(graft.functions.BloomMightContainExpr(col("shingle"), bloom))
      .join(eGrams, Seq("shingle"), "left_semi")
      .select(col("id").as("drop_id")).distinct()
  }

  /** 64-bit SimHash per document over word tokens: bit i of the signature
    * is the sign of Σ_tokens (bit i of xxh64(token) ? +1 : -1), via the
    * one-pass [[graft.functions.SimHashAgg]] TypedImperativeAggregate. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(TextAnalysis.normalized(col(textCol)), " ")).as("tok"))
      .groupBy("id")
      .agg(graft.functions.SketchAggregates.simhash(col("tok")).as("simhash"))

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist (≤ 3 with the
    * default 4 segments, by pigeonhole — capture is complete only while
    * maxDist < segments). Blocks on 16-bit signature segments so only
    * same-segment pairs are compared.
    *
    * Operating-point note (measured at sf0.01 and sf0.1): on the fixture
    * corpus the word-3-gram jaccard≥0.5 truth pairs span hamming 0-12 —
    * the docs are short, so one differing token moves many bit-sums
    * across zero. Full
    * recall of that truth set therefore needs maxDist=12/segments=16,
    * which also admits ~640k low-signal pairs at sf0.1 (precision-free).
    * The default (3, 4) is the useful dedup point; its exact-duplicate
    * recall (hamming 0 — guaranteed capture) is oracle-proved by the
    * dedup_simhash_dups planted-clone entry. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, segments: Int = 4): DataFrame = {
    val sigs = simhash(df, idCol, textCol)
    val segBits = 64 / segments
    val mask = (1L << segBits) - 1
    val seg = sigs.select(col("id"), col("simhash"),
      explode(array((0 until segments).map(s =>
        struct(lit(s).as("seg"),
          shiftright(col("simhash"), s * segBits).bitwiseAND(mask).as("key"))): _*)).as("sk"))
      .select(col("id"), col("simhash"), col("sk.seg").as("seg"), col("sk.key").as("key"))
    // shuffle join → the simhash subtree is exchange-reused across the
    // self-join (see minhashCandidates)
    seg.as("l").hint("shuffle_hash").join(seg.as("r"), Seq("seg", "key"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-dup pairs by winnowed rolling-hash fingerprint overlap
    * ([[graft.functions.WinnowFingerprint]] — the MOSS scheme): Jaccard
    * over each document's winnowed fingerprint set, computed via a
    * common-fingerprint self-join. Same join architecture as
    * [[ngramJaccard]] (never n², DF-capped, exchange-reused) but the
    * winnowed sketch keeps ~2/(w+1) of the CHAR k-gram positions — so the
    * window drives join-input volume directly. Note the comparison base:
    * at w=4 the char-20-gram sketch is still ~2-3× MORE rows/doc than the
    * word-3-gram shingle set the other dedups join on; the default w=16
    * brings it under it (~12% of char positions ≈ 0.6× word shingles) and
    * any shared run of ≥ k+w−1 = 35 normalized chars (≈ 6 words) still
    * guarantees a common fingerprint — comfortably below the shared-text
    * length that makes a pair a near-dup at any usable threshold.
    *
    * Jaccard is over the DF-capped (discriminative) fingerprint sets —
    * intersections AND denominators both exclude stop-fingerprints.
    * (Capping only the intersection while dividing by uncapped sizes
    * silently zeroes the similarity of true near-dups whose shared text
    * is corpus-common — observed on the sf0.1 fixtures.)
    *
    * Default k=20 chars ≈ a word 3-gram: measured on the fixtures, char
    * 8-grams are corpus-common (sub-word scale — the DF cap then deletes
    * the signal and the surviving jaccard is noise: 14,510 reported pairs
    * vs 260 word-3-gram ground-truth pairs, only 96 overlapping), while
    * 20-char grams match word-3-gram selectivity (max DF ~25) and
    * reproduce the ground-truth pair set with no cap pressure. */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.1, k: Int = 20, w: Int = 16,
                     maxDocFreq: Long = 10000L): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
      explode(graft.functions.WinnowFingerprint(col(textCol), k, w)).as("fp"))
    val filtered =
      if (maxDocFreq == Long.MaxValue) fp
      else {
        // broadcast the STOP set (fingerprints above the cap — tiny: at
        // most total-rows/maxDocFreq entries) and anti-join, instead of
        // shuffle-joining the corpus-sized table against the keep set
        val stop = fp.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select("fp")
        fp.join(broadcast(stop), Seq("fp"), "left_anti")
          .select(col("id"), col("fp"))
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    // shuffle join → the fingerprint subtree is exchange-reused across
    // the self-join (see minhashCandidates)
    val inter = filtered.as("l").hint("shuffle_hash").join(filtered.as("r"), Seq("fp"))
      .filter(col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair graph: (id, cluster), where
    * `cluster` is the SMALLEST id reachable through the pairs — the
    * representative-selection step of a dedup pipeline (keep each
    * cluster's id, drop the rest).
    *
    * Min-label propagation with POINTER JUMPING: each round (a) sends
    * every node's label across the edges and keeps the min, then (b)
    * replaces each label by its label's label (path compression — the
    * hook/compress shape of CC-on-MapReduce). Propagation alone needs
    * O(component diameter) rounds; the jump step doubles how far the min
    * travels per round, giving O(log diameter) — measured on a 60-node
    * path fixture: 6 rounds vs 50+ (ClustersSamplingSpec).
    *
    * ONE action per round: the convergence metric (label sum — strictly
    * decreasing until fixpoint) rides the round's checkpoint action as an
    * `observe()` metric instead of a second aggregate job. DECIMAL(38)
    * sum: a Long sum wraps silently on large id spaces and a wrap
    * collision would mis-detect convergence.
    *
    * Lineage/durability: every round cuts lineage with an eager
    * checkpoint. Default is `localCheckpoint` (fast, blocks on executors
    * — fine for local/interactive runs); pass `checkpointDir` for a
    * reliable `checkpoint()` against shared storage so a long CC run on a
    * 1000-executor cluster survives executor loss. The edge table is
    * PAIR-sized, orders of magnitude below the corpus, so either flavor
    * is cheap at any corpus scale. */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    // Materialize the PAIR pipeline exactly once: the two edge
    // directions are projections of the checkpointed pair table, so the
    // (possibly very expensive — e.g. the full ngramJaccard stack)
    // upstream plan can never run twice under the union, whatever the
    // optimizer's exchange-reuse decides. The union itself stays lazy:
    // both branches are reads of the same checkpoint blocks. (Measured
    // alternative: landing edges repartition(src)+checkpoint does NOT
    // help — LogicalRDD drops the hash partitioning, so each round's
    // join re-shuffles regardless and the extra materialize pass is
    // pure cost.)
    val p = cut(pairs.select(col(idA).as("src"), col(idB).as("dst")))
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    // Initial labels = round 1 done as a PLAIN AGGREGATE: with identity
    // starting labels, propagate(min over self+neighbors) is just
    // min(src, min(dst)) — a single groupBy over the materialized edge
    // table, no join/union/jump machinery. The generic loop takes over
    // from round 2. Labels stay LAZY (derived from the materialized
    // edges); no initial-sum job is needed — `lastSum == null` means
    // "no previous round", never "converged".
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .select(col("src").as("id"), col("cluster"))
    if (edges.isEmpty) return labels // no pairs → no rows, not an NPE
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster").cast("decimal(38,0)"))).head().getDecimal(0)
    var lastSum: java.math.BigDecimal = null
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val viaEdges = edges
        .join(labels.withColumnsRenamed(Map("id" -> "src", "cluster" -> "cand")), "src")
        .select(col("dst").as("id"), col("cand"))
      val propagated = labels.select(col("id"), col("cluster").as("cand"))
        .union(viaEdges)
        .groupBy("id").agg(min("cand").as("cluster"))
      // pointer jump: cluster := min(cluster, cluster's cluster). Every
      // label is a reachable node id, so label-of-label is reachable too
      // (transitivity) — the jump never leaves the component.
      val jumped = propagated
        .join(propagated.select(col("id").as("cluster"), col("cluster").as("cluster2")),
          Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("cluster2"), col("cluster"))).as("cluster"))
      val obs = org.apache.spark.sql.Observation()
      val next = cut(jumped.observe(obs,
        sum(col("cluster").cast("decimal(38,0)")).as("s")))
      labels = next
      // The checkpoint IS the round's one action; the observed metric
      // arrives via the (async) listener right after it completes. The
      // blocking get is bounded (Await) with a fallback aggregate over the
      // just-materialized checkpoint blocks, so a listener regression can
      // never hang a round — only slow it (and the ClustersSamplingSpec
      // mechanism test would flag that loudly).
      val s = try {
        import scala.concurrent.duration._
        scala.concurrent.Await.result(
          scala.concurrent.Future(obs.get("s").asInstanceOf[java.math.BigDecimal])(
            scala.concurrent.ExecutionContext.global), 10.seconds)
      } catch { case _: java.util.concurrent.TimeoutException => labelSum(labels) }
      converged = lastSum != null && s.compareTo(lastSum) == 0
      lastSum = s
      i += 1
    }
    // Non-convergence must be LOUD: partial labels are silently-wrong
    // components. With pointer jumping maxIter bounds rounds ≈
    // log2(max component diameter) + constant; 50 covers any graph that
    // fits in storage (each round is edge-table work, so the high bound
    // costs nothing when convergence is early).
    if (!converged)
      throw new IllegalStateException(
        s"clusters: not converged after $maxIter rounds — a component has " +
          s"diameter > ~2^$maxIter; raise maxIter")
    labels
  }

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.
    * `maxDocFreq` drops shingles present in more than that many documents
    * (stop-shingles) to bound join fan-out — at corpus scale the frequent
    * shingles contribute candidates, not signal. The cap is ON by default
    * (10k): an uncapped common-shingle self-join is quadratic in the
    * hottest shingle's document frequency and dies on any skewed corpus.
    * Jaccard is over the DF-capped shingle sets — numerator AND
    * denominators exclude stop-shingles (same contract as
    * [[winnowNearDups]]), so identical documents score exactly 1.0 on any
    * corpus. (Capping only the intersection while dividing by uncapped
    * sizes silently deflates every score on a skewed corpus.) */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, maxDocFreq: Long = 10000L): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val filtered =
      if (maxDocFreq == Long.MaxValue) sh
      else {
        // broadcast anti-join against the tiny stop-shingle set (see
        // winnowNearDups) — not a shuffle join against the large keep set
        val stop = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select("shingle")
        sh.join(broadcast(stop), Seq("shingle"), "left_anti")
          .select(col("id"), col("shingle"))
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    // shuffle join → the DF-capped shingle subtree is exchange-reused
    // across the self-join (see minhashCandidates)
    val inter = filtered.as("l").hint("shuffle_hash").join(filtered.as("r"), Seq("shingle"))
      .filter(col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
  }

  /** EXACT duplicated-substring spans (the suffix-array dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better",
    * re-expressed shuffle-native): a text span is duplicated when its
    * every word-k-gram occurs at ≥2 (doc, position) sites corpus-wide —
    * exactly the spans a suffix array of the concatenated corpus reports
    * at match length ≥ k words, found here with two linear shuffles
    * instead of a giant sorted suffix structure:
    *
    *   1. positional grams — one codegen'd [[graft.functions.WordGrams]]
    *      pass per doc, posexplode → (id, pos, gram);
    *   2. duplicated grams — groupBy the gram's 64-bit `xxhash64`
    *      fingerprint, count ≥ 2 (map-side partial counts absorb hot
    *      grams);
    *   3. duplicated positions — LEFT SEMI shuffle-hash join of the gram
    *      table against the duplicated-fingerprint set;
    *   4. maximal spans — per-doc gaps-and-islands: consecutive
    *      duplicated starts p, q merge while q ≤ p + k (their k-word
    *      windows overlap or touch); window `lag` + running sum, one
    *      shuffle already partitioned by id.
    *
    * Shuffling 8-byte fingerprints instead of gram strings cuts both
    * gram shuffles ~6× in width; a 64-bit collision (odds ≈ n²/2⁶⁵ —
    * ~10⁻¹⁰ at 10⁵ distinct grams; at true 100 TB scale swap in the
    * 128-bit half of `md5`) could only ADD a spurious span, never lose
    * one. Spans are 1-based token indexes over the shared tokenization
    * contract (WordShingles scaladoc), inclusive on both ends.
    *
    * Returns (id, span_start, span_end, span_words), one row per maximal
    * duplicated span. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol).as("id"),
        posexplode(graft.functions.WordGrams(col(textCol), k)).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), xxhash64(col("gram")).as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gh")
    // hint goes on the BUILD side (the right, for LEFT SEMI): AQE may
    // still broadcast it when small — the scale-adaptive choice
    val dupPos = grams.join(dup.hint("shuffle_hash"), Seq("gh"), "left_semi")
      .select(col("id"), col("pos"))
    val w = Window.partitionBy("id").orderBy("pos")
    dupPos
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + k, 1).otherwise(0))
      .withColumn("island",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "island")
      .agg(min("pos").as("s"), max("pos").as("e"))
      .select(col("id"), (col("s") + 1).as("span_start"),
        (col("e") + lit(k)).as("span_end"),
        (col("e") - col("s") + lit(k)).as("span_words"))
  }

  /** Engine-portable per-doc minhash signatures: component i is the MIN
    * over the doc's word-n-gram shingles of `md5("i:" || shingle)`,
    * compared AS fixed-width 32-hex strings (lexicographic min ≡ numeric
    * min). DuckDB computes the identical values, which is what makes the
    * [[minhashStoreWrite]]/[[minhashStoreCandidates]] lifecycle and the
    * dedup_minhash_portable entry oracle-checkable end-to-end; production
    * one-shot dedup keeps the cheaper native xxhash64 signatures
    * ([[minhashSignatures]]). Returns (id, h0..h{components-1}). */
  def portableMinhashSigs(df: DataFrame, idCol: String, textCol: String,
                          components: Int = 8, n: Int = 3): DataFrame = {
    require(components >= 1, s"components must be >= 1, got $components")
    val sh = shingles(df, idCol, textCol, n)
    val aggs = (0 until components).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band, bkey) rows from [[portableMinhashSigs]] output: band b's
    * key concatenates its `rowsPerBand` signature components — the
    * standard LSH banding layout, one row per (doc, band). */
  private def portableBands(sigs: DataFrame, components: Int,
                            rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && components % rowsPerBand == 0,
      s"components ($components) must divide into bands of $rowsPerBand")
    val bandStructs = array((0 until components / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}")): _*).as("bkey"))
    }: _*)
    sigs.select(col("id"), explode(bandStructs).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** INCREMENTAL dedup, build phase: persist the corpus's banded minhash
    * signature STORE as parquet at `path`. The store is the only state a
    * later batch needs — (id, band, bkey) rows, ~bands × corpus rows of
    * fixed-width strings — so the historical corpus TEXT is never
    * re-read, re-shingled, or re-hashed when new data arrives (the
    * [[graft.operators.AnnModels]] philosophy applied to dedup: the
    * signatures are the model; persist them with the decision). At scale,
    * bucket the store by `bkey` so incremental joins co-locate without a
    * store-side shuffle; appending a batch's own bands keeps the store
    * current (signatures are per-doc, so append never invalidates
    * existing rows). */
  def minhashStoreWrite(df: DataFrame, idCol: String, textCol: String,
                        path: String, components: Int = 8,
                        rowsPerBand: Int = 2, n: Int = 3): Unit =
    portableBands(portableMinhashSigs(df, idCol, textCol, components, n),
      components, rowsPerBand)
      .write.mode("overwrite").parquet(path)

  /** Grow the store with a new batch's bands — signatures are PER-DOC,
    * so appending never invalidates existing rows; after deduping a
    * batch against the store ([[minhashStoreCandidates]]), append its
    * survivors and the store stays current without ever re-reading
    * historical text. Appends land in the LIVE generation of a
    * compacted (generation-versioned) store — see
    * [[Compaction.Manifest]]; flat stores resolve to themselves. */
  def minhashStoreAppend(df: DataFrame, idCol: String, textCol: String,
                         path: String, components: Int = 8,
                         rowsPerBand: Int = 2, n: Int = 3): Unit =
    portableBands(portableMinhashSigs(df, idCol, textCol, components, n),
      components, rowsPerBand)
      .write.mode("append").parquet(Compaction.Manifest.resolve(path))

  /** Bin-pack a signature store grown by [[minhashStoreAppend]] (one
    * file batch per append — the small-file accumulation the streaming
    * lifecycle pays) into `numFiles` files clustered+sorted by
    * (band, bkey), so incremental joins read few large files with
    * band/bkey row-group locality. Candidates are IDENTICAL pre/post
    * (row set preserved; spec: CompactionSpec). Maintenance op (no concurrent appender) — the swap is the
    * object-store-safe generation-pointer protocol, readers included:
    * see [[Compaction.Manifest]]. */
  def minhashStoreCompact(spark: org.apache.spark.sql.SparkSession,
                          path: String, numFiles: Int = 1): Unit =
    Compaction.compactClustered(spark, path, Seq("band", "bkey"), numFiles)

  /** INCREMENTAL dedup, query phase: candidate near-duplicate pairs
    * between a NEW batch and the persisted store at `path` — the batch's
    * signatures are computed fresh (it is the only text read), the store
    * is a parquet scan, and candidates share ≥1 LSH band. One
    * shuffle-hash join on (band, bkey); the new batch is typically a day's
    * crawl against years of store, so the join's small side is the batch.
    * Returns distinct (new_id, store_id).
    *
    * HOT-BUCKET CAP (the [[minhashCandidates]] discipline on the
    * incremental axis): a STORE bucket keeps only its `maxBucket`
    * LOWEST ids as candidate partners — deterministic representatives.
    * Years of boilerplate history can pile 10⁵ store rows into one
    * (band, bkey); uncapped, every colliding new doc would fan out into
    * all of them, and the candidate volume is (new batch hits) ×
    * (bucket depth). The query this operator answers is "is the new doc
    * a duplicate of ANYTHING in history" — one verified representative
    * hit settles it, so a capped bucket loses nothing the caller acts
    * on, and a pair repressed in one band can still surface from the
    * other bands' buckets. Below the cap, candidates are IDENTICAL to
    * the uncapped join (row_number ≤ m ≤ cap keeps every row;
    * spec-pinned).
    *
    * ID-STABILITY ASSUMPTION (r12 ADVICE): "deterministic
    * representatives" holds because the store's `id` column is the
    * source doc_id, immutable once written — [[minhashStoreCompact]] /
    * [[Compaction.readLive]] rewrite FILES, never rows, so the
    * `maxBucket` lowest ids of a bucket are the same rows before and
    * after any compaction (and the oracle's QUALIFY mirror picks the
    * identical set). A store format that reassigned ids on rewrite
    * would silently break this contract. */
  def minhashStoreCandidates(newBatch: DataFrame, idCol: String,
                             textCol: String, path: String,
                             components: Int = 8, rowsPerBand: Int = 2,
                             n: Int = 3,
                             maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val store = Compaction.readLive(newBatch.sparkSession, path)
      .withColumn("__rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("band", "bkey").orderBy("id")))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val nb = portableBands(
      portableMinhashSigs(newBatch, idCol, textCol, components, n),
      components, rowsPerBand)
    nb.as("n").hint("shuffle_hash").join(store.as("s"), Seq("band", "bkey"))
      .select(col("n.id").as("new_id"), col("s.id").as("store_id"))
      .distinct()
  }

  /** INCREMENTAL URL dedup store, build phase: persist the canonical
    * URLs of a crawled corpus (the [[minhashStoreWrite]] lifecycle on
    * the URL axis — historical pages are never re-canonicalized when a
    * new crawl arrives; the canonical-URL set IS the state, one short
    * string per page ever seen). Store rows: (curl). */
  def urlStoreWrite(df: DataFrame, urlCol: String, path: String): Unit =
    df.select(graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol))
        .as("curl"))
      .distinct()
      .write.mode("overwrite").parquet(path)

  /** Grow the store with an ADMITTED batch's canonical URLs (the
    * contract mirrors [[minhashStoreAppend]]: gate the batch through
    * [[urlStoreAdmit]] first, then append the survivors — so the store
    * stays a duplicate-free set by construction; admission is a
    * left-anti join and tolerates duplicate store rows regardless).
    * Appends land in the LIVE generation of a compacted store
    * ([[Compaction.Manifest]]). */
  def urlStoreAppend(df: DataFrame, urlCol: String, path: String): Unit =
    df.select(graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol))
        .as("curl"))
      .distinct()
      .write.mode("append").parquet(Compaction.Manifest.resolve(path))

  /** INCREMENTAL URL dedup, gate phase: the new batch's rows whose
    * canonical URL has never been seen (url-level admission — the
    * re-crawl filter every continuously-ingesting corpus runs before
    * paying content-level dedup). One LEFT ANTI shuffle-hash join on
    * the canonical string; the store side is a scan of short strings,
    * the batch (a day's crawl vs years of store) is the small side.
    * In-batch re-crawls collapse too (keep min id per canonical URL).
    * Build-side note: Spark's LeftAnti streams the LEFT (batch) side
    * and builds the RIGHT, so the store is shuffled on `curl` and each
    * task builds only its key-range slice — bounded by partition
    * sizing, never the whole store in one map (the hint picks hash over
    * sort-merge; both sides shuffle once either way).
    * Returns the admitted (idCol, curl) rows. */
  def urlStoreAdmit(newBatch: DataFrame, idCol: String, urlCol: String,
                    path: String): DataFrame = {
    val store = Compaction.readLive(newBatch.sparkSession, path)
    val nb = newBatch.select(col(idCol),
      graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol)).as("curl"))
    val firstPerUrl = nb.groupBy("curl").agg(min(col(idCol)).as(idCol))
    firstPerUrl.as("n")
      .join(store.as("s").hint("shuffle_hash"), Seq("curl"), "left_anti")
      .select(col(idCol), col("curl"))
  }

  /** Bin-pack a URL store grown by [[urlStoreAppend]] into `numFiles`
    * files clustered by canonical URL (row-group pruning + anti-join
    * locality). Maintenance op (no concurrent appender) — the swap is
    * the object-store-safe generation-pointer protocol:
    * [[Compaction.Manifest]]. */
  def urlStoreCompact(spark: org.apache.spark.sql.SparkSession,
                      path: String, numFiles: Int = 1): Unit =
    Compaction.compactClustered(spark, path, Seq("curl"), numFiles)

  /** The REMEDIATION over [[duplicatedSpans]] — Lee et al. cut the
    * duplicated SPANS, not the documents: every token inside a
    * corpus-duplicated span is removed and the remainder re-joined, so
    * boilerplate vanishes while each doc's unique content survives.
    * Tokens anti-join the span table on (id, pos ∈ [start, end]) — an
    * id-equi join with a per-row range filter, never a cross product —
    * and reassemble via `array_sort(collect_list(struct(pos, tok)))`
    * (order restored by the struct's leading pos field, independent of
    * partitioning). Docs whose EVERY token is duplicated come back with
    * empty `clean_text` (n_kept 0) rather than vanishing. Returns
    * (id, n_kept, clean_text) over the normalized tokenization. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k)
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(TextAnalysis.normalized(col(textCol)), " ", -1))
          .as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.as("t")
      .join(spans.as("s"),
        col("t.id") === col("s.id") &&
          col("t.pos").between(col("s.span_start"), col("s.span_end")),
        "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("clean_text"))
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-document duplicated-text budget from [[duplicatedSpans]]: the
    * fraction of each doc's tokens covered by corpus-duplicated spans —
    * the number Lee et al. threshold to pick which documents (or spans)
    * to cut. Docs with no duplicated span report 0; the token count is
    * the same `split(normalized, ' ')` contract the grams tokenize under.
    * The fraction ships as exact integer micro-units
    * (`dup_words * 1e6 DIV n_tokens` — pure BIGINT algebra, no IEEE
    * rounding anywhere), so every engine computes the identical value:
    * the r07 `round(x, 6)`-double version was the repo's own banned
    * pattern and is gone. Returns (id, n_tokens, dup_words,
    * dup_frac_micro). */
  def duplicatedSpanFrac(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k)
      .groupBy("id").agg(sum("span_words").as("dup_words"))
    df.select(col(idCol).as("id"),
        size(split(TextAnalysis.normalized(col(textCol)), " ", -1))
          .cast("long").as("n_tokens"))
      .join(spans, Seq("id"), "left_outer")
      .select(col("id"), col("n_tokens"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"))
      .withColumn("dup_frac_micro",
        expr("dup_words * 1000000 DIV n_tokens"))
  }

  /** Fixed-width PASSAGE fingerprints: the normalized token stream cut
    * into non-overlapping `k`-word blocks (only FULL blocks — a tail
    * shorter than `k` is not a passage), one row per (id, block index,
    * md5 fingerprint of the block text). This is the unit of
    * repeated-passage removal (MassiveText-style): unlike
    * [[wordShingles]]' overlapping n-grams (every token starts one),
    * each token belongs to exactly ONE passage, so the exploded stream
    * is corpus_tokens/k rows — k× cheaper than the shingle stream — and
    * "drop the passage" is well-defined without span reassembly.
    *
    * Map-only: split + one `transform(sequence)` per doc (block COUNT
    * is precomputed, so the lambda does one slice+join per block — no
    * per-position regex re-evaluation, the round-1 shingle lesson).
    * The md5-of-words fingerprint is the house engine-portable hash:
    * a DuckDB oracle recomputes it from the same slicing algebra. */
  def passageBlocks(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"passage width must be positive, got $k")
    // the empty-doc guard matters at k=1: split("") is [""], not [],
    // so without it every empty doc would emit one md5("") phantom
    // passage — and a k=1 census would report it as massively repeated
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        split(TextAnalysis.normalized(col(textCol)), " ", -1).as("__arr"))
      .withColumn("__nb", (size(col("__arr")) / k).cast("int"))
      .filter(col("__nb") > 0)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), col("__nb") - 1),
          i => md5(array_join(slice(col("__arr"), i * k + 1, lit(k)), " ")))))
      .select(col("id"), col("pos").as("blk_idx"), col("col").as("fp"))
  }

  /** Initialize a persisted PASSAGE-fingerprint store: the distinct
    * [[passageBlocks]] fps of the historical corpus — the incremental
    * form of repeated-passage detection (the minhash/URL store
    * discipline applied below the document: historical TEXT is never
    * re-read, only its passage fingerprints persist). */
  def passageStoreWrite(df: DataFrame, idCol: String, textCol: String,
                        k: Int, path: String): Unit =
    passageBlocks(df, idCol, textCol, k).select("fp").distinct()
      .write.mode("overwrite").parquet(path)

  /** Grow the store with a new batch's distinct passage fps. Appends
    * land in the LIVE generation of a compacted store
    * ([[Compaction.Manifest]]); duplicate fps across appends are
    * harmless (hit detection is a semi-join). */
  def passageStoreAppend(df: DataFrame, idCol: String, textCol: String,
                         k: Int, path: String): Unit =
    passageBlocks(df, idCol, textCol, k).select("fp").distinct()
      .write.mode("append").parquet(Compaction.Manifest.resolve(path))

  /** Bin-pack a passage store grown by [[passageStoreAppend]], clustered
    * by fp (row-group pruning + join locality); generation-pointer swap
    * per [[Compaction.Manifest]]. Maintenance op, no concurrent
    * appender. */
  def passageStoreCompact(spark: org.apache.spark.sql.SparkSession,
                          path: String, numFiles: Int = 1): Unit =
    Compaction.compactClustered(spark, path, Seq("fp"), numFiles)

  /** Per-new-document store-hit counts: how many of the batch doc's
    * passages already exist in the historical store — the cross-batch
    * boilerplate gate (threshold n_store_hits/n_blocks to quarantine
    * re-syndicated content before content-level dedup).
    *
    * One LEFT SEMI shuffle-hash join on fp; per-doc aggregation is
    * batch-sized. The batch's block stream feeds two consumers (the
    * store probe and the n_blocks denominator), so it is
    * localCheckpoint-materialized once — batch-sized, the cheap side.
    * HONESTY — frame alignment: fixed-width blocks hash
    * identically only when the token streams align on the k-word grid.
    * A one-word prefix shifts every subsequent block off-frame and
    * hits drop to ~zero (the dedup_passage_store_hits fixture plants
    * exactly this case); alignment-robust cross-batch detection is the
    * minhash store / winnowing / substring-span families' job — this
    * gate is the CHEAP exact-passage screen in front of them.
    * Returns (id, n_blocks, n_store_hits); docs with fewer than k
    * words have no passages and no row. */
  def passageStoreHits(newBatch: DataFrame, idCol: String, textCol: String,
                       k: Int, path: String): DataFrame = {
    val store = Compaction.readLive(newBatch.sparkSession, path)
    val blocks = passageBlocks(newBatch, idCol, textCol, k).localCheckpoint()
    val hits = blocks.join(store.hint("shuffle_hash"), Seq("fp"), "left_semi")
      .groupBy("id").agg(count(lit(1)).cast("long").as("n_store_hits"))
    blocks.groupBy("id").agg(count(lit(1)).cast("long").as("n_blocks"))
      .join(hits, Seq("id"), "left_outer")
      .select(col("id"), col("n_blocks"),
        coalesce(col("n_store_hits"), lit(0L)).as("n_store_hits"))
  }
}
