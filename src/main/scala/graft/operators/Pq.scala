package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product-quantization ANN — the memory-compression scale path that
  * complements the bucketing paths (LSH in [[Similarity]], IVF in
  * [[Ivf]]): at 100 TB an embedding column of 64 fp32 values is 256 bytes
  * per row; its PQ code is `m` bytes (+8 for the stored norm) — a 16×
  * smaller scan whose scoring never touches the original vectors.
  *
  *   - Train: split the vector into `m` subspaces; per subspace, k-means
  *     a 2^codeBits-entry codebook over a bounded seed-deterministic
  *     sample (driver-side math, same collect budget as IVF centroids).
  *   - Encode: per row, `m` nearest-codeword ids — each one a
  *     [[graft.functions.NearestCell]] over the subvector slice, all
  *     inside whole-stage codegen. Persist with [[encodedTable]].
  *   - Query (ADC — asymmetric distance computation): precompute per
  *     subspace the 2^codeBits dot products between the query subvector
  *     and the codewords (a lookup table LITERAL in the plan); the
  *     approximate dot of a row is `m` array lookups summed — no vector
  *     arithmetic in the scan at all. Approximate cosine divides by the
  *     stored exact row norm.
  *   - Rerank: take a `shortlist` of top rows by approximate cosine
  *     (TakeOrderedAndProject, shuffle-free), then score the shortlist
  *     EXACTLY and return the true top k of it. With an adequate
  *     shortlist the result is IDENTICAL to brute force — which is what
  *     lets the emb_pq_topk CORRECTNESS entry hash-match the exact
  *     oracle while the candidate scan ran on codes.
  *
  * Operating points (tools/PqTune, 7-query panel of real corpus vectors
  * + the ones query, top-20, embeddings fixture at sf0.001 AND sf0.01):
  * random isotropic 64-dim data is PQ's adversarial case, and coarse
  * codebooks under-recall — (m=8, codeBits=4): shortlist-100 recall
  * 0.84. Finer quantization closes it: (m=16, codeBits=8) reaches
  * recall 1.000 at shortlist=50 on both SFs; the shipped entry uses
  * (16, 8, shortlist=100) — double the measured-exact shortlist — and
  * PqSpec pins the margin.
  *
  * Everything is seed-deterministic: sample order, codebooks, tie-breaks
  * (NearestCell first-index-wins; rank ties break on id).
  */
object Pq {

  /** Per-subspace codebooks: result(m)(j) is codeword j of subspace m.
    * Trained driver-side with plain-L2 Lloyd over a bounded hash-ordered
    * sample — L2 is the right metric here (ADC sums subspace dots; the
    * codeword must minimize the subvector's quantization error, not its
    * direction), unlike the SPHERICAL refinement in [[Ivf]] where whole
    * vectors are ranked by cosine. Empty clusters keep their previous
    * codeword. */
  def codebooks(df: DataFrame, idCol: String, vecCol: String,
                m: Int = 8, codeBits: Int = 4, seed: Long = 42L,
                iters: Int = 5, maxSample: Int = 2048): Array[Array[Array[Double]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(codeBits >= 1 && codeBits <= 8, s"codeBits must be in [1,8], got $codeBits")
    val k = 1 << codeBits
    val sample = df.select(col(vecCol).cast("array<double>"))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(maxSample)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ codebooks: input has no rows")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { mi =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // init: first k distinct subvectors in sample (hash) order; duplicate
      // tail-fill if the subspace has fewer distinct points than codewords
      val distinct = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      for (v <- subs if distinct.length < k; key = v.toSeq if !seen(key)) {
        seen += key; distinct += v
      }
      var cents = Array.tabulate(k)(j => distinct(j % distinct.length).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Long](k)
        for (v <- subs) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            val cent = cents(c)
            while (i < sub) { val t = v(i) - cent(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0L) old else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  /** PQ code column: array<int> of `m` codeword ids, computed by the ONE
    * fused [[graft.functions.PqEncodeExpr]] kernel — codegen'd, no UDF,
    * no per-row subvector slicing. (The composed per-subspace
    * NearestCell-over-slice form carried m big case-class expressions
    * whose deep structural equality Catalyst re-walks all through
    * optimization — ~2 s of driver-side plan work per query at m=16,
    * measured at sf0.01; PERF.md.) */
  def encode(vecCol: Column, cbs: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncodeExpr(vecCol, cbs)

  /** The materialized compressed index: input columns + `pq_code`
    * (array<int>, `m` bytes of information per row) + `vec_norm` — what a
    * persistent deployment stores so ANN scans never read the fp32
    * vectors. Persist the codebooks BESIDE it with
    * [[AnnModels.saveCodebooks]]: the codes are unreadable without the
    * model that wrote them. */
  def encodedTable(df: DataFrame, idCol: String, vecCol: String,
                   m: Int = 8, codeBits: Int = 4, seed: Long = 42L): DataFrame = {
    val cbs = codebooks(df, idCol, vecCol, m, codeBits, seed)
    encodedTable(df, vecCol, cbs)
  }

  /** [[encodedTable]] with PRECOMPUTED codebooks — encode without a
    * training collect, so one trained model amortizes across many
    * tables/partitions (train once, encode everywhere). */
  def encodedTable(df: DataFrame, vecCol: String,
                   cbs: Array[Array[Array[Double]]]): DataFrame =
    df.withColumn("pq_code", encode(col(vecCol), cbs))
      .withColumn("vec_norm", l2Norm(col(vecCol)))

  /** Approximate cosine via ADC over an encoded row: Σ_m LUT_m[code_m]
    * divided by the stored row norm and the query norm. The whole lookup
    * sum is ONE fused [[graft.functions.PqAdcExpr]] kernel against a
    * reference LUT matrix — the per-row work is `m` array indexings and
    * one divide, and the plan carries one small expression instead of m
    * 2^codeBits-element literals. */
  private[operators] def adcCosine(codeCol: Column, normCol: Column,
                                   cbs: Array[Array[Array[Double]]],
                                   query: Array[Double]): Column = {
    val m = cbs.length
    val sub = cbs.head.head.length
    require(query.length == m * sub,
      s"query dim ${query.length} != codebook dim ${m * sub}")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val luts: Array[Array[Double]] = Array.tabulate(m) { mi =>
      cbs(mi).map { cw =>
        var d = 0.0; var i = 0
        while (i < sub) { d += cw(i) * query(mi * sub + i); i += 1 }
        d
      }
    }
    val approxDot = graft.functions.PqAdcExpr(codeCol, luts)
    when(normCol === 0.0, lit(null).cast("double"))
      .otherwise(approxDot / (normCol * lit(qNorm)))
  }

  /** PQ top-k with exact rerank: ADC-score every row from its code (the
    * compressed scan), shortlist the best `shortlist` by approximate
    * cosine, then rank the shortlist by EXACT cosine and keep k.
    * Output: (id, score), highest first — identical to brute force
    * whenever the shortlist covers the true top k. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Double], k: Int,
             m: Int = 8, codeBits: Int = 4, shortlist: Int = 100,
             seed: Long = 42L, iters: Int = 5, maxSample: Int = 2048): DataFrame = {
    val cbs = codebooks(df, idCol, vecCol, m, codeBits, seed, iters, maxSample)
    pqTopK(df, idCol, vecCol, query, k, cbs, shortlist)
  }

  /** [[pqTopK]] with PRECOMPUTED codebooks — the amortized query form:
    * train once (or load a persisted model), then per query the cost is
    * one LUT build plus the scan; no training collect. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Double], k: Int,
             cbs: Array[Array[Array[Double]]], shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(!df.columns.contains("__approx"), "pqTopK: `__approx` is reserved")
    val short = df
      .withColumn("__approx",
        adcCosine(encode(col(vecCol), cbs), l2Norm(col(vecCol)), cbs, query))
      .orderBy(desc("__approx"), col(idCol))
      .limit(shortlist)
    short
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** PQ top-k against a MATERIALIZED [[encodedTable]] — the deployment
    * query path, and the form whose EXECUTED plan proves the 16×-smaller
    * scan: the candidate stage reads `codeCol`+`normCol`+`idCol` only
    * (the encoded table need not even carry the fp32 column), and the
    * exact rerank fetches just the shortlist rows from `vectors` with the
    * ids PUSHED INTO the parquet scan (`PushedFilters: In(id, ...)`), so
    * at 100 TB the rerank reads a few row groups, not the corpus. The
    * shortlist-id collect is bounded by `shortlist` (same driver budget
    * class as codebook training).
    *
    * `encoded` must carry `idCol`, `codeCol` (array<int> from [[encode]]
    * with these `cbs`) and `normCol` (the exact L2 norm). Output:
    * (id, score) highest first — identical to brute force whenever the
    * shortlist covers the true top k. */
  def pqTopKFromEncoded(encoded: DataFrame, vectors: DataFrame,
                        idCol: String, vecCol: String,
                        cbs: Array[Array[Array[Double]]],
                        query: Array[Double], k: Int, shortlist: Int = 100,
                        codeCol: String = "pq_code",
                        normCol: String = "vec_norm"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(shortlist <= 65536,
      s"shortlist ($shortlist) is driver-collected for the id-pushdown rerank; cap it")
    require(!encoded.columns.contains("__approx"),
      "pqTopKFromEncoded: `__approx` is reserved")
    val shortIds = encoded
      .withColumn("__approx", adcCosine(col(codeCol), col(normCol), cbs, query))
      .orderBy(desc("__approx"), col(idCol))
      .limit(shortlist)
      .select(col(idCol))
      .collect().map(_.get(0))
    vectors
      .filter(col(idCol).isInCollection(shortIds))
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** IVF + PQ — the standard large-scale ANN composition (a FAISS
    * IVFADC-with-rerank shape, flat codes rather than residual codes):
    * coarse cells prune the candidate set to the `nProbe` closest cells
    * (at corpus scale the index table is partitioned by `cell`, so this
    * prunes STORAGE — see [[Ivf.indexTable]]), ADC scores the survivors
    * from their `m`-byte codes, and a shortlist is reranked exactly. The
    * two pruning axes compose multiplicatively: a 16-cell/4-probe,
    * m=16-byte configuration scans ~1/4 of the files at ~1/16 of the
    * bytes-per-row of the fp32 column.
    *
    * Recall is the product of cell-probe recall (tune nProbe — see
    * [[Ivf]]) and shortlist coverage (tune shortlist — see [[pqTopK]]);
    * nProbe = nCells degenerates to [[pqTopK]]. The emb_ivfpq_topk entry
    * ships a measured recall-1 operating point on the fixtures (pinned in
    * PqSpec), so it hash-checks against the exact oracle. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Double], k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, codeBits: Int = 4, shortlist: Int = 100,
                seed: Long = 42L, refineIters: Int = 3,
                iters: Int = 5, maxSample: Int = 2048): DataFrame = {
    val cents = Ivf.centroidsRefined(df, idCol, vecCol, nCells, seed, refineIters)
    val cbs = codebooks(df, idCol, vecCol, m, codeBits, seed, iters, maxSample)
    ivfPqTopK(df, idCol, vecCol, query, k, cents, cbs, nProbe, shortlist)
  }

  /** [[ivfPqTopK]] with PRECOMPUTED coarse centroids and codebooks — the
    * amortized query form: both models train once (two collects total,
    * ever), each query is cell-probe + ADC scan + rerank only. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Double], k: Int,
                cents: Array[Array[Double]],
                cbs: Array[Array[Array[Double]]],
                nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(nProbe >= 1 && nProbe <= cents.length,
      s"need 1 <= nProbe ($nProbe) <= nCells (${cents.length})")
    val probes = Ivf.probeCells(cents, query, nProbe)
    require(!df.columns.contains("__cell") && !df.columns.contains("__approx"),
      "ivfPqTopK: `__cell`/`__approx` are reserved")
    val short = df
      .withColumn("__cell", Ivf.assignCell(col(vecCol), cents))
      .filter(col("__cell").isin(probes: _*))
      .withColumn("__approx",
        adcCosine(encode(col(vecCol), cbs), l2Norm(col(vecCol)), cbs, query))
      .orderBy(desc("__approx"), col(idCol))
      .limit(shortlist)
    short
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
