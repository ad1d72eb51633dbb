package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * Random `df.sample()` draws differ per run, per partitioning, and per
  * engine — useless when a sample must be reproducible across reruns or
  * cross-checked between systems. Consistent HASH sampling fixes that:
  * membership depends only on the row's id (first hex digit of md5), so
  * the same rows are selected on every run, every engine, and any
  * partitioning; it composes with incremental loads (new rows sample
  * independently); and it is a pure per-row codegen'd filter — no RNG
  * state, no shuffle, pushdown-friendly.
  */
object Sampling {

  /** Keep rows whose md5(id) first hex digit falls below `sixteenths`
    * (rate = sixteenths/16). Deterministic and engine-portable (md5 of
    * the decimal id string). */
  def hashSample(df: DataFrame, idCol: String, sixteenths: Int): DataFrame = {
    require(sixteenths >= 1 && sixteenths <= 16,
      s"sixteenths must be in [1,16], got $sixteenths")
    df.filter(hashBucket(col(idCol)) < sixteenths)
  }

  /** The 0-15 bucket of a row id: first md5 hex digit as an int. */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 1), 16, 10).cast("int")

  /** Per-stratum consistent sampling: rate sixteenths(stratum)/16 for
    * each value of `strataCol` (absent strata keep nothing) — the
    * training-mix primitive ("keep 100% of lang=en, 25% of the rest"
    * style re-weighting), still fully deterministic.
    *
    * The rate lookup is a BROADCAST JOIN against the tiny rate table,
    * not an inlined CASE: predicate pushdown substitutes the strata
    * expression into every CASE branch, and codegen subexpression
    * elimination skips conditional branches — with an expensive strata
    * column (e.g. langId's regex bank) the CASE form re-evaluated it
    * per branch per row (measured 5×). The join evaluates the strata
    * expression exactly once per row; the inner join drops absent
    * strata, preserving the keep-nothing contract. */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           sixteenths: Map[String, Int]): DataFrame = {
    require(sixteenths.values.forall(s => s >= 0 && s <= 16),
      "stratum rates must be in [0,16] sixteenths")
    val spark = df.sparkSession
    import spark.implicits._
    val rates = sixteenths.toSeq.toDF("__stratum", "__rate")
    df.join(broadcast(rates), col(strataCol) === col("__stratum"))
      .filter(hashBucket(col(idCol)) < col("__rate"))
      .drop("__stratum", "__rate")
  }

  /** TOKEN-quota mixture sampling — the data-mixing step stated the way
    * mixes actually are ("20k tokens of en, 5k of code"), not as row
    * rates: per stratum, rows are taken in a deterministic md5(id) order
    * until the stratum's token budget is exhausted. A row is kept iff
    * the tokens BEFORE it (exclusive running sum) are under the quota —
    * so the quota may be overshot by at most one document (the standard
    * greedy-fill rule; a pipeline that must not overshoot truncates the
    * boundary doc downstream). Strata without a quota keep nothing.
    *
    * Scale shape: ONE keyed window (partitionBy stratum, orderBy
    * md5(id)) — parallel across strata, never a global sort — plus the
    * broadcast quota join from [[stratifiedHashSample]]. Deterministic
    * and engine-portable: the order key is md5 of the decimal id (ties
    * broken by id), the same expression DuckDB computes. */
  def tokenQuotaSample(df: DataFrame, idCol: String, strataCol: String,
                       tokenCol: String,
                       quotas: Map[String, Long]): DataFrame = {
    require(quotas.values.forall(_ >= 0L), "token quotas must be >= 0")
    val reserved = Seq("__stratum", "__quota", "__before")
    require(reserved.forall(!df.columns.contains(_)),
      s"tokenQuotaSample: ${reserved.mkString("/")} are reserved")
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = quotas.toSeq.toDF("__stratum", "__quota")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(qdf), col(strataCol) === col("__stratum"))
      .withColumn("__before",
        coalesce(sum(col(tokenCol)).over(w).cast("long"), lit(0L)) -
          col(tokenCol))
      .filter(col("__before") < col("__quota"))
      .drop("__stratum", "__quota", "__before")
  }

  /** Per-group DOCUMENT caps — the "at most N pages per domain" rule
    * every crawl-derived corpus applies (a handful of giant hosts would
    * otherwise dominate the training mix; RefinedWeb/C4 cap or
    * down-weight them). Keeps the first `cap` rows of each `strataCol`
    * group in deterministic md5(id) order (ties by id), so WHICH rows
    * survive is reproducible across runs, engines, and partitionings —
    * and stable under incremental re-crawls (a group under its cap
    * admits new rows without evicting old ones unless the new md5 sorts
    * earlier).
    *
    * Scale shape: ONE keyed window (partitionBy group, orderBy md5) —
    * parallel across groups, never a global sort. A group with more
    * rows than one task can sort is exactly the pathological host the
    * cap exists to cut, and the window's per-group sort spills rather
    * than collects; at 100 TB the groups (domains) number in the
    * millions, so tasks stay balanced. */
  def sourceCapSample(df: DataFrame, idCol: String, strataCol: String,
                      cap: Int): DataFrame = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    require(!df.columns.contains("__rn"),
      "sourceCapSample: __rn is reserved")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Per-group TOKEN caps with one UNIFORM budget — [[tokenQuotaSample]]
    * without the per-stratum quota table: every group (domain, source,
    * shard) may contribute at most `cap` tokens, filled greedily in
    * deterministic md5(id) order with the boundary-document overshoot
    * rule (`before < cap` — a document is admitted iff the budget wasn't
    * already spent when it arrived). The shape behind per-DOMAIN token
    * budgets, where strata are discovered from the data (millions of
    * domains) and a broadcast quota map would itself be a liability.
    * Scale: one keyed window, parallel across groups, no join. */
  def tokenCapSample(df: DataFrame, idCol: String, strataCol: String,
                     tokenCol: String, cap: Long): DataFrame = {
    require(cap >= 0L, s"cap must be >= 0, got $cap")
    require(!df.columns.contains("__before"),
      "tokenCapSample: __before is reserved")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__before",
        coalesce(sum(col(tokenCol)).over(w).cast("long"), lit(0L)) -
          col(tokenCol))
      .filter(col("__before") < cap)
      .drop("__before")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score every raw document by how target-like its hashed-n-gram
    * profile is, so a small trusted target domain (marked by the boolean
    * `targetCol`) steers selection over the whole raw corpus. Per
    * bucket b of `buckets` md5-hashed word uni+bigram features, the
    * Laplace-smoothed log-ratio
    *
    *   score(b) = ln((ct_b+1)/(Tt+B)) − ln((cr_b+1)/(Tr+B))
    *
    * (ct/cr = target/raw occurrence counts, Tt/Tr their totals) and a
    * document's importance weight is the sum of its gram occurrences'
    * scores — the paper's log importance weight under hashed
    * multinomials.
    *
    * Engine-portable determinism: buckets come from md5 (the
    * [[hashSample]] contract) and each bucket score is QUANTIZED to
    * integer micro-nats before the per-doc sum, so the aggregate is an
    * integer sum — independent of Spark's partial-agg order and exactly
    * reproducible in the DuckDB oracle (a float sum would drift by
    * summation order).
    *
    * Scale shape: gram → bucket is map-only codegen ([[graft.functions
    * .WordGrams]] + md5); bucket stats are ONE shuffle collapsing to
    * `buckets` rows; scores join back as a BROADCAST (the model is B
    * integers — DSIR's entire point is that the "classifier" is tiny);
    * the per-doc sum is one keyed shuffle. The projected (id, tgt,
    * bucket) frame is materialized once (r14) so the stats pass and the
    * weighting pass read ONE tokenize+hash of the corpus instead of
    * re-running it per consumer; `statsSixteenths < 16` (r15) instead
    * TRAINS the bucket scores on a [[hashSample]] slice and weights the
    * full corpus in one un-materialized pass — the 100 TB mode (sampled
    * stats are estimates, so the exact full-stats path stays the
    * default). Returns (id, weight_micro). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetCol: String, buckets: Int = 256,
                  statsSixteenths: Int = 16): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(statsSixteenths >= 1 && statsSixteenths <= 16,
      s"statsSixteenths must be in [1,16], got $statsSixteenths")
    val reserved = Seq("__tgt", "__gram", "__b")
    require(reserved.forall(!df.columns.contains(_)),
      s"dsirWeights: ${reserved.mkString("/")} are reserved")
    def gramsOf(src: DataFrame) = src.select(col(idCol).as("id"),
        col(targetCol).cast("boolean").as("__tgt"),
        explode(concat(graft.functions.WordGrams(col(textCol), 1),
          graft.functions.WordGrams(col(textCol), 2))).as("__gram"))
      .select(col("id"), col("__tgt"),
        (conv(substring(md5(col("__gram")), 1, 8), 16, 10).cast("long")
          % buckets).as("__b"))
    // (__b, score_micro) for every bucket `stats` covers; `domain` widens
    // the table to all `buckets` buckets, a bucket without stats scored
    // as ct = cr = 0 — the model's smoothed unseen-bucket score
    def scoresOf(grams: DataFrame, domain: Boolean = false) = {
      val stats = grams.groupBy("__b").agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      val totals = stats.agg(coalesce(sum("ct"), lit(0L)).as("tt"),
        coalesce(sum("cr"), lit(0L)).as("tr"))
      val covered =
        if (!domain) stats
        else df.sparkSession.range(buckets).select(col("id").as("__b"))
          .join(broadcast(stats), Seq("__b"), "left_outer")
          .select(col("__b"), coalesce(col("ct"), lit(0L)).as("ct"),
            coalesce(col("cr"), lit(0L)).as("cr"))
      covered.crossJoin(broadcast(totals))
        .select(col("__b"),
          round((log(col("ct") + 1) - log(col("tt") + buckets)
               - log(col("cr") + 1) + log(col("tr") + buckets)) * 1e6)
            .cast("long").as("score_micro"))
    }
    // THE 100 TB MODE (statsSixteenths < 16): bucket stats are TRAINED on
    // a deterministic [[hashSample]] slice (uni/bigram bucket frequencies
    // are corpus statistics — a consistent sample estimates them at 1/16th
    // the tokenize cost) and the full corpus is weighted in ONE pass
    // against the broadcast sampled model: 2 corpus passes → 1 + a sample
    // pass, with NO gram-frame materialization anywhere. The sampled
    // stats are an ESTIMATE — weights differ from the full-stats default
    // (which is why the default stays 16 = exact), but the DSIR paper's
    // contract (hashed-multinomial importance weights) is already
    // statistical, so production at corpus scale should prefer this mode.
    // A bucket the sample never saw still scores (the smoothed ct = cr = 0
    // score against the sampled totals), so no gram and no doc drops out.
    if (statsSixteenths < 16) {
      val scores = scoresOf(gramsOf(hashSample(df, idCol, statsSixteenths)), domain = true)
      return gramsOf(df).join(broadcast(scores), "__b")
        .groupBy("id").agg(sum("score_micro").as("weight_micro"))
    }
    // r14: the bucketed gram frame is MATERIALIZED once (the persistence
    // this scaladoc always prescribed at corpus scale) — both consumers
    // (bucket stats, per-doc weighting) previously re-ran the scan +
    // gram explode + per-gram md5 from the source, i.e. the whole
    // corpus was tokenized and hashed twice per invocation. The frame is
    // narrow (id, bool, bucket long) but GRAM-OCCURRENCE-sized (~2 rows
    // per corpus token): at bench scale re-deriving it costs strictly
    // more than holding it, but at 100 TB the trade is storage pressure
    // vs a second tokenize pass, and localCheckpoint is NON-RELIABLE
    // (executor loss recomputes the full lineage). The production-scale
    // path is reliable `checkpoint()` (or parquet spill) for this frame
    // — or the sampled-stats mode below, which never materializes the
    // raw-corpus gram stream at all.
    val grams = gramsOf(df).localCheckpoint()
    grams.join(broadcast(scoresOf(grams)), "__b")
      .groupBy("id").agg(sum("score_micro").as("weight_micro"))
  }

  /** The selection step over [[dsirWeights]]: the `topN` most
    * target-like raw documents, deterministically tie-broken by id —
    * a TakeOrderedAndProject (per-partition top-N + single merge),
    * never a global sort. Returns (id, weight_micro). */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 targetCol: String, topN: Int,
                 buckets: Int = 256): DataFrame =
    dsirWeights(df, idCol, textCol, targetCol, buckets)
      .orderBy(col("weight_micro").desc, col("id").asc)
      .limit(topN)

  /** CCNet-style head/middle/tail bucketing: per `keyCol` stratum
    * (language), split rows into score terciles — "head" is the
    * BEST-scoring third (CCNet buckets by LM perplexity; here higher
    * `scoreCol` = better, the [[TextAnalysis.lmScore]] convention).
    *
    * NOT a per-stratum `ntile` over the corpus: that is one task per
    * language at 100 TB. The cut is computed on the (key, score)
    * HISTOGRAM instead — one corpus-sized keyed aggregation, then the
    * tercile rule runs over histogram rows and joins back as a bucket
    * lookup on (key, score). The histogram is bounded by the integer
    * micro-score RANGE (for lm_micro_avg, ≈2·10⁷ possible values), NOT
    * by corpus size — the per-key tercile window costs the same at
    * 100 TB as at 100 GB; coarse-bin pre-aggregation (window over
    * score DIV 2^k bins, exact refinement only inside the two boundary
    * bins) is the further 1000× cut if a score family with a wider
    * range ever rides this. Ties are VALUE-sliced, not
    * rank-sliced: every row with the same score lands in the same
    * bucket (the default RANGE window frame gives the whole tie group
    * one cumulative count — identical in Spark and DuckDB, so the rule
    * is engine-portable): bucket = head while cum·3 ≤ n, middle while
    * cum·3 ≤ 2n, else tail, where cum counts rows scoring ≥ this row's
    * score. NULL contract: a row with a NULL key or score has no
    * defined tercile and is DROPPED — explicitly, up front (the
    * equi-join back would silently drop it anyway, since null never
    * equals null; make the semantics a statement, not an accident).
    * Score unscored rows separately or coalesce before calling.
    * Returns the input columns plus `bucket`. */
  def ccnetBuckets(df: DataFrame, keyCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__c", "__cum", "__n", "bucket")
    require(reserved.forall(!df.columns.contains(_)),
      s"ccnetBuckets: ${reserved.mkString("/")} are reserved")
    val in = df.filter(col(keyCol).isNotNull && col(scoreCol).isNotNull)
    val hist = in.groupBy(col(keyCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val byScoreDesc = Window.partitionBy(keyCol).orderBy(col(scoreCol).desc)
    val whole = Window.partitionBy(keyCol)
    val buckets = hist
      .withColumn("__cum", sum("__c").over(byScoreDesc))
      .withColumn("__n", sum("__c").over(whole))
      .select(col(keyCol), col(scoreCol),
        when(col("__cum") * 3 <= col("__n"), "head")
          .when(col("__cum") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail").as("bucket"))
    in.join(buckets, Seq(keyCol, scoreCol))
  }
}
