package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over a `text`
  * column. Everything is built from codegen'd Catalyst built-ins
  * (regexp/split/md5) — per-row, shuffle-free, safe at any scale. The
  * formulas are deliberately SQL-expressible so each has a DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace token count (the "wc -w" definition). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: alphanumeric runs plus single non-space
    * symbols, like a byte-pair pre-tokenizer's first pass. The pattern is
    * lookaround-free so the DuckDB (RE2) oracle computes it identically. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Normalized text: lowercase, collapsed whitespace — the canonical form
    * used for fingerprints and exact dedup. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Stable 128-bit document fingerprint (md5 of normalized text). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  private val punctPattern = "[.,;:!?'\"()\\[\\]{}<>-]"

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, punctPattern, "")))
          .cast("double") / length(text))

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Tiny by design: the heuristic's job is a deterministic,
    * cheap signal, not NLP fidelity. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "for", "on", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "para", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "für", "mit", "von")
  )

  /** `regexp_count(lower(text), "\b(w|…)\b")`, as the native one-pass
    * [[graft.functions.StopwordHits]] kernel — identical count semantics
    * (the DuckDB oracles keep the regex formulation), ~5× cheaper than
    * the regex machinery per list (NativeParitySpec fuzzes the parity). */
  private def stopwordHits(text: Column, words: Seq[String]): Column =
    graft.functions.StopwordHits(text, words)

  /** Language-ID: argmax of per-language stopword hits; ties and all-zero
    * scores resolve to first-listed language order / "und". Deterministic
    * and SQL-expressible (the oracle mirrors the same CASE chain); native
    * [[graft.functions.LangIdExpr]] — the 4-regex bank was the dominant
    * cost of every langId-bearing query. */
  def langId(text: Column): Column =
    graft.functions.LangIdExpr(text, stopwords)

  /** Heuristic quality score in [0,1]:
    * 0.25·len_ok + 0.25·word_len_ok + 0.3·stopword_signal + 0.2·punct_ok.
    * Mirrors the usual C4/Gopher-style length/punct/stopword filters.
    *
    * Computed in integer basis points (floor of the one fractional term,
    * then /10000.0) instead of `round()`: double `round()` half-way
    * behavior differs between engines on values like 0.86875, while
    * floor over exact small-integer doubles is deterministic everywhere —
    * keeping the DuckDB oracle bit-identical.
    */
  def qualityScore(text: Column): Column = {
    val chars = length(text).cast("double")
    val words = tokenCount(text).cast("double")
    val avgWordLen = when(words === 0, lit(0.0)).otherwise(chars / words)
    val lenOk = when(chars >= 50 && chars <= 10000, lit(2500)).otherwise(lit(0))
    val wordLenOk = when(avgWordLen >= 3 && avgWordLen <= 12, lit(2500)).otherwise(lit(0))
    val stopBp = least(
      floor(stopwordHits(text, stopwords.head._2).cast("double") * 15000.0 /
        greatest(words, lit(1.0))),
      lit(3000L))
    val punctOk = when(punctRatio(text) <= 0.2, lit(2000)).otherwise(lit(0))
    (lenOk + wordLenOk + stopBp + punctOk).cast("double") / 10000.0
  }

  /** Top word-n-gram fraction (Gopher/C4 repetition signal): the share of
    * all n-grams taken by the most frequent one. One-pass native kernel
    * ([[graft.functions.TopGramFrac]]) — the composed explode/groupBy form
    * would shuffle corpus-sized gram rows twice for a per-doc number. */
  def topGramFrac(text: Column, n: Int): Column =
    graft.functions.TopGramFrac(text, n)

  /** Email pattern for PII scrubbing. Lookaround-free so the DuckDB (RE2)
    * oracle matches identically. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-like pattern: leading optional +, 7+ chars of digits/separators,
    * ending in a digit. Greedy char-class quantifier — same result under
    * java.util.regex and RE2 (no backtracking-order divergence). */
  val phonePattern = "\\+?[0-9][0-9() -]{5,}[0-9]"

  /** PII scrub: redact emails then phone-like numbers. Per-row codegen'd
    * regexp_replace — shuffle-free at any scale. Emails first: a phone
    * match can not span a redacted `<EMAIL>` token, but digits inside an
    * un-redacted email local part could otherwise be eaten as a "phone". */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
      lit(phonePattern), lit("<PHONE>"))

  /** Counts of redacted entities (for scrub audit metrics). */
  def emailCount(text: Column): Column = regexp_count(text, lit(emailPattern))
  def phoneCount(text: Column): Column =
    regexp_count(regexp_replace(text, lit(emailPattern), lit("<EMAIL>")),
      lit(phonePattern))

  /** Full per-document profile, one pass. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      subwordCount(t).as("n_subwords"),
      fingerprint(t).as("fingerprint"),
      langId(t).as("lang_pred"),
      qualityScore(t).as("quality"),
      topGramFrac(t, 2).as("top_bigram_frac"))
  }

  /** ENGINE-PORTABLE HyperLogLog sketch of distinct normalized texts:
    * 256 registers keyed by the md5 fingerprint's first byte, register
    * value = max over rows of (1 + leading zero BITS of the remaining
    * fingerprint) — the STANDARD HLL geometric rank (P(rank ≥ k) =
    * 2^−(k−1), keeping the classical ±1.04/√m ≈ 6.5% estimator error;
    * a hex-granular rank would quantize 4 bits away and triple the
    * variance), computed from pure md5 STRING algebra (zero hex digits
    * ×4 plus a CASE on the first nonzero digit) so DuckDB computes the
    * identical 256-row integer table — engine-native
    * `approx_count_distinct` sketches can never hash-match. Map-side
    * partial MAX caps the shuffle at 256 rows per task at any corpus
    * size; sketches of disjoint shards MERGE by element-wise max
    * (spec-pinned) — cross-shard cardinality for free. Returns
    * (bucket, max_rank); [[hllEstimate]] turns a sketch into a count. */
  def hllSketch(df: DataFrame, textCol: String): DataFrame = {
    val rest = substring(col("__h"), 3, 30)
    val zeroHex = length(regexp_extract(rest, "^0*", 0))
    val firstNz = substring(regexp_replace(rest, "^0*", ""), 1, 1)
    val extraBits = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    df.select(md5(normalized(col(textCol))).as("__h"))
      .select(
        conv(substring(col("__h"), 1, 2), 16, 10).cast("int").as("bucket"),
        (zeroHex * 4 + extraBits + 1).as("max_rank"))
      .groupBy("bucket").agg(max("max_rank").as("max_rank"))
  }

  /** The cardinality estimate over a [[hllSketch]] (or any element-wise
    * max MERGE of shard sketches): the classical HLL estimator
    * α·m²/Σ2^−M with Flajolet's small-range LINEAR COUNTING correction
    * (while empty registers remain and the raw estimate is small,
    * m·ln(m/V) is the better estimate). Collects the ≤256-register
    * table — the sketch IS the bounded summary; this is an accessor,
    * not a data-sized action. */
  def hllEstimate(sketch: DataFrame): Long = {
    val m = 256
    val regs = sketch.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val zeros = m - regs.size
    val z = regs.values.map(v => math.pow(2.0, -v)).sum + zeros.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / z
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  /** Count-Min Sketch of the corpus TOKEN frequency distribution — the
    * heavy-hitter summary a mixture designer reads before choosing
    * stop-lists, dedup shingle caps, or vocabulary cuts. One pass, one
    * [[graft.functions.CmsAgg]] aggregate (map-side partial merge; the
    * shuffle carries ≤ one depth×width sketch per task); CMS is chosen
    * over Misra-Gries/SpaceSaving precisely because pure counting is
    * partitioning-independent — the same sketch on any cluster layout.
    * Returns one row: (sketch array<long>, n_tokens). Probe with
    * [[graft.functions.SketchAggregates.cmsEstimate]]. */
  def cmsSketch(df: DataFrame, textCol: String,
                depth: Int = 4, width: Int = 256): DataFrame = {
    val toks = df.select(explode(split(normalized(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.agg(
      graft.functions.SketchAggregates.cms(col("tok"), depth, width).as("sketch"),
      count(lit(1)).as("n_tokens"))
  }

  /** ENGINE-PORTABLE Count-Min Sketch (the [[hllSketch]] pattern applied
    * to frequency): row r's bucket for token w is
    * `md5("r:w")`'s first 8 hex digits mod `width` — pure md5 string
    * algebra both engines compute identically, so DuckDB recomputes the
    * whole depth×width counter table and hash-matches it (production
    * keeps the seeded-XXH64 [[cmsSketch]]). Returns the OBSERVED
    * (r, bucket, cnt) rows — zero counters carry no information and
    * omitting them keeps the output ≤ depth×width rows. */
  def portableCmsSketch(df: DataFrame, textCol: String,
                        depth: Int = 4, width: Int = 64): DataFrame =
    cmsBuckets(tokens(df, textCol), depth, width)
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))

  private def tokens(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(normalized(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** md5 bucket of `tok` for each sketch row 0..depth−1, via posexplode —
    * one Generate node, no join, stays inside whole-stage codegen. */
  private def cmsBuckets(toks: DataFrame, depth: Int, width: Int): DataFrame =
    toks.select(col("*"), posexplode(array((0 until depth).map(r =>
        (conv(substring(md5(concat(lit(s"$r:"), col("tok"))), 1, 8),
          16, 10).cast("long") % width)): _*)))
      .withColumnRenamed("pos", "r").withColumnRenamed("col", "bucket")

  /** Portable CMS point-estimates vs ground truth, over a DETERMINISTIC
    * probe subset (tokens whose md5 starts with `probePrefix` — the same
    * hash-sample idiom the ANN training uses). For each probe:
    * `est` = min over sketch rows of its counter (the CMS estimate),
    * `exact` = its true count, `overcount` = est − exact (≥ 0 ALWAYS —
    * the CMS one-sided error guarantee, which the oracle re-proves
    * row by row). */
  def portableCmsEstimates(df: DataFrame, textCol: String,
                           depth: Int = 4, width: Int = 64,
                           probePrefix: String = "0"): DataFrame = {
    val sketch = portableCmsSketch(df, textCol, depth, width)
    val exact = tokens(df, textCol)
      .groupBy("tok").agg(count(lit(1)).as("exact"))
      .filter(substring(md5(col("tok")), 1, probePrefix.length) === probePrefix)
    val probes = cmsBuckets(exact, depth, width)
    // probes (a ≤1/16 vocabulary hash-sample × depth) join the ≤
    // depth×width sketch — the sketch side is broadcast by construction
    probes.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("tok", "exact").agg(min("cnt").as("est"))
      .select(col("tok"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overcount"))
  }

  /** TF-IDF top-k characteristic terms per document — the classic
    * per-document keyword summary (Spärck Jones 1972 idf). Integer-exact
    * cross-engine: idf is rounded ONCE to micro units
    * (`round(ln(N/df)·10⁶)`), then score = tf × idf_micro is pure BIGINT
    * algebra — no accumulated float drift for the oracle to disagree
    * with. Two shuffles (doc-term tf, term df) + one broadcast of the
    * vocabulary-sized df table; ties broken by term text so top-k is
    * deterministic. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    // k rides the bounded TopKStrAgg buffer (r14): panels wider than 64
    // terms/doc would need the window formulation back — fail loudly
    // with the operator's own vocabulary instead of TopKStrAgg's
    require(k >= 1 && k <= 64,
      s"tfIdfTopTerms: k must be in [1,64] (bounded top-k buffer), got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalized(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("tok"),
        round(log(col("n").cast("double") / col("df")) * 1e6)
          .cast("long").as("idf_micro"))
    val scored = tf.join(broadcast(idf), "tok")
      .select(col("id"), col("tok"), (col("tf") * col("idf_micro")).as("score_micro"))
    // r14 (guide §2.3): the per-doc top-k terms come from a bounded
    // string-keyed TopKStrAgg, not a rank window — the window formulation
    // partition-locally SORTED the whole (doc, term, score) stream
    // (corpus-token-sized) before WindowGroupLimit kept k per doc; the
    // aggregate scans it once with a k-slot buffer under the identical
    // (score DESC, term ASC) order. posexplode reconstructs rk = pos + 1.
    scored.groupBy("id")
      .agg(graft.functions.TopKAggregates.topkStr(
        col("score_micro"), col("tok"), k).as("__top"))
      .select(col("id"), posexplode(col("__top")))
      .select(col("id").as(idCol), col("col.key").as("term"),
        col("col.score").as("score_micro"), (col("pos") + 1).as("rk"))
  }

  /** BM25 ranking of the corpus against a fixed query-term set
    * (Robertson-Walker Okapi BM25, k1/b defaults from the literature).
    * Scores only documents containing ≥1 query term (the inverted-index
    * access path: tokens are FILTERED to the broadcast term list before
    * the tf aggregation, so the shuffle carries query-term postings, not
    * the corpus). avgdl is an exact integer sum over an exact count —
    * one deterministic double division; the final score rounds to micro
    * units once. */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topN: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "bm25Rank: empty query-term set")
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalized(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    // r14 (guide §2.4): document length is the MAP-ONLY tokenCount kernel,
    // not a second corpus explode + per-id aggregation. r15: the count is
    // taken over normalized(text) — the SAME string the token explode
    // splits — because tokenCount(text) diverges on edge whitespace
    // (SQL trim() strips only ASCII spaces and split's limit=-1 keeps a
    // trailing empty token, so 'a b\n' counted 3 and a tabs-only doc
    // counted 2 > 0). Over the normalized form the equivalence is total:
    // whitespace is collapsed to single spaces, trim removes the only
    // possible edge spaces, and `dl > 0` reproduces the explode's
    // exclusion of empty/whitespace-only (and null-text) docs exactly,
    // so n/sum_dl and every join row match the explode-based lengths on
    // ANY input (hash-verified on the fixture).
    val dl = df.select(col(idCol).as("id"),
        tokenCount(normalized(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sum_dl"))
    val post = toks.filter(col("tok").isin(terms: _*))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy("tok").agg(count(lit(1)).as("df"))
    // idf((N−df+0.5)/(df+0.5)+1) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl));
    // constants fold left so the oracle mirrors the exact fp evaluation order
    val avgdl = col("sum_dl").cast("double") / col("n")
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + (col("dl") * b / avgdl + (1.0 - b)) * k1
    val contrib = post
      .join(broadcast(dfreq), "tok")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("id"),
        // each term's contribution rounds to micro units BEFORE the sum —
        // the per-doc aggregate is then pure BIGINT addition, order- and
        // partitioning-independent (the text_lm_score pattern)
        round(idf * (col("tf") * (k1 + 1.0)) / denom * 1e6)
          .cast("long").as("s_micro"))
    val scored = contrib.groupBy("id")
      .agg(sum("s_micro").cast("long").as("score_micro"))
    // top-N first (TakeOrderedAndProject — per-partition top-k, no
    // global sort), THEN rank: the single-partition window sees <= topN
    // rows, never the full scored set
    val top = scored.orderBy(col("score_micro").desc, col("id").asc).limit(topN)
    val w = Window.partitionBy(lit(0))
      .orderBy(col("score_micro").desc, col("id").asc)
    top.withColumn("rk", row_number().over(w))
      .select(col("id").as(idCol), col("score_micro"), col("rk"))
  }

  /** N-gram language-model quality scoring — the CCNet/LLaMA filter
    * shape (train a small LM on a trusted target domain, score the raw
    * corpus by per-token log-probability, cut the worst tail). The model
    * is a BIGRAM LM with STUPID BACKOFF (Brants et al. 2007 — the
    * backoff used at web scale precisely because it needs no discounting
    * state):
    *
    *   S(w2 | w1) = c(w1 w2)/c(w1)            if the bigram was seen
    *              = 0.4 · (c(w2)+1)/(T+V)     otherwise (add-1 unigram)
    *
    * over target-corpus counts (rows where `targetCol` is true; T =
    * target tokens, V = target vocab). A doc's score is its bigrams'
    * mean log-probability — higher = more target-like; threshold the
    * low tail to cut gibberish the way CCNet buckets perplexity.
    *
    * Engine-portable determinism (the [[Sampling.dsirWeights]] trick):
    * each MODEL row's log-probability quantizes to integer micro-nats,
    * so every per-doc aggregate is an integer sum + one IEEE division —
    * summation-order-independent and recomputed exactly by the DuckDB
    * oracle. The mean is floored to micro-nats (`lm_micro_avg`) rather
    * than decimal-rounded: floor of an IEEE quotient is unambiguous
    * across engines where round-half behavior at the last printed digit
    * is not.
    *
    * Scale shape: the MODEL (per-bigram scores + per-word backoff
    * scores) is target-vocab-bounded — built with two count shuffles,
    * ln applied on model-sized tables, never per doc-position; the raw
    * corpus's bigrams then LEFT-join the two score tables (shuffle-hash;
    * AQE broadcasts when the model is small, the common case) and one
    * keyed shuffle aggregates per doc. Returns (id, n_bigrams,
    * lm_micro_sum, lm_micro_avg); docs with fewer than 2 tokens have no
    * bigrams and are absent.
    *
    * [[lmTrain]] is the TRAIN half: the three model tables
    * ([[lmScoreWith]] consumes them; [[lmScore]] composes the two).
    * Split out so the model can PERSIST and score many corpora/panels
    * without re-aggregating the target slice — the
    * tokenizer-is-a-model discipline (CCNet ships a trained LM; so do
    * we). Returns (bigramScore(__b, s_b), backoff(__w2, s_w),
    * dflt(s_d)) — all model-sized. */
  def lmTrain(df: DataFrame, textCol: String,
              targetCol: String): (DataFrame, DataFrame, DataFrame) = {
    val toks = df.select(
      col(targetCol).cast("boolean").as("__tgt"),
      graft.functions.WordGrams(col(textCol), 1).as("us"),
      graft.functions.WordGrams(col(textCol), 2).as("bs"))
    val cu = toks.filter(col("__tgt")).select(explode(col("us")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tot = cu.agg(sum("cu").as("t"), count(lit(1)).as("v"))
    val cb = toks.filter(col("__tgt")).select(explode(col("bs")).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("cb"))
    // ln on MODEL-sized tables: per observed bigram, per target word
    val bigramScore = cb
      .withColumn("__w1", substring_index(col("__b"), " ", 1))
      .join(cu.withColumnsRenamed(Map("w" -> "__w1")), "__w1")
      .select(col("__b"),
        round(log(col("cb").cast("double") / col("cu")) * 1e6)
          .cast("long").as("s_b"))
    val backoff = cu.crossJoin(broadcast(tot))
      .select(col("w").as("__w2"),
        round(log(lit(0.4) * (col("cu") + 1) / (col("t") + col("v"))) * 1e6)
          .cast("long").as("s_w"))
    val dflt = tot.select(
      round(log(lit(0.4) / (col("t") + col("v"))) * 1e6)
        .cast("long").as("s_d"))
    (bigramScore, backoff, dflt)
  }

  /** SCORE a corpus against a trained (possibly persisted) LM model —
    * the inference half of [[lmTrain]]. Same join plan as the composed
    * [[lmScore]]: bigram/backoff lookups shuffle-hash on the gram
    * keys, the one-row default broadcast-crosses. */
  def lmScoreWith(df: DataFrame, idCol: String, textCol: String,
                  bigramScore: DataFrame, backoff: DataFrame,
                  dflt: DataFrame): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.WordGrams(col(textCol), 2)).as("__b"))
      .join(bigramScore.hint("shuffle_hash"), Seq("__b"), "left_outer")
      .withColumn("__w2", substring_index(col("__b"), " ", -1))
      .join(backoff.hint("shuffle_hash"), Seq("__w2"), "left_outer")
      .crossJoin(broadcast(dflt))
      .select(col("id"), coalesce(col("s_b"), col("s_w"), col("s_d")).as("s"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("lm_micro_sum"))
      .withColumn("lm_micro_avg",
        floor(col("lm_micro_sum").cast("double") / col("n_bigrams")).cast("long"))

  /** Train + score in one call — [[lmTrain]] composed with
    * [[lmScoreWith]]; the single-corpus convenience form. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              targetCol: String): DataFrame = {
    val reserved = Seq("__b", "__w1", "__w2", "__tgt")
    require(reserved.forall(!df.columns.contains(_)),
      s"lmScore: ${reserved.mkString("/")} are reserved")
    val (bs, bo, d) = lmTrain(df, textCol, targetCol)
    lmScoreWith(df, idCol, textCol, bs, bo, d)
  }

  /** Gopher-style quality RULE PANEL (Rae et al. 2021, §A1.1 filter
    * heuristics — the subset expressible over this corpus), as
    * per-document booleans beside their measured quantities rather than
    * one blended score ([[qualityScore]] is the blend; ablating a rule
    * needs the panel). Canonical thresholds, exact integer micro-units:
    *
    *   - `r_words`:   50 ≤ word count ≤ 100,000
    *   - `r_meanlen`: mean word length in [3, 10] chars
    *     (word chars = normalized length − (n−1) single spaces)
    *   - `r_symbol`:  punctuation/symbol character ratio ≤ 0.1
    *   - `r_stop`:    ≥ 2 stopword hits against the DISTINCT union of
    *     the supported language lists (Gopher requires 2 of a fixed
    *     English list; this corpus is multilingual, so the union keeps
    *     the rule meaningful for the non-English strata — and it is a
    *     true set union: words shared by two lists, like fr/es 'de',
    *     count once per occurrence, never once per list)
    *
    * Map-only codegen'd algebra — no shuffle, no UDF; every quantity is
    * a BIGINT micro so a DuckDB oracle reproduces the booleans
    * bit-for-bit. Returns (id, n_words, mean_wordlen_micro,
    * symbol_ratio_micro, stop_hits, r_*, pass). */
  def gopherPanel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nw = tokenCount(t).cast("long")
    val wchars = (length(normalized(t)) - (nw - lit(1L))).cast("long")
    val mwl = when(nw === 0, lit(0L))
      .otherwise(floor(wchars.cast("double") * 1e6 / nw)).cast("long")
    val punct = (length(t) - length(regexp_replace(t, punctPattern, "")))
      .cast("long")
    val sym = when(length(t) === 0, lit(0L))
      .otherwise(floor(punct.cast("double") * 1e6 / length(t))).cast("long")
    val hits = stopwordHits(t, stopwords.flatMap(_._2).distinct).cast("long")
    df.select(col(idCol).as("id"), nw.as("n_words"),
        mwl.as("mean_wordlen_micro"), sym.as("symbol_ratio_micro"),
        hits.as("stop_hits"))
      .withColumn("r_words", col("n_words").between(50L, 100000L))
      .withColumn("r_meanlen",
        col("mean_wordlen_micro").between(3000000L, 10000000L))
      .withColumn("r_symbol", col("symbol_ratio_micro") <= 100000L)
      .withColumn("r_stop", col("stop_hits") >= 2L)
      .withColumn("pass",
        col("r_words") && col("r_meanlen") && col("r_symbol") && col("r_stop"))
  }

  /** Typo-distance near-pairs within content blocks: docs sharing the
    * `blockLen`-char substring at `blockFrom` are candidates; survivors
    * carry their exact edit distance ≤ `maxDist`.
    *
    * Two scale guards, both measured into existence:
    *
    *   - THRESHOLDED levenshtein: the banded O(len·k) algorithm
    *     (k = maxDist+1 band) instead of the full O(len²) DP — ~100×
    *     less work per candidate on long documents; candidates over the
    *     threshold return −1 and the filter drops them. The id-inequality
    *     CASE guard matters: the dist filter gets pushed into the join
    *     condition, which evaluates on EVERY block-bucket match —
    *     including each row's self-match (5050 of 6058 evaluations on
    *     the fixture, by invocation count — PERF.md; near-identical long
    *     strings are the banded algorithm's worst case at ~0.7 ms/call).
    *     The CASE short-circuits the scorer to ordered pairs only:
    *     6058 → 504 calls, ~4.4 → ~1.2 s.
    *   - HOT-BLOCK CAP: a block shared by more than `maxBlock` docs is
    *     boilerplate, not a typo cluster — its C(n,2) pairs are dedup
    *     work (the minhash family's job), not fuzzy-match work. The
    *     4-step scale ladder measured the failure mode (slope 2.12 at
    *     10× when every block grows 10-fold); blocks above the cap are
    *     excluded BEFORE the self-join by a semi-join that reuses the
    *     block exchange, so a pathological hot block costs one counting
    *     aggregate instead of a quadratic pair explosion. Excluded-block
    *     docs simply produce no pairs (they are still dedup candidates
    *     elsewhere); TextAnalysisSpec plants a hot block and pins the
    *     exclusion.
    *
    * Returns (id_a, id_b, dist), id_a < id_b. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                 blockFrom: Int = 6, blockLen: Int = 16,
                 maxDist: Int = 2, maxBlock: Int = 64): DataFrame = {
    val all = df.select(col(idCol).as("__id"), col(textCol).as("__tx"))
      .withColumn("__blk", substring(col("__tx"), blockFrom, blockLen))
    val ok = all.groupBy("__blk").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= maxBlock).select("__blk")
    val gated = all.join(ok, Seq("__blk"), "left_semi")
    gated.as("a").join(gated.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        when(col("a.__id") < col("b.__id"),
          levenshtein(col("a.__tx"), col("b.__tx"), maxDist + 1))
          .otherwise(lit(-1)).as("dist"))
      .filter(col("dist").between(0, maxDist))
  }
}
