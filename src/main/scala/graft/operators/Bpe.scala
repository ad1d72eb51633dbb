package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding MERGE INDUCTION over a corpus — learning the
  * tokenizer's merge table (Sennrich et al. 2016), the panel behind
  * every "train a tokenizer on the data mix" step. This is the
  * distributed LEARNING half; applying a learned table is the fold in
  * [[applyMerge]] run once per learned rank.
  *
  * Shapes for scale the way the PageRank chain is:
  *
  *   - state is the VOCABULARY (distinct words × frequency), not the
  *     corpus — classic BPE trains on the word-frequency table, so the
  *     corpus is read once (one groupBy(word) shuffle) and every
  *     iteration is vocab-sized;
  *   - each merge round is one pair-count aggregation (explode adjacent
  *     pairs, keyed shuffle with map-side combine) + a ONE-ROW argmax
  *     collect (model-sized driver traffic, the centroid-training budget
  *     class) + a map-only fold applying the merge;
  *   - rounds build on `localCheckpoint` so iteration i does not replay
  *     lineage back to the corpus (the Dedup connected-components
  *     discipline).
  *
  * Conventions (stated because the DuckDB oracle must replay them
  * bit-for-bit): words are the whitespace tokens of the normalized text
  * ([[TextAnalysis.normalized]]); initial symbols are single characters
  * with no end-of-word marker (merges never cross word boundaries by
  * construction); pair statistics count EVERY adjacent occurrence
  * (overlapping runs included — "aaa" counts (a,a) twice); merges apply
  * left-to-right non-overlapping ("aaa" -> [aa, a]); ties in the argmax
  * break by (count DESC, left ASC, right ASC) over binary string order.
  */
object Bpe {

  /** One learned merge: `rank` is 1-based learning order, `pairCount`
    * the corpus-weighted adjacent-pair count at selection time. */
  final case class Merge(rank: Int, left: String, right: String,
                         pairCount: Long)

  /** (word, wcount) vocabulary of the corpus — the one corpus-sized
    * shuffle in the whole induction. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(TextAnalysis.normalized(col(textCol)), " "))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("wcount"))

  /** The vocabulary exploded to initial symbol arrays:
    * (word, wcount, syms: array<string> of single characters).
    * `array_remove` drops the zero-width split artifacts — engines
    * disagree on whether an empty-pattern split yields trailing empty
    * strings, so both this and the oracle filter them explicitly. */
  def initialSymbols(words: DataFrame): DataFrame =
    words.withColumn("syms", array_remove(split(col("word"), ""), ""))

  /** Left-to-right non-overlapping application of merge (l, r) to a
    * symbol array, as a fold: append each symbol unless the running
    * tail is `l` and the symbol is `r`, in which case the tail becomes
    * `l || r`. The merged symbol can never equal `l` again (it is
    * strictly longer), so a freshly-merged tail never chains into the
    * next merge of the same pass — which makes the simple fold EXACTLY
    * the left-to-right rule, including on runs ("aaaa" -> [aa, aa]).
    * Higher-order-function eval is interpreted, not codegen'd — fine
    * here because it runs per VOCABULARY row per round, never per
    * corpus row (the shingle-path lesson does not apply at vocab
    * scale). */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Corpus-weighted adjacent-pair counts of the current symbolization:
    * (l, r, cnt). */
  def pairCounts(symbolized: DataFrame): DataFrame =
    symbolized
      .withColumn("__pr", zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r"))))
      .select(col("wcount"), explode(col("__pr")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("wcount").cast("long").as("cnt"))

  /** Tokenize NEW text under a LEARNED merge table — the inference half
    * (the corpus the merges were learned on reads its persisted final
    * symbolization instead; this path is for text the tokenizer has
    * never seen, out-of-vocabulary words included: they decompose to
    * characters and re-merge as far as the learned ranks reach). Same
    * two-tier shape as learning: merges fold over the batch's DISTINCT
    * words (vocab-sized interpreted work, rank order preserved — each
    * rank applies fully before the next, exactly as during learning),
    * then one equi-join maps corpus word occurrences to their symbol
    * arrays. Returns (id, pos, word, syms) — pos is the word's 0-based
    * position in its document. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[Merge]): DataFrame = {
    val words = df.select(col(idCol).as("id"),
        posexplode(split(TextAnalysis.normalized(col(textCol)), " "))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val symbolized = merges.sortBy(_.rank)
      .foldLeft(initialSymbols(words.select("word").distinct())) {
        (acc, m) =>
          acc.withColumn("syms", applyMerge(col("syms"), m.left, m.right))
      }
    words.join(symbolized.select("word", "syms"), "word")
      .select(col("id"), col("pos"), col("word"), col("syms"))
  }

  /** Learn `numMerges` merges. Returns the ordered merge table and the
    * final symbolization (word, wcount, syms) — the table a coverage /
    * vocabulary panel reads. Stops early if the vocabulary runs out of
    * adjacent pairs (every word a single symbol).
    *
    * BATCHED ROUNDS (round-10; the r09 version ran one Spark job + one
    * 1-row collect + one localCheckpoint PER MERGE — correct, but a
    * real 32k-merge vocabulary is 32k sequential scheduler barriers,
    * days of latency at any data size): each round now computes pair
    * counts ONCE, pulls the top `batch`+1 pairs (driver traffic stays
    * model-sized), and accepts the longest PREFIX of the ranking that
    * is provably serial-equivalent, then applies all accepted merges in
    * one map-only chain with one checkpoint. Round count drops from
    * O(merges) to O(merges / batch̄) with the result BIT-IDENTICAL to
    * the serial algorithm (BpeSpec pins serial == batched on the
    * fixture) because a prefix is accepted only while:
    *
    *   1. pairwise SYMBOL-DISJOINT, where each accepted pair (l, r)
    *      claims {l, r, l+r}: merging (a,b) only removes adjacencies
    *      touching a or b and only creates adjacencies touching the
    *      new symbol ab, so any candidate sharing none of the three
    *      has its exact serial count already — stale counts are exact
    *      for the whole accepted prefix. The claim extends ACROSS
    *      rounds: l+r must also differ from every previously learned
    *      merge's concatenation (every multi-character vocabulary
    *      symbol is exactly one of those, so the driver knows the full
    *      set without touching the data). Without that, a merge whose
    *      product string-equals a symbol built earlier under a
    *      different bracketing (vocabulary holds 'abc' from (ab,c)
    *      while (a,bc) is accepted now) would ADD occurrences of the
    *      EXISTING symbol — boosting the stale count of a
    *      below-boundary pair touching it to stale+created, which
    *      serial (recounting after each merge) could have ranked
    *      ahead of the rest of the batch. The FIRST candidate of a
    *      round is EXEMPT from the cross-round leg: round-start counts
    *      are exact (nothing merged yet this round), so accepting the
    *      aliasing pair first is precisely what serial — which also
    *      sees exact counts and also aliases symbols by string — would
    *      do; only LATER candidates, whose counts may be stale w.r.t.
    *      the accepted prefix, need the guard (and `used` already
    *      carries the alias product forward within the batch). Without
    *      the exemption a blocked top(0) would end the round with ZERO
    *      accepted merges and identical state — a driver livelock;
    *   2. STRICTLY above the boundary (the first non-accepted pair):
    *      ties shrink the batch, so every rejected / newly-created
    *      pair (both bounded by rejected stale counts) stays strictly
    *      below every accepted count — serial could not have ranked
    *      anything between or re-ordered the prefix (its own order is
    *      preserved because prefix counts are unchanged and the
    *      (cnt DESC, l, r) tie-break is replayed verbatim).
    *
    * Worst case (all top pairs chained, or boundary ties) a round
    * accepts one pair — exactly the serial algorithm. The realized
    * batch factor (sf0.01, batched vs serial) is recorded in PERF.md. */
  def learnMerges(words: DataFrame, numMerges: Int,
                  batch: Int = 64): (Seq[Merge], DataFrame) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var symbolized = initialSymbols(words).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    // every multi-character symbol the vocabulary can contain is the
    // concatenation of a learned merge — the cross-round leg of rule 1
    val learnedSyms = scala.collection.mutable.Set.empty[String]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val want = math.min(batch, numMerges - rank + 1)
      val top = pairCounts(symbolized)
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(want + 1).collect()
      if (top.isEmpty) exhausted = true
      else {
        // rule 1: longest symbol-disjoint prefix ({l, r, l+r} claimed
        // within the batch, AND — for candidates AFTER the first —
        // l+r not re-creating a symbol an earlier round already built
        // (top(0) rides exact round-start counts, so accepting an
        // aliasing pair first IS serial; see the cross-round leg above)
        val used = scala.collection.mutable.Set.empty[String]
        var k = 0
        var blocked = false
        while (k < math.min(want, top.length) && !blocked) {
          val (l, r) = (top(k).getString(0), top(k).getString(1))
          if (used(l) || used(r) || used(l + r) ||
              (k > 0 && learnedSyms(l + r)))
            blocked = true
          else { used += l; used += r; used += (l + r); k += 1 }
        }
        assert(k >= 1,
          "learnMerges: round accepted zero merges with candidates " +
            "present — the k==0 exemption should make this unreachable")
        // rule 2: strict boundary — shrink while the last accepted ties
        // the first non-accepted (k == top.length means no boundary:
        // the vocabulary has no further pairs at all)
        while (k > 1 && k < top.length &&
          top(k - 1).getLong(2) == top(k).getLong(2)) k -= 1
        val prev = symbolized
        var df = symbolized
        for (i <- 0 until k) {
          val (l, r, cnt) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          merges += Merge(rank, l, r, cnt)
          learnedSyms += (l + r)
          df = df.withColumn("syms", applyMerge(col("syms"), l, r))
          rank += 1
        }
        symbolized = df.localCheckpoint()
        // free the superseded checkpoint (the CC-chain discipline):
        // without this, executor storage holds one vocabulary copy per
        // ROUND — harmless at the panel's ranks, linear growth at a
        // real merge table's thousands
        prev.unpersist()
      }
    }
    (merges.result(), symbolized)
  }
}
