package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality over an edge table.
  *
  * [[pagerank]] is weighted PageRank with dangling-mass redistribution and
  * an optional personalization (teleport) set — the ranking used for
  * web-corpus quality weighting (Common Crawl-style host ranking: a page's
  * crawl priority / quality prior is its link centrality) and, in its
  * personalized form, for graph-based data selection around a trusted seed
  * set. Every iteration is edge-table-sized relational work: one join of
  * the current ranks onto the edges (shuffle on `src`), one aggregation of
  * contributions (shuffle on `dst`), one left join back onto the node set —
  * no adjacency matrices, no driver-side graph state. At 1000 executors the
  * iteration cost is two shuffles of the edge table, exactly like the
  * connected-components rounds (Dedup.scala clusters).
  *
  * The prepared edge table is materialized ONCE up front
  * (`localCheckpoint`, the GraphFrames recipe): the edge subtree feeds
  * ≥6 consumers (node set ×2, out-weights, per-iteration contributions
  * and dangling scans) whose differing column pruning defeats exchange
  * reuse — without the checkpoint the executed plan re-scans the edge
  * SOURCE per consumer (measured: 90 file scans at iters=2), which at
  * 100 TB is the whole job several times over. One eager action, one
  * scan, truncated lineage; the iterations themselves stay lazy.
  *
  * Cross-engine exact reproducibility (the repo's integer-quantization
  * discipline — see Spectral.scala): ranks live in micro units as BIGINT;
  * per-edge contributions are integer floor-divisions of positive values
  * (`r*w DIV out_w`, identical truncation in Spark's DIV and DuckDB's //);
  * per-node inflow is an exact order-free BIGINT sum; the damping split and
  * the dangling/teleport share use the same integer expressions on both
  * engines. The DuckDB oracle replays the identical unrolled algebra and
  * hash-matches every node's rank to the micro digit.
  */
object Graphs {

  /** Weighted PageRank. `edges` must carry (`src` Long, `dst` Long, `w`
    * Long > 0). Ranks start at 1e6 micro per node (total mass N·1e6) and
    * per iteration:
    *
    *   seed_share = ((15·N·1e6 + 85·dangling) DIV 100) DIV |S|
    *   r'(v)      = [v ∈ S]·seed_share + (85·Σ_{u→v} (r(u)·w DIV out_w(u))) DIV 100
    *
    * where S is the teleport set (`seeds`, default = all nodes, giving
    * standard PageRank) and `dangling` is the rank mass sitting on nodes
    * with no out-edges (here mass conservation routes it to the teleport
    * set, the textbook treatment). All quantities are BIGINT. Each round
    * starts from the previous round's MATERIALIZED ranks (localCheckpoint
    * below), so lineage never deepens with `iters` — the [1,32] bound is
    * a cost sanity check (PageRank at damping 0.85 is numerically settled
    * long before 32 rounds), not a plan-depth limit.
    *
    * Returns (`id` Long, `r` Long) — final rank in micro units, one row
    * per node. */
  def pagerank(edges: DataFrame, iters: Int = 2,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1,32], got $iters")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
    val seedSet = seeds.map(_.select(col("id").cast("long").as("id")).distinct())
      .getOrElse(nodes)

    // r14 (guide §2.4 "remove shuffles outright"): the per-node STATIC
    // state — out-weight and seed membership — now RIDES THE ITERATE
    // instead of joining back in every round. The original shape paid,
    // per round, an out-weight join in the contribution pass, an
    // anti-join for the dangling sum, and a node-set + seed-mark join in
    // the assembly — each a re-derivation (or re-shuffle) of edge-table
    // aggregates the loop never changes (measured at sf0.1, iters=2,
    // counting every job the entry schedules: 37 jobs / 109 tasks /
    // 16.4 MB shuffle before; 33 / 84 / 14.6 MB after; OPTIMIZATION_r14.md).
    // At corpus scale each round now shuffles exactly the edge join +
    // inflow aggregation + one node-sized assembly join; the dangling sum is a joinless filter-aggregate over the checkpointed
    // iterate. The rank algebra and the outputs are bit-identical.
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val ns = seedSet.agg(count(lit(1)).as("n_seeds"))
    // in-plan scalars (1-row aggregates, broadcast by size); materialized
    // once — iteration count never changes them
    val nnNs = nn.crossJoin(ns).localCheckpoint()

    // iterate schema: (id, r, ow, is_seed) — ow NULL marks a dangling
    // node, is_seed NULL marks a non-seed. Node-sized, checkpointed per
    // round exactly like the plain (id, r) iterate was.
    var ranks = nodes
      .join(outw.select(col("src").as("id"), col("ow")), Seq("id"), "left")
      .join(seedSet.withColumn("is_seed", lit(1)), Seq("id"), "left")
      .withColumn("r", lit(1000000L))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = e.join(
          ranks.select(col("id").as("src"), col("r"), col("ow"))
            .filter(col("ow").isNotNull), "src")
        .select(col("dst").as("id"), expr("r * w DIV ow").as("c"))
      val inflow = contrib.groupBy("id").agg(sum("c").as("infl"))
      val dang = ranks.filter(col("ow").isNull)
        .agg(coalesce(sum("r"), lit(0L)).as("dang"))
      ranks = ranks.drop("r")
        .join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(nnNs))
        .crossJoin(broadcast(dang))
        .select(col("id"), col("ow"), col("is_seed"), expr(
          """CASE WHEN is_seed = 1
            |  THEN ((15 * n_nodes * 1000000 + 85 * dang) DIV 100) DIV n_seeds
            |  ELSE CAST(0 AS BIGINT) END
            | + (85 * coalesce(infl, CAST(0 AS BIGINT))) DIV 100""".stripMargin)
          .as("r"))
        // node-sized materialization per round (the e checkpoint's
        // rationale applied to the iterate): ranks feed three consumers
        // next round — contributions, the dangling sum, and the final
        // join — which would otherwise re-execute the whole prior chain
        .localCheckpoint()
    }
    ranks.select(col("id"), col("r"))
  }
}
