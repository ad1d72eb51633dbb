package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** "First rows in key order until a cumulative WEIGHT budget" without the
  * global sort + full-set window funnel. The one cap implementation:
  * [[OrderedCap]] is its unit-weight case.
  *
  * The naive form (`sum(weight) over (order by key)` then filter) moves
  * every row through ONE partition — the scale cliff for token budgets,
  * byte budgets and `--rows 100000000` over a 100 TB log. This reads the
  * input twice instead:
  *
  *   1. counting pass: per-block weight sums (block =
  *      `floor(key / blockSize)`, map-side combined), then the
  *      metadata-sized block table folds into one row per group — the
  *      first block whose running total reaches the budget (NULL = keep
  *      everything) and the weight before it — with one
  *      `sort_array(collect_list)` + `aggregate`, no self-join;
  *   2. main pass: that row, broadcast, joins the input once; rows of
  *      blocks after the cut drop, the rest cross ONE shuffle by
  *      (group, block), where a running sum fills the remainder of the
  *      cut block (other blocks pass whole).
  *
  * Every kept row (≤ the budget's rows plus one block) crosses that
  * shuffle, the rows of blocks before the cut included, and so does every
  * row when the budget is never reached; no step puts data rows into a
  * single partition. Output order: each block's rows come out together,
  * sorted by `key`, but blocks land in hash order across partitions, so a
  * result spanning several blocks does not come back in `key` order even
  * from a one-split input — callers needing that order sort.
  *
  * A row is kept iff the cumulative weight BEFORE it (in `key` order,
  * within its `groups` values) is < `budget` — the greedy "fill until the
  * budget is reached" rule, so the budget may be overshot by at most the
  * final row's weight, and a zero-or-negative budget keeps nothing.
  * Weights must be non-negative and non-null; `key` must be non-null and
  * unique within a group for a deterministic fill order (encode composite
  * orders into one numeric key).
  */
object WeightedCap {

  def byKey(df: DataFrame, key: String, weightCol: String, budget: Long,
            blockSize: Long = 1L << 20): DataFrame =
    cap(df, key, col(weightCol), budget, blockSize, Nil)

  private[plans] def cap(df: DataFrame, key: String, weight: Column, budget: Long,
                         blockSize: Long, groups: Seq[String]): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    if (budget <= 0) return df.limit(0)
    val t = df.withColumn("__blk", floor(col(key) / blockSize)).withColumn("__w", weight)
    val blocks = t.groupBy((groups :+ "__blk").map(col): _*).agg(sum("__w").as("__bw"))
    // fold the sorted block table into (cut block, weight before it):
    // `prev` runs over the blocks until the cut, then stays
    val sumType = blocks.schema("__bw").dataType
    def acc(cut: Column, prev: Column) = struct(cut.as("cut"), prev.cast(sumType).as("prev"))
    val noCut = lit(null).cast(blocks.schema("__blk").dataType)
    val folded = aggregate(sort_array(collect_list(struct("__blk", "__bw"))), acc(noCut, lit(0)),
      (s, b) => when(s("cut").isNotNull, s)
        .when(s("prev") + b("__bw") >= budget, acc(b("__blk"), s("prev")))
        .otherwise(acc(noCut, s("prev") + b("__bw"))))
    val info = blocks.groupBy(groups.map(col): _*).agg(folded.as("__cut"))
      .select(groups.map(col) :+ col("__cut.cut").as("__cutBlk") :+
        col("__cut.prev").as("__prevCum"): _*)
    val cut = col("__cutBlk")
    // groups = Nil: a cross join with the one info row
    val joined = t.join(broadcast(info), groups)
    val fill = Window.partitionBy((groups :+ "__blk").map(col): _*).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // weight before each row of the cut block; NULL for every other kept row
    joined.filter(cut.isNull || col("__blk") <= cut)
      .withColumn("__before", when(col("__blk") === cut,
        col("__prevCum") + sum("__w").over(fill) - col("__w")))
      .filter(col("__before").isNull || col("__before") < budget)
      .drop("__blk", "__w", "__cutBlk", "__prevCum", "__before")
  }
}
