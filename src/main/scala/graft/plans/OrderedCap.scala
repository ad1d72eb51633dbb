package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** "First n rows in key order" (per `groups` value) without the global
  * sort + single-partition GlobalLimit funnel: the exact row set of
  * `orderBy(key).limit(n)` (callers re-apply any display ordering).
  *
  * It is [[WeightedCap]] with unit weights — "rows before it < n" is
  * "weight before it < n" with weight 1 — so it reads the input twice
  * (a block-count pass and one main pass) and shuffles only the kept rows.
  *
  * Used for the `--rows` cap behind cardinality-changing transform chains,
  * where "count rows post-transform in offset order" is the required
  * semantics (the reference's chunk-fill count, `src/consume.rs:75-92`)
  * and the offset-range rewrite for map-only chains does not apply.
  * Under `-A` the consume faces pass the partition column as the group:
  * offsets repeat across partitions.
  */
object OrderedCap {

  def byKey(df: DataFrame, key: String, n: Long,
            blockSize: Long = 1L << 20, groups: Seq[String] = Nil): DataFrame =
    WeightedCap.cap(df, key, lit(1L), n, blockSize, groups)
}
