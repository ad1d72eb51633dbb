package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** WeightedCap must keep EXACTLY the rows the naive global cumulative-sum
  * window keeps (pre-row cumulative weight < budget in key order), for
  * every budget position relative to block boundaries.
  */
class WeightedCapSpec extends SparkSpec {
  import spark.implicits._

  /** Keys of the rows whose cumulative weight before them (in key order,
    * per `groups` value) is under the budget — one window over all rows. */
  private def naiveRows(df: DataFrame, key: String, w: Column, budget: Long,
                        groups: Seq[String] = Nil): DataFrame =
    df.withColumn("__w", w).withColumn("__cum", sum("__w").over(
        Window.partitionBy((if (groups.isEmpty) Seq(lit(0)) else groups.map(col)): _*)
          .orderBy(key).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cum") - col("__w") < budget)

  private def naive(df: DataFrame, key: String, w: String, budget: Long): Set[Long] =
    naiveRows(df, key, col(w), budget).select(key).as[Long].collect().toSet

  private def capped(df: DataFrame, key: String,
                     w: String, budget: Long, blockSize: Long): Set[Long] =
    WeightedCap.byKey(df, key, w, budget, blockSize)
      .select(key).as[Long].collect().toSet

  test("matches the naive window for budgets at every block-boundary relation") {
    val rnd = new scala.util.Random(11L)
    // sparse keys so blocks are uneven; weights 0..9 including zeros
    val rows = (1L to 500L).map(i => (i * 7 + rnd.nextInt(5), rnd.nextInt(10).toLong))
      .distinctBy(_._1).toDF("k", "w").repartition(7)
    val total = rows.agg(sum("w")).head().getLong(0)
    for (budget <- Seq(1L, 5L, 37L, total / 2, total - 1, total, total + 100)) {
      assert(capped(rows, "k", "w", budget, blockSize = 64) ===
        naive(rows, "k", "w", budget), s"budget=$budget")
    }
  }

  test("budget <= 0 keeps nothing; huge budget keeps everything") {
    val rows = Seq((1L, 5L), (2L, 5L)).toDF("k", "w")
    assert(capped(rows, "k", "w", 0L, 16) === Set.empty[Long])
    assert(capped(rows, "k", "w", Long.MaxValue / 4, 16) === Set(1L, 2L))
  }

  test("overshoot is bounded by the final kept row (greedy fill rule)") {
    // weights 4,4,4 budget 10: keep rows 1 (cum_before 0), 2 (4), 3 (8 < 10)
    val rows = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 4L)).toDF("k", "w")
    assert(capped(rows, "k", "w", 10L, 2) === Set(1L, 2L, 3L))
    // exact-hit budget 8: row 3's cum_before = 8, NOT < 8 -> excluded
    assert(capped(rows, "k", "w", 8L, 2) === Set(1L, 2L))
  }

  test("zero-weight rows inside the budget region are kept") {
    val rows = Seq((1L, 0L), (2L, 3L), (3L, 0L), (4L, 2L)).toDF("k", "w")
    // budget 3: cum_before = 0,0,3,3 -> rows 1,2 kept; 3,4 excluded? No:
    // cum_before(3) = 3, not < 3 -> excluded; cum_before(4) = 3 -> excluded
    assert(capped(rows, "k", "w", 3L, 2) === Set(1L, 2L))
    // budget 4 keeps the zero-weight row 3 and row 4 (cum_before 3 < 4)
    assert(capped(rows, "k", "w", 4L, 2) === Set(1L, 2L, 3L, 4L))
  }

  /** One generated cap input: (group, key, weight) rows, keys unique per
    * group (they repeat across groups, like offsets across partitions). */
  private case class CapCase(rows: Seq[(Int, Long, Long)], blockSize: Long,
                             budget: Long, unit: Boolean, grouped: Boolean)

  private val capCase: Gen[CapCase] = for {
    grouped <- Gen.oneOf(false, true)
    unit <- Gen.oneOf(false, true)
    blockSize <- Gen.choose(1L, 64L)
    perGroup <- Gen.listOfN(if (grouped) 3 else 1, for {
      n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 40))
      keys <- Gen.oneOf(
        Gen.choose(-80L, 80L).map(s => (s until s + n).toSeq),                   // dense
        Gen.listOfN(n, Gen.choose(-400L, 400L)).map(_.distinct))                 // sparse
      weights <- Gen.listOfN(keys.size,
        if (unit) Gen.const(1L) else Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(1L, 9L)))
    } yield keys.zip(weights))
    rows = perGroup.zipWithIndex.flatMap { case (kws, g) => kws.map { case (k, w) => (g, k, w) } }
    // budgets at 0, 1, the total, total + 1 and every block edge (the
    // weight through each block, and one past it), over every group
    edges = perGroup.flatMap { kws =>
      kws.sortBy(_._1).groupBy(kw => Math.floorDiv(kw._1, blockSize)).toSeq.sortBy(_._1)
        .map(_._2.map(_._2).sum).scanLeft(0L)(_ + _).drop(1)
    }
    total = perGroup.map(_.map(_._2).sum).max
    budget <- Gen.oneOf(Seq(0L, 1L, total, total + 1) ++ edges ++ edges.map(_ + 1))
  } yield CapCase(rows, blockSize, budget, unit, grouped)

  test("differential property: count and weighted, global and grouped, against the naive forms") {
    val prop = Prop.forAllNoShrink(capCase) { c =>
      val df = c.rows.toDF("g", "k", "w").repartition(3)
      val groups = if (c.grouped) Seq("g") else Nil
      val got =
        if (c.unit) OrderedCap.byKey(df, "k", c.budget, c.blockSize, groups)
        else WeightedCap.cap(df, "k", col("w"), c.budget, c.blockSize, groups)
      val want =
        if (c.unit && !c.grouped) df.orderBy("k").limit(c.budget.toInt)
        else naiveRows(df, "k", if (c.unit) lit(1L) else col("w"), c.budget, groups)
      def keys(d: DataFrame) = d.select("g", "k").as[(Int, Long)].collect().toSet
      keys(got) == keys(want)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(80)
      .withInitialSeed(Seed(31L)).withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }
}
