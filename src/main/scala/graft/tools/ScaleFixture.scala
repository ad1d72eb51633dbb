package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives an sf1-class fixture (default 10× sf0.1: 6M lineitem / 50k
  * documents / 20k embeddings / 1M events) for the scale audit's top
  * ladder step — the regime where the by-design O(n²) validation twins
  * leave the parallel-slack floor, so `tools/ScaleAudit`'s flag rule
  * finally has something real to bite on (at sf0.1 the whole suite sits
  * in scheduler slack; PERF.md has carried that caveat since r10).
  *
  * The driver's /root/testdata is READ-ONLY and tops out at sf0.1, so
  * this tool derives the step deterministically from sf0.1 by keyed
  * replication — no randomness, no new data source, reproducible from
  * the repo alone:
  *
  *   - fact/dimension tables replicate with per-replica key shifts that
  *     PRESERVE referential integrity (replica k's orders reference
  *     replica k's customers, etc.), so join selectivities and group
  *     cardinalities scale the way a bigger TPC-H would;
  *   - `region`/`nation` stay fixed (25/5 rows — their cardinality is
  *     semantic, not scale-bound, exactly as in TPC-H);
  *   - `documents` get a per-replica suffix token so replicas are
  *     near-duplicates, not exact duplicates — boilerplate-style
  *     near-dup clusters of size `factor`, which is what a real crawl
  *     rescale looks like and keeps candidate-pair counts linear in n;
  *   - `embeddings` get a small deterministic per-replica, per-dim
  *     perturbation (±0.4% steps) for the same reason: near-identical
  *     clusters, not degenerate exact ties;
  *   - `events` shift ids and timestamps per replica (minute-scale ts
  *     offsets keep per-user sessions from collapsing into one).
  *
  * Usage: `sbt "runMain graft.tools.ScaleFixture [srcDir outDir factor]"`
  * (defaults: /root/testdata/sf0.1 → fixtures/sf1 at 10×). Writes a
  * `_FIXTURE_OK` stamp after all tables land so a half-written fixture
  * is never mistaken for a whole one.
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("fixtures/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def src(name: String): DataFrame =
      graft.sources.Tables.load(spark, srcDir, name)

    /** Union `factor` replicas of `df`, each transformed by `f(_, k)`.
      * Replica 0 is the identity for every shifted key, so the original
      * data is a subset of the scaled fixture. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => f(df, k)).reduce(_ unionByName _)

    def shift(df: DataFrame, cols: Seq[String], k: Int,
              strides: Map[String, Long]): DataFrame =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k * strides(c))))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // key strides = (max key + 1) per table, computed once from the source
    val custN = maxOf(src("customer"), "c_custkey")
    val ordN = maxOf(src("orders"), "o_orderkey")
    val suppN = maxOf(src("supplier"), "s_suppkey")
    val partN = maxOf(src("part"), "p_partkey")
    val docN = maxOf(src("documents"), "doc_id")
    val vecN = maxOf(src("embeddings"), "vec_id")
    val evtN = maxOf(src("events"), "event_id")
    val userN = maxOf(src("events"), "user_id")
    val strides = Map(
      "c_custkey" -> custN, "o_custkey" -> custN,
      "o_orderkey" -> ordN, "l_orderkey" -> ordN,
      "s_suppkey" -> suppN, "l_suppkey" -> suppN,
      "p_partkey" -> partN, "l_partkey" -> partN,
      "doc_id" -> docN, "vec_id" -> vecN,
      "event_id" -> evtN, "user_id" -> userN)

    val out = new java.io.File(outDir)
    out.mkdirs()
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale-fixture] wrote $name x$factor")
    }

    // dimensions with semantic cardinality: copied, never replicated
    write("region", src("region"))
    write("nation", src("nation"))

    write("customer", replicate(src("customer"))(
      (d, k) => shift(d, Seq("c_custkey"), k, strides)))
    write("supplier", replicate(src("supplier"))(
      (d, k) => shift(d, Seq("s_suppkey"), k, strides)))
    write("part", replicate(src("part"))(
      (d, k) => shift(d, Seq("p_partkey"), k, strides)))
    write("orders", replicate(src("orders"))(
      (d, k) => shift(d, Seq("o_orderkey", "o_custkey"), k, strides)))
    write("lineitem", replicate(src("lineitem"))(
      (d, k) => shift(d, Seq("l_orderkey", "l_partkey", "l_suppkey"), k, strides)))

    // events: contiguous offsets per replica (the topic reader treats
    // event_id as the log offset); ts nudged per replica so sessions
    // neither collapse nor explode
    write("events", replicate(src("events"))((d, k) =>
      shift(d, Seq("event_id", "user_id"), k, strides)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 90} SECOND"))))

    // documents: near-duplicate replicas (suffix token varies per
    // replica), doc_id shifted — crawl-style boilerplate clusters
    write("documents", replicate(src("documents"))((d, k) =>
      shift(d, Seq("doc_id"), k, strides)
        .withColumn("text",
          if (k == 0) col("text")
          else concat(col("text"), lit(s" zrep$k")))
        .withColumn("n_chars",
          if (k == 0) col("n_chars")
          else col("n_chars") + lit(s" zrep$k".length.toLong))))

    // embeddings: deterministic ±0.4%-step per-dim perturbation keyed on
    // (replica, dim) — near-identical clusters, no exact ties
    write("embeddings", replicate(src("embeddings"))((d, k) =>
      shift(d, Seq("vec_id"), k, strides)
        .withColumn("embedding",
          if (k == 0) col("embedding")
          else expr(s"transform(embedding, (v, d) -> " +
            s"CAST(v * (1.0 + ((($k + d) % 5) - 2) * 0.002) AS FLOAT))"))))

    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/_FIXTURE_OK"),
      s"src=$srcDir factor=$factor\n".getBytes("UTF-8"))
    println(s"[scale-fixture] done: $outDir (factor $factor)")
    spark.stop()
  }
}
