package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Similarity}
import graft.sources.Tables

/** IVF recall tuning harness: mean top-k recall at several nProbe /
  * refineIters operating points, averaged over a panel of REAL corpus
  * vectors used as queries (a single synthetic query is too noisy to
  * compare centroid strategies). Measurements cited in Ivf scaladoc +
  * IvfSpec pins.
  *
  * Usage: runMain graft.tools.IvfTune [sfDir] [nCells] [k]
  */
object IvfTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nCells = args.lift(1).map(_.toInt).getOrElse(16)
    val k = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = graft.Bench.session("8")

    val embs = Tables.load(spark, sfDir, "embeddings").cache()
    val n = embs.count()
    // query panel: 8 hash-chosen corpus vectors
    val queries = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id"), lit(7L))).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    def recallAt(nProbe: Int, iters: Int): Double = {
      val cents = Ivf.centroidsRefined(embs, "vec_id", "embedding",
        nCells, seed = 42L, iters = iters)
      val scored = queries.map { case (qid, q) =>
        val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", q, k)
          .collect().map(_.getLong(0)).toSet
        val probes = Ivf.probeCells(cents, q, nProbe)
        val got = embs
          .withColumn("__cell", Ivf.assignCell(col("embedding"), cents))
          .filter(col("__cell").isin(probes: _*))
          .select(col("vec_id"),
            graft.functions.VectorFunctions.cosine(col("embedding"),
              graft.functions.VectorFunctions.vecLit(q)).as("score"))
          .orderBy(desc("score"), col("vec_id")).limit(k)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size.toDouble / exact.size
      }
      scored.sum / scored.length
    }

    println(s"[ivftune] n=$n nCells=$nCells k=$k panel=${queries.length}")
    for (iters <- Seq(0, 1, 3, 5, 10); nProbe <- Seq(1, 2, 4))
      println(f"[ivftune] iters=$iters%2d nProbe=$nProbe%2d meanRecall=${recallAt(nProbe, iters)}%.4f")
    spark.stop()
  }
}
