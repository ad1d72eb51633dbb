package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}
import graft.sources.Tables

/** PQ operating-point measurement: shortlist recall of the true top-k
  * under ADC scoring, across (m, codeBits, shortlist), on a panel of
  * real corpus query vectors. Measurements cited in Pq scaladoc and
  * pinned in PqSpec.
  *
  * Usage: runMain graft.tools.PqTune [sfDir] [k]
  */
object PqTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val k = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.Bench.session("8")

    val embs = Tables.load(spark, sfDir, "embeddings").cache()
    val n = embs.count()
    val queries = embs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id"), lit(11L))).limit(6)
      .collect().map(_.getSeq[Double](1).toArray) :+ Array.fill(64)(1.0)

    def meanRecall(m: Int, bits: Int, shortlist: Int,
                   iters: Int = 5, maxSample: Int = 2048): Double = {
      val rs = queries.map { q =>
        val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", q, k)
          .collect().map(_.getLong(0)).toSet
        val got = Pq.pqTopK(embs, "vec_id", "embedding", q, k,
          m = m, codeBits = bits, shortlist = shortlist,
          iters = iters, maxSample = maxSample)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size.toDouble / exact.size
      }
      rs.sum / rs.length
    }

    println(s"[pqtune] n=$n k=$k panel=${queries.length}")
    for ((m, bits) <- Seq((8, 4), (16, 4), (8, 8), (16, 8), (32, 4));
         s <- Seq(50, 100, 200))
      println(f"[pqtune] m=$m%2d bits=$bits shortlist=$s%3d meanRecall=${meanRecall(m, bits, s)}%.4f")
    // IVF+PQ composition: recall vs nProbe at the shipped PQ point
    def ivfpqRecall(nProbe: Int, shortlist: Int): Double = {
      val rs = queries.map { q =>
        val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", q, k)
          .collect().map(_.getLong(0)).toSet
        val got = Pq.ivfPqTopK(embs, "vec_id", "embedding", q, k,
          nCells = 16, nProbe = nProbe, m = 16, codeBits = 8,
          shortlist = shortlist, iters = 3, maxSample = 1024)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size.toDouble / exact.size
      }
      rs.sum / rs.length
    }
    for (p <- Seq(2, 4, 8, 12, 16))
      println(f"[pqtune] ivfpq nProbe=$p%2d shortlist=100 meanRecall=${ivfpqRecall(p, 100)}%.4f")
    // training-budget sweep at the shipped operating point
    for ((it, ms) <- Seq((5, 2048), (3, 1024), (2, 1024), (1, 512));
         s <- Seq(50, 100)) {
      val t0 = System.nanoTime()
      val r = meanRecall(16, 8, s, it, ms)
      println(f"[pqtune] m=16 bits=8 iters=$it sample=$ms shortlist=$s%3d meanRecall=$r%.4f panelSec=${(System.nanoTime()-t0)/1e9}%.1f")
    }
    spark.stop()
  }
}
