package graft.tools

import graft.operators.Similarity
import graft.sources.Tables

/** Measure annTopK recall vs brute force across (nPlanes, probeRadius)
  * settings — picks the bar for SimilaritySpec. */
object RecallTune {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("8")
    val ones = Array.fill(64)(1.0)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")) {
      val embs = Tables.load(spark, sf, "embeddings")
      val n = embs.count()
      val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", ones, 20)
        .collect().map(_.getLong(0)).toSet
      for (p <- Seq(8, 10, 12); r <- Seq(1, 2, 3); bands <- Seq(2, 4, 6, 8)) {
        // probed = rows surviving the bucket prune (the candidate set the
        // exact ranking then runs over) — recall 1 with probed << n is the
        // useful operating point; probed == n is brute force in disguise
        val probed = Similarity.annCandidates(embs, "vec_id", "embedding",
          ones, nPlanes = p, probeRadius = r, nBands = bands).count()
        val approx = Similarity.annTopK(embs, "vec_id", "embedding", ones, 20,
          nPlanes = p, probeRadius = r, nBands = bands)
          .collect().map(_.getLong(0)).toSet
        val recall = (exact & approx).size.toDouble / exact.size
        println(f"sf=$sf planes=$p radius=$r bands=$bands recall=$recall%.2f probed=$probed/$n")
      }
    }
    spark.stop()
  }
}
