package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClustersSamplingSpec extends SparkSpec {
  import spark.implicits._

  test("clusters: min-label components over chains, pairs, singleton-free") {
    // chain 20-21-22-23 needs multiple propagation rounds; 1-2-3 a
    // triangle-free path; (10,11) a plain pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("clusters: long chain converges in LOG rounds (pointer jumping)") {
    // path 0-1-2-...-60: diameter 60. Pure propagation needs ~60 rounds;
    // with the per-round pointer jump the reach roughly doubles each
    // round, so maxIter=10 only passes if the jump is doing its job.
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
    assert(got.keySet == (0L to 60L).toSet)
  }

  test("clusters: empty pair set returns empty, not an NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusters(empty).collect().isEmpty)
  }

  test("clusters: non-convergence within maxIter raises loudly") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](Dedup.clusters(pairs, maxIter = 2))
    assert(e.getMessage.contains("not converged"))
  }

  test("clusters: reliable checkpointDir flavor produces identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, checkpointDir = Some(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // the reliable checkpoint actually wrote RDD blocks to the dir
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("observe metric rides the checkpoint action (clusters' 1-action round)") {
    val obs = org.apache.spark.sql.Observation()
    spark.range(10).toDF("id")
      .observe(obs, sum(col("id")).as("s"))
      .localCheckpoint(true)
    // the listener delivers asynchronously right after the action; if
    // localCheckpoint were not a listener-visible action clusters() would
    // silently pay a fallback aggregate every round — fail here instead
    import scala.concurrent.duration._
    val s = scala.concurrent.Await.result(
      scala.concurrent.Future(obs.get("s"))(
        scala.concurrent.ExecutionContext.global), 30.seconds)
    assert(s == 45L, s"metric not delivered by checkpoint: $s")
  }

  test("hashSample: deterministic, rate ≈ sixteenths/16, subset-monotone") {
    val df = (0L until 4000L).toDF("id")
    val s4 = Sampling.hashSample(df, "id", 4).collect().map(_.getLong(0)).toSet
    val s4again = Sampling.hashSample(df, "id", 4).collect().map(_.getLong(0)).toSet
    assert(s4 == s4again) // deterministic
    assert(math.abs(s4.size / 4000.0 - 0.25) < 0.05)
    val s8 = Sampling.hashSample(df, "id", 8).collect().map(_.getLong(0)).toSet
    assert(s4.subsetOf(s8)) // growing the rate only ADDS rows
  }

  test("sourceCapSample: at most cap rows per group, md5-deterministic, " +
    "partition-independent") {
    val df = (0L until 900L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val got = Sampling.sourceCapSample(df, "id", "src", cap = 7).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySrc = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(got.length == 21)
    assert(bySrc.values.forall(_.size == 7))
    // deterministic under a different partitioning
    val again = Sampling.sourceCapSample(df.repartition(13), "id", "src", 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == got.toSet)
    // survivors are exactly the 7 smallest md5s of each group
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(i: Long) = md.digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    for (g <- 0 until 3) {
      val expect = (0L until 900L).filter(_ % 3 == g)
        .sortBy(i => (m(i), i)).take(7).toSet
      assert(bySrc(s"src$g") == expect)
    }
    // cap above the group size keeps everything; cap 0 keeps nothing
    assert(Sampling.sourceCapSample(df, "id", "src", 500).count() == 900)
    assert(Sampling.sourceCapSample(df, "id", "src", 0).count() == 0)
  }

  test("stratifiedHashSample: per-stratum rates; absent strata drop") {
    val df = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "und" else "de"))
      .toDF("id", "lang")
    val got = Sampling.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 16, "und" -> 4)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("de", 0) == 0)           // absent stratum drops
    assert(byLang("en") == 1000)                     // 16/16 keeps all
    assert(math.abs(byLang("und") / 1000.0 - 0.25) < 0.08)
  }

  test("dsirSelect ranks target-vocabulary docs above off-domain docs") {
    // Target docs speak vocabulary A; raw noise speaks B. Unlabeled docs
    // that speak A must outrank unlabeled docs that speak B — DSIR's
    // whole premise. The target docs themselves also score high, but the
    // interesting rows are the unlabeled ones (200, 201).
    val df = Seq(
      (0L, "alpha beta gamma alpha beta gamma alpha beta", true),
      (1L, "beta gamma alpha beta gamma alpha beta gamma", true),
      (200L, "alpha beta gamma beta alpha gamma beta alpha", false),
      (201L, "omega psi chi omega psi chi omega psi", false),
      (202L, "omega chi psi chi omega psi omega chi", false)
    ).toDF("doc_id", "text", "is_tgt")
    val w = Sampling.dsirWeights(df, "doc_id", "text", "is_tgt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(200L) > w(201L), w.toString)
    assert(w(200L) > w(202L), w.toString)
    // selection: top-2 must be target-vocab docs, deterministic order
    val top = Sampling.dsirSelect(df, "doc_id", "text", "is_tgt", topN = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(!top.contains(201L) && !top.contains(202L), top.toString)
    // determinism across runs
    val again = Sampling.dsirSelect(df, "doc_id", "text", "is_tgt", topN = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == again)
  }

  test("dsirWeights sampled-stats mode: exact when the sample covers the " +
      "corpus; full-coverage deterministic weights otherwise") {
    // ids whose hashBucket < 8, so hashSample(df, 8) == df and the
    // sampled-stats path must reproduce the exact full-stats weights
    val below8 = spark.range(0, 400)
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .filter(col("b") < 8).limit(12).collect().map(_.getLong(0)).toSeq
    assert(below8.size == 12)
    val texts = Seq(
      "alpha beta gamma", "alpha beta", "gamma delta epsilon",
      "zeta eta theta", "alpha gamma", "beta beta beta",
      "delta epsilon", "eta theta iota", "alpha delta",
      "kappa lambda mu", "beta gamma delta", "nu xi omicron")
    val covered = below8.zip(texts).zipWithIndex
      .map { case ((id, t), i) => (id, t, i % 3 == 0) }
      .toDF("doc_id", "text", "is_tgt")
    val exact = Sampling.dsirWeights(covered, "doc_id", "text", "is_tgt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = Sampling.dsirWeights(covered, "doc_id", "text", "is_tgt",
        statsSixteenths = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sampled == exact, s"sampled: $sampled\nexact: $exact")
    // a corpus NOT covered by the slice: every doc still gets a weight
    // (the full corpus is weighted; only the STATS are sampled) and the
    // result is deterministic across invocations
    val general = (0L until 40L).map(i =>
        (i, s"word${i % 7} word${i % 5} word${i % 3}", i % 4 == 0))
      .toDF("doc_id", "text", "is_tgt")
    val w1 = Sampling.dsirWeights(general, "doc_id", "text", "is_tgt",
        statsSixteenths = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w2 = Sampling.dsirWeights(general, "doc_id", "text", "is_tgt",
        statsSixteenths = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 == w2)
    assert(w1.keySet == (0L until 40L).toSet)
  }

  test("dsirWeights sampled-stats mode: buckets the sample never saw keep " +
      "the smoothed score, so every doc keeps a weight") {
    // six docs inside the hashSample(_, 4) slice train the stats; six
    // outside it speak words the slice never saw. With 2^20 buckets their
    // grams land in buckets with no stats: each occurrence scores the
    // smoothed unseen-bucket value ln((tr+B)/(tt+B)), quantized
    val (inside, outside) = spark.range(0, 400)
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).partition(_._2 < 4)
    val trained = inside.take(6).map(_._1).zipWithIndex.map { case (id, i) =>
      (id, Seq("alpha beta gamma", "beta gamma", "gamma delta epsilon")(i % 3), i % 2 == 0)
    }
    val unseen = outside.take(6).map(_._1).map(id => (id, s"novel$id unseen$id", false))
    val df = (trained ++ unseen).toSeq.toDF("doc_id", "text", "is_tgt")
    val buckets = 1 << 20
    val w = Sampling.dsirWeights(df, "doc_id", "text", "is_tgt", buckets = buckets,
        statsSixteenths = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.keySet == (trained ++ unseen).map(_._1).toSet, w.toString)
    // n words make n unigrams + (n - 1) bigrams
    def grams(t: String): Int = 2 * t.split(' ').length - 1
    val tr = trained.map(d => grams(d._2)).sum
    val tt = trained.filter(_._3).map(d => grams(d._2)).sum
    val unseenMicro = math.round((math.log(tr + buckets) - math.log(tt + buckets)) * 1e6)
    for ((id, _, _) <- unseen) assert(w(id) == 3 * unseenMicro, s"doc $id: ${w(id)}")
  }
}
