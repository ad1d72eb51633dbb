package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The operators layer: the corpus entries of `SparkEntry.queries`, run on
  * the committed fixture copy in `data/corpus` as an isolation probe of the
  * topic_bulk traced run (no consume layer runs in them). Each entry runs
  * twice in a seeded order, cold then warm; the warm run is reported. Every
  * result must hash to the value in `oracle/corpus_hashes.json`, made once
  * from the DuckDB oracle by `oracle/make_hashes.py`. */
object Corpus {
  val Entries = Seq("pipeline_clean_corpus_v5", "corpus_dedup_curve", "dedup_clusters",
    "text_fuzzy_pairs", "text_bm25_rank", "sample_dsir", "emb_label_noise_ann",
    "graph_pagerank", "multimodal_features", "q1_pricing_summary")

  /** Copies of the oracle-checked fixture tables, committed beside the benchmark. */
  val DataDir: Path = Paths.get("perfbench/data/corpus").toAbsolutePath
  val HashFile: Path = Paths.get("perfbench/oracle/corpus_hashes.json")

  private lazy val expected: Map[String, String] = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(HashFile))
    j.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  /** Runs one entry under its own op; None when its result hash is right. */
  def runEntry(spark: SparkSession, env: Env, e: String): Option[String] =
    env.tracer.op(spark, s"operators.$e") {
      val df = env.tracer.span("operators.build")(graft.SparkEntry.queries(e)(spark, DataDir.toString))
      env.tracer.span("spark.plan")(df.queryExecution.executedPlan)
      val rows = env.tracer.span("spark.execute")(df.collect())
      val got = hash(df.schema.fieldNames.toSeq, rows.toSeq)
      if (expected.get(e).contains(got)) None
      else Some(s"result hash $got, expected ${expected.getOrElse(e, "none")}")
    }

  def probe(spark: SparkSession, env: Env, out: Result): Unit = {
    val order = shuffled(env.seed)
    val last = mutable.Map.empty[String, Long]
    for (_ <- 0 until 2; e <- order) {
      try runEntry(spark, env, e).foreach(why => out.fail(s"$e: $why"))
      catch { case x: Exception => out.fail(s"$e: ${x.getClass.getSimpleName}: ${x.getMessage}") }
      out.attempted += 1
      last(e) = env.tracer.spans.filter(s => s.parent == 0 && s.name == s"operators.$e").map(_.id).max
    }
    env.totals.flush(spark)
    val roots = env.tracer.spans.filter(_.parent == 0).map(s => s.id -> s).toMap
    for ((e, id) <- last) {
      val g = env.totals.group(id.toString)
      def put(k: String, v: Double, unit: String): Unit = out.layer.put(s"operators.$e.$k", Metric(v, unit, 1))
      put("wall_s", roots(id).durNs / 1e9, "s")
      put("cpu_s", g.cpuNs / 1e9, "s")
      put("shuffle_mb", g.shuffleWriteBytes / 1048576.0, "MB")
      put("spill_mb", g.spillBytes / 1048576.0, "MB")
      put("stages", g.stages.toDouble, "count")
    }
  }

  def shuffled(seed: Long): Seq[String] = {
    val r = new java.util.SplittableRandom(seed * 104729L + 1)
    Entries.map(e => (r.nextLong(), e)).sortBy(_._1).map(_._2)
  }

  /** Order-insensitive result hash shared with `oracle/make_hashes.py`:
    * columns in name order; an integer as itself and any other number as
    * the exact value of its nearest double — the precision the DuckDB
    * oracle gate compares at — so equal values of different numeric types
    * hash alike; strings length-prefixed; one SHA-256 per row, sorted,
    * then hashed. */
  def hash(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val digests = rows.map { r =>
      sha(order.map(i => canon(r.get(i))).mkString("|"))
    }.sorted
    sha(columns.sorted.mkString(",") + "\n" + digests.mkString("\n"))
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  private def real(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else dec(new java.math.BigDecimal(d))

  def canon(v: Any): String = v match {
    case null                    => "N"
    case b: Boolean              => if (b) "T" else "F"
    case x: Byte                 => x.toString
    case x: Short                => x.toString
    case x: Int                  => x.toString
    case x: Long                 => x.toString
    case x: Float                => real(x.toDouble)
    case x: Double               => real(x)
    case x: java.math.BigDecimal => real(java.lang.Double.parseDouble(x.toString))
    case s: String               => s"S${s.getBytes(UTF_8).length}:$s"
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case r: Row                  => r.toSeq.map(canon).mkString("(", ",", ")")
    case other =>
      throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }

  /** Writes the oracle SQL of [[Entries]] as JSON, for `oracle/make_hashes.py`. */
  def main(args: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val sql = Entries.map(e => e -> graft.SparkEntry.oracleSql(e)).toMap.asJava
    Files.writeString(Paths.get(args(0)), m.writerWithDefaultPrettyPrinter().writeValueAsString(sql))
  }
}
