package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The bench session config on SPARK_GRAFT_CPUS cores (default 4), with
    * one leg of its own: ANSI on is the stock Spark 4 default and, since
    * round 11, the engine's pinned default too — every entry is ANSI-CLEAN
    * by construction (guarded divisions, no overflow-prone casts;
    * malformed-input coercions ride try_cast-style kernels), and the
    * full-suite SPARK_GRAFT_ANSI experiment recorded in PERF.md proved
    * both legs return identical rows for all entries.
    * SPARK_GRAFT_ANSI=false re-runs the permissive compatibility leg (the
    * reference's coercion semantics); AnsiParitySpec is the per-build
    * tripwire that the legs stay identical. Shared with tools.VerifyOne. */
  private[graft] def session(): SparkSession = {
    val spark = Bench.sessionWith(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      sys.env.get("SPARK_GRAFT_ANSI").map("spark.sql.ansi.enabled" -> _).toMap)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [name,name,...] — the optional third arg
    // restricts the dump to a comma-separated entry subset (focused
    // oracle re-checks while iterating; the driver always runs the full
    // suite by passing two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // drop per-query cached intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the no-oracle entries' proof map: id -> hash-checked companions
    // (see SparkEntry.oracleProofs) — lets the driver/judge verify the
    // `no_oracle` rows are proven-by-companion, not unchecked
    val proofs = SparkEntry.oracleProofs.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s"${q(k)}: ${v.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_proofs.json"), proofs)
    spark.stop()
  }
}
