package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.MpFixture
import graft.sources.v2.FluvioTableProvider

/** A/B of the stateful-dedup state-store tax (VERDICT r12 task 3):
  * watermarked `dropDuplicatesWithinWatermark` drains at ~27k rec/s vs
  * 440k pass-through — a 16x gap measured but never attributed. This
  * tool times the SAME stateful drain under candidate state configs:
  *
  *   - `hdfs32`: the shipped default — HDFSBackedStateStoreProvider,
  *     32 shuffle (= state) partitions;
  *   - `hdfs8`: fewer state partitions (less per-partition store
  *     open/commit overhead; state partitioning is fixed at the first
  *     batch, so this is a DEPLOY-TIME choice);
  *   - `rocksdb`: RocksDBStateStoreProvider;
  *   - `rocksdb_changelog`: RocksDB + changelog checkpointing (commit
  *     cost amortized into the changelog instead of full snapshots).
  *
  * Each variant runs `reps` times on a FRESH session (provider and
  * partition count bind at query start) over the same 4-partition
  * 100k-record fixture; min busy-seconds per variant is the number to
  * compare (min-of-N host-noise discipline). Emits one JSON line +
  * `state_tune.json`.
  */
object StateTune {

  /** One full drain; returns (busy seconds, rows drained). */
  private def drainOnce(spark: SparkSession, mpBase: String): (Double, Long) = {
    val ckpt = java.nio.file.Files.createTempDirectory("state_tune_ckpt_")
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingDedup.exactByFingerprint(
        spark.readStream.format(classOf[FluvioTableProvider].getName)
          .option("cmd", "events_mp -B -A").option("baseDir", mpBase).load(),
        "value", "timestamp", "87600 hours")
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val busy = q.recentProgress.toSeq.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L))
      .sum / 1000.0
    val rows = q.recentProgress.toSeq.map(_.numInputRows).sum
    q.stop()
    java.nio.file.Files.walk(ckpt)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    val wall = (System.nanoTime() - t0) / 1e9
    (math.min(busy.max(0.001), wall), rows)
  }

  /** Shuffle partitions are the state partitions, fixed at the first
    * batch — the variant axis besides the provider confs. */
  private def session(partitions: Int, confs: Map[String, String]): SparkSession =
    graft.Bench.sessionWith("32", Map(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000") ++ confs)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // r15 (VERDICT r13 task 5 / r14 task 8): optional LARGE-STATE leg —
    // a second fixture dir whose events table is ~10× the primary's
    // (fixtures/sf1), so the state store holds ~1M distinct fingerprints
    // instead of ~100k; the HDFS-backed store keeps all state on the
    // heap per partition, RocksDB spills — this leg measures where the
    // crossover sits instead of extrapolating it.
    val largeDir = args.headOption
    val reps = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(2)
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val variants: Seq[(String, Int, Map[String, String])] = Seq(
      ("hdfs32", 32, Map.empty),
      ("hdfs8", 8, Map.empty),
      ("rocksdb", 32, Map(
        "spark.sql.streaming.stateStore.providerClass" -> rocks)),
      ("rocksdb_changelog", 32, Map(
        "spark.sql.streaming.stateStore.providerClass" -> rocks,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")))
    // large-state leg: the deploy-relevant pair only (the shipped
    // 8-partition HDFS point vs RocksDB at the same partitioning —
    // provider is the axis under test, partitions held at the r13 pin)
    val largeVariants: Seq[(String, Int, Map[String, String])] = Seq(
      ("hdfs8_large", 8, Map.empty),
      ("rocksdb8_large", 8, Map(
        "spark.sql.streaming.stateStore.providerClass" -> rocks)),
      ("rocksdb8_changelog_large", 8, Map(
        "spark.sql.streaming.stateStore.providerClass" -> rocks,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")))
    def run(dir: String, vs: Seq[(String, Int, Map[String, String])]) =
      vs.map { case (name, parts, confs) =>
        val spark = session(parts, confs)
        val mpBase = MpFixture.baseDir(spark, dir)
        // per-variant warm-up drain (codegen + provider class-load), then
        // timed reps
        drainOnce(spark, mpBase)
        val runs = (1 to reps).map(_ => drainOnce(spark, mpBase))
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        (name, runs.map(_._1), runs.head._2)
      }
    val results = run(sfDir, variants) ++
      largeDir.toSeq.flatMap(d => run(d, largeVariants))
    val json = results.map { case (name, times, records) =>
      val mn = times.min
      "\"" + name + "\":" +
        f"""{"busy_secs_min":$mn%.3f,"records_per_sec":${records / mn}%.0f,"records":$records,"reps":${times.map(t => f"$t%.3f").mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val largeJson = largeDir.map(d => s""","large_sf":"$d"""").getOrElse("")
    val line = s"""{"metric":"state_tune","sf":"$sfDir"$largeJson,"variants":$json}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get("state_tune.json"),
      (line + "\n").getBytes("UTF-8"))
  }
}
