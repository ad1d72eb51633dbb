package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf","runs"}.
  *
  * Execution is forced through the noop sink (full pipeline runs, rows are
  * materialized and discarded on executors) — `count()` would let Catalyst
  * prune the work and under-report.
  *
  * Each query is timed SPARK_GRAFT_RUNS times (default 2) and the minimum
  * is reported — steady-state methodology: single-shot timings on this VM
  * showed a roaming ~25-30 s stall window (host/GC noise) landing on a
  * different query every run, inflating one or two otherwise-sub-second
  * entries 10-30×. The min of two passes measures the engine, not the
  * neighbor noise; the run count is carried in the JSON.
  *
  * ENVIRONMENT SELF-DIAGNOSIS (round-9, after BENCH_r08's 149 s driver run
  * of code that measured 106-118 s in two controlled reruns): the artifact
  * itself must distinguish a stalled host from a regression, so the bench
  * now also records
  *   - "calibration": a PINNED fixed-cost workload (map-only native-
  *     expression chain over an in-memory 200,000-row range — no file
  *     I/O, no shuffle; see calibrationDf for why 300 rows was too small
  *     to discriminate stalls from scheduler jitter) timed at the START,
  *     MIDDLE, and END of every pass. The workload never changes between
  *     rounds, so its samples measure the HOST, not the engine:
  *     `stall_ratio` = max/nominal sample. Grading rule (PERF.md):
  *     stall_ratio > 5 ⇒ the host stalled inside the run — rerun instead
  *     of grading round-over-round deltas from this artifact.
  *   - "passes": the per-query time of EVERY pass (the published
  *     "queries" map keeps its min-across-passes meaning). A genuine plan
  *     regression inflates a query in ALL passes; a roaming host stall
  *     inflates one pass only — readable directly from the artifact.
  * Both live in the full line (stdout + bench_full.json); the short
  * tail-safe line carries the stall_ratio verdict.
  */
object Bench {

  /** The pinned calibration workload: constant cost by construction
    * (fixed 200k-row in-memory range, fixed expression chain, fixed 8
    * partitions — independent of sfDir/suite size/query set). Mixes the
    * cheap-query cost components: task scheduling, codegen'd string/hash/
    * regex kernels, and a tiny driver-side plan; no file I/O, no shuffle.
    * Sized to ~0.2 s nominal on this VM: big enough that scheduler
    * jitter (tens of ms) cannot move the stall ratio (a 300-row version
    * measured 15 ms nominal and a healthy run false-alarmed at 4.8×),
    * small enough that 6 samples cost ~1 s of a 100+ s suite — while a
    * 25-30 s host stall window still inflates a landing sample 10-100×. */
  private[graft] def calibrationDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(0, 200000, 1, 8).select(
      sha2(concat_ws(":", col("id"), lit("graft-cal")), 256).as("h"),
      md5(col("id").cast("string")).as("m"),
      regexp_replace(concat(lit("cal_"), col("id")), "[02468]", "x").as("r"))
      .select(length(concat(col("h"), col("m"), col("r"))).as("n"))
  }

  private[graft] def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The one session config. Bench, Verify, every tool, the perfbench
    * JVM and the test `SparkSpec` build their session here, so a number
    * measured anywhere in the repo is measured under the config the bench
    * grades. `extra` holds only the keys a caller must set differently
    * (Verify's ANSI leg, the streaming tools' progress retention and state
    * partition count, the tests' app name); it is applied last. */
  private[graft] def sessionWith(cpus: String,
                                 extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // stock Spark 4 default (ANSI on): parity with the ansi=false
      // coercion leg is proven (full-suite experiment in PERF.md +
      // AnsiParitySpec tripwire), so the engine now pins the default a
      // stock session gets
      .config("spark.sql.ansi.enabled", "true")
      // default threshold is Int.MaxValue: a huge .limit(n) then allocates
      // an n-entry top-k buffer per partition (TakeOrderedAndProject);
      // above this, plans fall back to distributed Sort + GlobalLimit
      .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // TypedImperativeAggregates (MinHashAgg/SimHashAgg) plan as
      // ObjectHashAggregate; the default 128-group threshold degrades any
      // real corpus to per-partition sort-based aggregation
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      // the generated-class cache holds 100 entries by default; a
      // 114-query suite interleaved twice evicts essentially everything
      // between passes, re-paying janino compilation per query per pass
      // (measured: common-105 subtotal 52.8 -> 62.1 s when the suite grew
      // past the cache). A long-lived service JVM would size this the
      // same way.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // fixture tables are single small parquet files; without a lower
      // split size every scan is one input partition and per-row-expensive
      // operators (JSON transforms) run on one core
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session config with nothing changed: the bench itself, ScaleAudit,
    * MoversCheck, Profile and the tuning tools. */
  private[graft] def session(cpus: String): SparkSession =
    sessionWith(cpus, Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runSuite(session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")), sfDir)
  }

  private def runSuite(spark: SparkSession, sfDir: String): Unit = {
    // JVM/codegen warm-up outside the timed region — including the
    // calibration plan, so its first TIMED sample measures the host, not
    // janino compiling the calibration chain itself.
    SparkEntry.queries.get("q1_pricing_summary")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    timeNoop(calibrationDf(spark)); timeNoop(calibrationDf(spark))

    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    // Failed runs are EXCLUDED from the min (a fast throw must not shrink
    // the reported time); a query with zero successful runs reports null
    // and is listed under "failed" instead of contributing 0 to the total.
    //
    // Passes are INTERLEAVED (the whole suite once, then again), not
    // per-query back-to-back reps: this VM has a roaming ~25-30 s
    // host/GC stall window, and back-to-back reps let one window inflate
    // BOTH timings of whichever query it lands on (observed: a 0.5 s
    // query reporting 43 s min-of-2). Separated passes put the window on
    // different queries each time, so the min measures the engine.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    val passTimes = Array.fill(runs)(
      scala.collection.mutable.Map.empty[String, Double])
    // calSamples(pass) = (start, middle, end) host-calibration timings
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mid = ordered.size / 2
    for (pass <- 0 until runs) {
      calSamples += timeNoop(calibrationDf(spark))
      for (((name, fn), i) <- ordered.zipWithIndex) {
        if (i == mid) calSamples += timeNoop(calibrationDf(spark))
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          passTimes(pass)(name) = t
          if (!best.get(name).exists(_ <= t)) best(name) = t
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      calSamples += timeNoop(calibrationDf(spark))
    }
    val results = ordered.map { case (name, _) => name -> best.get(name) }
    // (round-1 per-query clearCache+System.gc hygiene removed: the
    // "suite-position degradation" it papered over was interpreted
    // higher-order-function eval in the shingle path — fixed at the
    // source by the native WordShingles expression; operators no longer
    // cache, so there is nothing to clear.)
    def qmap(m: String => Option[Double]) = ordered.map(_._1).map { k =>
      m(k) match {
        case Some(v) => "\"" + k + f"""\":$v%.3f"""
        case None    => "\"" + k + "\":null"
      }
    }.mkString("{", ",", "}")
    val qs = qmap(best.get)
    val passesJson = passTimes.map(p => qmap(p.get)).mkString("[", ",", "]")
    // nominal = MEDIAN sample (robust: a stall window inflates a minority
    // of the 3·runs samples; min would also work but median additionally
    // absorbs a single anomalously-fast outlier), verdict = max/median.
    val sorted = calSamples.sorted
    val calNominal = sorted(sorted.size / 2)
    val calMax = calSamples.max
    val stallRatio = if (calNominal > 0) calMax / calNominal else 0.0
    val calJson = {
      val samples = calSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
      f"""{"samples":$samples,"per_pass":3,"nominal":$calNominal%.3f,"max":$calMax%.3f,"stall_ratio":$stallRatio%.2f}"""
    }
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // PER-QUERY cross-pass stall flags (round-10, closing the r09
    // "calibration straddle" gap): three calibration samples per pass can
    // miss a roaming 25-40 s stall window that lands between them, so the
    // artifact additionally self-flags every (query, pass) whose time is
    // BOTH >10× the query's own min across passes AND more than 2 s ABOVE
    // that min (t > m + 2.0) — the first condition finds the anomaly, the
    // second keeps scheduler jitter on sub-100 ms entries out. A genuine plan regression
    // inflates ALL passes (min moves, nothing is flagged); a host stall
    // inflates one pass (flagged, and the published min ignores it).
    val passStalls = (for {
      (name, _) <- ordered
      m <- best.get(name).toSeq
      pass <- 0 until runs
      t <- passTimes(pass).get(name).toSeq
      if t > 10 * m && t > m + 2.0
    } yield f"""{"query":"$name","pass":$pass,"time":$t%.3f,"min":$m%.3f}""")
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","runs":$runs,"calibration":$calJson,"pass_stalls":$passStalls,"passes":$passesJson}"""
    // The full JSON line is long (~86 per-query entries) and the driver's
    // tail-capture clipped it in r3 (BENCH_r03.json: parsed=null, truncated
    // total). Three redundant emissions so no capture mode can lose it:
    // the full line to stdout, the same line to bench_full.json, and a
    // SHORT total-only line LAST — short enough to survive any tail clip
    // (carrying the host-health verdict so even a clipped capture can
    // apply the PERF.md stall rule).
    println(full)
    // SPARK_GRAFT_BENCH_OUT overrides the artifact path (bench_sf1.json
    // for the committed sf1 ladder-step bench; default unchanged for the
    // driver's per-round sf0.1 run)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    val nPassStalls = passStalls.count(_ == '{')
    // r15 (VERDICT r14 task 2): the driver's per-round PERF comparison
    // parses the FINAL line only, and for two rounds running it got
    // totals with no per-query map (`prev_bench_ok`/`now_bench_ok`
    // false, `n_common: 0`, empty `scaling`). The final line now also
    // carries the `"queries"` min-across-passes map — an ADDITION at the
    // end of the line (every pre-existing key is unchanged and in the
    // same order, so the r14→r15 total comparison still parses), and at
    // ~7 KB it stays far below the ~90 KB full line whose length is what
    // clipped the r03 capture. The full line (passes, calibration,
    // stall flags) is unchanged above.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","runs":$runs,"n_queries":${results.size},"n_failed":${results.count(_._2.isEmpty)},"cal_nominal":$calNominal%.3f,"cal_stall_ratio":$stallRatio%.2f,"n_pass_stalls":$nPassStalls,"queries":$qs}""")
    spark.stop()
  }
}
