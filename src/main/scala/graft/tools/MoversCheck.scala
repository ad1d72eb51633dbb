package graft.tools

/** Mechanical disposition of driver-bench "movers" (VERDICT r12 task 4).
  *
  * Problem: the driver's per-round bench runs on a host with roaming
  * 25-40 s stall windows; entries that cross the mover line
  * (>1.5x last round AND >0.3 s absolute) on a noisy run used to be
  * adjudicated in PERF.md prose. This tool re-times a NAMED entry list
  * in a quiet window under the exact bench session/methodology
  * (interleaved passes, min-of-N, start/mid/end host calibration) and
  * emits a machine-readable `movers_disposition.json`:
  *
  *   - `noise`: the quiet-window min is within 1.25x of the baseline
  *     min (or within 0.3 s absolute) — the driver reading was host
  *     noise, nothing to fix;
  *   - `regression_suspect`: the quiet-window min itself moved — a real
  *     plan/code change; investigate.
  *
  * Usage:
  *   sbt "runMain graft.tools.MoversCheck [baselineJson] [out.json] [sfDir] [e1,e2,...]"
  * Defaults: baseline = bench_full.json (the committed round-close
  * bench), out = movers_disposition.json, sf0.1, and the r12 driver
  * mover list. The baseline file must carry a `"queries":{name:sec}`
  * map (the bench_full.json shape).
  */
object MoversCheck {

  /** The 16-entry r12 driver-rerun mover list (BENCH_r12.json vs r11,
    * >1.5x & >0.3 s), reconstructed from the judge's diff: the movers
    * clustered in alphabetical runs — the roaming-stall-window
    * signature — plus the two largest named explicitly. */
  val R12Movers: Seq[String] = Seq(
    "dedup_passage", "dedup_passage_clean", "dedup_passage_store_hits",
    "dedup_simhash", "dedup_simhash_dups", "dedup_simhash_portable",
    "dedup_source_leakage", "pipeline_clean_corpus_v5", "pipeline_funnel",
    "sessionize", "sessionize_stats",
    "sketch_cms_estimates", "sketch_cms_portable",
    "smartmodule_named", "smartmodule_params", "text_quality_score")

  /** Per-query seconds from any bench-shaped artifact: a full
    * bench_full.json line (`"queries":{...}`), a driver BENCH_r*.json
    * wrapper (`"parsed"`/`"tail"` — the tail is a clipped suffix of the
    * full line, so parse every "name":number pair out of it), or raw
    * text. Best-effort by design: the driver's tail capture truncates
    * from the FRONT, so a tail-only artifact yields a SUFFIX of the
    * query map — callers comparing movers get the recoverable subset. */
  private def benchQueries(path: String): Map[String, Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      val root = mapper.readTree(txt)
      val q = root.get("queries")
      if (q != null && !q.isNull) {
        import scala.jdk.CollectionConverters._
        return q.properties().asScala
          .filterNot(_.getValue.isNull)
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      }
      val tail = root.get("tail")
      if (tail != null) return parsePairs(tail.asText())
    } catch { case _: Exception => () }
    parsePairs(txt)
  }

  private def parsePairs(s: String): Map[String, Double] =
    """"([a-z0-9_]+)":([0-9]+\.[0-9]+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def main(args: Array[String]): Unit = {
    val baselinePath = args.lift(0).getOrElse("bench_full.json")
    val outPath = args.lift(1).getOrElse("movers_disposition.json")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    // entries: an explicit comma list, or `auto:<benchArtifact>` —
    // extract the mover line (>1.5x baseline AND >0.3 s) from a driver
    // BENCH_r*.json / bench_full.json mechanically, so a round's
    // disposition is ONE command with no hand-copied list
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "4").toInt.max(2)

    // baseline minima from the bench_full.json-shaped line
    val baseline = benchQueries(baselinePath)
    require(baseline.nonEmpty, s"$baselinePath has no per-query times")
    def baselineOf(name: String): Option[Double] = baseline.get(name)

    val entries = args.lift(3) match {
      case Some(spec) if spec.startsWith("auto:") =>
        val probe = benchQueries(spec.stripPrefix("auto:"))
        val movers = probe.collect {
          case (k, v) if baseline.get(k).exists(b => v > 1.5 * b && v - b > 0.3) => k
        }.toSeq.sorted
        System.err.println(
          s"[movers] auto-extracted ${movers.size} movers: ${movers.mkString(",")}")
        movers
      case Some(spec) => spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => R12Movers
    }
    require(entries.nonEmpty, "no movers to disposition (auto list empty)")

    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // warm-up outside the timed region (codegen + calibration plan)
    graft.SparkEntry.queries.get(entries.head)
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))
    graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))

    val ordered = entries.flatMap(n => graft.SparkEntry.queries.get(n).map(n -> _))
    val missing = entries.filterNot(n => graft.SparkEntry.queries.contains(n))
    if (missing.nonEmpty)
      System.err.println(s"[movers] unknown entries skipped: ${missing.mkString(",")}")
    val passTimes = Array.fill(runs)(
      scala.collection.mutable.Map.empty[String, Double])
    val cal = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mid = ordered.size / 2
    for (pass <- 0 until runs) {
      cal += graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))
      for (((name, fn), i) <- ordered.zipWithIndex) {
        if (i == mid) cal += graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        passTimes(pass)(name) = (System.nanoTime() - t0) / 1e9
      }
      cal += graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))
    }
    val sortedCal = cal.sorted
    val calNominal = sortedCal(sortedCal.size / 2)
    val stallRatio = if (calNominal > 0) cal.max / calNominal else 0.0

    val entriesJson = ordered.map { case (name, _) =>
      val ps = (0 until runs).flatMap(p => passTimes(p).get(name))
      val m = ps.min
      val b = baselineOf(name)
      val (ratio, disp) = b match {
        case Some(base) if base > 0 =>
          val r = m / base
          (f"$r%.3f",
            if (r <= 1.25 || m - base <= 0.3) "noise" else "regression_suspect")
        case _ => ("null", "no_baseline")
      }
      val passList = ps.map(v => f"$v%.3f").mkString("[", ",", "]")
      "\"" + name + "\":" +
        f"""{"baseline":${b.map(v => f"$v%.3f").getOrElse("null")},"min":$m%.3f,"ratio":$ratio,"passes":$passList,"disposition":"$disp"}"""
    }.mkString("{", ",", "}")
    val suspects = ordered.count { case (name, _) =>
      val ps = (0 until runs).flatMap(p => passTimes(p).get(name))
      baselineOf(name).exists(b =>
        b > 0 && ps.min / b > 1.25 && ps.min - b > 0.3)
    }
    val calJson = f"""{"samples":${cal.map(v => f"$v%.3f").mkString("[", ",", "]")},"nominal":$calNominal%.3f,"stall_ratio":$stallRatio%.2f}"""
    val out =
      f"""{"baseline":"$baselinePath","sf":"$sfDir","runs":$runs,"calibration":$calJson,"n_entries":${ordered.size},"n_regression_suspects":$suspects,"entries":$entriesJson}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
