package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.TopicRegistry
import graft.sql.GraftSql

final case class Metric(value: Double, unit: String, n: Int)

/** What a workload reports: ops attempted, ops that failed or returned a
  * wrong result, and its metrics by name. */
final class Result {
  /** The tail percentile every workload reports: the highest one that
    * consume_interactive's 40 calls (its fewest in a run) hold 10 samples
    * beyond. */
  val Tail = 75.0

  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Median and tail of an op's latencies (ms). The tail is left out, and
    * the run then lacks a metric, when too few samples lie beyond it. */
  def latencies(xs: Seq[Double]): Unit = {
    e2e.put("op_p50_ms", Metric(Stats.median(xs), "ms", xs.size))
    if (xs.size >= Stats.samplesFor(Tail)) e2e.put("op_p75_ms", Metric(Stats.percentile(xs, Tail), "ms", xs.size))
    else notes += s"op_p75_ms needs ${Stats.samplesFor(Tail)} samples, the run made ${xs.size}"
  }

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
  }
}

/** Everything a workload may use besides the session. */
final class Env(val seed: Long, val seconds: Int, val inputs: Inputs, val work: Path,
                val cpus: Int, val tracer: Tracer) {
  /** Listener totals over the measured window (attached after set-up). */
  val totals: SparkTotals = new SparkTotals
  def baseDir: String = inputs.dir.toString
}

trait Workload {
  /** The first op, run cold inside every set-up repetition. */
  def firstOp(spark: SparkSession, env: Env, rep: Int): Unit
  /** Tears down what firstOp left running, unless the run goes on with it. */
  def endSetup(last: Boolean): Unit = ()
  /** Untimed runs after set-up, so the window does not price first-run
    * code generation the set-up did not already pay. */
  def warmUp(spark: SparkSession, env: Env): Unit = ()
  /** The measured closed or open loop; fills `out`. */
  def run(spark: SparkSession, env: Env, out: Result): Unit
  /** Isolation probes and per-layer figures (traced run only). */
  def layers(spark: SparkSession, env: Env, out: Result): Unit
}

/** Benchmark JVM entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --inputs <dir> --work <dir> [--cpus <n>]`.
  * `--inputs` is the directory [[Gen]] made for the seed; this JVM only
  * reads it. Prints every metric it measured by name, unit and sample
  * count, then one JSON result line last. */
object Main {
  val SetupReps = 3

  val workloads: Map[String, () => Workload] = Map(
    "consume_interactive" -> (() => new Interactive),
    "topic_bulk" -> (() => new Bulk),
    "stream_live" -> (() => new StreamLive))

  def session(env: Env): SparkSession = {
    val local = env.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = graft.Bench.sessionWith(env.cpus.toString, Map(
      "spark.local.dir" -> local.toString,
      "spark.sql.warehouse.dir" -> env.work.resolve("warehouse").toString,
      GraftSql.DataDirKey -> env.baseDir,
      // stream_live sums every trigger's input rows from recentProgress
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
      TopicRegistry.confKey("vehicles") -> "offset,ts,value",
      TopicRegistry.confKey(StreamLive.Topic) -> "offset,ts,value"))
    GraftSql.register(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit =
    try { bench(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def bench(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val wl = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name (${workloads.keys.mkString(", ")})"))()
    val traced = a.getOrElse("trace", "0") == "1"
    val seed = a("seed").toLong
    val env = new Env(seed, a("seconds").toInt,
      Inputs.load(Paths.get(a("inputs"))),
      Paths.get(a("work")), a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      new Tracer(traced))
    val out = new Result
    val marks = mutable.ArrayBuffer.empty[(String, Long)]
    def mark(what: String): Unit = marks += (what -> System.nanoTime())
    mark("inputs")

    // ---- set-up, repeated: session build, register, the first (cold) op
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark = session(env)
      wl.firstOp(spark, env, rep)
      setups += (System.nanoTime() - t0) / 1e9
      val last = rep == SetupReps - 1
      wl.endSetup(last)
      if (!last) stop(spark)
    }

    wl.warmUp(spark, env)
    // the set-up's garbage is collected now, not at a point in the window
    // that differs from run to run
    System.gc()
    mark("set-up")
    val cal = mutable.ArrayBuffer.empty[Double]
    def calibrate(): Unit = cal += graft.Bench.timeNoop(graft.Bench.calibrationDf(spark))
    calibrate() // compiles the calibration job, so the samples time the host
    cal.clear()
    calibrate()

    env.totals.attach(spark)
    val streams = new StreamTotals(env.tracer)
    spark.streams.addListener(streams)
    mark("calibration")
    val footer0 = graft.sources.v2.FluvioDsv2.footerParses.get
    val t0 = System.nanoTime()
    wl.run(spark, env, out)
    val wallS = (System.nanoTime() - t0) / 1e9
    mark("window")
    calibrate()
    if (traced) {
      Layers.spark(env, out, wallS, streams.triggers.asScala.count(_.inputRows > 0))
      Layers.streaming(streams, out)
      out.layer.put("sources.v2.footer_parses",
        Metric((graft.sources.v2.FluvioDsv2.footerParses.get - footer0).toDouble, "count", 1))
      wl.layers(spark, env, out)
      calibrate()
    }
    spark.streams.removeListener(streams)
    env.totals.detach(spark)
    stop(spark)
    mark("probes, stop")

    out.e2e.put("setup_s", Metric(Stats.median(setups), "s", setups.size))
    out.e2e.put("rss_peak_mb", Metric(vmHwmMb(), "MB", 1))

    // ---- report
    val errorRatio = if (out.attempted > 0) out.failed.toDouble / out.attempted else 1.0
    println(f"workload $name seed $seed seconds ${env.seconds} trace ${if (traced) 1 else 0}")
    println(f"measured window ${wallS}%.3f s on ${env.cpus} cores; set-up runs ${setups.map(s => f"$s%.3f").mkString(", ")} s")
    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println("timeline (s): " + marks.map { case (w, t) => f"$w ${(t - marks.head._2) / 1e9}%.1f" }.mkString(", ") +
      f" (JVM up ${(System.currentTimeMillis() - jvm0) / 1e3}%.1f)")
    println(s"calibration samples (start, end of window, after probes) s: ${cal.map(c => f"$c%.3f").mkString(", ")}")
    println(f"error_ratio = $errorRatio%.6f fraction (failed ${out.failed} of ${out.attempted} ops)")
    out.failures.foreach(n => println(s"  failure: $n"))
    out.notes.foreach(n => println(s"  $n"))
    val reported = if (traced) out.layer else out.e2e
    if (traced) {
      // where the op time went: self time per span name, largest first
      val spans = env.tracer.spans
      val self = Span.selfTimes(spans)
      println("self time by span (traced ops, probes and triggers):")
      for ((n, ss) <- spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum))
        println(f"  span $n%-34s ${ss.map(s => self(s.id)).sum / 1e6}%12.1f ms (n=${ss.size})")
    }
    for ((k, m) <- out.e2e ++ (if (traced) out.layer else Nil))
      println(f"$k%-44s ${num(m.value)}%16s ${m.unit}%-10s (n=${m.n})")
    val metrics = reported.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
  }
}
