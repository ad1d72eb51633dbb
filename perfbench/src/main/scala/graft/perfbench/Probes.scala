package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.OrderedCap
import graft.sources.ColumnMapping
import graft.sources.v2.{FluvioDsv2, FluvioInputPartition, FluvioTableProvider}
import graft.transforms.TransformRegistry

/** Isolation probes of the traced run: each calls one module's public
  * functions on the workload's own inputs, under its own op (job group),
  * so its time and task metrics belong to that layer alone. */
object Probes {
  val Reps = 3

  private def props(env: Env, cmd: String): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("cmd", cmd); m.put("baseDir", env.baseDir)
    m
  }

  /** `FluvioBatch.planInputPartitions` through the provider's ScanBuilder. */
  private def plan(env: Env, cmd: String): Array[InputPartition] = {
    val p = props(env, cmd)
    new FluvioTableProvider().getTable(FluvioDsv2.Schema, Array.empty, p).asInstanceOf[SupportsRead]
      .newScanBuilder(new CaseInsensitiveStringMap(p)).build().toBatch.planInputPartitions()
  }

  /** Segment files a consume's batch scan opens. */
  private def planned(env: Env, cmd: String): Seq[String] =
    plan(env, cmd).toSeq.map(_.asInstanceOf[FluvioInputPartition].path).distinct

  /** Planning time and input partitions of the given consume commands. */
  def planPartitions(spark: SparkSession, env: Env, out: Result, cmds: Seq[String]): Unit = {
    val timed = cmds.map { cmd =>
      val t0 = System.nanoTime()
      val n = env.tracer.op(spark, "probe.plan")(env.tracer.span("sources.v2.plan")(plan(env, cmd).length))
      ((System.nanoTime() - t0) / 1e6, n.toDouble)
    }
    out.layer.put("sources.v2.plan_partitions_ms", Metric(Stats.median(timed.map(_._1)), "ms", timed.size))
    out.layer.put("sources.v2.input_partitions", Metric(Stats.median(timed.map(_._2)), "count", timed.size))
  }

  /** The record path of topic_bulk, layer by layer, on partition 0: the
    * raw DSv2 scan, `-c` decode over cached values, the jolt and filter
    * transforms and the `OrderedCap` over cached records. */
  def recordPath(spark: SparkSession, env: Env, out: Result): Unit = {
    val rows = env.inputs.leo(0)
    val raw = () => spark.read.format("fluvio")
      .option("cmd", s"vehicles -p 0 -B --rows $rows").option("baseDir", env.baseDir).load()
    val (scanS, scan) = timedOp(spark, env, "probe.scan", raw())
    out.layer.put("sources.v2.scan_records_per_s", Metric(rows / scanS, "records/s", Reps))
    out.layer.put("sources.v2.scan_cpu_ms", Metric(scan.cpuNs / 1e6, "ms", Reps))
    // bytes of the segments the scan opens, per row it delivers: a segment
    // opened for a few rows, or read whole for one column, costs all of it
    val opened = planned(env, s"vehicles -p 0 -B --rows $rows").map(p => new java.io.File(p).length).sum
    out.layer.put("sources.v2.bytes_read_per_row", Metric(opened.toDouble / rows, "B/row", 1))

    val recs = raw().select("offset", "timestamp", "value").cache()
    recs.count()
    try {
      val maps = Seq("route:s=route", "speed:d=VP.spd", "veh:l=VP.veh").map { m =>
        val Array(l, r) = m.split("=", 2)
        ColumnMapping.parse(l, r).fold(e => throw new IllegalArgumentException(e), identity)
      }
      val (decS, dec) = timedOp(spark, env, "probe.decode",
        recs.withColumn("__parsed", ColumnMapping.parsed(col("value")))
          .select(maps.map(_.toColumnFromParsed(col("__parsed"), col("value"))): _*))
      out.layer.put("functions.decode_records_per_s", Metric(rows / decS, "records/s", Reps))
      out.layer.put("functions.decode_cpu_ms", Metric(dec.cpuNs / 1e6, "ms", Reps))

      val spec = """[{"operation":"shift","spec":{"route":"route","VP":{"spd":"speed","veh":"vehicle"}}}]"""
      val (joltS, _) = timedOp(spark, env, "probe.jolt",
        TransformRegistry("infinyon/jolt@0.1.0")(recs, Map("spec" -> spec)))
      out.layer.put("transforms.jolt_records_per_s", Metric(rows / joltS, "records/s", Reps))
      val filter = Map("key" -> "route", "value" -> Gen.routeName(Bulk.FilterRoute))
      val (filtS, _) = timedOp(spark, env, "probe.filter", TransformRegistry("graft/filter-json-eq")(recs, filter))
      out.layer.put("transforms.filter_records_per_s", Metric(rows / filtS, "records/s", Reps))
      val filtered = TransformRegistry("graft/filter-json-eq")(recs, filter).cache()
      val kept = filtered.count()
      val (capS, cap) = timedOp(spark, env, "probe.cap", OrderedCap.byKey(filtered, "offset", kept / 2))
      out.layer.put("plans.ordered_cap_ms", Metric(capS * 1000, "ms", Reps))
      out.layer.put("plans.ordered_cap_stages", Metric(cap.stages.toDouble, "count", Reps))
      filtered.unpersist()
    } finally recs.unpersist()
  }

  /** Median wall (s) of `Reps` noop runs of `df`, and the listener totals
    * of the median run's op. */
  private def timedOp(spark: SparkSession, env: Env, name: String, df: => DataFrame): (Double, TaskTotals) = {
    val runs = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      val id = env.tracer.op(spark, name) {
        env.tracer.span(name)(df.write.format("noop").mode("overwrite").save())
        env.tracer.currentOp
      }
      ((System.nanoTime() - t0) / 1e9, id)
    }
    env.totals.flush(spark)
    val mid = runs.sortBy(_._1).apply(runs.size / 2)
    (mid._1, env.totals.group(mid._2.toString))
  }
}
