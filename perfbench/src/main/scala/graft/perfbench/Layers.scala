package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run that come from the listeners: the
  * `spark` layer (engine-side work) and the `streaming` layer. The full
  * list, with units, is `per_layer` in BENCHMARK.json; a layer that does
  * no work on a workload is left out here and reported as 0 by run.py. */
object Layers {
  /** Engine-side totals of the measured window: plan phases per action,
    * and jobs/stages/tasks and task metrics per op (job group), or per
    * data trigger on a streaming workload. */
  def spark(env: Env, out: Result, wallS: Double, triggers: Int): Unit = {
    val t = env.totals
    t.flush(org.apache.spark.sql.SparkSession.active)
    for ((phase, k) <- Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms", "planning" -> "planning_ms");
         xs <- t.phases.get(phase) if xs.nonEmpty)
      out.layer.put(s"spark.$k", Metric(Stats.median(xs), "ms", xs.size))
    val ops = t.groupIds.map(t.group).filter(_.jobs > 0)
    def put(k: String, unit: String, f: TaskTotals => Double): Unit =
      if (triggers > 0) out.layer.put(s"spark.$k", Metric(f(t.all) / triggers, unit, triggers))
      else if (ops.nonEmpty) out.layer.put(s"spark.$k", Metric(Stats.median(ops.map(f)), unit, ops.size))
    put("jobs", "count", _.jobs.toDouble)
    put("stages", "count", _.stages.toDouble)
    put("tasks", "count", _.tasks.toDouble)
    put("executor_run_ms", "ms", _.runMs.toDouble)
    put("executor_cpu_ms", "ms", _.cpuNs / 1e6)
    put("gc_ms", "ms", _.gcMs.toDouble)
    put("shuffle_write_mb", "MB", _.shuffleWriteBytes / 1048576.0)
    put("spill_mb", "MB", _.spillBytes / 1048576.0)
    out.layer.put("spark.driver_share",
      Metric(1.0 - t.all.runMs / (wallS * 1000.0 * env.cpus), "fraction", 1))
  }

  /** Trigger phases and state, from the streaming progress events. */
  def streaming(st: StreamTotals, out: Result): Unit = {
    val trig = st.triggers.asScala.toSeq.filter(_.inputRows > 0)
    if (trig.isEmpty) return
    out.notes += "triggers (ms, total/addBatch/state commit): " +
      trig.map(t => s"${t.durations.getOrElse("triggerExecution", 0L)}/${t.durations.getOrElse("addBatch", 0L)}/${t.stateCommitMs}").mkString(" ")
    def put(k: String, unit: String, xs: Seq[Double]): Unit =
      if (xs.nonEmpty) out.layer.put(s"streaming.$k", Metric(Stats.median(xs), unit, xs.size))
    for ((ph, k) <- Seq("triggerExecution" -> "trigger_ms", "latestOffset" -> "latest_offset_ms",
           "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
           "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms"))
      put(k, "ms", trig.flatMap(_.durations.get(ph)).map(_.toDouble))
    out.layer.put("streaming.triggers", Metric(trig.size, "count", trig.size))
    put("records_per_trigger", "records", trig.map(_.inputRows.toDouble))
    out.layer.put("streaming.state_rows", Metric(trig.map(_.stateRows).max.toDouble, "count", trig.size))
    put("state_commit_ms", "ms", trig.map(_.stateCommitMs.toDouble))
    out.layer.put("streaming.state_memory_mb",
      Metric(trig.map(_.stateMemoryBytes).max / 1048576.0, "MB", trig.size))
  }
}
