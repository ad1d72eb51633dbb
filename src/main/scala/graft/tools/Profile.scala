package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Profile named SparkEntry queries on the bench session config:
  *
  *   sbt "runMain graft.tools.Profile <sfDir> q1[,q2,...] [planDir]"
  *
  * Each entry runs twice and the SECOND run is reported, so one-time
  * artifact builds (artifactDir caches) and codegen warm-up stay out of
  * the numbers: wall time, and the jobs / stages / tasks / shuffle-write
  * bytes the whole entry schedules. Operators whose cost is driver-side
  * iteration (pagerank, power iteration, CC, BPE) show only their last
  * assembled query in a plan, so these counts are their evidence.
  *
  * A run executes the entry's own QueryExecution and drops the rows on
  * the executors (nothing is collected to the driver), so the plan read
  * afterwards is AQE's final runtime plan (isFinalPlan=true), with the
  * stage reuse that explain() before execution understates. The formatted
  * plan goes to stdout, or to `planDir/<q>.txt`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val planDir = args.lift(2)
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    val jobs, stages, tasks, shuffleWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    def run(name: String): (Double, DataFrame) = {
      // the listener bus is asynchronous: a short sleep lets the
      // previous run's events land before the counters reset
      Thread.sleep(500)
      Seq(jobs, stages, tasks, shuffleWrite).foreach(_.set(0))
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      ((System.nanoTime() - t0) / 1e9, df)
    }
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    for (name <- names) {
      run(name)
      val (t, df) = run(name)
      Thread.sleep(500)
      val plan = df.queryExecution.explainString(FormattedMode)
      planDir match {
        case Some(d) => Files.writeString(Paths.get(d, s"$name.txt"), plan)
        case None => println(plan)
      }
      println(f"[profile] $name%-28s t=$t%7.2f s jobs=${jobs.get}%4d stages=${stages.get}%4d " +
        f"tasks=${tasks.get}%6d shuffleWriteMB=${shuffleWrite.get / 1e6}%9.2f " +
        s"isFinalPlan=${plan.contains("isFinalPlan=true")}")
    }
    spark.stop()
  }
}
