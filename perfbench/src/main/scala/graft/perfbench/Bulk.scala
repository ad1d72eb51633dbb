package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** topic_bulk: one client runs a fixed job list over the whole static
  * topic (`-A -B --rows <LEO>`), round after round:
  *   a. the reference's flagship `GROUP BY route, avg(speed)` over nested
  *      `-c` mappings;
  *   b. a jolt `shift` chain, then an aggregate;
  *   c. over partition 0 only, a filter SmartModule chain with an
  *      explicit `--rows`, which goes through the post-transform
  *      `OrderedCap`;
  *   d. a default-column consume into an aggregate on offset and timestamp.
  * Every result is checked against the counts and sums the generator
  * recorded. */
final class Bulk extends Workload {
  import Bulk._

  def firstOp(spark: SparkSession, env: Env, rep: Int): Unit = runJob(spark, env, "d")

  /** Job `job`'s SQL over the window `cmd` (topic and offset flags). */
  private def query(job: String, cmd: String, in: Inputs): String = job match {
    case "a" => s"""SELECT route, avg(speed) AS speed, count(*) AS n, sum(veh) AS veh
      |FROM fluvio_consume('$cmd -c route:s=route -c speed:d=VP.spd -c veh:l=VP.veh')
      |GROUP BY route""".stripMargin
    case "b" => s"""SELECT route, count(*) AS n, sum(vehicle) AS veh
      |FROM fluvio_consume('$cmd ${Interactive.JoltShift} -c route:s=route -c vehicle:l=vehicle')
      |GROUP BY route""".stripMargin
    case "c" => s"SELECT count(*), count(DISTINCT value) FROM fluvio_consume('$cmd --rows ${cap(in)} " +
      s"--smartmodule graft/filter-json-eq -e key=route -e value=${Gen.routeName(FilterRoute)}')"
    case "d" => s"SELECT count(*), sum(offset), min(timestamp), max(timestamp) FROM fluvio_consume('$cmd')"
  }

  /** Job c keeps half of partition 0's records of the filtered route. */
  private def cap(in: Inputs): Long = in.routeHits(0, 0, in.leo(0), FilterRoute) / 2

  /** Topic records a job reads: job c reads partition 0 (its filter and
    * `OrderedCap` cost as much as the other three jobs over all four). */
  private def records(in: Inputs, job: String): Long = if (job == "c") in.leo(0) else in.leo.sum

  /** Runs one job; returns None when the result is right, else why not. */
  def runJob(spark: SparkSession, env: Env, job: String): Option[String] = {
    val in = env.inputs
    val t = env.tracer
    t.op(spark, s"bulk.$job") {
      val cmd = if (job == "c") "vehicles -p 0 -B" else s"vehicles -A -B --rows ${in.leo.max}"
      val df = t.span("sql.resolve")(spark.sql(query(job, cmd, in)))
      t.span("spark.plan")(df.queryExecution.executedPlan)
      val rows = t.span("spark.execute")(df.collect())
      job match {
        case "a" => checkRoutes(in, rows.map(r => (r.getString(0), r.getLong(2), r.getLong(3), Some(r.getDouble(1)))))
        case "b" => checkRoutes(in, rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), None)))
        case "c" =>
          val (n, distinct) = (rows(0).getLong(0), rows(0).getLong(1))
          if (n == cap(in) && distinct == n) None else Some(s"filter cap: $n rows ($distinct distinct), expected ${cap(in)}")
        case "d" =>
          val r = rows(0)
          val offSum = in.leo.map(l => l * (l - 1) / 2).sum
          val maxTs = Gen.BaseMillis + ((in.leo.max - 1) * in.leo.size + in.leo.size - 1) * 7
          val got = (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)
          val want = (in.leo.sum, offSum, Gen.BaseMillis, maxTs)
          if (got == want) None else Some(s"default columns: got $got, expected $want")
      }
    }
  }

  /** Each job once over a small window: the measured round then prices
    * the topic's records, not first-run code generation. */
  override def warmUp(spark: SparkSession, env: Env): Unit =
    for (job <- Jobs) spark.sql(query(job, "vehicles -p 0 -B --end 1999", env.inputs)).collect()

  /** Whole rounds of the job list, one per [[RoundSeconds]] of `--seconds`
    * (at least two, so each job has two samples): every run weighs the
    * jobs alike. */
  def run(spark: SparkSession, env: Env, out: Result): Unit = {
    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val rounds = math.max(2, env.seconds / RoundSeconds)
    for (_ <- 0 until rounds; job <- Jobs) {
      val s = System.nanoTime()
      try runJob(spark, env, job).foreach(why => out.fail(s"job $job: $why"))
      catch { case e: Exception => out.fail(s"job $job: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      wall.getOrElseUpdate(job, mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e9
      out.attempted += 1
    }
    env.totals.flush(spark)
    val tasks = env.totals.all.taskMs.toSeq
    out.latencies(tasks)
    val batchS = wall.values.map(xs => Stats.median(xs)).sum
    out.e2e.put("ops_per_s", Metric(tasks.size / wall.values.flatten.sum, "1/s", tasks.size))
    out.e2e.put("records_per_s",
      Metric(Jobs.map(records(env.inputs, _)).sum / batchS, "records/s", rounds))
    for ((j, xs) <- wall.toSeq.sortBy(_._1))
      out.notes += f"job $j: ${xs.size} runs, median ${Stats.median(xs)}%.3f s over ${records(env.inputs, j)} records"
  }

  def layers(spark: SparkSession, env: Env, out: Result): Unit = {
    Probes.recordPath(spark, env, out)
    Corpus.probe(spark, env, out)
  }
}

object Bulk {
  val Jobs = Seq("d", "a", "b", "c")
  /** `--seconds` per round: a round of the four jobs takes about 9 s on
    * 4 cores. */
  val RoundSeconds = 10
  /** The most frequent route: the filter job keeps about a tenth of the topic. */
  val FilterRoute = 0

  /** Per-route count and vehicle sum must equal the generator's; the mean
    * speed must equal its exact decimal mean up to double rounding. */
  def checkRoutes(in: Inputs, rows: Seq[(String, Long, Long, Option[Double])]): Option[String] = {
    val want = in.routeCount.indices.filter(in.routeCount(_) > 0).map(Gen.routeName).toSet
    if (rows.map(_._1).toSet != want || rows.size != want.size)
      return Some(s"${rows.size} routes, expected ${want.size}")
    val idx = (0 until Gen.Routes).map(i => Gen.routeName(i) -> i).toMap
    rows.collectFirst {
      case (route, n, veh, spd) if {
        val i = idx(route)
        val exp = in.routeSpdCents(i) / 100.0 / in.routeCount(i)
        n != in.routeCount(i) || veh != in.routeVehSum(i) ||
          spd.exists(s => math.abs(s - exp) > 1e-9 * math.max(1.0, exp))
      } => s"route $route: n=$n veh=$veh speed=$spd disagree with the generator"
    }
  }
}
