package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.FluvioDuck
import graft.streaming.StreamingDedup

/** stream_live: an open loop. A publisher thread appends one segment per
  * partition to a growing topic every [[Gen.TickMs]] ms, on a fixed
  * schedule, by atomic rename. Meanwhile a `-d -A -B --rows <large>`
  * consume with `-c` mappings feeds `StreamingDedup.exactByFingerprint`
  * and a `foreachBatch` sink. A record's latency runs from its segment's
  * scheduled publish time to the end of the sink call that delivered it.
  * Then a fresh `-d` query drains the static topic, published in full
  * beforehand (catch-up). */
final class StreamLive extends Workload {
  import StreamLive._

  private val batches = new ConcurrentLinkedQueue[Batch]()
  private var query: StreamingQuery = _
  private var topicBase: Path = _
  private val publishedOriginals = new AtomicLong(0)
  private val delivered = new AtomicLong(0)
  private val lagMax = new AtomicLong(0)

  private def segs(env: Env, tick: Int) =
    env.inputs.streamSegments.filter(_.tick == tick)

  /** Publishes one tick: each partition's segment is copied under a
    * hidden name, then all are renamed into place back to back, so a
    * listing never sees a partial file, a published segment is never
    * rewritten, and a trigger rarely sees only part of a tick. */
  private def publish(env: Env, tick: Int): Unit = {
    val staged = for (s <- segs(env, tick)) yield {
      val dir = topicBase.resolve(s"$Topic.parquet/partition=${s.partition}")
      Files.createDirectories(dir)
      val name = f"seg-$tick%05d.parquet"
      val tmp = dir.resolve("." + name)
      Files.copy(env.inputs.dir.resolve(f"stream/t$tick%05d-p${s.partition}.parquet"), tmp)
      (tmp, dir.resolve(name), s.originals)
    }
    for ((tmp, dst, originals) <- staged) {
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      publishedOriginals.addAndGet(originals)
    }
  }

  private def start(spark: SparkSession, env: Env, name: String): StreamingQuery = {
    val sink = (df: Dataset[Row], id: Long) => {
      val seqs = df.collect().map(_.getLong(0))
      val n = delivered.addAndGet(seqs.length)
      lagMax.accumulateAndGet(publishedOriginals.get - n, math.max(_, _))
      batches.add(Batch(id, System.nanoTime(), seqs))
      ()
    }
    // no trigger without new data: an evicting no-data batch after each
    // tick would hold the engine when the next tick lands, so a record's
    // latency would queue behind it (eviction still runs in data batches)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val records = FluvioDuck.consume(spark, Cmd, topicBase.toString)
    StreamingDedup.exactByFingerprint(records, "body", "tst", "10 minutes")
      .select("seq").writeStream
      .option("checkpointLocation", env.work.resolve(s"ckpt-$name").toString)
      .foreachBatch(sink)
      .start()
  }

  private def awaitDelivered(want: Long, timeoutMs: Long): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (delivered.get < want && System.currentTimeMillis() < until && query.isActive) Thread.sleep(5)
    delivered.get >= want
  }

  /** Set-up's first op: publish tick 0, start the query, wait for its
    * first delivery. Each repetition gets its own topic and checkpoint. */
  def firstOp(spark: SparkSession, env: Env, rep: Int): Unit = {
    topicBase = env.work.resolve(s"live-$rep")
    batches.clear(); publishedOriginals.set(0); delivered.set(0); lagMax.set(0)
    publish(env, 0)
    query = start(spark, env, s"live-$rep")
    if (!awaitDelivered(publishedOriginals.get, 120000))
      throw new IllegalStateException(s"stream set-up: ${delivered.get} of ${publishedOriginals.get} delivered")
  }

  override def endSetup(last: Boolean): Unit = if (!last) query.stop()

  /** Ticks 1 to [[WarmTicks]], each published once the last is delivered:
    * a fresh query's first triggers run slower than later ones (per-trigger
    * code still warming), so the window starts after them. */
  override def warmUp(spark: SparkSession, env: Env): Unit =
    for (tick <- 1 to WarmTicks) {
      publish(env, tick)
      if (!awaitDelivered(publishedOriginals.get, 60000))
        throw new IllegalStateException(s"stream warm-up: ${delivered.get} of ${publishedOriginals.get} delivered")
    }

  def run(spark: SparkSession, env: Env, out: Result): Unit = {
    val ticks = math.min(Gen.StreamTicks - 1 - WarmTicks, (env.seconds * 1000L / Gen.TickMs).toInt)
    val last = WarmTicks + ticks
    val warm = batches.size
    val t0 = System.nanoTime() + Gen.TickMs * 1000000L
    val (scheduled, late) = Pacer.run(t0, Gen.TickMs * 1000000L, ticks)(k => publish(env, WarmTicks + k))
    val want = publishedOriginals.get
    val caughtUp = awaitDelivered(want, 60000)
    // progress is posted after the sink returns: wait for the last batch's
    val lastId = batches.asScala.map(_.id).max
    val until = System.currentTimeMillis() + 10000
    while (!query.recentProgress.exists(_.batchId == lastId) && System.currentTimeMillis() < until)
      Thread.sleep(5)
    query.stop()

    // ---- exactly-once, and dedup survivors = the distinct count
    val live = batches.asScala.toSeq.drop(warm)
    val all = batches.asScala.toSeq.flatMap(_.seqs)
    val segTable = env.inputs.streamSegments.filter(_.tick <= last)
    out.attempted = segTable.map(_.records).sum
    if (!caughtUp) out.fail(s"only ${delivered.get} of $want distinct records delivered")
    val distinct = all.distinct.size
    if (distinct != all.size) out.fail(s"${all.size - distinct} records delivered twice")
    if (all.size.toLong != want) out.fail(s"dedup kept ${all.size} records, expected $want distinct")
    // every trigger's progress is kept: the session raises the progress
    // retention (Main.session) above any run's trigger count
    val inputRows = query.recentProgress.map(p => p.batchId -> p.numInputRows).toMap.values.sum
    if (inputRows != out.attempted) out.fail(s"query read $inputRows records, ${out.attempted} were published")

    // ---- latency: creation (scheduled publish of the segment) -> sink end
    // a record's tick: the last tick whose first sequence number is <= its own
    val tickStarts = segTable.groupBy(_.tick).map { case (t, ss) => (ss.map(_.firstSeq).min, t) }
      .toSeq.sorted.toArray
    val firstSeqs = tickStarts.map(_._1)
    def tickOf(seq: Long): Int = {
      val i = java.util.Arrays.binarySearch(firstSeqs, seq)
      tickStarts(if (i >= 0) i else -i - 2)._2
    }
    val byTick = for (b <- live; s <- b.seqs; t = tickOf(s) if t > WarmTicks)
      yield t -> (b.endNs - scheduled(t - WarmTicks - 1)) / 1e6
    val lat = byTick.map(_._2)
    out.latencies(lat)
    out.notes += "latency by tick (ms, its last record): " +
      byTick.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, xs) => f"${xs.map(_._2).max}%.0f" }.mkString(" ")
    // a keep-up check, not a speed: it equals the offered rate for as long
    // as the query keeps up, and falls below it when the query lags
    val liveS = (live.map(_.endNs).max - t0) / 1e9
    out.e2e.put("ops_per_s", Metric(lat.size / liveS, "1/s", lat.size))

    // ---- catch-up: a fresh -d query over the static topic, fully published
    // beforehand, timed until every record is delivered; median of three
    val published = out.attempted
    val backlog = env.inputs.leo.sum
    val drains = (0 until CatchUps).map { i =>
      val c0 = System.nanoTime()
      val catchup = FluvioDuck.consume(spark, CatchUpCmd, env.baseDir).writeStream
        .option("checkpointLocation", env.work.resolve(s"ckpt-catchup-$i").toString)
        .trigger(Trigger.AvailableNow())
        .format("noop").start()
      catchup.awaitTermination()
      val read = catchup.recentProgress.map(p => p.batchId -> p.numInputRows).toMap.values.sum
      out.attempted += backlog
      if (read != backlog) out.fail(s"catch-up read $read records, the topic holds $backlog")
      (System.nanoTime() - c0) / 1e9
    }
    val catchS = Stats.median(drains)
    out.e2e.put("records_per_s", Metric(backlog / catchS, "records/s", CatchUps))

    out.layer.put("loadgen.late_ms_max", Metric(late.max, "ms", ticks))
    out.layer.put("loadgen.records_published", Metric(published.toDouble, "records", last + 1))
    out.layer.put("streaming.lag_records_max", Metric(lagMax.get.toDouble, "records", live.size))
    out.notes += f"live: $ticks ticks, ${live.size} batches, $want distinct of $published records; " +
      f"catch-up: $backlog records in ${catchS}%.3f s (runs ${drains.map(d => f"$d%.3f").mkString(", ")} s)"
  }

  def layers(spark: SparkSession, env: Env, out: Result): Unit = ()
}

object StreamLive {
  private final case class Batch(id: Long, endNs: Long, seqs: Array[Long])

  val Topic = "live"
  val Cmd = s"$Topic -d -A -B --rows 1000000000 -c seq:l=seq -c route:s=route " +
    "-c speed:d=VP.spd -c tst:t=VP.tst -c body:s=VP"
  val CatchUpCmd = "vehicles -d -A -B --rows 1000000000 -c seq:l=seq -c route:s=route -c speed:d=VP.spd"
  val CatchUps = 3
  val WarmTicks = 10
}

/** The open-loop schedule: tick k (1-based) is due at t0 + (k-1)·period,
  * whatever happened before it. A tick whose publish runs long makes the
  * next ones late; they are published at once and their lateness is
  * reported, never absorbed by shifting the schedule. */
object Pacer {
  /** Runs `publish` for ticks 1..n on this thread; returns each tick's due
    * time (ns) and how late (ms) it was published, indexed from 0. */
  def run(t0: Long, periodNs: Long, n: Int)(publish: Int => Unit): (Array[Long], Array[Double]) = {
    val due = Array.tabulate(n)(i => t0 + i * periodNs)
    val late = new Array[Double](n)
    for (i <- 0 until n) {
      var left = due(i) - System.nanoTime()
      while (left > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(left)
        left = due(i) - System.nanoTime()
      }
      late(i) = -left / 1e6
      publish(i + 1)
    }
    (due, late)
  }
}
