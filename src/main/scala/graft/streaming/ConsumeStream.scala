package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ColumnMapping, ConsumeOpt}
import graft.transforms.{TransformChain, TransformSpec}

/** The `-d` (continuous) flavor of consume: the same option grammar,
  * projection compiler and transform chain as the batch path, planned over
  * the micro-batch face of the `fluvio` DSv2 source
  * ([[graft.sources.v2.FluvioMicroBatchStream]]), so watermarks and
  * stateful operators compose on top.
  *
  * Reference: `continuous_toggle` (`/root/reference/src/consume.rs:480-482`,
  * `:675`) — without `-d` a scan stops at the end of the log; with `-d` the
  * same consumer keeps waiting for new records. The source owns the offset
  * window: it resolves each partition's start at bind time (`-T n` and the
  * default end read the log end once, like the reference's
  * `calculate_offset`) and keeps those starts in the checkpoint; the `--rows`
  * cap of a map-only chain ends each partition at bind start + `--rows`.
  */
object ConsumeStream {

  def consume(spark: SparkSession, cmd: String, baseDir: String): DataFrame = {
    val opt = ConsumeOpt.parse(cmd) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(o)  => o
    }
    val chain = TransformChain.fromOpt(opt)
    val mapOnly = TransformChain.mapOnly(chain)
    // Spark 4.1's micro-batch planner never prunes a streaming scan, so
    // the read columns are named here: `-c` after a map-only chain decodes
    // `value` alone
    val records = spark.readStream.format("fluvio")
      .option("cmd", cmd).option("baseDir", baseDir)
      .option("rowsCap", String.valueOf(mapOnly))
      .option("columns", if (mapOnly && opt.columns.nonEmpty) "value" else "offset,timestamp,value")
      .load()
    plan(records, opt, chain)
  }

  /** The `-d` plan over record-shaped rows from any streaming source (tests
    * feed a MemoryStream): no offset window, which only the source applies. */
  def fromRecords(raw: DataFrame, opt: ConsumeOpt,
                  offsetCol: String, timestampCol: String, valueCol: String): DataFrame =
    plan(raw.select(
      col(offsetCol).cast("long").as("offset"),
      col(timestampCol).cast("timestamp").as("timestamp"),
      col(valueCol).cast("string").as("value")), opt, TransformChain.fromOpt(opt))

  /** Transforms, then the post-transform `--rows` cap, then the projection.
    * A map-only chain commutes with the cap, which the source applies as a
    * row range. A cardinality-changing chain counts kept rows, so an
    * EXPLICIT `--rows` plants [[boundedCap]]; the implicit default must not
    * put a single-task funnel into every filtered stream. The reference's
    * cap applies in continuous mode too: `-d --rows N` blocks until N are
    * filled (`/root/reference/src/consume.rs:75-92,675`). */
  private def plan(records: DataFrame, opt: ConsumeOpt, chain: Seq[TransformSpec]): DataFrame = {
    val transformed = TransformChain.run(chain, records)
    val capped =
      if (!TransformChain.mapOnly(chain) && opt.rowsExplicit) boundedCap(transformed, opt.rows)
      else transformed
    if (opt.columns.isEmpty) capped
    else ColumnMapping.project(capped, opt.columns)
  }

  /** Exact post-transform `--rows` cap for a continuous read: a running
    * count in a single-key `flatMapGroupsWithState` that emits rows (in
    * offset order within each micro-batch) until the cap is filled, then
    * nothing. All rows route through ONE state task — the cost of exact
    * cross-partition counting; acceptable for what this is (a bounded
    * interactive pull, N ≪ corpus), which is why it is only planted for an
    * explicit `--rows` on a cardinality-changing chain. */
  def boundedCap(records: DataFrame, n: Long): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    records
      .select(col("offset").cast("long"), col("timestamp").cast("timestamp"),
        col("value").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, (Long, java.sql.Timestamp, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val sofar = state.getOption.getOrElse(0L)
          if (sofar >= n) Iterator.empty
          else {
            // bounded selection of the `need` smallest offsets via a
            // max-heap: memory O(cap remaining), never O(micro-batch) —
            // a backfill's first batch can be the whole log
            val need = math.min(n - sofar, Int.MaxValue.toLong).toInt
            val heap = new java.util.PriorityQueue[(Long, java.sql.Timestamp, String)](
              math.max(need, 1),
              Ordering.by[(Long, java.sql.Timestamp, String), Long](_._1).reverse)
            it.foreach { r =>
              if (heap.size < need) heap.add(r)
              else if (r._1 < heap.peek()._1) { heap.poll(); heap.add(r) }
            }
            val take = new Array[(Long, java.sql.Timestamp, String)](heap.size)
            var i = take.length - 1
            while (i >= 0) { take(i) = heap.poll(); i -= 1 } // ascending offset
            state.update(sofar + take.length)
            take.iterator
          }
      }
      .toDF("offset", "timestamp", "value")
  }

  /** The reference CLI's bounded-pull lifecycle for `-d --rows N`
    * (/root/reference/src/consume.rs:75-92): start the stream, block until
    * N rows have been delivered (or `timeoutMs`), stop the query, return
    * the delivered rows. Driver-side accumulation is bounded by N. */
  def runBounded(stream: DataFrame, rows: Long,
                 timeoutMs: Long = 60000L): Seq[org.apache.spark.sql.Row] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val count = new java.util.concurrent.atomic.AtomicLong(0L)
    // micro-batches are delivered sequentially, so count/buf see no
    // concurrent writers — only the concurrent reader in the wait loop
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val need = math.min(rows - count.get(), Int.MaxValue.toLong)
        if (need > 0) {
          val got = df.limit(need.toInt).collect()
          var i = 0
          while (i < got.length && count.get() < rows) {
            buf.add(got(i)); count.incrementAndGet(); i += 1
          }
        }
        ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (count.get() < rows && q.isActive &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  /** Event-time windowed aggregation over a consume stream: count/avg of a
    * mapped numeric column per tumbling window — the standard streaming
    * rollup (watermark bounds state). */
  def windowedAgg(stream: DataFrame, mapped: ColumnMapping,
                  windowDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withColumn("v", mapped.toColumn(col("value")).cast("double"))
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration))
      .agg(count(lit(1)).as("n"), avg(col("v")).as("avg_v"))
      .select(col("window.start").as("window_start"), col("n"), col("avg_v"))

  /** Sliding-window count: overlapping windows of `windowDuration` every
    * `slideDuration` — each record lands in windowDuration/slideDuration
    * windows. */
  def slidingAgg(stream: DataFrame, windowDuration: String,
                 slideDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration, slideDuration))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Session windows: records gapped less than `gapDuration` apart merge
    * into one session per key — `session_window` keeps per-key state until
    * the watermark passes the gap. */
  def sessionAgg(stream: DataFrame, keyMapped: ColumnMapping,
                 gapDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withColumn("k", keyMapped.toColumn(col("value")))
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"), gapDuration), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("k"), col("n"))

  /** Stream-static enrichment: join each streamed record against a static
    * dimension table — planned as a per-micro-batch broadcast join, no
    * streaming state at all (the standard lookup-enrichment shape; at
    * scale the static side is broadcast once per batch). */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: Column,
             dimKey: Column): DataFrame =
    stream.join(broadcast(dim), streamKey === dimKey, "left")

  /** Stream-stream correlation: join records of two topic streams whose
    * payload keys match and whose event times are within `within` of each
    * other. Both sides carry watermarks so the join state is bounded —
    * Spark keeps each side only until the other's watermark passes the
    * time bound (the canonical stream-stream interval join). Inputs must
    * be record-shaped (offset, timestamp, value); keys are extracted by
    * the provided column builders. */
  def correlate(left: DataFrame, right: DataFrame,
                leftKey: Column, rightKey: Column,
                watermarkDelay: String, within: String): DataFrame = {
    val l = left.select(col("offset").as("l_offset"),
        col("timestamp").as("l_ts"), leftKey.as("l_key"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.select(col("offset").as("r_offset"),
        col("timestamp").as("r_ts"), rightKey.as("r_key"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
  }
}
