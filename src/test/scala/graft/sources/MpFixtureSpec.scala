package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The multi-partition topic axis: a 4-partition `events_mp` fixture
  * (round-robin: partition = event_id % 4, per-partition dense offsets
  * = event_id div 4). `-p N` must read exactly one partition — and prune
  * the other three SUBTREES at the scan, the property that makes
  * partition selection a scale win rather than a post-scan filter. */
class MpFixtureSpec extends SparkSpec {

  private lazy val base = MpFixture.baseDir(spark, sf)
  private lazy val events = Tables.load(spark, sf, "events")
  private lazy val total = events.count()

  test("partitions(): one row per partition, LEOs sum to the topic row count") {
    val rows = FluvioDuck.partitions(spark, base).orderBy("partition").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("0", "1", "2", "3"))
    assert(rows.map(_.getLong(2)).sum == total)
    assert(FluvioDuck.topics(spark, base).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("events_mp", 4)))
  }

  test("-p N reads exactly that partition; default pins 0; -A reads all") {
    val p2 = FluvioDuck.consume(spark, "events_mp -p 2 -B --rows 1000000", base)
    val expP2 = events.filter(col("event_id") % 4 === 2).count()
    assert(p2.count() == expP2)
    // offsets dense from 0 within the selected partition
    assert(p2.agg(min("offset"), max("offset")).head() ==
      org.apache.spark.sql.Row(0L, expP2 - 1))

    val default = FluvioDuck.consume(spark, "events_mp -B --rows 1000000", base)
    assert(default.count() == events.filter(col("event_id") % 4 === 0).count())

    val all = FluvioDuck.consume(spark, "events_mp -A -B --rows 1000000", base)
    assert(all.count() == total)
  }

  test("-A end-relative windows use per-partition LEOs (unequal partitions)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mp_unequal").toFile
    val topic = new java.io.File(dir, "events_mp.parquet")
    // partition 0 has 10 records, partition 1 only 5 — a global LEO would
    // tail only the long partition
    val rows =
      (0L until 10L).map(o =>
        (o, new java.sql.Timestamp(1700000000000L + o), s"""{"k":$o}""", 0)) ++
      (0L until 5L).map(o =>
        (o, new java.sql.Timestamp(1700000000000L + o), s"""{"k":$o}""", 1))
    rows.toDF("offset", "ts", "value", "partition")
      .repartition(col("partition"))
      .write.mode("overwrite").partitionBy("partition")
      .parquet(topic.getAbsolutePath)
    val got = FluvioDuck.consume(spark, "events_mp -A -T 2", dir.getAbsolutePath)
      .select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 4L, 8L, 9L)) // each partition's own last 2
  }

  test("-A display order: offset-sorted WITHIN each output partition (the " +
    "whole guarantee — no total order across partitions, SURVEY §4.2)") {
    val all = FluvioDuck.consume(spark, "events_mp -A -B --rows 1000000", base)
    val perPart = all.select("offset").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toArray))
      .collect()
    // the guarantee a consume presents: each output partition is in offset
    // order (sortWithinPartitions — no range-shuffle Exchange)...
    perPart.foreach { a =>
      assert(a.sameElements(a.sorted), "offsets not sorted within a partition")
    }
    // ...and nothing is lost or duplicated across the fan-out
    assert(perPart.map(_.length).sum == total)
    // A TOTAL order is deliberately NOT promised: with 4 partitions of
    // dense offsets the concatenation interleaves duplicates of every
    // offset value; a consumer needing one adds its own orderBy("offset").
    // (documented divergence: the reference is single-partition-pinned,
    // /root/reference/src/consume.rs:179)
  }

  test("streaming consume over the mp topic honors -p like batch") {
    val stream = graft.streaming.ConsumeStream.consume(
      spark, "events_mp -d -p 3 -B --rows 1000000", base)
    assert(stream.isStreaming)
    val name = s"mp_stream_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).count()
    assert(got == events.filter(col("event_id") % 4 === 3).count())
  }

  test("-p N prunes at the scan: DSv2 plans only the selected subtree's segments") {
    // the PRIMARY consume path (r14): partition selection happens in
    // FluvioBatch.planInputPartitions — only partition=1 segment files
    // become input partitions at all
    val p1 = FluvioDuck.consume(spark, "events_mp -p 1 -B --rows 1000000", base)
    p1.collect()
    val batchScans = p1.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(batchScans.nonEmpty, "consume no longer plans a DSv2 BatchScan")
    val planned = batchScans.flatMap(_.inputRDD.partitions).collect {
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition => d
    }.flatMap(_.inputPartitions).collect {
      case f: graft.sources.v2.FluvioInputPartition => f
    }
    assert(planned.nonEmpty && planned.forall(_.partitionId == 1),
      s"DSv2 -p pruning planned partitions ${planned.map(_.partitionId).toSeq}")
  }

  test("-A with a filter chain caps --rows per partition, on both faces") {
    // offsets repeat across partitions: a global offset-ordered cap would
    // keep 2 rows in total, split by arbitrary tie-breaks
    val cmd = "events_mp -A -B --rows 2 --smartmodule graft/filter-json-eq -e key=k -e value=7"
    val topic = spark.read.parquet(TopicRegistry.topicPath(base, "events_mp"))
      .select("offset", "value", "partition")
    val matches = graft.transforms.TransformRegistry("graft/filter-json-eq")(
      topic, Map("key" -> "k", "value" -> "7"))
    val want = matches
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("partition").orderBy("offset")))
      .filter(col("rn") <= 2).select("offset", "value")
      .collect().map(_.toString).sorted.toSeq
    assert(want.size > 2, want)
    assert(FluvioDuck.consume(spark, cmd, base).select("offset", "value")
      .collect().map(_.toString).sorted.toSeq == want)
  }
}
