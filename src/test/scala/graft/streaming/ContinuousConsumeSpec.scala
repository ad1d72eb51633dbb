package graft.streaming

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.FluvioDuck
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Differential spec of `-d`: over a generated 3-partition topic with
  * uneven segments and row groups, a `Trigger.AvailableNow` drain of each
  * command with `-d` delivers exactly the rows of the bounded consume of
  * the same command. Then what only a stream can show: records appended
  * after bind, a restart from the checkpoint, and the per-trigger input
  * row counts of a growing topic. */
class ContinuousConsumeSpec extends SparkSpec {

  /** `events_mp` has the built-in record view (offset, ts, value). */
  private val Topic = "events_mp"

  /** Partition id -> its segments as (rows, rows per row group). */
  private val Layout = Map(
    0 -> Seq((700, 64), (13, 5), (787, 300)),
    1 -> Seq((5, 2), (415, 100)),
    2 -> Seq((260, 37), (1, 1), (839, 500)))

  private val schema = Types.buildMessage()
    .required(PrimitiveTypeName.INT64).named("offset")
    .optional(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
    .optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("value")
    .named("record")

  /** Appends one segment of `rows` records at offsets [from, from + rows)
    * to partition `p`: written under a hidden name, then renamed into
    * place, so a running query never lists a partial file. */
  private def append(base: String, p: Int, from: Long, rows: Int, groupRows: Int): Unit = {
    val dir = new File(base, s"$Topic.parquet/partition=$p")
    dir.mkdirs()
    val name = f"seg-${dir.list().count(_.startsWith("seg-"))}%05d.parquet"
    val tmp = new File(dir, "." + name)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp.toPath)).withType(schema)
      .withRowGroupRowCountLimit(groupRows).withPageRowCountLimit(50).build()
    val groups = new SimpleGroupFactory(schema)
    try for (o <- from until from + rows) {
      val g = groups.newGroup()
      g.append("offset", o)
      g.append("ts", 1700000000000000L + o * 1000L + p)
      g.append("value", s"""{"k": ${o % 5}, "meta": {"x": $o}, "p": $p}""")
      w.write(g)
    } finally w.close()
    assert(tmp.renameTo(new File(dir, name)))
  }

  private def topic(): String = {
    val base = java.nio.file.Files.createTempDirectory("continuous_topic").toString
    for ((p, segs) <- Layout; (from, (rows, groupRows)) <- segs.map(_._1).scanLeft(0L)(_ + _).zip(segs))
      append(base, p, from, rows, groupRows)
    base
  }

  private def leo(p: Int): Long = Layout(p).map(_._1).sum

  private def batch(cmd: String, base: String): Seq[String] =
    FluvioDuck.consume(spark, s"$Topic $cmd", base).collect().map(_.toString).sorted.toSeq

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("continuous_ckpt").toString

  /** Starts `-d` `cmd` on `session` with a foreachBatch sink that keeps
    * every row and each batch's row count. */
  private def start(cmd: String, base: String, ckpt: String, trigger: Trigger,
                    rows: ConcurrentLinkedQueue[String],
                    perBatch: ConcurrentLinkedQueue[(Long, Long)],
                    session: SparkSession = spark): StreamingQuery =
    ConsumeStream.consume(session, s"$Topic -d $cmd", base).writeStream
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        val got = df.collect()
        got.foreach(r => rows.add(r.toString))
        perBatch.add(id -> got.length.toLong)
        ()
      }
      .option("checkpointLocation", ckpt).trigger(trigger).start()

  /** A `Trigger.AvailableNow` drain of `-d` `cmd`. */
  private def drain(cmd: String, base: String, ckpt: String = tmpDir()): Seq[String] = {
    val rows = new ConcurrentLinkedQueue[String]()
    val q = start(cmd, base, ckpt, Trigger.AvailableNow(), rows, new ConcurrentLinkedQueue())
    q.awaitTermination()
    rows.asScala.toSeq.sorted
  }

  test("an AvailableNow -d drain equals the bounded consume, command by command") {
    val base = topic()
    val jolt = """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":""" +
      """"[{\"operation\":\"shift\",\"spec\":{\"k\":\"kk\"}}]"}}"""
    val cmds = Seq(
      "-B",                       // the default --rows 1000 cuts partition 0
      "-H 1200",
      "--start 650",
      "-T 40",
      "-B --end 120",
      "-H 10 --rows 77",
      "-p 2 -B --rows 5000",
      "-p 1 -T 7",
      "-A -B",
      "-A -H 400 --rows 5000",
      "-A -H 5 --rows 600 -c k:i=k -c mx:l=meta.x",
      "-A -T 30 --smartmodule graft/map-uppercase",
      s"-B --rows 30 $jolt -c kk:i=kk",
      "-B --rows 20 --smartmodule graft/filter-json-eq -e key=k -e value=3",
      "")                         // the default end: nothing yet
    for (cmd <- cmds) {
      val want = batch(cmd, base)
      assert(drain(cmd, base) == want, s"`$cmd`")
      assert(ConsumeStream.consume(spark, s"$Topic -d $cmd", base).columns.toSeq ==
        FluvioDuck.consume(spark, s"$Topic $cmd", base).columns.toSeq, s"`$cmd` columns")
    }
  }

  test("-T n and the default end deliver from the bind-time log end") {
    val base = topic()
    val rows = new ConcurrentLinkedQueue[String]()
    val tail = new ConcurrentLinkedQueue[String]()
    val q = start("-A", base, tmpDir(), Trigger.ProcessingTime(0L), rows, new ConcurrentLinkedQueue())
    val qt = start("-p 2 -T 3", base, tmpDir(), Trigger.ProcessingTime(0L), tail, new ConcurrentLinkedQueue())
    try {
      q.processAllAvailable()
      qt.processAllAvailable()
      assert(rows.isEmpty)
      append(base, 0, leo(0), 30, 7)
      append(base, 2, leo(2), 12, 5)
      q.processAllAvailable()
      qt.processAllAvailable()
    } finally { q.stop(); qt.stop() }
    assert(rows.asScala.toSeq.sorted ==
      (batch(s"-p 0 --start ${leo(0)}", base) ++ batch(s"-p 2 --start ${leo(2)}", base)).sorted)
    assert(tail.asScala.toSeq.sorted == batch(s"-p 2 --start ${leo(2) - 3}", base))
  }

  test("-T n restarted from its checkpoint keeps the bind-time window") {
    val base = topic()
    val ckpt = tmpDir()
    val first = drain("-T 40 --rows 60", base, ckpt)
    assert(first == batch("-T 40", base))
    append(base, 0, leo(0), 50, 9)
    // a fresh bind would start at the new end - 40 and end 60 later
    val second = drain("-T 40 --rows 60", base, ckpt)
    assert((first ++ second).sorted == batch(s"--start ${leo(0) - 40} --rows 60", base))
    // a first run that delivered nothing committed no batch: the restart
    // still starts at the first run's log end
    val idle = tmpDir()
    assert(drain("-p 1 --rows 25", base, idle).isEmpty)
    append(base, 1, leo(1), 40, 6)
    assert(drain("-p 1 --rows 25", base, idle) == batch(s"-p 1 --start ${leo(1)} --rows 25", base))
  }

  test("input rows: a topic growing a segment per partition per trigger sums to what was appended") {
    val base = topic()
    val rows = new ConcurrentLinkedQueue[String]()
    val perBatch = new ConcurrentLinkedQueue[(Long, Long)]()
    // stream_live's settings, plus an idle progress event every 100 ms
    // (10 s by default) and an idle gap after each tick, so idle events
    // land between data batches as they do between stream_live's ticks
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    session.conf.set("spark.sql.streaming.noDataProgressEventInterval", "100")
    val q = start("-A -B --rows 1000000000 -c k:i=k", base, tmpDir(),
      Trigger.ProcessingTime(0L), rows, perBatch, session)
    val ends = scala.collection.mutable.Map(Layout.keys.toSeq.map(p => p -> leo(p)): _*)
    val ticks = 32
    try {
      q.processAllAvailable()
      for (t <- 1 to ticks) {
        for (p <- ends.keys.toSeq.sorted) {
          val n = 10 + (t * 7 + p * 3) % 23
          append(base, p, ends(p), n, 8)
          ends(p) += n
        }
        q.processAllAvailable()
        Thread.sleep(150)
      }
    } finally q.stop()
    val appended = ends.values.sum
    assert(rows.size == appended)
    assert(q.recentProgress.exists(_.numInputRows == 0), "no idle progress event was posted")
    val progress = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    assert(progress.size > ticks, s"${progress.size} batches for $ticks ticks")
    assert(progress.values.sum == appended)
    assert(progress.filter(_._2 > 0) == perBatch.asScala.toMap.filter(_._2 > 0),
      "a batch's numInputRows differs from its sink rows")
  }
}
