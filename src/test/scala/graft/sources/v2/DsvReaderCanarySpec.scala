package graft.sources.v2

import graft.SparkSpec
import graft.sources.{RecordView, Tables}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{InputSplit, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Canary for the Spark-internal parquet reader the fluvio slices read
  * through (`FluvioColumnarReader`): `VectorizedParquetRecordReader` is
  * not a public API, so this spec pins what the reader relies on — the
  * constructor, `initialize(InputSplit, TaskAttemptContext)` over a
  * `mapred.FileSplit`, the conf keys the scan sets, and that a fluvio
  * batch plan is columnar. A Spark upgrade that changes any of them
  * fails here, by name, instead of deep inside a task. */
class DsvReaderCanarySpec extends SparkSpec {

  private val fmt = classOf[FluvioTableProvider].getName

  test("VectorizedParquetRecordReader: the constructor and initialize the reader calls") {
    val c = classOf[VectorizedParquetRecordReader]
    // (convertTz, datetimeRebaseMode, datetimeRebaseTz, int96RebaseMode,
    //  int96RebaseTz, useOffHeap, capacity)
    c.getConstructor(classOf[java.time.ZoneId], classOf[String], classOf[String],
      classOf[String], classOf[String], java.lang.Boolean.TYPE, Integer.TYPE)
    c.getMethod("initialize", classOf[InputSplit], classOf[TaskAttemptContext])
    c.getMethod("initBatch", classOf[StructType], classOf[InternalRow])
    // and they read a slice of a real segment through a mapred.FileSplit
    val dir = java.nio.file.Files.createTempDirectory("dsv2_reader_api").toFile
    Tables.load(spark, sf, "events").filter(col("event_id") < 20).coalesce(1)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val seg = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val conf = FluvioDsv2.scanConf(RecordView("event_id", "ts", "props"), Seq("offset"))
    val r = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      false, FluvioDsv2.BatchRows)
    try {
      r.initialize(new FileSplit(new Path(seg.getAbsolutePath), 0L, seg.length(), Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      r.initBatch(StructType(Seq(StructField("partition", IntegerType))),
        new GenericInternalRow(Array[Any](3)))
      assert(r.nextBatch())
      val b = r.resultBatch()
      assert(b.numRows == 20 && b.numCols == 2)
      assert((0 until 20).map(b.column(0).getLong) == (0L until 20L))
      assert(b.column(1).getInt(7) == 3)
    } finally r.close()
  }

  test("the scan conf carries the keys Spark's parquet reader reads, with fixed values") {
    val view = RecordView("o", "t", "v")
    val conf = FluvioDsv2.scanConf(view, Seq("offset", "timestamp"))
    assert(conf.get("parquet.read.support.class") ==
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    assert(conf.get("org.apache.spark.sql.parquet.row.requested_schema") ==
      """{"type":"struct","fields":[{"name":"o","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"t","type":"long","nullable":true,"metadata":{}}]}""")
    val fixed = Map(
      "spark.sql.parquet.binaryAsString" -> "true",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.caseSensitive" -> "false")
    fixed.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // the values do not follow the session
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "false")
    try assert(FluvioDsv2.scanConf(view, Seq("value")).get(key) == "true")
    finally spark.conf.unset(key)
  }

  test("a fluvio batch plan is columnar: ColumnarToRow over the fluvio BatchScan") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_reader_canary").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 20)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val df = spark.read.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath).load()
    assert(df.count() == 20L)
    val plan = df.queryExecution.executedPlan
    val c2r = plan.collect { case c: ColumnarToRowExec => c }
    assert(c2r.exists(_.child.collectFirst {
      case b: BatchScanExec if b.scan.description().startsWith("fluvio_consume(events)") => b
    }.isDefined), plan.treeString)
  }
}
