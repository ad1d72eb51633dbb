package graft.sources.v2

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Canary for the DSv2 column-pruning route. The fluvio scan implements
  * SupportsPushDownRequiredColumns, but Spark 4.1's micro-batch planner
  * plans streaming relations before V2ScanRelationPushDown, so the hook
  * is never called and the explicit `columns` option is the operative
  * pruning route (documented at the scan builder). This spec pins WHICH
  * route is active: if a Spark upgrade starts calling pruneColumns, the
  * first assertion flips and fails loudly — the signal to re-validate
  * that the interface route and the option route agree (they must both
  * land in the same reader projection) instead of silently diverging. */
class DsvPushdownCanarySpec extends SparkSpec {

  private val fmt = classOf[FluvioTableProvider].getName

  test("Spark 4.1 route check: planner never calls pruneColumns; `columns` option is operative") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_canary_").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 20)
      .write.mode("append").parquet(topicDir.getAbsolutePath)

    val before = FluvioDsv2.pruneColumnsCalls.get()

    // a stream that only needs `offset`, WITHOUT the columns option —
    // the shape a pushdown-capable planner would prune
    val n1 = s"canary_nopt_${System.nanoTime()}"
    val q1 = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .load().select("offset")
      .writeStream.format("memory").queryName(n1).outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(n1).count() == 20)

    // the same shape through the operative option route
    val n2 = s"canary_opt_${System.nanoTime()}"
    val q2 = spark.readStream.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .option("columns", "offset").load()
      .writeStream.format("memory").queryName(n2).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()

    // both routes must agree on the delivered offsets
    val viaPlanner = spark.table(n1).collect().map(_.getLong(0)).sorted.toSeq
    val viaOption = spark.table(n2).collect().map(_.getLong(0)).sorted.toSeq
    assert(viaPlanner == viaOption, "pruning routes diverged on offsets")
    assert(spark.table(n2).schema.fieldNames.toSeq == Seq("offset"))

    val calls = FluvioDsv2.pruneColumnsCalls.get() - before
    // THE CANARY: Spark 4.1 micro-batch planning never invokes the
    // interface. If this fails after a Spark upgrade, the planner now
    // pushes columns — update the scan-builder docs, make this assert
    // `calls > 0`, and add an executed-plan check that the interface
    // route yields the same reader projection as the option route.
    assert(calls == 0,
      s"planner called pruneColumns $calls times — Spark's micro-batch " +
        "planner now applies V2 column pushdown; re-validate both routes")
  }

  test("BATCH face: V2ScanRelationPushDown drives pruneColumns AND pushFilters (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_batch_").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 20)
      .write.mode("append").parquet(topicDir.getAbsolutePath)

    val prunesBefore = FluvioDsv2.pruneColumnsCalls.get()
    val pushesBefore = FluvioDsv2.pushFiltersCalls.get()

    val got = spark.read.format(fmt)
      .option("cmd", "events -B").option("baseDir", dir.getAbsolutePath)
      .load()
      .filter(col("offset") >= 3 && col("offset") < 8)
      .select("offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (3L until 8L).toSeq, got.toString)

    // unlike the micro-batch planner, the BATCH planner runs
    // V2ScanRelationPushDown — both interfaces must have been driven
    assert(FluvioDsv2.pruneColumnsCalls.get() > prunesBefore,
      "batch planner no longer calls pruneColumns — column pruning " +
        "regressed to full-record materialization")
    assert(FluvioDsv2.pushFiltersCalls.get() > pushesBefore,
      "batch planner no longer calls pushFilters — offset/partition " +
        "range pruning regressed to full-log scans")
  }

  test("BATCH face: pushed offset range prunes the planned row ranges (r13)") {
    // drive the Batch directly: the pushed [3, 8) window over a 20-row
    // single-segment topic must plan exactly 5 records (skip=3, take=5),
    // not deliver-then-filter 20
    val dir = java.nio.file.Files.createTempDirectory("dsv2_prune_").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 20)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    val opt = graft.sources.ConsumeOpt.parse("events -B").toOption.get
    val view = graft.sources.TopicRegistry.requireRecordView(
      dir.getAbsolutePath, "events")
    val planned = new FluvioBatch(opt, view, dir.getAbsolutePath,
      FluvioDsv2.Schema.fieldNames.toSeq, offLo = 3L, offHi = 8L,
      partEq = None)
      .planInputPartitions().map(_.asInstanceOf[FluvioInputPartition])
    assert(planned.map(_.take).sum == 5L,
      s"planned ${planned.map(_.take).sum} records for a 5-record window")
    assert(planned.forall(p => p.skip >= 3L),
      "pushed lower bound did not become a row skip")
    // partition-equality pushdown on a multi-partition topic: only the
    // selected subtree is planned
    val mpDir = java.nio.file.Files.createTempDirectory("dsv2_prune_mp_").toFile
    val mpTopic = new java.io.File(mpDir, "events.parquet")
    for (p <- 0 to 2) {
      val pd = new java.io.File(mpTopic, s"partition=$p")
      pd.mkdirs()
      Tables.load(spark, sf, "events").filter(col("event_id") < 10)
        .write.mode("append").parquet(pd.getAbsolutePath)
    }
    val mpOpt = graft.sources.ConsumeOpt.parse("events -B -A").toOption.get
    val mpView = graft.sources.TopicRegistry.requireRecordView(
      mpDir.getAbsolutePath, "events")
    val mpPlanned = new FluvioBatch(mpOpt, mpView, mpDir.getAbsolutePath,
      FluvioDsv2.Schema.fieldNames.toSeq, offLo = 0L, offHi = Long.MaxValue,
      partEq = Some(1))
      .planInputPartitions().map(_.asInstanceOf[FluvioInputPartition])
    assert(mpPlanned.nonEmpty && mpPlanned.forall(_.partitionId == 1),
      s"partition pushdown planned ${mpPlanned.map(_.partitionId).toSeq}")
  }

  test("BATCH face: end-relative windows and --end resolve inside the source (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_window_").toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 20)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    def offsets(cmd: String): Seq[Long] =
      spark.read.format(fmt)
        .option("cmd", cmd).option("baseDir", dir.getAbsolutePath)
        .load().select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(offsets("events -T 4") == (16L until 20L).toSeq)       // tail
    assert(offsets("events -B --end 5") == (0L to 5L).toSeq)      // inclusive end
    assert(offsets("events --start 17") == (17L until 20L).toSeq) // absolute
    assert(offsets("events") == Seq.empty)                        // default: log end
    // the largest --end saturates to "no end" instead of overflowing
    assert(offsets(s"events -B --end ${Long.MaxValue}") == (0L until 20L).toSeq)
    assert(offsets(s"events -T 3 --end ${Long.MaxValue} --rows ${Long.MaxValue}") ==
      (17L until 20L).toSeq)
    // and the wrapper's full consume delivers the source's first 7 records
    val got = graft.sources.FluvioDuck
      .consume(spark, "events -B --rows 7", dir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    val want = Tables.load(spark, sf, "events").filter(col("event_id") < 7)
      .orderBy("event_id").select(col("event_id").cast("long"), col("props"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
  }

  // ---- the DSv2 face is THE consume path; the full grammar composes over
  // the scan, checked against expectations derived from the source rows.

  private def mkTopic(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    val topicDir = new java.io.File(dir, "events.parquet")
    topicDir.mkdirs()
    Tables.load(spark, sf, "events").filter(col("event_id") < 40)
      .write.mode("append").parquet(topicDir.getAbsolutePath)
    dir
  }

  private def plannedRecords(df: org.apache.spark.sql.DataFrame): Seq[FluvioInputPartition] = {
    df.collect() // populate the executed plan
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputRDD.partitions).collect {
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition => d
    }.flatMap(_.inputPartitions).collect { case f: FluvioInputPartition => f }.toSeq
  }

  test("r14 composed plan: --rows is PLANNED as a row range and -c prunes the reader to (offset, value)") {
    val dir = mkTopic("dsv2_composed_")
    val df = graft.sources.FluvioDuck.consume(
      spark, "events -B --rows 7 -c k:i=k", dir.getAbsolutePath)
    val planned = plannedRecords(df)
    // the cap reached segment planning: exactly 7 records planned, not
    // 40-deliver-then-filter
    assert(planned.map(_.take).sum == 7L,
      s"--rows did not prune planning: ${planned.map(_.take).sum} records planned")
    // -c needs only offset+value; the batch planner's pruneColumns must
    // have dropped timestamp from the reader projection
    assert(planned.forall(p => !p.fields.contains("timestamp")),
      s"reader projection not pruned: ${planned.map(_.fields).distinct}")
    assert(df.columns.toSeq == Seq("k"))
  }

  test("r14 face equality: -c mappings and jolt transform chains agree across faces") {
    val dir = mkTopic("dsv2_faces_")
    def dump(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def consume(cmd: String): Seq[String] =
      dump(graft.sources.FluvioDuck.consume(spark, cmd, dir.getAbsolutePath))
    val src = Tables.load(spark, sf, "events").filter(col("event_id") < 40)
    val k = get_json_object(col("props"), "$.k").cast("int")
    val records = src.select(col("event_id").cast("long").as("offset"),
      col("ts").cast("timestamp").as("timestamp"), col("props").as("value"))
    // -c typed mappings incl. the error-as-value miss contract
    assert(consume("events -B --rows 25 -c k:i=k -c miss=nope") ==
      dump(src.filter(col("event_id") < 25).select(k, lit("Node \"nope\" not found"))),
      "-c mappings")
    // map-type jolt chain (cap commutes, stays in-scan) + -c on the shifted key
    assert(consume("events -B --rows 25 " +
      """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"shift\",\"spec\":{\"k\":\"kk\"}}]"}} """ +
      "-c kk:i=kk") == dump(src.filter(col("event_id") < 25).select(k)), "jolt chain")
    // cardinality-CHANGING chain (smartmodule filter): the cap counts
    // post-transform rows
    assert(consume(
      "events -B --rows 5 --smartmodule graft/filter-json-eq -e key=k -e value=7") ==
      dump(records.filter(get_json_object(col("value"), "$.k") === "7")
        .orderBy("offset").limit(5)), "filtering chain")
    // end-relative window + explicit --rows through the grammar: LEO 40,
    // start 31, first 4 records
    assert(consume("events -T 9 --rows 4") ==
      dump(records.filter(col("offset").between(31, 34))), "end-relative capped window")
  }

  test("-d -c plans one MicroBatchScan that reads `value` only, and no file stream") {
    val dir = mkTopic("dsv2_continuous_")
    val q = graft.streaming.ConsumeStream
      .consume(spark, "events -d -B --rows 7 -c k:i=k", dir.getAbsolutePath)
      .writeStream.format("noop").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => s
      }
      assert(scans.size == 1, plan)
      assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("value"))
      val planned = scans.head.inputRDD.partitions.collect {
        case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition => d
      }.flatMap(_.inputPartitions).collect { case f: FluvioInputPartition => f }
      assert(planned.map(_.take).sum == 7L && planned.forall(_.fields == Seq("value")),
        planned.toSeq)
      assert(plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.isEmpty, plan)
      val sources = q.recentProgress.flatMap(_.sources).map(_.description).distinct
      assert(sources.nonEmpty && sources.forall(!_.contains("FileStreamSource")), sources.toSeq)
    } finally q.stop()
  }
}
