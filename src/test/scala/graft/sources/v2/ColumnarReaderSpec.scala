package graft.sources.v2

import graft.SparkSpec
import graft.sources.RecordView
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Differential property of the columnar slice reader: over generated
  * segments with small, uneven row groups, a slice [skip, skip+take) of
  * any pruned field subset reads exactly the rows Spark's own parquet
  * scan of the file holds at those positions. Slices cross row-group
  * edges and the reader's 4,096-row batch edges, so an off-by-one in the
  * leading-row shift, in the last-batch cut or in the row-group byte
  * range changes the rows read. */
class ColumnarReaderSpec extends SparkSpec {

  private val view = RecordView("offset", "ts", "value")

  /** One segment: `rows` records in row groups of `groupRows` (the last
    * one shorter), offsets as INT32 or INT64, timestamps in `unit`, and
    * every `nullEvery`-th value and timestamp null. */
  final case class SegSpec(rows: Int, groupRows: Int, int32: Boolean,
                           unit: LogicalTypeAnnotation.TimeUnit, nullEvery: Int)

  private def write(s: SegSpec, f: java.io.File): Unit = {
    val schema = Types.buildMessage()
      .required(if (s.int32) PrimitiveTypeName.INT32 else PrimitiveTypeName.INT64).named("offset")
      .optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, s.unit)).named("ts")
      .optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("value")
      .named("record")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f.toPath)).withType(schema)
      .withRowGroupRowCountLimit(s.groupRows).withPageRowCountLimit(700).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until s.rows).foreach { i =>
      val g = groups.newGroup()
      if (s.int32) g.append("offset", i) else g.append("offset", i.toLong)
      if (i % s.nullEvery != 3) {
        // 1.7e9 s after the epoch, in the segment's unit
        val secs = 1700000000L + i * 7L
        g.append("ts", s.unit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => secs * 1000L + i % 1000
          case LogicalTypeAnnotation.TimeUnit.MICROS => secs * 1000000L + i
          case LogicalTypeAnnotation.TimeUnit.NANOS  => secs * 1000000000L + i * 1000L
        })
        g.append("value", s"v$i-" + "x" * (i % 13))
      }
      w.write(g)
    } finally w.close()
  }

  /** The rows of `f` as Spark's parquet scan reads them, per advertised
    * field: partition 0, offset, timestamp µs, value. */
  private def reference(f: java.io.File): IndexedSeq[Seq[Any]] = {
    val df = spark.read.parquet(f.getAbsolutePath)
    // the session's nanosAsLong reads NANOS as a long of ns
    val ts = if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      expr("ts DIV 1000") else unix_micros(col("ts"))
    df.select(lit(0), col("offset").cast("long"), ts, col("value"))
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toIndexedSeq
  }

  /** What the reader delivers for rows [skip, skip+take) of `f`. */
  private def read(f: java.io.File, skip: Long, take: Long, fields: Seq[String]): Seq[Seq[Any]] = {
    val parts = FluvioDsv2.sliceSegments("t", Seq(f), 0, skip, skip + take, view, fields)
    assert(parts.size == 1)
    val factory = new FluvioReaderFactory(view, fields)
    val r = factory.createColumnarReader(parts.head)
    val out = Seq.newBuilder[Seq[Any]]
    try while (r.next()) {
      val b = r.get()
      for (i <- 0 until b.numRows) out += fields.indices.map { j =>
        val v = b.column(j)
        if (v.isNullAt(i)) null
        else fields(j) match {
          case "partition" => v.getInt(i)
          case "value"     => v.getUTF8String(i).toString
          case _           => v.getLong(i)
        }
      }
    } finally r.close()
    out.result()
  }

  test("a slice reads Spark's rows at [skip, skip+take) for any pruned field subset") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2_prop").toFile
    val segs = for {
      rows      <- Gen.frequency(1 -> Gen.choose(1, 300), 3 -> Gen.choose(4000, 14000))
      groupRows <- Gen.frequency(1 -> Gen.choose(1, 40), 2 -> Gen.choose(300, 2500),
                                 2 -> Gen.choose(3000, 9000))
      int32     <- Gen.oneOf(true, false)
      unit      <- Gen.oneOf(LogicalTypeAnnotation.TimeUnit.MILLIS,
                     LogicalTypeAnnotation.TimeUnit.MICROS, LogicalTypeAnnotation.TimeUnit.NANOS)
      nullEvery <- Gen.choose(5, 400)
    } yield SegSpec(rows, groupRows, int32, unit, nullEvery)
    def slice(rows: Int) = for {
      skip   <- Gen.choose(0, rows - 1)
      take   <- Gen.frequency(1 -> Gen.choose(1, math.min(3, rows - skip)),
                              3 -> Gen.choose(1, rows - skip))
      fields <- Gen.someOf(FluvioDsv2.Schema.fieldNames.toSeq)
    } yield (skip.toLong, take.toLong, FluvioDsv2.Schema.fieldNames.toSeq.filter(fields.contains))
    val cases = for {
      s  <- segs
      sl <- Gen.listOfN(12, slice(s.rows))
    } yield (s, sl)
    val fieldIdx = FluvioDsv2.Schema.fieldNames.zipWithIndex.toMap
    var n = 0
    val prop = Prop.forAllNoShrink(cases) { case (s, slices) =>
      n += 1
      val f = new java.io.File(dir, s"seg-$n.parquet")
      write(s, f)
      val ref = reference(f)
      slices.forall { case (skip, take, fields) =>
        val got = read(f, skip, take, fields)
        val want = ref.slice(skip.toInt, (skip + take).toInt).map(r => fields.map(c => r(fieldIdx(c))))
        val ok = got == want
        if (!ok) println(s"slice mismatch: $s skip=$skip take=$take fields=$fields: " +
          s"${got.size} rows, want ${want.size}; first difference at " +
          got.zip(want).indexWhere { case (g, w) => g != w })
        ok
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(Seed(11L)).withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }
}
