package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Seeded input generator. Everything the benchmark feeds the program is
  * made here from the seed alone, written once per (seed, [[Version]])
  * into the cache directory, and read back by the workloads:
  *
  *   - `vehicles.parquet/partition=N/seg-XXXXX.parquet`: the static topic
  *     (4 partitions × 12 segments × 5,000 records, 5 row groups per
  *     segment) that consume_interactive and topic_bulk read;
  *   - `stream/tTTTTT-pP.parquet`: the live topic's segments, one per
  *     partition per tick, published by stream_live on its schedule;
  *   - `expect.json`: what the generator recorded (LEOs, per-route counts
  *     and sums, the stream's segment table and distinct count), and
  *     `routes-pN.bin`: each static record's route index (big-endian
  *     shorts, offset order), for filter counts.
  *
  * Payloads copy the shape of the Helsinki HFP transit feed the reference
  * demonstrates with (`{"route":…,"VP":{"desi","veh","spd","lat","long",
  * "tst",…}}`), 300–600 bytes each, with a Zipf-skewed route key; about 5%
  * of the live topic's records repeat an earlier payload byte for byte.
  *
  * Run as its own process: `Gen <seed> <cacheRoot>` prints the input
  * directory. Output goes to a temp directory renamed into place, so a
  * killed generator never leaves a half-written cache entry.
  */
object Gen {
  val Version = 8
  val Partitions = 4
  val SegmentsPerPartition = 12
  val RecordsPerSegment = 5000
  val RowGroupBytes: Long = 512L << 10
  val Routes = 300
  val ZipfS = 1.07
  /** Live topic: one segment per partition every TickMs, StreamSegment
    * records each (2,000 records/s offered), for up to StreamTicks ticks
    * (tick 0, the warm-up ticks and a window of up to 49 s). A tick is longer than a trigger takes on 4 cores, so
    * each tick's records are delivered by a trigger of their own and a
    * record's latency is one trigger, not a queue of them. */
  val TickMs = 1000L
  val StreamSegment = 500
  val StreamTicks = 60
  val DupShare = 0.05
  /** Event time of the first record: 2026-05-01T00:00:00Z. */
  val BaseMillis = 1777593600000L

  val schema: MessageType = Types.buildMessage()
    .required(PrimitiveTypeName.INT64).named("offset")
    .required(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MILLIS))
    .named("ts")
    .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("value")
    .named("record")

  def routeName(i: Int): String = s"${1001 + i}${"KNABTX".charAt(i % 6)}"

  /** Generate (or reuse) the inputs for `seed`; returns their directory. */
  def ensure(cacheRoot: Path, seed: Long): Path = {
    val dir = cacheRoot.resolve(s"s$seed-v$Version")
    if (Files.exists(dir.resolve("expect.json"))) return dir
    Files.createDirectories(cacheRoot)
    val tmp = Files.createTempDirectory(cacheRoot, s".gen-s$seed-")
    generate(tmp, seed)
    try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException => Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) }
    dir
  }

  /** Zipf CDF over route indexes: route 0 is the most frequent. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Routes)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def drawRoute(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Routes - 1)
  }

  private val Words = Array("rautatientori", "kamppi", "pasila", "sornainen", "hakaniemi",
    "kallio", "toolo", "munkkiniemi", "herttoniemi", "itakeskus", "vuosaari", "kontula",
    "malmi", "oulunkyla", "leppavaara", "tapiola", "otaniemi", "lauttasaari", "ruoholahti")

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  /** One HFP-shaped payload. `spdCents` and `veh` are what the aggregate
    * checks sum; `tstMillis` is unique per record within a topic. */
  def payload(sb: java.lang.StringBuilder, r: SplittableRandom, route: Int, veh: Int,
              spdCents: Int, tstMillis: Long, seq: Long): String = {
    sb.setLength(0)
    val name = routeName(route)
    val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(tstMillis, 86400000L)).toString
    val msOfDay = Math.floorMod(tstMillis, 86400000L)
    val ms = (msOfDay % 1000).toInt
    val secs = (msOfDay / 1000).toInt
    sb.append("{\"route\":\"").append(name).append("\",\"VP\":{\"desi\":\"")
      .append(name.substring(2)).append("\",\"dir\":\"").append(1 + r.nextInt(2))
      .append("\",\"oper\":").append(6 + r.nextInt(40))
      .append(",\"veh\":").append(veh)
      .append(",\"tst\":\"").append(day).append('T')
      .append(two(secs / 3600)).append(':').append(two(secs / 60 % 60)).append(':')
      .append(two(secs % 60)).append('.')
      .append(if (ms < 10) "00" else if (ms < 100) "0" else "").append(ms).append("Z\"")
      .append(",\"tsi\":").append(tstMillis / 1000)
      .append(",\"spd\":").append(spdCents / 100).append('.').append(two(spdCents % 100))
      .append(",\"hdg\":").append(r.nextInt(360))
      .append(",\"lat\":60.").append(100000 + r.nextInt(200000))
      .append(",\"long\":24.").append(700000 + r.nextInt(300000))
      .append(",\"acc\":").append(r.nextInt(200) - 100).append("e-2")
      .append(",\"dl\":").append(r.nextInt(600) - 300)
      .append(",\"odo\":").append(r.nextInt(40000))
      .append(",\"drst\":").append(r.nextInt(2))
      .append(",\"oday\":\"").append(day).append('"')
      .append(",\"jrn\":").append(r.nextInt(2000))
      .append(",\"line\":").append(route + 1)
      .append(",\"start\":\"").append(two(r.nextInt(24))).append(':').append(two(r.nextInt(60))).append('"')
      .append(",\"loc\":\"GPS\",\"stop\":")
    if (r.nextInt(4) == 0) sb.append("null") else sb.append(1000000 + r.nextInt(900000))
    sb.append(",\"route\":\"").append(name).append("\",\"occu\":").append(r.nextInt(100))
      .append(",\"stopname\":\"")
    // variable tail: 0–12 place words, so payloads span ~320–560 bytes
    val nw = r.nextInt(13)
    var i = 0
    while (i < nw) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    sb.append("\"},\"seq\":").append(seq).append('}')
    sb.toString
  }

  /** One Hadoop configuration for every writer: building a default one
    * per segment costs more than writing the segment. */
  private lazy val conf = new org.apache.hadoop.conf.Configuration()

  private def writer(path: Path): ParquetWriter[org.apache.parquet.example.data.Group] =
    ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(RowGroupBytes)
      .withDictionaryEncoding(false)
      .withValidation(false)
      .build()

  final case class StreamSeg(tick: Int, partition: Int, firstSeq: Long, originals: Int, records: Int)

  def generate(dir: Path, seed: Long): Unit = {
    val factory = new SimpleGroupFactory(schema)
    // ---- static topic: partitions generated in parallel, each from its own seed
    val results = new Array[(Array[Long], Array[Long], Array[Long])](Partitions)
    val threads = (0 until Partitions).map { p =>
      new Thread(() => {
        val r = new SplittableRandom(seed * 1000003L + p)
        val pdir = dir.resolve(s"vehicles.parquet/partition=$p")
        Files.createDirectories(pdir)
        val counts = new Array[Long](Routes)
        val vehSum = new Array[Long](Routes)
        val spdSum = new Array[Long](Routes)
        val routeIdx = java.nio.ByteBuffer.allocate(2 * SegmentsPerPartition * RecordsPerSegment)
        val sb = new java.lang.StringBuilder(640)
        var off = 0L
        for (s <- 0 until SegmentsPerPartition) {
          val w = writer(pdir.resolve(f"seg-$s%05d.parquet"))
          try for (_ <- 0 until RecordsPerSegment) {
            val route = drawRoute(r)
            val veh = 1 + r.nextInt(2000)
            val spd = r.nextInt(3000)
            // event time interleaves partitions: global record order
            val ts = BaseMillis + (off * Partitions + p) * 7
            val v = payload(sb, r, route, veh, spd, ts, off * Partitions + p)
            counts(route) += 1; vehSum(route) += veh; spdSum(route) += spd
            routeIdx.putShort(route.toShort)
            w.write(factory.newGroup().append("offset", off).append("ts", ts).append("value", v))
            off += 1
          } finally w.close()
        }
        Files.write(dir.resolve(s"routes-p$p.bin"), routeIdx.array())
        results(p) = (counts, vehSum, spdSum)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    require(results.forall(_ != null), "static topic generation failed")

    // ---- live topic segments: drawn in order (tick-major, partition-minor)
    // from one generator, then written in parallel
    val sdir = dir.resolve("stream")
    Files.createDirectories(sdir)
    val r = new SplittableRandom(seed * 1000003L + 977)
    val sb = new java.lang.StringBuilder(640)
    var seq = 0L
    val segs = Seq.newBuilder[StreamSeg]
    val files = Seq.newBuilder[(Path, Array[(Long, String)])]
    // recent payloads per partition, the pool exact duplicates are drawn from
    val recent = Array.fill(Partitions)(new scala.collection.mutable.ArrayBuffer[(Long, String)]())
    val streamBase = BaseMillis + 86400000L
    for (tick <- 0 until StreamTicks; p <- 0 until Partitions) {
      val first = seq
      var originals = 0
      val fresh = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val rows = Array.fill(StreamSegment) {
        val dup = tick > 0 && r.nextDouble() < DupShare && recent(p).nonEmpty
        if (dup) recent(p)(r.nextInt(recent(p).size))
        else {
          val ts = streamBase + seq * 3
          val v = payload(sb, r, drawRoute(r), 1 + r.nextInt(2000), r.nextInt(3000), ts, seq)
          seq += 1; originals += 1
          fresh += ((ts, v))
          (ts, v)
        }
      }
      recent(p) = fresh
      segs += StreamSeg(tick, p, first, originals, StreamSegment)
      files += (sdir.resolve(f"t$tick%05d-p$p.parquet") -> rows)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Partitions)
    try {
      val writes = files.result().map { case (path, rows) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tick = path.getFileName.toString.substring(1, 6).toLong
            val w = writer(path)
            try for (((ts, v), i) <- rows.zipWithIndex)
              w.write(factory.newGroup().append("offset", tick * StreamSegment + i).append("ts", ts).append("value", v))
            finally w.close()
          }
        })
      }
      writes.foreach(_.get())
    } finally pool.shutdown()

    // ---- expectations
    val json = new StringBuilder
    json.append("{\"seed\":").append(seed).append(",\"version\":").append(Version)
    json.append(",\"leo\":[").append(Seq.fill(Partitions)(SegmentsPerPartition.toLong * RecordsPerSegment).mkString(",")).append(']')
    def arr(f: ((Array[Long], Array[Long], Array[Long])) => Array[Long]): String =
      (0 until Routes).map(i => results.map(f(_)(i)).sum).mkString("[", ",", "]")
    json.append(",\"route_count\":").append(arr(_._1))
    json.append(",\"route_veh_sum\":").append(arr(_._2))
    json.append(",\"route_spd_cents\":").append(arr(_._3))
    json.append(",\"stream_segments\":").append(segs.result().map(s =>
      s"[${s.tick},${s.partition},${s.firstSeq},${s.originals},${s.records}]").mkString("[", ",", "]"))
    json.append('}')
    Files.writeString(dir.resolve("expect.json"), json.toString)
  }

  def main(args: Array[String]): Unit = {
    val dir = ensure(java.nio.file.Paths.get(args(1)), args(0).toLong)
    println(dir)
  }
}
