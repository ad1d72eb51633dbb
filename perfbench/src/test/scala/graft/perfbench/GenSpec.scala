package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def files(dir: Path): Map[String, Array[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap

  /** Generates `seed` the way run.py does: `Gen` in a JVM of its own, with
    * the constant identity hash. Each call is a fresh process, so the
    * comparison below covers what a cache entry made by one run and read
    * by another depends on. */
  private def make(seed: Long): Map[String, Array[Byte]] = {
    val root = Files.createTempDirectory("gen")
    try {
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val p = new ProcessBuilder(javaBin, "-Xmx2g", "-XX:+UnlockExperimentalVMOptions", "-XX:hashCode=2",
        "-cp", System.getProperty("java.class.path"), "graft.perfbench.Gen", seed.toString, root.toString)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
      assert(p.waitFor() == 0, s"Gen $seed failed")
      files(Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq.head)
    } finally Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("the same seed gives byte-identical inputs and expectations across processes; another seed differs") {
    val a = make(11)
    val b = make(11)
    val c = make(12)
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) })
    assert(a.keySet == c.keySet)
    assert(!java.util.Arrays.equals(a("expect.json"), c("expect.json")))
    assert(!java.util.Arrays.equals(a("vehicles.parquet/partition=0/seg-00000.parquet"),
      c("vehicles.parquet/partition=0/seg-00000.parquet")))
  }

  test("payloads have the transit shape and size, and the expectations add up") {
    val dir = Gen.ensure(Files.createTempDirectory("gen-cache"), 13)
    val in = Inputs.load(dir)
    assert(in.leo == Seq.fill(Gen.Partitions)(Gen.SegmentsPerPartition.toLong * Gen.RecordsPerSegment))
    assert(in.routeCount.sum == in.leo.sum)
    assert(in.routeCount(0) > 5 * in.routeCount(Gen.Routes / 2), "route key is Zipf-skewed")
    assert((0 until Gen.Partitions).map(p => in.routes(p).length.toLong) == in.leo)
    val segs = in.streamSegments
    val dups = segs.map(s => s.records - s.originals).sum.toDouble / segs.map(_.records).sum
    assert(dups > 0.03 && dups < 0.07, s"duplicate share $dups")
    val r = new java.util.SplittableRandom(1)
    val sb = new java.lang.StringBuilder
    val sizes = (0 until 2000).map(i => Gen.payload(sb, r, Gen.drawRoute(r), 7, 812, Gen.BaseMillis + i, i).length)
    assert(sizes.min >= 300 && sizes.max <= 600, s"${sizes.min}..${sizes.max}")
    val p = Gen.payload(sb, r, 0, 7, 812, Gen.BaseMillis, 0)
    assert(p.startsWith("""{"route":"1001K","VP":{"desi":"01K""""))
    assert(p.contains(""""veh":7,"tst":"2026-05-01T00:00:00.000Z"""") && p.contains(""""spd":8.12,"""))
  }
}
