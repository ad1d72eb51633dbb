package graft.sources

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** [[ConsumeOpt.window]] is the one offset-window rule of every consume
  * path. It is checked against an independent model of the reference's
  * `calculate_offset` (reference `src/consume.rs:580-605`) plus the
  * inclusive `--end` and the `--rows` cap, in BigInt so the model has no
  * overflow to reason about; then end to end through
  * [[FluvioDuck.consume]] on a 2-partition, 2-segment topic.
  */
class ConsumeWindowSpec extends SparkSpec {

  /** The model: records [from, until) of a partition whose log ends at
    * `leo`; empty when until <= from. Reads the raw flags, not
    * [[ConsumeOpt.startOffset]]. */
  private def model(o: ConsumeOpt, leo: BigInt): (BigInt, BigInt) = {
    val from: BigInt =
      if (o.beginning) 0
      else o.head.orElse(o.start).map(BigInt(_))
        .getOrElse(o.tail.fold(leo)(t => (leo - t).max(0)))
    val until = (Seq(leo, from + o.rows) ++ o.end.map(e => BigInt(e) + 1)).min
    (from, until)
  }

  private def parsed(cmd: String): ConsumeOpt =
    ConsumeOpt.parse(cmd).fold(e => throw new IllegalArgumentException(s"$cmd: $e"), identity)

  /** Flag values: small, near `near`, anywhere up to 2^62, and at the top
    * of the Long range (where `+ 1` and `start + rows` overflow). */
  private def value(near: Long): Gen[Long] = Gen.frequency(
    3 -> Gen.choose(0L, 100L),
    2 -> Gen.choose(-3L, 3L).map(d => math.max(0L, near + d)),
    2 -> Gen.choose(0L, 1L << 62),
    1 -> Gen.choose(Long.MaxValue - 100L, Long.MaxValue),
    1 -> Gen.const(Long.MaxValue))

  /** A consume command over topic `t`: at most one offset flag, an
    * optional `--end` (at or after `--start`, as the parser requires) and
    * an optional `--rows`. */
  private def command(leo: Long, values: Long => Gen[Long]): Gen[String] = for {
    flag <- Gen.oneOf("", "-B", "-H", "--start", "-T")
    n <- values(leo)
    end <- Gen.option(values(leo).map(e => if (flag == "--start") math.max(e, n) else e))
    rows <- Gen.option(values(leo))
  } yield Seq(Some("t"),
      Some(flag match { case "" | "-B" => flag; case f => s"$f $n" }),
      end.map(e => s"--end $e"), rows.map(r => s"--rows $r"))
    .flatten.filter(_.nonEmpty).mkString(" ")

  test("window property: matches the BigInt calculate_offset + --end + --rows model") {
    val cases = for {
      leo <- Gen.frequency(1 -> Gen.const(0L), 2 -> Gen.choose(0L, 100L), 2 -> Gen.choose(0L, 1L << 62))
      cmd <- command(leo, value)
    } yield (leo, cmd)
    val prop = Prop.forAllNoShrink(cases) { case (leo, cmd) =>
      val o = parsed(cmd)
      val (from, until) = o.window(leo)
      val ok = (BigInt(from), BigInt(until)) == model(o, leo)
      if (!ok) println(s"window mismatch: leo=$leo `$cmd` -> ($from, $until), model ${model(o, leo)}")
      ok
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(5000)
      .withInitialSeed(Seed(7L)).withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }

  test("window edge cases: -T past the log start, saturating --end and --rows") {
    assert(parsed("t -T 50").window(10L) == ((0L, 10L)))
    assert(parsed(s"t -B --end ${Long.MaxValue}").window(10L) == ((0L, 10L)))
    assert(parsed(s"t --start 3 --rows ${Long.MaxValue}").window(10L) == ((3L, 10L)))
    assert(parsed(s"t --start ${Long.MaxValue} --rows ${Long.MaxValue}").window(10L) ==
      ((Long.MaxValue, 10L)))
    assert(parsed("t").window(10L) == ((10L, 10L)))
    assert(parsed("t -B --rows 0").window(10L) == ((0L, 0L)))
  }

  test("differential: consume on a 2-partition, 2-segment topic delivers the model's ranges") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("consume_window_").toFile
    // partition 0: segments of 7 and 5 records; partition 1: 4 and 6.
    // Each segment is one parquet file named seg-<i>, all with one mtime,
    // so the source orders them by name
    val segments = Map(0 -> Seq(7, 5), 1 -> Seq(4, 6))
    for ((p, sizes) <- segments; ((first, n), i) <- sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex) {
      val tmp = java.nio.file.Files.createTempDirectory("consume_window_seg_").toFile
      (first until first + n).map(o =>
        (o.toLong, new java.sql.Timestamp(1700000000000L + o), s"""{"p":$p}"""))
        .toDF("offset", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val dir = new java.io.File(base, s"t.parquet/partition=$p")
      val seg = new java.io.File(dir, s"seg-$i.parquet")
      dir.mkdirs()
      assert(tmp.listFiles().filter(_.getName.endsWith(".parquet")).head.renameTo(seg))
      seg.setLastModified(1700000000000L)
    }
    val leos = segments.map { case (p, s) => p -> s.sum.toLong }
    spark.conf.set(TopicRegistry.confKey("t"), "offset,ts,value")
    try {
      val small: Long => Gen[Long] = near => Gen.frequency(
        6 -> Gen.choose(0L, near + 3L), 1 -> Gen.const(Long.MaxValue))
      val cases = for {
        part <- Gen.oneOf("", "-p 0", "-p 1", "-A")
        cmd <- command(12L, small)
      } yield s"$cmd $part".trim
      val prop = Prop.forAllNoShrink(cases) { cmd =>
        val o = parsed(cmd)
        val parts = if (o.allPartitions) Seq(0, 1) else Seq(o.partition)
        val want = parts.flatMap { p =>
          val (from, until) = model(o, leos(p))
          (from.toLong until until.toLong).map(off => (off, s"""{"p":$p}"""))
        }.sorted
        val got = FluvioDuck.consume(spark, cmd, base.getAbsolutePath)
          .select("offset", "value").as[(Long, String)].collect().toSeq.sorted
        if (got != want) println(s"consume mismatch: `$cmd` -> $got, model $want")
        got == want
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
        .withInitialSeed(Seed(13L)).withWorkers(1), prop)
      assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
    } finally spark.conf.unset(TopicRegistry.confKey("t"))
  }
}
