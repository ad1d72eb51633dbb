package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class ConsumeOptSpec extends AnyFunSuite {

  private def ok(cmd: String): ConsumeOpt =
    ConsumeOpt.parse(cmd).fold(e => fail(s"parse failed: $e"), identity)
  private def err(cmd: String): String =
    ConsumeOpt.parse(cmd).fold(identity, o => fail(s"expected error, got $o"))

  test("topic only: defaults (rows=1000, partition=0, bounded, start=end-of-log)") {
    val o = ok("helsinki")
    assert(o.topic == "helsinki")
    assert(o.rows == 1000L)
    assert(o.partition == 0)
    assert(!o.continuous)
    assert(o.startOffset == OffsetSpec.End)
  }

  test("-B consumes from beginning") {
    assert(ok("t -B").startOffset == OffsetSpec.FromBeginning(0))
    assert(ok("t --beginning").startOffset == OffsetSpec.FromBeginning(0))
  }

  test("-H/-T/--start windows") {
    assert(ok("t -H 5").startOffset == OffsetSpec.FromBeginning(5))
    assert(ok("t --head 5").startOffset == OffsetSpec.FromBeginning(5))
    assert(ok("t -T 7").startOffset == OffsetSpec.FromEnd(7))
    assert(ok("t --start 42").startOffset == OffsetSpec.Absolute(42))
  }

  test("offset flags are mutually exclusive (clap conflict groups)") {
    assert(err("t -B -H 5").contains("cannot be used with"))
    assert(err("t -B -T 5").contains("cannot be used with"))
    assert(err("t -H 1 -T 2").contains("cannot be used with"))
    assert(err("t --start 1 -B").contains("cannot be used with"))
    assert(err("t --start 1 -T 3").contains("cannot be used with"))
  }

  test("-A conflicts with -p") {
    assert(err("t -A -p 2").contains("cannot be used with"))
    assert(ok("t -A").allPartitions)
    assert(ok("t -p 3").partition == 3)
  }

  test("end >= start validation (/root/reference/src/consume.rs:581-589)") {
    assert(err("t --start 10 --end 5")
      .contains("end-offset must be greater than or equal"))
    assert(ok("t --start 5 --end 10").end.contains(10L))
    assert(ok("t --start 5 --end 5").end.contains(5L))
  }

  test("--rows override and --end standalone") {
    assert(ok("t --rows 20").rows == 20L)
    assert(ok("t -B --end 100").end.contains(100L))
  }

  test("-d toggles continuous mode") {
    assert(ok("t -d").continuous)
    assert(!ok("t").continuous)
  }

  test("column mappings: name[:ty]=path with quote stripping") {
    val o = ok("""t -B -c lat:d=lat -c route=route -c time:t="tst" -c n:i=a.b""")
    assert(o.columns.map(c => (c.name, c.ty, c.path)) == Seq(
      ("lat", MappedType.D, "lat"),
      ("route", MappedType.S, "route"),
      ("time", MappedType.T, "tst"),
      ("n", MappedType.I, "a.b")))
  }

  test("unknown type suffix falls back to varchar (/root/reference/src/consume.rs:237)") {
    assert(ok("t -c x:z=path").columns.head.ty == MappedType.S)
  }

  test("-c without `=` is an error (parse_key_val)") {
    assert(err("t -c novalue").contains("no `=` found"))
  }

  test("-e params require --smartmodule") {
    assert(err("t -e k=v").contains("requires"))
    val o = ok("t --smartmodule sm1 -e k=v -e a=1")
    assert(o.params == Seq("k" -> "v", "a" -> "1"))
  }

  test("--aggregate-initial requires smartmodule group") {
    assert(err("t --aggregate-initial seed").contains("requires"))
    assert(ok("t --smartmodule agg --aggregate-initial seed")
      .aggregateInitial.contains("seed"))
  }

  test("--smartmodule conflicts with --transform/--transforms-file") {
    assert(err("t --smartmodule x --transform {}").contains("cannot be used with"))
    assert(err("t --smartmodule x --transforms-file f.yaml").contains("cannot be used with"))
    assert(err("t --transform {} --transforms-file f.yaml").contains("cannot be used with"))
  }

  test("isolation parsing (all four accepted spellings)") {
    for (s <- Seq("read_committed", "ReadCommitted", "readCommitted", "readcommitted"))
      assert(ok(s"t --isolation $s").isolation.contains(Isolation.ReadCommitted))
    for (s <- Seq("read_uncommitted", "ReadUncommitted"))
      assert(ok(s"t --isolation $s").isolation.contains(Isolation.ReadUncommitted))
    assert(err("t --isolation snapshot").contains("unrecognized isolation"))
  }

  test("--maxbytes accepted") {
    assert(ok("t -b 1048576").maxBytes.contains(1048576L))
    assert(ok("t --maxbytes 10").maxBytes.contains(10L))
  }

  test("missing topic / unknown flag / missing value errors") {
    assert(err("").contains("missing required argument"))
    assert(err("-B").contains("missing required argument"))
    assert(err("t --bogus 1").contains("unexpected argument"))
    assert(err("t extra").contains("unexpected argument"))
    assert(err("t -H").contains("a value is required"))
    assert(err("t -H abc").contains("not a number"))
  }

  test("negative numeric flags and out-of-range -p are invalid values") {
    // each would otherwise wrap or saturate downstream: --rows -1 read the
    // whole window, -H -3 planned past the cap, -p 4294967297 read
    // partition 1 through Int truncation
    for ((flag, v) <- Seq("--rows" -> "-1", "-H" -> "-3", "-T" -> "-1",
        "--start" -> "-5", "--end" -> "-1", "-b" -> "-10"))
      assert(err(s"t $flag $v") ==
        s"error: invalid value '$v' for '$flag': must be in 0..=${Long.MaxValue}")
    assert(err("t --rows=-1") ==
      s"error: invalid value '-1' for '--rows': must be in 0..=${Long.MaxValue}")
    for (v <- Seq("-1", "4294967297", (Int.MaxValue + 1L).toString))
      assert(err(s"t -p $v") == s"error: invalid value '$v' for '-p': must be in 0..=${Int.MaxValue}")
    assert(ok(s"t -p ${Int.MaxValue}").partition == Int.MaxValue)
    assert(ok(s"t -B --rows 0 --end ${Long.MaxValue}").rows == 0L)
  }

  test("--flag=value form") {
    val o = ok("t --rows=5 --start=2 --end=9")
    assert(o.rows == 5L && o.start.contains(2L) && o.end.contains(9L))
  }

  test("whitespace-only tokenization (no shell quoting)") {
    // mirrors parse_from_string: split_whitespace
    val o = ok("t    -B\t--rows   3")
    assert(o.beginning && o.rows == 3L)
  }
}
