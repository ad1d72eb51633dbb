package graft.functions

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import graft.SparkSpec
import graft.sources.{ColumnMapping, MappedType}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** JsonField path grammar: dotted object keys + numeric array indexes
  * (jql semantics — /root/reference/src/consume.rs:311-443). The typed
  * coercion matrix over array leaves is oracle-checked by the
  * jql_array_path CORRECTNESS entry; this spec pins the traversal corner
  * cases the fixture payload can't express. */
class JsonFieldSpec extends SparkSpec {
  import JsonFieldSpec._

  private def field(json: String, path: String): (Boolean, String) = {
    val df = spark.range(1).select(
      shim.column(JsonField(shim.expression(lit(json)), path)).as("f"))
    val r = df.select(col("f.exists"), col("f.raw")).head()
    (r.getBoolean(0), if (r.isNullAt(1)) null else r.getString(1))
  }

  test("numeric segments index arrays; chains traverse array-of-object") {
    assert(field("""{"a": [10, 20, 30]}""", "a.0") == (true, "10"))
    assert(field("""{"a": [10, 20, 30]}""", "a.2") == (true, "30"))
    assert(field("""{"a": [{"b": 1}, {"b": 2}]}""", "a.1.b") == (true, "2"))
    // a container leaf serializes as JSON text (get_json_object behavior)
    assert(field("""{"a": [[1, 2]]}""", "a.0") == (true, "[1,2]"))
    assert(field("""{"a": [[1, 2]]}""", "a.0.1") == (true, "2"))
    // top-level array payload: the whole path can start with an index
    assert(field("""[5, {"x": 6}]""", "0") == (true, "5"))
    assert(field("""[5, {"x": 6}]""", "1.x") == (true, "6"))
  }

  test("a numeric segment against an OBJECT is a key lookup, not an index") {
    assert(field("""{"a": {"0": "zero"}}""", "a.0") == (true, "zero"))
  }

  test("misses: out-of-range, non-array index, array as object key") {
    assert(field("""{"a": [10]}""", "a.1") == (false, null))
    assert(field("""{"a": 7}""", "a.0") == (false, null))
    assert(field("""{"a": [10]}""", "a.b") == (false, null))
    // JSON null element EXISTS with null raw (distinct from missing)
    assert(field("""{"a": [null]}""", "a.0") == (true, null))
    // a >=10-digit numeral would overflow toInt: it must behave like any
    // other miss (no array that large exists), never crash the task
    assert(field("""{"a": [10]}""", "a.9999999999") == (false, null))
    assert(field("""{"a": [10]}""", "a.9999999999.b") == (false, null))
    // ...but it still works as an OBJECT key, like any digit string
    assert(field("""{"a": {"9999999999": "big"}}""", "a.9999999999") == (true, "big"))
  }

  test("quoted segments: dots protected, forced key semantics, escapes") {
    // dotted keys at top level and nested
    assert(field("""{"a.b": 1}""", "\"a.b\"") == (true, "1"))
    assert(field("""{"m": {"x.y": "v"}}""", "m.\"x.y\"") == (true, "v"))
    // a QUOTED numeric is a key lookup everywhere: on an object it finds
    // the "7" key; against an array it is a miss (arrays have no keys)
    assert(field("""{"m": {"7": 3}}""", "m.\"7\"") == (true, "3"))
    assert(field("""{"a": [10]}""", "a.\"0\"") == (false, null))
    assert(field("""{"a": [10]}""", "a.0") == (true, "10")) // unquoted still indexes
    // escaped quote and backslash inside a quoted key
    assert(field("""{"q\"k": 9}""", "\"q\\\"k\"") == (true, "9"))
    assert(field("{\"b\\\\k\": 8}", "\"b\\\\k\"") == (true, "8"))
    // partial quoting composes within one segment; empty quoted key is legal
    assert(field("""{"ab.c": 5}""", "a\"b.c\"") == (true, "5"))
    assert(field("""{"": 6}""", "\"\"") == (true, "6"))
  }

  test("array slices: inclusive bounds, open ends, clamp, nesting, misses") {
    val j = """{"a": [10, 20, 30, 40], "k": 5, "[0:1]": 8}"""
    assert(field(j, "a.[0:1]") == (true, "[10,20]"))      // inclusive hi
    assert(field(j, "a.[2:]") == (true, "[30,40]"))       // open hi
    assert(field(j, "a.[:1]") == (true, "[10,20]"))       // open lo
    assert(field(j, "a.[:]") == (true, "[10,20,30,40]"))  // full copy
    assert(field(j, "a.[2:99]") == (true, "[30,40]"))     // clamped
    assert(field(j, "a.[3:2]") == (true, "[]"))           // inverted -> empty, not a miss
    assert(field(j, "a.[1:2].0") == (true, "20"))         // traverse INTO a slice
    assert(field(j, "k.[0:1]") == (false, null))          // slice of a scalar: miss
    assert(field(j, "\"[0:1]\"") == (true, "8"))          // quoted = ordinary key
    // nested containers survive the slice serialization
    assert(field("""{"a": [{"x": 1}, 2]}""", "a.[0:0]") == (true, """[{"x":1}]"""))
    // a 10-digit bound is not a slice (overflow rule) -> ordinary key miss
    assert(field(j, "a.[0:9999999999]") == (false, null))
  }

  test("malformed paths fail at bind time with the named error") {
    def bad(path: String): String =
      intercept[IllegalArgumentException](
        JsonField(shim.expression(lit("{}")), path)).getMessage
    assert(bad("a.\"b").contains("unterminated quote"))
    assert(bad("\"a\\").contains("trailing escape"))
    assert(bad("\"a\\n\"").contains("unsupported escape"))
    assert(bad("a..b").contains("empty segment"))
    assert(bad(".a").contains("empty segment"))
    // ...and the -c parse surfaces the same error as a CLI-style Left
    val e = ColumnMapping.parse("x:i", "a.\"b")
    assert(e.isLeft && e.swap.toOption.get.contains("unterminated quote"))
  }

  test("toColumnFromParsed routes quoted paths through JsonField") {
    // the quotes are path grammar, not part of the key
    val m = ColumnMapping("x", MappedType.I, "\"a.b\"")
    val df = spark.range(1).select(lit("""{"a.b": 7}""").as("value"))
    val got = df.select(
      m.toColumnFromParsed(ColumnMapping.parsed(col("value")), col("value")))
      .head()
    assert(got.getInt(0) == 7)
  }

  test("toColumnFromParsed routes numeric top-level paths through JsonField") {
    // a purely numeric path indexes a top-level array payload
    val m = ColumnMapping("x", MappedType.I, "0")
    val df = spark.range(1).select(lit("""[42]""").as("value"))
    val got = df.select(
      m.toColumnFromParsed(ColumnMapping.parsed(col("value")), col("value")))
      .head()
    assert(got.getInt(0) == 42)
  }

  test("multi-selection: top-level comma yields the array of all values") {
    val j = """{"a": 1, "b": {"c": "s", "x.y": 2}, "arr": [10, 20], "n": null}"""
    assert(field(j, "a,b.c") == (true, """[1,"s"]"""))      // string re-quotes
    assert(field(j, "a,arr.1") == (true, "[1,20]"))         // index composes
    assert(field(j, "b.\"x.y\",a") == (true, "[2,1]"))      // quoted seg composes
    assert(field(j, "arr.[0:1],a") == (true, "[[10,20],1]")) // slice composes
    assert(field(j, "a,b") == (true, """[1,{"c":"s","x.y":2}]""")) // container nests
    assert(field(j, "n,a") == (true, "[null,1]"))           // JSON null element
    assert(field(j, "a,a,a") == (true, "[1,1,1]"))          // repeats allowed
  }

  test("multi-selection misses and the quoted-comma key") {
    val j = """{"a": 1, "k,l": 7}"""
    // ANY failing selector fails the whole path (jql walker errors)
    assert(field(j, "a,zz") == (false, null))
    assert(field(j, "zz,a") == (false, null))
    // a QUOTED comma is an ordinary key, not a separator
    assert(field(j, "\"k,l\"") == (true, "7"))
    assert(field(j, "k,l") == (false, null)) // unquoted: two selectors, both miss
    // empty selectors are bind-time grammar errors
    def bad(path: String): String =
      intercept[IllegalArgumentException](
        JsonField(shim.expression(lit("{}")), path)).getMessage
    assert(bad("a,").contains("empty segment"))
    assert(bad(",a").contains("empty segment"))
    assert(bad("a,,b").contains("empty segment"))
    // single-selector contexts reject a multi path with a named error
    assert(intercept[IllegalArgumentException](
      JsonField.splitPath("a,b")).getMessage.contains("single selector"))
  }

  test("toColumnFromParsed routes comma paths through JsonField") {
    // `a,b` is multi-selection, not one literal key
    val m = ColumnMapping("x", MappedType.S, "a,b")
    val df = spark.range(1).select(lit("""{"a": 1, "b": 2}""").as("value"))
    val got = df.select(
      m.toColumnFromParsed(ColumnMapping.parsed(col("value")), col("value")))
      .head()
    assert(got.getString(0) == "[1,2]")
  }

  test("float text is Jackson's normalized BigDecimal, not the payload's digits") {
    assert(field("""{"x": 5.5600}""", "x") == (true, "5.56"))
    assert(field("""{"x": 1.0}""", "x") == (true, "1"))
    assert(field("""{"x": -50e-2}""", "x") == (true, "-0.5"))
    assert(field("""{"x": 1E+3}""", "x") == (true, "1E+3"))
    assert(field("""{"v": {"x": 2.50}}""", "v") == (true, """{"x":2.5}"""))
    // integers print canonically too: -0 is 0
    assert(field("""{"x": -0}""", "x") == (true, "0"))
  }

  test("a repeated key replaces everything found under its earlier occurrence") {
    val j = """{"VP": {"spd": 1, "x": 2}, "n": 0, "VP": {"x": 3}}"""
    val got = paths(j, Seq("VP.spd", "VP.x", "VP", "n"))
    assert(got == Seq((false, null), (true, "3"), (true, """{"x":3}"""), (true, "0")))
  }

  /** Every path of one JsonPaths pass over `json`, evaluated through Spark. */
  private def paths(json: String, ps: Seq[String]): Seq[(Boolean, String)] = {
    val r = spark.range(1).select(
      shim.column(JsonPaths(shim.expression(lit(json)), ps)).as("f")).head().getStruct(0)
    ps.indices.map { i =>
      val f = r.getStruct(i)
      (f.getBoolean(0), if (f.isNullAt(1)) null else f.getString(1))
    }
  }

  // ---- differential property: the one streaming pass against the
  // whole-document tree parse plus the path resolver it replaced

  /** What today's whole-document decode gives for `path`. */
  private def treeOracle(u: UTF8String, path: String): (Boolean, String) = {
    val root =
      try JsonPayload.mapper.readTree(u.toString)
      catch { case _: Exception => null }
    val n = if (root == null) null else JsonField.lookup(root, JsonField.splitSelectors(path))
    if (n == null) (false, null)
    else (true, Option(JsonPayload.valueText(n)).map(_.toString).orNull)
  }

  private val keyPool = Seq("a", "b", "c", "0", "1", "VP", "spd", "a.b", "k,l",
    "q\"k", "b\\k", "\u00e9", "\u65e5\u672c", "", "[0:1]")

  /** A JSON string literal of `s`: plain escapes, or every char as \\uXXXX. */
  private def jsonString(s: String): Gen[String] = Gen.oneOf(
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\"",
    "\"" + s.map(c => f"\\u${c.toInt}%04x").mkString + "\"")

  private val ws: Gen[String] = Gen.frequency(6 -> "", 2 -> " ", 1 -> "\n  ")

  private val scalar: Gen[J] = Gen.frequency(
    30 -> Gen.oneOf("x", "", "a b", "\u00e9t\u00e9", "\ud83d\ude00", "line\nbreak", "q\"uote", "5")
      .map(JStr),
    20 -> Gen.oneOf("0", "-0", "7", "-42", "2147483648", "-9223372036854775809",
      "12345678901234567890").map(JLit),
    30 -> Gen.oneOf("5.5600", "1.0", "-50e-2", "1E+3", "2.50", "0.0", "-0.0", "1e-7",
      "123.456e10", "6.02E23", "0.5", "60.123456").map(JLit),
    // exponents BigDecimal cannot hold: the tree parse refuses the document
    1 -> Gen.oneOf("1e99999999999", "1.5E-2147483649").map(JLit),
    20 -> Gen.oneOf("true", "false", "null").map(JLit))

  private def value(depth: Int): Gen[J] =
    if (depth <= 0) scalar
    else Gen.frequency(4 -> scalar, 3 -> obj(depth - 1), 1 -> arr(depth - 1))

  // a small key alphabet per object, so repeated keys are common
  private def obj(depth: Int): Gen[J] = for {
    n <- Gen.choose(0, 5)
    kvs <- Gen.listOfN(n, Gen.zip(Gen.frequency(3 -> Gen.oneOf("a", "b", "VP"),
      2 -> Gen.oneOf(keyPool)), value(depth)))
  } yield JObj(kvs)

  private def arr(depth: Int): Gen[J] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, value(depth))).map(JArr)

  private val root: Gen[J] = Gen.frequency(10 -> obj(3), 1 -> arr(2), 1 -> scalar)

  private def render(j: J): Gen[String] = j match {
    case JObj(kvs) =>
      Gen.sequence[List[String], String](kvs.map { case (k, v) =>
        for { kt <- jsonString(k); vt <- render(v); w <- ws } yield s"$w$kt$w:$w$vt"
      }).map(_.mkString("{", ",", "}"))
    case JArr(vs) =>
      Gen.sequence[List[String], String](vs.map(render)).flatMap(l => ws.map(w => l.mkString(s"[$w", s",$w", "]")))
    case JStr(s)    => jsonString(s)
    case JLit(text) => Gen.const(text)
  }

  private def bytes(s: String): Seq[Byte] = s.getBytes(UTF_8).toSeq
  private def raw(bs: Int*): Seq[Byte] = bs.map(_.toByte)

  /** The payload's bytes, sometimes damaged: truncated, trailing content,
    * invalid UTF-8 spliced in, a leading BOM or zero byte, a stray token. */
  private def damaged(b: Seq[Byte]): Gen[Seq[Byte]] = Gen.frequency(
    10 -> Gen.const(b),
    2 -> Gen.choose(0, b.length).map(b.take),
    2 -> Gen.oneOf(" ", " xyz", "}", """{"a":1}""", ",", "\u0000").map(t => b ++ bytes(t)),
    3 -> (for {
      at <- Gen.choose(0, b.length)
      bad <- Gen.oneOf(raw(0xFF), raw(0xC3), raw(0xED, 0xA0, 0x80), raw(0xC0, 0xAF),
        raw(0xF4, 0x90, 0x80, 0x80), raw(0xE2, 0x82), raw(0x80))
    } yield b.take(at) ++ bad ++ b.drop(at)),
    1 -> Gen.oneOf(raw(0xEF, 0xBB, 0xBF), raw(0)).map(_ ++ b),
    1 -> (for {
      at <- Gen.choose(0, math.max(0, b.length - 1)); c <- Gen.oneOf("]}:,\"x".toSeq)
    } yield b.take(at) ++ bytes(c.toString) ++ b.drop(at + 1)))

  /** A key segment: quoted when the grammar needs it, sometimes when not. */
  private def keySeg(k: String): Gen[String] = {
    val quoted = "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    if (k.isEmpty || k.exists(".,\"\\".contains(_))) Gen.const(quoted)
    else Gen.frequency(3 -> k, 1 -> quoted)
  }

  /** A segment with no regard for the document: a pool key, an index or
    * a slice. */
  private val anySeg: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(keyPool).flatMap(keySeg),
    2 -> Gen.oneOf("0", "1", "2", "9999999999"),
    1 -> Gen.oneOf("[0:1]", "[1:]", "[:0]"))

  /** A selector that walks the document (so it mostly hits), sometimes
    * stepping off it; always at least one segment. */
  private def walk(j: J, first: Boolean): Gen[List[String]] = {
    val stop: Gen[List[String]] = if (first) anySeg.map(List(_)) else Gen.const(Nil)
    j match {
      case JObj(kvs) if kvs.nonEmpty => Gen.frequency(
        1 -> stop,
        6 -> Gen.oneOf(kvs).flatMap { case (k, v) =>
          Gen.zip(keySeg(k), Gen.frequency(2 -> Gen.const(Nil), 3 -> walk(v, first = false)))
            .map { case (s, rest) => s :: rest }
        })
      case JArr(vs) if vs.nonEmpty => Gen.frequency(
        1 -> stop,
        1 -> Gen.oneOf("[0:1]", "[1:]").map(List(_)),
        5 -> Gen.choose(0, vs.length - 1).flatMap(i =>
          Gen.frequency(2 -> Gen.const(Nil), 3 -> walk(vs(i), first = false)).map(i.toString :: _)))
      case _ => Gen.frequency(3 -> stop, 1 -> anySeg.map(List(_)))
    }
  }

  private def selector(j: J): Gen[String] = Gen.frequency(
    5 -> walk(j, first = true).map(_.mkString(".")),
    1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, anySeg)).map(_.mkString(".")))

  /** 1–5 paths, multi-selections among them, plus prefixes of earlier
    * paths so overlapping paths (`VP` beside `VP.spd`) are common. */
  private def pathSet(j: J): Gen[Seq[String]] = for {
    n <- Gen.choose(1, 5)
    ps <- Gen.listOfN(n, Gen.frequency(5 -> selector(j),
      1 -> Gen.listOfN(2, selector(j)).map(_.mkString(","))))
    extra <- Gen.someOf(ps.filter(p => p.contains('.') && !p.contains('"') && !p.contains(',')))
  } yield ps ++ extra.map(p => p.substring(0, p.lastIndexOf('.')))

  private val docCase: Gen[(Seq[Byte], Seq[String])] = for {
    j <- root; text <- render(j); ps <- pathSet(j)
    // UTF-16 text: Jackson's byte reader would detect and decode it, the
    // string decode of the tree parse does not
    b <- Gen.frequency(20 -> damaged(bytes(text)),
      1 -> Gen.oneOf(UTF_16LE, UTF_16BE).map(cs => text.getBytes(cs).toSeq))
  } yield (b, ps)

  test("JsonPaths == whole-document readTree + resolver (differential property)") {
    val prop = Prop.forAllNoShrink(docCase, Gen.choose(0, 7)) { case ((b, ps), pad) =>
      // payload bytes at an offset inside a larger buffer, as in a row
      val buf = Array.fill[Byte](pad)(' '.toByte) ++ b ++ Array.fill[Byte](pad)('{'.toByte)
      val u = UTF8String.fromBytes(buf, pad, b.length)
      val row = JsonPaths(Literal(u), ps).convert(u)
      val got = ps.indices.map { i =>
        val f = row.getStruct(i, 2)
        (f.getBoolean(0), if (f.isNullAt(1)) null else f.getUTF8String(1).toString)
      }
      val want = ps.map(treeOracle(u, _))
      Prop(got == want) :|
        s"payload=${new String(b.toArray, UTF_8)} bytes=${b.map(x => f"${x & 0xFF}%02x").mkString}\n" +
        s"paths=$ps\ngot=$got\nwant=$want"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6000)
      .withInitialSeed(Seed(121L)).withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }
}

object JsonFieldSpec {
  /** A generated document: its structure (for paths that hit) and
    * scalars as JSON text. */
  sealed trait J
  final case class JObj(kvs: Seq[(String, J)]) extends J
  final case class JArr(vs: Seq[J]) extends J
  final case class JStr(s: String) extends J
  final case class JLit(text: String) extends J
}
