package graft.functions

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, GetStructField, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native JSON payload accessors: one Jackson parse per row, inlined into
  * whole-stage codegen via a reference object.
  *
  * The built-ins they replace — `from_json` (JsonToStructs),
  * `get_json_object`, `json_object_keys` — are all CodegenFallback:
  * inside a codegen'd stage each call drops to interpreted
  * `Expression.eval`, whose framework call sites turn megamorphic as a
  * long-lived JVM runs varied plans; measured 3 s → 220 s on an identical
  * 100k-row query depending on what ran before (the round-1/round-2
  * "suite-position degradation"). Generated code calling a monomorphic
  * method on a reference object has no such cliff — and at 1000-executor
  * scale, fresh executors JIT the same narrow path immediately.
  */
object JsonPayload {
  /** BigDecimal floats, so a float's text keeps its exact digits (no
    * binary-double rounding, no `1.0E3` notation). It is NOT the
    * payload's text: Jackson 2.21's tree reader strips trailing zeros,
    * so `5.5600` reads `5.56`, `1.0` reads `1`, `-50e-2` reads `-0.5`,
    * `1E+3` stays `1E+3` and `{"x":2.50}` serializes as `{"x":2.5}`
    * (pinned in JsonFieldSpec). */
  private[functions] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)
    m
  }

  /** A JSON value as get_json_object text: strings bare, scalars as their
    * literal text, containers as compact JSON, null → SQL null. */
  private[functions] def valueText(n: JsonNode): UTF8String =
    if (n == null || n.isNull) null
    else if (n.isTextual) UTF8String.fromString(n.asText())
    else if (n.isContainerNode) UTF8String.fromString(mapper.writeValueAsString(n))
    else UTF8String.fromString(n.asText())
}

/** `map<string,string>` of the payload's top-level fields — the native
  * replacement for `from_json(value, 'map<string,string>')`. Values mirror
  * the JacksonParser string-coercion: scalars as text, nested containers
  * as their JSON text, JSON null as a null entry. Malformed / non-object
  * payloads → SQL NULL (PERMISSIVE from_json behavior). */
case class JsonToMap(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = true)
  override def nullable: Boolean = true

  def convert(u: UTF8String): MapData = {
    if (u == null) return null
    val root =
      try JsonPayload.mapper.readTree(u.toString)
      catch { case _: Exception => null }
    if (root == null || !root.isObject) return null
    val keys = new scala.collection.mutable.ArrayBuffer[Any]
    val vals = new scala.collection.mutable.ArrayBuffer[Any]
    val it = root.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys += UTF8String.fromString(e.getKey)
      vals += JsonPayload.valueText(e.getValue)
    }
    new ArrayBasedMapData(new GenericArrayData(keys.toArray),
      new GenericArrayData(vals.toArray))
  }

  override def eval(input: InternalRow): Any =
    convert(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonToMap", this, classOf[JsonToMap].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.MapData ${ev.value} =
          $ref.convert(${childGen.isNull} ? null : ${childGen.value});
        boolean ${ev.isNull} = ${ev.value} == null;"""
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonToMap =
    copy(child = newChild)
}

object JsonField {
  /** One parsed path segment. `quoted` segments are ALWAYS object-key
    * lookups — quoting is how a caller forces a numeric KEY (`m."7"`)
    * instead of an array index or a slice, mirroring the jql crate's
    * quoted-selector semantics. */
  final case class Segment(text: String, quoted: Boolean)

  private val SliceRe = """^\[([0-9]*):([0-9]*)\]$""".r

  /** Whether unquoted segment text is an array-slice selector
    * (`[lo:hi]`, either bound optional) — the jql crate's slice, with
    * jql's INCLUSIVE bounds: `a.[1:2]` keeps elements 1 and 2. Bounds
    * are capped at 9 digits (the array-index overflow rule); anything
    * not matching the exact shape is an ordinary object key. */
  def isSlice(text: String): Boolean = text match {
    case SliceRe(lo, hi) => lo.length <= 9 && hi.length <= 9
    case _               => false
  }

  /** (lo, hiInclusive) of a slice segment; hi None = to the end. */
  private[functions] def sliceBounds(text: String): (Int, Option[Int]) =
    text match {
      case SliceRe(lo, hi) =>
        (if (lo.isEmpty) 0 else lo.toInt,
          if (hi.isEmpty) None else Some(hi.toInt))
      case _ => throw new IllegalArgumentException(s"not a slice: `$text`")
    }

  /** Split a jql-ish path into SELECTORS of dot-separated segments.
    * Grammar: a top-level (unquoted) `,` separates selectors — the jql
    * crate's multi-selection, whose result is the ARRAY of every
    * selector's value; `.` separates segments within a selector; a
    * segment (or part of one) may be wrapped in double quotes to protect
    * dots AND commas inside a KEY (`meta."a.b"` is two segments,
    * `"k,l"` is one single-selector key); inside quotes `\"` is a
    * literal quote and `\\` a literal backslash. Malformed paths —
    * unterminated quote, trailing/unknown escape, empty unquoted
    * segment (which covers the empty selector of `a,` / `,a`) — throw
    * IllegalArgumentException, surfaced at BIND time (the -c parse and
    * the JsonField constructor both validate), never inside a running
    * task. */
  def splitSelectors(path: String): Array[Array[Segment]] = {
    val sels = scala.collection.mutable.ArrayBuffer.empty[Array[Segment]]
    val out = scala.collection.mutable.ArrayBuffer.empty[Segment]
    val sb = new java.lang.StringBuilder
    var quoted = false
    var inQ = false
    var i = 0
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"invalid jql path `$path`: $why")
    def endSegment(): Unit = {
      if (sb.length == 0 && !quoted) fail("empty segment")
      out += Segment(sb.toString, quoted); sb.setLength(0); quoted = false
    }
    def endSelector(): Unit = {
      endSegment(); sels += out.toArray; out.clear()
    }
    while (i < path.length) {
      val c = path.charAt(i)
      if (inQ) c match {
        case '\\' =>
          if (i + 1 >= path.length) fail("trailing escape")
          val n = path.charAt(i + 1)
          if (n != '"' && n != '\\') fail(s"unsupported escape \\$n")
          sb.append(n); i += 1
        case '"' => inQ = false
        case o   => sb.append(o)
      } else c match {
        case '.' => endSegment()
        case ',' => endSelector()
        case '"' => inQ = true; quoted = true
        case o   => sb.append(o)
      }
      i += 1
    }
    if (inQ) fail("unterminated quote")
    endSelector()
    sels.toArray
  }

  /** Single-selector form of [[splitSelectors]] — for contexts where
    * multi-selection has no meaning; a multi-selector path here is the
    * same bind-time error surface as any other grammar violation. */
  def splitPath(path: String): Array[Segment] = {
    val sels = splitSelectors(path)
    if (sels.length != 1)
      throw new IllegalArgumentException(s"invalid jql path `$path`: " +
        "multi-selector path where a single selector is required")
    sels(0)
  }

  /** What one path resolves to: `raw` follows get_json_object semantics
    * (null for JSON null or missing), `exists` tells the two apart. */
  val ResultType: StructType = StructType(Seq(
    StructField("exists", BooleanType, nullable = false),
    StructField("raw", StringType, nullable = true)))

  /** `struct<exists, raw>` of one path: the one-path case of [[JsonPaths]]. */
  def apply(child: Expression, path: String): Expression =
    GetStructField(JsonPaths(child, Seq(path)), 0)

  /** A path of one quoted segment: a lookup of the top-level key `key`,
    * whatever characters it holds. */
  def quoteKey(key: String): String =
    "\"" + key.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // length cap keeps `toInt` from overflowing on a >=10-digit numeral:
  // an index that large is out of range of any real array, so it falls
  // through to the object-key/missing-path branch like any other miss
  // (never an uncaught NumberFormatException crashing the task)
  private def isIndex(seg: Segment): Boolean =
    !seg.quoted && seg.text.nonEmpty && seg.text.length <= 9 &&
      seg.text.forall(c => c >= '0' && c <= '9')

  private def isSliceSeg(seg: Segment): Boolean =
    !seg.quoted && isSlice(seg.text)

  /** Whether `seg` looks up an object key on every node: neither an
    * array index nor a slice (a quoted segment never is). */
  private[functions] def isKey(seg: Segment): Boolean =
    !isIndex(seg) && !isSliceSeg(seg)

  /** The [lo, hi]-inclusive sub-array of `arr` as a fresh ArrayNode;
    * out-of-range bounds clamp, an inverted range is empty (standard
    * slice behavior — never a miss on an actual array). */
  private def sliceNode(arr: JsonNode, seg: Segment): JsonNode = {
    val (lo, hiOpt) = sliceBounds(seg.text)
    val out = JsonPayload.mapper.createArrayNode()
    var i = lo
    val end = math.min(hiOpt.map(_ + 1).getOrElse(arr.size), arr.size)
    while (i < end) { out.add(arr.get(i)); i += 1 }
    out
  }

  /** The child at `seg`: array element for an unquoted numeric segment on
    * an array node, sliced sub-array for an unquoted `[lo:hi]` segment,
    * else object field (Jackson returns null for either miss — including
    * a quoted segment against an array, which is a forced key lookup and
    * arrays have no keys; a slice against a non-array is likewise a
    * miss). */
  private def step(node: JsonNode, seg: Segment): JsonNode =
    if (isSliceSeg(seg)) { if (node.isArray) sliceNode(node, seg) else null }
    else if (node.isArray && isIndex(seg)) node.get(seg.text.toInt)
    else node.get(seg.text)

  /** The node one selector resolves to from `root` (`root` itself for no
    * segments), or Java null for a miss. A JSON null leaf comes back as
    * Jackson's NullNode — present, distinct from a miss (a slice of an
    * array always exists, possibly empty). */
  def resolve(root: JsonNode, segs: Array[Segment]): JsonNode = {
    if (segs.isEmpty) return root
    var node: JsonNode = root
    var i = 0
    while (node != null && i < segs.length - 1) {
      node = step(node, segs(i)); i += 1
    }
    if (node == null) return null
    val leaf = segs(segs.length - 1)
    if (isSliceSeg(leaf)) {
      if (node.isArray) sliceNode(node, leaf) else null
    } else if (node.isArray && isIndex(leaf)) {
      if (leaf.text.toInt < node.size) node.get(leaf.text.toInt) else null
    } else if (node.isObject && node.has(leaf.text)) {
      node.get(leaf.text)
    } else null
  }

  /** A whole path over a parsed document: the one selector's node, or
    * for multi-selection the array of every selector's value — a miss
    * (null) as soon as any selector fails (jql walker semantics). */
  def lookup(root: JsonNode, selectors: Array[Array[Segment]]): JsonNode =
    if (selectors.length == 1) resolve(root, selectors(0))
    else {
      val arr = JsonPayload.mapper.createArrayNode()
      var i = 0
      while (i < selectors.length) {
        val n = resolve(root, selectors(i))
        if (n == null) return null
        arr.add(n); i += 1
      }
      arr
    }
}

/** `struct<p0: struct<exists, raw>, p1: …>`: every path of `paths`
  * resolved over the JSON payload in ONE streaming pass, `p<i>` for
  * `paths(i)`. `raw` follows get_json_object semantics (null for JSON
  * null or missing), `exists` tells the two apart.
  *
  * Path grammar ([[JsonField.splitSelectors]]): dot-separated segments; a
  * purely NUMERIC unquoted segment indexes into an array (`a.0.b` — the
  * jql crate's array access the reference routes `-c` paths through,
  * its `src/consume.rs:311-443`); an unquoted `[lo:hi]` segment slices
  * an array with jql's inclusive bounds (`a.[1:2]`, the serialized
  * sub-array; traversal can continue into it); a QUOTED segment is always
  * a key lookup and may contain dots (`meta."a.b"`, the jql quoted
  * selector). Against an OBJECT a numeric segment is an ordinary key
  * lookup (JSON keys can be "0"); an out-of-range index, an index into
  * a non-array, or a slice of a non-array is a missing path, same as an
  * absent key. A top-level unquoted `,` separates SELECTORS (jql
  * multi-selection): `a,b.c` yields the JSON array of every selector's
  * value — strings re-quoted, containers nested, JSON null as a null
  * element — and ANY selector missing makes the whole path a miss.
  *
  * The result is defined as `JsonField.lookup` over the whole document
  * `mapper.readTree(payload.toString)`, then `JsonPayload.valueText`; a
  * payload that does not parse misses every path. The pass computes that
  * without the whole tree: Jackson's streaming parser reads the payload's
  * UTF-8 bytes once, walking a trie of the paths' key segments built at
  * bind time, and skips every subtree no path asks for. A tree is built
  * only for a subtree where a path ends on a container or a float (their
  * text is the tree's serialization), or continues with an index, a
  * slice or multi-selection; the rest of such paths resolves on that
  * subtree with the same resolver. Byte-identical to the whole-document
  * parse, which the differential property test in JsonFieldSpec checks:
  *   - a repeated key replaces everything found under its earlier
  *     occurrence (the tree's last-wins);
  *   - content after the root value is never read (readTree ignores it);
  *   - skipped floats are still checked for an exponent BigDecimal cannot
  *     hold, which fails the tree parse;
  *   - payloads that are not valid UTF-8 (the tree parse decodes them with
  *     U+FFFD replacement) or that Jackson's byte reader could take for
  *     another encoding (a zero byte in the first four, a leading BOM
  *     byte) are read from their decoded string instead.
  * One bound differs: a string longer than Jackson's 20M-character limit
  * inside a skipped subtree is not materialized, so it is not refused. */
case class JsonPaths(child: Expression, paths: Seq[String]) extends UnaryExpression {
  require(paths.nonEmpty, "JsonPaths needs at least one path")
  // bind-time grammar validation: a malformed path fails the query at
  // construction with the named error, not mid-task on an executor
  paths.foreach(JsonField.splitSelectors)

  override def dataType: DataType = StructType(paths.indices.map(i =>
    StructField(s"p$i", JsonField.ResultType, nullable = false)))
  override def nullable: Boolean = false

  @transient private lazy val trie = new JsonPaths.Trie(paths)

  def convert(u: UTF8String): InternalRow = trie(u)

  override def eval(input: InternalRow): Any =
    convert(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonPaths", this, classOf[JsonPaths].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        InternalRow ${ev.value} =
          $ref.convert(${childGen.isNull} ? null : ${childGen.value});"""
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonPaths =
    copy(child = newChild)
}

object JsonPaths {
  import JsonField.Segment
  import JsonToken._

  private val TrueText = UTF8String.fromString("true")
  private val FalseText = UTF8String.fromString("false")

  /** One selector to resolve: its result slot, the segments left below
    * the trie node holding it, and whether the slot keeps the value as a
    * node (a multi-selection element) rather than as text. */
  private final case class Req(slot: Int, rest: Array[Segment], asNode: Boolean)

  /** A position reached from the root through object keys only. */
  private final class Node {
    val children = new java.util.HashMap[String, Node]()
    /** Selectors whose key prefix ends here. */
    var here: Array[Req] = Array.empty
    /** Every selector at or below this node, with its segments relative
      * to it — what a tree built here must resolve. */
    var below: Array[Req] = Array.empty
    /** Some selector here takes the value's text directly. */
    var textHere = false
    /** Some selector here needs the value as a tree. */
    var treeHere = false
  }

  private[functions] final class Trie(paths: Seq[String]) {
    private val selectors = paths.map(JsonField.splitSelectors).toArray
    /** Result slots of each path's selectors. */
    private val slots: Array[Array[Int]] = {
      var next = 0
      selectors.map(_.map { _ => next += 1; next - 1 })
    }
    private val nSlots = slots.map(_.length).sum
    private val root = new Node

    for (p <- selectors.indices; s <- selectors(p).indices) {
      val segs = selectors(p)(s)
      val asNode = selectors(p).length > 1
      var node = root
      var d = 0
      node.below :+= Req(slots(p)(s), segs, asNode)
      while (d < segs.length && JsonField.isKey(segs(d))) {
        node = node.children.computeIfAbsent(segs(d).text, _ => new Node)
        d += 1
        node.below :+= Req(slots(p)(s), segs.drop(d), asNode)
      }
      val req = Req(slots(p)(s), segs.drop(d), asNode)
      node.here :+= req
      if (req.rest.isEmpty && !asNode) node.textHere = true else node.treeHere = true
    }

    def apply(u: UTF8String): InternalRow = {
      val run = new Run(nSlots)
      if (u != null) {
        var p: JsonParser = null
        try {
          p = parser(u)
          val t = p.nextToken()
          if (t != null) run.value(p, t, root)
        } catch {
          // a payload that does not parse misses every path
          case _: Exception => run.clear()
        } finally if (p != null) p.close()
      }
      val out = new Array[Any](selectors.length)
      var i = 0
      while (i < out.length) {
        out(i) = run.result(slots(i))
        i += 1
      }
      new GenericInternalRow(out)
    }
  }

  /** Per-row state: what each slot found. */
  private final class Run(n: Int) {
    private val found = new Array[Boolean](n)
    private val text = new Array[UTF8String](n)
    private val node = new Array[JsonNode](n)

    def clear(): Unit = {
      java.util.Arrays.fill(found, false)
      java.util.Arrays.fill(text.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(node.asInstanceOf[Array[AnyRef]], null)
    }

    private def reset(reqs: Array[Req]): Unit = {
      var i = 0
      while (i < reqs.length) {
        val s = reqs(i).slot
        found(s) = false; text(s) = null; node(s) = null
        i += 1
      }
    }

    private def fromTree(tree: JsonNode, reqs: Array[Req]): Unit = {
      var i = 0
      while (i < reqs.length) {
        val r = reqs(i)
        val hit = JsonField.resolve(tree, r.rest)
        if (hit != null) {
          found(r.slot) = true
          if (r.asNode) node(r.slot) = hit else text(r.slot) = JsonPayload.valueText(hit)
        }
        i += 1
      }
    }

    /** Consume the value starting at token `t`, which sits at trie node `n`. */
    def value(p: JsonParser, t: JsonToken, n: Node): Unit =
      if (n.treeHere ||
        (n.textHere && (t == START_OBJECT || t == START_ARRAY || t == VALUE_NUMBER_FLOAT)))
        fromTree(JsonPayload.mapper.readTree[JsonNode](p), n.below)
      else if (t == START_OBJECT && !n.children.isEmpty) fields(p, n)
      else {
        if (n.textHere) {
          val s = scalarText(p, t)
          var i = 0
          while (i < n.here.length) {
            found(n.here(i).slot) = true; text(n.here(i).slot) = s
            i += 1
          }
        }
        skip(p, t)
      }

    /** The fields of an object, up to and including its END_OBJECT. A key
      * seen again resets what its earlier occurrence found: last wins. */
    private def fields(p: JsonParser, n: Node): Unit = {
      var name = p.nextFieldName()
      while (name != null) {
        val c = n.children.get(name)
        val t = p.nextToken()
        if (c == null) skip(p, t) else { reset(c.below); value(p, t, c) }
        name = p.nextFieldName()
      }
    }

    def result(sl: Array[Int]): InternalRow =
      if (sl.length == 1) InternalRow(found(sl(0)), text(sl(0)))
      else {
        val arr = JsonPayload.mapper.createArrayNode()
        var i = 0
        while (i < sl.length && found(sl(i))) { arr.add(node(sl(i))); i += 1 }
        if (i < sl.length) InternalRow(false, null)
        else InternalRow(true, JsonPayload.valueText(arr))
      }
  }

  /** Text of a scalar that is not a float, as its tree node would print:
    * an integer's canonical decimal (`-0` is `0`), a string decoded. */
  private def scalarText(p: JsonParser, t: JsonToken): UTF8String = t match {
    case VALUE_STRING => UTF8String.fromString(p.getText)
    case VALUE_NUMBER_INT =>
      val s = p.getText
      UTF8String.fromString(if (s == "-0") "0" else s)
    case VALUE_TRUE  => TrueText
    case VALUE_FALSE => FalseText
    case _           => null
  }

  /** Consume the value starting at token `t` without building anything. */
  private def skip(p: JsonParser, t: JsonToken): Unit =
    if (t == VALUE_NUMBER_FLOAT) checkFloat(p)
    else if (t == START_OBJECT || t == START_ARRAY) {
      var depth = 1
      while (depth > 0) {
        val x = p.nextToken()
        if (x == null) throw new java.io.EOFException("unclosed container")
        if (x == START_OBJECT || x == START_ARRAY) depth += 1
        else if (x == END_OBJECT || x == END_ARRAY) depth -= 1
        else if (x == VALUE_NUMBER_FLOAT) checkFloat(p)
      }
    }

  /** The tree parse converts every float to BigDecimal, which refuses an
    * exponent beyond Int range (and the document with it). Only a token
    * of 12 or more characters with an exponent can carry one. */
  private def checkFloat(p: JsonParser): Unit =
    if (p.getTextLength >= 12) {
      val cs = p.getTextCharacters
      val end = p.getTextOffset + p.getTextLength
      var i = p.getTextOffset
      while (i < end && cs(i) != 'e' && cs(i) != 'E') i += 1
      if (i < end) p.getDecimalValue
    }

  /** A parser over the payload's bytes where they decode exactly like
    * `u.toString`, else over that string. */
  private def parser(u: UTF8String): JsonParser = {
    val n = u.numBytes
    val (bytes, off) = u.getBaseObject match {
      case a: Array[Byte] => (a, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _              => (u.getBytes, 0)
    }
    if (plainUtf8(bytes, off, n)) JsonPayload.mapper.getFactory.createParser(bytes, off, n)
    else JsonPayload.mapper.getFactory.createParser(u.toString)
  }

  /** Well-formed UTF-8 (the JDK decoder's rules: no overlongs, no
    * surrogates, nothing above U+10FFFF) that Jackson's encoding
    * detection reads as UTF-8: no zero byte among the first four, no
    * leading 0xEF (a UTF-8 BOM is skipped by the byte reader only). */
  private def plainUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    var i = off
    while (i < end && i < off + 4) { if (b(i) == 0) return false; i += 1 }
    if (len > 0 && (b(off) & 0xFF) == 0xEF) return false
    i = off
    while (i < end) {
      val c = b(i)
      if (c >= 0) i += 1
      else {
        val x = c & 0xFF
        if (x < 0xC2 || x > 0xF4) return false
        val need = if (x < 0xE0) 1 else if (x < 0xF0) 2 else 3
        if (i + need >= end) return false
        val b1 = b(i + 1) & 0xFF
        val lo = if (x == 0xE0) 0xA0 else if (x == 0xF0) 0x90 else 0x80
        val hi = if (x == 0xED) 0x9F else if (x == 0xF4) 0x8F else 0xBF
        if (b1 < lo || b1 > hi) return false
        var k = 2
        while (k <= need) {
          if ((b(i + k) & 0xC0) != 0x80) return false
          k += 1
        }
        i += need + 1
      }
    }
    true
  }
}
