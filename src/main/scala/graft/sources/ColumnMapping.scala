package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared output type of a `-c name:ty=path` mapping.
  *
  * Reference type grammar (`/root/reference/src/consume.rs:223-245`):
  * `i` → INTEGER, `l` → UINTEGER (we use Spark LongType — Spark has no
  * unsigned and the reference itself writes i64 into it,
  * `/root/reference/src/consume.rs:373-377`), `f` → FLOAT, `d` → DOUBLE,
  * `s` → VARCHAR, `t` → TIMESTAMP_MS, unknown/absent → VARCHAR.
  */
sealed abstract class MappedType(val suffix: String, val spark: DataType)
object MappedType {
  case object I extends MappedType("i", IntegerType)
  case object L extends MappedType("l", LongType)
  case object F extends MappedType("f", FloatType)
  case object D extends MappedType("d", DoubleType)
  case object S extends MappedType("s", StringType)
  case object T extends MappedType("t", TimestampType)

  def fromSuffix(s: String): MappedType = s match {
    case "i" => I
    case "l" => L
    case "f" => F
    case "d" => D
    case "s" => S
    case "t" => T
    case _   => S // unknown suffix → VARCHAR (/root/reference/src/consume.rs:237)
  }
}

/** One `-c name[:ty]=json.path` column mapping: project a field out of the
  * record's JSON payload into a typed column.
  *
  * The reference evaluates the path with the `jql` crate per record
  * (`/root/reference/src/consume.rs:311-443`); we compile the same semantics
  * once into Catalyst expressions (the native JsonPaths decode + casts),
  * which whole-stage-codegen then runs over the scan — no per-record
  * interpreter.
  *
  * Coercion matrix reproduced from `/root/reference/src/consume.rs:327-443`
  * (see SURVEY.md §1.2):
  *   - JSON string → VARCHAR verbatim; `:t` → RFC3339-parsed TIMESTAMP.
  *   - JSON number → cast to the declared numeric type; a number mapped into
  *     a `:s` column is DROPPED (null here; the reference leaves the slot
  *     untouched).
  *   - JSON bool → 0/1 for numeric columns.
  *   - JSON null → 0 for numeric, the literal string "null" for VARCHAR
  *     (the reference never emits SQL NULL for JSON null).
  *   - JSON object/array → serialized JSON string (VARCHAR only).
  *   - Missing path (jql error) → for VARCHAR the error text itself is the
  *     value (reference writes the jql error message into the column,
  *     `/root/reference/src/consume.rs:329-336`); for typed columns → NULL
  *     (documented divergence: reference behavior is undefined there).
  */
final case class ColumnMapping(name: String, ty: MappedType, path: String) {

  /** Error text written for a missing path, mirroring the reference's
    * "error as value" quirk for VARCHAR columns. */
  def missingPathError: String = s"""Node "$path" not found"""

  /** Compile this mapping into a Column over the JSON payload `value`:
    * one native [[graft.functions.JsonPaths]] pass for this path alone
    * yields the value text (get_json_object semantics) AND path
    * existence. A consume with several mappings decodes them all in one
    * pass instead ([[ColumnMapping.project]]). */
  def toColumn(value: Column): Column = {
    import org.apache.spark.sql.graft.shim
    fromResult(shim.column(graft.functions.JsonField(shim.expression(value), path)))
  }

  /** Same as [[toColumn]]. `parsed` is not read; the signature stays for
    * callers written against the former map-parse decode. */
  def toColumnFromParsed(parsed: Column, value: Column): Column = toColumn(value)

  /** This mapping's typed column from its path's `struct<exists, raw>`. */
  private def fromResult(r: Column): Column =
    buildTyped(r.getField("raw"), r.getField("exists"))

  private def buildTyped(raw: Column, exists: Column): Column = {
    val isJsonNull = exists && raw.isNull
    val out: Column = ty match {
      case MappedType.S =>
        // object/array arrive as serialized JSON from get_json_object already;
        // numbers mapped into a string column are dropped (ref: silent skip).
        val isNumber = raw.rlike("^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$")
        when(isJsonNull, lit("null"))
          .when(!exists, lit(missingPathError))
          .when(isNumber, lit(null).cast(StringType))
          .otherwise(raw)
      case MappedType.T =>
        // RFC3339 parse, e.g. 2023-01-28T23:54:23.405Z
        // (/root/reference/src/consume.rs:342-355); parse failure → NULL.
        when(isJsonNull || !exists, lit(null).cast(TimestampType))
          .otherwise(to_timestamp(raw))
      case numeric =>
        val boolAs01 =
          when(raw === "true", lit(1)).when(raw === "false", lit(0))
        when(isJsonNull, lit(0).cast(numeric.spark))
          .when(!exists, lit(null).cast(numeric.spark))
          .when(raw.isin("true", "false"), boolAs01.cast(numeric.spark))
          .otherwise(raw.try_cast(numeric.spark))
    }
    out.alias(name)
  }
}

object ColumnMapping {

  /** `df`'s records projected to `keep` followed by `mappings`' typed
    * columns, every mapping decoded from `value` in ONE
    * [[graft.functions.JsonPaths]] pass per record (a path shared by two
    * mappings is resolved once). The pass sits in its own projection and
    * stays there: CollapseProject does not inline a non-cheap expression
    * the next projection references more than once, and every typed
    * column reads its result at least twice (pinned in PlanAuditSpec). */
  def project(df: DataFrame, mappings: Seq[ColumnMapping], keep: Column*): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val paths = mappings.map(_.path).distinct
    val decoded = df.withColumn("__paths",
      shim.column(graft.functions.JsonPaths(shim.expression(col("value")), paths)))
    decoded.select(keep ++ mappings.map(m =>
      m.fromResult(col("__paths").getField(s"p${paths.indexOf(m.path)}"))): _*)
  }

  /** `map<string,string>` of the payload's top-level fields (native
    * [[graft.functions.JsonToMap]]). No consume path decodes through it
    * any more; kept for callers outside the consume grammar. */
  def parsed(value: Column): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(graft.functions.JsonToMap(shim.expression(value)))
  }

  /** Parse the `name[:ty]` left side and the (possibly quoted) path right
    * side of a `-c` mapping. Quotes around the WHOLE path are stripped
    * (the README shows `-c time:t="tst"`,
    * `/root/reference/README.md:152-167`) — so a top-level key that itself
    * contains dots is written with an extra quote layer (`'"a.b"'`), and
    * quoted SEGMENTS inside the remaining path (`meta."a.b"`, the jql
    * quoted selector — see [[graft.functions.JsonField.splitSelectors]])
    * pass through to the path grammar, as do top-level commas (jql
    * multi-selection: `a,b.c` yields the array of both values). A
    * malformed path (unterminated quote, bad escape, empty segment or
    * selector) is a parse error here, the same loud surface as a bad
    * flag. */
  def parse(nameSpec: String, rawPath: String): Either[String, ColumnMapping] = {
    val (name, ty) = nameSpec.lastIndexOf(':') match {
      case -1 => (nameSpec, MappedType.S)
      case i  => (nameSpec.substring(0, i), MappedType.fromSuffix(nameSpec.substring(i + 1)))
    }
    if (name.isEmpty) Left(s"invalid column mapping: empty name in `$nameSpec`")
    else {
      val path = stripQuotes(rawPath)
      if (path.isEmpty) Left(s"invalid column mapping: empty path for `$name`")
      else
        try {
          graft.functions.JsonField.splitSelectors(path)
          Right(ColumnMapping(name, ty, path))
        } catch {
          case e: IllegalArgumentException =>
            Left(s"invalid column mapping for `$name`: ${e.getMessage}")
        }
    }
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 &&
      ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s
}
