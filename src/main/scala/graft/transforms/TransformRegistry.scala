package graft.transforms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions.JsonField

/** Registry of named record-view transforms — the Spark analog of the
  * reference's server-side SmartModule WASM registry
  * (`/root/reference/src/consume.rs:650-673`). Each transform is
  * `(recordsDF, params) => recordsDF` over the canonical record schema
  * `(offset LONG, timestamp TIMESTAMP, value STRING)` and is applied
  * *before* column projection and the `--rows` cap, matching the
  * server-side placement in the reference.
  *
  * WASM execution itself is out of scope (SURVEY.md §2
  * `smartmodule_named`): transforms are Scala, registered by name. Any
  * `infinyon/jolt@<version>` name resolves to the jolt transform.
  */
object TransformRegistry {
  type Transform = (DataFrame, Map[String, String]) => DataFrame

  /** Whether a transform is record-to-record (map-type: never drops or adds
    * records). For an all-map-type chain the `--rows` cap commutes with the
    * transforms, letting consume() cap by offset range BEFORE the chain —
    * the transform then touches only the capped window instead of the whole
    * log (filter/aggregate-type SmartModules keep the exact post-transform
    * semantics). */
  def preservesCardinality(uses: String): Boolean =
    uses.startsWith("infinyon/jolt@") || uses == "jolt" || {
      val base = uses.takeWhile(_ != '@')
      base == "graft/map-uppercase"
    }

  /** jolt: apply the op list in `spec` to the `value` JSON. The record
    * timestamp is reset to epoch -1 ms, reproducing the reference's
    * observable behavior where jolt-transformed records lose their
    * timestamp (`/root/reference/README.md:134-138` shows
    * 1969-12-31 23:59:59.999). */
  val jolt: Transform = (df, params) => {
    val specJson = params.getOrElse("spec",
      throw new IllegalArgumentException("jolt transform requires a `spec` param"))
    val ops = Jolt.parseSpec(specJson)
    import org.apache.spark.sql.graft.shim
    import graft.functions.{JoltCardinality, JoltDefault, JoltRemove, JoltShift, JoltSort}
    // native expressions (one jackson parse/record, stay inside
    // whole-stage codegen), not ScalaUDFs
    val valueOut = ops.foldLeft(col("value")) { (v, op) =>
      val specText = Jolt.mapper.writeValueAsString(op.spec)
      op.operation match {
        case "shift"       => shim.column(JoltShift(shim.expression(v), specText))
        case "default"     => shim.column(JoltDefault(shim.expression(v), specText))
        case "remove"      => shim.column(JoltRemove(shim.expression(v), specText))
        case "cardinality" => shim.column(JoltCardinality(shim.expression(v), specText))
        case "sort"        => shim.column(JoltSort(shim.expression(v), specText))
        case other =>
          throw new IllegalArgumentException(
            s"unsupported jolt operation: $other (supported: shift, default, remove, cardinality, sort)")
      }
    }
    df.withColumn("value", valueOut)
      .withColumn("timestamp", timestamp_millis(lit(-1L)))
  }

  /** graft/filter-json-eq: keep records where the JSON field `key` equals
    * `value` (params: key, value) — a stand-in for the reference's filter
    * SmartModules, exercising `-e key=value` params. */
  val filterJsonEq: Transform = (df, params) => {
    val key = params.getOrElse("key",
      throw new IllegalArgumentException("filter-json-eq requires `key` param"))
    val v = params.getOrElse("value",
      throw new IllegalArgumentException("filter-json-eq requires `value` param"))
    // one streaming pass that skips everything but the key's value
    val field = JsonField(shim.expression(col("value")), JsonField.quoteKey(key))
    df.filter(shim.column(field).getField("raw") === v)
  }

  /** graft/map-uppercase: uppercase the raw value — a trivial map-type
    * SmartModule analog used by tests. */
  val mapUppercase: Transform = (df, _) => df.withColumn("value", upper(col("value")))

  private val named: Map[String, Transform] = Map(
    "graft/filter-json-eq" -> filterJsonEq,
    "graft/map-uppercase" -> mapUppercase
  )

  def apply(uses: String): Transform =
    if (uses.startsWith("infinyon/jolt@") || uses == "jolt") jolt
    else
      named.getOrElse(uses.takeWhile(_ != '@'),
        named.getOrElse(uses,
          throw new IllegalArgumentException(s"SmartModule not found: $uses")))

  def isRegistered(uses: String): Boolean =
    uses.startsWith("infinyon/jolt@") || uses == "jolt" ||
      named.contains(uses.takeWhile(_ != '@')) || named.contains(uses)
}
