package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ColumnMapping, FluvioDuck, MappedType, MpFixture, Tables}

/** Oracle-checked queries for SURVEY.md §2 Tier A — the operators the
  * reference implements itself. Each entry pairs a Spark query (through the
  * public FluvioDuck API) with ANSI/DuckDB SQL computing the same rows from
  * the same parquet, in the same deterministic order.
  *
  * Conventions shared with the oracle side:
  *  - record schema: offset BIGINT, timestamp TIMESTAMP (µs, values are
  *    µs-precision), value VARCHAR;
  *  - every query ends in an explicit ORDER BY for row-order determinism;
  *  - DuckDB `ts` is TIMESTAMP_NS → `CAST(ts AS TIMESTAMP)` in oracles.
  */
object TierA {
  type Q = (SparkSession, String) => DataFrame

  private def consume(cmd: String): Q =
    (s, dir) => FluvioDuck.consume(s, cmd, dir)

  /** Default-columns oracle SELECT over events. */
  private def recSql(where: String = "", limit: Long = -1): String = {
    val w = if (where.isEmpty) "" else s" WHERE $where"
    val l = if (limit < 0) "" else s" LIMIT $limit"
    "SELECT CAST(event_id AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
      s"""props AS "value" FROM events$w ORDER BY event_id$l"""
  }

  private val jk = "json_extract_string(props, '$.k')"

  /** Pin the top-n boundary BELOW an expensive selector projection.
    *
    * `select(selectors).orderBy(k).limit(n)` plans as
    * TakeOrderedAndProject whose CHILD is the selector Project — every
    * jql selector evaluates corpus-wide and only then the n winners
    * survive (Catalyst pushes limits down through projects, but never
    * pulls a project up through a Sort, so the shape sticks). Taking
    * the n winners on the narrow (__offset, value) record first and
    * projecting after evaluates each selector n times instead of
    * |topic| times — at 100 TB that is the difference between a bounded
    * probe and a full-corpus JSON parse. The limit's single output
    * partition makes the trailing local sort deterministic without a
    * range-partitioning sampling pass. */
  private def selectorsOverTopN(rec: DataFrame, n: Int)
                               (cols: org.apache.spark.sql.Column*): DataFrame =
    rec.orderBy("__offset").limit(n)
      .select((col("__offset") +: cols): _*)
      .sortWithinPartitions("__offset")
      .drop("__offset")

  val queries: Map[String, Q] = Map(
    // ---- source scan + default projection
    "consume_scan" -> consume("events -B --rows 500"),
    // the SAME consume read straight from the `fluvio` DSv2 provider, as
    // `spark.read.format("fluvio")` users call it, without the consume
    // wrapper's projection tail: the offset window and the --rows cap
    // resolve inside the source. Hash-matches consume_scan's oracle.
    "consume_scan_dsv2" -> ((s, dir) =>
      s.read.format("fluvio").option("cmd", "events -B --rows 500")
        .option("baseDir", dir).load().select("offset", "timestamp", "value")),
    "consume_default_cols" -> consume("events -H 10 --rows 100"),
    "offset_col" -> ((s, dir) =>
      FluvioDuck.consume(s, "events -B --rows 250", dir).select("offset")),
    "timestamp_col" -> ((s, dir) =>
      FluvioDuck.consume(s, "events -B --rows 250", dir).select("offset", "timestamp")),
    "value_col" -> ((s, dir) =>
      FluvioDuck.consume(s, "events -B --rows 250", dir).select("offset", "value")),

    // ---- JSON column projection + type grammar
    "jql_project" -> consume("events -B --rows 300 -c k:i=k"),
    // the jql ERROR surface, pinned per declared type: a missing path
    // writes the jql error text into a VARCHAR column (the reference's
    // error-as-value quirk, consume.rs:329-336) but NULL into typed
    // columns — the documented divergence (the reference's behavior there
    // is writing a string into a numeric vector, i.e. undefined), now
    // encoded in the oracle instead of only in a comment.
    "jql_error_typed" -> consume(
      "events -B --rows 200 -c k:i=k -c miss_s=nope -c miss_i:i=nope -c miss_d:d=nope -c miss_t:t=nope"),
    "col_type_decl" -> consume(
      "events -B --rows 200 -c ki:i=k -c kl:l=k -c kf:f=k -c kd:d=k -c ks=k"),
    // jql ARRAY-INDEX paths (-c x=a.0.b): a purely numeric segment
    // indexes into an array, the jql-crate access the reference routes
    // -c paths through (consume.rs:311-443). Payload synthesized from
    // events (the ts_rfc3339_parse pattern) so every extracted value is
    // SQL-reconstructable: int/long/double leaves, an object inside an
    // array, a string element, out-of-range (error text for VARCHAR /
    // NULL for typed — the jql_error_typed contract), and an index into
    // a non-array (also a missing path).
    "jql_array_path" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          concat(lit("{\"arr\": ["), col("event_id").cast("string"),
            lit(", {\"x\": "), (col("event_id") * 2).cast("string"),
            lit("}, \"s"), col("event_id").cast("string"),
            lit("\"], \"k\": 7}")).as("value"))
      def m(name: String, ty: MappedType, path: String) =
        ColumnMapping(name, ty, path).toColumn(col("value"))
      selectorsOverTopN(rec, 300)(
        m("a0", MappedType.I, "arr.0"),
        m("bx", MappedType.L, "arr.1.x"),
        m("bd", MappedType.D, "arr.1.x"),
        m("s2", MappedType.S, "arr.2"),
        m("oob", MappedType.S, "arr.5"),
        m("oob_i", MappedType.I, "arr.5"),
        m("nonarr", MappedType.S, "k.0"))
    }),
    // Quoted-selector matrix (the jql quoted-key grammar,
    // JsonField.splitPath): dotted TOP-LEVEL key ("a.b"), dotted NESTED
    // key (m."x.y"), quoted numeric as a forced KEY lookup (m."7" on an
    // object; arr."0" against an array is a key-miss while unquoted
    // arr.0 still indexes), an escaped quote inside a key ("q\"k"), and
    // a miss under a dotted key — each SQL-reconstructable with the
    // jql_error_typed miss contract.
    "jql_quoted_path" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          concat(lit("{\"a.b\": "), col("event_id").cast("string"),
            lit(", \"m\": {\"x.y\": \"v"), col("event_id").cast("string"),
            lit("\", \"7\": "), (col("event_id") * 3).cast("string"),
            lit("}, \"arr\": ["), col("event_id").cast("string"),
            lit("], \"q\\\"k\": "), (col("event_id") + 5).cast("string"),
            lit("}")).as("value"))
      def m(name: String, ty: MappedType, path: String) =
        ColumnMapping(name, ty, path).toColumn(col("value"))
      selectorsOverTopN(rec, 300)(
        m("ab", MappedType.L, "\"a.b\""),
        m("xy", MappedType.S, "m.\"x.y\""),
        m("k7", MappedType.I, "m.\"7\""),
        m("akey", MappedType.S, "arr.\"0\""),
        m("akey_i", MappedType.I, "arr.\"0\""),
        m("a0", MappedType.L, "arr.0"),
        m("qk", MappedType.I, "\"q\\\"k\""),
        m("missz", MappedType.S, "\"a.b\".z"))
    }),
    // Array-slice selectors (jql `[lo:hi]`, INCLUSIVE bounds): leading /
    // trailing / open / clamped / inverted-empty slices, traversal INTO a
    // slice, a slice of a non-array (miss), and a quoted "[0:2]" KEY
    // proving quoting suppresses slice semantics.
    "jql_slice_path" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          concat(lit("{\"arr\": ["), col("event_id").cast("string"),
            lit(", "), (col("event_id") * 2).cast("string"),
            lit(", "), (col("event_id") * 3).cast("string"),
            lit(", "), (col("event_id") * 4).cast("string"),
            lit("], \"k\": 7, \"[0:2]\": "), (col("event_id") + 9).cast("string"),
            lit("}")).as("value"))
      def m(name: String, ty: MappedType, path: String) =
        ColumnMapping(name, ty, path).toColumn(col("value"))
      selectorsOverTopN(rec, 300)(
        m("s01", MappedType.S, "arr.[0:1]"),
        m("stail", MappedType.S, "arr.[2:]"),
        m("sopen", MappedType.S, "arr.[:]"),
        m("sclamp", MappedType.S, "arr.[2:99]"),
        m("sempty", MappedType.S, "arr.[3:2]"),
        m("into", MappedType.I, "arr.[1:2].1"),
        m("snon", MappedType.S, "k.[0:1]"),
        m("qkey", MappedType.I, "\"[0:2]\""))
    }),
    // Multi-selection (jql top-level `,`): the serialized ARRAY of every
    // selector's value — nested/quoted/indexed/sliced selectors compose,
    // strings re-quote, containers nest, JSON null is a null element; a
    // miss in ANY selector is a whole-path miss (the jql walker errors on
    // the first failing selector, surfaced via the jql_error_typed
    // contract); a QUOTED comma ("k,l") stays a single key.
    "jql_multi_path" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          concat(lit("{\"a\": "), col("event_id").cast("string"),
            lit(", \"b\": {\"c\": \"v"), col("event_id").cast("string"),
            lit("\", \"x.y\": "), (col("event_id") * 2).cast("string"),
            lit("}, \"arr\": ["), col("event_id").cast("string"),
            lit(", "), (col("event_id") + 1).cast("string"),
            lit(", "), (col("event_id") + 2).cast("string"),
            lit("], \"k,l\": "), (col("event_id") + 7).cast("string"),
            lit(", \"n\": null}")).as("value"))
      def m(name: String, ty: MappedType, path: String) =
        ColumnMapping(name, ty, path).toColumn(col("value"))
      selectorsOverTopN(rec, 300)(
        m("ab", MappedType.S, "a,b.c"),
        m("aidx", MappedType.S, "a,arr.1"),
        m("qm", MappedType.S, "b.\"x.y\",a"),
        m("kl", MappedType.I, "\"k,l\""),
        m("missm", MappedType.S, "a,b.zz"),
        m("missi", MappedType.I, "a,b.zz"),
        m("slicem", MappedType.S, "arr.[0:1],a"),
        m("whole", MappedType.S, "a,b"),
        m("withnull", MappedType.S, "n,a"))
    }),
    // :t parse of an RFC3339 string synthesized from ts, through the same
    // ColumnMapping compiler the -c path uses.
    "ts_rfc3339_parse" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          concat(lit("{\"t\":\""),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
            lit("\"}")).as("value"))
      selectorsOverTopN(rec, 200)(
        ColumnMapping("time", MappedType.T, "t").toColumn(col("value")))
    }),
    // JSON null → 0 (numeric) / "null" (varchar); engineered nulls on
    // event_id % 5 == 0, through the ColumnMapping compiler.
    "null_coerce" -> ((s, dir) => {
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("__offset"),
          when(pmod(col("event_id"), lit(5)) === 0, lit("{\"k\": null}"))
            .otherwise(col("props")).as("value"))
      selectorsOverTopN(rec, 500)(
        ColumnMapping("k", MappedType.I, "k").toColumn(col("value")),
        ColumnMapping("ks", MappedType.S, "k").toColumn(col("value")))
    }),

    // ---- offset windowing
    "offset_beginning" -> consume("events -B --rows 2000000"),
    "offset_head" -> consume("events -H 100 --rows 150"),
    "offset_start" -> consume("events --start 500 --rows 100"),
    "offset_tail" -> consume("events -T 50"),
    "offset_end_bound" -> consume("events --start 100 --end 299 --rows 1000"),
    "offset_default_end" -> consume("events --rows 10"),
    "row_limit" -> consume("events -B"),

    // ---- partition options (accepted; fixture topics are single-partition,
    // and the reference itself ignores -p/-A: src/consume.rs:179)
    "partition_select" -> consume("events -p 3 -B --rows 120"),
    "all_partitions" -> consume("events -A -B --rows 120"),

    // ---- pass-through consumer config (row-visible no-ops, accepted)
    "max_bytes" -> consume("events -B -b 1048576 --rows 80"),
    "isolation_level" -> consume("events -B --isolation read_committed --rows 80"),

    // ---- SmartModule transforms
    "smartmodule_named" -> consume(
      "events -B --rows 100000000 --smartmodule graft/filter-json-eq -e key=k -e value=42"),
    "smartmodule_params" -> consume(
      "events -B --rows 50 --smartmodule graft/filter-json-eq -e key=k -e value=7"),
    "transform_chain" -> consume(
      "events -B --rows 400 " +
        """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"shift\",\"spec\":{\"k\":\"kk\"}}]"}} """ +
        "-c kk:i=kk"),
    "jolt_shift" -> consume(
      "events -B --rows 300 " +
        """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"shift\",\"spec\":{\"k\":\"kk\"}}]"}}"""),
    "jolt_default" -> consume(
      "events -B --rows 300 " +
        """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"default\",\"spec\":{\"src\":\"graft\"}}]"}}"""),
    // default + remove chained in one spec: adds src, deletes k
    "jolt_remove" -> consume(
      "events -B --rows 300 " +
        """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"default\",\"spec\":{\"src\":\"graft\"}},{\"operation\":\"remove\",\"spec\":{\"k\":\"\"}}]"}}"""),
    // cardinality MANY through the real --transform CLI path: the flat
    // numeric k becomes a one-element array
    "jolt_cardinality" -> consume(
      "events -B --rows 300 " +
        """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":"[{\"operation\":\"cardinality\",\"spec\":{\"k\":\"MANY\"}}]"}}"""),
    // jolt `sort`: recursive key ordering over a deliberately unsorted
    // nested payload; the oracle constructs the sorted serialization
    // directly (int payload values round-trip jackson bit-identically)
    "jolt_sort" -> ((s, dir) => {
      val k = ColumnMapping.parsed(col("props")).getItem("k")
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("offset"), col("ts").as("timestamp"),
          concat(lit("{\"z\": "), k, lit(", \"a\": "), k,
            lit(", \"m\": {\"d\": 1, \"b\": 2}}")).as("value"))
      graft.transforms.TransformRegistry("infinyon/jolt@0.1.0")(rec,
        Map("spec" -> """[{"operation":"sort"}]"""))
        .orderBy("offset").limit(300).select("offset", "value")
    }),

    // shift `@` input-value reference: copy the whole payload subtree
    "jolt_shift_at" -> ((s, dir) => {
      val k0 = ColumnMapping.parsed(col("props")).getItem("k")
      val rec0 = Tables.load(s, dir, "events")
        .select(col("event_id").as("offset"), col("ts").as("timestamp"),
          concat(lit("{\"payload\": {\"vp\": "), k0, lit("}}")).as("value"))
      graft.transforms.TransformRegistry("infinyon/jolt@0.1.0")(rec0,
        Map("spec" -> """[{"operation":"shift","spec":{"payload":{"@":"pl"}}}]"""))
        .orderBy("offset").limit(300).select("offset", "value")
    }),
    // two-level `*` wildcard shift with an `&(1)` ancestor reference,
    // over a nested payload synthesized from events (props is flat)
    "jolt_shift_wild2" -> ((s, dir) => {
      val k = ColumnMapping.parsed(col("props")).getItem("k")
      val rec = Tables.load(s, dir, "events")
        .select(col("event_id").as("offset"), col("ts").as("timestamp"),
          concat(lit("{\"payload\": {\"vp\": "), k, lit("}}")).as("value"))
      graft.transforms.TransformRegistry("infinyon/jolt@0.1.0")(rec,
        Map("spec" -> """[{"operation":"shift","spec":{"*":{"*":"&(1)_&"}}}]"""))
        .orderBy("offset").limit(300).select("offset", "value")
    }),

    // ---- admin scans
    "topics_scan" -> ((s, dir) => FluvioDuck.topics(s, dir).orderBy("name")),
    "partitions_scan" -> ((s, dir) => FluvioDuck.partitions(s, dir).orderBy("topic")),

    // ---- multi-partition topic (derived 4-partition fixture, MpFixture):
    // the REAL partition axis — `-p N` prunes to one partition subtree at
    // the scan, default pins partition 0 like the reference's consumer,
    // `-A` fans over all four. Offsets are dense per partition, so the
    // --rows cap stays a pure offset filter.
    "partition_select_mp" -> ((s, dir) =>
      FluvioDuck.consume(s, "events_mp -p 2 -B --rows 120",
        MpFixture.baseDir(s, dir))),
    "partition_default_mp" -> ((s, dir) =>
      FluvioDuck.consume(s, "events_mp -B --rows 100",
        MpFixture.baseDir(s, dir))),
    "all_partitions_mp" -> ((s, dir) =>
      FluvioDuck.consume(s, "events_mp -A -B --rows 100000000",
        MpFixture.baseDir(s, dir)).orderBy("offset", "value", "timestamp")),
    "partitions_scan_mp" -> ((s, dir) =>
      FluvioDuck.partitions(s, MpFixture.baseDir(s, dir))
        .orderBy("topic", "partition")),
    "topics_scan_mp" -> ((s, dir) =>
      FluvioDuck.topics(s, MpFixture.baseDir(s, dir)).orderBy("name"))
  )

  private val fixtureTopics = Seq("customer", "documents", "embeddings",
    "events", "lineitem", "nation", "orders", "part", "region", "supplier")

  val oracleSql: Map[String, String] = Map(
    "consume_scan" -> recSql(limit = 500),
    "consume_scan_dsv2" -> recSql(limit = 500),
    "consume_default_cols" -> recSql("event_id >= 10", 100),
    "offset_col" ->
      "SELECT CAST(event_id AS BIGINT) AS \"offset\" FROM events ORDER BY event_id LIMIT 250",
    "timestamp_col" ->
      "SELECT CAST(event_id AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\" FROM events ORDER BY event_id LIMIT 250",
    "value_col" ->
      "SELECT CAST(event_id AS BIGINT) AS \"offset\", props AS \"value\" FROM events ORDER BY event_id LIMIT 250",
    "jql_project" ->
      s"SELECT CAST($jk AS INTEGER) AS k FROM events ORDER BY event_id LIMIT 300",
    "jql_error_typed" ->
      (s"SELECT CAST($jk AS INTEGER) AS k, " +
        "'Node \"nope\" not found' AS miss_s, " +
        "CAST(NULL AS INTEGER) AS miss_i, CAST(NULL AS DOUBLE) AS miss_d, " +
        "CAST(NULL AS TIMESTAMP) AS miss_t " +
        "FROM events ORDER BY event_id LIMIT 200"),
    "col_type_decl" ->
      (s"SELECT CAST($jk AS INTEGER) AS ki, CAST($jk AS BIGINT) AS kl, " +
        s"CAST($jk AS FLOAT) AS kf, CAST($jk AS DOUBLE) AS kd, " +
        "CAST(NULL AS VARCHAR) AS ks FROM events ORDER BY event_id LIMIT 200"),
    "jql_array_path" ->
      ("SELECT CAST(event_id AS INTEGER) AS a0, CAST(event_id * 2 AS BIGINT) AS bx, " +
        "CAST(event_id * 2 AS DOUBLE) AS bd, 's' || event_id AS s2, " +
        "'Node \"arr.5\" not found' AS oob, CAST(NULL AS INTEGER) AS oob_i, " +
        "'Node \"k.0\" not found' AS nonarr " +
        "FROM events ORDER BY event_id LIMIT 300"),
    "jql_quoted_path" ->
      ("SELECT CAST(event_id AS BIGINT) AS ab, 'v' || event_id AS xy, " +
        "CAST(event_id * 3 AS INTEGER) AS k7, " +
        "'Node \"arr.\"0\"\" not found' AS akey, CAST(NULL AS INTEGER) AS akey_i, " +
        "CAST(event_id AS BIGINT) AS a0, CAST(event_id + 5 AS INTEGER) AS qk, " +
        "'Node \"\"a.b\".z\" not found' AS missz " +
        "FROM events ORDER BY event_id LIMIT 300"),
    "jql_slice_path" ->
      ("SELECT '[' || event_id || ',' || event_id * 2 || ']' AS s01, " +
        "'[' || event_id * 3 || ',' || event_id * 4 || ']' AS stail, " +
        "'[' || event_id || ',' || event_id * 2 || ',' || event_id * 3 || ',' || event_id * 4 || ']' AS sopen, " +
        "'[' || event_id * 3 || ',' || event_id * 4 || ']' AS sclamp, " +
        "'[]' AS sempty, CAST(event_id * 3 AS INTEGER) AS \"into\", " +
        "'Node \"k.[0:1]\" not found' AS snon, " +
        "CAST(event_id + 9 AS INTEGER) AS qkey " +
        "FROM events ORDER BY event_id LIMIT 300"),
    "jql_multi_path" ->
      ("SELECT '[' || event_id || ',\"v' || event_id || '\"]' AS ab, " +
        "'[' || event_id || ',' || (event_id + 1) || ']' AS aidx, " +
        "'[' || event_id * 2 || ',' || event_id || ']' AS qm, " +
        "CAST(event_id + 7 AS INTEGER) AS kl, " +
        "'Node \"a,b.zz\" not found' AS missm, CAST(NULL AS INTEGER) AS missi, " +
        "'[[' || event_id || ',' || (event_id + 1) || '],' || event_id || ']' AS slicem, " +
        "'[' || event_id || ',{\"c\":\"v' || event_id || '\",\"x.y\":' || event_id * 2 || '}]' AS whole, " +
        "'[null,' || event_id || ']' AS withnull " +
        "FROM events ORDER BY event_id LIMIT 300"),
    "ts_rfc3339_parse" ->
      ("SELECT strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%gZ'), " +
        "'%Y-%m-%dT%H:%M:%S.%gZ') AS time FROM events ORDER BY event_id LIMIT 200"),
    "null_coerce" ->
      (s"SELECT CASE WHEN event_id % 5 = 0 THEN 0 ELSE CAST($jk AS INTEGER) END AS k, " +
        "CASE WHEN event_id % 5 = 0 THEN 'null' ELSE CAST(NULL AS VARCHAR) END AS ks " +
        "FROM events ORDER BY event_id LIMIT 500"),
    "offset_beginning" -> recSql(limit = 2000000),
    "offset_head" -> recSql("event_id >= 100", 150),
    "offset_start" -> recSql("event_id >= 500", 100),
    "offset_tail" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
        "props AS \"value\" FROM events " +
        "WHERE event_id >= (SELECT MAX(event_id) + 1 - 50 FROM events) ORDER BY event_id"),
    "offset_end_bound" -> recSql("event_id >= 100 AND event_id <= 299", 1000),
    "offset_default_end" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
        "props AS \"value\" FROM events " +
        "WHERE event_id >= (SELECT MAX(event_id) + 1 FROM events) ORDER BY event_id"),
    "row_limit" -> recSql(limit = 1000),
    "partition_select" -> recSql(limit = 120),
    "all_partitions" -> recSql(limit = 120),
    "max_bytes" -> recSql(limit = 80),
    "isolation_level" -> recSql(limit = 80),
    "smartmodule_named" -> recSql(s"$jk = '42'"),
    "smartmodule_params" -> recSql(s"$jk = '7'", 50),
    "transform_chain" ->
      s"SELECT CAST($jk AS INTEGER) AS kk FROM events ORDER BY event_id LIMIT 400",
    // jolt resets the record timestamp to epoch -1 ms (README.md:134-138)
    "jolt_shift" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", epoch_ms(-1) AS \"timestamp\", " +
        s"""'{"kk":' || $jk || '}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_default" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", epoch_ms(-1) AS \"timestamp\", " +
        s"""'{"k":' || $jk || ',"src":"graft"}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_remove" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", epoch_ms(-1) AS \"timestamp\", " +
        """'{"src":"graft"}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_cardinality" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", epoch_ms(-1) AS \"timestamp\", " +
        s"""'{"k":[' || $jk || ']}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_sort" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", " +
        s"""'{"a":' || $jk || ',"m":{"b":2,"d":1},"z":' || $jk || '}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_shift_at" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", " +
        s"""'{"pl":{"vp":' || $jk || '}}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "jolt_shift_wild2" ->
      ("SELECT CAST(event_id AS BIGINT) AS \"offset\", " +
        s"""'{"payload_vp":' || $jk || '}' AS "value" FROM events ORDER BY event_id LIMIT 300"""),
    "topics_scan" -> fixtureTopics
      .map(t => s"SELECT '$t' AS name, 1 AS partitions")
      .mkString("", " UNION ALL ", " ORDER BY name"),
    "partitions_scan" -> fixtureTopics
      .map(t => s"SELECT '$t' AS topic, '0' AS partition, CAST((SELECT COUNT(*) FROM $t) AS BIGINT) AS \"LEO\"")
      .mkString("", " UNION ALL ", " ORDER BY topic"),

    // mp fixture ≡ events with partition = event_id % 4, offset = event_id // 4
    "partition_select_mp" ->
      ("SELECT CAST(event_id // 4 AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
        "props AS \"value\" FROM events WHERE event_id % 4 = 2 AND event_id // 4 < 120 " +
        "ORDER BY \"offset\""),
    "partition_default_mp" ->
      ("SELECT CAST(event_id // 4 AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
        "props AS \"value\" FROM events WHERE event_id % 4 = 0 AND event_id // 4 < 100 " +
        "ORDER BY \"offset\""),
    "all_partitions_mp" ->
      ("SELECT CAST(event_id // 4 AS BIGINT) AS \"offset\", CAST(ts AS TIMESTAMP) AS \"timestamp\", " +
        "props AS \"value\" FROM events ORDER BY \"offset\", \"value\", \"timestamp\""),
    "partitions_scan_mp" ->
      ("SELECT 'events_mp' AS topic, CAST(CAST(event_id % 4 AS INTEGER) AS VARCHAR) AS partition, " +
        "CAST(COUNT(*) AS BIGINT) AS \"LEO\" FROM events GROUP BY 2 ORDER BY topic, partition"),
    "topics_scan_mp" -> "SELECT 'events_mp' AS name, 4 AS partitions"
  )
}
