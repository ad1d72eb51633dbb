package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Central loader for the fixture tables.
  *
  * The fixtures store `events.ts` as INT64 TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false, so `load` returns a TIMESTAMP_NTZ column: cast it
  * to `timestamp` before functions such as `unix_micros`. A TIMESTAMP(NANOS)
  * `ts` (no fixture has one) reads under `nanosAsLong`, which `load` sets on
  * the session, and becomes a µs TimestampType. Consumes, batch and `-d`,
  * do not call `load`: the `fluvio` source fixes its own reader conf.
  */
object Tables {
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path(sfDir, name))
    df.schema.fields.foldLeft(df) { (d, f) =>
      // nanosAsLong leaves TIMESTAMP(NANOS) columns as Long nanos: normalize.
      if (f.dataType == LongType && (f.name == "ts"))
        // integer DIV, not `/`: double division loses ULPs at 1e18 ns
        d.withColumn(f.name, timestamp_micros(expr(s"${f.name} DIV 1000")))
      else d
    }
  }
}
