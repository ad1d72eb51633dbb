package graft

/** `SparkEntry.entry` is called on a session the engine did not build, so
  * it must provision its own confs. The shared test session carries the
  * bench config (nanosAsLong among it), which would hide a missing
  * self-provision; a fresh session with the conf switched off does not. */
class EntrySmokeSpec extends SparkSpec {
  test("entry provisions its own confs and returns rows on a plain session") {
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(SparkEntry.entry(plain).count() > 0)
  }
}
