package graft.tools

/** Dump a single SparkEntry query (same session config as graft.Verify):
  * `sbt "runMain graft.tools.VerifyOne <name> <sfDir> <outDir>"` */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = graft.Verify.session()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    // merge this entry's oracle into outDir/oracle_sql.json so
    // tools/check_oracle.py works on single-entry dumps too (Jackson is
    // already on the classpath via the Spark jars — no hand-rolled JSON)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val jsonPath = java.nio.file.Paths.get(outDir, "oracle_sql.json")
    val existing: Map[String, String] =
      if (java.nio.file.Files.exists(jsonPath)) {
        import scala.jdk.CollectionConverters._
        mapper.readTree(java.nio.file.Files.readAllBytes(jsonPath))
          .properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      } else Map.empty
    val merged = graft.SparkEntry.oracleSql.get(name) match {
      case Some(sql) => existing + (name -> sql)
      case None => existing - name
    }
    val node = mapper.createObjectNode()
    merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    // write-temp + ATOMIC_MOVE: a concurrent VerifyOne (or a reader mid-
    // merge) never sees a partially-written file. Lost-update between two
    // concurrent merges is still possible (read-modify-write), but each
    // surviving file is always complete and parseable.
    val tmp = java.nio.file.Files.createTempFile(
      jsonPath.getParent, ".oracle_sql", ".tmp")
    java.nio.file.Files.write(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    java.nio.file.Files.move(tmp, jsonPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"dumped $name; oracle=${
      graft.SparkEntry.oracleSql.get(name).map(_.replace("\n", " ")).getOrElse("<none>")}")
    spark.stop()
  }
}
