package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ConsumeOpt, FluvioDuck}
import graft.transforms.{TransformChain, TransformRegistry}

/** Bounded consume THROUGH the DSv2 provider's batch face — one source,
  * two faces, like Spark's Kafka source (VERDICT r12 task 7; since r14
  * this IS the `fluvio_consume` path, [[graft.sources.FluvioDuck.consume]]
  * routes here). The offset window (`-B`/`-H`/`--start`/`-T`/`--end`)
  * AND the `--rows` cap resolve INSIDE the source (FluvioBatch's
  * bind-time algebra: dense per-partition offsets make the cap a
  * row-range, so a `--rows 500` consume of a deep topic PLANS ~500
  * rows — segment-level pruning, not deliver-then-filter). Column
  * projection prunes through SupportsPushDownRequiredColumns and user
  * predicates push through SupportsPushDownFilters (the batch planner
  * runs V2ScanRelationPushDown — DsvPushdownCanarySpec pins both).
  *
  * The full consume grammar composes ON TOP of the scan, plan-level
  * (r14, mirroring the reference's one scan + server-side chain,
  * consume.rs:607-673): transform chains apply to the capped window
  * when cardinality-preserving (the cap commutes), or to the UNCAPPED
  * window followed by a post-transform counting cap
  * ([[graft.plans.OrderedCap.byKey]]) when the chain can drop rows —
  * `--rows` counts POST-transform rows, like the reference's chunk
  * fill. `-c` mappings and record ordering ride the shared
  * [[FluvioDuck.projectAndOrder]] tail, so the two faces cannot drift.
  *
  * Under `-A` the `--rows` cap applies PER PARTITION, in-scan and
  * post-transform alike (the post-transform cap groups by `partition`).
  * This is the file path's documented divergence — the reference is
  * single-partition, consume.rs:179, so the multi-partition cap has no
  * reference semantics; a total-N arrival-order cap would serialize the
  * scan.
  * `-d` (continuous) belongs to the streaming face and is rejected.
  */
object FluvioBatchConsume {

  def consume(spark: SparkSession, cmd: String, baseDir: String): DataFrame = {
    val opt = ConsumeOpt.parse(cmd) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(o)  => o
    }
    require(!opt.continuous,
      "fluvio batch face: `-d` (continuous) is the streaming face's job")
    val chain = TransformChain.fromOpt(opt)
    val mapOnlyChain = chain.forall(t => TransformRegistry.preservesCardinality(t.uses))
    // map-type chains commute with the row cap → cap in-scan (row-range
    // planning); a cardinality-changing chain must count post-transform
    // rows → rowsCap=false delivers the full window and the cap applies
    // after the chain, below.
    val rel = spark.read.format("fluvio")
      .option("cmd", cmd).option("baseDir", baseDir)
      .option("rowsCap", String.valueOf(mapOnlyChain))
      .load()
    val transformed =
      chain.foldLeft(rel) { (d, t) => TransformRegistry(t.uses)(d, t.params) }
    // `partition` is the DSv2 extra beside (offset, timestamp, value):
    // the post-transform cap counts per partition under `-A`, where
    // offsets repeat across partitions; the projection then drops it
    val capped =
      if (mapOnlyChain) transformed
      else graft.plans.OrderedCap.byKey(transformed, "offset", opt.rows,
        groups = if (opt.allPartitions) Seq("partition") else Nil)
    FluvioDuck.projectAndOrder(capped, opt)
  }
}
