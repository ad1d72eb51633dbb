package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The generator's recorded expectations for one seed (see [[Gen]]). */
final case class Inputs(dir: Path, seed: Long, leo: IndexedSeq[Long],
                        routeCount: IndexedSeq[Long], routeVehSum: IndexedSeq[Long],
                        routeSpdCents: IndexedSeq[Long],
                        streamSegments: IndexedSeq[Gen.StreamSeg]) {
  /** Route index of each static record, per partition, in offset order. */
  lazy val routes: IndexedSeq[Array[Short]] = leo.indices.map { p =>
    val b = java.nio.ByteBuffer.wrap(Files.readAllBytes(dir.resolve(s"routes-p$p.bin")))
    Array.fill(b.remaining / 2)(b.getShort)
  }

  /** Records of partition `p` in offsets [from, until) whose route is `route`. */
  def routeHits(p: Int, from: Long, until: Long, route: Int): Long = {
    val r = routes(p)
    var n = 0L
    var i = from.toInt
    while (i < until) { if (r(i) == route) n += 1; i += 1 }
    n
  }
}

object Inputs {
  def load(dir: Path): Inputs = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(dir.resolve("expect.json")))
    def longs(k: String) = j.get(k).elements().asScala.map(_.asLong).toIndexedSeq
    Inputs(dir, j.get("seed").asLong, longs("leo"), longs("route_count"),
      longs("route_veh_sum"), longs("route_spd_cents"),
      j.get("stream_segments").elements().asScala.map { s =>
        Gen.StreamSeg(s.get(0).asInt, s.get(1).asInt, s.get(2).asLong, s.get(3).asInt, s.get(4).asInt)
      }.toIndexedSeq)
  }
}
