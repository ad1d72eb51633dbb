package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ConsumeOpt, FluvioDuck}

/** consume_interactive: a closed loop of [[Interactive.Clients]] clients
  * sharing one session. Each call is a seeded draw over the static topic:
  * ~70% SQL `fluvio_consume`, ~20% Scala `FluvioDuck.consume`, ~10%
  * `fluvio_topics()`/`fluvio_partitions()`, with varied offset flags,
  * `--rows`, `-c` mappings and an occasional transform chain. Every row
  * count is checked against the offset algebra over the generator's LEOs. */
final class Interactive extends Workload {
  import Interactive._

  def firstOp(spark: SparkSession, env: Env, rep: Int): Unit =
    spark.sql("SELECT * FROM fluvio_consume('vehicles -A -T 100')").collect()

  private def call(spark: SparkSession, env: Env, c: Call): Long = {
    val t = env.tracer
    t.op(spark, s"interactive.${c.kind}") {
      val df: DataFrame = c.kind match {
        case "topics"     => t.span("sources.admin")(FluvioDuck.topics(spark, env.baseDir))
        case "partitions" => t.span("sources.admin")(FluvioDuck.partitions(spark, env.baseDir))
        case kind =>
          t.span("sources.parse")(ConsumeOpt.parse(c.cmd))
          if (kind == "sql") t.span("sql.resolve")(spark.sql(s"SELECT * FROM fluvio_consume('${c.cmd}')"))
          else t.span("sources.bind")(FluvioDuck.consume(spark, c.cmd, env.baseDir))
      }
      t.span("spark.plan")(df.queryExecution.executedPlan)
      val rows = t.span("spark.execute")(df.collect())
      c.kind match {
        case "topics" =>
          if (!rows.map(r => (r.getString(0), r.getInt(1))).sameElements(Seq(("vehicles", env.inputs.leo.size))))
            throw new IllegalStateException(s"fluvio_topics() returned ${rows.mkString(",")}")
        case "partitions" =>
          val got = rows.map(r => (r.getString(1), r.getLong(2))).sorted.toSeq
          val want = env.inputs.leo.zipWithIndex.map { case (l, p) => (p.toString, l) }
          if (got != want) throw new IllegalStateException(s"fluvio_partitions() returned $got")
        case _ => ()
      }
      rows.length.toLong
    }
  }

  /** Each client runs the same number of whole decks, one per
    * [[DeckSeconds]] of `--seconds` (at least one), so every run holds the
    * same mix and enough calls for the tail. */
  def run(spark: SparkSession, env: Env, out: Result): Unit = {
    val done = new ConcurrentLinkedQueue[Done]()
    val busyNs = new Array[Long](Clients)
    val decks = math.max(1, env.seconds / DeckSeconds)
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { id =>
      new Thread(() => {
        SparkSession.setActiveSession(spark)
        val calls = new Caller(new SplittableRandom(env.seed * 7919L + id), env.inputs, id)
        for (_ <- 0 until decks) {
          do {
            val c = calls.next()
            val s = System.nanoTime()
            try {
              val rows = call(spark, env, c)
              done.add(Done(id, c.kind, (System.nanoTime() - s) / 1e6, rows, c.cmd))
              if (rows != c.expect) out.fail(s"${c.kind} `${c.cmd}`: $rows rows, expected ${c.expect}")
            } catch {
              case e: Exception =>
                done.add(Done(id, c.kind, (System.nanoTime() - s) / 1e6, 0, c.cmd))
                out.fail(s"${c.kind} `${c.cmd}`: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          } while (calls.leftInDeck > 0)
        }
        busyNs(id) = System.nanoTime() - t0
      }, s"client-$id")
    }
    clients.foreach(_.start()); clients.foreach(_.join())
    val calls = done.asScala.toSeq
    out.attempted = calls.size
    out.latencies(calls.map(_.ms))
    // each client's own rate, summed: one client's slow last call does not
    // stretch the other's window
    val perClient = (0 until Clients).map(c => calls.filter(_.client == c) -> busyNs(c) / 1e9)
    out.e2e.put("ops_per_s", Metric(perClient.map { case (cs, s) => cs.size / s }.sum, "1/s", calls.size))
    out.e2e.put("records_per_s", Metric(perClient.map { case (cs, s) => cs.map(_.rows).sum / s }.sum, "records/s", calls.size))
    for (k <- Seq("sql", "scala", "topics", "partitions"); xs = calls.filter(_.kind == k) if xs.nonEmpty)
      out.notes += f"$k calls: ${xs.size}, median ${Stats.median(xs.map(_.ms))}%.1f ms"
    calls.sortBy(-_.ms).take(3).foreach(d => out.notes += f"slow: ${d.ms}%.0f ms ${d.rows} rows ${d.kind} ${d.cmd}")
  }

  def layers(spark: SparkSession, env: Env, out: Result): Unit = {
    val t = env.tracer
    val spans = t.spans
    def durs(n: String) = spans.filter(_.name == n).map(_.durNs / 1e6)
    def put(k: String, xs: Seq[Double], unit: String, scale: Double = 1.0): Unit =
      if (xs.nonEmpty) out.layer.put(k, Metric(Stats.median(xs) * scale, unit, xs.size))
    put("sources.parse_us", durs("sources.parse"), "us", 1000.0)
    put("sources.bind_ms", durs("sources.bind"), "ms")
    put("sql.resolve_ms", durs("sql.resolve"), "ms")
    val admin = spans.filter(s => s.parent == 0 && (s.name == "interactive.topics" || s.name == "interactive.partitions"))
    put("sources.admin_ms", admin.map(_.durNs / 1e6), "ms")
    put("sources.admin_jobs", admin.map(s => env.totals.group(s.id.toString).jobs.toDouble), "count")
    Probes.planPartitions(spark, env, out, drawConsumes(env, 50))
  }

  /** The first `n` consume commands client 0 draws, for the planning probe. */
  private def drawConsumes(env: Env, n: Int): Seq[String] = {
    val calls = new Caller(new SplittableRandom(env.seed * 7919L), env.inputs, 0)
    Iterator.continually(calls.next()).filter(_.cmd.nonEmpty)
      .map(_.cmd).take(n).toSeq
  }
}

object Interactive {
  val Clients = 2
  /** `--seconds` per deck a client runs: a deck of 20 calls takes 6–7 s
    * on 4 cores, and one deck per client is the 40 calls a p75 needs. */
  val DeckSeconds = 6
  /** The window (offsets per partition) a filter-chain call scans. */
  val FilterWindow = 2000

  private final case class Done(client: Int, kind: String, ms: Double, rows: Long, cmd: String)

  final case class Call(kind: String, cmd: String, expect: Long)

  private val plainCols = Seq("route:s=route", "veh:i=VP.veh", "speed:d=VP.spd", "lat:d=VP.lat",
    "tst:t=VP.tst", "desi:s=VP.desi", "seq:l=seq", "stop:l=VP.stop")
  private val joltCols = Seq("route:s=route", "speed:d=speed", "vehicle:i=vehicle")
  val JoltShift: String =
    """--transform {"uses":"infinyon/jolt@0.1.0","with":{"spec":[{"operation":"shift","spec":{"route":"route","VP":{"spd":"speed","veh":"vehicle"}}}]}}"""

  /** How one consume call is drawn: its chain, `--rows` stratum, offset
    * flag, partition flag, number of `-c` mappings and whether `--end`
    * truncates its window. */
  final case class Shape(kind: String, chain: String, stratum: Int, how: Int, part: String,
                         cols: Int, end: Boolean)

  /** The consumes of half a deck. Their mix is fixed, so every run of
    * whole decks weighs the same kinds of call alike: 7 SQL and 2 Scala;
    * `--rows` at the nine quantile midpoints of log-uniform 10–10k; `-A`
    * four times, `-p N` four, neither once; `-B`/`-H`/`-T`/`--start` about
    * equally; 0–4 mappings; `--end` halving two windows; one transform
    * chain. */
  val DeckShapes: Seq[Shape] = Seq(
    Shape("sql", "", 0, 0, "-A", 0, false),
    Shape("sql", "", 1, 1, "-p", 1, false),
    Shape("sql", "", 2, 2, "-A", 2, true),
    Shape("sql", "", 3, 3, "-p", 3, false),
    Shape("sql", "", 4, 1, "-A", 4, false),
    Shape("sql", "chain", 5, 2, "-p", 1, false),
    Shape("sql", "", 6, 3, "", 2, true),
    Shape("scala", "", 7, 0, "-A", 3, false),
    Shape("scala", "", 8, 1, "-p", 0, false))

  /** A client's call sequence, in decks of 20: the nine [[DeckShapes]]
    * consumes twice (the chain a jolt once, a filter once), one
    * `fluvio_topics()` and one `fluvio_partitions()`. The order is fixed,
    * client 1 half a deck behind client 0, so the two clients overlap the
    * same kinds of call in every run; the seed draws every value. */
  final class Caller(r: SplittableRandom, in: Inputs, client: Int) {
    private val order: Seq[Either[String, Shape]] = {
      val half = (chain: String, admin: String) =>
        DeckShapes.map(s => Right(if (s.chain.isEmpty) s else s.copy(chain = chain))).patch(4, Seq(Left(admin)), 0)
      val deck = half("jolt", "topics") ++ half("filter", "partitions")
      deck.drop(10 * client) ++ deck.take(10 * client)
    }
    private var deck: List[Either[String, Shape]] = Nil

    /** Calls left in the current deck. */
    def leftInDeck: Int = deck.size

    def next(): Call = {
      if (deck.isEmpty) deck = order.toList
      val next = deck.head
      deck = deck.tail
      next match {
        case Right(s)         => draw(r, in, s)
        case Left("topics")   => Call("topics", "", 1)
        case Left(partitions) => Call(partitions, "", in.leo.size)
      }
    }
  }

  /** One consume call of the given shape, and the row count the offset
    * algebra predicts. A filter keeps the most frequent route (about a
    * tenth of the records), so its cost does not swing with the draw. Offsets are drawn so that `--rows` is never cut by
    * the log end; `--end`, when set, cuts it to half. A filter chain counts
    * rows after the transform, so its window is bounded by `--end` to
    * [[FilterWindow]] offsets per partition: the cap cannot end its scan. */
  def draw(r: SplittableRandom, in: Inputs, shape: Shape): Call = {
    val nParts = in.leo.size
    val (partFlag, parts) = shape.part match {
      case "-A" => ("-A", 0 until nParts)
      case "-p" => val p = r.nextInt(nParts); (s"-p $p", Seq(p))
      case _    => ("", Seq(0))
    }
    val rows = math.round(10 * math.pow(1000, (shape.stratum + 0.5) / DeckShapes.size))
    val filter = shape.chain == "filter"
    val span = if (filter) FilterWindow.toLong else rows
    val leoMin = in.leo.min
    // window start: -B 0; -H/--start n; -T n from the log end
    val start = if (shape.how == 0) 0L else r.nextLong(leoMin - span)
    val offFlag = shape.how match {
      case 0 => "-B"
      case 1 => s"-H $start"
      case 2 => s"-T ${leoMin - start}"
      case _ => s"--start $start"
    }
    val end =
      if (filter) Some(start + FilterWindow - 1)
      else if (shape.end) Some(start + rows / 2 - 1) else None
    val pool = if (shape.chain == "jolt") joltCols else plainCols
    val cols = shuffle(r, pool).take(math.min(shape.cols, pool.size))
    val chainFlag = shape.chain match {
      case "jolt"   => JoltShift
      case "filter" => s"--smartmodule graft/filter-json-eq -e key=route -e value=${Gen.routeName(Bulk.FilterRoute)}"
      case _        => ""
    }
    val cmd = (Seq("vehicles", partFlag, offFlag) ++ end.map(e => s"--end $e") ++
      Seq(s"--rows $rows", chainFlag) ++ cols.map("-c " + _)).filter(_.nonEmpty).mkString(" ")
    // the reference's calculate_offset, per selected partition
    val windows = parts.map { p =>
      val leo = in.leo(p)
      val start0 = shape.how match { case 2 => math.max(0L, leo - (leoMin - start)); case 0 => 0L; case _ => start }
      val end0 = math.min(leo, end.map(_ + 1).getOrElse(Long.MaxValue))
      (p, start0, math.max(start0, end0))
    }
    val expect =
      if (filter) math.min(rows, windows.map { case (p, s, e) => in.routeHits(p, s, e, Bulk.FilterRoute) }.sum)
      else windows.map { case (_, s, e) => math.min(e, s + rows) - s }.sum
    Call(shape.kind, cmd, expect)
  }

  private def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
