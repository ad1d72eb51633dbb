package graft.sources

/** Parsed form of the `fluvio_consume('<topic> <options>')` command string.
  *
  * Mirrors the reference's CLI consume grammar (clap-derived struct at
  * `/root/reference/src/consume.rs:466-571`): offset window flags with
  * mutual-conflict groups, row cap, column mappings, SmartModule transform
  * chain, and pass-through consumer options. This is a brand-new hand-rolled
  * parser (no clap); it reproduces the grammar, defaults, conflict groups and
  * validation errors, not the implementation.
  *
  * Tokenization matches the reference exactly: plain whitespace split
  * (`/root/reference/src/consume.rs:573-578`) — quoting is NOT shell-like, so
  * values with embedded spaces are unsupported there and here.
  */
final case class ConsumeOpt(
    topic: String,
    partition: Int = 0,
    allPartitions: Boolean = false,
    /** `-d`: continuous (streaming) consumption; default is bounded batch.
      * Reference: `disable_continuous(!enable_continuous)`
      * (`/root/reference/src/consume.rs:675`). */
    continuous: Boolean = false,
    beginning: Boolean = false,
    head: Option[Long] = None,
    tail: Option[Long] = None,
    start: Option[Long] = None,
    rows: Long = ConsumeOpt.DefaultRows,
    /** true iff `--rows` appeared on the command line (vs the default).
      * The continuous path keys its bounded-read behavior on this: an
      * EXPLICIT cap on a cardinality-changing chain buys a stateful
      * counting cap; the implicit default never plants stream state. */
    rowsExplicit: Boolean = false,
    end: Option[Long] = None,
    maxBytes: Option[Long] = None,
    isolation: Option[Isolation] = None,
    smartmodule: Option[String] = None,
    smartmodulePath: Option[String] = None,
    aggregateInitial: Option[String] = None,
    params: Seq[(String, String)] = Nil,
    transformsFile: Option[String] = None,
    transforms: Seq[String] = Nil, // inline JSON specs (`--transform`)
    columns: Seq[ColumnMapping] = Nil
) {

  /** Start offset of the scan window, as an [[OffsetSpec]].
    * Reference: `calculate_offset` (`/root/reference/src/consume.rs:580-605`).
    * No offset flag ⇒ start at the log END (0 rows in bounded mode).
    */
  def startOffset: OffsetSpec =
    if (beginning) OffsetSpec.FromBeginning(0)
    else if (head.isDefined) OffsetSpec.FromBeginning(head.get)
    else if (start.isDefined) OffsetSpec.Absolute(start.get)
    else if (tail.isDefined) OffsetSpec.FromEnd(tail.get)
    else OffsetSpec.End

  /** The records [from, until) a bounded consume delivers from a partition
    * whose log ends at `leo`: the start offset of `calculate_offset`
    * (the reference's `src/consume.rs:580-605`), the inclusive `--end`,
    * then the first `--rows` records of that window (offsets are dense, so
    * the cap is `until <= from + rows`). `--end` and `--rows` saturate at
    * `Long.MaxValue`, so their largest values mean "no bound". The window
    * is empty when `until <= from`. The one place this arithmetic lives:
    * the DSv2 batch planner and the micro-batch stream's starts call it,
    * the stream's ends call [[until]]. */
  def window(leo: Long): (Long, Long) = {
    val from = startOffset match {
      case OffsetSpec.FromBeginning(n) => n
      case OffsetSpec.Absolute(n)      => n
      case OffsetSpec.FromEnd(n)       => math.max(0L, leo - n)
      case OffsetSpec.End              => leo
    }
    (from, until(from, leo))
  }

  /** The end of [[window]] from a fixed start: the micro-batch stream's
    * bind-time start keeps `-T`/default-end windows put as the log grows. */
  def until(from: Long, leo: Long): Long = {
    val endExclusive = end.fold(Long.MaxValue)(e => if (e == Long.MaxValue) e else e + 1)
    val capped = if (from > Long.MaxValue - rows) Long.MaxValue else from + rows
    math.min(leo, math.min(endExclusive, capped))
  }

  /** `end >= start` validation (`/root/reference/src/consume.rs:581-589`). */
  def validate(): Either[String, ConsumeOpt] = (start, end) match {
    case (Some(s), Some(e)) if e < s =>
      Left(
        "Argument end-offset must be greater than or equal to specified start offset")
    case _ => Right(this)
  }
}

/** Where a bounded scan starts, in offset space. */
sealed trait OffsetSpec
object OffsetSpec {
  /** `-B` / `-H n`: n records after the beginning of the log. */
  final case class FromBeginning(n: Long) extends OffsetSpec
  /** `--start n`: absolute offset. */
  final case class Absolute(n: Long) extends OffsetSpec
  /** `-T n`: last n records of the log (start = LEO - n). */
  final case class FromEnd(n: Long) extends OffsetSpec
  /** default: start at log end (LEO). */
  case object End extends OffsetSpec
}

sealed trait Isolation
object Isolation {
  case object ReadCommitted extends Isolation
  case object ReadUncommitted extends Isolation

  /** Reference: `parse_isolation` (`/root/reference/src/consume.rs:705-711`). */
  def parse(s: String): Either[String, Isolation] = s match {
    case "read_committed" | "ReadCommitted" | "readCommitted" |
        "readcommitted" =>
      Right(ReadCommitted)
    case "read_uncommitted" | "ReadUncommitted" | "readUncommitted" |
        "readuncommitted" =>
      Right(ReadUncommitted)
    case other =>
      Left(
        s"unrecognized isolation: $other. Supported: read_committed (ReadCommitted), read_uncommitted (ReadUncommitted)")
  }
}

object ConsumeOpt {
  val DefaultRows = 1000L // `--rows` default (/root/reference/src/consume.rs:500-501)

  /** Flags that take no value. */
  private val boolFlags: Map[String, String] = Map(
    "-A" -> "all-partitions", "--all-partitions" -> "all-partitions",
    "-d" -> "continuous", "--disable-continuous" -> "continuous",
    "-B" -> "beginning", "--beginning" -> "beginning"
  )

  /** Flags that take one value (canonical name). */
  private val valueFlags: Map[String, String] = Map(
    "-p" -> "partition", "--partition" -> "partition",
    "-H" -> "head", "--head" -> "head",
    "-T" -> "tail", "--tail" -> "tail",
    "--start" -> "start",
    "--rows" -> "rows",
    "--end" -> "end",
    "-b" -> "maxbytes", "--maxbytes" -> "maxbytes",
    "--aggregate-initial" -> "aggregate-initial",
    "--a-init" -> "aggregate-initial",
    "-e" -> "params", "--params" -> "params",
    "--isolation" -> "isolation",
    "--smartmodule" -> "smartmodule", "--sm" -> "smartmodule",
    "--smartmodule-path" -> "smartmodule-path", "--sm_path" -> "smartmodule-path",
    "--transforms-file" -> "transforms-file",
    "-t" -> "transform", "--transform" -> "transform",
    "-c" -> "columns", "--columns" -> "columns"
  )

  /** Offset-window conflict groups
    * (`/root/reference/src/consume.rs:484-498`): `-B`, `-H`, `-T`, `--start`
    * are mutually exclusive.
    */
  private val offsetFlags = Seq("beginning", "head", "tail", "start")

  /** Parse the single-string argument of `fluvio_consume(...)`.
    * Whitespace tokenization only, like the reference.
    */
  def parse(input: String): Either[String, ConsumeOpt] = {
    val tokens = input.trim.split("\\s+").filter(_.nonEmpty).toList
    if (tokens.isEmpty) return Left("error: missing required argument <topic>")

    var topic: Option[String] = None
    var opt = ConsumeOpt(topic = "")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]

    // every numeric flag is a count, an offset or a partition id: a
    // negative value, or a partition id past Int.MaxValue, is rejected
    // here rather than wrapped or saturated downstream
    def parseLong(flag: String, v: String, max: Long = Long.MaxValue): Either[String, Long] =
      try {
        val n = java.lang.Long.parseLong(v)
        if (n >= 0L && n <= max) Right(n)
        else Left(s"error: invalid value '$v' for '$flag': must be in 0..=$max")
      } catch {
        case _: NumberFormatException =>
          Left(s"error: invalid value '$v' for '$flag': not a number")
      }

    def parseKeyVal(v: String): Either[String, (String, String)] = {
      val pos = v.indexOf('=')
      if (pos < 0) Left(s"invalid KEY=value: no `=` found in `$v`")
      else Right((v.substring(0, pos), v.substring(pos + 1)))
    }

    var rest = tokens
    while (rest.nonEmpty) {
      val tok = rest.head
      rest = rest.tail
      // `-h` prints usage, like the reference's clap help
      // (/root/reference/README.md:114-119); surfaced as the scan's message.
      if (tok == "-h" || tok == "--help") return Left(help)
      // Support --flag=value in addition to --flag value.
      val (flagTok, inlineVal) = {
        val eq = tok.indexOf('=')
        if (tok.startsWith("--") && eq > 0)
          (tok.substring(0, eq), Some(tok.substring(eq + 1)))
        else (tok, None)
      }
      if (boolFlags.contains(flagTok)) {
        boolFlags(flagTok) match {
          case "all-partitions" => opt = opt.copy(allPartitions = true); seen += "all-partitions"
          case "continuous"     => opt = opt.copy(continuous = true)
          case "beginning"      => opt = opt.copy(beginning = true); seen += "beginning"
        }
      } else if (valueFlags.contains(flagTok)) {
        val name = valueFlags(flagTok)
        val v: String = inlineVal match {
          case Some(v0) => v0
          case None =>
            if (rest.isEmpty)
              return Left(s"error: a value is required for '$flagTok' but none was supplied")
            val v0 = rest.head; rest = rest.tail; v0
        }
        name match {
          case "partition" =>
            parseLong(flagTok, v, Int.MaxValue) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(partition = n.toInt); seen += "partition"
            }
          case "head" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(head = Some(n)); seen += "head"
            }
          case "tail" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(tail = Some(n)); seen += "tail"
            }
          case "start" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(start = Some(n)); seen += "start"
            }
          case "rows" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(rows = n, rowsExplicit = true)
            }
          case "end" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(end = Some(n))
            }
          case "maxbytes" =>
            parseLong(flagTok, v) match {
              case Left(e)  => return Left(e)
              case Right(n) => opt = opt.copy(maxBytes = Some(n))
            }
          case "aggregate-initial" => opt = opt.copy(aggregateInitial = Some(v))
          case "params" =>
            parseKeyVal(v) match {
              case Left(e)   => return Left(e)
              case Right(kv) => opt = opt.copy(params = opt.params :+ kv)
            }
          case "isolation" =>
            Isolation.parse(v) match {
              case Left(e)  => return Left(e)
              case Right(i) => opt = opt.copy(isolation = Some(i))
            }
          case "smartmodule"      => opt = opt.copy(smartmodule = Some(v)); seen += "smartmodule"
          case "smartmodule-path" => opt = opt.copy(smartmodulePath = Some(v)); seen += "smartmodule"
          case "transforms-file"  => opt = opt.copy(transformsFile = Some(v)); seen += "transforms-file"
          case "transform"        => opt = opt.copy(transforms = opt.transforms :+ v); seen += "transform"
          case "columns" =>
            parseKeyVal(v) match {
              case Left(e) => return Left(e)
              case Right((name0, path)) =>
                ColumnMapping.parse(name0, path) match {
                  case Left(e)  => return Left(e)
                  case Right(m) => opt = opt.copy(columns = opt.columns :+ m)
                }
            }
        }
      } else if (flagTok.startsWith("-") && flagTok != "-") {
        return Left(s"error: unexpected argument '$flagTok' found")
      } else {
        if (topic.isDefined)
          return Left(s"error: unexpected argument '$tok' found")
        topic = Some(tok)
      }
    }

    topic match {
      case None => Left("error: missing required argument <topic>")
      case Some(t) =>
        // conflict groups
        val offsetSeen = offsetFlags.filter(seen.contains)
        if (offsetSeen.size > 1)
          return Left(
            s"error: the argument '--${offsetSeen(0)}' cannot be used with '--${offsetSeen(1)}'")
        if (seen.contains("all-partitions") && seen.contains("partition"))
          return Left(
            "error: the argument '--all-partitions' cannot be used with '--partition'")
        if (seen.contains("smartmodule") &&
          (seen.contains("transforms-file") || seen.contains("transform")))
          return Left(
            "error: the argument '--smartmodule' cannot be used with '--transforms-file' or '--transform'")
        if (seen.contains("transform") && seen.contains("transforms-file"))
          return Left(
            "error: the argument '--transform' cannot be used with '--transforms-file'")
        if (opt.aggregateInitial.isDefined && opt.smartmodule.isEmpty && opt.smartmodulePath.isEmpty)
          return Left(
            "error: the argument '--aggregate-initial' requires '--smartmodule'")
        if (opt.params.nonEmpty && opt.smartmodule.isEmpty && opt.smartmodulePath.isEmpty)
          return Left("error: the argument '--params' requires '--smartmodule'")
        opt.copy(topic = t).validate()
    }
  }

  /** `--help` text, approximating the reference's clap-generated help
    * (`/root/reference/README.md:114-119` shows the shape). */
  val help: String =
    """fluvio_consume: materialize a bounded window of a topic as a table
      |
      |Usage: fluvio_consume('<topic> [OPTIONS]')
      |
      |Arguments:
      |  <topic>  Topic name
      |
      |Options:
      |  -p, --partition <integer>      Partition id [default: 0]
      |  -A, --all-partitions           Consume records from all partitions
      |  -d, --disable-continuous       Disable continuous processing of messages
      |  -B, --beginning                Consume records from the beginning of the log
      |  -H, --head <integer>           Consume records starting <integer> from the beginning of the log
      |  -T, --tail <integer>           Consume records starting <integer> from the end of the log
      |      --start <integer>          The absolute offset of the first record to begin consuming from
      |      --rows <rows>              [default: 1000]
      |      --end <integer>            Consume records until end offset (inclusive)
      |  -b, --maxbytes <integer>       Maximum number of bytes to be retrieved
      |      --aggregate-initial <AGGREGATE_INITIAL>  Initial accumulator value with --aggregate
      |  -e, --params <PARAMS>          Extra input parameters passed to the smartmodule module (key=value)
      |      --isolation <ISOLATION>    read_committed | read_uncommitted
      |      --smartmodule <SMARTMODULE>  Name of the smartmodule
      |      --smartmodule-path <PATH>  Path to the smart module
      |      --transforms-file <FILE>   Path to a file with transformation specification
      |  -t, --transform <TRANSFORM>    Transformation specification as JSON formatted string
      |  -c, --columns <COLUMNS>        Column mapping name[:type]=json.path
      |  -h, --help                     Print help
      |""".stripMargin
}
