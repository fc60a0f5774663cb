package graft.api

import java.util.UUID

import graft.core._
import graft.streaming.Subscriptions
import graft.streaming.Subscriptions.{From, Matcher}
import org.apache.spark.sql.Row

/** Command-level facade: the reference's 13-command surface
  * (`crates/sierradb-server/src/request.rs:49-135`) with the same
  * argument grammar — option keywords, `EXPECTED_VERSION
  * empty|any|exists|N`, the shared ESCAN/EPSCAN range grammar
  * (`-` = start, `+` = end), COUNT/WINDOW defaults — so a reference
  * client's commands translate 1:1. Responses come back as the same
  * field maps `encode_event` emits (`request.rs:798-812`), with ms
  * timestamps.
  */
object Commands {
  /** One wire argument. Grammar tokens (command names, keywords, ids,
    * numbers) read through the UTF-8 `text` view; PAYLOAD/METADATA
    * values read the raw `bytes` — the reference stores both as opaque
    * `Vec<u8>` (`eappend.rs:55`), so arbitrary binary must survive the
    * append→read round trip without a lossy String decode in between.
    */
  final class Arg(val bytes: Array[Byte]) {
    lazy val text: String = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
  object Arg {
    def text(s: String): Arg =
      new Arg(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

final class Commands(es: EventStore) {
  import Commands.Arg

  /** String-level dispatch (`Command::try_from`, `request.rs:100-135`):
    * a raw argument array as a RESP client would send it. EACK is
    * accepted and is a no-op acknowledgment — with checkpointed
    * delivery the sink commit IS the ack (`Subscriptions.deliver`).
    */
  def execute(args: Seq[String]): Either[String, Any] =
    executeArgs(args.map(Arg.text))

  /** Byte-level dispatch for the RESP server: same grammar, but blob
    * arguments keep their raw bytes end-to-end so binary payloads are
    * never corrupted through a UTF-8 replacement-character decode.
    */
  def executeRaw(args: Seq[Array[Byte]]): Either[String, Any] =
    executeArgs(args.map(new Arg(_)))

  private def executeArgs(args: Seq[Arg]): Either[String, Any] = args.headOption.map(_.text) match {
    // Blob-carrying commands dispatch on the leading grammar tokens only:
    // their option parsers read keyword args through `.text` and
    // PAYLOAD/METADATA values through `.bytes`, so a multi-MB binary blob
    // is never UTF-8-decoded just to route the command. Everything else
    // is pure text grammar and decodes wholesale below.
    case Some("EAPPEND") if args.length >= 3 =>
      eappendArgs(args(1).text, args(2).text, args.drop(3))
    case Some("EMAPPEND") if args.length >= 2 =>
      parseEmappendEvents(args.drop(2).toList).flatMap(emappendInputs(args(1).text, _))
    case _ => executeText(args.map(_.text).toList)
  }

  private def executeText(args: List[String]): Either[String, Any] = args match {
    case "EGET" :: id :: Nil => eget(id)
    case "EGET" :: id :: "TRANSACTION" :: Nil => egetTransaction(id)
    case "ESCAN" :: sid :: start :: end :: rest => escan(sid, start, end, rest: _*)
    case "EPSCAN" :: p :: start :: end :: rest => epscan(p, start, end, rest: _*)
    case "ESVER" :: sid :: rest => esver(sid, rest: _*)
    case "EPSEQ" :: p :: Nil => epseq(p)
    case "ESUB" :: rest => parseSubTail(rest).flatMap { case (entries, from, w) =>
      if (entries.isEmpty) Left("ERR ESUB requires at least one stream")
      else esubEntries(entries, from, w)
    }
    case "EPSUB" :: parts :: rest =>
      parseSubTail(rest).flatMap { case (extra, from, w) =>
        if (extra.nonEmpty) Left("ERR unexpected arguments")
        else epsub(parts, from, w)
      }
    // EACK is only MEANINGFUL on the RESP socket path, where the
    // server tracks the per-connection delivered/acked gap and blocks
    // delivery while gap > WINDOW (server/RespServer.scala — the
    // ack-window flow control the reference's subscription protocol
    // defines). This facade has no delivery loop to throttle — there
    // is no in-flight window to shrink — so the ack is accepted for
    // grammar compatibility and deliberately carries no state. A
    // direct-API caller wanting flow control must consume
    // subscriptions through the socket server.
    case "EACK" :: _ :: _ :: Nil => Right("OK")
    case "HELLO" :: v :: Nil =>
      v.toIntOption.toRight(s"ERR invalid protocol: $v").flatMap(hello)
    case "PING" :: Nil => Right(ping())
    case "INFO" :: section :: Nil => Right(info(section))
    case "INFO" :: Nil => Right(info())
    case cmd :: _ => Left(s"ERR unknown command '$cmd'")
    case Nil => Left("ERR empty command")
  }

  /** EMAPPEND tail (`emappend.rs:28`): per event
    * `stream_id event_name [EVENT_ID u] [EXPECTED_VERSION v]
    * [TIMESTAMP ms] [PAYLOAD b] [METADATA b]` — each option at most
    * once per event; a non-keyword token starts the next event.
    */
  private val EmappendOptionKeywords =
    Set("EVENT_ID", "EXPECTED_VERSION", "TIMESTAMP", "PAYLOAD", "METADATA")

  private def parseEmappendEvents(
      args: List[Arg]): Either[String, Seq[EventInput]] = {
    val out = Vector.newBuilder[EventInput]
    var rest = args
    while (rest.nonEmpty) {
      rest match {
        case sid :: name :: tail =>
          var opts = Map.empty[String, Arg]
          var t = tail
          while (t.nonEmpty && EmappendOptionKeywords.contains(t.head.text)) {
            t match {
              case k :: v :: more =>
                if (opts.contains(k.text)) return Left(s"ERR duplicate argument ${k.text}")
                opts += (k.text -> v); t = more
              case k :: Nil => return Left(s"ERR missing value for ${k.text}")
            }
          }
          eventInput(sid.text, name.text, opts) match {
            case Left(e)  => return Left(e)
            case Right(i) => out += i
          }
          rest = t
        case _ => return Left("ERR EMAPPEND requires stream_id event_name pairs")
      }
    }
    val r = out.result()
    if (r.isEmpty) Left("ERR EMAPPEND requires at least one event") else Right(r)
  }

  /** The WINDOW a subscription command requests (default 1000,
    * `esub.rs:219`) — the ONE parser for the grammar; the RESP server
    * uses this for its ack-window state instead of re-scanning args.
    */
  def subscriptionWindow(args: Seq[String]): Int =
    parseSubTail(args.toList).map(_._3).getOrElse(1000)

  /** ESUB/EPSUB tail: (id [PARTITION_KEY u])* [FROM LATEST|v|MAP k=v...]
    * [WINDOW n] — MAP consumes k=v tokens until WINDOW or end. Entries
    * keep duplicates: the same stream may be listed under several
    * partition keys (the reference selector is a set of (stream, key)
    * pairs, `esub.rs:49-50`).
    */
  private def parseSubTail(args: List[String])
      : Either[String, (Seq[(String, Option[UUID])], Option[String], Int)] = {
    var entries = Vector.empty[(String, Option[UUID])]
    var from: Option[String] = None
    var window = 1000 // `esub.rs:219`
    var rest = args
    while (rest.nonEmpty) rest match {
      case "FROM" :: "MAP" :: tail =>
        val (pairs, after) = tail.span(t => t.contains("="))
        if (pairs.isEmpty) return Left("ERR FROM MAP requires entries")
        from = Some("MAP " + pairs.mkString(","))
        rest = after
      case "FROM" :: v :: tail => from = Some(v); rest = tail
      case "FROM" :: Nil => return Left("ERR missing FROM value")
      case "WINDOW" :: v :: tail =>
        v.toIntOption.filter(_ > 0) match {
          case Some(n) => window = n; rest = tail
          case None => return Left(s"ERR invalid window: $v")
        }
      case "WINDOW" :: Nil => return Left("ERR missing WINDOW value")
      case "PARTITION_KEY" :: v :: tail =>
        entries.lastOption match {
          case None => return Left("ERR PARTITION_KEY must follow a stream id")
          case Some((sid, None)) => parseUuid(v) match {
            case Left(e) => return Left(e)
            case Right(u) =>
              entries = entries.init :+ (sid -> Some(u)); rest = tail
          }
          case Some((_, Some(_))) =>
            return Left("ERR duplicate PARTITION_KEY for the same entry")
        }
      case "PARTITION_KEY" :: Nil => return Left("ERR missing PARTITION_KEY value")
      case id :: tail => entries :+= (id -> None); rest = tail
    }
    Right((entries, from, window))
  }

  /** encode_event field order (`request.rs:798-812`). */
  def encodeEvent(r: Row): Map[String, Any] = Map(
    "event_id" -> r.getAs[String]("event_id"),
    "transaction_id" -> r.getAs[String]("transaction_id"),
    "partition_key" -> r.getAs[String]("partition_key"),
    "partition_id" -> r.getAs[Int]("partition_id"),
    "partition_sequence" -> r.getAs[Long]("partition_sequence"),
    "stream_version" -> r.getAs[Long]("stream_version"),
    "stream_id" -> r.getAs[String]("stream_id"),
    "event_name" -> r.getAs[String]("event_name"),
    "timestamp" -> r.getAs[Long]("timestamp_ns") / 1000000L,
    "metadata" -> r.getAs[Array[Byte]]("metadata"),
    "payload" -> r.getAs[Array[Byte]]("payload"))

  /** Range grammar shared by ESCAN/EPSCAN (`request.rs:474-489`):
    * `-` only valid as start (→ None), `+` only valid as end (→ None).
    */
  def parseRange(start: String, end: String): Either[String, (Option[Long], Option[Long])] =
    for {
      s <- start match {
        case "-" => Right(None)
        case "+" => Left("ERR '+' is not a valid range start")
        case v => v.toLongOption.filter(_ >= 0)
          .toRight(s"ERR invalid range start: $v").map(Some(_))
      }
      e <- end match {
        case "+" => Right(None)
        case "-" => Left("ERR '-' is not a valid range end")
        case v => v.toLongOption.filter(_ >= 0)
          .toRight(s"ERR invalid range end: $v").map(Some(_))
      }
    } yield (s, e)

  private def parseOpts(args: Seq[Arg]): Either[String, Map[String, Arg]] = {
    val m = collection.mutable.Map.empty[String, Arg]
    var i = 0
    while (i < args.length) {
      val k = args(i).text.toUpperCase
      if (i + 1 >= args.length) return Left(s"ERR missing value for $k")
      if (m.contains(k)) return Left(s"ERR duplicate argument $k")
      m(k) = args(i + 1)
      i += 2
    }
    Right(m.toMap)
  }

  /** EAPPEND stream_id event_name [EVENT_ID u] [PARTITION_KEY u]
    * [EXPECTED_VERSION v] [TIMESTAMP ms] [PAYLOAD b] [METADATA b]
    */
  def eappend(streamId: String, eventName: String, opts: String*): Either[String, Map[String, Any]] =
    eappendArgs(streamId, eventName, opts.map(Arg.text))

  private def eappendArgs(streamId: String, eventName: String,
      opts: Seq[Arg]): Either[String, Map[String, Any]] =
    for {
      o <- parseOpts(opts)
      in <- eventInput(streamId, eventName, o)
      pk <- parseUuidOpt(o.get("PARTITION_KEY").map(_.text))
      r <- es.append(in, pk)
    } yield Map(
      "event_id" -> r.eventId,
      "partition_key" -> r.partitionKey,
      "partition_id" -> r.partitionId,
      "partition_sequence" -> r.partitionSequence,
      "stream_version" -> r.streamVersion,
      "timestamp" -> r.timestampMs)

  /** The event an EAPPEND/EMAPPEND option map describes: EXPECTED_VERSION
    * (default any), EVENT_ID, TIMESTAMP, and the raw PAYLOAD and
    * METADATA bytes (default empty).
    */
  private def eventInput(streamId: String, eventName: String,
      o: Map[String, Arg]): Either[String, EventInput] =
    for {
      ev <- o.get("EXPECTED_VERSION")
        .map(a => ExpectedVersion.parse(a.text).left.map("ERR " + _))
        .getOrElse(Right(ExpectedVersion.Any))
      eid <- parseUuidOpt(o.get("EVENT_ID").map(_.text))
      ts <- o.get("TIMESTAMP")
        .map(a => a.text.toLongOption.toRight(s"ERR invalid timestamp: ${a.text}").map(Some(_)))
        .getOrElse(Right(None))
    } yield EventInput(streamId, eventName,
      o.get("PAYLOAD").map(_.bytes).getOrElse(Array.emptyByteArray),
      o.get("METADATA").map(_.bytes).getOrElse(Array.emptyByteArray),
      ev, eid, ts)

  /** EMAPPEND convenience: (stream_id, event_name, expected_version). */
  def emappend(partitionKey: String,
      events: Seq[(String, String, Option[String])]): Either[String, Map[String, Any]] =
    events.foldLeft(
      Right(Vector.empty[EventInput]): Either[String, Vector[EventInput]]) {
      case (acc, (sid, name, evOpt)) => acc.flatMap { v =>
        eventInput(sid, name, evOpt.map("EXPECTED_VERSION" -> Arg.text(_)).toMap).map(v :+ _)
      }
    }.flatMap(emappendInputs(partitionKey, _))

  /** EMAPPEND partition_key (stream_id event_name [EVENT_ID u]
    * [EXPECTED_VERSION v] [TIMESTAMP ms] [PAYLOAD b] [METADATA b])+
    */
  def emappendInputs(partitionKey: String,
      inputs: Seq[EventInput]): Either[String, Map[String, Any]] =
    for {
      pk <- parseUuid(partitionKey)
      r <- es.mappend(pk, inputs)
    } yield Map(
      "partition_key" -> r.partitionKey,
      "partition_id" -> r.partitionId,
      "first_partition_sequence" -> r.firstPartitionSequence,
      "last_partition_sequence" -> r.lastPartitionSequence,
      "events" -> r.events.map(e => Map(
        "event_id" -> e.eventId,
        "partition_sequence" -> e.partitionSequence,
        "stream_version" -> e.streamVersion)))

  /** EGET event_id → event map or None (absent/unconfirmed). Served
    * through the read cache (the reference serves EGET from its block
    * cache; hits never touch storage).
    */
  def eget(eventId: String): Either[String, Option[Map[String, Any]]] =
    parseUuid(eventId).map(id => es.getCached(id).map(encodeEvent))

  /** EGET event_id TRANSACTION → every committed event of the
    * transaction containing the event, in partition-sequence order
    * (`database.rs:138-208` read_transaction).
    */
  def egetTransaction(eventId: String): Either[String, Seq[Map[String, Any]]] =
    parseUuid(eventId).map(id =>
      es.readTransaction(id).map(encodeEvent))

  /** ESCAN stream_id start end [PARTITION_KEY u] [COUNT n] */
  def escan(streamId: String, start: String, end: String,
      opts: String*): Either[String, Map[String, Any]] =
    for {
      o <- parseOpts(opts.map(Arg.text))
      r <- parseRange(start, end)
      pk <- parseUuidOpt(o.get("PARTITION_KEY").map(_.text))
      count <- parseCount(o)
    } yield {
      val res = es.scan(streamId, r._1, r._2, count, pk)
      Map("has_more" -> res.hasMore,
        "events" -> res.events.map(encodeEvent))
    }

  /** EPSCAN partition start end [COUNT n]; partition = id or key UUID. */
  def epscan(partition: String, start: String, end: String,
      opts: String*): Either[String, Map[String, Any]] =
    for {
      o <- parseOpts(opts.map(Arg.text))
      r <- parseRange(start, end)
      pid <- parsePartition(partition)
      count <- parseCount(o)
    } yield {
      val res = es.pscan(pid, r._1, r._2, count)
      Map("has_more" -> res.hasMore,
        "events" -> res.events.map(encodeEvent))
    }

  /** ESVER stream_id [PARTITION_KEY u] → version or None. */
  def esver(streamId: String, opts: String*): Either[String, Option[Long]] =
    for {
      _ <- StreamId.validate(streamId).left.map("ERR " + _)
      o <- parseOpts(opts.map(Arg.text))
      pk <- parseUuidOpt(o.get("PARTITION_KEY").map(_.text))
    } yield es.sver(streamId, pk)

  /** EPSEQ partition → sequence or None. */
  def epseq(partition: String): Either[String, Option[Long]] =
    parsePartition(partition).map(es.pseq)

  /** ESUB (stream_id)+ [FROM LATEST|v|MAP s=v,...] [WINDOW n] —
    * returns the subscription DataFrame; attach with
    * Subscriptions.deliver (checkpoint = subscription id + EACK).
    */
  def esub(streamIds: Seq[String], from: Option[String] = None,
      window: Int = 1000): Either[String, org.apache.spark.sql.DataFrame] =
    esubEntries(streamIds.map(_ -> None), from, window)

  /** ESUB with per-entry optional partition keys (the full grammar). */
  def esubEntries(entries: Seq[(String, Option[UUID])],
      from: Option[String] = None,
      window: Int = 1000): Either[String, org.apache.spark.sql.DataFrame] =
    parseFrom(from).map { f =>
      val bare = entries.collect { case (s, None) => s }
      val keyed = entries.collect { case (s, Some(pk)) => s -> pk }
      Subscriptions.subscribe(es,
        Matcher(streams = bare, streamKeys = keyed), f, window)
    }

  /** EPSUB *|p|p1,p2,... [FROM ...] [WINDOW n] */
  def epsub(partitions: String, from: Option[String] = None,
      window: Int = 1000): Either[String, org.apache.spark.sql.DataFrame] =
    for {
      f <- parseFrom(from)
      m <- if (partitions == "*") Right(Matcher(allPartitions = true))
        else partitions.split(",").toSeq
          .foldLeft(Right(Vector.empty[Int]): Either[String, Vector[Int]]) {
            (acc, p) => acc.flatMap(v => parsePartition(p.trim).map(v :+ _))
          }.map(ps => Matcher(partitions = ps))
    } yield Subscriptions.subscribe(es, m, f, window)

  /** HELLO 3 — protocol 3 only (`hello.rs:20-57`). */
  def hello(protocol: Int): Either[String, Map[String, String]] =
    if (protocol != 3) Left("NOPROTO unsupported protocol version")
    else Right(es.info + ("proto" -> "3"))

  def ping(): String = "PONG"

  /** INFO CACHE (`info.rs:30-113`): the reference's exact key set —
    * hits/misses/hit_ratio(3dp)/entries/memory_bytes/max_bytes/
    * block_size_bytes/evictions — from the store's read cache. INFO
    * STORE: the store's own counters ([[EventStore.storeInfo]]).
    */
  def info(section: String = "CACHE"): Map[String, Any] =
    if (section.equalsIgnoreCase("STORE")) es.storeInfo else es.cacheInfo

  // ---------------------------------------------------------------- helpers

  private def parseCount(o: Map[String, Arg]): Either[String, Int] =
    o.get("COUNT")
      .map(a => a.text.toIntOption.filter(_ > 0).toRight(s"ERR invalid count: ${a.text}"))
      .getOrElse(Right(100)) // default 100 (`escan.rs:138`)

  private def parseUuid(s: String): Either[String, UUID] =
    try Right(UUID.fromString(s))
    catch { case _: IllegalArgumentException => Left(s"ERR invalid uuid: $s") }

  private def parseUuidOpt(s: Option[String]): Either[String, Option[UUID]] =
    s.map(parseUuid(_).map(Some(_))).getOrElse(Right(None))

  /** partition = numeric id 0-65535 or a partition-key UUID
    * (`request.rs:494-`, `parser.rs:415-419`).
    */
  private def parsePartition(p: String): Either[String, Int] =
    p.toIntOption match {
      // numeric ids pass through unchanged like the reference's ById
      // (`request.rs:500-503`) — an out-of-range id reads as empty, it
      // is not remapped onto another partition
      case Some(id) if id >= 0 && id < 65536 => Right(id)
      case Some(_) => Left(s"ERR partition id out of range: $p")
      case None => parseUuid(p).map(u =>
        Ids.partitionIdFor(Ids.partitionHash(u), es.numPartitions))
    }

  /** FROM LATEST | version | MAP k=v,k=v[,DEFAULT=v] */
  private def parseFrom(from: Option[String]): Either[String, From] = from match {
    case None => Right(From.Value(0))
    case Some("LATEST") => Right(From.Latest)
    case Some(s) if s.startsWith("MAP ") =>
      val parts = s.stripPrefix("MAP ").split(",").map(_.trim).toSeq
      val (defaults, pairs) = parts.partition(_.toUpperCase.startsWith("DEFAULT="))
      pairs.foldLeft(Right(Map.empty[String, Long]): Either[String, Map[String, Long]]) {
        (acc, kv) => acc.flatMap { m =>
          kv.split("=", 2) match {
            case Array(k, v) => v.toLongOption
              .toRight(s"ERR invalid version in MAP: $kv").map(n => m + (k -> n))
            case _ => Left(s"ERR invalid MAP entry: $kv")
          }
        }
      }.flatMap { m =>
        defaults.headOption
          .map(d => d.split("=", 2)(1).toLongOption
            .toRight(s"ERR invalid DEFAULT").map(Some(_)))
          .getOrElse(Right(None))
          .map(df => From.PerKey(m, df))
      }
    case Some(v) => v.toLongOption
      .toRight(s"ERR invalid FROM: $v").map(From.Value(_))
  }
}
