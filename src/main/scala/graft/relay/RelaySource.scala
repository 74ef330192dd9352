package graft.relay

import graft.iggy.IggyWire.PollStrategy
import graft.kafka.KafkaWire
import graft.redis.{RedisClient, RedisStreams}
import graft.ss.{SsFormat, SsOffsetWalk, SsReader}

/** Where a relay reads from: a backend's tips as per-coordinate ranges,
  * and a range's records in pages under the backend's own truncation or
  * expiry rule. Implementations hold endpoints, never connections — they
  * ship to Spark tasks.
  */
sealed trait RelaySource extends Serializable {

  /** Driver: every coordinate with [cursor, end), where `end` is the
    * tip pinned now (so a live producer never unbounds an epoch), at most
    * `cap` positions past the cursor where the position space is dense.
    * `cursors` reads the committed cursors off the sink.
    */
  def plan(cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range]

  /** Task: read [from, r.until), calling `page(records, cursor after the
    * page)` per page; at most `cap` records where positions are sparse.
    * Returns the cursor after the read.
    */
  def read(r: Range, from: Long, cap: Long)(page: (Seq[Rec], Long) => Unit): Long

  /** The kafka destination partition of a record's shard. */
  def partition(shard: Long): Int = shard.toInt

  /** Partitions every kafka destination topic must have at least. */
  def minPartitions: Int = 1

  /** Whether tasks of one epoch may write the same destination key. */
  def sharesKeys: Boolean = false

  /** relayLag of planned ranges; dense sources count pending positions. */
  def lag(ranges: Seq[Range]): Seq[(Coord, RelayLag)] = ranges.map(r =>
    r.coord -> RelayLag(r.until, r.from,
      behindRecords = Some(math.max(0L, r.until - r.from)), behindMs = None))
}

object RelaySource {

  /** Records per page (redis XRANGE count, iggy poll count, `.ss` frames
    * per send). */
  val Page = 1000

  /** Bytes per kafka fetch. */
  val MaxFetchBytes: Int = 1 << 20

  /** [cursor, min(tip, cursor + cap)) per coordinate of a dense source. */
  private def dense(tips: Seq[(Coord, Long)],
      cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range] = {
    val cur = if (tips.isEmpty) Map.empty[Coord, Long] else cursors(tips.map(_._1))
    tips.map { case (c, tip) =>
      val from = cur.getOrElse(c, 0L)
      Range(c, from, if (tip - from > cap) from + cap else tip)
    }
  }

  /** An empty read below a pinned tip has one legitimate cause: retention
    * or expiry trimmed the log under the relay. Skip to the log start —
    * the trimmed positions are consumed — only when it confirms that;
    * skipping for any other cause would lose records while the cursor
    * still advanced.
    */
  private def skipTrimmed(what: String, next: Long, until: Long,
      logStart: Long): Long =
    if (logStart > next) math.min(logStart, until)
    else throw new IllegalStateException(
      s"relay stalled: $what read at $next below the planned tip $until " +
        s"returned nothing but the log starts at $logStart — refusing " +
        "to skip unrelayed records")

  /** Kafka topics: the cursor is the next offset, read `read_committed`
    * up to the LAST STABLE OFFSET, so aborted and still-open source
    * transactions never relay; the fetch's next-offset crosses aborted
    * pages and control markers. The record key carries over.
    */
  final case class Kafka(at: KafkaAt, topics: Seq[String]) extends RelaySource {
    def plan(cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range] = {
      val c = at.client()
      val tips = try {
        val meta = c.metadata(topics)
        topics.flatMap(t => meta.getOrElse(t, Seq.empty).map { p =>
          // one empty read_committed fetch at the high watermark resolves
          // the LSO (KafkaSource.planRanges' probe)
          val hw = c.listOffset(t, p, KafkaWire.Ts.Latest).getOrElse(0L)
          Coord(t, p) -> c.fetchIso(t, p, hw, maxBytes = 1,
            readCommitted = true)._1
        })
      } finally c.close()
      dense(tips, cursors, cap)
    }

    def read(r: Range, from: Long, cap: Long)(
        page: (Seq[Rec], Long) => Unit): Long = {
      val (t, p) = (r.coord.name, r.coord.part.toInt)
      val c = at.client()
      try {
        var next = from
        while (next < r.until) {
          val (_, end, recs) = c.fetchIso(t, p, next, MaxFetchBytes,
            readCommitted = true)
          if (end <= next) next = skipTrimmed(s"$t/$p", next, r.until,
            c.listOffset(t, p, KafkaWire.Ts.Earliest).getOrElse(0L))
          else {
            next = math.min(end, r.until)
            page(recs.takeWhile(_.offset < r.until).map(x =>
              Rec(x.offset, t, p, x.tsMs, x.key, x.value)), next)
          }
        }
        r.until
      } finally c.close()
    }
  }

  /** Redis stream shards: the cursor is the packed id
    * (sea-streamer-redis/src/message.rs:27-64) of the next entry. Ids are
    * sparse, so `cap` budgets entries at read time instead of positions
    * at plan time. The entry id is forwarded as the kafka record key.
    */
  final case class Redis(at: RedisAt, shards: Seq[(String, Long)])
      extends RelaySource {
    private def key(c: Coord) = RedisStreams.shardedKey(c.name, c.part, sharded = true)

    private def entries(rc: RedisClient, c: Coord, cmd: Seq[Array[Byte]]) =
      RedisStreams.decodeEntriesWithIds(rc.command(cmd: _*), c.name, c.part)

    def plan(cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range] = {
      val coords = shards.map { case (st, sh) => Coord(st, sh) }
      val cur = if (coords.isEmpty) Map.empty[Coord, Long] else cursors(coords)
      val rc = at.client()
      try coords.map { c =>
        // the tip is packed(last entry) + 1 (0 for an empty shard); the
        // cursor rides the PACKED id, so a saturated sub-seq is refused
        val tip = entries(rc, c, RedisStreams.xrevrangeTip(key(c)))
          .headOption.fold(0L) { case (id, m) =>
            RedisStreams.guardSubSeq(id)
            m.sequence + 1L
          }
        Range(c, cur.getOrElse(c, 0L), tip)
      } finally rc.close()
    }

    def read(r: Range, from: Long, cap: Long)(
        page: (Seq[Rec], Long) => Unit): Long = {
      val rc = at.client()
      try {
        // exact because of guardSubSeq: every cursor is packed(id) + 1 of
        // an id with sub < 0xFFFF, where packing is bijective
        var start = RedisStreams.entryId(from >>> 16, from & 0xFFFFL)
        var cursor = from
        var n = 0L
        var drained = false
        while (!drained && n < cap) {
          val want = math.min(Page.toLong, cap - n).toInt
          val got = entries(rc, r.coord,
            RedisStreams.xrange(key(r.coord), start, "+", Some(want)))
          // entries appended after planning belong to the next epoch
          val keep = got.takeWhile(_._2.sequence < r.until)
          keep.foreach(e => RedisStreams.guardSubSeq(e._1))
          if (keep.nonEmpty) {
            cursor = keep.last._2.sequence + 1L
            n += keep.length
            start = RedisStreams.idSuccessor(keep.last._1)
            page(keep.map { case (id, m) =>
              Rec(m.sequence, r.coord.name, r.coord.part,
                m.timestamp.getTime, id.getBytes("UTF-8"), m.payload)
            }, cursor)
          }
          drained = keep.length < want || keep.length < got.length
        }
        // a drained read saw every entry below the tip
        if (drained) r.until else cursor
      } finally rc.close()
    }

    override def lag(ranges: Seq[Range]): Seq[(Coord, RelayLag)] = {
      val rc = at.client()
      try ranges.map { r =>
        // the oldest pending entry is the first at/after the cursor
        val behindMs = if (r.from >= r.until) 0L
          else entries(rc, r.coord, RedisStreams.xrange(key(r.coord),
            RedisStreams.entryId(r.from >>> 16, r.from & 0xFFFFL), "+",
            Some(1))).headOption.fold(0L) { case (id, _) =>
              ((r.until - 1L) >>> 16) - RedisStreams.parseEntryId(id)._1
            }
        r.coord -> RelayLag(r.until, r.from, behindRecords = None,
          behindMs = Some(behindMs))
      } finally rc.close()
    }
  }

  /** Iggy topics of one namespace stream: dense per-partition offsets
    * like kafka's (sea-streamer-iggy's offset polls); the server's own
    * group offsets stay untouched. No record key is forwarded.
    */
  final case class Iggy(at: IggyAt, topics: Seq[String]) extends RelaySource {
    def plan(cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range] = {
      val c = at.client()
      val tips = try topics.flatMap(t =>
        c.topicTips(at.stream, t).toSeq.flatMap(_.zipWithIndex.map {
          case (tip, p) => Coord(t, p) -> tip
        })) finally c.close()
      dense(tips, cursors, cap)
    }

    def read(r: Range, from: Long, cap: Long)(
        page: (Seq[Rec], Long) => Unit): Long = {
      val (t, p) = (r.coord.name, r.coord.part.toInt)
      val c = at.client()
      try {
        var next = from
        while (next < r.until) {
          val want = math.min(Page.toLong, r.until - next).toInt
          val keep = c.pollMessages(at.stream, t, p, PollStrategy.AtOffset(next),
            want)._2.takeWhile(_.offset < r.until)
          // message_expiry trims iggy topics the way retention trims kafka's
          if (keep.isEmpty) next = skipTrimmed(s"$t/$p", next, r.until,
            c.pollMessages(at.stream, t, p, PollStrategy.First, 1)._2
              .headOption.fold(-1L)(_.offset))
          else {
            next = keep.last.offset + 1L
            page(keep.map(m => Rec(m.offset, t, p, m.tsMs, null, m.payload)),
              next)
          }
        }
        r.until
      } finally c.close()
    }
  }

  /** `.ss` part files (log shipping: sea-streamer-file/src/lib.rs dumps a
    * stream to disk; this ships the dump). The cursor is the frame-exact
    * byte offset after the last shipped frame, one per file, named by
    * the file NAME so a relocated directory resumes — so names must be
    * unique. `cap` is in bytes. Frames outside `onlyStreams` are consumed
    * positions, like aborted slots on a kafka source. A frame's kafka
    * partition is `floorMod(shard_id, partitions)` (KafkaEosSink's
    * rule). A (stream, shard) routinely spans several part files, so
    * sibling tasks write shared destination keys.
    */
  final case class Ss(paths: Seq[String],
      onlyStreams: Option[Set[String]] = None, partitions: Int = 4)
      extends RelaySource {
    private def name(path: String) = new java.io.File(path).getName
    private val byName = paths.map(p => name(p) -> p).toMap

    override def partition(shard: Long): Int =
      math.floorMod(shard, partitions.toLong).toInt
    override def minPartitions: Int = partitions
    override def sharesKeys: Boolean = true

    def plan(cursors: Seq[Coord] => Map[Coord, Long], cap: Long): Seq[Range] = {
      val dup = paths.groupBy(name).collect { case (k, vs) if vs.size > 1 => k }
      require(dup.isEmpty,
        s"cursor keys are file NAMES and these collide across the given " +
          s"paths: ${dup.mkString(", ")} — rename the files or ship the " +
          "directories under different anchors")
      val coords = paths.map(p => Coord(name(p), 0L, file = true))
      val cur = if (coords.isEmpty) Map.empty[Coord, Long] else cursors(coords)
      coords.map { c =>
        // frames start after the container header; the tip is the last
        // COMPLETE frame, so a live appender's torn tail never ships
        val from = math.max(cur.getOrElse(c, 0L), SsFormat.HeaderSize.toLong)
        Range(c, from, SsOffsetWalk.safeEnd(byName(c.name), from, cap).offset)
      }
    }

    def read(r: Range, from: Long, cap: Long)(
        page: (Seq[Rec], Long) => Unit): Long = {
      val reader = SsReader.openAtOffset(byName(r.coord.name),
        math.max(from, SsFormat.HeaderSize.toLong))
      try reader.iterator.takeWhile(_.endOffset <= r.until).grouped(Page)
        .foreach { frames =>
          page(frames.collect {
            case f if onlyStreams.forall(_.contains(f.message.stream_key)) =>
              val m = f.message
              // positions are frame ends minus one: `pos + 1` resumes at
              // the frame boundary
              Rec(f.endOffset - 1L, m.stream_key, m.shard_id,
                m.timestamp.getTime, null, m.payload)
          }, frames.last.endOffset)
        }
      finally reader.close()
      r.until
    }

    override def lag(ranges: Seq[Range]): Seq[(Coord, RelayLag)] =
      ranges.map(r => r.coord -> RelayLag(r.until, r.from, behindRecords = None,
        behindMs = None, behindBytes = Some(math.max(0L, r.until - r.from))))
  }
}
