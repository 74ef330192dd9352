package graft.relay

import org.apache.spark.sql.SparkSession

import graft.iggy.{IggyClient, IggySource}
import graft.kafka.{KafkaClient, KafkaTls}
import graft.redis.RedisClient

/** A kafka end of a relay: where to connect and how to authenticate. */
final case class KafkaAt(host: String, port: Int,
    sasl: Option[(String, String)] = None, saslMechanism: String = "PLAIN",
    tls: Option[KafkaTls.Client] = None) {
  def client(): KafkaClient = new KafkaClient(host, port, sasl = sasl,
    saslMechanism = saslMechanism, tls = tls)
}

/** A redis end of a relay. */
final case class RedisAt(host: String, port: Int,
    tls: Option[RedisClient.Tls] = None,
    auth: Option[RedisClient.Auth] = None) {
  def client(): RedisClient = new RedisClient(host, port, tls = tls, auth = auth)
}

/** An iggy source end: the namespace `stream` holds the relayed topics. */
final case class IggyAt(host: String, port: Int,
    auth: (String, String) = ("iggy", "iggy"),
    stream: String = IggySource.DefaultStream) {
  def client(): IggyClient =
    new IggyClient(host, port, username = auth._1, password = auth._2)
}

/** One source coordinate: (topic, partition), (stream, shard), or a whole
  * `.ss` part file (`file`, part 0). It names the durable resume point:
  * the redis ledger key `<anchor>:{<ledgerTag>}`, the kafka
  * transactional id `<prefix>-<txnTag>` and the group-offset coordinate
  * (name, part).
  */
final case class Coord(name: String, part: Long, file: Boolean = false) {
  def ledgerTag: String = if (file) name else s"$name/$part"
  def txnTag: String = if (file) name else s"$name-$part"
}

/** The positions [from, until) of one coordinate, in its source's cursor
  * space: dense offsets (kafka, iggy), packed entry ids
  * (`(ms << 16) | sub_seq`, redis) or frame-exact byte offsets (`.ss`).
  */
final case class Range(coord: Coord, from: Long, until: Long)

/** One record read off a source. `pos + 1` is the resume point after it;
  * (stream, shard) route it to its destination; `key` is the kafka record
  * key to forward (the source's record key or entry id, or null).
  */
final case class Rec(pos: Long, stream: String, shard: Long, tsMs: Long,
    key: Array[Byte], payload: Array[Byte])

/** Test-only [[graft.ops.Failpoints]] tokens. Each sink fires those its
  * protocol has: kafka `crashBeforeCommit` and `raceAfterFence`; redis
  * `crashBeforeCommit`, `raceAfterRead` and `raceBeforeExec`.
  */
final case class Faults(crashBeforeCommit: Option[String] = None,
    raceAfterFence: Option[String] = None,
    raceAfterRead: Option[String] = None,
    raceBeforeExec: Option[String] = None)

/** One coordinate's relay progress, from [[EosRelay.lag]]. `tip` and
  * `cursor` share the relay's position space; `cursor` is the
  * next-unrelayed position (0, or the `.ss` header end, when the relay
  * has never run). The backlog is measured in the source's own unit:
  * `behindRecords` counts pending positions of a dense source (aborted
  * slots and control markers included, kafka's own lag metric; the
  * kafka tip is the LSO, so an open transaction never counts),
  * `behindMs` is a redis backlog's time span (newest minus oldest
  * pending entry ms — entry ids are sparse, so counting would scan it),
  * and `behindBytes` is a `.ss` file's pending frame bytes (its tip is
  * the last complete frame's end). A drained coordinate reads 0.
  */
final case class RelayLag(tip: Long, cursor: Long,
    behindRecords: Option[Long], behindMs: Option[Long],
    behindBytes: Option[Long] = None) {
  def drained: Boolean = cursor >= tip
}

/** The exactly-once relay loop — one for every source × sink pair, the
  * reference's consume → produce → `send_offsets_to_transaction` loop
  * (sea-streamer-kafka/src/producer.rs:236-301) with the backend picked
  * at run time as the reference's socket crate does
  * (sea-streamer-socket/src/streamer.rs:21-45).
  *
  * An epoch plans on the driver: the sink reads every coordinate's
  * committed cursor, the source turns its tips into ranges [cursor,
  * end) — O(#coordinates) RPCs, no data. Then each range relays in its
  * own Spark task: the [[RelaySink]] fences the coordinate, re-reads the
  * cursor, pulls the range through [[RelaySource.read]] and commits the
  * records with the advanced cursor atomically. No Spark checkpoint is
  * involved: the resume point lives in the destination, so a relay
  * killed anywhere resumes from the destination alone. A crash before
  * the commit leaves nothing visible and the cursor unmoved; the next
  * epoch relays the same range.
  *
  * `cap` bounds each coordinate's epoch in its source's unit (records;
  * bytes for `.ss` files) — the transaction-size pressure valve.
  */
object EosRelay {

  /** Driver-side plan: every coordinate with positions pending. */
  def plan(source: RelaySource, sink: RelaySink, cap: Long): Seq[Range] = {
    require(cap > 0, "cap must be positive")
    source.plan(sink.cursors, cap).filter(r => r.until > r.from)
  }

  /** Relay planned ranges, one Spark task each; returns records moved. */
  def run(spark: SparkSession, source: RelaySource, sink: RelaySink,
      ranges: Seq[Range], cap: Long, faults: Faults = Faults()): Long =
    if (ranges.isEmpty) 0L
    else {
      val siblings = ranges.size
      spark.sparkContext
        .parallelize(ranges, sink.slices(siblings, source.sharesKeys))
        .map(r => sink.relay(source, r, siblings, cap, faults))
        .sum().toLong
    }

  /** One bounded epoch: (ranges planned, records moved). */
  private def epoch(spark: SparkSession, source: RelaySource, sink: RelaySink,
      cap: Long, faults: Faults = Faults()): (Int, Long) = {
    val ranges = plan(source, sink, cap)
    (ranges.size, run(spark, source, sink, ranges, cap, faults))
  }

  def relayOnce(spark: SparkSession, source: RelaySource, sink: RelaySink,
      cap: Long = 100000L, faults: Faults = Faults()): Long =
    epoch(spark, source, sink, cap, faults)._2

  /** Drain the source: epochs until one plans nothing. The loop keys on
    * PLANNED ranges, not records moved: an epoch over aborted, expired or
    * filtered positions advances cursors while relaying zero records.
    */
  def relayAll(spark: SparkSession, source: RelaySource, sink: RelaySink,
      cap: Long = 100000L): Long = {
    var total = 0L
    var planned = -1
    while (planned != 0) {
      val (p, moved) = epoch(spark, source, sink, cap)
      planned = p
      total += moved
    }
    total
  }

  /** Progress per coordinate, read with the relay's own planning RPCs:
    * the tips of [[RelaySource.plan]] and the cursors of
    * [[RelaySink.cursors]]. Driver-side only.
    */
  def lag(source: RelaySource,
      sink: RelaySink): Map[(String, Long), RelayLag] =
    source.lag(source.plan(sink.cursors, Long.MaxValue)).map {
      case (c, l) => (c.name, c.part) -> l
    }.toMap
}
