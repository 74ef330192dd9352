package graft.relay

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.kafka.{KafkaClient, KafkaTxnProducer, KafkaWire}
import graft.ops.Failpoints
import graft.redis.{EosCommit, RedisStreams, Resp}

/** Where a relay writes to, and where its resume point lives: inside the
  * destination, committed atomically with the records. `rename` maps a
  * source stream to its destination stream or topic.
  */
sealed trait RelaySink extends Serializable {

  /** Driver: the committed cursor of each coordinate that has one. */
  def cursors(coords: Seq[Coord]): Map[Coord, Long]

  /** Task: relay one planned range of `src` exactly once; returns the
    * records THIS call committed. `siblings` is the epoch's range count.
    */
  def relay(src: RelaySource, r: Range, siblings: Int, cap: Long,
      faults: Faults): Long

  /** Spark tasks for an epoch of `ranges` ranges. */
  def slices(ranges: Int, sharedKeys: Boolean): Int = ranges
}

object RelaySink {

  /** Kafka: each range runs in one transaction whose transactional id
    * `<txnIdPrefix>-<txnTag>` is stable per coordinate, and the advanced
    * cursor is staged under `group` INSIDE it (`send_offsets_to_
    * transaction`) at the coordinate (name, part) — the group coordinator
    * keys offsets by plain (group, topic, partition), so the "topic"
    * need not exist as a log. A record lands in `rename(stream)` at
    * [[RelaySource.partition]] of its shard.
    */
  final case class Kafka(at: KafkaAt, group: String, txnIdPrefix: String,
      rename: String => String) extends RelaySink {

    def cursors(coords: Seq[Coord]): Map[Coord, Long] =
      if (coords.isEmpty) Map.empty
      else {
        val c = at.client()
        try {
          c.findCoordinator(group)
          val got = c.fetchOffsets(group, coords.groupBy(_.name).map {
            case (n, cs) => n -> cs.map(_.part.toInt)
          })
          coords.flatMap(co => got.get((co.name, co.part.toInt)).map(co -> _))
            .toMap
        } finally c.close()
      }

    def relay(src: RelaySource, r: Range, siblings: Int, cap: Long,
        faults: Faults): Long =
      Kafka.retryFenced(s"relay ${r.coord.ledgerTag}") {
        val c = at.client()
        try Kafka.step(c, s"$txnIdPrefix-${r.coord.txnTag}", group,
          (r.coord.name, r.coord.part.toInt), r.until, faults.crashBeforeCommit,
          faults.raceAfterFence) { (producer, committed) =>
          val known = mutable.Set.empty[String]
          var n = 0L
          // a range that reads empty (aborted, expired or filtered
          // positions) still commits its cursor: an offsets-only
          // transaction, never a plain OffsetCommit a zombie could rewind
          val end = src.read(r, committed, cap) { (recs, _) =>
            recs.groupBy(x => (rename(x.stream), src.partition(x.shard)))
              .foreach { case ((topic, part), rs) =>
                Kafka.send(c, producer, known, topic, part,
                  math.max(part + 1, src.minPartitions),
                  rs.map(x => (x.tsMs, x.key, x.payload)))
                n += rs.size
              }
          }
          (n, end)
        }.getOrElse(0L)
        finally c.close()
      }
  }

  object Kafka {

    /** One fenced transaction of coordinate `coord` under `group`:
      * `initTransactions` on `txnId` FIRST — the epoch bump fences every
      * older incarnation and aborts its open transaction — then read the
      * committed cursor, which no zombie can move any more. At or past
      * `until` the range already landed: skip (None). Otherwise begin →
      * `body(producer, committed)` sends and returns (result, cursor) →
      * stage the cursor → commit. A crash before the commit leaves data
      * and cursor invisible.
      */
    private[graft] def step[T](client: KafkaClient, txnId: String,
        group: String, coord: (String, Int), until: Long,
        crashBeforeCommit: Option[String], raceAfterFence: Option[String])(
        body: (KafkaTxnProducer, Long) => (T, Long)): Option[T] = {
      val producer = new KafkaTxnProducer(client, txnId).initTransactions()
      client.findCoordinator(group)
      val committed = client.fetchOffsets(group, Map(coord._1 -> Seq(coord._2)))
        .getOrElse(coord, 0L)
      raceAfterFence.foreach(Failpoints.fireHook)
      if (committed >= until) None
      else {
        producer.begin()
        val (out, cursor) = body(producer, committed)
        producer.sendOffsetsToTransaction(group, Map(coord -> cursor))
        if (crashBeforeCommit.exists(Failpoints.fire))
          throw new IllegalStateException(
            s"injected crash: $txnId produced + staged, not committed")
        producer.commit()
        Some(out)
      }
    }

    /** Transactional send, checking once per topic that the destination
      * has at least `need` partitions. */
    private[graft] def send(client: KafkaClient, producer: KafkaTxnProducer,
        known: mutable.Set[String], topic: String, part: Int, need: Int,
        recs: Seq[(Long, Array[Byte], Array[Byte])],
        codec: Int = KafkaWire.Codec.None): Unit = {
      if (known.add(topic)) {
        val parts = client.metadata(Seq(topic)).getOrElse(topic, Seq.empty)
        require(parts.size >= need,
          s"topic $topic has ${parts.size} partitions, need $need")
      }
      producer.send(topic, part, recs, codec)
      ()
    }

    /** Run `body`; on INVALID_PRODUCER_EPOCH — a rival incarnation of
      * the transactional id fenced this attempt, leaving nothing of it
      * visible — back off and re-run: the fresh init re-fences the rival
      * and the post-fence cursor read absorbs what it committed. A rival
      * fences at most once per incarnation, so the bound trips only when
      * two live relays run the same ranges — and then fails LOUD.
      */
    private[graft] def retryFenced(what: String, maxRetries: Int = 5)(
        body: => Long): Long = {
      var attempts = 0
      while (true) {
        try return body
        catch {
          case e: KafkaClient#KafkaServerErr
              if e.code == KafkaWire.Err.InvalidProducerEpoch =>
            attempts += 1
            if (attempts > maxRetries)
              throw new IllegalStateException(
                s"$what: fenced $attempts times — a live rival keeps " +
                  "re-initializing this transactional id (two concurrent " +
                  "relays of the same ranges?)", e)
            Thread.sleep(100L * attempts)
        }
      }
      -1L // unreachable
    }
  }

  /** Redis: the cursor is a destination ledger key
    * `<ledgerPrefix>:{<ledgerTag>}` (the braces hash-tag it for cluster
    * slotting), SET in the same WATCH-fenced MULTI/EXEC as the records'
    * XADDs ([[EosCommit]]). The range is read into memory UNWATCHED
    * first — holding the watch across the slow read would let any legal
    * foreign append on the destination nil the EXEC. A record lands in
    * the stream key `rename(stream):shard`.
    *
    * When sibling tasks share destination keys ([[RelaySource.sharesKeys]])
    * three things keep them from livelocking each other: a range commits
    * in sub-epochs of at most [[TxnBytes]] (whole-range transactions made
    * nil retries quadratic), at most [[SharedSlices]] tasks write one
    * node, and commits pass an adaptive per-node gate.
    */
  final case class Redis(at: RedisAt, ledgerPrefix: String,
      rename: String => String) extends RelaySink {
    private def ledger(c: Coord) = s"$ledgerPrefix:{${c.ledgerTag}}"

    def cursors(coords: Seq[Coord]): Map[Coord, Long] =
      if (coords.isEmpty) Map.empty
      else {
        val rc = at.client()
        try coords.flatMap(c =>
          Redis.cursorOf(rc.command(RedisStreams.get(ledger(c)): _*)).map(c -> _)
        ).toMap finally rc.close()
      }

    override def slices(ranges: Int, sharedKeys: Boolean): Int =
      if (sharedKeys) math.min(ranges, Redis.SharedSlices) else ranges

    def relay(src: RelaySource, r: Range, siblings: Int, cap: Long,
        faults: Faults): Long = {
      val rc = at.client()
      val led = ledger(r.coord)
      val gateKey = (at.host, at.port, ledgerPrefix)
      val buf = Vector.newBuilder[(Long, String, Long, Array[Byte])]
      var bytes = 0L
      var total = 0L
      def commit(to: Long): Unit = {
        val batch = buf.result()
        buf.clear(); bytes = 0L
        val label = s"relay ${r.coord.ledgerTag}"
        total += (
          if (src.sharesKeys) EosCommit.commitKeyed(rc, led, batch, to, label,
            faults.crashBeforeCommit, faults.raceAfterRead,
            faults.raceBeforeExec,
            // siblings' commits on shared keys nil this one at most once each
            maxNils = siblings + 5,
            nilHint = "more than the epoch's own sibling fan-out can " +
              "explain; a live foreign writer keeps touching the " +
              "destination keys or the ledger",
            // under the gate nils come only from rivals or foreign writers
            backoffStepMs = 20L, backoffCapMs = 100L,
            gate = Some(Redis.gates.computeIfAbsent((at.host, at.port),
              _ => new Object)),
            gated = () => Redis.isGateContended(gateKey),
            onNil = () => Redis.noteShipNil(gateKey),
            onApplied = () => Redis.noteShipApplied(gateKey))
          else EosCommit.commitKeyed(rc, led, batch, to, label,
            faults.crashBeforeCommit, faults.raceAfterRead,
            faults.raceBeforeExec))
      }
      try {
        // advisory: EosCommit re-reads the cursor under the watch
        val from = Redis.cursorOf(rc.command(RedisStreams.get(led): _*))
          .getOrElse(0L)
        if (from < r.until) {
          var committedTo = from
          val end = src.read(r, from, cap) { (recs, after) =>
            recs.foreach { x =>
              buf += ((x.pos, RedisStreams.shardedKey(rename(x.stream),
                x.shard, sharded = true), x.tsMs, x.payload))
              bytes += x.payload.length + 64L
            }
            if (src.sharesKeys && bytes >= Redis.TxnBytes) {
              commit(after); committedTo = after
            }
          }
          // a range that read empty still advances its cursor, fenced by
          // the same ledger WATCH
          if (end > committedTo) commit(end)
        }
        total
      } finally rc.close()
    }
  }

  object Redis {

    /** Sub-epoch bound for shared-key ranges: the conflict window, the
      * nil-retry cost, the task's buffer and the server's MULTI queue all
      * stay under this many frame bytes. */
    val TxnBytes: Long = 8L << 20

    /** Concurrent writers per node for shared-key epochs: one redis node
      * applies every EXEC on one thread, so past a handful of writers
      * extra tasks only hold WATCH windows open that nil each other
      * (measured: 32 concurrent file tasks → ~5 nils per commit at sf1,
      * 8 → near zero). Ranges beyond it run sequentially in a slice. */
    val SharedSlices = 8

    private def cursorOf(v: Resp.Value): Option[Long] = v match {
      case Resp.Bulk(bs) => Some(new String(bs, "UTF-8").toLong)
      case _ => None
    }

    /** Per-node commit gates. Shared-key commits start UNGATED: key-
      * disjoint layouts (a `.ss` dump repartitioned by (stream, shard))
      * never conflict and keep the server's parallel queue/parse. The
      * first nil proves the layout contended and serializes the WATCH →
      * EXEC sections of this JVM's tasks per (host, port, ledgerPrefix)
      * — overlapping windows on shared keys would otherwise nil each
      * other at ~4 per commit. After [[GateCalmCommits]] nil-free commits
      * the destination un-gates and re-probes. Across JVMs the gate
      * cannot reach; correctness there is still the WATCH.
      */
    private val gates = new ConcurrentHashMap[(String, Int), Object]()
    private val contended =
      new ConcurrentHashMap[(String, Int, String), java.lang.Boolean]()
    private val calm = new ConcurrentHashMap[(String, Int, String), AtomicInteger]()
    private[graft] val GateCalmCommits = 64

    private[graft] def isGateContended(key: (String, Int, String)): Boolean =
      java.lang.Boolean.TRUE.equals(contended.get(key))

    private[graft] def noteShipNil(key: (String, Int, String)): Unit = {
      contended.put(key, true)
      calm.computeIfAbsent(key, _ => new AtomicInteger).set(0)
    }

    private[graft] def noteShipApplied(key: (String, Int, String)): Unit = {
      val n = calm.computeIfAbsent(key, _ => new AtomicInteger)
      if (n.incrementAndGet() >= GateCalmCommits) {
        n.set(0)
        contended.remove(key) // re-probe the optimistic ungated path
      }
    }
  }
}
