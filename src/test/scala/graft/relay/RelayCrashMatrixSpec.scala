package graft.relay

import java.io.FileOutputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SeaMessage
import graft.facade.SeaStreamer
import graft.iggy.{EmbeddedIggy, IggyClient}
import graft.iggy.IggyWire.Partitioning
import graft.kafka.{EmbeddedKafka, KafkaTxnProducer}
import graft.ops.Failpoints
import graft.redis.{EmbeddedRedis, RedisStreams}
import graft.ss.SsWriter

/** Every relay corner (4 sources × 2 sinks) under every failpoint of its
  * sink — kafka: a crash before the commit and a rival `initTransactions`
  * of the same transactional id after the fence; redis: a crash before
  * EXEC, a rival incarnation committing the same range after the cursor
  * read, and a foreign write on the destination key just before EXEC.
  * The faulted epoch runs first, then the relay drains; the destination
  * must hold exactly one copy (count and CRC sum of the payloads), the
  * durable resume point must sit at the source's end under its
  * documented name, and `relayLag` must read drained everywhere.
  */
class RelayCrashMatrixSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private val N = 12
  private val Stream = "mx"
  private val Out = "mx_out"
  private val Foreign = "foreign"

  private def payload(i: Int): Array[Byte] = s"mx-$i".getBytes("UTF-8")

  private def crc(bs: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32
    c.update(bs)
    c.getValue
  }

  private val expected = (N.toLong, (0 until N).map(i => crc(payload(i))).sum)

  /** The brokers and the seeded source of one case. */
  private final class World(val src: String, val dst: String)
      extends AutoCloseable {
    val kafka: Option[EmbeddedKafka] =
      if (src == "kafka" || dst == "kafka") Some(new EmbeddedKafka) else None
    val redis: Option[EmbeddedRedis] =
      if (src == "redis" || dst == "redis") Some(new EmbeddedRedis) else None
    val iggy: Option[EmbeddedIggy] =
      if (src == "iggy") Some(new EmbeddedIggy) else None
    val dir: String = Files.createTempDirectory("mx").toFile.getAbsolutePath
    def kafkaAt: KafkaAt = KafkaAt(kafka.get.host, kafka.get.port)
    def redisAt: RedisAt = RedisAt(redis.get.host, redis.get.port)

    // the source holds N records on one coordinate
    src match {
      case "kafka" =>
        val kc = kafkaAt.client()
        try (0 until N).foreach(i =>
          kc.produce(Stream, 0, Seq((1000L + i, null, payload(i)))))
        finally kc.close()
      case "redis" =>
        val rc = redisAt.client()
        try (0 until N).foreach(i => rc.command(RedisStreams.xadd(
          RedisStreams.shardedKey(Stream, 0L, sharded = true), 1000L + i,
          payload(i)): _*))
        finally rc.close()
      case "iggy" =>
        val ic = new IggyClient(iggy.get.host, iggy.get.port)
        try {
          ic.createStreamIfAbsent("graft")
          ic.createTopicIfAbsent("graft", Stream, 1)
          (0 until N).foreach(i => ic.sendMessages("graft", Stream,
            Partitioning.PartitionId(0), Seq((1000L + i, payload(i)))))
        } finally ic.close()
      case "ss" =>
        val w = new SsWriter(new FileOutputStream(s"$dir/part-0.ss"),
          "part-0.ss", 1024, 0L)
        (0 until N).foreach(i => w.write(SeaMessage(Stream, 0L, i.toLong,
          new java.sql.Timestamp(1000L + i), payload(i))))
        w.close()
    }
    if (dst == "kafka") {
      val kc = kafkaAt.client()
      try kc.metadata(Seq(Out)) finally kc.close()
    }

    val source: RelaySource = src match {
      case "kafka" => RelaySource.Kafka(kafkaAt, Seq(Stream))
      case "redis" => RelaySource.Redis(redisAt, Seq((Stream, 0L)))
      case "iggy" => RelaySource.Iggy(IggyAt(iggy.get.host, iggy.get.port),
        Seq(Stream))
      case "ss" => RelaySource.Ss(Seq(s"$dir/part-0.ss"))
    }

    /** Per-epoch bound: about a third of the source per epoch. */
    val cap: Long = if (src == "ss") 120L else 4L

    /** The coordinate and the cursor it must reach once drained. */
    val (coord, end): (Coord, Long) = src match {
      case "redis" => (Coord(Stream, 0L),
        RedisStreams.packSeqNo(1000L + N - 1, 0L) + 1L)
      case "ss" => (Coord("part-0.ss", 0L, file = true),
        new java.io.File(s"$dir/part-0.ss").length())
      case _ => (Coord(Stream, 0L), N.toLong)
    }

    def sink(anchor: String): RelaySink = {
      val out = Out // a local: the rename ships to Spark tasks
      if (dst == "kafka") RelaySink.Kafka(kafkaAt, anchor, s"$anchor-txn", _ => out)
      else RelaySink.Redis(redisAt, anchor, _ => out)
    }

    def conn(end: String): SeaStreamer.Connection = SeaStreamer.connect(
      end match {
        case "kafka" => s"kafka://${kafka.get.host}:${kafka.get.port}"
        case "redis" => s"redis://${redis.get.host}:${redis.get.port}"
        case "iggy" => s"iggy://${iggy.get.host}:${iggy.get.port}"
        case "ss" => s"file://$dir"
      }, spark)

    /** (count, CRC sum) of the relayed payloads at the destination. */
    def landed(): (Long, Long) = {
      val got = if (dst == "kafka") {
        val kc = kafkaAt.client()
        try kc.metadata(Seq(Out))(Out).flatMap(p =>
          kc.fetchIso(Out, p, 0L, readCommitted = true)._3.map(_.value))
        finally kc.close()
      } else redis.get.entries(RedisStreams.shardedKey(Out, 0L, sharded = true))
        .map(_._2.head._2)
      val relayed = got.filterNot(p => new String(p, "UTF-8") == Foreign)
      (relayed.size.toLong, relayed.map(crc).sum)
    }

    /** The durable resume point, read under its documented name. */
    def cursor(anchor: String): Option[Long] =
      if (dst == "kafka") {
        val kc = kafkaAt.client()
        try {
          kc.findCoordinator(anchor)
          kc.fetchOffsets(anchor, Map(coord.name -> Seq(coord.part.toInt)))
            .get((coord.name, coord.part.toInt))
        } finally kc.close()
      } else redis.get.kvGet(s"$anchor:{${coord.ledgerTag}}")
        .map(new String(_, "UTF-8").toLong)

    def close(): Unit = {
      kafka.foreach(_.close()); redis.foreach(_.close()); iggy.foreach(_.close())
    }
  }

  private val sinkFaults = Map(
    "kafka" -> Seq("crashBeforeCommit", "raceAfterFence"),
    "redis" -> Seq("crashBeforeCommit", "raceAfterRead", "raceBeforeExec"))

  private val cases = for {
    src <- Seq("kafka", "redis", "iggy", "ss")
    dst <- Seq("kafka", "redis")
    fault <- sinkFaults(dst)
  } yield (src, dst, fault)

  test("the matrix is 8 corners × each sink's failpoints = 20 cases") {
    assert(cases.size == 20)
  }

  cases.zipWithIndex.foreach { case ((src, dst, fault), i) =>
    test(s"crash matrix: $src→$dst under $fault lands exactly one copy") {
      val w = new World(src, dst)
      try {
        val anchor = s"mx$i"
        val sink = w.sink(anchor)
        val token = s"mx-$i-$fault"
        var fired = false
        val ranges = EosRelay.plan(w.source, sink, w.cap)
        assert(ranges.map(_.coord) == Seq(w.coord), s"plan: $ranges")
        def epoch(f: Faults): Long =
          EosRelay.run(spark, w.source, sink, ranges, w.cap, f)
        fault match {
          case "crashBeforeCommit" =>
            Failpoints.arm(token)
            intercept[Exception](epoch(Faults(crashBeforeCommit = Some(token))))
            fired = !Failpoints.armed(token)
            assert(w.landed() == ((0L, 0L)), "a crashed epoch leaked records")
            assert(w.cursor(anchor).isEmpty, "a crashed epoch moved the cursor")
          case "raceAfterFence" =>
            // a rival incarnation of the same transactional id fences the
            // task between its cursor read and its first send
            Failpoints.armHook(token) { () =>
              val kc = w.kafkaAt.client()
              try new KafkaTxnProducer(kc, s"$anchor-txn-${w.coord.txnTag}")
                .initTransactions()
              finally kc.close()
              fired = true
            }
            assert(epoch(Faults(raceAfterFence = Some(token))) > 0L)
          case "raceAfterRead" =>
            // a rival incarnation relays the same range between the task's
            // watched cursor read and its EXEC: the EXEC nils, the retry
            // finds the range landed
            Failpoints.armHook(token) { () =>
              ranges.foreach(r => sink.relay(w.source, r, 1, w.cap, Faults()))
              fired = true
            }
            epoch(Faults(raceAfterRead = Some(token)))
          case "raceBeforeExec" =>
            // a foreign producer appends to the watched destination key
            // with the MULTI queued
            Failpoints.armHook(token) { () =>
              val rc = w.redisAt.client()
              try rc.command(RedisStreams.xadd(
                RedisStreams.shardedKey(Out, 0L, sharded = true), 1L << 40,
                Foreign.getBytes("UTF-8")): _*)
              finally rc.close()
              fired = true
            }
            assert(epoch(Faults(raceBeforeExec = Some(token))) > 0L)
        }
        assert(fired, s"the $fault failpoint never fired")
        EosRelay.relayAll(spark, w.source, sink, w.cap)
        assert(w.landed() == expected,
          s"$src→$dst under $fault: (count, crc sum) ${w.landed()}, " +
            s"expected $expected")
        assert(w.cursor(anchor).contains(w.end),
          s"cursor ${w.cursor(anchor)} under ${w.coord}, expected ${w.end}")
        if (dst == "kafka") {
          // the transactional id `<prefix>-<txnTag>` already exists: a
          // fresh init bumps its epoch past the first
          val kc = w.kafkaAt.client()
          try assert(new KafkaTxnProducer(kc, s"$anchor-txn-${w.coord.txnTag}")
            .initTransactions().producerEpoch > 0)
          finally kc.close()
        }
        val lag = SeaStreamer.relayLag(w.conn(src), w.conn(dst),
          Seq(if (src == "ss") "*" else Stream), anchor, redisShards = 1)
        assert(lag.contains((w.coord.name, w.coord.part)) &&
          lag.values.forall(_.drained), s"relayLag after the drain: $lag")
      } finally w.close()
    }
  }

  test("a planned redis range that reads empty (trimmed after planning) " +
      "still advances the cursor: an offsets-only kafka transaction, an " +
      "advance-only redis commit") {
    Seq("kafka", "redis").foreach { dst =>
      val w = new World("redis", dst)
      try {
        val anchor = s"mxe-$dst"
        val sink = w.sink(anchor)
        val ranges = EosRelay.plan(w.source, sink, w.cap)
        val rc = w.redisAt.client()
        try rc.command(RedisStreams.xtrimMaxLen(
          RedisStreams.shardedKey(Stream, 0L, sharded = true), 0L): _*)
        finally rc.close()
        assert(EosRelay.run(spark, w.source, sink, ranges, w.cap) == 0L)
        assert(w.cursor(anchor).contains(ranges.head.until),
          s"$dst: cursor ${w.cursor(anchor)}, expected ${ranges.head.until}")
        assert(EosRelay.plan(w.source, sink, w.cap).isEmpty)
      } finally w.close()
    }
  }
}
