package perfbench

import java.io.ByteArrayInputStream
import java.sql.Timestamp

import graft.core.SeaMessage
import graft.iggy.{EmbeddedIggy, IggyClient, IggyWire}
import graft.kafka.{EmbeddedKafka, KafkaClient, KafkaWire}
import graft.redis.{EmbeddedRedis, RedisClient, RedisStreams, Resp}
import graft.ss.SsFormat

/** The traced-only phases that price the lower layers alone: each wire
  * codec in memory, then each socket client against its embedded broker
  * with no Spark. Every phase moves the same seeded messages as its
  * workload, on 4 shards.
  */
object Layers {

  /** Message shape of a workload: how many, how big, and the fetch size
    * its consumers use (small fetches for streaming, bulk for transport).
    */
  final case class Shape(messages: Int, payloadBytes: Int, fetchBytes: Int)

  val Shards = 4
  private val Chunk = 500
  private val CodecRounds = 3

  /** Keeps encoded output observable so the JIT cannot drop the work. */
  @volatile private var sunk = 0L
  private def sink(bytes: Int): Unit = sunk += bytes

  private def payloads(seed: Long, n: Int, size: Int): Array[Array[Byte]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n) { val b = new Array[Byte](size); rnd.nextBytes(b); b }
  }

  def run(s: Settings, tr: Tracer, r: Report, shape: Shape): Unit = {
    val msgs = payloads(s.seed ^ 0x5eedL, shape.messages, shape.payloadBytes)
    r.values("layer_payload_bytes") = shape.payloadBytes.toDouble
    tr.span("codec")(codecs(tr, r, msgs))
    tr.span("client")(clients(tr, r, msgs, shape.fetchBytes))
  }

  /** Repeats one in-memory codec pass and keeps the median round. */
  private def codecCell(tr: Tracer, r: Report, name: String, n: Long)(
      f: => Long): Unit =
    for (i <- 0 until CodecRounds) {
      val got = tr.span(name)(r.timed("codec", name, i, n)(f))
      r.check(got == n, s"$name round $i handled $got of $n messages")
    }

  private def chunks(msgs: Array[Array[Byte]]): Iterator[(Array[Array[Byte]], Int)] =
    msgs.grouped(Chunk).zipWithIndex

  private def codecs(tr: Tracer, r: Report, msgs: Array[Array[Byte]]): Unit = {
    val n = msgs.length.toLong
    // kafka: v2 record batches with CRC32C
    val kafkaBatches = chunks(msgs).map { case (c, i) =>
      KafkaWire.encodeBatch(c.toIndexedSeq.zipWithIndex.map { case (p, j) =>
        KafkaWire.KRecord(j.toLong, 1700000000000L + i * Chunk + j, null, p)
      })
    }.toArray
    codecCell(tr, r, "kafka.wire.encode", n) {
      chunks(msgs).map { case (c, i) =>
        sink(KafkaWire.encodeBatch(c.toIndexedSeq.zipWithIndex.map { case (p, j) =>
          KafkaWire.KRecord(j.toLong, 1700000000000L + i * Chunk + j, null, p)
        }).length)
        c.length.toLong
      }.sum
    }
    codecCell(tr, r, "kafka.wire.decode", n) {
      kafkaBatches.map(b => KafkaWire.decodeBatches(b).length.toLong).sum
    }
    // redis: XADD commands as RESP arrays, parsed back from a stream
    val respBlobs = chunks(msgs).map { case (c, i) =>
      val out = new java.io.ByteArrayOutputStream
      c.zipWithIndex.foreach { case (p, j) =>
        out.write(Resp.encodeCommand(RedisStreams.xadd(
          s"bench:${j % Shards}", 1700000000000L + i * Chunk + j, p)))
      }
      (out.toByteArray, c.length)
    }.toArray
    codecCell(tr, r, "redis.resp.encode", n) {
      chunks(msgs).map { case (c, i) =>
        c.zipWithIndex.foreach { case (p, j) =>
          sink(Resp.encodeCommand(RedisStreams.xadd(
            s"bench:${j % Shards}", 1700000000000L + i * Chunk + j, p)).length)
        }
        c.length.toLong
      }.sum
    }
    codecCell(tr, r, "redis.resp.parse", n) {
      respBlobs.map { case (blob, count) =>
        val in = Resp.buffered(new ByteArrayInputStream(blob))
        var k = 0L
        while (k < count) { Resp.parse(in); k += 1 }
        k
      }.sum
    }
    // iggy: SendMessages encode (producer side), CRC-checked polled-message
    // decode (consumer side)
    codecCell(tr, r, "iggy.wire.encode", n) {
      chunks(msgs).map { case (c, i) =>
        val w = new IggyWire.Writer()
        c.zipWithIndex.foreach { case (p, j) =>
          IggyWire.writeSendMessage(w, 1700000000000L + i * Chunk + j, p)
        }
        sink(w.result().length)
        c.length.toLong
      }.sum
    }
    val polled = chunks(msgs).map { case (c, i) =>
      val w = new IggyWire.Writer()
      c.zipWithIndex.foreach { case (p, j) =>
        IggyWire.writePolledMessage(w, (i * Chunk + j).toLong,
          1700000000000L + i * Chunk + j, p)
      }
      (w.result(), c.length)
    }.toArray
    codecCell(tr, r, "iggy.wire.decode", n) {
      polled.map { case (blob, count) =>
        val rd = new IggyWire.Reader(blob)
        var k = 0L
        while (k < count) { IggyWire.readPolledMessage(rd); k += 1 }
        k
      }.sum
    }
    // .ss: message frames with CRC16
    def ssMessage(i: Int, p: Array[Byte]) = SeaMessage("bench", (i % Shards).toLong,
      i.toLong, new Timestamp(1700000000000L + i), p)
    val frames = {
      val out = new java.io.ByteArrayOutputStream
      msgs.zipWithIndex.foreach { case (p, i) => out.write(SsFormat.encodeMessage(ssMessage(i, p))._1) }
      out.toByteArray
    }
    codecCell(tr, r, "ss.format.encode", n) {
      var k = 0L
      msgs.zipWithIndex.foreach { case (p, i) =>
        sink(SsFormat.encodeMessage(ssMessage(i, p))._1.length); k += 1
      }
      k
    }
    codecCell(tr, r, "ss.format.decode", n) {
      val rd = new SsFormat.ByteReader {
        private var pos = 0
        def readByte(): Int = {
          if (pos >= frames.length) throw new java.io.EOFException
          val b = frames(pos) & 0xff; pos += 1; b
        }
      }
      var k = 0L
      while (k < n) { SsFormat.decodeMessage(rd); k += 1 }
      k
    }
  }

  private def clients(tr: Tracer, r: Report, msgs: Array[Array[Byte]],
      fetchBytes: Int): Unit = {
    val n = msgs.length.toLong
    def cell(name: String)(f: => Long): Unit = {
      val got = tr.span(name)(r.timed("client", name, 0, n)(f))
      r.check(got == n, s"$name moved $got of $n messages")
    }
    val byShard = msgs.zipWithIndex.groupBy(_._2 % Shards).toSeq.sortBy(_._1)

    val kafka = new EmbeddedKafka
    val kc = new KafkaClient(kafka.host, kafka.port)
    try {
      kc.metadata(Seq("layer"))
      cell("kafka.client.produce") {
        byShard.map { case (p, ms) =>
          ms.grouped(Chunk).foreach { c =>
            kc.produce("layer", p, c.toSeq.map { case (b, i) =>
              (1700000000000L + i, null: Array[Byte], b)
            })
          }
          ms.length.toLong
        }.sum
      }
      cell("kafka.client.fetch") {
        (0 until Shards).map { p =>
          var off = 0L
          var got = 0L
          var end = Long.MaxValue
          while (off < end) {
            val (hw, recs) = kc.fetch("layer", p, off, fetchBytes)
            end = hw
            got += recs.length
            if (recs.nonEmpty) off = recs.last.offset + 1 else end = off
          }
          got
        }.sum
      }
    } finally { kc.close(); kafka.close() }

    val redis = new EmbeddedRedis
    val rc = new RedisClient(redis.host, redis.port)
    try {
      cell("redis.client.xadd") {
        byShard.map { case (p, ms) =>
          ms.grouped(Chunk).foreach { c =>
            rc.pipeline(c.toSeq.map { case (b, i) =>
              RedisStreams.xadd(s"layer:$p", 1700000000000L + i, b)
            })
          }
          ms.length.toLong
        }.sum
      }
      cell("redis.client.xread") {
        (0 until Shards).map { p =>
          var start = "-"
          var got = 0L
          var done = false
          while (!done) {
            rc.command(RedisStreams.xrange(s"layer:$p", start, "+",
              Some(1000)): _*) match {
              case Resp.Arr(items) if items.nonEmpty =>
                got += items.length
                val Resp.Arr(Seq(Resp.Bulk(id), _)) = items.last
                start = "(" + new String(id, "UTF-8")
              case _ => done = true
            }
          }
          got
        }.sum
      }
    } finally { rc.close(); redis.close() }

    val iggy = new EmbeddedIggy
    val ic = new IggyClient(iggy.host, iggy.port)
    try {
      ic.createStreamIfAbsent("perf")
      ic.createTopicIfAbsent("perf", "layer", Shards)
      cell("iggy.client.send") {
        byShard.map { case (p, ms) =>
          ms.grouped(Chunk).foreach { c =>
            ic.sendMessages("perf", "layer",
              IggyWire.Partitioning.PartitionId(p),
              c.toSeq.map { case (b, i) => (1700000000000L + i, b) })
          }
          ms.length.toLong
        }.sum
      }
      cell("iggy.client.poll") {
        (0 until Shards).map { p =>
          var off = 0L
          var got = 0L
          var done = false
          while (!done) {
            val (_, ms) = ic.pollMessages("perf", "layer", p,
              IggyWire.PollStrategy.AtOffset(off),
              math.max(1, fetchBytes / 300))
            if (ms.isEmpty) done = true
            else { got += ms.length; off = ms.last.offset + 1 }
          }
          got
        }.sum
      }
    } finally { ic.close(); iggy.close() }
  }
}
