package graft.core

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.iggy.IggyWire
import graft.kafka.KafkaWire
import graft.redis.Resp
import graft.ss.{SsFormat, SsWriter}
import org.scalatest.funsuite.AnyFunSuite

/** Byte goldens for every wire encoder: fixed inputs through each encoder,
  * compared by SHA-256 against the bytes the per-byte stream encoders
  * (`ByteArrayOutputStream`/`DataOutputStream`) produced before the codecs
  * moved to [[WireBuffer]]. A digest that moves means bytes on the wire or
  * on disk moved.
  */
class WireGoldenSpec extends AnyFunSuite {

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def streamed(f: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream
    f(out)
    out.toByteArray
  }

  private val payload = Array.tabulate[Byte](300)(i => (i * 31 + 7).toByte)

  private val kafkaRecords = Seq(
    KafkaWire.KRecord(100L, 1700000000500L, null, payload),
    KafkaWire.KRecord(101L, 1700000000400L, Array.emptyByteArray, null),
    KafkaWire.KRecord(103L, 1700000000900L, "k".getBytes(UTF_8),
      Array.emptyByteArray),
    KafkaWire.KRecord(110L, 1600000000000L, payload.take(200), payload.take(1)))

  private def encodings: Seq[(String, Array[Byte])] = {
    val kafka = Seq(
      "kafka.writer" -> new KafkaWire.Writer().i8(-3).i16(0xbeef).i32(-7)
        .i64(Long.MinValue).str("héllo").nullableStr(null)
        .nullableBytes(null).nullableBytes(payload.take(9)).raw(payload.take(3))
        .array(Seq(1, -1, 300))((w, x) => w.varint(x))
        .varint(Int.MinValue).varint(Int.MaxValue).varlong(Long.MinValue)
        .varlong(-1L).varlong(1L << 40).result(),
      "kafka.batch.txn" -> KafkaWire.encodeBatch(kafkaRecords,
        producerId = 77L, producerEpoch = 3, baseSequence = 12,
        transactional = true),
      "kafka.batch.control" -> KafkaWire.encodeControlBatch(9L,
        1700000000000L, 77L, 3, commit = true),
      "kafka.request" -> streamed(KafkaWire.writeRequest(_, 0, 3, 42,
        "client-1", payload)),
      "kafka.request.nullclient" -> streamed(KafkaWire.writeRequest(_, 18, 0,
        7, null, Array.emptyByteArray)),
      "kafka.response" -> streamed(KafkaWire.writeResponse(_, 42, payload))
    ) ++ (KafkaWire.Codec.None to KafkaWire.Codec.Zstd).map { c =>
      s"kafka.batch.codec$c" -> KafkaWire.encodeBatch(kafkaRecords, codec = c)
    }

    val iggyMessages = {
      val w = new IggyWire.Writer()
      IggyWire.writeSendMessage(w, 1700000000123L, payload)
      IggyWire.writeSendMessage(w, 0L, Array.emptyByteArray)
      IggyWire.writePolledMessage(w, 5L, 1700000000123L, payload)
      IggyWire.writePolledMessage(w, Long.MaxValue, 1L, Array.emptyByteArray)
      w.result()
    }
    val iggyBlocks = {
      val w = new IggyWire.Writer()
      IggyWire.writeStreamBase(w, IggyWire.StreamBase(1, 2L, 3, 4L, 5L, "s"))
      IggyWire.writeTopicBase(w,
        IggyWire.TopicBase(1, 2L, 3, 4, 5L, 6, 7L, 8L, "topic"))
      IggyWire.writePartitionBlock(w,
        IggyWire.PartitionBlock(1, 2L, 3, 4L, 5L, 6L))
      IggyWire.writeConsumerOffsetInfo(w,
        IggyWire.ConsumerOffsetInfo(1, 2L, 3L))
      IggyWire.writeGroupDetails(w, IggyWire.GroupDetails(1, 4, "g",
        Seq(IggyWire.GroupMember(0xfffffffeL, Seq(1, 3)))))
      IggyWire.writeClientInfo(w,
        IggyWire.ClientInfo(9L, 1L, 1, "127.0.0.1:5", Seq((1, 2, 3))))
      w.result()
    }
    val iggy = Seq(
      "iggy.writer" -> new IggyWire.Writer().u8(-1).u32(0x01020304)
        .u64(Long.MinValue).u128(-2L, 3L).str("naïve").lstr("ctx")
        .identifier("stream").identifierNum(7L).consumer(0, "")
        .consumer(1, "grp").bytes(payload.take(5)).raw(payload.take(2))
        .result(),
      "iggy.messages" -> iggyMessages,
      "iggy.blocks" -> iggyBlocks,
      "iggy.request" -> streamed(IggyWire.writeRequest(_, 101, payload)),
      "iggy.response" -> streamed(IggyWire.writeResponse(_, 1010,
        Array.emptyByteArray)))

    val resp = Seq(
      "resp.command" -> Resp.encodeCommand(Seq("XADD".getBytes(UTF_8),
        Array.emptyByteArray, payload, "1700000000000-0".getBytes(UTF_8))),
      "resp.commandS" -> Resp.encodeCommandS("SET", "k", "v"),
      "resp.value" -> Resp.encodeValue(Resp.Arr(Seq(
        Resp.Simple("OK"), Resp.Err("ERR wrong"), Resp.Num(0L),
        Resp.Num(-1L), Resp.Num(Long.MinValue), Resp.Num(Long.MaxValue),
        Resp.Bulk(payload), Resp.Bulk(Array.emptyByteArray), Resp.NullBulk,
        Resp.NullArr, Resp.Arr(Nil),
        Resp.Arr(Seq(Resp.Simple("é"), Resp.Num(1234567890L)))))))

    def msg(key: String, i: Int, p: Array[Byte]) =
      SeaMessage(key, (i % 3).toLong, i.toLong, new Timestamp(1700000000000L + i), p)
    val ssFile = streamed { out =>
      val w = new SsWriter(out, "golden.ss", 256, 1700000000000L)
      (0 until 40).foreach(i =>
        w.write(msg(if (i % 2 == 0) "alpha" else "beta", i, payload.take(i * 7))))
      // endOfStream's frame, at a fixed time
      w.write(SeaMessage(Envelope.SeaStreamerInternal, 0, 0,
        new Timestamp(1700000009999L), SsFormat.EosPayload.getBytes(UTF_8)))
      w.close()
    }
    val ss = Seq(
      "ss.header" -> SsFormat.encodeHeader(
        SsFormat.SsHeader("golden.ss", 1700000000000L, 1024)),
      "ss.message" -> SsFormat.encodeMessage(msg("stream.é", 5, payload))._1,
      "ss.message.null" -> SsFormat.encodeMessage(msg("k", 1, null))._1,
      "ss.beacon" -> SsFormat.encodeBeacon(SsFormat.Beacon(77, Seq(
        SsFormat.Marker("alpha", 1L, 2L, 3L, 0xabcd),
        SsFormat.Marker("beta", -1L, Long.MaxValue, 0L, 0)))),
      "ss.file" -> ssFile)

    kafka ++ iggy ++ resp ++ ss
  }

  private val expected: Map[String, String] = Map(
    "iggy.blocks" -> "2200eae9cf5ff250db66e6721e6360ea1ccbae0d56671a95602a3c750454ef72",
    "iggy.messages" -> "dc345449d7a2f65fd07356ee6e124f4fbf462980f794d199af6b548af6be765b",
    "iggy.request" -> "b80fbdc929aa7e8ef5c9d250eca201fcb65a519bf3e68a98f342c9928fac4d7c",
    "iggy.response" -> "00e4d88efafcbf66637f6102466cb82c83f060d6d72cafbf8d8603b81c582576",
    "iggy.writer" -> "afb2a9ada4d39ae020641ecf5e7104cb6c803211e2369810268069de2dc868cc",
    "kafka.batch.codec0" -> "494712873d16132a570cd191320e48a104acd0f2ba21be2cfa796b7c9e0c7fd2",
    "kafka.batch.codec1" -> "d7b1c9b0afeb570ed2311fd7c0fb1d507511e0aa31f428b4732fda691ebff4ff",
    "kafka.batch.codec2" -> "c9aad9ee808e4397950b7d99379f82145ce3cf5cc2fcbd94983c0f1daa02e167",
    "kafka.batch.codec3" -> "01ac6b55ad5b2daaa4eaff6aabc89b3c08e1e03544e07b0daa9eac6e299e83ec",
    "kafka.batch.codec4" -> "8226553ef32c600c3e8d635c5446df4461aa5145c6dea2c040c15adf4a5c7cb1",
    "kafka.batch.control" -> "b874157daf025fe86643fe7f2ecb2ac54454485e029de1a7f0d1315afacca616",
    "kafka.batch.txn" -> "d45e615adf9323c3d0be3935a2ae7e3b7a11b635ad4afb1304840da040e79af4",
    "kafka.request" -> "fb5c297eec9d1762474cdcd0d3df89935be2d0878ba6cdbe61887a442a5dc980",
    "kafka.request.nullclient" -> "b8a593be91bc8ab981c76771c713315b60e05e327c1909822edf98c8d475e343",
    "kafka.response" -> "83257644bdd802098965f8f881b41db30aa948742d35a5273685d18ba59b4e16",
    "kafka.writer" -> "715977076987d523a1444ecf6cb920e363901a291f899f62f4f483ecb445d6e7",
    "resp.command" -> "be014659aad554880ab7c92bec867db84a6830815bb52f23ed21cdc6db0fbf13",
    "resp.commandS" -> "b172068f9082df17c7edf56b225db61bf0070a9a99039cb16c1357f4d7f4c4e1",
    "resp.value" -> "f442df22c176e7df85ce81d2149ffe97d996b13432e7a766981a82beae88a18b",
    "ss.beacon" -> "a29a484677b11ebeee2679ca1ff8a935c2b2330f8f38206591e97c3ca23d4013",
    "ss.file" -> "d0379256ed550384a43c268672cfa72ded848d3931eaed9143fbafb5dcbd9b91",
    "ss.header" -> "2dde3abda7be3e82f7cb8bfd95b2d820667ef0bc006042460a0b99f4507131af",
    "ss.message" -> "815ce468782ef2b825858f860e0116cbd4b6ff9a1aa64443ec909f9cdfd863d3",
    "ss.message.null" -> "23dbdea9ace73c2ed37c51e5706e0c1fb23ba09888c960bf2407b635dcef5662")

  test("every encoder writes the same bytes as the stream-based encoders did") {
    val actual = encodings.map { case (k, b) => k -> sha(b) }.toMap
    assert(actual.keySet == expected.keySet && actual == expected,
      "\n" + actual.toSeq.sorted.map { case (k, v) => s""""$k" -> "$v",""" }
        .mkString("\n"))
  }

  test("the golden .ss file reads back whole") {
    val ss = encodings.toMap.apply("ss.file")
    val path = java.nio.file.Files.createTempFile("golden", ".ss")
    java.nio.file.Files.write(path, ss)
    val r = graft.ss.SsReader.open(path.toString)
    try {
      val got = r.iterator.toVector
      assert(got.map(_.message.sequence) == (0L until 40L))
      assert(got.forall(g => java.util.Arrays.equals(g.message.payload,
        payload.take(g.message.sequence.toInt * 7))))
      assert(r.isEos && !r.isTruncated)
    } finally { r.close(); java.nio.file.Files.delete(path) }
  }
}
