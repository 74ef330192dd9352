package graft.iggy

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for iggy message frames: send and polled messages
  * round-trip through one shared frame, and any single-bit flip in a
  * polled message's payload or checksum is the checksum `IOException`.
  * (Plain ScalaCheck generators driven by fixed seeds, like
  * RespPropertySpec.)
  */
class IggyWirePropertySpec extends AnyFunSuite {

  private final case class Msg(offset: Long, tsMs: Long, payload: Array[Byte])

  private val msgGen: Gen[Msg] = for {
    offset <- Gen.chooseNum(0L, Long.MaxValue)
    ts <- Gen.chooseNum(0L, 4000000000000L)
    n <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.chooseNum(1, 400))
    payload <- Gen.listOfN(n, Arbitrary.arbitrary[Byte])
  } yield Msg(offset, ts, payload.toArray)

  private def batches(n: Int, seed: Long): Seq[List[Msg]] =
    (1 to n).flatMap(i => Gen.nonEmptyListOf(msgGen)
      .apply(Gen.Parameters.default, Seed(i * seed)))

  test("send-message frames round-trip") {
    batches(100, 7919L).foreach { msgs =>
      val w = new IggyWire.Writer()
      msgs.foreach(m => IggyWire.writeSendMessage(w, m.tsMs, m.payload))
      val r = new IggyWire.Reader(w.result())
      msgs.foreach { m =>
        val (ts, payload) = IggyWire.readSendMessage(r)
        assert(ts == m.tsMs && java.util.Arrays.equals(payload, m.payload))
      }
      assert(r.remaining == 0)
    }
  }

  test("polled-message frames round-trip") {
    batches(100, 104729L).foreach { msgs =>
      val w = new IggyWire.Writer()
      msgs.foreach(m => IggyWire.writePolledMessage(w, m.offset, m.tsMs, m.payload))
      val r = new IggyWire.Reader(w.result())
      msgs.foreach { m =>
        val got = IggyWire.readPolledMessage(r)
        assert(got.offset == m.offset && got.tsMs == m.tsMs &&
          java.util.Arrays.equals(got.payload, m.payload))
      }
      assert(r.remaining == 0)
    }
  }

  /** Polled layout: offset 8, state 1, timestamp 8, id 16, then the u32
    * checksum, u32 headers length, u32 payload length and the payload.
    */
  private val ChecksumAt = 8 + 1 + 8 + 16
  private val PayloadAt = ChecksumAt + 4 + 4 + 4

  test("a flip in a polled payload or checksum is the checksum IOException") {
    batches(20, 15485863L).flatten.filter(_.payload.length <= 64).foreach { m =>
      val w = new IggyWire.Writer()
      IggyWire.writePolledMessage(w, m.offset, m.tsMs, m.payload)
      val frame = w.result()
      val hits = (ChecksumAt until ChecksumAt + 4) ++ (PayloadAt until frame.length)
      for (at <- hits; bit <- 0 until 8) {
        val bad = frame.clone()
        bad(at) = (bad(at) ^ (1 << bit)).toByte
        val e = intercept[java.io.IOException](
          IggyWire.readPolledMessage(new IggyWire.Reader(bad)))
        assert(e.getMessage.contains("checksum mismatch"), s"flip at $at")
      }
    }
  }
}
