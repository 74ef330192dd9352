package graft.kafka

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import KafkaWire.{Batch, BatchInfo, KRecord}

/** Property tests for v2 record batches: any batch round-trips through
  * encode/decode with its header bits, and no single-bit flip or
  * truncation of an encoded record set escapes as anything but a decode,
  * a dropped trailing batch or an `IllegalArgumentException`. (Plain
  * ScalaCheck generators driven by fixed seeds, like RespPropertySpec.)
  */
class KafkaWirePropertySpec extends AnyFunSuite {

  private def bytesGen(max: Int): Gen[Array[Byte]] =
    Gen.chooseNum(0, max).flatMap(n => Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
      .map(_.toArray)

  /** null (a third), empty, or random bytes. */
  private def fieldGen(max: Int): Gen[Array[Byte]] =
    Gen.frequency(2 -> Gen.const(null), 1 -> Gen.const(Array.emptyByteArray),
      3 -> bytesGen(max))

  private final case class Spec(records: Seq[KRecord], codec: Int,
      producerId: Long, producerEpoch: Int, baseSequence: Int,
      transactional: Boolean, control: Boolean) {
    def encode: Array[Byte] = KafkaWire.encodeBatch(records, codec, producerId,
      producerEpoch, baseSequence, transactional, control)
  }

  private def specGen(maxRecords: Int, maxBytes: Int): Gen[Spec] = for {
    n <- Gen.chooseNum(1, maxRecords)
    base <- Gen.chooseNum(0L, 1L << 40)
    gaps <- Gen.listOfN(n, Gen.chooseNum(1, 5))
    baseTs <- Gen.chooseNum(0L, 2000000000000L)
    // deltas of either sign: later records may carry earlier timestamps
    tsDeltas <- Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L))
    keys <- Gen.listOfN(n, fieldGen(maxBytes / 4))
    values <- Gen.listOfN(n, fieldGen(maxBytes))
    codec <- Gen.chooseNum(KafkaWire.Codec.None, KafkaWire.Codec.Zstd)
    pid <- Gen.chooseNum(-1L, Long.MaxValue)
    epoch <- Gen.chooseNum(-1, Short.MaxValue.toInt)
    seq <- Gen.chooseNum(-1, Int.MaxValue)
    txn <- Arbitrary.arbitrary[Boolean]
    control <- Gen.frequency(3 -> false, 1 -> true)
  } yield {
    val offsets = gaps.scanLeft(base)(_ + _).tail
    val recs = offsets.indices.map { i =>
      KRecord(offsets(i), if (i == 0) baseTs else baseTs + tsDeltas(i),
        keys(i), values(i))
    }
    Spec(recs, codec, pid, epoch, seq, txn, control)
  }

  private def specs(n: Int, seed: Long, maxRecords: Int, maxBytes: Int): Seq[Spec] =
    (1 to n).flatMap(i => specGen(maxRecords, maxBytes)
      .apply(Gen.Parameters.default, Seed(i * seed)))

  private def sameRecords(a: Seq[KRecord], b: Seq[KRecord]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.offset == y.offset && x.tsMs == y.tsMs &&
        java.util.Arrays.equals(x.key, y.key) &&
        java.util.Arrays.equals(x.value, y.value)
    }

  private def sameBatches(a: Seq[BatchInfo], b: Seq[BatchInfo]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.copy(records = Nil) == y.copy(records = Nil) &&
        sameRecords(x.records, y.records)
    }

  test("decodeBatchesInfo inverts encodeBatch, header bits included") {
    specs(300, 7919L, 12, 300).foreach { s =>
      val Seq(info) = KafkaWire.decodeBatchesInfo(s.encode)
      val key = s.records.head.key
      val controlType =
        if (!s.control || key == null || key.length < 4) -1
        else ((key(2) & 0xff) << 8 | (key(3) & 0xff)).toShort.toInt
      assert(info.baseOffset == s.records.head.offset)
      assert(info.lastOffset == s.records.last.offset)
      assert(info.producerId == s.producerId &&
        info.producerEpoch == s.producerEpoch &&
        info.baseSequence == s.baseSequence)
      assert(info.codec == s.codec && info.transactional == s.transactional &&
        info.control == s.control && info.controlType == controlType)
      assert(sameRecords(info.records, s.records), s)
      assert(sameRecords(KafkaWire.decodeBatches(s.encode),
        if (s.control) Nil else s.records))
    }
  }

  /** Decode a damaged record set, allowing only the three outcomes. */
  private def decodeDamaged(bytes: Array[Byte]): Option[Seq[BatchInfo]] =
    try Some(KafkaWire.decodeBatchesInfo(bytes))
    catch { case _: IllegalArgumentException => None }

  test("every bit flip decodes, drops the trailing batch, or is refused") {
    val sets = specs(24, 104729L, 3, 24).grouped(2).map(_.map(_.encode)).toSeq
    val outcomes = Future {
      var refused = 0
      sets.foreach { batches =>
        val bytes = batches.reduce(_ ++ _)
        val clean = KafkaWire.decodeBatchesInfo(bytes)
        val starts = batches.scanLeft(0)(_ + _.length).init
        for (at <- bytes.indices; bit <- 0 until 8) {
          val bad = bytes.clone()
          bad(at) = (bad(at) ^ (1 << bit)).toByte
          val k = starts.lastIndexWhere(_ <= at) // the batch hit
          val field = at - starts(k)
          decodeDamaged(bad) match {
            case None => refused += 1
            case Some(got) if got.size == clean.size =>
              // only the fields the v2 CRC does not cover may move
              assert(field < Batch.Length ||
                (field >= Batch.LeaderEpoch && field < Batch.Magic),
                s"flip at $at (field byte $field) decoded unnoticed")
              assert(got.zip(clean).zipWithIndex.forall { case ((g, c), j) =>
                j == k || sameBatches(Seq(g), Seq(c)) })
            case Some(got) =>
              // a longer batchLength reads as a truncated trailing batch
              assert(field >= Batch.Length && field < Batch.LeaderEpoch &&
                got.size == k && sameBatches(got, clean.take(k)),
                s"flip at $at (field byte $field) lost batches")
          }
        }
      }
      refused
    }
    assert(Await.result(outcomes, 5.minutes) > 0)
  }

  test("every truncation decodes exactly the whole batches before the cut") {
    specs(24, 15485863L, 3, 40).grouped(3).map(_.map(_.encode)).foreach { batches =>
      val bytes = batches.reduce(_ ++ _)
      val clean = KafkaWire.decodeBatchesInfo(bytes)
      val ends = batches.scanLeft(0)(_ + _.length).tail
      (0 until bytes.length).foreach { len =>
        val got = KafkaWire.decodeBatchesInfo(bytes.take(len))
        assert(sameBatches(got, clean.take(ends.count(_ <= len))),
          s"cut at $len of ${bytes.length}")
      }
    }
  }

  test("a batchLength shorter than the v2 header is a CorruptBatchException") {
    val b = KafkaWire.encodeBatch(Seq(KRecord(0L, 1L, null, Array[Byte](1, 2))))
    Seq(Int.MinValue, -5, 0, 3, 8, Batch.MinLength - 1)
      .foreach { len =>
        val bad = b.clone()
        java.nio.ByteBuffer.wrap(bad, Batch.Length, 4).putInt(len)
        val e = intercept[KafkaWire.CorruptBatchException](
          KafkaWire.decodeBatchesInfo(bad))
        assert(e.getMessage.contains(s"batchLength $len"))
      }
  }
}
