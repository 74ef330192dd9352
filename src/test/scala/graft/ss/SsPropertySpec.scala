package graft.ss

import java.io.{EOFException, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, Paths}

import graft.core.SeaMessage
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: any message batch × any beacon interval roundtrips
  * byte-exactly, and beacon-split reads reconstruct the full scan.
  * (Plain ScalaCheck generators driven by fixed seeds — the scalatestplus
  * bridge isn't on the classpath.)
  */
class SsPropertySpec extends AnyFunSuite {

  private val keyGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 20)
    cs <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('.', '_', '-')))
  } yield cs.mkString

  private val msgGen: Gen[SeaMessage] = for {
    key <- keyGen
    shard <- Gen.chooseNum(0L, 8L)
    seq <- Gen.chooseNum(0L, 1000000L)
    ts <- Gen.chooseNum(0L, 4000000000000L)
    payload <- Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Arbitrary.arbitrary[Byte]))
  } yield SeaMessage(key, shard, seq, new java.sql.Timestamp(ts),
    payload.toArray)

  private val batchGen: Gen[(List[SeaMessage], Int)] = for {
    msgs <- Gen.nonEmptyListOf(msgGen)
    interval <- Gen.chooseNum(128, 4096)
  } yield (msgs, interval)

  private def cases(n: Int): Seq[(List[SeaMessage], Int)] =
    (1 to n).flatMap { i =>
      batchGen.apply(Gen.Parameters.default, Seed(i.toLong * 7919))
    }

  test("write/read roundtrip for arbitrary batches and intervals") {
    cases(25).foreach { case (msgs, interval) =>
      val dir = Files.createTempDirectory("prop").toFile
      val path = s"$dir/p.ss"
      val w = new SsWriter(new FileOutputStream(path), "p.ss", interval, 0L)
      msgs.foreach(w.write)
      w.close()

      val got = SsReader.open(path).iterator.toVector
      assert(got.size == msgs.size)
      got.zip(msgs).foreach { case (rec, m) =>
        assert(rec.message.stream_key == m.stream_key)
        assert(rec.message.shard_id == m.shard_id)
        assert(rec.message.sequence == m.sequence)
        assert(rec.message.timestamp.getTime == m.timestamp.getTime)
        assert(java.util.Arrays.equals(rec.message.payload, m.payload))
      }

      // beacon-split reads tile the file exactly: frames from consecutive
      // [a, b) beacon windows reproduce the full scan
      val size = new java.io.File(path).length()
      val nBeacons = (size - 1) / interval
      if (nBeacons >= 1) {
        val bounds = (0L to nBeacons) :+ (nBeacons + 1)
        val pieces = bounds.sliding(2).flatMap { case Seq(a, b) =>
          val r = if (a == 0) SsReader.open(path) else SsReader.openAt(path, a)
          val limit = if (b > nBeacons) Long.MaxValue else b * interval
          val out = r.iterator.takeWhile(_.startOffset < limit).toVector
          r.close()
          out
        }.toVector
        assert(pieces.map(_.message.sequence) == got.map(_.message.sequence))
      }
    }
  }

  // ---- the bulk file reader against the per-byte fallback ---------------

  /** The trait's per-byte fallback over bytes in memory: only `readByte`,
    * so `readInto` and `skipFully` run one byte at a time.
    */
  private def perByte(bytes: Array[Byte], from: Long): SsFormat.ByteReader =
    new SsFormat.ByteReader {
      private var i = from
      def readByte(): Int = {
        if (i >= bytes.length) throw new EOFException
        val b = bytes(i.toInt) & 0xff
        i += 1
        b
      }
    }

  /** Everything a scan shows: each record (payload as a Seq, so records
    * compare by value), the checksum failure if any, then the reader's
    * final lastBeacon / isTruncated / isEos.
    */
  private def scan(r: SsReader) = {
    val recs = Vector.newBuilder[Any]
    val failure =
      try {
        var n = r.next()
        while (n.isDefined) {
          val SsRecord(m, crc, start, end) = n.get
          recs += ((m.stream_key, m.shard_id, m.sequence, m.timestamp.getTime,
            Option(m.payload).map(_.toSeq), crc, start, end))
          n = r.next()
        }
        None
      } catch { case e: SsFormat.ChecksumException => Some(e) }
    try (recs.result(), failure, r.lastBeacon, r.isTruncated, r.isEos)
    finally r.close()
  }

  /** Random frames over small intervals: payloads up to ~3.5 intervals
    * (spanning two or more beacons), and every fourth frame sized to end
    * exactly on a beacon boundary when it fits.
    */
  private def writeSpanning(i: Int): (String, Array[Byte], Int, Int) = {
    val (msgs, interval) = (for {
      n <- Gen.chooseNum(3, 20)
      msgs <- Gen.listOfN(n, msgGen)
      interval <- Gen.chooseNum(128, 400)
      sizes <- Gen.listOfN(n, Gen.chooseNum(0, 1400))
    } yield (msgs.zip(sizes).map { case (m, k) =>
      m.copy(payload = Array.tabulate[Byte](k)(j => (j * 7 + k).toByte))
    }, interval)).apply(Gen.Parameters.default, Seed(i.toLong * 31337)).get
    val path = s"${Files.createTempDirectory("bulk").toFile}/b.ss"
    val w = new SsWriter(new FileOutputStream(path), "b.ss", interval, 0L)
    msgs.zipWithIndex.foreach { case (m, j) =>
      val untilBoundary = (interval - w.offset % interval).toInt
      val fit = untilBoundary - 32 - m.stream_key.length
      w.write(if (j % 4 == 3 && fit >= 0)
        m.copy(payload = Array.fill[Byte](fit)(j.toByte)) else m)
    }
    w.close()
    (path, Files.readAllBytes(Paths.get(path)), interval, msgs.size)
  }

  private def sameScans(path: String, bytes: Array[Byte], start: Long,
      open: => SsReader, verify: Boolean, skim: Boolean, what: String): Unit = {
    val header = SsFormat.decodeHeader(bytes.take(SsFormat.HeaderSize))
    val bulk = scan(open)
    val fallback = scan(new SsReader(perByte(bytes, start), header, start,
      verify, skim))
    assert(bulk == fallback, s"$what: file reader and per-byte fallback differ")
  }

  test("bulk reads equal the per-byte fallback at every split start") {
    var spanning = 0
    var onBoundary = 0
    (1 to 30).foreach { i =>
      val (path, bytes, interval, n) = writeSpanning(i)
      val nBeacons = (bytes.length - 1) / interval
      val full = SsReader.open(path).iterator.toVector
      spanning += full.count(r => (r.endOffset - 1) / interval - r.startOffset / interval >= 2)
      onBoundary += full.count(_.endOffset % interval == 0)
      val starts = full.map(_.startOffset)
      for ((verify, skim) <- Seq((true, false), (false, true))) {
        (0L to nBeacons + 1).foreach { k =>
          val start = if (k == 0) SsFormat.HeaderSize.toLong else k * interval
          sameScans(path, bytes, start, SsReader.openAt(path, k, verify, skim),
            verify, skim, s"case $i openAt($k) skim=$skim")
        }
        // openAtOffset on every beacon boundary and every frame start
        ((1L to nBeacons).map(_ * interval) ++ starts.drop(1)).foreach { off =>
          sameScans(path, bytes, off,
            SsReader.openAtOffset(path, off, verify, skim), verify, skim,
            s"case $i openAtOffset($off) skim=$skim")
        }
      }
      assert(full.size == n, s"case $i: scan stopped short")
    }
    assert(spanning > 30 && onBoundary > 10,
      s"premise: $spanning frames span 2+ beacons, $onBoundary end on one")
  }

  test("a truncated tail at every byte reads like the per-byte fallback") {
    (1 to 4).foreach { i =>
      val (path, bytes, _, _) = writeSpanning(i)
      val raf = new RandomAccessFile(path, "rw")
      try (bytes.length - 1 to SsFormat.HeaderSize + 1 by -1).foreach { len =>
        raf.setLength(len.toLong)
        val cut = bytes.take(len)
        for ((verify, skim) <- Seq((true, false), (false, true)))
          sameScans(path, cut, SsFormat.HeaderSize.toLong,
            SsReader.open(path, verify, skim), verify, skim,
            s"case $i cut at $len skim=$skim")
      } finally raf.close()
    }
  }

  test("checksum failures surface alike from the bulk and per-byte readers") {
    val flipped = (1 to 10).count { i =>
      val (path, bytes, interval, _) = writeSpanning(i)
      // a frame with no beacon inside: its payload's last byte sits just
      // before the u16 crc and the closing 0x0D
      SsReader.open(path).iterator.toVector.find { r =>
        r.message.payload.nonEmpty && r.startOffset % interval != 0 &&
          r.startOffset / interval == r.endOffset / interval
      }.exists { victim =>
        val at = (victim.endOffset - 4).toInt
        bytes(at) = (bytes(at) ^ 0x10).toByte
        Files.write(Paths.get(path), bytes)
        sameScans(path, bytes, SsFormat.HeaderSize.toLong, SsReader.open(path),
          verify = true, skim = false, s"case $i flipped at $at")
        assert(scan(SsReader.open(path))._2.isDefined, s"case $i: no failure")
        true
      }
    }
    assert(flipped >= 5, "premise: most cases hold a frame between beacons")
  }

  test("a beacon interval that cannot hold a beacon is a FormatException") {
    Seq(Int.MinValue, -1, 0, 1, SsFormat.MinBeaconSize - 1).foreach { interval =>
      val path = s"${Files.createTempDirectory("tiny").toFile}/t.ss"
      val header = SsFormat.encodeHeader(SsFormat.SsHeader("t.ss", 0L, interval))
      val frame = SsFormat.encodeMessage(SeaMessage("k", 0L, 0L,
        new java.sql.Timestamp(0L), Array.fill[Byte](40)(1)))._1
      Files.write(Paths.get(path), header ++ frame ++ frame)
      intercept[SsFormat.FormatException](SsReader.open(path))
      intercept[SsFormat.FormatException](SsReader.openAt(path, 3))
      intercept[SsFormat.FormatException](SsReader.readHeader(path))
    }
  }
}
