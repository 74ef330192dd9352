package graft.ss

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Paths, StandardOpenOption}

import graft.core.{Envelope, SeaMessage, WireInput}
import graft.ss.SsFormat._

/** One decoded frame plus its byte extent in the file. */
final case class SsRecord(
    message: SeaMessage,
    checksum: Int,
    startOffset: Long,
    endOffset: Long)

/** Demuxing `.ss` reader: yields message frames, transparently consuming the
  * Beacon interleaved at every `beaconInterval` boundary — including beacons
  * that land mid-frame (spliced messages, format.rs:34-37).
  *
  * Can start either at the header or at the N-th beacon boundary
  * ([[SsReader.openAt]]); in the latter case the partial spliced message
  * under the beacon is skipped exactly like the reference's rewind
  * (sea-streamer-file/src/messages.rs:144-173) — this is what makes the file
  * SPLITTABLE for parallel scan: split k reads messages whose frame *starts*
  * in [beacon_k, beacon_k+stride).
  *
  * Bytes come from `src`, which the reader owns and closes: for files, the
  * [[SsReader.ChannelBytes]] buffer over the file channel. The boundary
  * rule: a beacon is consumed exactly when the read offset reaches
  * `nextBoundary`, the first positive multiple of the interval at or after
  * it, so a bulk read runs at most `nextBoundary - offset` bytes (always
  * positive between beacons) and a payload costs one copy per beacon span.
  */
final class SsReader private[ss] (
    src: ByteReader,
    val header: SsHeader,
    startOffset: Long,
    verifyChecksum: Boolean,
    /** Skip payload bytes (frames only carry header/extent) — for offset
      * walks. Incompatible with checksum verification.
      */
    skimPayload: Boolean = false,
    /** Surface `SEA_STREAMER_INTERNAL` control frames instead of hiding
      * them — the decoder utility prints every frame including the
      * terminating EOS, like the reference's ss-decode
      * (sea-streamer-file/src/bin/decoder.rs:66-137). EOS still ends the
      * scan: the frame is returned once, then `next()` yields None.
      */
    surfaceInternal: Boolean = false) extends AutoCloseable {

  private val interval: Long = header.beaconInterval.toLong
  private var offset: Long = startOffset
  private var nextBoundary: Long = boundaryAtOrAfter(startOffset)
  private var eosSeen = false
  private var truncated = false
  private var lastBeaconVar: Option[Beacon] = None

  private def boundaryAtOrAfter(at: Long): Long =
    math.max(1L, (at + interval - 1) / interval) * interval

  /** Raw reader: advances offset, no boundary interception (beacon bodies). */
  private val raw: ByteReader = new ByteReader {
    def readByte(): Int = { val b = src.readByte(); offset += 1; b }
    override def readInto(a: Array[Byte], off: Int, n: Int): Unit = {
      src.readInto(a, off, n); offset += n
    }
    override def skipFully(n: Int): Unit = { src.skipFully(n); offset += n }
  }

  /** Boundary-aware reader: consumes any beacon sitting at an interval
    * boundary before handing out the next message byte; bulk reads and
    * skips run span by span between boundaries.
    */
  private val demux: ByteReader = new ByteReader {
    def readByte(): Int = {
      while (offset >= nextBoundary) consumeBeacon()
      raw.readByte()
    }
    override def readInto(a: Array[Byte], off: Int, n: Int): Unit =
      bySpan(n)((done, k) => raw.readInto(a, off + done, k))
    override def skipFully(n: Int): Unit = bySpan(n)((_, k) => raw.skipFully(k))
  }

  /** Runs `step(done, k)` over `n` bytes in spans that end at or before
    * the next boundary, consuming the beacon there first.
    */
  private def bySpan(n: Int)(step: (Int, Int) => Unit): Unit = {
    var done = 0
    while (done < n) {
      while (offset >= nextBoundary) consumeBeacon()
      val k = math.min(n - done, nextBoundary - offset).toInt
      step(done, k)
      done += k
    }
  }

  private def consumeBeacon(): Unit = {
    lastBeaconVar = Some(decodeBeacon(raw))
    nextBoundary = boundaryAtOrAfter(offset)
  }

  // Split start: drop the partial message spliced under the starting beacon.
  // Loop because a long frame can fully bridge an interval (rewind law,
  // messages.rs:144-173: skip min(remaining, interval - beaconSize)).
  locally {
    while (offset == nextBoundary && !truncated) {
      try {
        val beacon = decodeBeacon(raw)
        lastBeaconVar = Some(beacon)
        val skip = math.min(
          beacon.remainingMessagesBytes.toLong,
          interval - beacon.size)
        if (skip < 0)
          throw FormatException(s"Beacon at ${offset - beacon.size} " +
            s"claims $skip spliced bytes")
        raw.skipFully(skip.toInt)
        nextBoundary = boundaryAtOrAfter(offset)
      } catch { case _: EOFException => truncated = true }
    }
  }

  def currentOffset: Long = offset
  def lastBeacon: Option[Beacon] = lastBeaconVar
  def isEos: Boolean = eosSeen
  def isTruncated: Boolean = truncated

  /** Next message frame, or None at EOF / EOS / truncated tail.
    * Internal control messages (EOS) terminate; other `SEA_STREAMER_INTERNAL`
    * messages are skipped (file/src consumers never surface them).
    */
  @annotation.tailrec
  def next(): Option[SsRecord] = {
    if (eosSeen || truncated) return None
    val start = offset
    val decoded =
      try {
        val (msg, storedCrc) = decodeMessage(demux, skimPayload)
        if (verifyChecksum && !skimPayload) {
          val computed = Crc16Cdma2000(
            if (msg.payload == null) Array.emptyByteArray else msg.payload)
          if (computed != storedCrc)
            throw ChecksumException(storedCrc, computed)
        }
        Some(SsRecord(msg, storedCrc, start, offset))
      } catch {
        case _: EOFException =>
          // clean EOF at frame start, or a truncated in-flight tail — both
          // end the scan (the tail becomes visible on the next micro-batch)
          truncated = offset != start
          None
      }
    decoded match {
      case Some(r) if r.message.stream_key == Envelope.SeaStreamerInternal =>
        if (r.message.payloadUtf8 == EosPayload) {
          eosSeen = true; eosStartVar = Some(r.startOffset)
          if (surfaceInternal) decoded else None
        } else if (surfaceInternal) decoded
        else next()
      case other => other
    }
  }

  private var eosStartVar: Option[Long] = None

  /** Byte offset where the terminating EOS frame starts (for append-mode
    * EOS truncation, messages.rs:420-515).
    */
  def eosStart: Option[Long] = eosStartVar

  def iterator: Iterator[SsRecord] =
    Iterator.continually(next()).takeWhile(_.isDefined).map(_.get)

  def close(): Unit = src match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

object SsReader {

  /** File bytes through one reusable [[WireInput]] buffer over the
    * channel, from its position: [[readInto]] copies whole spans, and
    * [[skipFully]] skips the buffer, then seeks.
    */
  private[ss] final class ChannelBytes(ch: FileChannel, bufferSize: Int = 1 << 16)
      extends ByteReader with AutoCloseable {
    private val in = new WireInput(Channels.newInputStream(ch), bufferSize)

    def readByte(): Int = { val b = in.read(); if (b < 0) throw new EOFException; b }
    override def readInto(a: Array[Byte], off: Int, n: Int): Unit =
      if (in.read(a, off, n) < n) throw new EOFException
    // a file channel skips short only at its end
    override def skipFully(n: Int): Unit = if (in.skip(n) < n) throw new EOFException
    def close(): Unit = ch.close()
  }

  private def headerOf(ch: FileChannel, path: String): SsHeader = {
    val buf = ByteBuffer.allocate(HeaderSize)
    while (buf.hasRemaining)
      if (ch.read(buf) < 0) throw new EOFException(s"File shorter than header: $path")
    decodeHeader(buf.array())
  }

  /** A reader over `path` from the offset `start` picks given its header. */
  private def openFrom(path: String, verifyChecksum: Boolean, skim: Boolean,
      surfaceInternal: Boolean)(start: SsHeader => Long): SsReader = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try {
      val header = headerOf(ch, path)
      val at = start(header)
      ch.position(at)
      new SsReader(new ChannelBytes(ch), header, at, verifyChecksum, skim,
        surfaceInternal)
    } catch { case e: Throwable => ch.close(); throw e }
  }

  /** Decode the beacon sitting at an exact interval boundary (split-pruning
    * support: the beacon's markers carry prefix-max seq/ts per stream).
    */
  def readBeaconAt(path: String, offset: Long): Option[Beacon] = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try {
      if (offset >= ch.size()) return None
      ch.position(offset)
      try Some(decodeBeacon(new ChannelBytes(ch, 1 << 14)))
      catch { case _: EOFException => None }
    } finally ch.close()
  }

  def readHeader(path: String): SsHeader = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try headerOf(ch, path) finally ch.close()
  }

  /** Sequential read from the start of the data. */
  def open(path: String, verifyChecksum: Boolean = true, skim: Boolean = false,
      surfaceInternal: Boolean = false): SsReader =
    openAt(path, 0, verifyChecksum, skim, surfaceInternal)

  /** Positioned read from an exact byte offset that is known to be either a
    * frame start or a beacon boundary (used by the micro-batch stream's
    * frame-exact offsets). Offsets <= HeaderSize mean "from the header".
    */
  def openAtOffset(path: String, byteOffset: Long, verifyChecksum: Boolean = true,
      skim: Boolean = false): SsReader = {
    if (byteOffset <= HeaderSize) open(path, verifyChecksum, skim)
    else openFrom(path, verifyChecksum, skim, surfaceInternal = false)(_ => byteOffset)
  }

  /** Positioned read from the N-th beacon boundary (0 = right after header). */
  def openAt(path: String, nthBeacon: Long, verifyChecksum: Boolean = true,
      skim: Boolean = false, surfaceInternal: Boolean = false): SsReader =
    openFrom(path, verifyChecksum, skim, surfaceInternal) { header =>
      if (nthBeacon <= 0) HeaderSize.toLong
      else nthBeacon * header.beaconInterval.toLong
    }
}
