package graft.ss

import java.io.EOFException
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.{SeaMessage, WireBuffer}

/** The `.ss` container format — seekable, beacon-indexed, CRC-checked
  * (spec: sea-streamer-file/src/format.rs:1-59). All integers big-endian.
  *
  * Layout: 128-byte header (`0x53 0x73 0x01`, short-string file name, u64
  * created-at ms, u32 beacon interval, zero padding, 0x0D); then message
  * frames (`short-string key, u64 shard, u64 seq, u64 ts_ms, u32 len,
  * payload, u16 crc, 0x0D`), with a Beacon at every `beacon_interval`-byte
  * boundary (`0x0D, u32 remaining_message_bytes, u8 n, n × marker, 0x0D`).
  * Messages may straddle beacons (format.rs:34-37).
  */
object SsFormat {
  final val HeaderSize = 128
  final val ByteMark0 = 0x53
  final val ByteMark1 = 0x73
  final val Version = 0x01
  final val Cr: Byte = 0x0D

  /** Defaults from sea-streamer-file/src/lib.rs:92-93. */
  final val DefaultBeaconInterval: Int = 1024 * 1024
  final val DefaultFileSizeLimit: Long = 16L * 1024 * 1024 * 1024

  final val EosPayload = "EOS"

  /** Smallest beacon: 0x0D, u32 remaining, u8 count 0, 0x0D. */
  final val MinBeaconSize = 7

  /** Marker max byte size: short-string max (1+255) + shard + seq + ts + crc16. */
  final val MarkerMaxSize: Int = 256 + 8 + 8 + 8 + 2

  /** Max markers that fit in `space` bytes of beacon (format.rs: max_markers). */
  def maxMarkers(space: Int): Int =
    if (space < 7) 0 else math.min(255, (space - 7) / MarkerMaxSize)

  /** Reasonable marker count for an interval (format.rs: num_markers). */
  def numMarkers(beaconInterval: Int): Int = maxMarkers(beaconInterval) / 2

  final case class SsHeader(
      fileName: String,
      createdAtMillis: Long,
      beaconInterval: Int)

  /** Beacon item: latest (max) seq/ts per (stream, shard) so far, plus the
    * running checksum of that stream's message checksums.
    */
  final case class Marker(
      streamKey: String,
      shardId: Long,
      maxSeqNo: Long,
      maxTimestampMillis: Long,
      runningChecksum: Int)

  final case class Beacon(remainingMessagesBytes: Int, items: Seq[Marker]) {
    def size: Int =
      1 + 4 + 1 + items.map(m => 1 + m.streamKey.getBytes(UTF_8).length + 26).sum + 1
  }

  final case class FormatException(msg: String) extends RuntimeException(msg)
  final case class ChecksumException(received: Int, computed: Int)
      extends RuntimeException(s"Checksum error: received $received, computed $computed")

  // ---- encoding ---------------------------------------------------------

  private def shortString(out: WireBuffer, s: String): WireBuffer = {
    val bytes = s.getBytes(UTF_8)
    require(bytes.length <= 255, s"String too long: ${bytes.length}")
    out.u8(bytes.length).bytes(bytes)
  }

  def encodeHeader(h: SsHeader): Array[Byte] = {
    val out = new WireBuffer(HeaderSize)
    out.u8(ByteMark0).u8(ByteMark1).u8(Version)
    shortString(out, h.fileName).be64(h.createdAtMillis).be32(h.beaconInterval)
    val padding = HeaderSize - out.size
    require(padding >= 1, s"File name too long for header: ${h.fileName}")
    var i = 0
    while (i < padding - 1) { out.u8(0); i += 1 }
    out.u8(Cr).toArray
  }

  /** Message frame = header + u32 size + payload + u16 crc + 0x0D.
    * Returns (frameBytes, payloadChecksum).
    */
  def encodeMessage(m: SeaMessage): (Array[Byte], Int) = {
    val payload = if (m.payload == null) Array.emptyByteArray else m.payload
    val out = new WireBuffer(64 + payload.length)
    shortString(out, m.stream_key).be64(m.shard_id).be64(m.sequence)
      .be64(m.timestamp.getTime).be32(payload.length).bytes(payload)
    val crc = Crc16Cdma2000(payload)
    (out.be16(crc).u8(Cr).toArray, crc)
  }

  def encodeBeacon(b: Beacon): Array[Byte] = {
    require(b.items.length <= 255, "TooManyBeacon")
    val out = new WireBuffer(b.size)
    out.u8(Cr).be32(b.remainingMessagesBytes).u8(b.items.length)
    b.items.foreach { m =>
      shortString(out, m.streamKey).be64(m.shardId).be64(m.maxSeqNo)
        .be64(m.maxTimestampMillis).be16(m.runningChecksum)
    }
    out.u8(Cr).toArray
  }

  // ---- decoding ---------------------------------------------------------

  /** Decode primitives over an arbitrary `readByte`. Used by [[SsReader]],
    * whose reader transparently consumes beacons at interval boundaries
    * (that is how spliced messages come back together).
    */
  trait ByteReader {
    def readByte(): Int // 0..255, or throws EOFException

    /** Reads exactly `n` bytes into `a(off until off + n)`, or throws
      * `EOFException` once the input ends, with the bytes before the end
      * consumed. Byte payloads ([[readFully]]) go through here. The
      * default is one [[readByte]] per byte; readers over a buffer
      * override it with a bulk copy.
      */
    def readInto(a: Array[Byte], off: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { a(off + i) = readByte().toByte; i += 1 }
    }

    /** Skip n bytes; implementations may override with a bulk skip. */
    def skipFully(n: Int): Unit = {
      var i = 0
      while (i < n) { readByte(); i += 1 }
    }

    final def readFully(n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      readInto(a, 0, n)
      a
    }
    final def readU16(): Int = (readByte() << 8) | readByte()
    final def readU32(): Int =
      (readByte() << 24) | (readByte() << 16) | (readByte() << 8) | readByte()
    final def readU64(): Long =
      (readU32().toLong << 32) | (readU32().toLong & 0xFFFFFFFFL)
    final def readShortString(): String = {
      val len = readByte()
      new String(readFully(len), UTF_8)
    }
  }

  def decodeHeader(bytes: Array[Byte]): SsHeader = {
    require(bytes.length == HeaderSize, s"Header must be $HeaderSize bytes")
    if ((bytes(0) & 0xFF) != ByteMark0 || (bytes(1) & 0xFF) != ByteMark1)
      throw FormatException("Byte mark mismatch")
    if ((bytes(2) & 0xFF) != Version) throw FormatException("Version mismatch")
    val r = new ByteReader {
      private var i = 3
      def readByte(): Int = {
        if (i >= bytes.length) throw new EOFException
        val b = bytes(i) & 0xFF; i += 1; b
      }
    }
    val name = r.readShortString()
    val h = SsHeader(name, r.readU64(), r.readU32())
    if (h.beaconInterval < MinBeaconSize)
      throw FormatException(s"Beacon interval ${h.beaconInterval} cannot " +
        s"hold a $MinBeaconSize-byte beacon")
    h
  }

  /** Reads one message frame (after any leading beacon has been consumed by
    * the caller's ByteReader). Returns message + its stored checksum.
    * With `skimPayload` the payload bytes are skipped, not materialized —
    * for offset walks that only need frame boundaries.
    */
  def decodeMessage(r: ByteReader, skimPayload: Boolean = false): (SeaMessage, Int) = {
    val key = r.readShortString()
    val shard = r.readU64()
    val seq = r.readU64()
    val ts = r.readU64()
    val size = r.readU32()
    // control frames (EOS) stay materialized even when skimming
    val payload =
      if (skimPayload && key != graft.core.Envelope.SeaStreamerInternal) {
        r.skipFully(size); null
      } else r.readFully(size)
    val crc = r.readU16()
    r.readByte() // 0x0D
    (SeaMessage(key, shard, seq, new java.sql.Timestamp(ts), payload), crc)
  }

  def decodeBeacon(r: ByteReader): Beacon = {
    r.readByte() // 0x0D
    val remaining = r.readU32()
    val n = r.readByte()
    val items = (0 until n).map { _ =>
      Marker(r.readShortString(), r.readU64(), r.readU64(), r.readU64(), r.readU16())
    }
    r.readByte() // 0x0D
    Beacon(remaining, items)
  }
}
