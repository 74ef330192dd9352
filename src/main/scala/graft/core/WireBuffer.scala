package graft.core

import java.io.{InputStream, OutputStream}

/** The growable byte array every wire encoder writes into (kafka, iggy,
  * RESP and `.ss`). Unlike `ByteArrayOutputStream`/`DataOutputStream` it
  * takes no monitor per byte: a frame costs bounds checks and
  * `System.arraycopy`s. Big-endian `be*` for kafka and `.ss`,
  * little-endian `le*` for iggy, ASCII [[decimal]] for RESP. Not
  * thread-safe: one buffer per frame.
  */
final class WireBuffer(initialCapacity: Int = 64) extends OutputStream {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var len = 0

  def size: Int = len
  /** The backing array; `[0, size)` holds the content. */
  def array: Array[Byte] = buf
  def reset(): Unit = len = 0
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)

  private def room(n: Int): Unit =
    if (n > buf.length - len)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  def u8(v: Int): this.type = { room(1); buf(len) = v.toByte; len += 1; this }
  def be16(v: Int): this.type = u8(v >>> 8).u8(v)
  def be32(v: Int): this.type = be16(v >>> 16).be16(v)
  def be64(v: Long): this.type = be32((v >>> 32).toInt).be32(v.toInt)
  def le32(v: Int): this.type = u8(v).u8(v >>> 8).u8(v >>> 16).u8(v >>> 24)
  def le64(v: Long): this.type = le32(v.toInt).le32((v >>> 32).toInt)

  /** Overwrites 4 written bytes at `at`: a length or CRC known only once
    * the body behind it is written.
    */
  def putBe32(at: Int, v: Int): Unit = { val end = len; len = at; be32(v); len = end }

  def bytes(b: Array[Byte]): this.type = bytes(b, 0, b.length)
  def bytes(b: Array[Byte], off: Int, n: Int): this.type = {
    room(n); System.arraycopy(b, off, buf, len, n); len += n; this
  }

  /** `v` in ASCII decimal, with a leading `-` when negative. */
  def decimal(v: Long): this.type = {
    if (v < 0) return bytes(java.lang.Long.toString(v).getBytes(
      java.nio.charset.StandardCharsets.US_ASCII))
    var digits = 1
    var t = v / 10
    while (t > 0) { digits += 1; t /= 10 }
    room(digits)
    var i = len + digits - 1
    t = v
    do { buf(i) = ('0' + t % 10).toByte; t /= 10; i -= 1 } while (t > 0)
    len += digits
    this
  }

  /** The [[bytes]] sink as a stream, for batch compressors. */
  override def write(b: Int): Unit = u8(b)
  override def write(b: Array[Byte], off: Int, n: Int): Unit = bytes(b, off, n)
}

/** A buffered stream for decoders that read a byte at a time (RESP lines,
  * `.ss` frame headers) without the monitor `BufferedInputStream` takes
  * on every `read()`. Not thread-safe: one per connection or file reader.
  */
final class WireInput(in: InputStream, size: Int = 1 << 16) extends InputStream {
  private val buf = new Array[Byte](size)
  private var pos = 0
  private var lim = 0

  /** Refills the spent buffer; false at end of stream. */
  private def fill(): Boolean = {
    var n = 0
    while (n == 0) n = in.read(buf, 0, size)
    pos = 0
    lim = math.max(n, 0)
    n > 0
  }

  override def read(): Int =
    if (pos < lim || fill()) { pos += 1; buf(pos - 1) & 0xff } else -1

  /** Reads until `n` bytes are in or the stream ends; -1 if none came. */
  override def read(b: Array[Byte], off: Int, n: Int): Int = {
    var done = 0
    while (done < n && (pos < lim || fill())) {
      val k = math.min(n - done, lim - pos)
      System.arraycopy(buf, pos, b, off + done, k)
      pos += k
      done += k
    }
    if (done == 0 && n > 0) -1 else done
  }

  /** Skips within the buffer, then on the stream beneath (a seek on files). */
  override def skip(n: Long): Long = {
    val k = math.min(n, (lim - pos).toLong).toInt
    pos += k
    if (k < n) k + in.skip(n - k) else k
  }

  /** Buffered bytes count: servers flush their replies once this is 0. */
  override def available(): Int = lim - pos + in.available()
  override def close(): Unit = in.close()
}
