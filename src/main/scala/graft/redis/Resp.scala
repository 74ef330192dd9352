package graft.redis

import java.io.{BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.{WireBuffer, WireInput}

/** RESP2 wire codec (the Redis serialization protocol), dependency-free —
  * the zero-egress build has no redis client library, and the protocol is
  * small enough that hand-rolling it is simpler than vendoring one
  * (command framing: redis.io/docs/reference/protocol-spec; the reference
  * drives the same wire through the `redis` crate,
  * sea-streamer-redis/src/connection.rs).
  */
object Resp {

  sealed trait Value
  final case class Simple(s: String) extends Value
  final case class Err(msg: String) extends Value
  final case class Num(n: Long) extends Value
  final case class Bulk(bytes: Array[Byte]) extends Value {
    def utf8: String = new String(bytes, UTF_8)
  }
  case object NullBulk extends Value
  final case class Arr(items: Seq[Value]) extends Value
  case object NullArr extends Value

  /** Encode a command as a RESP array of bulk strings. */
  def encodeCommand(args: Seq[Array[Byte]]): Array[Byte] = {
    val out = new WireBuffer(args.foldLeft(16)(_ + _.length + 16))
    head(out, '*', args.length)
    args.foreach(a => bulk(out, a))
    out.toArray
  }

  /** A `<tag><n>\r\n` length, count or integer line. */
  private def head(out: WireBuffer, tag: Char, n: Long): WireBuffer =
    out.u8(tag).decimal(n).u8('\r').u8('\n')

  private def bulk(out: WireBuffer, b: Array[Byte]): Unit =
    head(out, '$', b.length).bytes(b).u8('\r').u8('\n')

  def encodeCommandS(args: String*): Array[Byte] =
    encodeCommand(args.map(_.getBytes(UTF_8)))

  /** Encode a reply (used by the in-process test server). */
  def encodeValue(v: Value): Array[Byte] = {
    val out = new WireBuffer
    def line(tag: Char, s: String): Unit =
      out.u8(tag).bytes(s.getBytes(UTF_8)).u8('\r').u8('\n')
    def go(v: Value): Unit = v match {
      case Simple(s) => line('+', s)
      case Err(m) => line('-', m)
      case Num(n) => head(out, ':', n)
      case Bulk(b) => bulk(out, b)
      case NullBulk => head(out, '$', -1)
      case Arr(items) => head(out, '*', items.length); items.foreach(go)
      case NullArr => head(out, '*', -1)
    }
    go(v)
    out.toArray
  }

  /** A simple-string or error line, bytes widened to chars. */
  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("RESP stream closed mid-line")
      sb.append(c.toChar)
      c = in.read()
    }
    lineEnd(in)
    sb.result()
  }

  private def lineEnd(in: InputStream): Unit =
    if (in.read() != '\n') throw new EOFException("RESP line missing \\n")

  /** An integer, length or count line read as digits in place. Accepts and
    * rejects what `line.toLong` does (an optional sign, then one or more
    * ASCII digits, in range), and consumes the whole line before a
    * malformed one throws `NumberFormatException`.
    */
  private def readNum(in: InputStream): Long = {
    var c = in.read()
    val neg = c == '-'
    if (neg || c == '+') c = in.read()
    // accumulate negatively, as Long.parseLong does, so MinValue fits
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var acc = 0L
    var ok = c != '\r'
    while (c != '\r') {
      if (c < 0) throw new EOFException("RESP stream closed mid-line")
      val d = c - '0'
      if (d < 0 || d > 9 || acc < limit / 10 || acc * 10 < limit + d) ok = false
      else acc = acc * 10 - d
      c = in.read()
    }
    lineEnd(in)
    if (!ok) throw new NumberFormatException("malformed RESP integer line")
    if (neg) acc else -acc
  }

  private def readInt(in: InputStream): Int = {
    val n = readNum(in)
    if (n == n.toInt) n.toInt else throw new NumberFormatException(s"RESP length $n out of range")
  }

  /** Parse one RESP value from the stream (blocking). */
  def parse(in: InputStream): Value = {
    val t = in.read()
    if (t < 0) throw new EOFException("RESP stream closed")
    t.toChar match {
      case '+' => Simple(readLine(in))
      case '-' => Err(readLine(in))
      case ':' => Num(readNum(in))
      case '$' =>
        val n = readInt(in)
        if (n < 0) NullBulk
        else {
          val buf = new Array[Byte](n)
          var read = 0
          while (read < n) {
            val r = in.read(buf, read, n - read)
            if (r < 0) throw new EOFException("RESP bulk truncated")
            read += r
          }
          if (in.read() != '\r' || in.read() != '\n')
            throw new EOFException("RESP bulk missing terminator")
          Bulk(buf)
        }
      case '*' =>
        val n = readInt(in)
        if (n < 0) NullArr
        else Arr(Vector.fill(n)(parse(in)))
      case other =>
        readLine(in)
        throw new IllegalArgumentException(s"unknown RESP type byte '$other'")
    }
  }

  /** The read side of one connection, buffered for [[parse]]'s
    * byte-at-a-time reads by an unsynchronized [[WireInput]]. Not
    * thread-safe: one per connection, read by one thread at a time.
    */
  def buffered(in: InputStream): InputStream = new WireInput(in)
  def buffered(out: OutputStream): OutputStream = new BufferedOutputStream(out, 1 << 16)
}
