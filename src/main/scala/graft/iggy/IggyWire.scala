package graft.iggy

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.WireBuffer

/** Wire layer for the iggy backend: length-prefixed little-endian TCP
  * framing with u32 command codes, modeled on iggy's public TCP transport
  * (`request = [len][code][payload]`, `response = [status][len][payload]`)
  * and the command surface the reference adapter drives through the iggy
  * SDK (sea-streamer-iggy/src/streamer.rs:33-258: login, get/create
  * stream+topic, poll_messages, send_messages, consumer offsets, consumer
  * groups).
  *
  * Request layouts follow the PUBLISHED iggy binary protocol where the
  * adapter exercises it: `Identifier` kind/length/value framing for every
  * stream/topic/group reference, `Consumer = [kind u8][Identifier]` with
  * iggy's 1-based kinds, 1-based polling-strategy and partitioning kinds,
  * LoginUser's optional u32-length version/context strings, u128 message
  * ids in SendMessages (`[id u128][headers_len u32][length u32][payload]`)
  * and the full polled-message layout
  * (`[offset u64][state u8][timestamp u64 µs][id u128][checksum u32]
  * [headers_len u32][length u32][payload]`, CRC-verified on decode).
  * RESPONSE payloads follow the same published protocol revision as the
  * requests (the classic binary layout whose polled message is
  * `[offset][state][timestamp][id][checksum][headers][payload]`):
  * LoginUser returns `IdentityInfo = [user_id u32]`, GetStream a
  * StreamDetails block (stream base + its topic bases), GetTopic a
  * TopicDetails block (topic base + per-partition blocks carrying
  * `current_offset`), PollMessages the
  * `[partition_id u32][current_offset u64][messages_count u32][messages]`
  * envelope, GetConsumerOffset a
  * `[partition_id u32][current_offset u64][stored_offset u64]`
  * ConsumerOffsetInfo, GetMe a ClientInfoDetails block, GetConsumerGroup
  * a ConsumerGroupDetails block (base + members with their 1-based
  * partition ids), and the mutating commands (create/send/store/join)
  * return empty payloads. Error statuses use iggy's published numeric
  * error-code space (40 Unauthenticated, 1010/1012 stream, 2011/2013
  * topic, 3007 partition, 5002/5003 consumer-group, 20 resource-not-found
  * for absent consumer offsets). Partition ids are 1-based ON THE WIRE
  * (0 = server-selected in PollMessages), converted at the codec boundary
  * from this library's 0-based indexes.
  *
  * Remaining declared divergences (COVERAGE.md): the embedded broker
  * derives a message's timestamp from the client-chosen u128 id (event
  * time in µs) where a real server stamps at append, and a live iggy
  * server binary is unexercised (offline sandbox) — the parity target is
  * the adapter's SEMANTICS plus these byte layouts, pinned by IggySpec's
  * wire goldens.
  */
object IggyWire {

  /** Command codes follow iggy's public command numbering. */
  object Cmd {
    val Ping = 1
    val GetMe = 20
    val LoginUser = 38
    val PollMessages = 100
    val SendMessages = 101
    val GetConsumerOffset = 120
    val StoreConsumerOffset = 121
    val GetStream = 200
    val CreateStream = 202
    val GetTopic = 300
    val CreateTopic = 302
    val GetConsumerGroup = 600
    val CreateConsumerGroup = 602
    val JoinConsumerGroup = 604
  }

  /** Response status codes from iggy's published numeric error space
    * (0 = OK; error enum discriminants). Only the codes this stack can
    * actually raise are listed.
    */
  object Status {
    val Ok = 0
    val Error = 1
    val InvalidCommand = 3
    /** Generic absent-resource code — raised for a consumer offset that
      * was never stored (the one lookup with no domain-specific code).
      */
    val ResourceNotFound = 20
    val Unauthenticated = 40
    val InvalidCredentials = 42
    val StreamNameNotFound = 1010
    val StreamNameAlreadyExists = 1012
    val TopicNameNotFound = 2011
    val TopicNameAlreadyExists = 2013
    val PartitionNotFound = 3007
    val ConsumerGroupNameNotFound = 5002
    val ConsumerGroupNameAlreadyExists = 5003
  }

  /** Where to start polling (sea-streamer-iggy/src/options.rs:69-82).
    * Kind bytes are iggy's published 1-based numbering. The client-facing
    * AtTimestamp value is ms (the envelope's resolution); the WIRE carries
    * µs like iggy — conversion happens at encode/decode.
    */
  sealed trait PollStrategy { def kind: Byte; def value: Long }
  object PollStrategy {
    /** From a specific per-partition offset (inclusive). */
    final case class AtOffset(offset: Long) extends PollStrategy {
      val kind = 1: Byte; def value: Long = offset
    }
    /** From the first message with `ts_ms >= ms` (µs on the wire). */
    final case class AtTimestamp(ms: Long) extends PollStrategy {
      val kind = 2: Byte; def value: Long = ms * 1000L
    }
    /** From the first message in the partition. */
    case object First extends PollStrategy { val kind = 3: Byte; val value = 0L }
    /** The LAST `count` messages of the partition. */
    case object Last extends PollStrategy { val kind = 4: Byte; val value = 0L }
    /** Continue from the stored consumer/group offset. */
    case object Next extends PollStrategy { val kind = 5: Byte; val value = 0L }

    def apply(kind: Byte, value: Long): PollStrategy = kind match {
      case 1 => AtOffset(value)
      case 2 => AtTimestamp(value / 1000L)
      case 3 => First
      case 4 => Last
      case 5 => Next
      case other => throw new IllegalArgumentException(s"bad strategy kind $other")
    }
  }

  /** How sent messages are spread across a topic's partitions
    * (sea-streamer-iggy/src/options.rs:295-304).
    */
  sealed trait Partitioning
  object Partitioning {
    /** Server round-robins across partitions. */
    case object Balanced extends Partitioning
    /** All messages to one explicit partition. */
    final case class PartitionId(id: Int) extends Partitioning
    /** Partition = hash(key) % partitions. */
    final case class MessageKey(key: Array[Byte]) extends Partitioning
  }

  /** One polled message: per-partition dense offset + event-time ms. */
  final case class PolledMessage(offset: Long, tsMs: Long, payload: Array[Byte])

  // ---- primitive codecs (little-endian, like iggy's binary protocol) ----

  final class Writer {
    private[iggy] val buf = new WireBuffer
    def u8(v: Int): Writer = { buf.u8(v); this }
    def u32(v: Int): Writer = { buf.le32(v); this }
    def u64(v: Long): Writer = { buf.le64(v); this }
    /** u128 LE as (low, high) u64 halves — iggy message ids. */
    def u128(lo: Long, hi: Long = 0L): Writer = { u64(lo); u64(hi) }
    def str(s: String): Writer = {
      val b = s.getBytes(UTF_8)
      require(b.length <= 255, s"name too long: $s")
      u8(b.length); raw(b)
    }
    /** u32-length-prefixed string — LoginUser's optional version/context. */
    def lstr(s: String): Writer = {
      val b = s.getBytes(UTF_8); u32(b.length); raw(b)
    }
    /** Published `Identifier` framing: `[kind u8][length u8][value]` —
      * kind 1 = numeric (u32 value), 2 = string (utf8 bytes).
      */
    def identifier(name: String): Writer = {
      val b = name.getBytes(UTF_8)
      require(b.length <= 255, s"identifier too long: $name")
      u8(2).u8(b.length); raw(b)
    }
    def identifierNum(v: Long): Writer = u8(1).u8(4).u32(v.toInt)
    /** Published `Consumer` framing: `[kind u8][Identifier]`, kind
      * 1 = consumer, 2 = consumer group (internal kinds are 0/1). The
      * default standalone consumer (empty name) is the numeric id 0.
      */
    def consumer(kind01: Int, name: String): Writer = {
      u8(if (kind01 == 1) 2 else 1)
      if (name.isEmpty) identifierNum(0L) else identifier(name)
    }
    def bytes(b: Array[Byte]): Writer = { u32(b.length); raw(b) }
    def raw(b: Array[Byte]): Writer = { buf.bytes(b); this }
    def result(): Array[Byte] = buf.toArray
  }

  final class Reader(payload: Array[Byte]) {
    private var pos = 0
    def remaining: Int = payload.length - pos
    def skip(n: Int): Unit = pos += n
    def u8(): Int = { val v = payload(pos) & 0xff; pos += 1; v }
    def u32(): Int = {
      val v = (payload(pos) & 0xff) | ((payload(pos + 1) & 0xff) << 8) |
        ((payload(pos + 2) & 0xff) << 16) | ((payload(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def u64(): Long = {
      val lo = u32() & 0xffffffffL
      val hi = u32() & 0xffffffffL
      (hi << 32) | lo
    }
    def u128(): (Long, Long) = { val lo = u64(); val hi = u64(); (lo, hi) }
    def str(): String = {
      val n = u8()
      val s = new String(payload, pos, n, UTF_8); pos += n; s
    }
    def lstr(): String = {
      val n = u32()
      val s = new String(payload, pos, n, UTF_8); pos += n; s
    }
    /** Left(numeric id) or Right(name). */
    def identifier(): Either[Long, String] = u8() match {
      case 1 =>
        val len = u8()
        require(len == 4, s"numeric identifier length $len"); Left(u32() & 0xffffffffL)
      case 2 =>
        val n = u8()
        val s = new String(payload, pos, n, UTF_8); pos += n; Right(s)
      case k => throw new IllegalArgumentException(s"bad identifier kind $k")
    }
    /** Identifier surfaced as a lookup name (numeric 0 = the default
      * standalone consumer's empty name).
      */
    def identifierName(): String = identifier() match {
      case Left(0L) => ""
      case Left(n) => n.toString
      case Right(s) => s
    }
    /** Inverse of [[Writer.consumer]]: internal (kind01, name). */
    def consumer(): (Int, String) = {
      val kind01 = if (u8() == 2) 1 else 0
      (kind01, identifierName())
    }
    def bytes(): Array[Byte] = {
      val n = u32()
      val b = java.util.Arrays.copyOfRange(payload, pos, pos + n); pos += n; b
    }
  }

  // ---- message codecs (shared client/broker, golden-pinned) ----

  /** SendMessages message: `[id u128][headers_len u32][length u32]
    * [payload]` — no client timestamp field in the published layout; the
    * event time rides the client-CHOSEN u128 id as µs (a legal id choice;
    * the embedded broker adopts it as the message timestamp, which is the
    * declared stand-in for a real server's append-time stamping).
    */
  def writeSendMessage(w: Writer, tsMs: Long, payload: Array[Byte]): Unit = {
    w.u128(tsMs * 1000L).u32(0).bytes(payload); ()
  }

  def readSendMessage(r: Reader): (Long, Array[Byte]) = {
    val (idLo, _) = r.u128()
    r.skip(r.u32()) // headers (none sent by this client)
    (idLo / 1000L, r.bytes())
  }

  /** Polled message: `[offset u64][state u8][timestamp u64 µs][id u128]
    * [checksum u32][headers_len u32][length u32][payload]`; state 1 =
    * available, checksum = CRC32 of the payload.
    */
  def writePolledMessage(w: Writer, offset: Long, tsMs: Long,
      payload: Array[Byte]): Unit = {
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    w.u64(offset).u8(1).u64(tsMs * 1000L).u128(tsMs * 1000L)
      .u32(crc.getValue.toInt).u32(0).bytes(payload)
    ()
  }

  /** CRC-checked decode — a mismatch is a wire failure (the session layer
    * reconnects and retries, the .ss corrupt-CRC discipline).
    */
  def readPolledMessage(r: Reader): PolledMessage = {
    val offset = r.u64()
    r.u8() // state
    val tsUs = r.u64()
    r.u128() // id (mirrors tsUs — not needed on decode)
    val checksum = r.u32()
    r.skip(r.u32()) // headers
    val payload = r.bytes()
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    if (crc.getValue.toInt != checksum)
      throw new java.io.IOException(
        s"iggy: polled message checksum mismatch at offset $offset")
    PolledMessage(offset, tsUs / 1000L, payload)
  }

  // ---- response-payload codecs (published layouts, golden-pinned) ----

  /** Stream base block: `[id u32][created_at u64 µs][topics_count u32]
    * [size_bytes u64][messages_count u64][name u8-str]`. A StreamDetails
    * payload is this base followed by one topic base per topic.
    */
  final case class StreamBase(id: Int, createdAtUs: Long, topicsCount: Int,
      sizeBytes: Long, messagesCount: Long, name: String)

  def writeStreamBase(w: Writer, s: StreamBase): Unit = {
    w.u32(s.id).u64(s.createdAtUs).u32(s.topicsCount)
      .u64(s.sizeBytes).u64(s.messagesCount).str(s.name)
    ()
  }

  def readStreamBase(r: Reader): StreamBase =
    StreamBase(r.u32(), r.u64(), r.u32(), r.u64(), r.u64(), r.str())

  /** Topic base block: `[id u32][created_at u64 µs][partitions_count u32]
    * [message_expiry u32 s (0 = server default)][max_topic_size u64
    * (0 = server default)][replication_factor u8 (0 = server default)]
    * [size_bytes u64][messages_count u64][name u8-str]`. A TopicDetails
    * payload is this base followed by one partition block per partition.
    */
  final case class TopicBase(id: Int, createdAtUs: Long, partitionsCount: Int,
      messageExpiry: Int, maxTopicSize: Long, replicationFactor: Int,
      sizeBytes: Long, messagesCount: Long, name: String)

  def writeTopicBase(w: Writer, t: TopicBase): Unit = {
    w.u32(t.id).u64(t.createdAtUs).u32(t.partitionsCount)
      .u32(t.messageExpiry).u64(t.maxTopicSize).u8(t.replicationFactor)
      .u64(t.sizeBytes).u64(t.messagesCount).str(t.name)
    ()
  }

  def readTopicBase(r: Reader): TopicBase =
    TopicBase(r.u32(), r.u64(), r.u32(), r.u32(), r.u64(), r.u8(),
      r.u64(), r.u64(), r.str())

  /** Partition block: `[id u32 (1-based)][created_at u64 µs]
    * [segments_count u32][current_offset u64][size_bytes u64]
    * [messages_count u64]`. `current_offset` is the LAST appended offset —
    * 0 both for an empty partition and one message; `messages_count`
    * disambiguates (iggy's own convention).
    */
  final case class PartitionBlock(id: Int, createdAtUs: Long,
      segmentsCount: Int, currentOffset: Long, sizeBytes: Long,
      messagesCount: Long) {
    /** Next offset to be assigned (this library's planning cursor). */
    def tip: Long = if (messagesCount == 0L) 0L else currentOffset + 1L
  }

  def writePartitionBlock(w: Writer, p: PartitionBlock): Unit = {
    w.u32(p.id).u64(p.createdAtUs).u32(p.segmentsCount)
      .u64(p.currentOffset).u64(p.sizeBytes).u64(p.messagesCount)
    ()
  }

  def readPartitionBlock(r: Reader): PartitionBlock =
    PartitionBlock(r.u32(), r.u64(), r.u32(), r.u64(), r.u64(), r.u64())

  /** `[partition_id u32][current_offset u64][stored_offset u64]`. */
  final case class ConsumerOffsetInfo(partitionId: Int, currentOffset: Long,
      storedOffset: Long)

  def writeConsumerOffsetInfo(w: Writer, o: ConsumerOffsetInfo): Unit = {
    w.u32(o.partitionId).u64(o.currentOffset).u64(o.storedOffset)
    ()
  }

  def readConsumerOffsetInfo(r: Reader): ConsumerOffsetInfo =
    ConsumerOffsetInfo(r.u32(), r.u64(), r.u64())

  /** Consumer-group member block: `[id u32 (the member's client id)]
    * [partitions_count u32][partition ids u32 × count (1-based)]`.
    */
  final case class GroupMember(clientId: Long, partitionIds: Seq[Int])

  /** ConsumerGroupDetails: `[id u32][partitions_count u32]
    * [members_count u32][name u8-str]` + member blocks.
    */
  final case class GroupDetails(id: Int, partitionsCount: Int,
      name: String, members: Seq[GroupMember])

  /** Member client ids are u32 ON THE WIRE — a loud bound check instead
    * of a silent `.toInt` truncation, which would alias members above
    * 2^32 and break membership lookups (id generators must stay in u32
    * space, as EmbeddedIggy's clientSeq does).
    */
  def writeGroupDetails(w: Writer, g: GroupDetails): Unit = {
    w.u32(g.id).u32(g.partitionsCount).u32(g.members.size).str(g.name)
    g.members.foreach { m =>
      require(m.clientId >= 0L && m.clientId <= 0xffffffffL,
        s"GroupMember.clientId ${m.clientId} outside the u32 wire bound")
      w.u32(m.clientId.toInt).u32(m.partitionIds.size)
      m.partitionIds.foreach(w.u32)
    }
  }

  def readGroupDetails(r: Reader): GroupDetails = {
    val (id, parts, n, name) = (r.u32(), r.u32(), r.u32(), r.str())
    GroupDetails(id, parts, name, Seq.fill(n) {
      val cid = r.u32() & 0xffffffffL
      GroupMember(cid, Seq.fill(r.u32())(r.u32()))
    })
  }

  /** ClientInfoDetails (GetMe): `[client_id u32][user_id u32]
    * [transport u8 (1 = TCP)][address u32-len str]
    * [consumer_groups_count u32]` + per joined group
    * `[stream_id u32][topic_id u32][group_id u32]`.
    */
  final case class ClientInfo(clientId: Long, userId: Long, transport: Int,
      address: String, groups: Seq[(Int, Int, Int)])

  def writeClientInfo(w: Writer, c: ClientInfo): Unit = {
    require(c.clientId >= 0L && c.clientId <= 0xffffffffL,
      s"ClientInfo.clientId ${c.clientId} outside the u32 wire bound")
    w.u32(c.clientId.toInt).u32(c.userId.toInt).u8(c.transport)
      .lstr(c.address).u32(c.groups.size)
    c.groups.foreach { case (s, t, g) => w.u32(s).u32(t).u32(g) }
  }

  def readClientInfo(r: Reader): ClientInfo = {
    val cid = r.u32() & 0xffffffffL
    val uid = r.u32() & 0xffffffffL
    val transport = r.u8()
    val addr = r.lstr()
    ClientInfo(cid, uid, transport, addr,
      Seq.fill(r.u32())((r.u32(), r.u32(), r.u32())))
  }

  // ---- framing ----

  /** `[u32 len][u32 code][payload]`, len = 4 + payload.length. */
  def writeRequest(out: OutputStream, code: Int, payload: Array[Byte]): Unit = {
    val w = new Writer
    w.u32(payload.length + 4).u32(code).raw(payload)
    out.write(w.buf.array, 0, w.buf.size)
  }

  /** `[u32 status][u32 len][payload]`. */
  def writeResponse(out: OutputStream, status: Int, payload: Array[Byte]): Unit = {
    val w = new Writer
    w.u32(status).u32(payload.length).raw(payload)
    out.write(w.buf.array, 0, w.buf.size)
  }

  def readRequest(in: InputStream): Option[(Int, Array[Byte])] = {
    val head = readN(in, 4).getOrElse(return None)
    val len = new Reader(head).u32()
    val body = readN(in, len).getOrElse(return None)
    val r = new Reader(body)
    val code = r.u32()
    Some((code, java.util.Arrays.copyOfRange(body, 4, body.length)))
  }

  def readResponse(in: InputStream): (Int, Array[Byte]) = {
    val head = readN(in, 8).getOrElse(throw new EOFException("iggy: closed"))
    val r = new Reader(head)
    val status = r.u32()
    val len = r.u32()
    val body = readN(in, len).getOrElse(throw new EOFException("iggy: closed"))
    (status, body)
  }

  private def readN(in: InputStream, n: Int): Option[Array[Byte]] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val read = in.read(buf, off, n - off)
      if (read < 0) return if (off == 0) None else throw new EOFException("iggy: truncated frame")
      off += read
    }
    Some(buf)
  }

  def buffered(in: InputStream): InputStream =
    new java.io.BufferedInputStream(in, 1 << 16)
  def buffered(out: OutputStream): OutputStream =
    new java.io.BufferedOutputStream(out, 1 << 16)
}
