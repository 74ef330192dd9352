package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.facade.SeaStreamer
import graft.facade.SeaStreamer.{Connection, ConsumerOptions}
import graft.iggy.EmbeddedIggy
import graft.kafka.EmbeddedKafka
import graft.redis.EmbeddedRedis

/** Closed loop, one client at a time: seeded 256 B messages on 4 shards
  * are produced into kafka, redis, iggy and `.ss`, consumed back, then
  * relayed exactly-once through all eight source→destination corners —
  * the reference benchmark's producer / consumer / relay shape, driven
  * through the `SeaStreamer` facade.
  */
final class TransportWorkload(s: Settings, tr: Tracer) extends Workload(s, tr) {
  import TransportWorkload._

  private var kafka: EmbeddedKafka = _
  private var redis: EmbeddedRedis = _
  private var iggy: EmbeddedIggy = _
  private var input: DataFrame = _
  private var expected: (Long, Long) = _
  private var ssRun = 0

  def layerShape: Layers.Shape = Layers.Shape(Messages.toInt, PayloadBytes, 1 << 20)

  private def ssDir: Path = s.out.resolve(s"ss-$ssRun")

  /** A fresh, empty broker (or `.ss` directory) for `backend`. */
  private def fresh(backend: String): Unit = backend match {
    case "kafka" => if (kafka != null) kafka.close(); kafka = new EmbeddedKafka
    case "redis" => if (redis != null) redis.close(); redis = new EmbeddedRedis
    case "iggy" => if (iggy != null) iggy.close(); iggy = new EmbeddedIggy
    case "ss" => Env.deleteTree(ssDir); ssRun += 1
  }

  private def connect(backend: String): Connection = SeaStreamer.connect(
    backend match {
      case "kafka" => s"kafka://${kafka.host}:${kafka.port}"
      case "redis" => s"redis://${redis.host}:${redis.port}"
      case "iggy" => s"iggy://${iggy.host}:${iggy.port}"
      case "ss" => s"file://$ssDir"
    }, spark)

  private def send(backend: String, df: DataFrame, stream: String): Unit =
    connect(backend).createProducer(stream, redisShards = Shards).send(df)

  private def read(backend: String, stream: String): DataFrame =
    connect(backend).createConsumer(Seq(stream),
      ConsumerOptions(live = false, redisShards = Shards))

  def setUp(): Unit = {
    spark = Env.session(s)
    Backends.foreach(fresh)
    input = envelope(s.seed, Messages).persist(StorageLevel.MEMORY_ONLY)
    expected = checksum(input)
    // warmup: one small round trip per backend, on brokers the timed
    // section replaces
    val warm = envelope(s.seed + 1, WarmupMessages)
    Backends.foreach { b =>
      send(b, warm, "warm")
      read(b, "warm").queryExecution.toRdd.count()
    }
  }

  def measure(r: Report): Unit = {
    // each timed produce starts against an empty broker; the last run's
    // data stays for consume and relay
    for (b <- Backends; i <- 0 until Runs) {
      fresh(b)
      r.timed("produce", b, i, Messages) {
        tr.span(s"facade.send.$b")(send(b, input, Stream))
      }
    }
    for (b <- Backends) {
      for (i <- 0 until Runs)
        r.timed("consume", b, i, Messages) {
          tr.span(s"facade.consume.$b")(Env.force(tr, read(b, Stream)))
        }
      tr.span("check")(verify(r, s"$b consume", read(b, Stream)))
    }
    val conns = Backends.map(b => b -> connect(b)).toMap
    for (src <- Backends; dst <- Seq("kafka", "redis")) {
      val corner = s"$src-$dst"
      val out = s"${Stream}_$src"
      Env.collectGarbage()
      val n = r.timed("relay", corner, 0, Messages) {
        tr.span(s"facade.relay.$corner")(SeaStreamer.relayExactlyOnce(
          conns(src), conns(dst), Seq(Stream), anchor = s"a-$corner",
          rename = _ => out, redisShards = Shards))
      }
      r.check(n == Messages, s"relay $corner moved $n of $Messages")
      tr.span("check")(verify(r, s"relay $corner", read(dst, out)))
    }
  }

  /** Exact count and payload checksum against the produced input. */
  private def verify(r: Report, what: String, df: DataFrame): Unit = {
    val got = checksum(df)
    r.check(got == expected, s"$what: (count, crc sum) $got, expected $expected")
  }

  private def checksum(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), coalesce(sum(crc32(col("payload"))), lit(0L)))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** `n` envelope rows whose payload bytes derive from the seed. */
  private def envelope(seed: Long, n: Long): DataFrame = {
    val h = unhex(sha2(concat_ws(":", lit(seed.toString), col("id").cast("string")), 256))
    spark.range(n).select(
      lit(Stream).as("stream_key"),
      (col("id") % Shards).as("shard_id"),
      col("id").as("sequence"),
      timestamp_millis(lit(1700000000000L) + col("id")).as("timestamp"),
      concat(Seq.fill(PayloadBytes / 32)(h): _*).as("payload"))
  }
}

object TransportWorkload {
  val Backends = Seq("kafka", "redis", "iggy", "ss")
  val Stream = "bench"
  val Shards = 4
  val PayloadBytes = 256
  /** Messages per cell. */
  val Messages = 60000L
  /** Timed produce and consume runs per backend; odd, so the median is one
    * run's time, and a slow first run does not move it.
    */
  val Runs = 3
  val WarmupMessages = 4000L
}
