package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.facade.SeaStreamer
import graft.facade.SeaStreamer.{AutoStreamReset, ConsumerOptions}
import graft.kafka.{EmbeddedKafka, KafkaClient}

/** Open loop: one generator thread with one connection sends seeded keyed
  * events into the embedded kafka at a fixed rate, whatever the query is
  * doing. A Structured Streaming query reads them through the facade's
  * kafka consumer, drops duplicates within a watermark and emits to a
  * `foreachBatch` sink that stamps emission times. Then the same query
  * (same checkpoint) restarts and drains a pre-loaded backlog.
  */
final class StreamingWorkload(s: Settings, tr: Tracer) extends Workload(s, tr) {
  import StreamingWorkload._

  private var kafka: EmbeddedKafka = _
  private var queries = 0

  def layerShape: Layers.Shape = Layers.Shape(100000, 40, 64 << 10)

  /** Emissions seen by the sink: event ids with their latency. */
  private final class Sink {
    val ids = ArrayBuffer.empty[Long]
    val latencyMs = ArrayBuffer.empty[Double]
    @volatile var emitted = 0L
    @volatile var lastEmitNanos = 0L
    def add(rows: Array[org.apache.spark.sql.Row], now: Long): Unit = synchronized {
      rows.foreach { row =>
        ids += row.getLong(0)
        latencyMs += (now - row.getLong(1)) / 1e6
      }
      emitted += rows.length
      lastEmitNanos = now
    }
  }

  private def startQuery(topic: String, checkpoint: String, sink: Sink,
      onBatch: () => Unit = () => ()): StreamingQuery = {
    val src = SeaStreamer.connect(s"kafka://${kafka.host}:${kafka.port}", spark)
      .createConsumer(Seq(topic),
        ConsumerOptions(autoStreamReset = AutoStreamReset.Earliest))
    val fields = split(col("payload").cast("string"), ",")
    src.select(col("timestamp"), fields(0).cast("long").as("event_id"),
        fields(2).cast("long").as("sched_ns"))
      .withWatermark("timestamp", Watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("event_id", "sched_ns").collect()
        sink.add(rows, System.nanoTime())
        onBatch()
        ()
      }
      .start()
  }

  private def checkpoint(): String = {
    queries += 1
    s.out.resolve(s"checkpoint-$queries").toString
  }

  /** Waits until the sink holds `n` emissions or `timeoutS` passes. */
  private def await(sink: Sink, n: Long, q: StreamingQuery, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (sink.emitted < n && System.nanoTime() < deadline && q.isActive)
      Thread.sleep(2)
    sink.emitted >= n
  }

  /** Runs `q` until the sink holds `n` emissions, then stops it once its
    * last batch has committed: foreachBatch output is at-least-once, and a
    * batch stopped before its commit would replay on restart.
    */
  private def drainAndStop(sink: Sink, n: Long, q: StreamingQuery): Boolean =
    try {
      val ok = await(sink, n, q, DrainTimeoutS)
      q.processAllAvailable()
      ok
    } finally q.stop()

  def setUp(): Unit = {
    spark = Env.session(s)
    kafka = new EmbeddedKafka
    // warmup: the same query shape over a few events on its own topic
    val kc = new KafkaClient(kafka.host, kafka.port)
    try {
      kc.metadata(Seq("warm"))
      val now = System.currentTimeMillis()
      (0 until Partitions).foreach { p =>
        kc.produce("warm", p, (0 until 50).map { i =>
          (now, null: Array[Byte], s"${p * 50 + i},0,${System.nanoTime()}".getBytes(UTF_8))
        })
      }
    } finally kc.close()
    val sink = new Sink
    drainAndStop(sink, Partitions * 50L, startQuery("warm", checkpoint(), sink))
  }

  def measure(r: Report): Unit = {
    val plan = Schedule(s.seed, Rate, s.seconds)
    val n = plan.events.toLong
    val total = n + BacklogEvents
    val kc = new KafkaClient(kafka.host, kafka.port)
    val sink = new Sink
    val ckpt = checkpoint()
    @volatile var sentUnique = 0L
    var backlogMax = 0L
    try {
      kc.metadata(Seq(Topic))
      val q = startQuery(Topic, ckpt, sink, () =>
        backlogMax = math.max(backlogMax, sentUnique - sink.emitted))
      val start = r.mark()
      tr.span("stream.fixed_rate") {
        try plan.run(kc, r, n => sentUnique = n)
        finally drainAndStop(sink, n, q)
      }
      r.cell("stream", "fixed_rate", 0, n, start, Clock.nowMs)
      sink.synchronized {
        sink.ids.indices.filter(i => sink.ids(i) < n)
          .foreach(i => r.sample("latency_ms", sink.latencyMs(i)))
      }

      // backlog: loaded while the query is stopped, drained on restart
      Backlog(s.seed, n, BacklogEvents).load(kc)
      Env.collectGarbage()
      val d0 = r.mark()
      val drained = tr.span("stream.drain")(
        drainAndStop(sink, total, startQuery(Topic, ckpt, sink)))
      // the drain ends at the last emission, not at the poll that saw it
      val d1 = Clock.nowMs - (System.nanoTime() - sink.lastEmitNanos) / 1e6
      if (drained) r.cell("drain", "backlog", 0, BacklogEvents, d0, d1)
    } finally kc.close()
    r.values("backlog_max_msgs") = backlogMax.toDouble
    tr.span("check") {
      val counts = sink.synchronized(sink.ids.groupBy(identity).view.mapValues(_.size).toMap)
      (0L until total).foreach { id =>
        val c = counts.getOrElse(id, 0)
        r.check(c == 1, s"event $id emitted $c times")
      }
      val stray = counts.keys.count(id => id < 0 || id >= total)
      r.check(stray == 0, s"$stray emitted ids were never generated")
    }
  }
}

object StreamingWorkload {
  val Topic = "events"
  val Partitions = 4
  /** Events per second the generator sends, whatever the query does: a
    * small share of the rate at which the same query drains a backlog
    * (measured figures in perfbench/README.md). Each trigger then carries
    * about a thousand rows and its fixed cost (offset planning, WAL and
    * state commits, task launch) dominates: triggers run back to back, the
    * backlog stays under one trigger's worth of events, and latency
    * measures the per-trigger floor rather than queueing.
    */
  val Rate = 2000
  val Keys = 1000
  val DuplicateShare = 0.05
  val DisorderShare = 0.05
  val MaxDisorderMs = 2000
  val Watermark = "30 seconds"
  val BacklogEvents = 150000L
  val DrainTimeoutS = 60

  /** One send of event `id`, due `atNanos` after the generator's start,
    * to `partition` with event time `eventOffsetMs` after the start. A
    * duplicate is due later but carries its original's `schedNanos`.
    */
  final case class Send(atNanos: Long, id: Long, partition: Int,
      eventOffsetMs: Long, schedNanos: Long)

  /** The seeded fixed-rate schedule: skewed keys (Zipf, s = 1.1), a share
    * of events stamped up to 2 s in the past (out of order), and a share
    * re-sent 50–500 ms later with identical bytes (duplicates). Both delays
    * stay far inside the 30 s watermark, so every duplicate is dropped and
    * no event is dropped as late: exactly-once emission is checkable.
    */
  final case class Schedule(seed: Long, rate: Int, seconds: Int) {
    val events: Int = rate * seconds
    private val rnd = new java.util.Random(seed)
    private val zipf: Array[Double] = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private def key(): Int = {
      val i = java.util.Arrays.binarySearch(zipf, rnd.nextDouble())
      math.min(Keys - 1, if (i >= 0) i else -i - 1)
    }
    val keys: Array[Int] = new Array[Int](events)
    val sends: Array[Send] = {
      val out = ArrayBuffer.empty[Send]
      val gap = 1000000000L / rate
      for (i <- 0 until events) {
        val k = key()
        keys(i) = k
        val at = i * gap
        val disorder = if (rnd.nextDouble() < DisorderShare)
          1 + rnd.nextInt(MaxDisorderMs) else 0
        val p = k % Partitions
        out += Send(at, i, p, at / 1000000L - disorder, at)
        if (rnd.nextDouble() < DuplicateShare)
          out += Send(at + (50 + rnd.nextInt(451)) * 1000000L, i, p,
            at / 1000000L - disorder, at)
      }
      out.sortBy(_.atNanos).toArray
    }

    /** Runs the schedule on this thread: each due send goes out with its
      * scheduled time in the payload; how late it went out is recorded.
      */
    def run(kc: KafkaClient, r: Report, sent: Long => Unit): Unit = {
      val t0 = System.nanoTime() + 100000000L
      val t0Ms = System.currentTimeMillis() + 100L
      var i = 0
      var unique = 0L
      val byPart = Array.fill(Partitions)(ArrayBuffer.empty[(Long, Array[Byte], Array[Byte])])
      while (i < sends.length) {
        val now = System.nanoTime()
        val due = t0 + sends(i).atNanos
        if (due > now) LockSupport.parkNanos(math.min(due - now, 500000L))
        else {
          byPart.foreach(_.clear())
          while (i < sends.length && t0 + sends(i).atNanos <= now) {
            val e = sends(i)
            val payload = s"${e.id},${keys(e.id.toInt)},${t0 + e.schedNanos}"
            byPart(e.partition) += ((t0Ms + e.eventOffsetMs,
              keys(e.id.toInt).toString.getBytes(UTF_8),
              payload.getBytes(UTF_8)))
            r.sample("generator_late_ms", (now - (t0 + e.atNanos)) / 1e6)
            if (e.atNanos == e.schedNanos) unique += 1
            i += 1
          }
          byPart.zipWithIndex.foreach { case (recs, p) =>
            if (recs.nonEmpty) kc.produce(Topic, p, recs.toSeq)
          }
          sent(unique)
        }
      }
    }
  }

  /** Events loaded in bulk while the query is stopped. */
  final case class Backlog(seed: Long, firstId: Long, count: Long) {
    def load(kc: KafkaClient): Unit = {
      val now = System.currentTimeMillis()
      val rnd = new java.util.Random(seed ^ 0xbac1L)
      (firstId until firstId + count).grouped(1000).foreach { ids =>
        ids.groupBy(_ => rnd.nextInt(Partitions)).foreach { case (p, part) =>
          kc.produce(Topic, p, part.map(id =>
            (now, null: Array[Byte], s"$id,0,${System.nanoTime()}".getBytes(UTF_8))))
        }
      }
    }
  }
}
