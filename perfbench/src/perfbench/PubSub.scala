package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.log.TopicLog
import graft.model.{Envelope, TopicName}
import graft.streaming.{BatchReceivePolicy, Subscription, SubscriptionType}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Open loop over the message-queue core. One generator thread appends
  * fixed-size envelope batches, built from the fixture's `events` rows,
  * to a `TopicLog` on a fixed schedule (`stageAppend` then
  * `publishManifest`); each batch carries its creation time as
  * `publish_time`. One Exclusive `Subscription` on a processing-time
  * trigger consumes on the same session and records, per microbatch, the
  * (partition, offset, sequence_id, key) it was handed.
  *
  * Set-up appends a primer batch, starts the subscription, then appends
  * `WarmupBatches` back to back: without them the window's first publish
  * took about twice as long as its twentieth, as the JVM warmed.
  *
  * After the window the consumer is stopped and a second Exclusive
  * subscription, on a cursor of its own, replays the whole topic from the
  * earliest offset with an AvailableNow trigger: it runs triggers back to
  * back until it has caught up, then ends. The time from its start to its
  * end is the consumer's catch-up time. Each trigger takes at most
  * `ReplayAppendsPerTrigger` appends' files.
  *
  * The seed picks which events fill each batch, and so the keys and the
  * partition routing. Sequence ids are `batch * 1000000 + row`. */
object PubSub {
  // One append costs about 0.45 s of per-call floor at 1000 rows, so one
  // batch per second is about half load; 2 batches/s overloads the
  // session (the backlog grows without bound).
  val Partitions = 4
  val BatchRows = 1000
  val RatePerSec = 1.0
  val TriggerMs = 200L
  val WarmupBatches = 12
  val ReplayAppendsPerTrigger = 2

  private val batchSchema = StructType(Seq(
    StructField(Envelope.Key, StringType),
    StructField(Envelope.Value, BinaryType),
    StructField(Envelope.ProducerName, StringType),
    StructField(Envelope.SequenceId, LongType),
    StructField(Envelope.PublishTime, TimestampType),
    StructField(Envelope.EventTime, TimestampType)))

  def run(spark: SparkSession, sfDir: String, seed: Long, seconds: Double, workDir: String,
          rec: Recorder): Unit = {
    val events = Envelope.normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .select("user_id", "props", "ts").collect()
    val periodMs = 1000.0 / RatePerSec
    val nBatches = math.ceil(seconds * 1000 / periodMs).toInt
    val total = 1 + WarmupBatches + nBatches
    val rnd = new scala.util.Random(seed)
    // batch 0 is the primer appended before subscribing (a subscription
    // on a never-appended topic fails to resolve its path), the next
    // WarmupBatches warm up, then come the window's batches
    val contents: IndexedSeq[IndexedSeq[(String, Array[Byte], Long, Timestamp)]] =
      (0 until total).map { b =>
        (0 until BatchRows).map { i =>
          val e = events(rnd.nextInt(events.length))
          (s"k${e.getLong(0)}", e.getString(1).getBytes("UTF-8"),
            b * 1000000L + i, e.getTimestamp(2))
        }
      }
    rec.put("produced_keys", contents.map(_.map(_._1)))
    // Each batch is due at its slot start plus a seeded offset below one
    // trigger interval. The trigger fires on a wall-clock grid of that
    // interval, so without the offset every batch of a run would share
    // one phase against the grid, set by when the run happened to start.
    val offsets = (0 until total).map(_ => rnd.nextDouble() * TriggerMs)

    def batchFrame(b: Int, createdMs: Double) = {
      val created = new Timestamp(createdMs.toLong)
      val rows = contents(b).map { case (k, v, seq, ts) =>
        Row(k, v, "perfbench-generator", seq, created, ts)
      }
      spark.createDataFrame(rows.asJava, batchSchema)
    }

    val log = new TopicLog(spark, s"$workDir/topics", TopicName.parse("perfbench-events"),
      Partitions)
    val deliveries = new ConcurrentLinkedQueue[Map[String, Any]]()
    val replayed = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var deliveredRows = 0L

    def append(b: Int, dueMs: Double, kind: String): Unit = {
      val created = Clock.nowMs
      val t = new OpTimer(s"append#$b")
      OpTag.set(spark, t.id)
      val err =
        try {
          val df = t.phase("entry.build")(batchFrame(b, created))
          val staged = t.phase("log.stage")(log.stageAppend(df))
          t.phase("log.publish")(log.publishManifest(staged))
          None
        } catch { case NonFatal(e) => Some(e) }
      OpTag.set(spark, null)
      rec.op(t.record(kind, err, Map("batch" -> b, "due" -> dueMs, "created" -> created,
        "rows" -> BatchRows)))
    }

    def consume(kind: String, policy: BatchReceivePolicy,
                into: ConcurrentLinkedQueue[Map[String, Any]]) = new Subscription(log,
      s"perfbench-$kind", SubscriptionType.Exclusive, checkpointRoot = s"$workDir/cursors",
      policy = policy
    ).consume { (mb, epoch) =>
      val t = new OpTimer(s"$kind#$epoch")
      OpTag.set(spark, t.id)
      val rows = t.phase("deliver")(mb.select(Envelope.Partition, Envelope.Offset,
        Envelope.SequenceId, Envelope.Key).collect())
      OpTag.set(spark, null)
      if (rows.nonEmpty) into.add(Map(
        "epoch" -> epoch, "t" -> t.t0,
        "partition" -> rows.map(_.getInt(0)).toSeq,
        "offset" -> rows.map(_.getLong(1)).toSeq,
        "seq" -> rows.map(_.getLong(2)).toSeq,
        "key" -> rows.map(_.getString(3)).toSeq))
      if (into eq deliveries) deliveredRows += rows.length
      rec.op(t.record(kind, None, Map("epoch" -> epoch, "rows" -> rows.length)))
    }

    append(0, Clock.nowMs, "primer")
    var query = consume("deliver",
      BatchReceivePolicy(trigger = Trigger.ProcessingTime(TriggerMs)), deliveries)
    val errors = scala.collection.mutable.ArrayBuffer[String]()

    def awaitDelivered(batches: Int, timeoutMs: Long): Boolean = {
      val rows = batches.toLong * BatchRows
      val deadline = System.currentTimeMillis() + timeoutMs
      while (deliveredRows < rows && query.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(2)
      deliveredRows >= rows
    }

    def stop(): Unit = {
      query.stop()
      query.exception.foreach(e => errors += e.getMessage)
    }

    try {
      require(awaitDelivered(1, 120000),
        s"primer batch not delivered: ${query.exception.map(_.getMessage).getOrElse("timeout")}")
      for (b <- 1 to WarmupBatches) append(b, Clock.nowMs, "warmup")
      require(awaitDelivered(1 + WarmupBatches, 120000),
        s"warm-up not delivered: ${query.exception.map(_.getMessage).getOrElse("timeout")}")
      rec.mark("ready")

      rec.mark("measure_start")
      val start = Clock.nowMs
      val generator = new Thread(() => {
        for (k <- 1 to nBatches) {
          val b = WarmupBatches + k
          val due = start + (k - 1) * periodMs + offsets(b)
          val wait = due - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          append(b, due, "append")
        }
      }, "perfbench-generator")
      generator.start()
      val windowEnd = start + seconds * 1000
      while (Clock.nowMs < windowEnd) Thread.sleep(5)
      rec.mark("measure_end")
      generator.join()
      rec.mark("generator_done")
      // an undelivered batch is named by the output check, not here
      awaitDelivered(1 + WarmupBatches + nBatches, 60000): Unit
      rec.mark("drained")

      stop()
      rec.mark("replay_start")
      query = consume("replay",
        BatchReceivePolicy(maxFilesPerTrigger = Some(ReplayAppendsPerTrigger * Partitions)),
        replayed)
      // a failed query is recorded by stop(), and its batches named by the check
      try query.awaitTermination(60000): Unit catch { case NonFatal(_) => () }
      rec.mark("replay_end")
    } finally {
      stop()
      rec.put("stream_error", if (errors.isEmpty) None else Some(errors.mkString("; ")))
      rec.put("deliveries", deliveries.asScala.toSeq)
      rec.put("replayed", replayed.asScala.toSeq)
      rec.put("pubsub", Map("partitions" -> Partitions, "batch_rows" -> BatchRows,
        "rate_per_s" -> RatePerSec, "trigger_ms" -> TriggerMs, "warmup_batches" -> WarmupBatches,
        "batches" -> nBatches, "replay_appends_per_trigger" -> ReplayAppendsPerTrigger))
    }
  }
}
