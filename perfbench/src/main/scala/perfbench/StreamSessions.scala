package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.etl.Features
import graft.streaming.StreamingPipeline

/** An open-loop generator writes seeded raw-event CSV files into a watched
  * directory on a fixed schedule; the stream runs `cleanStream` ->
  * `sessionIdsStream` into a sink that keeps every assignment. Each event's
  * latency is the commit time of the micro-batch that holds it minus the
  * time its file was due on the generator's schedule.
  *
  * `dedupStream` is not in the chain: it and `sessionIdsStream` each define
  * a watermark on `timestamp`, and Spark rejects the composition
  * ("Redefining watermark is disallowed"). Duplicate lines therefore reach
  * the sessionizer, and the batch reference keeps them too.
  */
object StreamSessions extends Workload {
  val name = "stream_sessions"
  val Users = 2000
  val FileIntervalMs = 100L
  val EventsPerFile = 200
  val WarmupS = 6.0
  /** A fixed trigger keeps micro-batches the same size from run to run; an
    * as-soon-as-possible trigger lets one slow batch grow the next.
    */
  val TriggerMs = 1000L
  private val FirstId = 1000000L

  private val schema = StructType(
    StructField("event_id", LongType) +: Gen.Columns.tail.map(StructField(_, StringType)))

  final case class Published(file: Int, dueMs: Long, atMs: Long, rawRows: Int)
  final case class MicroBatch(id: Long, commitMs: Long, triggerMs: Long, addBatchMs: Long,
      inputRows: Long, stateRows: Long, stateBytes: Long, stateCommitMs: Long)

  /** File `f` of the seeded event sequence: `EventsPerFile` events, one
    * event-time second apart, with ~1 % exact duplicate lines.
    */
  private def fileLines(seed: Long, f: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 1000003L + f)
    (0 until EventsPerFile).flatMap { j =>
      val idx = f.toLong * EventsPerFile + j
      val u = r.nextInt(Users)
      val (ts, bad) = Gen.timestamp(r, 1735689600L + idx)
      val x = Gen.Raw(FirstId + idx, ts,
        if (r.nextInt(100) == 0) null else Gen.userName(r, u),
        Gen.eventTypeName(r), "success", "low", Gen.ipAddress(r), bad)
      val line = Gen.csvLine(x)
      if (r.nextInt(100) == 0) Seq(line, line) else Seq(line)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.work.resolve("stream")
    val in = root.resolve("in")
    val staging = root.resolve("staging")
    Files.createDirectories(in); Files.createDirectories(staging)

    val published = new ConcurrentHashMap[Int, Published]()
    val sunk = new ConcurrentHashMap[Long, Array[StreamingPipeline.SessionAssignment]]()
    val batches = new ConcurrentHashMap[Long, MicroBatch]()

    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p: StreamingQueryProgress = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val ops = p.stateOperators.toSeq
        batches.put(p.batchId, MicroBatch(p.batchId, start + d("triggerExecution"),
          d("triggerExecution"), d("addBatch"), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum))
      }
    }
    spark.streams.addListener(progressListener)

    def publish(f: Int, due: Long): Unit = {
      val lines = fileLines(ctx.seed, f)
      val tmp = staging.resolve(f"part-$f%06d.csv")
      Files.write(tmp, (Gen.Columns.mkString(",") +: lines).asJava)
      Files.move(tmp, in.resolve(f"part-$f%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
      published.put(f, Published(f, due, System.currentTimeMillis(), lines.size))
    }
    // open-loop generator: file f is due at t0 + (f - 1) * interval,
    // whatever the stream is doing
    @volatile var stopGen = false
    @volatile var t0 = 0L
    val generator = new Thread(() => {
      var f = 1
      while (!stopGen) {
        val due = t0 + (f - 1) * FileIntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopGen) { publish(f, due); f += 1 }
      }
    }, "perfbench-generator")

    // set-up: start the query and wait for the commit of the first file,
    // which pays the cold planning and codegen; then start the schedule
    val setupStart = System.nanoTime()
    publish(0, System.currentTimeMillis())
    val raw = spark.readStream.schema(schema).option("header", "true").csv(in.toString)
    val assigned = StreamingPipeline.sessionIdsStream(spark,
      StreamingPipeline.cleanStream(raw), gapMinutes = 30,
      stateTtlMinutes = 7 * 24 * 60)
    val query = assigned.writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingPipeline.SessionAssignment], id: Long) =>
        sunk.put(id, ds.collect())
        ()
      }
      .start()

    try {
      while (batches.values.asScala.map(_.inputRows).sum < published.get(0).rawRows) Thread.sleep(10)
      val setupS = ctx.sessionReadyS + (System.nanoTime() - setupStart) / 1e9
      ctx.setupDone()
      t0 = System.currentTimeMillis()
      generator.start()
      Thread.sleep((WarmupS * 1000).toLong)

      val share = if (ctx.trace) 0.5 else 1.0
      val m0 = System.currentTimeMillis()
      Thread.sleep((ctx.seconds * share * 1000).toLong)
      val m1 = System.currentTimeMillis()
      var tracedWindow: Option[((TraceCounters, Double), Long, Long)] = None
      if (ctx.trace) {
        val tr = ctx.tracer
        tr.start()
        val s = System.currentTimeMillis()
        Thread.sleep((ctx.seconds * share * 1000).toLong)
        tracedWindow = Some((tr.stop(), s, System.currentTimeMillis()))
      }
      stopGen = true
      generator.join()
      query.processAllAvailable()
      query.stop()
      ctx.tracer.drain()
      spark.streams.removeListener(progressListener)

      // --- metrics over the measured windows ----------------------------
      val pubs = published.values.asScala.toSeq.sortBy(_.file)
      val bs = batches.values.asScala.toSeq.sortBy(_.id)
      val commitOf = bs.map(b => b.id -> b.commitMs).toMap
      def fileOf(eventId: Long): Int = ((eventId - FirstId) / EventsPerFile).toInt
      val pubByFile = pubs.map(p => p.file -> p).toMap
      // latency runs from when the event's file was due, so a generator
      // stall counts against the events it delays
      val events = sunk.asScala.toSeq.flatMap { case (b, rows) =>
        rows.map { a =>
          val due = pubByFile(fileOf(a.event_id)).dueMs
          (commitOf(b) - due, due)
        }
      }
      def window(lo: Long, hi: Long): Map[String, Double] = {
        val lat = events.filter(e => e._2 >= lo && e._2 < hi).map(_._1.toDouble)
        val wb = bs.filter(b => b.commitMs >= lo && b.commitMs < hi && b.inputRows > 0)
        Map("latency_ms_p50" -> Stats.percentile(lat, 50),
          "latency_ms_p90" -> Stats.percentile(lat, 90),
          "job_s" -> Stats.median(wb.map(_.triggerMs / 1e3)),
          "rows_per_s" -> lat.size / ((hi - lo) / 1e3),
          "samples" -> lat.size.toDouble, "batches" -> wb.size.toDouble)
      }
      val measured = window(m0, m1)
      var layers = Map.empty[String, Double]
      tracedWindow.foreach { case (w, lo, hi) =>
        val tw = window(lo, hi)
        val wb = bs.filter(b => b.commitMs >= lo && b.commitMs < hi)
        val data = wb.filter(_.inputRows > 0)
        layers ++= ctx.tracer.runtimeMetrics(w, wb.size, ctx.cores)
        layers += "trace.overhead_s" -> (tw("job_s") - measured("job_s"))
        // rows published by a batch's commit but not yet read by it
        var cum = 0L
        val backlog = bs.map { b =>
          cum += b.inputRows
          pubs.filter(_.atMs <= b.commitMs).map(_.rawRows.toLong).sum - cum
        }
        layers ++= Map(
          "streaming.batches" -> wb.size.toDouble,
          "streaming.trigger_ms_p50" -> Stats.median(data.map(_.triggerMs.toDouble)),
          "streaming.add_batch_ms_p50" -> Stats.median(data.map(_.addBatchMs.toDouble)),
          "streaming.state_rows" -> bs.last.stateRows.toDouble,
          "streaming.state_bytes" -> bs.last.stateBytes.toDouble,
          "streaming.state_commit_ms" -> Stats.median(data.map(_.stateCommitMs.toDouble)),
          "streaming.backlog_rows_max" -> backlog.max.toDouble,
          "streaming.generator_late_ms" -> pubs.map(p => (p.atMs - p.dueMs).toDouble).max)
      }

      // --- correctness: batch sessionization of the same in-order rows -----
      val batchRaw = spark.read.schema(schema).option("header", "true").csv(in.toString)
      val expected = Features.addSessionFeatures(StreamingPipeline.cleanStream(batchRaw), 30)
        .select(col("event_id"), col("user_id"), col("session_id"))
      val got = sunk.values.asScala.toSeq.flatten
        .map(a => (a.event_id, a.user_id, a.session_id)).toDF("event_id", "user_id", "session_id")
      val mismatches = expected.exceptAll(got).count() + got.exceptAll(expected).count()
      val outRows = got.count()

      val e2e = Map("setup_s" -> setupS, "job_s" -> measured("job_s"),
        "rows_per_s" -> measured("rows_per_s"),
        "latency_ms_p50" -> measured("latency_ms_p50"),
        "latency_ms_p90" -> measured("latency_ms_p90"))
      Outcome(e2e, layers, attempted = outRows, failed = mismatches, checks = Nil,
        notes = Map("measured" -> measured, "files" -> pubs.size,
          "batches" -> bs.size, "events_out" -> outRows))
    } finally {
      stopGen = true
      if (query.isActive) query.stop()
    }
  }
}
