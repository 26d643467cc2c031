package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, PipelineConfig, Summary}
import graft.etl.{Cleaning, Features, Normalization, Validation}

/** Shared context of one benchmark run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: Path, cores: Int, sessionReadyS: Double, spans: Spans) {
  lazy val tracer = new Tracer(spark)
  private val compileAtStart = CodeGenerator.compileTime
  /** Codegen compile seconds from session start to the end of set-up: the
    * cold compile cost (warm repetitions hit Spark's generated-class cache).
    * The counter sums over threads, so it is an upper bound.
    */
  var setupCompileS = 0.0
  def setupDone(): Unit = setupCompileS = (CodeGenerator.compileTime - compileAtStart) / 1e9
}

/** What a workload reports back to [[Main]]. `checks` are handed to the
  * Python side, which verifies them against DuckDB outside the timed region.
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checks: Seq[Map[String, Any]],
    notes: Map[String, Any])

object Batch {

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Repeat `body` until `seconds` have passed and at least `minReps` ran;
    * returns each repetition's seconds.
    */
  def timedLoop(seconds: Double, minReps: Int, maxReps: Int = 1000)(body: Int => Unit): Seq[Double] = {
    val start = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while ((out.size < minReps || (System.nanoTime() - start) / 1e9 < seconds) &&
        out.size < maxReps) {
      val s = System.nanoTime()
      body(out.size)
      out += (System.nanoTime() - s) / 1e9
    }
    out.toSeq
  }

  def time[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - s) / 1e9)
  }

  /** Median of `reps` timings of `body` (setup steps are repeated and the
    * median reported, so one slow repetition does not move set-up time).
    */
  def medianOf(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => time(body)._2))

  def batchE2e(reps: Seq[Double], rows: Long, setupS: Double): Map[String, Double] = {
    val job = Stats.median(reps)
    Map("setup_s" -> setupS, "job_s" -> job, "rows_per_s" -> rows / job,
      "latency_ms_p50" -> Stats.percentile(reps, 50) * 1e3,
      "latency_ms_p90" -> Stats.percentile(reps, 90) * 1e3)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def storageBytes(spark: SparkSession): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }

  private def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Per-layer probes of `graft.Pipeline` and `graft.etl`, each stage run
    * stage-at-a-time on its pinned input. `raw` is the frame `readRaw`
    * returns; `counts` reconcile the stage row counts. Returns the metrics
    * and the reconciliation checks attempted and failed.
    */
  def layerProbes(ctx: Ctx, raw: DataFrame, counts: Gen.Counts, outDir: Path): (Map[String, Double], Long, Long) = {
    val spark = ctx.spark
    val sp = ctx.spans
    val cfg = PipelineConfig(input = "", output = "")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def best(name: String)(body: => Unit): Double =
      (1 to 2).map(i => sp(name, "rep" -> i)(body)._2).min

    // time the scan before pinning: a persisted frame would serve it
    out("pipeline.read_s") = best("pipeline.read")(noop(raw))
    val rawPinned = pin(raw)

    def stage(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      val df = f(in)
      out(s"etl.${name}_s") = best(s"etl.$name")(noop(df))
      pin(df)
    }
    val filled = stage("fill", rawPinned)(d =>
      Cleaning.handleMissingValues(Cleaning.validateRequiredColumns(d)))
    val deduped = stage("dedup", filled)(Cleaning.removeDuplicates)
    val timed = stage("timestamps", deduped)(Normalization.standardizeTimestamps(_))
    val canon = stage("categoricals", timed)(Normalization.normalizeCategoricals)
    out("etl.fill_rows_out") = filled.count().toDouble
    out("etl.dedup_rows_out") = deduped.count().toDouble
    out("etl.timestamps_rows_out") = timed.count().toDouble
    out("etl.features_s") = best("etl.features")(noop(Features.runAll(canon, cfg.sessionGapMinutes)))
    out("etl.sessions_s") = best("etl.sessions")(noop(Features.addSessionFeatures(canon, cfg.sessionGapMinutes)))
    out("etl.baseline_s") = best("etl.baseline")(noop(Features.addUserActivityBaseline(canon)))
    Seq(filled, deduped, timed, canon).foreach(_.unpersist(blocking = true))

    val sorted = best("pipeline.transform_sorted")(noop(Pipeline.transform(rawPinned, cfg)))
    val unsorted = best("pipeline.transform_unsorted")(
      noop(Pipeline.transform(rawPinned, cfg.copy(sortOutput = false))))
    out("pipeline.sort_s") = sorted - unsorted

    val before = storageBytes(spark)._1
    val processed = Pipeline.transform(rawPinned, cfg).cache()
    processed.count()
    out("pipeline.cache_bytes") = (storageBytes(spark)._1 - before).toDouble

    val tr = ctx.tracer
    tr.start()
    val j0 = tr.jobsSoFar()
    out("etl.validation_s") = sp("etl.validation")(Validation.validateSchema(processed))._2
    val j1 = tr.jobsSoFar()
    out("etl.validation_jobs") = (j1 - j0).toDouble
    val csvOut = outDir.resolve("probe_write")
    out("pipeline.write_s") = sp("pipeline.write")(processed.coalesce(1).write
      .option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ssxxx")
      .mode("overwrite").csv(csvOut.toString))._2
    out("pipeline.write_bytes") = dirBytes(csvOut).toDouble
    val j2 = tr.jobsSoFar()
    out("pipeline.summary_s") = sp("pipeline.summary")(Summary.report(processed))._2
    out("pipeline.summary_jobs") = (tr.jobsSoFar() - j2).toDouble
    tr.stop()
    processed.unpersist(blocking = true)
    rawPinned.unpersist(blocking = true)

    // rows in - drops = rows out, stage by stage
    val recon = Seq(
      out("etl.fill_rows_out").toLong == counts.fillOut,
      out("etl.dedup_rows_out").toLong == counts.dedupOut,
      out("etl.timestamps_rows_out").toLong == counts.timestampsOut)
    (out.toMap, recon.size.toLong, recon.count(!_).toLong)
  }
}
