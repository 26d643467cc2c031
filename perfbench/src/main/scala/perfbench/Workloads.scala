package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Pipeline, PipelineConfig}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(CliCsv, StreamSessions)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The reference's own job: `Pipeline.run` with its defaults (gap 30,
  * validate warn, sorted single-file CSV) from a raw CSV to a processed
  * CSV.
  *
  * The traced run also measures the `graft.queries` / `graft.ext` layer
  * with [[Operators]], which is not an end-to-end workload of its own.
  */
object CliCsv extends Workload {
  val name = "cli_csv_60k"
  val Rows = 60000
  /** Set-up runs the job this many times. The JIT keeps compiling hot
    * paths for about five runs on this host (15, 4.7, 3.5, 3.0, 2.6, 2.6 s),
    * and timing runs that still speed up made the median swing by a third.
    */
  val Warmups = 5

  def run(ctx: Ctx): Outcome = {
    import Batch._
    val spark = ctx.spark
    val input = ctx.work.resolve("input").resolve("raw_events.csv")
    val outDir = ctx.work.resolve("out")
    var gen: (IndexedSeq[Gen.Raw], Gen.Counts) = null
    val genS = medianOf(3) {
      gen = Gen.rawEvents(ctx.seed, Rows)
      Gen.writeCsv(input, gen._1)
    }
    val (rows, counts) = gen
    val cfg = PipelineConfig(input = input.toString, output = "")
    val outs = scala.collection.mutable.ArrayBuffer.empty[Path]
    def job(name: String): Unit = {
      val o = outDir.resolve(name)
      outs += o
      Pipeline.run(spark, cfg.copy(output = o.toString))
    }
    val warmS = (1 to Warmups).map(i => ctx.spans("setup.warmup")(job(s"warmup_$i"))._2).sum
    val setupS = ctx.sessionReadyS + genS + warmS
    ctx.setupDone()

    var layers = Map.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    val reps =
      if (!ctx.trace) timedLoop(ctx.seconds, minReps = 3)(i => job(s"rep_$i"))
      else {
        // untraced and traced repetitions alternate, so the JIT's progress
        // does not bias the tracing overhead
        val tr = ctx.tracer
        val untraced, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
        tr.start(); tr.pause()
        timedLoop(ctx.seconds, minReps = 4) { i =>
          if (i % 2 == 1) tr.resume()
          val s = time(job(s"rep_$i"))._2
          if (i % 2 == 1) { tr.pause(); traced += s } else untraced += s
        }
        layers ++= tr.runtimeMetrics(tr.stop(), traced.size, ctx.cores)
        layers += "trace.overhead_s" -> (Stats.median(traced.toSeq) - Stats.median(untraced.toSeq))
        val (probe, tried, bad) = ctx.spans("probes")(
          layerProbes(ctx, Pipeline.readRaw(spark, input.toString), counts, outDir))._1
        layers ++= probe
        layers += "pipeline.infer_s" -> time(Pipeline.readRaw(spark, input.toString))._2
        attempted += tried; failed += bad
        untraced.toSeq
      }
    val checks = outs.toSeq.map(o => Map[String, Any]("kind" -> "pipeline",
      "input" -> input.toString, "output" -> o.toString,
      "sorted" -> true))
    val opChecks = if (ctx.trace) {
      val (opLayers, opChecks) = ctx.spans("operators")(Operators.probe(ctx))._1
      layers ++= opLayers
      opChecks
    } else Nil
    Outcome(batchE2e(reps, rows.size, setupS), layers,
      attempted + outs.size + opChecks.size, failed, checks ++ opChecks,
      Map("generator" -> counts.toMap, "reps" -> reps, "samples" -> reps.size))
  }
}

/** Per-layer probe of `graft.queries` / `graft.ext`: a fixed serial list of
  * operator queries from `SparkEntry.queries` on a seeded document corpus
  * and embedding table, each to a noop sink. MinHash dedup feeding LSH
  * top-k (`q_corpus_pipeline`), the k-means IVF index (`q_ann_ivf`) and
  * regex PII redaction (`q_pii_redact`). Queries that read through
  * `SuiteMemo` are left out: its per-session memo would make every pass
  * after the first a cache hit.
  *
  * Not an end-to-end workload: the dedup and k-means loops run a
  * data-dependent number of rounds, so the pass time varied by a third
  * between seeds, and a pass with its cold start did not fit the run
  * budget beside the other workloads.
  */
object Operators {
  val Docs = 2000
  val Vectors = 1000
  val Queries = Seq("q_corpus_pipeline", "q_ann_ivf", "q_pii_redact")

  /** One cold and one timed pass; returns the layer metrics and one oracle
    * check per query.
    */
  def probe(ctx: Ctx): (Map[String, Double], Seq[Map[String, Any]]) = {
    import Batch._
    val spark = ctx.spark
    val tables = ctx.work.resolve("corpus")
    writeCorpus(spark, ctx.seed, tables)
    val dir = tables.toString
    val fns = Queries.map(q => q -> graft.SparkEntry.queries(q))
    fns.foreach { case (_, f) => noop(f(spark, dir)) }
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var pinned = (0L, 0)
    fns.foreach { case (q, f) =>
      layers(s"query.${q}_s") = ctx.spans(s"query.$q")(noop(f(spark, dir)))._2
      val (bytes, rdds) = storageBytes(spark)
      pinned = (math.max(pinned._1, bytes), math.max(pinned._2, rdds))
    }
    layers("ext.pinned_bytes") = pinned._1.toDouble
    layers("ext.pinned_rdds") = pinned._2.toDouble
    val oracles = graft.SparkEntry.oracleSql
    val checks = fns.map { case (q, f) =>
      val out = ctx.work.resolve("out").resolve(q)
      f(spark, dir).write.mode("overwrite").parquet(out.toString)
      Map[String, Any]("kind" -> "oracle", "query" -> q, "tables" -> dir,
        "output" -> out.toString, "sql" -> oracles.get(q))
    }
    (layers.toMap, checks)
  }

  /** `documents` and `embeddings` tables in the testdata layout. */
  def writeCorpus(spark: SparkSession, seed: Long, tables: Path): Unit = {
    val docs = Gen.documents(seed, Docs).map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(tables.resolve("documents.parquet").toString)
    val vecs = Gen.embeddings(seed, Vectors).map { case (id, v, l) => Row(id, v.toSeq, l) }
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(tables.resolve("embeddings.parquet").toString)
  }
}
