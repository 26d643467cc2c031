package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; `run.py` launches it and checks its outputs.
  *
  * Usage: perfbench.Main --workload <name>[,<name>...] --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <k>
  *
  * Writes `<work>/result.json` (metrics, counts, checks for the Python
  * checker) and `<work>/trace.json` (spans).
  */
object Main {
  def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  /** Session settings follow `graft.Main`, scaled to `local[k]`: one
    * shuffle partition per task slot, as Main's 32 for `local[32]`.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    // a comma-separated list runs each workload in turn, each in its own
    // session and work directory (run.py's class-archive training run)
    val names = opts("workload").split(",").toSeq
    names.foreach { n =>
      val wl = Workloads.byName(n).getOrElse(
        throw new IllegalArgumentException(s"unknown workload $n"))
      runOne(wl, opts, if (names.size == 1) work else work.resolve(n))
    }
  }

  private def runOne(wl: Workload, opts: Map[String, String], work: Path): Unit = {
    Files.createDirectories(work)
    val cores = opts("cores").toInt
    val loadStart = loadAvg()
    val spans = new Spans
    val spark = spans("setup.session")(session(cores, work))._1
    // JVM start to a ready session: the set-up a CLI user pays first
    val sessionReadyS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", work, cores, sessionReadyS, spans)
      val out = wl.run(ctx)
      val e2e = out.e2e + ("peak_rss_mb" -> peakRssMb())
      val loadEnd = loadAvg()
      val record = Map(
        "workload" -> wl.name, "e2e" -> e2e,
        "layers" -> (out.layers + ("catalyst.codegen_compile_s" -> ctx.setupCompileS)),
        "attempted" -> out.attempted, "failed" -> out.failed, "checks" -> out.checks,
        "notes" -> out.notes,
        "conditions" -> Map(
          "cores" -> cores,
          "shuffle_partitions" -> cores,
          "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
          "spark_version" -> spark.version,
          "session_ready_s" -> sessionReadyS,
          "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd))
      Files.write(work.resolve("trace.json"), spans.toJson.getBytes("UTF-8"))
      Files.write(work.resolve("result.json"), Json(record).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
