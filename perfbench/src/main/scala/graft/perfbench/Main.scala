package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py` in a fresh JVM per run:
  *
  * {{{
  * Main --workload <cdc_catchup|catalog> --seed <n>
  *      --seconds <s> --trace <0|1> --root <checkout> --work <run dir> [--cpus <n>]
  * }}}
  *
  * Prints progress to stderr and, as the last stdout line, one JSON object
  * with `correct`, `attempted`, `failed` and the metrics: end-to-end ones
  * untraced, per-layer ones traced. Every workload reports the same names
  * (see [[EndToEnd]] and [[layerMetrics]]). Spans of a traced run are
  * written to `<work>/spans.jsonl`.
  *
  * Tool modes (not part of a benchmark run):
  *  - `--derive-build-family <fixture dir> <warmup dir>` prints, per query,
  *    the jobs started while its DataFrame is constructed, after a full
  *    warm-up pass over the catalog at the warm-up dir;
  *  - `--dump-oracle <file>` writes `SparkEntry.oracleSql` as JSON.
  */
object Main {

  final case class Ctx(
      spark: SparkSession,
      seed: Long,
      seconds: Double,
      tracer: Tracer,
      jobs: JobRecorder,
      root: Path,
      work: Path,
      jvmStartNs: Long,
      report: Report) {
    def benchDir: Path = root.resolve("perfbench")
    def traced: Boolean = tracer.enabled
    /** The timed loop's rule, for a loop that started at `t0Ns` and whose
      * last unit of work started at `lastNs`: another unit runs while it
      * would still end within `seconds` if it takes as long as the last,
      * so a run does the same number of units on a slightly faster or
      * slower host.
      */
    def another(t0Ns: Long, lastNs: Long): Boolean = {
      val now = System.nanoTime()
      (now - t0Ns) + (now - lastNs) <= seconds * 1e9
    }
    /** An end-to-end metric's name; a traced run reports it as `traced.<name>`. */
    def e2e(name: String): String = if (traced) s"traced.$name" else name
  }

  /** End-to-end metrics, all in seconds. A workload times units of work
    * made of operations: `work_s` is the median wall time of a unit,
    * `op_p50_s` and `op_p90_s` are percentiles of the operations' times.
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "work_s", "op_p50_s", "op_p90_s")

  /** Per-layer metrics (name -> unit) of a traced run, by workload, plus
    * the ones every workload reports.
    */
  val layerMetrics: Map[String, Seq[(String, String)]] = Map(
    "cdc_catchup" -> CdcCatchup.layerMetrics, "catalog" -> CatalogWorkload.layerMetrics)
  val commonLayerMetrics: Seq[(String, String)] = EndToEnd.map(n => s"traced.$n" -> "s") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
      "spark.gc_s" -> "s", "jvm.rss_peak_mb" -> "MB")

  /** Checks that a correct run reported exactly its workload's metrics and,
    * when traced, adds the other workloads' per-layer metrics as 0: that
    * run did not call those layers.
    */
  private def complete(workload: String, traced: Boolean, report: Report): Unit = {
    if (!report.correct) return
    val own = if (traced) commonLayerMetrics ++ layerMetrics(workload) else EndToEnd.map(_ -> "s")
    require(report.units == own.toMap,
      s"$workload reported ${report.units.keySet.toSeq.sorted.mkString(", ")}; " +
        s"expected ${own.map(_._1).sorted.mkString(", ")}")
    if (traced)
      layerMetrics.values.flatten.filterNot(m => own.exists(_._1 == m._1)).toSeq.distinct
        .foreach { case (name, unit) => report.put(name, 0.0, unit) }
  }

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder(cpus.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set size of this JVM so far (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) * 1000000L
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)

    if (args.contains("--dump-oracle")) {
      val out = Paths.get(arg(args, "--dump-oracle").get)
      val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n")
      Files.writeString(out, body)
      return
    }

    val spark = session(work, cpus)
    val jobs = new JobRecorder
    spark.sparkContext.addSparkListener(jobs)

    if (args.contains("--derive-build-family")) {
      val i = args.indexOf("--derive-build-family")
      val (dir, warmDir) = (args(i + 1), args(i + 2))
      Catalog.prime(spark, warmDir)
      Catalog.warmup(spark, warmDir)
      Catalog.prime(spark, dir)
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      val (runs, failed) = Catalog.pass(spark, dir, names, jobs, new Tracer(false, "derive"),
        execute = false)
      runs.foreach(r => println(s"${r.name}\t${r.build.jobs}\t${r.exec.jobs}\t" +
        f"${r.buildS}%.3f\t${r.execS}%.3f"))
      failed.foreach(n => println(s"$n\tFAILED"))
      spark.stop()
      return
    }

    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val ctx = Ctx(
      spark = spark,
      seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required")),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(sys.error("--seconds is required")),
      tracer = new Tracer(arg(args, "--trace").contains("1"), s"$workload-${ProcessHandle.current.pid}"),
      jobs = jobs,
      root = Paths.get(arg(args, "--root").getOrElse(sys.error("--root is required"))),
      work = work,
      jvmStartNs = jvmStartNs,
      report = new Report)
    val report = ctx.report
    workload match {
      case "cdc_catchup" => CdcCatchup.run(ctx, report)
      case "catalog"     => CatalogWorkload.run(ctx, report)
      case other         => sys.error(s"unknown workload $other")
    }
    if (ctx.traced) {
      report.put("jvm.rss_peak_mb", peakRssMb(), "MB")
      ctx.tracer.write(work.resolve("spans.jsonl"))
    }
    complete(workload, ctx.traced, report)
    spark.stop()
    println(report.json)
  }
}
