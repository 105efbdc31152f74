package graft.perfbench

/** Spark-wide counters of a workload's timed window. */
object Spark {
  def putJobStats(ctx: Main.Ctx, report: Report, fromMs: Long, toMs: Long): Unit = {
    ctx.jobs.drain(ctx.spark.sparkContext)
    val s = ctx.jobs.window(fromMs, toMs)
    report.put("spark.jobs", s.jobs.toDouble, "count")
    report.put("spark.tasks", s.tasks.toDouble, "count")
    report.put("spark.executor_cpu_s", s.executorCpuS, "s")
    report.put("spark.gc_s", s.gcS, "s")
  }
}
