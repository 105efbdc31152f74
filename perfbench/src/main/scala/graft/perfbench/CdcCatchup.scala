package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.config.{ConfigYaml, TableConfig}
import graft.operators.{SchemaTransform, SnapshotStore}
import graft.streaming.{CdcStream, Sync}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The `cdc_catchup` workload: a resync of the Test collection, in the shape
  * of a consumer restart. Each cycle captures the WAL tick, snapshots the
  * collection through the schema transform, and then drains a pre-written
  * WAL backlog from the captured tick, one chunk per micro-batch, compacting
  * every [[CompactEvery]] batches. Cycles repeat, each into a fresh table
  * and checkpoint, until the run's seconds are spent.
  */
object CdcCatchup {

  val Docs = 100000L
  val HotKeys = 1000L
  /** Backlog chunks: the most one cycle can drain within the benchmark's
    * per-run time budget on 4 cores.
    */
  val Chunks = 7
  val CompactEvery = 3

  /** Streaming progress durations reported per micro-batch. */
  private val ProgressKeys =
    Seq("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")

  /** Per-layer metrics of a traced run, with their units. */
  val layerMetrics: Seq[(String, String)] =
    Seq("sources.WalSource.scan_s" -> "s", "operators.Envelope.pipeline_s" -> "s",
      "operators.Envelope.kept_rows" -> "count", "operators.SchemaTransform.apply_s" -> "s",
      "operators.SchemaTransform.reject_rows" -> "count") ++
    (ProgressKeys :+ "addBatch_compact" :+ "drain").map(k => s"streaming.CdcStream.${k}_s" -> "s") ++
    Seq("batches", "rows_applied", "wal_offsets", "deadletter_rows", "sink_files")
      .map(k => s"streaming.CdcStream.$k" -> "count") ++
    Seq("streaming.CdcStream.table_bytes" -> "B", "streaming.Sync.snapshot_s" -> "s",
      "streaming.Sync.snapshot_rows" -> "count", "operators.SnapshotStore.writeSnapshot_s" -> "s",
      "operators.ReplicaTable.current_s" -> "s", "spark.local1_drain_s" -> "s")

  /** Source field of every payload column, all strings as in the JSON. */
  val payloadSchema: StructType = StructType(
    Seq("_key", "name", "email", "Answers", "submitted_on", "_rev").map(StructField(_, StringType)))

  /** Fixed clock, so versions do not depend on the day the run happens. */
  private val clock = lit("2024-01-01 00:00:00").cast("timestamp")

  def config(ctx: Main.Ctx): TableConfig =
    ConfigYaml.tableConfig(Files.readString(ctx.benchDir.resolve("conf/test.yaml")))

  /** Per-batch streaming progress of one query. */
  private final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = batches.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  final case class Batch(id: Long, startMs: Long, applied: Long, walOffsets: Long,
      durations: Map[String, Double]) {
    def seconds: Double = durations.getOrElse("triggerExecution", 0.0)
  }

  final case class Cycle(snapshotS: Double, snapshotRows: Long, drainS: Double,
      batches: Seq[Batch], tableBytes: Long, tableFiles: Long) {
    def applied: Long = batches.map(_.applied).sum
  }

  /** The inputs of one run, written under `dir`, with the backlog's chunk
    * files, its injected rejects and the expected replica fingerprint.
    */
  final case class Inputs(dir: Path, spec: Gen.CdcSpec, backlog: Seq[Path],
      injectedRejects: Long, expected: (Long, BigDecimal)) {
    def collectionDir: Path = dir.resolve("collection")
    def walDir: Path = dir.resolve("wal")
    def backlogDir: Path = dir.resolve("backlog")
  }

  /** Generates the collection, the history chunk and the backlog, and
    * computes the expected final replica straight from the generator.
    */
  def generate(spark: SparkSession, spec: Gen.CdcSpec, dir: Path): Inputs = {
    val collection = Gen.collection(spark, spec).persist()
    val history = Gen.wal(spark, spec, history = true).persist()
    val backlog = Gen.wal(spark, spec, history = false).persist()
    try {
      collection.write.parquet(dir.resolve("collection").toString)
      Gen.writeChunks(history, dir.resolve("wal"), dir.resolve("scratch-h"))
      Inputs(dir, spec,
        Gen.writeChunks(backlog, dir.resolve("backlog"), dir.resolve("scratch-b")),
        backlog.filter(col("kind") === "reject").count(),
        Gen.fingerprint(Gen.expectedView(collection, history, backlog)))
    } finally { collection.unpersist(); history.unpersist(); backlog.unpersist() }
  }

  private def move(files: Seq[Path], to: Path): Seq[Path] =
    files.map(f => Files.move(f, to.resolve(f.getFileName)))

  private def walStream(spark: SparkSession, walDir: Path): DataFrame =
    spark.readStream.format("graft.sources.WalSource")
      .option("maxChunksPerTrigger", "1").load(walDir.toString)

  private def bytesAndFiles(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
    finally s.close()
  }

  /** One resync: tick, snapshot, backlog arrives, drain. The backlog files
    * are moved into the WAL directory after the tick is captured and moved
    * back afterwards, so every cycle replays the same changes.
    */
  def cycle(ctx: Main.Ctx, in: Inputs, config: TableConfig, name: String): Cycle = {
    val spark = ctx.spark
    val tableDir = ctx.work.resolve(s"cdc/$name/table").toString
    val ckpt = ctx.work.resolve(s"cdc/$name/ckpt").toString
    val t = ctx.tracer
    t.time("streaming.Sync.resync") {
      val tick = Sync.currentTick(spark, in.walDir.toString)
      require(tick == Gen.CapturedTick, s"captured tick $tick, expected ${Gen.CapturedTick}")
      val ((rows, rejects), snapshotS) = t.time("streaming.Sync.snapshot") {
        Sync.snapshot(spark, spark.read.parquet(in.collectionDir.toString), config, tableDir)
      }
      ctx.report.check(rejects == 0, s"snapshot dead-lettered $rejects rows, expected none")
      val arrived = move(in.backlog, in.walDir)
      val progress = new Progress
      spark.streams.addListener(progress)
      val (_, drainS) = try t.time("streaming.CdcStream.drain") {
        val q = CdcStream.startReplication(walStream(spark, in.walDir), config, payloadSchema,
          tableDir, ckpt, collectionIds = Seq(Gen.Collection), initialTick = Some(tick),
          clock = clock, trigger = Trigger.AvailableNow(), compactEvery = Some(CompactEvery))
        q.awaitTermination()
      } finally {
        ctx.jobs.drain(spark.sparkContext)
        spark.streams.removeListener(progress)
        move(arrived, in.backlogDir)
      }
      val batches = progress.batches.asScala.toSeq.filter(_.numInputRows > 0).map { p =>
        def observed(m: String, f: String): Long =
          Option(p.observedMetrics.get(m)).map(_.getAs[Long](f)).getOrElse(0L)
        Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          observed("cdc", "rows"), observed("cdc_wal", "n_offsets"),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }.toMap)
      }
      // progress timestamps are wall-clock trigger starts; spans use nanoTime
      val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      batches.foreach { b =>
        val start = b.startMs * 1000000L - clockOffsetNs
        t.record(s"streaming.CdcStream.batch.${b.id}", start, start + (b.seconds * 1e9).toLong)
      }
      val (bytes, files) = bytesAndFiles(java.nio.file.Paths.get(tableDir))
      Cycle(snapshotS, rows, drainS, batches, bytes, files)
    }._1
  }

  /** Checks a drained cycle's replica and dead-letter log. */
  def verify(ctx: Main.Ctx, in: Inputs, config: TableConfig, name: String): Double = {
    val spark = ctx.spark
    val tableDir = ctx.work.resolve(s"cdc/$name/table").toString
    val (got, currentS) = ctx.tracer.time("operators.ReplicaTable.current") {
      Gen.fingerprint(Gen.canonical(CdcStream.currentView(spark, tableDir, config.primaryKeys)))
    }
    ctx.report.check(got == in.expected,
      s"cycle $name: replica (rows, hash) $got != expected ${in.expected}")
    val dead = spark.read.parquet(tableDir + ".deadletter").count()
    ctx.report.check(dead == in.injectedRejects,
      s"cycle $name: $dead dead-letter rows, injected ${in.injectedRejects} rejects")
    currentS
  }

  def run(ctx: Main.Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val config = this.config(ctx)
    val in = generate(spark, Gen.CdcSpec(ctx.seed, Docs, Chunks, HotKeys), ctx.work.resolve("inputs"))
    // warm-up: a resync that drains only the backlog's first chunk
    // compiles the snapshot, micro-batch and final-read code paths before
    // the timed cycles
    cycle(ctx, in.copy(backlog = in.backlog.take(1)), config, "warm")
    CdcStream.currentView(spark, ctx.work.resolve("cdc/warm/table").toString, config.primaryKeys).count()
    Gen.deleteTree(ctx.work.resolve("cdc/warm"))

    val t0 = System.nanoTime()
    report.put(ctx.e2e("setup_s"), (t0 - ctx.jvmStartNs) / 1e9, "s")
    val startMs = System.currentTimeMillis()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    var currentS = Seq.empty[Double]
    var last = t0
    while ((cycles.isEmpty || ctx.another(t0, last)) && report.failed < 3) {
      last = System.nanoTime()
      val name = s"c${report.attempted}"
      report.attempted += 1
      try {
        val c = cycle(ctx, in, config, name)
        cycles += c
        System.err.println(s"[perfbench] cycle $name: snapshot ${c.snapshotS} s, drain ${c.drainS} s, " +
          s"batches ${c.batches.map(_.seconds).mkString(" ")} s")
        currentS :+= verify(ctx, in, config, name)
        Gen.deleteTree(ctx.work.resolve(s"cdc/$name"))
      } catch { case e: Throwable =>
        report.failed += 1
        System.err.println(s"[perfbench] cycle $name failed: $e")
      }
    }
    val endMs = System.currentTimeMillis()
    val batches = cycles.flatMap(_.batches)
    report.check(batches.nonEmpty, "no micro-batch consumed input")
    report.check(cycles.forall(_.snapshotRows == in.spec.docs),
      s"snapshot rows ${cycles.map(_.snapshotRows).distinct} != ${in.spec.docs}")
    System.err.println(s"[perfbench] cdc_catchup: ${cycles.size} cycles, ${batches.size} batches, " +
      s"${in.backlog.size} chunks, ${in.injectedRejects} rejects per cycle")
    if (batches.isEmpty) return

    // a unit of work is one resync, an operation one micro-batch
    report.put(ctx.e2e("work_s"), Stats.median(cycles.map(c => c.snapshotS + c.drainS).toSeq), "s")
    report.put(ctx.e2e("op_p50_s"), Stats.pctl(batches.map(_.seconds).toSeq, 50), "s")
    report.put(ctx.e2e("op_p90_s"), Stats.pctl(batches.map(_.seconds).toSeq, 90), "s")
    if (!ctx.traced) return

    val pb = "streaming.CdcStream"
    ProgressKeys.foreach(k =>
      report.put(s"$pb.${k}_s", Stats.median(batches.map(_.durations.getOrElse(k, 0.0)).toSeq), "s"))
    val compacting = batches.filter(b => (b.id + 1) % CompactEvery == 0)
    report.put(s"$pb.addBatch_compact_s",
      Stats.median(compacting.map(_.durations.getOrElse("addBatch", 0.0)).toSeq), "s")
    report.put(s"$pb.drain_s", Stats.median(cycles.map(_.drainS).toSeq), "s")
    report.put(s"$pb.batches", batches.size.toDouble / cycles.size, "count")
    report.put(s"$pb.rows_applied", cycles.head.applied.toDouble, "count")
    report.put(s"$pb.wal_offsets", cycles.head.batches.map(_.walOffsets).sum.toDouble, "count")
    report.put(s"$pb.deadletter_rows", in.injectedRejects.toDouble, "count")
    report.put(s"$pb.sink_files", cycles.head.tableFiles.toDouble, "count")
    report.put(s"$pb.table_bytes", cycles.head.tableBytes.toDouble, "B")
    report.put("streaming.Sync.snapshot_s", Stats.median(cycles.map(_.snapshotS).toSeq), "s")
    report.put("streaming.Sync.snapshot_rows", cycles.head.snapshotRows.toDouble, "count")
    report.put("operators.ReplicaTable.current_s", Stats.median(currentS), "s")
    Spark.putJobStats(ctx, report, startMs, endMs)
    ladder(ctx, in, config, report)

    // single-core baseline: the same drain on local[1] shows whether the
    // drain's throughput scales with cores
    spark.stop()
    val one = Main.session(ctx.work, 1)
    try {
      val c = cycle(ctx.copy(spark = one, tracer = new Tracer(false, ctx.tracer.runId)), in, config, "local1")
      report.put("spark.local1_drain_s", c.drainS, "s")
    } finally one.stop()
  }

  /** Layer costs over the same backlog as batch reads, each rung adding
    * one layer: WalSource scan, + CdcStream.pipeline (envelope), + the
    * schema transform's valid rows. A layer's cost is its rung minus the
    * one below. Also times a standalone snapshot write.
    */
  private def ladder(ctx: Main.Ctx, in: Inputs, config: TableConfig, report: Report): Unit = {
    val spark = ctx.spark
    import Catalog.noop
    def scan = spark.read.format("graft.sources.WalSource").load(in.backlogDir.toString)
    def piped = CdcStream.pipeline(scan, payloadSchema, Seq(Gen.Collection), Some(Gen.CapturedTick), clock)
    def transformed = SchemaTransform(piped, config, keep = Seq("offset", "_ver", "_deleted"))
    def rung(name: String)(f: => Unit): Double = ctx.tracer.time(name)(f)._2
    val scanS = rung("sources.WalSource.scan")(noop(scan))
    val pipeS = rung("operators.Envelope.pipeline")(noop(piped))
    val applyS = rung("operators.SchemaTransform.apply")(noop(transformed.valid))
    report.put("sources.WalSource.scan_s", scanS, "s")
    report.put("operators.Envelope.pipeline_s", pipeS - scanS, "s")
    report.put("operators.SchemaTransform.apply_s", applyS - pipeS, "s")
    report.put("operators.Envelope.kept_rows", piped.count().toDouble, "count")
    val rejects = transformed.errors.count()
    report.put("operators.SchemaTransform.reject_rows", rejects.toDouble, "count")
    report.check(rejects == in.injectedRejects, s"ladder rejects $rejects != injected ${in.injectedRejects}")

    val rows = SchemaTransform(spark.read.parquet(in.collectionDir.toString), config).valid
      .withColumn("offset", lit(null).cast("long")).withColumn("_ver", lit(0L)).withColumn("_deleted", lit(0))
    val writeS = ctx.tracer.time("operators.SnapshotStore.writeSnapshot") {
      SnapshotStore.writeSnapshot(spark, rows, ctx.work.resolve("snapshot").toString)
    }._2
    report.put("operators.SnapshotStore.writeSnapshot_s", writeS, "s")
  }
}
