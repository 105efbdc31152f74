package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic workload inputs. Every value is a hash of (seed, salt, row
  * id) computed by Spark expressions: no RNG state, nothing downloaded, and
  * the same seed yields byte-identical files on any core count.
  */
object Gen {

  /** WAL entries per chunk: the reference producer's read batch. */
  val ChunkEntries = 16384
  /** The replicated collection's id; entries of other ids are foreign. */
  val Collection = "c-test"
  /** First tick of the pre-snapshot history chunk. */
  val HistoryBase = 1000000L
  /** The tick a resync captures: the last tick of the history chunk. */
  val CapturedTick: Long = HistoryBase + ChunkEntries - 1

  /** Uniform double in [0, 1) from (seed, salt, id). */
  def u(seed: Long, salt: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  /** Uniform long in [0, n). */
  def pick(seed: Long, salt: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  // ---- cdc_catchup: the Test collection and its WAL ----

  final case class CdcSpec(seed: Long, docs: Long, chunks: Int, hotKeys: Long) {
    def entries: Long = chunks.toLong * ChunkEntries
  }

  private val Answers = Seq("yes", "no", "maybe", "often", "never", "later", "always", "rarely")

  /** Payload of document `key` as written by change `variant` (-1 for the
    * snapshot state). Values are the source's JSON strings.
    */
  private def payload(seed: Long, key: Column, variant: Column): Seq[Column] = {
    val id = concat_ws(":", key, variant)
    val name = concat(lit("user"), key.cast("string"), lit("-"), pick(seed, "name", id, 100000).cast("string"))
    val answers = concat_ws(",", (0 until 3).map(i =>
      when(lit(i) === 0 || u(seed, s"ans$i", id) < 0.5,
        element_at(array(Answers.map(lit): _*), (pick(seed, s"a$i", id, Answers.size) + 1).cast("int")))): _*)
    val submitted = when(u(seed, "sub?", id) < 0.9, date_format(
      timestamp_seconds(lit(1704067200L) + pick(seed, "sub", id, 365L * 86400)),
      "yyyy-MM-dd HH:mm:ss"))
    Seq(
      key.cast("string").as("_key"),
      name.as("name"),
      concat(name, lit("@example.com")).as("email"),
      answers.as("Answers"),
      submitted.as("submitted_on"),
      concat(lit("_r"), hex(pick(seed, "rev", id, 1L << 40))).as("_rev"))
  }

  /** The collection the snapshot scans: docs 0 until `docs`. */
  def collection(spark: SparkSession, s: CdcSpec): DataFrame =
    spark.range(s.docs).select(payload(s.seed, col("id"), lit(-1L)): _*)

  /** One row per WAL entry: the generator's view (`kind`, `key`, payload
    * fields) plus the JSON `line` the WAL file holds and its `chunk`.
    *
    * History (`history = true`): one chunk of upserts of docs
    * 0 until [[ChunkEntries]] carrying their snapshot state, ending at the
    * captured tick. Backlog: `s.entries` changes after it — about 90%
    * upserts (half of them on `hotKeys` hot documents, some creating new
    * documents), 5% removes, 3% transaction markers or foreign-collection
    * entries, and 2% rejects (a missing required name, or a key that does
    * not cast).
    */
  def wal(spark: SparkSession, s: CdcSpec, history: Boolean): DataFrame = {
    val seed = s.seed
    val e = col("id")
    val base =
      if (history)
        spark.range(ChunkEntries).select(
          e, (lit(HistoryBase) + e).as("tick"), lit("upsert").as("kind"), e.as("key"),
          lit(-1L).as("variant"), lit(-1L).as("chunk"))
      else {
        val k = u(seed, "kind", e)
        spark.range(s.entries).select(
          e, (lit(CapturedTick + 1) + e).as("tick"),
          when(k < 0.90, "upsert").when(k < 0.95, "remove").when(k < 0.965, "marker")
            .when(k < 0.98, "foreign").otherwise("reject").as("kind"),
          when(u(seed, "hot", e) < 0.5, pick(seed, "hotkey", e, s.hotKeys))
            .otherwise(pick(seed, "key", e, s.docs + s.docs / 10)).as("key"),
          e.as("variant"), (e / ChunkEntries).cast("long").as("chunk"))
      }
    val p = payload(seed, col("key"), col("variant"))
    val badKey = u(seed, "badkey", e) < 0.5
    val doc = struct(
      when(col("kind") === "reject" && badKey, concat(lit("k"), col("key").cast("string")))
        .otherwise(p(0)).as("_key"),
      when(col("kind") === "reject" && !badKey, lit(null).cast("string")).otherwise(p(1)).as("name"),
      p(2), p(3), p(4), p(5))
    val opType = when(col("kind") === "remove", 2302)
      .when(col("kind") === "marker", lit(2200) + pick(seed, "marker", e, 3).cast("int"))
      .otherwise(2300)
    base.select(
      col("*"), p(0).as("doc_key"), p(1).as("doc_name"), p(2).as("doc_email"), p(3).as("doc_answers"),
      p(4).as("doc_submitted"), p(5).as("doc_rev"),
      to_json(struct(
        col("tick").cast("string").as("tick"),
        opType.as("type"),
        lit("customerfeedback").as("db"),
        when(col("kind") === "foreign", lit("c-other")).otherwise(lit(Collection)).as("cuid"),
        concat(lit("t"), (col("tick") / 64).cast("long").cast("string")).as("tid"),
        when(col("kind") =!= "marker", to_json(doc)).as("data"),
        col("tick").as("offset"))).as("line"))
  }

  /** Writes `wal` entries as `wal-<firstTick>-<lastTick>.json` chunk files
    * into `dir` (one JSON object per line, tick order). Returns the files.
    */
  def writeChunks(wal: DataFrame, dir: Path, scratch: Path): Seq[Path] = {
    wal.select("chunk", "tick", "line")
      .repartition(col("chunk"))
      .sortWithinPartitions("chunk", "tick")
      .select(col("chunk"), col("line"))
      .write.partitionBy("chunk").text(scratch.toString)
    Files.createDirectories(dir)
    val parts = Files.list(scratch).iterator.asScala.filter(_.getFileName.toString.startsWith("chunk="))
      .toSeq.sortBy(_.getFileName.toString.stripPrefix("chunk=").toLong)
    val out = parts.map { part =>
      val files = Files.list(part).iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      require(files.size == 1, s"chunk $part was written as ${files.size} files")
      val lines = Files.readAllLines(files.head)
      def tickOf(l: String): Long = "\"tick\":\"(\\d+)\"".r.findFirstMatchIn(l).get.group(1).toLong
      val target = dir.resolve(s"wal-${tickOf(lines.get(0))}-${tickOf(lines.get(lines.size - 1))}.json")
      Files.move(files.head, target)
      target
    }
    deleteTree(scratch)
    out
  }

  /** The replica a correct resync produces, computed straight from the
    * generator (no WAL parsing, envelope filters or schema transform): the
    * latest of the snapshot and every accepted change at or after the
    * captured tick, removes dropped. One row per document: `Id` and the
    * canonical string [[canonical]] gives the engine's rows.
    */
  def expectedView(collection: DataFrame, history: DataFrame, backlog: DataFrame): DataFrame = {
    def changes(w: DataFrame) = w
      .filter(col("kind").isin("upsert", "remove") && col("tick") >= CapturedTick)
      .select(col("key").as("Id"), col("tick").as("ord"), (col("kind") === "remove").as("gone"),
        col("doc_name").as("n"), col("doc_email").as("m"), col("doc_answers").as("a"),
        col("doc_submitted").as("s"), col("doc_rev").as("r"))
    val snap = collection.select(col("_key").cast("long").as("Id"), lit(-1L).as("ord"),
      lit(false).as("gone"), col("name").as("n"), col("email").as("m"), col("Answers").as("a"),
      col("submitted_on").as("s"), col("_rev").as("r"))
    snap.unionByName(changes(history)).unionByName(changes(backlog))
      .groupBy("Id")
      .agg(max_by(struct("gone", "n", "m", "a", "s", "r"), col("ord")).as("w"))
      .filter(!col("w.gone"))
      .select(col("Id"), concat_ws("|", col("Id").cast("string"), col("w.n"), col("w.m"),
        col("w.a"), coalesce(col("w.s"), lit("~")), col("w.r")).as("canon"))
  }

  /** The engine's Test replica rows in the [[expectedView]] form. */
  def canonical(view: DataFrame): DataFrame =
    view.select(col("Id"), concat_ws("|", col("Id").cast("string"), col("Name"), col("Email"),
      array_join(col("Answers"), ","),
      coalesce(date_format(col("SubmittedOn"), "yyyy-MM-dd HH:mm:ss"), lit("~")),
      col("_rev")).as("canon"))

  /** (rows, order-insensitive hash) of a canonical frame. */
  def fingerprint(canon: DataFrame): (Long, BigDecimal) = {
    val r = canon.agg(count(lit(1)), sum(xxhash64(col("canon")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
