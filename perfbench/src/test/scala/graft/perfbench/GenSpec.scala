package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The workload generators are functions of the seed alone. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def chunks(seed: Long, dir: Path): Seq[(String, Seq[Byte])] = {
    val spec = Gen.CdcSpec(seed, docs = 3000, chunks = 2, hotKeys = 50)
    val files = Gen.writeChunks(Gen.wal(spark, spec, history = true), dir.resolve("wal"), dir.resolve("s1")) ++
      Gen.writeChunks(Gen.wal(spark, spec, history = false), dir.resolve("backlog"), dir.resolve("s2"))
    files.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
  }

  private def expected(seed: Long) = {
    val spec = Gen.CdcSpec(seed, docs = 3000, chunks = 2, hotKeys = 50)
    Gen.fingerprint(Gen.expectedView(Gen.collection(spark, spec),
      Gen.wal(spark, spec, history = true), Gen.wal(spark, spec, history = false)))
  }

  test("the same seed yields byte-identical WAL chunks; another seed does not") {
    val tmp = Files.createTempDirectory("perfbench-gen")
    try {
      val a = chunks(7, tmp.resolve("a"))
      val b = chunks(7, tmp.resolve("b"))
      assert(a.map(_._1) === Seq(
        s"wal-${Gen.HistoryBase}-${Gen.CapturedTick}.json",
        s"wal-${Gen.CapturedTick + 1}-${Gen.CapturedTick + Gen.ChunkEntries}.json",
        s"wal-${Gen.CapturedTick + Gen.ChunkEntries + 1}-${Gen.CapturedTick + 2 * Gen.ChunkEntries}.json"))
      assert(a === b)
      assert(chunks(8, tmp.resolve("c")).map(_._2) !== a.map(_._2))
    } finally Gen.deleteTree(tmp)
  }

  test("the same seed yields the same expected replica, with every entry kind present") {
    assert(expected(7) === expected(7))
    assert(expected(7) !== expected(8))
    val kinds = Gen.wal(spark, Gen.CdcSpec(7, 3000, 2, 50), history = false)
      .groupBy("kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet === Set("upsert", "remove", "marker", "foreign", "reject"))
    assert(kinds("upsert") > 0.85 * 2 * Gen.ChunkEntries)
  }
}
