package graft.util

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StoreKernelSpec extends SparkSpec {

  private val base = Fixtures.dir + "/spec_store_kernel"

  /** A leaf directory holding `files` data files, each naming `tag`. */
  private def leaf(path: String, tag: String, files: Int = 1): Unit = {
    new File(path).mkdirs()
    (0 until files).foreach { i =>
      Files.writeString(new File(s"$path/part-$i").toPath, tag): Unit
    }
  }

  private def tagOf(path: String): String =
    Files.readString(new File(s"$path/part-0").toPath)

  test("recover at depth 1: a staged-only leaf is renamed in, a staged " +
      "leaf with a live copy is dropped") {
    Fs.rmRecursive(new File(base))
    val t = StoreKernel.Table(s"$base/d1/codes", Seq("cell"))
    leaf(s"${t.path}/cell=0", "live0")
    leaf(s"${t.staging}/cell=0", "staged0") // live copy survived: stale
    leaf(s"${t.staging}/cell=1", "staged1") // live copy removed: only copy
    leaf(s"${t.staging}/other=2", "junk") // not a partition of this table
    StoreKernel.recover(spark, t)
    assert(tagOf(s"${t.path}/cell=0") == "live0")
    assert(tagOf(s"${t.path}/cell=1") == "staged1")
    assert(!new File(s"${t.path}/other=2").exists())
    assert(!new File(t.staging).exists())
  }

  test("recover at depth 2: the rule applies per (value, cell) leaf and " +
      "creates a missing parent") {
    Fs.rmRecursive(new File(base))
    val t = StoreKernel.Table(s"$base/d2/codes", Seq("label", "cell"),
      "_staging_filtered")
    leaf(s"${t.path}/label=0/cell=0", "live00")
    leaf(s"${t.staging}/label=0/cell=0", "staged00")
    leaf(s"${t.staging}/label=0/cell=1", "staged01")
    leaf(s"${t.staging}/label=5/cell=3", "staged53") // whole value gone
    StoreKernel.recover(spark, t)
    assert(tagOf(s"${t.path}/label=0/cell=0") == "live00")
    assert(tagOf(s"${t.path}/label=0/cell=1") == "staged01")
    assert(tagOf(s"${t.path}/label=5/cell=3") == "staged53")
    assert(!new File(t.staging).exists())
  }

  test("recover of a whole table: staged-only is renamed in, staged " +
      "beside live is dropped; no staging is a no-op") {
    Fs.rmRecursive(new File(base))
    val edges = StoreKernel.Table(s"$base/t/edges")
    val nodes = StoreKernel.Table(s"$base/t/nodes")
    leaf(edges.staging, "stagedE") // live edges removed: only copy
    leaf(nodes.path, "liveN")
    leaf(nodes.staging, "stagedN")
    Seq(edges, nodes).foreach(StoreKernel.recover(spark, _))
    assert(tagOf(edges.path) == "stagedE")
    assert(tagOf(nodes.path) == "liveN")
    assert(!new File(edges.staging).exists())
    assert(!new File(nodes.staging).exists())
    StoreKernel.recover(spark, edges)
    assert(tagOf(edges.path) == "stagedE")
  }

  test("overFull selects exactly the leaves over maxFiles, at depth 0, " +
      "1 and 2") {
    Fs.rmRecursive(new File(base))
    val whole = StoreKernel.Table(s"$base/o/nodes")
    leaf(whole.path, "n", files = 3)
    assert(StoreKernel.overFull(spark, whole, 2) == Seq(Seq()))
    assert(StoreKernel.overFull(spark, whole, 3).isEmpty)
    val one = StoreKernel.Table(s"$base/o/prefix", Seq("bucket"))
    leaf(s"${one.path}/bucket=0", "a", files = 1)
    leaf(s"${one.path}/bucket=1", "b", files = 3)
    leaf(s"${one.path}/bucket=2", "c", files = 2)
    assert(StoreKernel.overFull(spark, one, 2) == Seq(Seq("1")))
    val two = StoreKernel.Table(s"$base/o/codes", Seq("label", "cell"))
    leaf(s"${two.path}/label=0/cell=0", "a", files = 4)
    leaf(s"${two.path}/label=0/cell=1", "b", files = 1)
    leaf(s"${two.path}/label=1/cell=0", "c", files = 5)
    assert(StoreKernel.overFull(spark, two, 3).toSet ==
      Set(Seq("0", "0"), Seq("1", "0")))
  }

  test("swapPartitions rewrites only the given keys, at depth 2, and " +
      "removes a fully emptied one") {
    import spark.implicits._
    Fs.rmRecursive(new File(base))
    val t = StoreKernel.Table(s"$base/s/codes", Seq("label", "cell"))
    val rows = Seq((1L, 0L, 0), (2L, 0L, 1), (3L, 1L, 0), (4L, 1L, 1))
      .toDF("nid", "label", "cell")
    rows.write.partitionBy("label", "cell").parquet(t.path)
    val untouched = Fs.walkFiles(new File(s"${t.path}/label=1/cell=1"))
      .map(f => f.getPath -> f.lastModified()).toMap
    val tomb = Seq(2L, 3L).toDF("nid")
    StoreKernel.dropRows(spark, t, spark.read.parquet(t.path), tomb, "nid")
    assert(!new File(s"${t.path}/label=0/cell=1").exists(),
      "fully emptied partition kept")
    assert(!new File(t.staging).exists())
    assert(Fs.walkFiles(new File(s"${t.path}/label=1/cell=1"))
      .map(f => f.getPath -> f.lastModified()).toMap == untouched)
    assert(spark.read.parquet(t.path).select("nid").as[Long].collect()
      .toSet == Set(1L, 4L))
  }

  test("delete audit: ids distinct only after the cast fail loud; " +
      "membership and double delete are enforced; one aggregate " +
      "returns the fingerprint columns") {
    import spark.implicits._
    Fs.rmRecursive(new File(base))
    val dir = s"$base/a"
    (1L to 10L).toDF("nid").write.parquet(s"$dir/nodes")
    def audit(ids: Seq[Double]) =
      StoreKernel.auditDelete(ids.toDF("id"), dir, "id", "nid",
        Seq(sum(col("id")))) { _ => spark.read.parquet(s"$dir/nodes") }
    val dup = intercept[IllegalArgumentException](audit(Seq(7.0, 7.5)))
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    val stranger = intercept[IllegalArgumentException](audit(Seq(3.0, 42.0)))
    assert(stranger.getMessage.contains("not present"), stranger.getMessage)
    val (ids, row) = audit(Seq(3.0, 4.0))
    assert(row.getLong(0) == 2 && row.getDouble(2) == 7.0)
    assert(ids.as[Long].collect().toSet == Set(3L, 4L))
    StoreKernel.tombstone(ids, dir)
    val again = intercept[IllegalArgumentException](audit(Seq(4.0, 5.0)))
    assert(again.getMessage.contains("already tombstoned"), again.getMessage)
  }
}
