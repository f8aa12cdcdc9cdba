package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {

  private def noiseF(seed: Int): Float = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, 0x9e3779b9))
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** Deterministic 64-dim corpus with mild cluster structure (8 anchor
    * directions + noise) so the coarse quantizer has something to find. */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val anchor = i % 8
      val v = Array.tabulate(64) { j =>
        (if (j % 8 == anchor) 2.0f else 0.0f) + noiseF(i * 64 + j)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private val base = graft.util.Fixtures.dir + "/spec_vector_index"

  test("persisted-index search is identical to the in-memory IVF-PQ path") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val q = c.filter(col("vec_id") < 10)
    val ix = VectorIndex.ensure(c, s"$base/a")
    val viaStore = VectorIndex.search(ix, q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // same corpus + same deterministic fused-Lloyd training ⇒ the
    // in-memory path must produce byte-identical quantizers, codes, and
    // therefore the exact same top-k
    val inMem = Similarity.ivfPqTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaStore == inMem)
    assert(viaStore.nonEmpty && viaStore.size == 30, s"got ${viaStore.size}")
    c.unpersist()
  }

  test("ensure builds once, reloads after, and rebuilds on corpus change") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val before = VectorIndex.buildsThisProcess
    VectorIndex.ensure(c, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 1)
    // second call: fingerprint matches — pure load, no re-training
    val ix2 = VectorIndex.ensure(c, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 1)
    assert(ix2.nVectors == 300 && ix2.codes.count() == 300)
    // corpus changed (one extra row): fingerprint mismatch forces rebuild
    val c2 = corpus(301)
    VectorIndex.ensure(c2, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 2)
    c.unpersist()
  }

  test("append encodes with frozen quantizers and updates the fingerprint incrementally") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val all = corpus(360).cache()
    val first = all.filter(col("vec_id") < 300)
    val batch = all.filter(col("vec_id") >= 300)
    VectorIndex.build(first, s"$base/d")
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.append(batch, s"$base/d")
    // the incrementally-updated fingerprint must equal the union
    // corpus' — ensure() over the full corpus validates WITHOUT rebuild
    val ix = VectorIndex.ensure(all, s"$base/d")
    assert(VectorIndex.buildsThisProcess == builds, "append forced a rebuild")
    assert(ix.nVectors == 360 && ix.codes.count() == 360)
    // frozen-quantizer semantics: the store equals encoding the union
    // with the FIRST corpus' quantizers (never a retrain)
    val expect = Similarity
      .ivfPqEncode(all, ix.coarse, ix.books)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet
    val got = ix.codes.select("nid", "cell", "codes", "recon_norm_sq")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet
    assert(got == expect)
    // and search still answers over the appended rows
    val q = all.filter(col("vec_id") < 5)
    assert(VectorIndex.search(ix, q, all, k = 1).count() == 5)
    all.unpersist()
  }

  test("filtered store is (label, cell)-partitioned and search respects the predicate") {
    import spark.implicits._
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    val ix = VectorIndex.ensureFiltered(c, s"$base/f", "label")
    // two-level physical layout: label=L/cell=C directories
    val labelDirs = Option(new java.io.File(s"$base/f/codes").listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("label=")))
      .getOrElse(Array.empty)
    assert(labelDirs.length == 3, s"expected 3 label dirs, got ${labelDirs.length}")
    assert(labelDirs.forall(d =>
      d.listFiles().exists(f => f.isDirectory && f.getName.startsWith("cell="))))
    // every returned neighbor shares the query's label (pre-filter
    // semantics) and matches the exact within-label truth on this
    // clustered fixture
    val q = c.filter(col("vec_id") < 10)
    val got = VectorIndex.searchFiltered(ix, q, c, "label", k = 1)
      .select(col("qid"), col("nid"))
    val labels = c.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)),
        s"cross-label neighbor: $r")
    }
    val exact = Similarity.bruteForceTop1Filtered(q, c, "label")
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = gotSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"filtered stored-index recall $recall")
    // relabeling the corpus must invalidate the store
    val builds = VectorIndex.buildsThisProcess
    val relabeled = c.withColumn("label", (col("vec_id") % 5).cast("long"))
    VectorIndex.ensureFiltered(relabeled, s"$base/f", "label")
    assert(VectorIndex.buildsThisProcess == builds + 1)
    c.unpersist()
  }

  test("store layout is cell-partitioned and codebooks round-trip exactly") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300)
    val built = VectorIndex.ensure(c, s"$base/c")
    val cellDirs = Option(new java.io.File(s"$base/c/codes").listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("cell=")))
      .getOrElse(0)
    assert(cellDirs >= 2, s"expected cell= partition dirs, got $cellDirs")
    val reloaded = VectorIndex.load(spark, s"$base/c")
    assert(reloaded.coarse.map(_.toSeq).toSeq == built.coarse.map(_.toSeq).toSeq)
    assert(reloaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      built.books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("delete tombstones without rewriting; compact folds them in; " +
      "fingerprint stays incremental") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/d"
    val c = corpus(300).cache()
    VectorIndex.build(c, dir)
    val codeFiles = graft.util.Fs.walkFiles(new java.io.File(s"$dir/codes"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    val deleted = c.filter(col("vec_id") % 3 === 0)
    val live = c.filter(col("vec_id") % 3 =!= 0)
    VectorIndex.delete(deleted, dir)
    // merge-on-read: store untouched, loaded view excludes tombstones
    val after = graft.util.Fs.walkFiles(new java.io.File(s"$dir/codes"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    assert(after == codeFiles, "delete must not rewrite code partitions")
    val ixT = VectorIndex.load(spark, dir)
    assert(ixT.codes.count() == live.count())
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val q = live.filter(col("vec_id") < 10)
    val resT = VectorIndex.search(ixT, q, live, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resT.forall { case (_, nid) => !delIds.contains(nid) })
    // compact: tombstones fold away, same results, ensure() won't rebuild
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val builds = VectorIndex.buildsThisProcess
    val ixC = VectorIndex.ensure(live, dir)
    assert(VectorIndex.buildsThisProcess == builds,
      "compacted store must fingerprint-validate against the live corpus")
    assert(ixC.codes.count() == live.count())
    val resC = VectorIndex.search(ixC, q, live, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resC == resT, "merge-on-read and compacted search must agree")
    c.unpersist()
  }

  test("delete enforces the membership contract loud") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/g"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    // rows never indexed: XOR maintenance would drift — must raise
    val stranger = corpus(210).filter(col("vec_id") >= 200)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.delete(stranger, dir)
    }
    assert(e1.getMessage.contains("not present"))
    // duplicate ids within one delete set
    val dup = c.filter(col("vec_id") < 5)
      .unionAll(c.filter(col("vec_id") < 5))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.delete(dup, dir)
    }
    assert(e2.getMessage.contains("duplicate"))
    // double delete across calls
    VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    val e3 = intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(e3.getMessage.contains("already tombstoned"))
    // the failed calls must not have corrupted the meta: ensure() over
    // the true live corpus validates without rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(c.filter(col("vec_id") >= 5), dir)
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }

  test("compact recovers a crash between cell-dir removal and rename") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/h"
    val c = corpus(300).cache()
    VectorIndex.build(c, dir)
    val deleted = c.filter(col("vec_id") % 3 === 0)
    val live = c.filter(col("vec_id") % 3 =!= 0)
    VectorIndex.delete(deleted, dir)
    // Fabricate the worst-window crash state by hand: survivors of ONE
    // affected cell staged, its live directory already removed, rename
    // never executed, tombstones still present.
    val raw = spark.read.parquet(s"$dir/codes")
    val tombIds = deleted.select(col("vec_id").as("nid"))
    val firstCell = raw.join(tombIds, Seq("nid"), "left_semi")
      .select("cell").distinct().orderBy("cell").head().getInt(0)
    raw.filter(col("cell") === firstCell)
      .join(tombIds, Seq("nid"), "left_anti")
      .withColumn("cell", lit(firstCell))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes_staging")
    graft.util.Fs.rmTree(spark, s"$dir/codes/cell=$firstCell")
    // the staged copy is now the ONLY copy of that cell's survivors
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/codes_staging").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.count() == live.count(),
      "recovery must restore the staged cell and finish the compaction")
    // fingerprint still validates against the live corpus — no rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(live, dir)
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }

  test("PLAIN maintenance ops reject the FILTERED store loud, naming the twin") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/i"
    val c = corpus(200)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    VectorIndex.buildFiltered(c, dir, "label")
    val batch = corpus(210).filter(col("vec_id") >= 200)
      .withColumn("label", (col("vec_id") % 3).cast("long"))
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.append(batch, dir)
    }
    assert(e1.getMessage.contains("appendFiltered"))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(e2.getMessage.contains("deleteFiltered"))
    // the store is untouched by the rejected calls: a filtered search
    // still works and no tombstones were written
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.count() == 200)
    // ...and the filtered twins reject a PLAIN store symmetrically
    VectorIndex.build(c.select("vec_id", "embedding"), s"$dir-plain")
    val e3 = intercept[IllegalArgumentException] {
      VectorIndex.deleteFiltered(c.filter(col("vec_id") < 5),
        s"$dir-plain", "label")
    }
    assert(e3.getMessage.contains("unfiltered"))
    c.unpersist()
  }

  test("crashed append is LOUD: the in-progress marker blocks " +
      "load/search, delete, and compaction; ensure() rebuilds through it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/m"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    graft.util.IngestMarker.write(spark, dir, "spec-fabricated crash")
    intercept[IllegalArgumentException] { VectorIndex.load(spark, dir) }
    intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    intercept[IllegalArgumentException] { VectorIndex.compact(spark, dir) }
    intercept[IllegalArgumentException] {
      VectorIndex.compactFiles(spark, dir)
    }
    // ensure() is the recovery: marker ⇒ rebuild, marker cleared
    val b0 = VectorIndex.buildsThisProcess
    val ix = VectorIndex.ensure(c, dir)
    assert(VectorIndex.buildsThisProcess == b0 + 1,
      "ensure did not rebuild through the crash marker")
    assert(ix.codes.count() == 200)
    c.unpersist()
  }

  test("ensure RETHROWS a corpus-side failure instead of deleting the " +
      "healthy store") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/n"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    val b0 = VectorIndex.buildsThisProcess
    val boom = udf((id: Long) =>
      if (id >= 0) throw new RuntimeException("transient read failure")
      else id)
    val bad = c.select(boom(col("vec_id")).as("vec_id"), col("embedding"))
    intercept[Exception] { VectorIndex.ensure(bad, dir) }
    assert(VectorIndex.buildsThisProcess == b0,
      "a transient corpus failure triggered a rebuild")
    // the healthy store still loads and searches
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.count() == 200)
    c.unpersist()
  }

  test("compactFiles bounds append-history file growth and is " +
      "search-invisible") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/o"
    val all = corpus(420).cache()
    VectorIndex.build(all.filter(col("vec_id") < 300), dir)
    (0 until 6).foreach { k =>
      VectorIndex.append(all.filter(
        col("vec_id") >= 300 + k * 20 && col("vec_id") < 320 + k * 20), dir)
    }
    val cells = graft.util.Fs.listDirNames(spark, s"$dir/codes")
      .filter(_.startsWith("cell="))
    val grown = cells.map(d =>
      graft.util.Fs.dataFileCount(spark, s"$dir/codes/$d"))
    assert(grown.exists(_ > 2),
      s"fixture failed to grow files per cell: $grown")
    val q = all.filter(col("vec_id") < 10)
    def res(ix: VectorIndex.Loaded) = VectorIndex.search(ix, q, all, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = res(VectorIndex.load(spark, dir))
    VectorIndex.compactFiles(spark, dir, maxFiles = 2)
    cells.foreach { d =>
      val n = graft.util.Fs.dataFileCount(spark, s"$dir/codes/$d")
      assert(n <= 2, s"codes/$d still has $n files after the merge")
    }
    assert(res(VectorIndex.load(spark, dir)) == before,
      "compactFiles changed search results")
    // fingerprint untouched: ensure over the union corpus is a pure load
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(all, dir)
    assert(VectorIndex.buildsThisProcess == builds,
      "compactFiles drifted the fingerprint")
    all.unpersist()
  }

  test("compactFiltered recovers a LEGACY codes_staging crash (the " +
      "pre-rename staging path) on a filtered store") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/p"
    val c = corpus(120)
      .withColumn("label", (col("vec_id") % 2).cast("long")).cache()
    VectorIndex.buildFiltered(c, dir, "label")
    VectorIndex.deleteFiltered(c.filter(col("vec_id") % 4 === 0), dir,
      "label")
    val tombIds = c.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("nid"))
    val raw = spark.read.parquet(s"$dir/codes")
    val pair = raw.join(tombIds, Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct()
      .orderBy("label", "cell").head()
    val (pl, pc) = (pair.getLong(0), pair.getInt(1))
    // fabricate the PRE-UPGRADE crash: survivors staged under the OLD
    // codes_staging path, live pair dir already removed — its only copy
    raw.filter(col("label") === pl && col("cell") === pc)
      .join(tombIds, Seq("nid"), "left_anti")
      .withColumn("label", lit(pl)).withColumn("cell", lit(pc))
      .repartition(col("label"), col("cell"))
      .write.mode("overwrite").partitionBy("label", "cell")
      .parquet(s"$dir/codes_staging")
    graft.util.Fs.rmTree(spark, s"$dir/codes/label=$pl/cell=$pc")
    VectorIndex.compactFiltered(spark, dir, "label")
    assert(!new java.io.File(s"$dir/codes_staging").exists(),
      "legacy staging not swept")
    assert(VectorIndex.load(spark, dir).codes.count() ==
      c.filter(col("vec_id") % 4 =!= 0).count(),
      "legacy staged survivors were lost")
    c.unpersist()
  }

  test("cross-variant compact rejects BEFORE touching the other " +
      "variant's in-flight staging (no cross-destruction)") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/x"
    val c = corpus(120)
      .withColumn("label", (col("vec_id") % 2).cast("long")).cache()
    VectorIndex.buildFiltered(c, dir, "label")
    // Fabricate a compactFiltered crash mid-swap: staged survivors are
    // the ONLY copy of one (label, cell) pair
    VectorIndex.deleteFiltered(c.filter(col("vec_id") % 4 === 0), dir,
      "label")
    val tombIds = c.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("nid"))
    val raw = spark.read.parquet(s"$dir/codes")
    val pair = raw.join(tombIds, Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct()
      .orderBy("label", "cell").head()
    val (pl, pc) = (pair.getLong(0), pair.getInt(1))
    raw.filter(col("label") === pl && col("cell") === pc)
      .join(tombIds, Seq("nid"), "left_anti")
      .withColumn("label", lit(pl)).withColumn("cell", lit(pc))
      .repartition(col("label"), col("cell"))
      .write.mode("overwrite").partitionBy("label", "cell")
      .parquet(s"$dir/codes_staging_filtered")
    graft.util.Fs.rmTree(spark, s"$dir/codes/label=$pl/cell=$pc")
    // A PLAIN compact aimed (wrongly) at this filtered store must fail
    // loud BEFORE any staging sweep — the staged pair survives intact
    val e = intercept[IllegalArgumentException] {
      VectorIndex.compact(spark, dir)
    }
    assert(e.getMessage.contains("compactFiltered"))
    assert(new java.io.File(s"$dir/codes_staging_filtered").exists(),
      "rejected cross-variant compact must not delete in-flight staging")
    // ...and the CORRECT variant still recovers from the crash state
    VectorIndex.compactFiltered(spark, dir, "label")
    assert(!new java.io.File(s"$dir/codes_staging_filtered").exists())
    assert(VectorIndex.load(spark, dir).codes.count() ==
      c.filter(col("vec_id") % 4 =!= 0).count())
    c.unpersist()
  }

  test("filtered delete/compact: two-level partition-pair rewrite, " +
      "fingerprint incremental, crash recovery") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/j"
    val c = corpus(300)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    VectorIndex.buildFiltered(c, dir, "label")
    val deleted = c.filter(col("vec_id") % 5 === 0)
    val live = c.filter(col("vec_id") % 5 =!= 0).cache()
    VectorIndex.deleteFiltered(deleted, dir, "label")
    // merge-on-read on the two-level store
    val ixT = VectorIndex.load(spark, dir)
    assert(ixT.codes.count() == live.count())
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    // compact rewrites ONLY affected (label, cell) pairs: snapshot the
    // files of one UNAFFECTED pair and require them untouched
    val rawPre = spark.read.parquet(s"$dir/codes")
    // partition columns come back type-INFERRED (int) — cast to long
    val affectedPairs = rawPre
      .join(deleted.select(col("vec_id").as("nid")), Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val allPairs = rawPre.select(col("label").cast("long"), col("cell"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val untouchedPair = (allPairs -- affectedPairs).headOption
    val untouchedFiles = untouchedPair.map { case (l, cc) =>
      graft.util.Fs.walkFiles(
        new java.io.File(s"$dir/codes/label=$l/cell=$cc"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    VectorIndex.compactFiltered(spark, dir, "label")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    untouchedPair.foreach { case (l, cc) =>
      val after = graft.util.Fs.walkFiles(
        new java.io.File(s"$dir/codes/label=$l/cell=$cc"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      assert(after == untouchedFiles.get,
        s"unaffected pair (label=$l, cell=$cc) was rewritten")
    }
    val ixC = VectorIndex.load(spark, dir)
    assert(ixC.codes.count() == live.count())
    assert(ixC.codes.select("nid").collect().map(_.getLong(0)).toSet
      .intersect(delIds).isEmpty)
    // fingerprint (label included) validates the live corpus — no rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensureFiltered(live, dir, "label")
    assert(VectorIndex.buildsThisProcess == builds)
    // crash recovery: fabricate rm-before-rename on one affected pair
    val deleted2 = live.filter(col("vec_id") % 7 === 0)
    val live2 = live.filter(col("vec_id") % 7 =!= 0)
    VectorIndex.deleteFiltered(deleted2, dir, "label")
    val tombIds2 = deleted2.select(col("vec_id").as("nid"))
    val raw2 = spark.read.parquet(s"$dir/codes")
    val pair = raw2.join(tombIds2, Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct()
      .orderBy("label", "cell").head()
    val (pl, pc) = (pair.getLong(0), pair.getInt(1))
    raw2.filter(col("label") === pl && col("cell") === pc)
      .join(tombIds2, Seq("nid"), "left_anti")
      .withColumn("label", lit(pl)).withColumn("cell", lit(pc))
      .repartition(col("label"), col("cell"))
      .write.mode("overwrite").partitionBy("label", "cell")
      .parquet(s"$dir/codes_staging_filtered")
    graft.util.Fs.rmTree(spark, s"$dir/codes/label=$pl/cell=$pc")
    VectorIndex.compactFiltered(spark, dir, "label")
    assert(!new java.io.File(s"$dir/codes_staging_filtered").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(VectorIndex.load(spark, dir).codes.count() == live2.count(),
      "recovery must restore the staged pair and finish the compaction")
    val builds2 = VectorIndex.buildsThisProcess
    VectorIndex.ensureFiltered(live2, dir, "label")
    assert(VectorIndex.buildsThisProcess == builds2)
    c.unpersist(); live.unpersist()
  }

  test("filtered append: frozen quantizers, two-level partitions, " +
      "incremental fingerprint") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/k"
    val all = corpus(360)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    val first = all.filter(col("vec_id") < 300)
    val batch = all.filter(col("vec_id") >= 300)
    VectorIndex.buildFiltered(first, dir, "label")
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.appendFiltered(batch, dir, "label")
    val ix = VectorIndex.ensureFiltered(all, dir, "label")
    assert(VectorIndex.buildsThisProcess == builds,
      "filtered append forced a rebuild")
    assert(ix.nVectors == 360 && ix.codes.count() == 360)
    // appended rows landed under their label partitions
    val labels = spark.read.parquet(s"$dir/codes")
      .filter(col("nid") >= 300).select(col("label").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(labels == Set(0L, 1L, 2L))
    all.unpersist()
  }

  test("compact clears a fully-emptied cell's files") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/e"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    // empty one whole cell: delete every vector assigned to cell 0
    val cellOf = VectorIndex.load(spark, dir).codes
      .select("nid", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cell0 = cellOf.collect { case (nid, 0) => nid }.toSet
    assume(cell0.nonEmpty)
    val deleted = c.filter(col("vec_id").isin(cell0.toSeq.map(Long.box): _*))
    VectorIndex.delete(deleted, dir)
    VectorIndex.compact(spark, dir)
    val live = c.filter(!col("vec_id").isin(cell0.toSeq.map(Long.box): _*))
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.filter(col("cell") === 0).count() == 0,
      "emptied cell must hold no rows after compaction")
    assert(ix.codes.count() == live.count())
    c.unpersist()
  }

  test("delete counts distinct ids AFTER the cast to the tombstoned " +
      "long: 7.0 and 7.5 fail loud and leave meta and tombstones " +
      "untouched") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/castdup"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    val meta0 = graft.util.Sidecar.readHead(spark, s"$dir/meta")
    val seven = c.filter(col("vec_id") === 7)
    val twice = seven.select(col("vec_id").cast("double"), col("embedding"))
      .unionByName(seven.select((col("vec_id") + 0.5).as("vec_id"),
        col("embedding")))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.delete(twice, dir)
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    assert(graft.util.Sidecar.readHead(spark, s"$dir/meta") == meta0)
    assert(!graft.util.Fs.exists(spark, s"$dir/tombstones"))
    c.unpersist()
  }
}
