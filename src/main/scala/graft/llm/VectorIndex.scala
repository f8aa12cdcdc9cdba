package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ vector index: build ONCE, query many times.
  *
  * Every other ANN query in this repo trains its quantizers inside the
  * query (fine for a gate, wrong for production): at 100 TB the index
  * build is a full-corpus job you run once — two fused-Lloyd training
  * passes plus one encode scan — and then amortize over thousands of
  * searches, each of which touches only `nProbe/nCells` of the stored
  * codes. Reference analog: the model artifact persisted for reuse in
  * daxos/read.py:11-31 — the same save/load/reuse shape applied to a
  * vector index.
  *
  * On-disk layout under `dir` (all parquet — readable by any engine):
  *   - `meta/`       one row: corpus fingerprint (count + order-
  *                   independent xxhash64 XOR over (vec_id, embedding)),
  *                   dims and quantizer shape. [[ensure]] validates it
  *                   before trusting the index; any mismatch rebuilds.
  *   - `codebooks/`  (level, sub, code, vals): level 0 = the nCells
  *                   coarse centroids, level 1 = the m×kCodes residual
  *                   PQ codebooks. A few KB total — the whole "model".
  *   - `codes/`      cell-partitioned (cell=K/ directories): (nid,
  *                   codes, recon_norm_sq) — m bytes + one double per
  *                   vector, 16-32× smaller than the float corpus.
  *
  * Search ([[search]]) loads the codebooks (driver-side, KB), computes
  * the distinct probed cells of the query set with ONE aggregate over
  * the (small) query side, and scans ONLY those `cell=` directories —
  * the predicate is an `IN` list of literals, so Spark prunes partition
  * directories statically; the 100 TB code store is touched only where
  * probed. Exact re-rank then joins the shortlist back to the source
  * corpus by id (an index never stores the original floats — the source
  * table remains the single source of truth, exactly like st14's
  * streaming variant at Streams.scala:820).
  */
object VectorIndex {

  /** Incremented on every [[build]]; lets a spec assert the second
    * [[ensure]] call is a pure load (build-once amortization) without a
    * flaky timing comparison. */
  @volatile var buildsThisProcess: Int = 0

  final case class Loaded(
      coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      codes: DataFrame,
      nVectors: Long)

  // The plain store's codes live under `cell=` directories, the
  // filtered store's under (filterCol, cell) — every lifecycle body
  // below serves both, keyed by `filterCol` (None = plain). Meta has
  // two shapes: the plain store's six fields, the filtered store's
  // with `filter_col`.
  private def vMetaSchema(filtered: Boolean) = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("n_vectors", LongType), StructField("checksum", LongType),
      StructField("dim", IntegerType), StructField("n_cells", IntegerType),
      StructField("m", IntegerType), StructField("k_codes", IntegerType))
    val tail =
      if (filtered) Seq(StructField("filter_col", StringType),
        StructField("format_version", IntegerType))
      else Seq(StructField("format_version", IntegerType))
    StructType(base ++ tail)
  }

  // driver-side meta commit ([[graft.util.Sidecar]]) — no Spark job
  private def writeVMeta(spark: SparkSession, dir: String, n: Long,
      sum: Long, dim: Int, nCells: Int, m: Int, kCodes: Int,
      filterCol: Option[String], fv: Int): Unit = {
    val row = Seq[Any](n, sum, dim, nCells, m, kCodes) ++
      filterCol.toSeq :+ fv
    graft.util.Sidecar.write(spark, s"$dir/meta",
      vMetaSchema(filterCol.isDefined), Seq(row))
  }

  /** Incremental meta commit: `dn` vectors whose row hashes XOR to
    * `dsum` joined (dn > 0) or left (dn < 0) the store. XOR is its own
    * inverse, so old ⊕ xor(rows) IS the changed corpus' checksum. */
  private def commitMeta(spark: SparkSession, dir: String, meta: Row,
      dn: Long, dsum: Long): Unit =
    writeVMeta(spark, dir, meta.getAs[Long]("n_vectors") + dn,
      meta.getAs[Long]("checksum") ^ dsum,
      meta.getAs[Int]("dim"), meta.getAs[Int]("n_cells"),
      meta.getAs[Int]("m"), meta.getAs[Int]("k_codes"),
      filterOf(meta), meta.getAs[Int]("format_version"))

  private def filterOf(meta: Row): Option[String] =
    if (meta.schema.fieldNames.contains("filter_col"))
      Some(meta.getAs[String]("filter_col"))
    else None

  private def partCols(filterCol: Option[String]): Seq[String] =
    filterCol.toSeq :+ "cell"

  private def opName(op: String, filterCol: Option[String]): String =
    if (filterCol.isEmpty) op else s"${op}Filtered"

  /** The filter column participates in the fingerprint: a relabeled
    * corpus must invalidate the filtered store. */
  private def hashed(filterCol: Option[String]): Column =
    expr(s"bit_xor(xxhash64(${("vec_id" +: "embedding" +: filterCol.toSeq)
      .mkString(", ")}))")

  private def fingerprint(corpus: DataFrame,
      filterCol: Option[String]): (Long, Long) = {
    val r = corpus.agg(count(lit(1)), hashed(filterCol)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Every maintenance entry serves one layout: a plain op on a
    * [[buildFiltered]] store (or the reverse) would mix cell-keyed and
    * (filterCol, cell)-keyed paths. Fail loud naming the twin — inside
    * the mutation bracket, so before any recovery sweep can touch the
    * other variant's in-flight staging. */
  private def requireLayout(meta: Row, dir: String,
      filterCol: Option[String], op: String): Unit =
    require(filterOf(meta) == filterCol, filterCol match {
      case None => s"$op does not support the FILTERED (label, cell)-" +
        s"partitioned store at $dir — use ${op}Filtered instead"
      case Some(f) => s"$op expects a FILTERED store keyed by '$f' at " +
        s"$dir — found " + filterOf(meta).fold("an unfiltered store")(
          s => s"filter_col='$s'")
    })

  private def mutate[T](spark: SparkSession, dir: String, op: String,
      filterCol: Option[String])(body: Row => T): T = {
    val name = opName(op, filterCol)
    graft.util.StoreKernel.mutate(spark, dir, name)(
      requireLayout(_, dir, filterCol, name))(body)
  }

  /** Train both quantizer levels, encode the corpus, write the store.
    * Three corpus scans total (coarse Lloyd, residual Lloyd, encode) —
    * the once-per-corpus cost that [[search]] amortizes away. */
  def build(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16): Unit =
    buildIn(corpus, dir, None, nCells, m, kCodes)

  /** Build a PRE-FILTERED store: codes partitioned by (filterCol, cell)
    * — the layout v18's scaladoc promises at 100 TB ("st14's store with
    * one more partition column"). A filtered search then prunes BOTH
    * partition levels: only the query set's predicate values and probed
    * cells are ever listed into tasks. The filter column participates
    * in the fingerprint (a relabeled corpus must invalidate the store).
    */
  def buildFiltered(corpus: DataFrame, dir: String, filterCol: String,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 16): Unit =
    buildIn(corpus, dir, Some(filterCol), nCells, m, kCodes)

  private def buildIn(corpus: DataFrame, dir: String,
      filterCol: Option[String], nCells: Int, m: Int, kCodes: Int): Unit = {
    val spark = corpus.sparkSession
    graft.util.StoreLease.withLease(spark, dir, opName("build", filterCol)) {
    import spark.implicits._
    buildsThisProcess += 1
    graft.util.Fs.rmTree(spark, dir)
    val (coarse, books) = Similarity.ivfPqTrain(corpus, nCells, m, kCodes)
    val (n, sum) = fingerprint(corpus, filterCol)
    // repartition by the partition columns before the partitioned
    // write: without it every task writes a file into every cell
    // directory (tasks x cells small files — the classic partitionBy
    // mistake at scale); with it each cell directory gets one
    // contiguous file per shuffle partition
    Similarity.ivfPqEncode(corpus, coarse, books, keepCols = filterCol.toSeq)
      .repartition(partCols(filterCol).map(col): _*)
      .write.mode("overwrite").partitionBy(partCols(filterCol): _*)
      .parquet(s"$dir/codes")
    val coarseRows = coarse.zipWithIndex.map { case (v, c) => (0, 0, c, v.toSeq) }
    val bookRows = for {
      (subArr, sub) <- books.zipWithIndex.toSeq
      (v, c) <- subArr.zipWithIndex.toSeq
    } yield (1, sub, c, v.toSeq)
    (coarseRows.toSeq ++ bookRows)
      .toDF("level", "sub", "code", "vals")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeVMeta(spark, dir, n, sum, coarse(0).length, nCells, m, kCodes,
      filterCol, 1)
    }
  }

  private def readCodebooks(spark: SparkSession, dir: String,
      meta: Row): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cb = spark.read.parquet(s"$dir/codebooks")
      .select("level", "sub", "code", "vals").collect()
    val coarse = Array.ofDim[Array[Double]](meta.getAs[Int]("n_cells"))
    val books = Array.ofDim[Array[Double]](meta.getAs[Int]("m"),
      meta.getAs[Int]("k_codes"))
    cb.foreach { r =>
      val vals = r.getSeq[Double](3).toArray
      if (r.getInt(0) == 0) coarse(r.getInt(2)) = vals
      else books(r.getInt(1))(r.getInt(2)) = vals
    }
    require(coarse.forall(_ != null) && books.forall(_.forall(_ != null)),
      s"vector index at $dir has an incomplete codebook table")
    (coarse, books)
  }

  def load(spark: SparkSession, dir: String): Loaded = {
    // a crashed append ([[graft.util.IngestMarker]]) may have landed
    // half a batch in the code partitions — searching it would
    // silently return phantom rows; fail loud at the gateway instead
    val meta = graft.util.StoreKernel.open(spark, dir, "load/search")(_ => ())
    val (coarse, books) = readCodebooks(spark, dir, meta)
    // merge-on-read: live codes = stored codes minus tombstones. The
    // anti-join's nid predicate sits ABOVE the scan, so search()'s
    // cell IN-list still pushes to the partition directories.
    val raw = spark.read.parquet(s"$dir/codes")
    val codes =
      if (graft.util.Fs.exists(spark, s"$dir/tombstones"))
        raw.join(spark.read.parquet(s"$dir/tombstones")
          .select(col("nid")), Seq("nid"), "left_anti")
      else raw
    Loaded(coarse, books, codes, meta.getAs[Long]("n_vectors"))
  }

  /** Delete vectors WITHOUT touching the code partitions — the
    * merge-on-read shape (Iceberg/Delta delete files): deleted ids land
    * in a tombstone table; [[load]] anti-joins it so every search sees
    * only live rows. `deleted` must be the actual (vec_id, embedding)
    * rows being removed, each a live stored row exactly once (enforced
    * by the kernel's delete audit): the meta fingerprint updates
    * INCREMENTALLY, so a later [[ensure]] over the live corpus
    * validates without rebuild. Cost: O(|deleted|), zero store rewrite.
    */
  def delete(deleted: DataFrame, dir: String): Unit =
    deleteIn(deleted, dir, None)

  /** [[delete]] for the (filterCol, cell)-partitioned store: the
    * fingerprint includes the filter column, so `deleted` must carry
    * (vec_id, embedding, filterCol). [[load]]'s nid anti-join is
    * layout-independent. */
  def deleteFiltered(deleted: DataFrame, dir: String,
      filterCol: String): Unit =
    deleteIn(deleted, dir, Some(filterCol))

  private def deleteIn(deleted: DataFrame, dir: String,
      filterCol: Option[String]): Unit = {
    val spark = deleted.sparkSession
    mutate(spark, dir, "delete", filterCol) { meta =>
      val (ids, audit) = graft.util.StoreKernel.auditDelete(deleted, dir,
          "vec_id", "nid", Seq(hashed(filterCol))) { _ =>
        spark.read.parquet(s"$dir/codes").select("nid")
      }
      graft.util.StoreKernel.tombstone(ids, dir)
      commitMeta(spark, dir, meta, -audit.getLong(0),
        if (audit.isNullAt(2)) 0L else audit.getLong(2))
    }
  }

  /** Recover the code table's crashed stage-and-swap and return the
    * table this layout's maintenance stages into. The filtered store
    * stages under `codes_staging_filtered`, apart from the plain
    * store's `codes_staging`; filtered stores of earlier builds staged
    * under `codes_staging`, so a filtered pass recovers both. */
  private def recoverCodes(spark: SparkSession, dir: String,
      filterCol: Option[String]): graft.util.StoreKernel.Table = {
    val tables = (if (filterCol.isEmpty) Seq("_staging")
      else Seq("_staging", "_staging_filtered"))
      .map(graft.util.StoreKernel.Table(s"$dir/codes", partCols(filterCol), _))
    tables.foreach(graft.util.StoreKernel.recover(spark, _))
    tables.last
  }

  /** Fold the tombstones into the store: rewrite ONLY the cell
    * partitions that contain deleted rows, then drop the tombstone
    * table. The maintenance pass that bounds merge-on-read's growing
    * anti-join cost, exactly like s13 bounds small-file growth.
    * Crash-safe via the kernel's stage-and-swap; tombstones are dropped
    * only after the full swap, so a crash anywhere leaves merge-on-read
    * correct and the next pass recovers. A fully-emptied cell writes
    * no staging dir and is only removed. */
  def compact(spark: SparkSession, dir: String): Unit =
    compactIn(spark, dir, None)

  /** [[compact]] for the two-level (filterCol, cell) layout: rewrites
    * ONLY the (value, cell) partition pairs that contain tombstoned
    * rows, stage-and-swap with the same crash-recovery contract.
    * Partition directory names are reconstructed from the pair values,
    * so the filter column must be PATH-SAFE (integral or simple
    * strings — the same values Spark writes verbatim into
    * `filterCol=value/` directory names). */
  def compactFiltered(spark: SparkSession, dir: String,
      filterCol: String): Unit =
    compactIn(spark, dir, Some(filterCol))

  private def compactIn(spark: SparkSession, dir: String,
      filterCol: Option[String]): Unit =
    mutate(spark, dir, "compact", filterCol) { _ =>
      val codes = recoverCodes(spark, dir, filterCol)
      if (graft.util.Fs.exists(spark, s"$dir/tombstones")) {
        graft.util.StoreKernel.dropRows(spark, codes,
          spark.read.parquet(s"$dir/codes"),
          spark.read.parquet(s"$dir/tombstones").select(col("nid")), "nid")
        graft.util.Fs.rmTree(spark, s"$dir/tombstones")
      }
    }

  /** FILE-MERGE maintenance (the append-history bound,
    * [[graft.llm.DedupIndex.compactFiles]]'s contract applied to the
    * cell layout): every [[append]] lands one file per touched `cell=`
    * directory and [[compact]] only folds tombstones, so a K-ingest
    * history accumulates O(K) files per cell and search scan tasks
    * grow with history rather than data. Rewrites ONLY cell
    * directories whose data-file count exceeds `maxFiles`, verbatim
    * rows, stage-and-swap through [[compact]]'s staging path (either
    * pass recovers the other's crash). `maxRecordsPerFile` re-splits
    * a genuinely huge cell so the merge cannot produce one monster
    * file. */
  def compactFiles(spark: SparkSession, dir: String, maxFiles: Int = 16,
      maxRecordsPerFile: Long = 8000000L): Unit =
    compactFilesIn(spark, dir, None, maxFiles, maxRecordsPerFile)

  /** [[compactFiles]] for the two-level (filterCol, cell) layout:
    * merges the (value, cell) partition pairs whose data-file count
    * exceeds `maxFiles`, through [[compactFiltered]]'s staging path. */
  def compactFilesFiltered(spark: SparkSession, dir: String,
      filterCol: String, maxFiles: Int = 16,
      maxRecordsPerFile: Long = 8000000L): Unit =
    compactFilesIn(spark, dir, Some(filterCol), maxFiles, maxRecordsPerFile)

  private def compactFilesIn(spark: SparkSession, dir: String,
      filterCol: Option[String], maxFiles: Int,
      maxRecordsPerFile: Long): Unit =
    mutate(spark, dir, "compactFiles", filterCol) { _ =>
      require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
      graft.util.StoreKernel.mergeFiles(spark,
        recoverCodes(spark, dir, filterCol), maxFiles, maxRecordsPerFile)
    }

  /** Load if the stored fingerprint matches `corpus`, else (re)build.
    * The check costs one aggregate over the corpus — vastly cheaper
    * than the two Lloyd trainings plus encode a rebuild costs, and it
    * makes a stale index (regenerated testdata, different sf dir
    * mapped to the same path) impossible to silently search. A
    * crashed-append marker or an unreadable meta rebuilds; a
    * corpus-side failure rethrows ([[graft.util.StoreKernel.ensure]]). */
  def ensure(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16): Loaded =
    ensureIn(corpus, dir, None, nCells, m, kCodes)

  def ensureFiltered(corpus: DataFrame, dir: String, filterCol: String,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 16): Loaded =
    ensureIn(corpus, dir, Some(filterCol), nCells, m, kCodes)

  private def ensureIn(corpus: DataFrame, dir: String,
      filterCol: Option[String], nCells: Int, m: Int, kCodes: Int): Loaded = {
    val spark = corpus.sparkSession
    graft.util.StoreKernel.ensure(spark, dir) { meta =>
      filterOf(meta) == filterCol && meta.getAs[Int]("n_cells") == nCells &&
        meta.getAs[Int]("m") == m && meta.getAs[Int]("k_codes") == kCodes
    } { meta =>
      val (n, sum) = fingerprint(corpus, filterCol)
      meta.getAs[Long]("n_vectors") == n && meta.getAs[Long]("checksum") == sum
    }(buildIn(corpus, dir, filterCol, nCells, m, kCodes))
    load(spark, dir)
  }

  /** Append a batch of new vectors to an existing index WITHOUT
    * retraining: the stored quantizers are FROZEN (st14's streaming
    * contract, Streams.scala — retraining would re-shuffle the whole
    * accumulated store; production systems version the quantizer and
    * rebuild offline), new rows are encoded against them and appended
    * to the cell partitions, and the meta fingerprint updates
    * INCREMENTALLY — the checksum is an XOR over per-row hashes, so
    * old ⊕ xor(batch) is exactly the fingerprint of the union corpus:
    * a later [[ensure]] over the full corpus validates without a
    * rebuild. Cost: one scan of the BATCH, zero touch of existing
    * partitions.
    */
  def append(batch: DataFrame, dir: String): Unit =
    appendIn(batch, dir, None)

  /** [[append]] for the filtered store: the batch is encoded WITH its
    * filter column into the two-level partitions. */
  def appendFiltered(batch: DataFrame, dir: String,
      filterCol: String): Unit =
    appendIn(batch, dir, Some(filterCol))

  private def appendIn(batch: DataFrame, dir: String,
      filterCol: Option[String]): Unit = {
    val spark = batch.sparkSession
    mutate(spark, dir, "append", filterCol) { meta =>
      val (coarse, books) = readCodebooks(spark, dir, meta)
      val (bn, bsum) = fingerprint(batch, filterCol)
      // Crash contract: the codes append and the meta commit are two
      // writes; without a marker a crash between them lets a
      // REDELIVERED batch double-encode its rows while the corpus-side
      // XOR fingerprint lands on the correct-looking union value —
      // phantom duplicates ensure() can never detect. Marker down
      // first, cleared after the meta commit; ensure() rebuilds on
      // sight of it.
      graft.util.IngestMarker.write(spark, dir,
        s"${opName("append", filterCol)} of $bn vectors in flight")
      // repartition by the partition columns BEFORE the partitioned
      // append, as build() does (the tasks x cells small-files rule)
      Similarity.ivfPqEncode(batch, coarse, books, keepCols = filterCol.toSeq)
        .repartition(partCols(filterCol).map(col): _*)
        .write.mode("append").partitionBy(partCols(filterCol): _*)
        .parquet(s"$dir/codes")
      commitMeta(spark, dir, meta, bn, bsum)
      graft.util.IngestMarker.clear(spark, dir)
    }
  }

  /** The cell-partitioned codes restricted to the cells the query set
    * probes: ONE aggregate on the small query side (≤ nCells values)
    * becomes an `IN`-list filter — partition-directory pruning, so
    * un-probed cells are never read. */
  private def probedCodes(ix: Loaded, queries: DataFrame,
      nProbe: Int): DataFrame = {
    val bcCoarse = queries.sparkSession.sparkContext.broadcast(ix.coarse)
    val probeCells = udf { (v: Seq[Float]) =>
      Similarity.probeCellsKernel(bcCoarse.value, v, nProbe)
    }
    val cellsNeeded = queries
      .select(explode(probeCells(col("embedding"))).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    ix.codes.filter(col("cell").isin(cellsNeeded.map(Int.box): _*))
  }

  /** Search the stored index over its probed cells ([[probedCodes]]),
    * then the shared IVFADC kernel ([[Similarity.ivfPqSearch]]) scores
    * codes and exact-reranks the shortlist against `corpus`. */
  def search(ix: Loaded, queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int = 6, shortlist: Int = 64): DataFrame =
    Similarity.ivfPqSearch(queries, probedCodes(ix, queries, nProbe),
      ix.coarse, ix.books, corpus, k, nProbe, shortlist)

  /** Pre-filtered search over a [[buildFiltered]] store: nProbe
    * defaults to 8 (the filtered-search compensation measured on v18 —
    * a selective predicate shrinks each query's eligible set ~10×).
    * Prunes the predicate partition level when the query set's
    * distinct predicate values are few (≤ 64 — a bounded panel/batch;
    * a broad query set needs most value directories anyway), and
    * always prunes the cell level. */
  def searchFiltered(ix: Loaded, queries: DataFrame, corpus: DataFrame,
      filterCol: String, k: Int, nProbe: Int = 8,
      shortlist: Int = 64): DataFrame = {
    val probed = probedCodes(ix, queries, nProbe)
    val fVals = queries.select(col(filterCol)).distinct().limit(65).collect()
    val pruned =
      if (fVals.length <= 64) probed.filter(col(filterCol).isin(fVals.map(_.get(0)): _*))
      else probed
    Similarity.ivfPqSearch(queries, pruned, ix.coarse, ix.books, corpus,
      k, nProbe, shortlist, filterCol = Some(filterCol))
  }

  private def indexDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v19_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  private def filteredDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v23_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V19 — persisted-index ANN recall gate, v12-hardened: the emitted
    * rows are the exact brute-force truth over the fixed probe panel
    * (DuckDB hash-verifies them — same oracle as v1/v12); they emit
    * only when searching the STORED index reaches recall@1 ≥ 0.6 (the
    * IVF bar) AND the store is complete (codes count == corpus count ==
    * persisted meta count). First run builds the index on disk; every
    * later run of the same corpus fingerprint-validates and goes
    * straight to search — warm bench reps measure the amortized
    * search-only path, which is the shape a production user runs.
    */
  val persisted = QueryDef(
    "v19_persisted_ann_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      // fixture-owned store dir: clear a lease left by a KILLED
      // previous run (production stores must fail loud instead)
      graft.util.StoreLease.break(s, indexDirFor(d))
      val ix = ensure(emb, indexDirFor(d))
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1(queries, emb)
        .localCheckpoint(eager = true)
      val approx = search(ix, queries, emb, k = 1)
        .select(col("qid"), col("nid").as("nid_ix"))
      val joined = exact.join(approx, Seq("qid"), "left").cache()
      val nQ = joined.count().toDouble
      val hits = joined.filter(col("nid") === col("nid_ix")).count().toDouble
      val nStored = ix.codes.count()
      val nCorpus = emb.count()
      joined.unpersist(); emb.unpersist()
      exact.filter(lit(hits / nQ >= 0.6 && nQ > 0 &&
          nStored == nCorpus && ix.nVectors == nCorpus))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |      FROM q, embeddings e WHERE e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin))

  /** V23 — pre-filtered search over the PERSISTED (label, cell)-
    * partitioned store: v18's pre-filter semantics delivered on v19's
    * build-once index (the layout v18's scaladoc promised). Emitted
    * rows are the exact within-label truth (v18's DuckDB oracle);
    * they emit only when the stored-index filtered search reaches
    * recall@1 ≥ 0.6 and the store is complete.
    */
  val persistedFiltered = QueryDef(
    "v23_persisted_filtered_ann",
    { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      graft.util.StoreLease.break(s, filteredDirFor(d)) // fixture dir
      val ix = ensureFiltered(emb, filteredDirFor(d), "label")
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1Filtered(queries, emb, "label")
        .localCheckpoint(eager = true)
      val approx = searchFiltered(ix, queries, emb, "label", k = 1)
        .select(col("qid"), col("nid").as("nid_ix"))
      val joined = exact.join(approx, Seq("qid"), "left").cache()
      val nQ = joined.count().toDouble
      val hits = joined.filter(col("nid") === col("nid_ix")).count().toDouble
      val nStored = ix.codes.count()
      val nCorpus = emb.count()
      joined.unpersist(); emb.unpersist()
      exact.filter(lit(hits / nQ >= 0.6 && nQ > 0 &&
          nStored == nCorpus && ix.nVectors == nCorpus))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |                  label
        |           FROM embeddings WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |      FROM q JOIN embeddings e
        |        ON e.label = q.label AND e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin))

  private def deleteDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v25_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V25 — index DELETION + COMPACTION: the maintenance story every
    * long-lived vector store needs (GDPR erasure, re-crawl retirement).
    * Builds the v19-shaped store on the full corpus, tombstones every
    * vec_id ≡ 3 (mod 10), and gates, in order:
    *   1. merge-on-read: searching the tombstoned store reaches
    *      recall@1 ≥ 0.6 against the LIVE brute-force truth and never
    *      returns a deleted id;
    *   2. compaction folds the tombstones away with ONLY the affected
    *      cell partitions rewritten, after which the same search
    *      returns the IDENTICAL result set (merge-on-read ==
    *      merge-on-write);
    *   3. the incrementally-maintained fingerprint is exact: ensure()
    *      over the live corpus validates the compacted store WITHOUT a
    *      rebuild (buildsThisProcess unchanged), and counts reconcile.
    * Emitted rows are the exact live-corpus truth — DuckDB replays
    * them over `vec_id % 10 <> 3` (v19's oracle with the live filter).
    */
  val deleteCompact = QueryDef(
    "v25_index_delete_compact",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      val dir = deleteDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      build(emb, dir)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val ixT = load(s, dir)
      val queries = Similarity.probePanel(live)
      val exact = Similarity.bruteForceTop1(queries, live)
        .localCheckpoint(eager = true)
      def resultSet(ix: Loaded): Set[(Long, Long)] =
        search(ix, queries, live, k = 1)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val resT = resultSet(ixT)
      val deletedIds = deleted.select("vec_id").collect()
        .map(_.getLong(0)).toSet
      val noDeletedServed = resT.forall { case (_, nid) =>
        !deletedIds.contains(nid)
      }
      // the FALSIFIABLE merge-on-read check: the loaded codes relation
      // itself must contain no tombstoned nid. (noDeletedServed alone
      // is vacuous here — search() re-ranks by joining the LIVE corpus,
      // which would mask a broken tombstone anti-join.)
      val mergeOnReadApplied = ixT.codes
        .join(deleted.select(col("vec_id").as("nid")), Seq("nid"),
          "left_semi").count() == 0
      compact(s, dir)
      val builds0 = buildsThisProcess
      val ixC = ensure(live, dir)
      val noRebuild = buildsThisProcess == builds0
      val resC = resultSet(ixC)
      val nLive = live.count()
      val nStored = ixC.codes.count()
      val exactMap = exact.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hits = resT.count { case (q, nid) => exactMap.get(q).contains(nid) }
      val recallOk = exactMap.nonEmpty &&
        hits.toDouble / exactMap.size >= 0.6
      emb.unpersist()
      exact.filter(lit(recallOk && noDeletedServed && mergeOnReadApplied &&
          resT == resC && noRebuild && nStored == nLive &&
          ixC.nVectors == nLive))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH live AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings WHERE vec_id % 10 <> 3),
        |q AS (SELECT vec_id AS qid, v AS qv FROM live WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, e.v), 6) AS sim
        |      FROM q, live e WHERE e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin),
    // store-ops-only bench variant: build, delete, tombstoned search,
    // compact, ensure, compacted search — without the brute-force
    // truth side and result-set reconciliations (Verify runs the
    // full-gate form above)
    benchFn = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")).cache()
      val dir = deleteDirFor(d)
      graft.util.StoreLease.break(s, dir)
      build(emb, dir)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val queries = Similarity.probePanel(live)
      search(load(s, dir), queries, live, k = 1).count(): Unit
      compact(s, dir)
      val ixC = ensure(live, dir)
      val out = search(ixC, queries, live, k = 1)
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    })

  private def filteredDeleteDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v27_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V27 — deletion + compaction for the FILTERED (label, cell) store,
    * completing the maintenance matrix (v25 = plain store, v26 = graph
    * index): tombstone every vec_id ≡ 3 (mod 10), then gate
    *   1. falsifiable merge-on-read (no tombstoned nid in the loaded
    *      codes relation),
    *   2. filtered search over the tombstoned store reaches within-
    *      label recall@1 ≥ 0.6 vs the LIVE truth,
    *   3. compaction rewrites only affected (label, cell) pairs and
    *      the same search returns the IDENTICAL result set (pure fold,
    *      no repair — merge-on-read == merge-on-write),
    *   4. ensureFiltered over the live corpus validates WITHOUT
    *      rebuild (label participates in the XOR fingerprint) and
    *      counts reconcile.
    * Emitted rows are the exact live within-label truth — v23's oracle
    * with the live filter. */
  val filteredDeleteCompact = QueryDef(
    "v27_filtered_delete_compact",
    { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val dir = filteredDeleteDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      buildFiltered(emb, dir, "label")
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3).cache()
      deleteFiltered(deleted, dir, "label")
      val ixT = load(s, dir)
      val mergeOnReadApplied = ixT.codes
        .join(deleted.select(col("vec_id").as("nid")), Seq("nid"),
          "left_semi").count() == 0
      val queries = Similarity.probePanel(live)
      val exact = Similarity.bruteForceTop1Filtered(queries, live, "label")
        .localCheckpoint(eager = true)
      val exactMap = exact.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def resultSet(ix: Loaded): Set[(Long, Long)] =
        searchFiltered(ix, queries, live, "label", k = 1)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val resT = resultSet(ixT)
      compactFiltered(s, dir, "label")
      val builds0 = buildsThisProcess
      val ixC = ensureFiltered(live, dir, "label")
      val noRebuild = buildsThisProcess == builds0
      val resC = resultSet(ixC)
      val nLive = live.count()
      val nStored = ixC.codes.count()
      val hits = resT.count { case (q, nid) => exactMap.get(q).contains(nid) }
      val recallOk = exactMap.nonEmpty &&
        hits.toDouble / exactMap.size >= 0.6
      val noTombLeft = !graft.util.Fs.exists(s, s"$dir/tombstones")
      emb.unpersist(); live.unpersist()
      exact.filter(lit(recallOk && mergeOnReadApplied && resT == resC &&
          noRebuild && noTombLeft && nStored == nLive &&
          ixC.nVectors == nLive))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH live AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |                     label
        |              FROM embeddings WHERE vec_id % 10 <> 3),
        |q AS (SELECT vec_id AS qid, v AS qv, label
        |      FROM live WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, e.v), 6) AS sim
        |      FROM q JOIN live e
        |        ON e.label = q.label AND e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin),
    // store-ops-only bench variant (see v25's) for the filtered store
    benchFn = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val dir = filteredDeleteDirFor(d)
      graft.util.StoreLease.break(s, dir)
      graft.util.Fs.rmTree(s, dir)
      buildFiltered(emb, dir, "label")
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3).cache()
      deleteFiltered(deleted, dir, "label")
      val queries = Similarity.probePanel(live)
      searchFiltered(load(s, dir), queries, live, "label", k = 1)
        .count(): Unit
      compactFiltered(s, dir, "label")
      val ixC = ensureFiltered(live, dir, "label")
      val out = searchFiltered(ixC, queries, live, "label", k = 1)
        .localCheckpoint(eager = true)
      emb.unpersist(); live.unpersist()
      out
    })

  def all: Seq[QueryDef] =
    Seq(persisted, persistedFiltered, deleteCompact, filteredDeleteCompact)
}
