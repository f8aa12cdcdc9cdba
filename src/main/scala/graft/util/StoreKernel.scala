package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The lifecycle the four persisted index stores share
  * ([[graft.llm.DedupIndex]], [[graft.llm.TextIndex]],
  * [[graft.llm.VectorIndex]], [[graft.llm.GraphAnn]]): the bracket every
  * mutation runs in, stage-and-swap of whole tables and of partition
  * directories, the one crash-recovery rule, the file-merge selection,
  * the delete audit and the load-or-build decision of `ensure`. Each
  * store keeps only its index maths and its meta fields.
  *
  * Stage-and-swap: new content is written durably to a staging path
  * first, then each live directory is removed and its staged
  * replacement renamed in, then the staging root is dropped. A crash
  * between a removal and its rename leaves the staged copy as the ONLY
  * copy of those rows, so every maintenance pass starts with
  * [[recover]]: a staged leaf whose live copy is missing is renamed in,
  * everything else under the staging root is stale and dropped.
  */
object StoreKernel {

  /** A store table: its live path, its partition columns (empty for a
    * whole table) and the suffix of its staging path. */
  final case class Table(path: String, partCols: Seq[String] = Nil,
      stagingSuffix: String = "_staging") {
    def staging: String = path + stagingSuffix
  }

  def readMeta(spark: SparkSession, dir: String): Row =
    Sidecar.readHead(spark, s"$dir/meta")

  /** The gate every store op runs first: the crashed-op marker
    * ([[IngestMarker]]), then the meta read and the store's format
    * `gate`. Returns the meta row. */
  def open(spark: SparkSession, dir: String, op: String)(
      gate: Row => Unit): Row = {
    IngestMarker.requireAbsent(spark, dir, op)
    val meta = readMeta(spark, dir)
    gate(meta)
    meta
  }

  /** Mutation bracket: the single-writer lease ([[StoreLease]]) around
    * [[open]] and `body` — a gate that fails leaves every file
    * untouched. */
  def mutate[T](spark: SparkSession, dir: String, op: String)(
      gate: Row => Unit)(body: Row => T): T =
    StoreLease.withLease(spark, dir, op)(body(open(spark, dir, op)(gate)))

  /** Load-or-build. Only a crashed-op marker, a NonFatal meta read
    * failure or a shape mismatch (`shapeOk` false or throwing NonFatal)
    * means "store invalid → `build`". `matches` compares the corpus
    * fingerprint with meta and is NOT caught: the rebuild starts by
    * deleting the store, and a transient corpus-side error must never
    * destroy the only copy of the index. */
  def ensure(spark: SparkSession, dir: String)(shapeOk: Row => Boolean)(
      matches: Row => Boolean)(build: => Unit): Unit = {
    val meta =
      if (IngestMarker.present(spark, dir)) None
      else try Some(readMeta(spark, dir)) catch { case NonFatal(_) => None }
    val valid = meta.exists { m =>
      (try shapeOk(m) catch { case NonFatal(_) => false }) && matches(m)
    }
    if (!valid) build
  }

  private def keyPath(t: Table, key: Seq[String]): String =
    t.partCols.zip(key).map { case (c, v) => s"$c=$v" }.mkString("/")

  /** Rows of the given partition keys — a predicate over partition
    * columns only, so the scan prunes directories. */
  def keyFilter(partCols: Seq[String], keys: Seq[Seq[String]]): Column =
    concat_ws("\u0001", partCols.map(c => col(c).cast("string")): _*)
      .isin(keys.map(_.mkString("\u0001")): _*)

  /** Distinct partition keys of `rows` (bounded by the table's
    * partition count). */
  def keysOf(rows: DataFrame, partCols: Seq[String]): Seq[Seq[String]] =
    rows.select(partCols.map(c => col(c).cast("string")): _*).distinct()
      .collect().map(r => partCols.indices.map(r.getString)).toSeq

  /** Whole-table stage-and-swap: `write` lands the new table at the
    * given staging path, which then replaces the live table. */
  def swapTable(spark: SparkSession, t: Table)(write: String => Unit): Unit = {
    write(t.staging)
    Fs.rmTree(spark, t.path)
    Fs.rename(spark, t.staging, t.path): Unit
  }

  /** Partition stage-and-swap: `rows` (the complete new content of the
    * `keys` partitions) land under the staging root partitioned like
    * the table; each key's live directory is then removed and its
    * staged directory renamed in. A key with no staged rows (a fully
    * emptied partition) is only removed. */
  def swapPartitions(spark: SparkSession, t: Table, rows: DataFrame,
      keys: Seq[Seq[String]], maxRecordsPerFile: Long = 0L): Unit = {
    if (keys.isEmpty) return
    rows.repartition(t.partCols.map(col): _*)
      .write.mode("overwrite").option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(t.partCols: _*).parquet(t.staging)
    keys.foreach { k =>
      val p = keyPath(t, k)
      Fs.rmTree(spark, s"${t.path}/$p")
      if (Fs.exists(spark, s"${t.staging}/$p")) {
        if (k.size > 1) Fs.mkdirs(spark, s"${t.path}/${p.take(p.lastIndexOf('/'))}")
        Fs.rename(spark, s"${t.staging}/$p", s"${t.path}/$p"): Unit
      }
    }
    Fs.rmTree(spark, t.staging)
  }

  /** Rewrite only the partitions of `t` holding a tombstoned row (`on`
    * in `tomb`), without those rows. */
  def dropRows(spark: SparkSession, t: Table, raw: DataFrame,
      tomb: DataFrame, on: String): Unit = {
    val keys = keysOf(raw.join(tomb, Seq(on), "left_semi"), t.partCols)
    swapPartitions(spark, t, raw.filter(keyFilter(t.partCols, keys))
      .join(tomb, Seq(on), "left_anti"), keys)
  }

  /** Finish a crashed stage-and-swap of `t`, at any partition depth: a
    * staged leaf whose live copy is missing is renamed in; the rest of
    * the staging root is dropped. */
  def recover(spark: SparkSession, t: Table): Unit = {
    if (!Fs.exists(spark, t.staging)) return
    def walk(rel: String, cols: Seq[String]): Unit = cols match {
      case Seq() =>
        val live = t.path + rel
        if (!Fs.exists(spark, live)) {
          Fs.mkdirs(spark, live.take(live.lastIndexOf('/')))
          Fs.rename(spark, t.staging + rel, live): Unit
        }
      case c +: rest =>
        Fs.listDirNames(spark, t.staging + rel).filter(_.startsWith(s"$c="))
          .foreach(d => walk(s"$rel/$d", rest))
    }
    walk("", t.partCols)
    Fs.rmTree(spark, t.staging)
  }

  /** Keys of the leaves of `t` holding more than `maxFiles` data files —
    * the file-merge selection (a whole table yields the empty key). */
  def overFull(spark: SparkSession, t: Table,
      maxFiles: Int): Seq[Seq[String]] = {
    def walk(rel: String, cols: Seq[String],
        key: Vector[String]): Seq[Seq[String]] = cols match {
      case Seq() =>
        if (Fs.dataFileCount(spark, t.path + rel) > maxFiles) Seq(key) else Nil
      case c +: rest =>
        Fs.listDirNames(spark, t.path + rel).filter(_.startsWith(s"$c="))
          .flatMap(d => walk(s"$rel/$d", rest, key :+ d.stripPrefix(s"$c=")))
    }
    walk("", t.partCols, Vector.empty)
  }

  /** File merge of a partitioned table: every over-`maxFiles` partition
    * is rewritten verbatim to one task's output (`maxRecordsPerFile`
    * re-splits a huge one). */
  def mergeFiles(spark: SparkSession, t: Table, maxFiles: Int,
      maxRecordsPerFile: Long): Unit = {
    val keys = overFull(spark, t, maxFiles)
    if (keys.nonEmpty)
      swapPartitions(spark, t, spark.read.parquet(t.path)
        .filter(keyFilter(t.partCols, keys)), keys, maxRecordsPerFile)
  }

  /** The delete audit, one rule for every store. The XOR fingerprint is
    * only exact when every deleted row is a live indexed row, exactly
    * once, so a delete set fails loud unless
    *   - its ids are distinct AFTER the cast to long, the tombstoned
    *     key (7.0 and 7.5 are one key, and would be tombstoned twice);
    *   - the store's own `check` of the aggregate row passes;
    *   - every id is a member (`members` maps the cast ids to the
    *     stored rows to semi-join, column `key`);
    *   - no id is already tombstoned.
    * One aggregate over `deleted` yields the count, the distinct cast
    * ids and the store's `fingerprint` columns (row fields 2, 3, ...).
    * Returns the checkpointed cast ids (column `key`) and that row. */
  def auditDelete(deleted: DataFrame, dir: String, idCol: String,
      key: String, fingerprint: Seq[Column], check: Row => Unit = _ => ())(
      members: DataFrame => DataFrame): (DataFrame, Row) = {
    val spark = deleted.sparkSession
    val ids = deleted.select(col(idCol).cast("long").as(key))
      .localCheckpoint(eager = true)
    val audit = deleted.agg(count(lit(1)),
      (countDistinct(col(idCol).cast("long")) +: fingerprint): _*).head()
    val n = audit.getLong(0)
    require(audit.getLong(1) == n, s"delete set contains " +
      s"${n - audit.getLong(1)} duplicate ${idCol}s (after the cast to long)")
    check(audit)
    val nStored = ids.join(members(ids), Seq(key), "left_semi").count()
    require(nStored == n, s"${n - nStored} of $n ${idCol}s are not " +
      s"present in the index at $dir (not indexed)")
    if (Fs.exists(spark, s"$dir/tombstones")) {
      val nAlready = ids.join(spark.read.parquet(s"$dir/tombstones")
        .select(key), Seq(key), "left_semi").count()
      require(nAlready == 0,
        s"$nAlready of $n ${idCol}s are already tombstoned (double delete)")
    }
    (ids, audit)
  }

  /** Merge-on-read delete: the audited ids join the tombstone table. */
  def tombstone(ids: DataFrame, dir: String): Unit =
    ids.repartition(1).write.mode("append").parquet(s"$dir/tombstones")
}
