package graft.util

import org.apache.spark.sql.SparkSession

/** Two-phase-ingest guard for the persisted index stores
  * ([[graft.llm.DedupIndex]], [[graft.llm.TextIndex]],
  * [[graft.llm.VectorIndex]], [[graft.llm.GraphAnn]]): an append
  * writes data files into live partition directories FIRST and commits
  * the meta fingerprint LAST, so a crash between the two leaves the
  * store holding half a batch while meta still describes the old
  * corpus. Without a flag, the failure is SILENT and self-amplifying:
  * the incremental XOR fingerprint is computed over the CORPUS, so a
  * redelivered batch re-appends on top of its own half-ingested rows,
  * meta lands on the correct-looking union value, and ensure() can
  * never see the duplicate rows — a dedup probe then self-matches the
  * first delivery (J = 1) and silently drops genuine survivors.
  *
  * The marker makes the window LOUD: append() writes it before the
  * first data file and clears it after the meta commit; every other
  * store operation refuses to run while it is present; ensure()
  * treats it as "store invalid" and rebuilds from the corpus (the
  * one safe recovery — a rebuild re-derives every partition).
  */
object IngestMarker {

  private def path(dir: String) = s"$dir/ingest_inprogress"

  /** Write the marker (one-row parquet carrying a diagnostic string —
    * which batch was in flight) BEFORE any data append lands.
    * Driver-side ([[Sidecar]]): a one-string flag file needs no Spark
    * job, and markers bracket every store mutation. */
  def write(spark: SparkSession, dir: String, info: String): Unit =
    Sidecar.write(spark, path(dir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("info",
          org.apache.spark.sql.types.StringType))),
      Seq(Seq(info)))

  /** Clear after the meta commit — the append's commit point. */
  def clear(spark: SparkSession, dir: String): Unit =
    Fs.rmTree(spark, path(dir))

  def present(spark: SparkSession, dir: String): Boolean =
    Fs.exists(spark, path(dir))

  /** Fail-loud gate every non-rebuilding store operation runs first. */
  def requireAbsent(spark: SparkSession, dir: String, op: String): Unit =
    require(!present(spark, dir),
      s"store at $dir has an in-progress/crashed ingest marker: a " +
        s"previous append died between its data and meta writes, so the " +
        s"store may hold half a batch — $op refuses to run on it. " +
        "Recover by calling ensure() over the intended corpus (it " +
        "detects the marker and rebuilds) or restoring the directory.")
}
