package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.llm.{DedupIndex, GraphAnn, TextIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The four persisted stores under a mixed read/write loop. Set-up
  * builds DedupIndex, TextIndex, VectorIndex and GraphAnn on a seeded
  * corpus with embeddings. Each tick appends a batch to every store,
  * runs one lookup per store, deletes a batch from every store and
  * compacts the graph store (its append refuses pending tombstones);
  * every [[MaintainEvery]] ticks, from tick 0, every store's files are
  * folded and the graph's density is repaired. */
final class StoreChurn(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import StoreChurn._

  private var dir = ""
  private var in: Inputs = _
  private var docs: DataFrame = _
  private var probes: DataFrame = _
  private var queries: DataFrame = _
  private var qvecs: DataFrame = _
  /** Highest tick whose batch is in the stores (-1: corpus only). */
  private var appended = -1
  private val dead = mutable.LinkedHashSet.empty[Long]
  private val resurrected = mutable.LinkedHashSet.empty[Long]
  private var lostAppends = 0L
  private val vectorRecall = mutable.ArrayBuffer.empty[Double]
  private val graphRecall = mutable.ArrayBuffer.empty[Double]
  private var buildS = Seq.empty[Double]

  private def store(name: String) = s"$dir/stores/$name"

  def generate(d: String): Unit = {
    dir = d
    in = StoreChurn.generate(seed)
    write(d)
  }

  /** The four builds are independent, so set-up runs them side by
    * side; `setup_s` holds the longest, and each one's time is in the
    * report. */
  override def prepare(): Unit = {
    docs = spark.read.parquet(s"$dir/docs")
    probes = spark.read.parquet(s"$dir/probes")
    queries = spark.read.parquet(s"$dir/queries")
    qvecs = spark.read.parquet(s"$dir/qvecs")
    val corpus = docs.filter(col("tick") === -1)
    def timed(body: => Unit): () => Double = () => {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    buildS = Workload.inParallel(Seq(
      timed(DedupIndex.build(corpus.select("doc_id", "text"), store("dedup"),
        Threshold)),
      timed(TextIndex.build(corpus.select("doc_id", "text"), store("text"))),
      timed(VectorIndex.build(vectors(corpus), store("vector"), nCells = 8,
        m = 4, kCodes = 16)),
      timed(GraphAnn.ensure(vectors(corpus), store("graph"), m = GraphM,
        descentRounds = 1, initCellSize = 128)))).map(_.get)
  }

  def describeInputs: Seq[(String, Any)] = Seq(
    "corpus_docs" -> CorpusDocs, "batch_docs" -> BatchDocs,
    "delete_docs" -> BatchDocs, "probe_docs" -> ProbeDocs,
    "text_queries" -> TextQueries, "vector_queries" -> VectorQueries,
    "dim" -> Dim, "maintain_every" -> MaintainEvery,
    "input_digest" -> Option(in).map(_.digest))

  def unit(i: Int): Unit = tick(i)

  /** Besides the loop's own lookups, one lookup per store on its
    * final state, aimed at the deleted docs: each dead doc's own text
    * or embedding is a query it would answer itself if its delete had
    * not taken. The four run side by side. */
  def checks: Seq[(String, () => Boolean)] = {
    import spark.implicits._
    val gone = dead.toSeq
    def none(ids: Iterable[Long]) = gone.nonEmpty && !ids.exists(dead)
    val stores: Seq[(String, () => Boolean)] = Seq(
      "dedup_probe_pairs_equal_brute_force" -> (() => {
        // the fixed probes, plus a copy of every deleted doc
        val copies = gone.zipWithIndex.map { case (id, i) =>
          (DeadProbeIds + i, in.text(id))
        }
        val batch = probes.unionByName(copies.toDF("doc_id", "text"))
        val got = DedupIndex.probePairs(batch, store("dedup"), Threshold)
          .collect().map(r => (r.getAs[Number]("doc_a").longValue,
            r.getAs[Number]("doc_b").longValue)).toSet
        gone.nonEmpty && got == bruteForcePairs(copies)
      }),
      "text_search_skips_deleted_docs" -> (() => none(
        TextIndex.searchBm25(gone.map(id => (id, in.text(id))).toDF("qid", "text"),
          store("text"), topN = 10).collect().map(_.getAs[Number]("doc").longValue))),
      "vector_search_skips_deleted_docs" -> (() => none(
        VectorIndex.search(VectorIndex.load(spark, store("vector")),
          deadVectors(), vectors(docs), k = 10)
          .collect().map(_.getAs[Number]("nid").longValue))),
      // the walk's entries come from the caller's corpus, so what the
      // store itself must drop is every edge into or out of a dead node
      "graph_has_no_edge_to_deleted_docs" -> (() => gone.nonEmpty &&
        GraphAnn.load(spark, store("graph"))
          .filter(col("src").isin(gone: _*) || col("dst").isin(gone: _*))
          .isEmpty))
    lazy val verdicts = Workload.inParallel(stores.map(_._2))
    Seq(
      "loop_lookups_never_returned_deleted_ids" -> (() => resurrected.isEmpty),
      "appends_kept_every_new_doc" -> (() => lostAppends == 0)) ++
      stores.indices.map(i => stores(i)._1 -> (() => verdicts(i).get))
  }

  /** The deleted docs' embeddings as queries, under fresh ids. */
  private def deadVectors(): DataFrame = {
    import spark.implicits._
    dead.toSeq.zipWithIndex.map { case (id, i) =>
      (DeadProbeIds + i, in.vec(id).toSeq)
    }.toDF("vec_id", "embedding")
  }

  def quality: (String, Double) =
    "search_recall" -> Workload.median((vectorRecall ++ graphRecall).toSeq)

  override def extraMetrics(loop: Seq[Span]): Seq[(String, Any, String)] = {
    def lat(name: String, ops: Set[String]) = Workload.latency(name,
      loop.filter(s => s.layer != "bench" && s.ok && ops(s.op)).map(_.seconds))
    lat("append", Set("append")) ++
      lat("lookup", Set("probe", "searchBm25", "search", "beamSearch")) ++
      lat("delete", Set("delete")) ++
      lat("maintain", Set("compact", "compactFiles", "repairDensity")) ++ Seq(
        ("build_s", buildS, "s"),
        ("vector_recall_at_10", Workload.median(vectorRecall.toSeq), "ratio"),
        ("graph_recall_at_10", Workload.median(graphRecall.toSeq), "ratio"))
  }

  override def layerExtras: Map[String, Double] =
    Layers.zip(Seq("dedup", "text", "vector", "graph")).flatMap {
      case (layer, name) =>
        val (maxFiles, bytes) = layout(new File(store(name)))
        val live = liveIds()
        val liveBytes =
          if (name == "dedup" || name == "text")
            live.toSeq.map(id => in.text(id).getBytes("UTF-8").length.toLong).sum
          else live.size.toLong * Dim * 4
        Seq(s"$layer.max_files_per_partition" -> maxFiles.toDouble,
          s"$layer.bytes_per_live_byte" -> bytes.toDouble / liveBytes)
    }.toMap

  private def vectors(df: DataFrame): DataFrame =
    df.select(col("doc_id").as("vec_id"), col("embedding"))

  private def liveIds(): Set[Long] =
    in.ids.filter(id => in.tick(id) <= appended && !dead(id)).toSet

  private def liveDocs(): DataFrame =
    docs.filter(col("tick") <= appended && !col("doc_id").isin(dead.toSeq: _*))

  private def tick(t: Int): Unit = {
    val batch = docs.filter(col("tick") === t)
    val before = vectors(liveDocs())
    val kept = call("llm.DedupIndex", "append") {
      DedupIndex.append(batch.select("doc_id", "text"), store("dedup"),
        Threshold).count()
    }
    lostAppends += BatchDocs - kept
    call("llm.TextIndex", "append") {
      TextIndex.append(batch.select("doc_id", "text"), store("text"))
    }
    call("llm.VectorIndex", "append") {
      VectorIndex.append(vectors(batch), store("vector"))
    }
    call("llm.GraphAnn", "append") {
      GraphAnn.append(vectors(batch), before, store("graph"), rounds = WalkRounds)
    }
    appended = t

    val live = vectors(liveDocs())
    def ids(rows: Array[Row], c: String): Seq[Long] =
      rows.map(_.getAs[Number](c).longValue).toSeq
    val pairs = call("llm.DedupIndex", "probe") {
      DedupIndex.probePairs(probes, store("dedup"), Threshold).collect()
    }
    val hits = call("llm.TextIndex", "searchBm25") {
      TextIndex.searchBm25(queries, store("text"), topN = 10).collect()
    }
    // the rerank corpus holds every doc, deleted ones too: the store
    // alone must keep them out
    val vres = call("llm.VectorIndex", "search") {
      VectorIndex.search(VectorIndex.load(spark, store("vector")), qvecs,
        vectors(docs), k = 10).select("qid", "nid").collect()
    }
    val gres = call("llm.GraphAnn", "beamSearch") {
      GraphAnn.beamSearch(qvecs, GraphAnn.load(spark, store("graph")), live,
        k = 10, rounds = WalkRounds).select("qid", "nid").collect()
    }
    resurrected ++= (ids(pairs, "doc_a") ++ ids(hits, "doc") ++
      ids(vres, "nid") ++ ids(gres, "nid")).filter(dead)
    val truth = nearest(liveIds())
    vectorRecall += recall(vres, truth)
    graphRecall += recall(gres, truth)

    val del = deletions(t)
    val delDocs = docs.filter(col("doc_id").isin(del: _*))
    call("llm.DedupIndex", "delete") {
      DedupIndex.delete(delDocs.select("doc_id", "text"), store("dedup"))
    }
    call("llm.TextIndex", "delete") {
      TextIndex.delete(delDocs.select("doc_id", "text"), store("text"))
    }
    call("llm.VectorIndex", "delete") {
      VectorIndex.delete(vectors(delDocs), store("vector"))
    }
    call("llm.GraphAnn", "delete") {
      GraphAnn.delete(vectors(delDocs), store("graph"))
    }
    dead ++= del
    call("llm.GraphAnn", "compact") {
      GraphAnn.compact(vectors(liveDocs()), store("graph"))
    }
    if (t % MaintainEvery == 0) maintain()
  }

  /** File folding on every store and the graph's density repair. The
    * tombstone folds (`compact`) of the dedup, text and vector stores
    * are left out: a run measures one tick, and they would add a third
    * to it. */
  private def maintain(): Unit = {
    call("llm.DedupIndex", "compactFiles") {
      DedupIndex.compactFiles(spark, store("dedup"), maxFiles = MaxFiles)
    }
    call("llm.TextIndex", "compactFiles") {
      TextIndex.compactFiles(spark, store("text"), maxFiles = MaxFiles)
    }
    call("llm.VectorIndex", "compactFiles") {
      VectorIndex.compactFiles(spark, store("vector"), maxFiles = MaxFiles)
    }
    call("llm.GraphAnn", "compactFiles") {
      GraphAnn.compactFiles(spark, store("graph"), maxFiles = MaxFiles)
    }
    call("llm.GraphAnn", "repairDensity") {
      GraphAnn.repairDensity(vectors(liveDocs()), store("graph"))
    }
  }

  /** The tick's delete batch: a seeded draw from the live ids. */
  private def deletions(t: Int): Seq[Long] = {
    val live = liveIds().toSeq.sorted
    new scala.util.Random(seed * 1000003L + t).shuffle(live).take(BatchDocs)
  }

  /** Exact top-10 by cosine (ties to the lower id) per vector query. */
  private def nearest(live: Set[Long]): Map[Long, Set[Long]] = {
    val ids = live.toSeq
    in.qvecs.map { case (qid, q) =>
      qid -> ids.map(id => (-cosine(q, in.vec(id)), id)).sorted.take(10)
        .map(_._2).toSet
    }.toMap
  }

  private def recall(rows: Array[Row], truth: Map[Long, Set[Long]]): Double = {
    val got = rows.groupBy(_.getAs[Number]("qid").longValue)
      .map { case (q, rs) => q -> rs.map(_.getAs[Number]("nid").longValue).toSet }
    truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
    }.sum / truth.size
  }

  /** Every (live doc, probe) and (probe, probe) pair at or above the
    * threshold, by exact word-3-gram Jaccard, over the fixed probes
    * and `extra`. */
  private def bruteForcePairs(extra: Seq[(Long, String)]): Set[(Long, Long)] = {
    val live = liveIds().toSeq.map(id => id -> shingles(in.text(id)))
    val ps = (in.probes ++ extra).map { case (id, t) => id -> shingles(t) }
    (for {
      (b, sb) <- ps
      (a, sa) <- live ++ ps.filter(_._1 < b)
      inter = sa.intersect(sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= Threshold
    } yield (a, b)).toSet
  }

  private def write(d: String): Unit = {
    val docRows = in.ids.map(id =>
      Row(id, in.tick(id), in.text(id), in.vec(id).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), DocSchema)
      .write.mode("overwrite").parquet(s"$d/docs")
    import spark.implicits._
    in.probes.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/probes")
    in.textQueries.toDF("qid", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/queries")
    in.qvecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/qvecs")
  }
}

object StoreChurn {
  val CorpusDocs = 400
  val BatchDocs = 16
  val MaxTicks = 200
  val ProbeDocs = 16
  val TextQueries = 8
  val VectorQueries = 16
  val Dim = 16
  val GraphM = 8
  /** Beam-walk rounds of graph appends and searches: two, not the
    * default four, which a graph of a few hundred nodes does not need
    * (`search_recall` guards it). */
  val WalkRounds = 2
  val MaintainEvery = 2
  val MaxFiles = 4
  val Threshold = 0.8
  /** Ids of the check's probe copies of deleted docs: above every
    * stored id and every fixed probe id. */
  val DeadProbeIds = 1500000000L
  val Layers: Seq[String] =
    Seq("llm.DedupIndex", "llm.TextIndex", "llm.VectorIndex", "llm.GraphAnn")

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("tick", IntegerType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  final class Inputs(val ids: IndexedSeq[Long], val tick: Map[Long, Int],
      val text: Map[Long, String], val vec: Map[Long, Array[Float]],
      val probes: Seq[(Long, String)], val textQueries: Seq[(Long, String)],
      val qvecs: Seq[(Long, Array[Float])], val digest: String)

  /** Corpus docs (tick -1) and one batch per tick of fresh docs with
    * embeddings near one of 12 cluster centres; probe docs are
    * one-word edits of distinct corpus docs (Jaccard ≈ 0.85), with ids
    * above every stored id as the dedup store requires. */
  def generate(seed: Long): Inputs = {
    val rng = new SplittableRandom(seed)
    val dg = new Digest
    val vocab = Gen.vocabulary(rng, 3000)
    val centres = Gen.centres(rng, 12, Dim)
    val n = CorpusDocs + MaxTicks * BatchDocs
    val ids = (0 until n).map(_.toLong)
    val tick = ids.map(id =>
      id -> (if (id < CorpusDocs) -1 else ((id - CorpusDocs) / BatchDocs).toInt)).toMap
    val text = ids.map(id => id -> Gen.text(rng, vocab, 30 + rng.nextInt(21))).toMap
    val vec = ids.map(id =>
      id -> Gen.nearVector(rng, centres(rng.nextInt(centres.length)), 0.35)).toMap
    val sources = new scala.util.Random(rng.nextLong())
      .shuffle((0 until CorpusDocs).toList).take(ProbeDocs)
    val probes = sources.zipWithIndex.map { case (src, i) =>
      (1000000000L + i, Gen.perturb(rng, vocab, text(src.toLong), 1))
    }
    val textQueries = (0 until TextQueries).map(i =>
      (2000000000L + i, Gen.text(rng, vocab, 4)))
    val qvecs = (0 until VectorQueries).map(i =>
      (3000000000L + i, Gen.nearVector(rng, centres(i % centres.length), 0.35)))
    ids.foreach { id =>
      dg.long(id); dg.long(tick(id)); dg.string(text(id)); dg.floats(vec(id))
    }
    probes.foreach { case (id, t) => dg.long(id); dg.string(t) }
    textQueries.foreach { case (id, t) => dg.long(id); dg.string(t) }
    qvecs.foreach { case (id, v) => dg.long(id); dg.floats(v) }
    new Inputs(ids, tick, text, vec, probes, textQueries, qvecs, dg.hex)
  }

  def shingles(t: String): Set[String] = {
    val w = t.split(" ")
    if (w.length < 3) Set(t) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** (most data files in one leaf directory, total data-file bytes). */
  def layout(root: File): (Int, Long) = {
    var maxFiles = 0
    var bytes = 0L
    def walk(d: File): Unit = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty[File])
      val data = kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      maxFiles = math.max(maxFiles, data.length)
      bytes += data.map(_.length).sum
      kids.filter(_.isDirectory).foreach(walk)
    }
    walk(root)
    (maxFiles, bytes)
  }
}
