package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.llm.{Curation, Dedup, Similarity, TextAnalysis, Tokenizer}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-pass LLM-data curation over a seeded corpus with planted exact
  * duplicates, one-word-edit near duplicates, repeated boilerplate
  * spans and near-duplicate vectors: quality and Gopher rule columns,
  * MinHash near-dup removal, repeated-span stripping, embedding
  * near-dup removal, BPE training and encoding, sequence packing.
  * Executor- and shuffle-bound with few jobs. */
final class CurateBatch(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import CurateBatch._

  private var dir = ""
  private var in: Inputs = _
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val vectorRecalls = mutable.ArrayBuffer.empty[Double]
  private val exactMissed = mutable.ArrayBuffer.empty[Int]
  private val survivors = mutable.ArrayBuffer.empty[Long]

  def generate(d: String): Unit = {
    dir = d
    in = CurateBatch.generate(seed, Full)
    write(in, d)
  }

  def describeInputs: Seq[(String, Any)] = Seq(
    "docs" -> Full.docs, "exact_dups" -> Full.exact,
    "near_dups" -> Full.near, "vector_dups" -> Full.vector,
    "boilerplate_docs" -> Full.boilerplate, "dim" -> Dim,
    "input_digest" -> Option(in).map(_.digest))

  def unit(i: Int): Unit = {
    val (recall, vrecall, missed, kept) = pass()
    recalls += recall; vectorRecalls += vrecall; exactMissed += missed
    survivors += kept
  }

  def checks: Seq[(String, () => Boolean)] = Seq(
    "every_planted_exact_duplicate_removed" ->
      (() => exactMissed.nonEmpty && exactMissed.forall(_ == 0)),
    "planted_near_duplicates_removed" ->
      (() => recalls.nonEmpty && recalls.forall(_ >= MinRecall)),
    "planted_vector_near_duplicates_removed" ->
      (() => vectorRecalls.nonEmpty && vectorRecalls.forall(_ >= MinRecall)))

  def quality: (String, Double) = "dedup_recall" -> Workload.median(recalls.toSeq)

  override def extraMetrics(loop: Seq[Span]): Seq[(String, Any, String)] = Seq(
    ("vector_dedup_recall", Workload.median(vectorRecalls.toSeq), "ratio"),
    ("survivors", survivors.headOption, "count"))

  private def write(s: Inputs, d: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(s.rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/docs")

  /** Share of LSH candidate pairs that pass exact Jaccard verification,
    * from the same public calls `dropNearDuplicates` is built on. */
  override def layerExtras: Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/docs").select("doc_id", "text")
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text", 32), "doc_id", 32, 16)
      .count()
    val verified = Dedup.minhashDedup(docs, "doc_id", "text", Threshold).count()
    Map("llm.Dedup.verified_per_candidate" ->
      (if (cands == 0) 0.0 else verified.toDouble / cands))
  }

  /** One curation pass; returns (near-dup pair recall, vector near-dup
    * recall, planted exact copies left, survivors). */
  private def pass(): (Double, Double, Int, Long) = {
    val docs = spark.read.parquet(s"$dir/docs")
    val filtered = call("llm.TextAnalysis", "qualityCols+gopherRuleCols") {
      forced(TextAnalysis.gopherRuleCols(TextAnalysis.qualityCols(docs),
          minWords = 20L)
        .filter(col("keep") && col("quality_score") > 0)
        .select(docs.columns.toIndexedSeq.map(col): _*))
    }
    val unique = call("llm.Dedup", "dropNearDuplicates") {
      reused(Dedup.dropNearDuplicates(filtered, "doc_id", "text", Threshold))
    }
    val afterText = unique.select("doc_id").collect().map(_.getLong(0)).toSet
    val stripped = call("llm.Dedup", "dedupRepeatedSpans") {
      reused(Dedup.dedupRepeatedSpans(unique, win = 50, minDocs = 2))
    }
    val kept = call("llm.Similarity", "dropEmbeddingNearDups") {
      val ids = Similarity.dropEmbeddingNearDups(
        stripped.select(col("doc_id").as("vec_id"), col("embedding")), 0.97)
        .select(col("vec_id").as("doc_id"))
      reused(stripped.join(ids, "doc_id"))
    }
    val afterVec = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val tokens = call("llm.Tokenizer", "trainBpe+encodeDocs") {
      val model = Tokenizer.trainBpe(
        Tokenizer.wordHistogram(kept, "text", 4000), numMerges = 64)
      forced(Tokenizer.encodeDocs(kept, "doc_id", "text", model))
    }
    call("llm.Curation", "packSequences") {
      val sized = kept.select("doc_id", "source")
        .join(tokens.select(col("doc_id"), size(col("tokens")).cast("long")
          .as("n_tok")), "doc_id")
        .withColumn("rank", xxhash64(col("doc_id")))
      Curation.packSequences(sized, "source", "n_tok", "rank", "doc_id",
          seqLen = 512L)
        .groupBy("source").agg(countDistinct("pack_id")).collect()
    }
    def removedShare(pairs: Seq[(Long, Long)], live: Set[Long]): Double =
      pairs.count { case (a, b) => !(live(a) && live(b)) }.toDouble / pairs.size
    (removedShare(in.nearPairs, afterText), removedShare(in.vectorPairs, afterVec),
      in.exactPairs.count(p => afterText(p._2)), afterVec.size.toLong)
  }
}

object CurateBatch {
  final case class Size(docs: Int, exact: Int, near: Int, vector: Int,
      boilerplate: Int)

  val Full: Size = Size(docs = 1200, exact = 60, near = 60, vector = 50,
    boilerplate = 200)
  val Dim = 16
  val Threshold = 0.7
  /** Least share of planted near-duplicate pairs a pass must remove. */
  val MinRecall = 0.95

  private val Sources = IndexedSeq("web", "books", "news", "forum")
  private val Boilerplate = IndexedSeq(
    "subscribe to the weekly letter of the editors and read the terms of use",
    "all rights reserved to the owners and the authors of this page and site",
    "share this story with a friend and follow the desk of the team for more")

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Rows plus the planted truth: (original, copy) pairs. */
  final class Inputs(val rows: Seq[Row], val exactPairs: Seq[(Long, Long)],
      val nearPairs: Seq[(Long, Long)], val vectorPairs: Seq[(Long, Long)],
      val digest: String)

  /** Base docs get ids below every planted copy, so the copy is the
    * one a keep-the-minimum-id dedup removes. Each planted copy has a
    * distinct original. */
  def generate(seed: Long, s: Size): Inputs = {
    val rng = new SplittableRandom(seed)
    val dg = new Digest
    val vocab = Gen.vocabulary(rng, 4000)
    val centres = Gen.centres(rng, 32, Dim)
    val nBase = s.docs - s.exact - s.near - s.vector
    val base = (0 until nBase).map { i =>
      val t = Gen.text(rng, vocab, 40 + rng.nextInt(31))
      val text = if (i < s.boilerplate)
        t + " " + Boilerplate(rng.nextInt(Boilerplate.size)) else t
      (i.toLong, Sources(rng.nextInt(Sources.size)), text,
        Gen.nearVector(rng, centres(rng.nextInt(centres.length)), 0.5))
    }
    val originals = new scala.util.Random(rng.nextLong())
      .shuffle(base.indices.toList).take(s.exact + s.near + s.vector)
    var next = nBase.toLong
    def copies(from: Seq[Int])(make: ((Long, String, String, Array[Float])) =>
        (String, Array[Float])) = from.map { o =>
      val (text, vec) = make(base(o))
      next += 1
      (base(o)._1, (next - 1, base(o)._2, text, vec))
    }
    val exact = copies(originals.take(s.exact)) { b => (b._3, b._4) }
    val near = copies(originals.slice(s.exact, s.exact + s.near)) { b =>
      (Gen.perturb(rng, vocab, b._3, 1),
        Gen.nearVector(rng, centres(rng.nextInt(centres.length)), 0.5))
    }
    val vector = copies(originals.drop(s.exact + s.near)) { b =>
      (Gen.text(rng, vocab, 40 + rng.nextInt(31)), Gen.nearVector(rng, b._4, 0.01))
    }
    val all = base ++ (exact ++ near ++ vector).map(_._2)
    all.foreach { case (id, src, t, v) =>
      dg.long(id); dg.string(src); dg.string(t); dg.floats(v)
    }
    def pairs(xs: Seq[(Long, (Long, String, String, Array[Float]))]) =
      xs.map { case (o, c) => (o, c._1) }
    new Inputs(all.map { case (id, src, t, v) => Row(id, src, t, v.toSeq) },
      pairs(exact), pairs(near), pairs(vector), dg.hex)
  }
}
