package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.io.Bundle
import graft.ml.{Deconfound, Explain, Pipeline, Scoring, Train}
import graft.ops.Splits
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The paper's pipeline on a simulated genotype bundle: bundle write
  * and read, covariate deconfounding, chunk-aligned CV over sampled
  * GBT parameters, refit, held-out predict and scoring, TreeSHAP and
  * Platt scaling. Dominated by MLlib GBT and the custom ML kernels; it
  * uses no store and little shuffle. Sized by trees × folds × params. */
final class GwasPipeline(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import GwasPipeline._

  private val covs = Seq("cov1", "cov2", "cov3")
  private var dir = ""
  private var digest = ""
  private val aucs = mutable.ArrayBuffer.empty[Double]
  private val topShap = mutable.ArrayBuffer.empty[Set[String]]
  private val plattGap = mutable.ArrayBuffer.empty[Double]

  def generate(d: String): Unit = {
    dir = d
    digest = GwasPipeline.generate(spark, seed, Full, d)
  }

  def describeInputs: Seq[(String, Any)] = Seq(
    "rows" -> Full.n, "snps" -> Full.p, "chunk_rows" -> Full.chunkRows,
    "trees" -> Full.trees, "folds" -> Full.folds, "params" -> Full.params,
    "max_depth" -> Full.maxDepth, "trees_per_pass" -> Full.treesPerPass,
    "input_digest" -> digest)

  def unit(i: Int): Unit = {
    val (auc, top2, gap) = pass(i)
    aucs += auc; topShap += top2; plattGap += gap
  }

  def checks: Seq[(String, () => Boolean)] = Seq(
    "planted_snps_top2_by_mean_abs_shap" ->
      (() => topShap.nonEmpty && topShap.forall(_ == Planted.toSet)),
    "raw_auc_equals_platt_auc" ->
      (() => plattGap.nonEmpty && plattGap.forall(_ < 1e-9)),
    "heldout_auc_above_chance" -> (() => aucs.nonEmpty && aucs.forall(_ > 0.6)))

  def quality: (String, Double) = "heldout_auc" -> Workload.median(aucs.toSeq)

  override def layerExtras: Map[String, Double] =
    Map("ml.Train.trees_per_unit" -> Full.treesPerPass.toDouble)

  /** One pipeline pass; returns (held-out AUC, top-2 SNPs by mean
    * |SHAP|, |raw AUC − Platt AUC|). */
  private def pass(i: Int): (Double, Set[String], Double) = {
    val s = Full
    val out = s"${dir}_pass$i"
    val raw = spark.read.parquet(s"$dir/geno")
    val snps = spark.read.parquet(s"$dir/snps")
    call("io", "Bundle.write") { Bundle.write(raw, snps, out) }
    val bundle = call("io", "Bundle.read") { Bundle.read(spark, out) }
    val snpNames = call("io", "Bundle.readCols") {
      Bundle.readCols(spark, out).orderBy("pos").collect().map(_.getString(1))
    }
    val nBlocks = (s.n + s.chunkRows - 1) / s.chunkRows
    val (pool, held) = call("ops.Splits", "chunkedTrainTest") {
      val (a, b) = Splits.chunkedTrainTest(bundle, 0.75, seed, nBlocks)
      (reused(a), reused(b))
    }
    val betas = call("ml.Deconfound", "massOlsBetas") {
      Deconfound.massOlsBetas(pool, covs, "features", s.p)
    }
    val labelBeta = call("ml.Deconfound", "labelBetas") {
      Deconfound.labelBetas(pool, covs, "label")
    }
    def adjust(df: DataFrame): DataFrame = Deconfound.residualizeLabel(
        Deconfound.residualizeFeatures(df, covs, "features", betas),
        covs, "label", labelBeta)
      .drop("features").withColumnRenamed("features_adj", "features")
    val (train, test) = call("ml.Deconfound", "residualize") {
      (reused(adjust(pool)), reused(adjust(held)))
    }
    val params = Train.sampleParams(s.params, s.trees, ParamSeed)
      .map(h => h.copy(maxDepth = math.min(h.maxDepth, s.maxDepth)))
    val cv = call("ml.Train", "crossValidate") {
      Train.crossValidate(train, s.folds, nBlocks, params, "auc", seed)
    }
    val best = call("ml.Train", "bestParams") { Train.bestParams(cv, "auc") }
    val model = call("ml.Train", "fitClassifier") {
      Train.fitClassifier(Train.withVector(train), best, seed)
    }
    val preds = call("ml.Train", "predictClassifier") {
      reused(Train.predictClassifier(model, Train.withVector(test)).drop("fv"))
    }
    val auc = call("ml.Scoring", "auc") { Scoring.auc(preds, "label", "y_pred") }
    call("ml.Pipeline", "adjustedScore") {
      Pipeline.adjustedScore(preds, covs, "label", "y_pred").collect()
    }
    val flat = call("ml.Explain", "flattenModel") { Explain.flattenModel(model.trees) }
    val meanAbs = call("ml.Explain", "shapContributions") {
      Explain.meanAbsShap(
        Explain.shapContributions(test, flat, model.treeWeights, s.p), s.p)
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
    }
    call("ml.Explain", "importances") {
      Explain.importances(flat, snpNames.toSeq, spark).collect()
    }
    val oof = call("ml.Train", "oneRoundCv") {
      forced(Train.oneRoundCv(train, s.folds, nBlocks, best, seed))
    }
    val ab = call("ml.Pipeline", "fitPlatt") { Pipeline.fitPlatt(oof) }
    val scaled = call("ml.Pipeline", "applyPlatt") { forced(Pipeline.applyPlatt(preds, ab)) }
    val aucPlatt = call("ml.Scoring", "auc") {
      Scoring.auc(scaled, "label", "y_pred_platt_scaled")
    }
    val top2 = meanAbs.sortBy(-_._2).take(2).map(p => snpNames(p._1)).toSet
    (auc, top2, math.abs(auc - aucPlatt))
  }
}

object GwasPipeline {
  final case class Size(n: Int, p: Int, chunkRows: Int, trees: Int,
      folds: Int, params: Int, maxDepth: Int) {
    /** CV fits, the refit and the one-round CV fits. */
    def treesPerPass: Int = (folds * params + 1 + folds) * trees
  }

  val Full: Size = Size(n = 2000, p = 24, chunkRows = 100, trees = 2,
    folds = 2, params = 2, maxDepth = 3)

  /** Seed of the parameter sampler: fixed, so every input seed fits
    * the same parameter draws (depth caps at `maxDepth`). */
  val ParamSeed = 7L

  /** The two planted SNPs, last in the SNP table: odds ratios 3 and 5. */
  val Planted: Seq[String] = Seq("rs7412_T", "rs429358_C")

  private val schema = StructType(Seq(
    StructField("fid", StringType), StructField("iid", StringType),
    StructField("sex", FloatType), StructField("phenotype", FloatType),
    StructField("label", FloatType),
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("block_id", LongType), StructField("cov1", DoubleType),
    StructField("cov2", DoubleType), StructField("cov3", DoubleType)))

  /** Balanced-in-expectation cases and controls; per-SNP case allele
    * frequency ~ U(0.05, 0.5) (the planted pair at 0.35–0.5), control
    * frequency back-solved from the odds ratio, dosage ~ Binomial(2, f).
    * A binary batch covariate shifts every fourth SNP's dosage by 0.5 —
    * the confounding the deconfound step removes. Rows are in random
    * order, so chunk-aligned blocks are random draws. Returns the
    * digest of the generated rows. */
  def generate(spark: SparkSession, seed: Long, s: Size, dir: String): String = {
    val rng = new SplittableRandom(seed)
    val dg = new Digest
    val p = s.p
    val ors = Array.tabulate(p)(j =>
      if (j == p - 2) 3.0 else if (j == p - 1) 5.0 else 1.0)
    val caseF = Array.tabulate(p)(j =>
      if (j >= p - 2) 0.35 + 0.15 * rng.nextDouble()
      else 0.05 + 0.45 * rng.nextDouble())
    val ctrlF = caseF.zip(ors).map { case (f, or) =>
      val odds = f / (1 - f) / or
      odds / (1 + odds)
    }
    val names = Array.tabulate(p - 2)(j => s"rs${100000 + 7919 * j}_${"ACGT"(j % 4)}") ++
      Planted
    val rows = (0 until s.n).map { i =>
      val label = rng.nextInt(2)
      val cov1 = Gen.gaussian(rng)
      val cov2 = Gen.gaussian(rng)
      val cov3 = rng.nextInt(2).toDouble
      val f = if (label == 1) caseF else ctrlF
      val feats = Array.tabulate(p) { j =>
        var g = 0
        if (rng.nextDouble() < f(j)) g += 1
        if (rng.nextDouble() < f(j)) g += 1
        (g + (if (j % 4 == 0) 0.5 * cov3 else 0.0)).toFloat
      }
      val sex = (1 + rng.nextInt(2)).toFloat
      val id = f"${i + 10000}%08d"
      dg.string(id); dg.long(label); dg.floats(feats); dg.double(cov1)
      dg.double(cov2); dg.double(cov3); dg.double(sex)
      Row(id, id, sex, (label + 1).toFloat, label.toFloat, feats.toSeq,
        (i / s.chunkRows).toLong, cov1, cov2, cov3)
    }
    names.foreach(dg.string)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/geno")
    import spark.implicits._
    names.toSeq.zipWithIndex.map { case (n, j) => (j, n) }.toDF("pos", "snp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/snps")
    dg.hex
  }
}
