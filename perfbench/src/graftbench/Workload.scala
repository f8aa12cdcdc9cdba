package graftbench

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: seeded inputs, a unit of work repeated in a
  * closed loop with one client, and correctness checks run after the
  * timed window. Every call into the engine in the loop goes through
  * [[call]], so it is timed (and, traced, attributed) as a span of its
  * module. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    val seed: Long) {

  /** Generates the inputs into `dir` from the seed. Set-up runs this
    * [[Main.SetupReps]] times and reports the median. */
  def generate(dir: String): Unit

  /** Work set-up does once, on the last generated inputs: the store
    * builds. */
  def prepare(): Unit = ()

  /** Input sizes and the digest of the generated inputs. */
  def describeInputs: Seq[(String, Any)]

  /** One unit of work: a whole pipeline pass or one store tick. */
  def unit(i: Int): Unit

  /** (name, check); each runs once, after the timed window. */
  def checks: Seq[(String, () => Boolean)]

  /** The quality guard: name and value over the measured units. */
  def quality: (String, Double)

  /** Workload-specific end-to-end numbers for the report:
    * (name, value, unit). */
  def extraMetrics(loop: Seq[Span]): Seq[(String, Any, String)] = Nil

  /** Per-layer numbers only this workload can give (traced runs). */
  def layerExtras: Map[String, Double] = Map.empty

  protected def call[T](layer: String, op: String)(body: => T): T =
    tracer.span(layer, op)(body)

  /** For a result that several later calls read, as a caller would
    * cache it: computed once, inside the span that produced it. */
  protected def reused(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** For a result one later call of another module reads: computed
    * inside the span that produced it, so its work counts to that
    * module, and not kept, so the reader recomputes it from its
    * lineage, as an uncached caller would. */
  protected def forced(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }
}

/** Several workloads run as one: each unit runs every part's unit, in
  * order, as a child span named after the part. */
final class Sequenced(spark: SparkSession, tracer: Tracer, seed: Long,
    parts: Seq[(String, Workload)]) extends Workload(spark, tracer, seed) {

  def generate(dir: String): Unit =
    parts.foreach { case (n, w) => w.generate(s"$dir/$n") }

  override def prepare(): Unit = parts.foreach(_._2.prepare())

  def describeInputs: Seq[(String, Any)] = parts.flatMap { case (n, w) =>
    w.describeInputs.map { case (k, v) => s"$n.$k" -> v }
  }

  def unit(i: Int): Unit =
    parts.foreach { case (n, w) => tracer.span("bench", n)(w.unit(i)) }

  def checks: Seq[(String, () => Boolean)] = parts.flatMap { case (n, w) =>
    w.checks.map { case (k, f) => s"$n.$k" -> f }
  }

  /** The weakest of the parts' guards. */
  def quality: (String, Double) =
    "min_guard" -> parts.map(_._2.quality._2).min

  override def extraMetrics(loop: Seq[Span]): Seq[(String, Any, String)] =
    parts.flatMap { case (n, w) =>
      val passS = loop.filter(s => s.layer == "bench" && s.op == n && s.ok)
        .map(_.seconds)
      ((w.quality._1, w.quality._2, "ratio") +:
        ("result_s", Workload.median(passS), "s") +:
        w.extraMetrics(loop)).map { case (k, v, u) => (s"$n.$k", v, u) }
    }

  override def layerExtras: Map[String, Double] =
    parts.map(_._2.layerExtras).reduce(_ ++ _)
}

object Workload {
  /** The benchmark's workloads; BENCHMARK.json lists the same names. */
  def apply(name: String, spark: SparkSession, tracer: Tracer,
      seed: Long): Workload = name match {
    case "batch_pipelines" => new Sequenced(spark, tracer, seed, Seq(
      "gwas_pipeline" -> new GwasPipeline(spark, tracer, seed),
      "curate_batch" -> new CurateBatch(spark, tracer, seed)))
    case "store_churn" => new StoreChurn(spark, tracer, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs independent tasks side by side, one thread each, and returns
    * their outcomes in order. For set-up and checks only: the measured
    * loop has one client. */
  def inParallel[T](tasks: Seq[() => T]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      futures.map(f => Try(try f.get() catch {
        case e: ExecutionException => throw e.getCause
      }))
    } finally pool.shutdownNow()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, `q` in (0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q / 100.0 * s.length).toInt - 1))
  }

  /** The highest of a fixed set of percentiles that leaves at least ten
    * samples beyond it, or None when there are fewer than 20 samples. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(q => n * (1 - q / 100.0) >= 10)

  /** `<name>_p50_s`, `<name>_tail_s`, the tail percentile and the
    * sample count of a latency sample. */
  def latency(name: String, xs: Seq[Double]): Seq[(String, Any, String)] = {
    val tail = tailPercentile(xs.length)
    Seq((s"${name}_p50_s", if (xs.isEmpty) None else Some(median(xs)), "s"),
      (s"${name}_tail_s", tail.map(percentile(xs, _)), "s"),
      (s"${name}_tail_pct", tail, "%"),
      (s"${name}_n", xs.length, "count"))
  }
}
