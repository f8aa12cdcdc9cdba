package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and writes `report.json` (and, with
  * spans, `spans.jsonl`) into the output directory.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --out <dir> [--commit <sha>]
  *   [--fault <layer>] [--generate-only 1]
  * }}}
  *
  * Set-up generates the inputs [[SetupReps]] times and prepares the
  * last generation once; then units run back to back until `--seconds`
  * have passed, and the correctness checks run after the window. There
  * is no warm-up unit: a batch pipeline pays JIT and codegen on every
  * job, and the store loop starts on stores its builds just touched. `--fault <layer>` makes the
  * first measured call into that layer throw (the self-test of failure
  * accounting); `--generate-only 1` writes one set of inputs and their
  * digest, and stops. */
object Main {

  /** Input generations per run; `setup_s` takes their median. */
  val SetupReps = 3

  val Layers: Seq[String] = Seq("io", "ops.Splits", "ml.Deconfound",
    "ml.Train", "ml.Scoring", "ml.Pipeline", "ml.Explain", "llm.DedupIndex",
    "llm.TextIndex", "llm.VectorIndex", "llm.GraphAnn", "llm.Dedup",
    "llm.TextAnalysis", "llm.Similarity", "llm.Tokenizer", "llm.Curation")

  /** Exits with 0 once the run is written, or 1 if it threw: a thread
    * that outlives the session cannot keep a finished run waiting. The
    * run halts if the process that started it ends first. */
  def main(args: Array[String]): Unit = {
    // a run whose caller died is stopped, not left holding the cores
    ProcessHandle.current().parent().ifPresent(p =>
      p.onExit().thenRun(() => Runtime.getRuntime.halt(1)))
    val code = try { run(args); 0 } catch { case NonFatal(e) =>
      System.err.println(s"[graftbench] run threw: ${describe(e)}")
      e.printStackTrace()
      1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}-" +
      ProcessHandle.current().pid()
    val loadStart = loadAvg()
    Files.createDirectories(Paths.get(out))

    val spark = session(cores, traced, out)
    val ready = System.currentTimeMillis()
    val startupS =
      (ready - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark, traced, runId, opt.get("fault"))
    val w = Workload(workload, spark, tracer, seed)

    if (opt.get("generate-only").contains("1")) {
      w.generate(s"$out/inputs/rep0")
      Files.writeString(Paths.get(out, "report.json"),
        Json.obj(Seq("workload" -> workload, "seed" -> seed,
          "inputs" -> w.describeInputs.toMap)) + "\n")
      spark.stop()
      return
    }
    val repS = (0 until SetupReps).map { r =>
      timed(tracer.span("bench", "generate")(w.generate(s"$out/inputs/rep$r")))
    }
    val prepS = timed(tracer.span("bench", "prepare")(w.prepare()))
    val setupS = startupS + Workload.median(repS) + prepS

    tracer.phase = "loop"
    val gc0 = gcMs()
    val loopStart = System.currentTimeMillis()
    val loopStartNs = System.nanoTime()
    val unitS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    while (error.isEmpty && (System.nanoTime() - loopStartNs) / 1e9 < seconds) {
      try unitS += timed(tracer.span("bench", "unit")(w.unit(unitS.size)))
      catch { case NonFatal(e) => error = Some(describe(e)) }
    }
    val loopS = (System.nanoTime() - loopStartNs) / 1e9
    val loopEnd = System.currentTimeMillis()
    val gcS = (gcMs() - gc0) / 1000.0

    tracer.phase = "check"
    val checks = if (error.nonEmpty) Nil else w.checks.map { case (name, f) =>
      name -> (try f() catch { case NonFatal(e) =>
        System.err.println(s"[graftbench] check $name threw: ${describe(e)}")
        false
      })
    }
    val loop = tracer.spans.filter(_.phase == "loop").toSeq
    val calls = loop.filter(_.layer != "bench")
    val okCalls = calls.filter(_.ok)
    val attempted = calls.size + checks.size
    val failed = calls.count(!_.ok) + checks.count(!_._2)
    val units = unitS.size
    val (qName, qValue) = w.quality

    val endToEnd = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> metric(setupS, "s"))
    if (units > 0) {
      endToEnd ++= Seq(
        "result_s" -> metric(Workload.median(unitS.toSeq), "s"),
        "quality" -> metric(qValue, "ratio"))
    }
    val perLayer =
      if (!traced || units == 0) Map.empty[String, Any]
      else layerMetrics(tracer, w, loop, units, loopStart, loopEnd, loopS, gcS,
        Workload.median(unitS.toSeq))
    val workloadMetrics = (Seq(
      ("fail_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
      ("peak_rss_mb", vmHwmMb(), "MB"),
      ("ops_per_s", okCalls.size / loopS, "1/s"),
      (qName, qValue, "ratio")) ++
      Workload.latency("call", okCalls.map(_.seconds)) ++
      w.extraMetrics(loop) ++
      (if (perLayer.isEmpty) Nil else partGapShares(tracer, loop)))
      .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }

    val report = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "run_id" -> runId,
      "correct" -> (failed == 0 && error.isEmpty && units > 0),
      "attempted" -> math.max(1, attempted), "failed" -> failed,
      "error" -> error, "units" -> units,
      "checks" -> checks.toMap,
      "end_to_end" -> endToEnd,
      "workload_metrics" -> scala.collection.immutable.ListMap(workloadMetrics: _*),
      "per_layer" -> perLayer,
      "describe" -> Seq(
        "cores_honoured" -> spark.sparkContext.defaultParallelism,
        "master" -> spark.sparkContext.master,
        "nproc" -> nproc,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "commit" -> opt.getOrElse("commit", "unknown"),
        "closed_loop_clients" -> 1,
        "generate_reps_s" -> repS, "startup_s" -> startupS, "prepare_s" -> prepS,
        "loop_s" -> loopS, "gc_s" -> gcS,
        "tail_rule" -> ("highest of p99/p95/p90/p75/p50 with at least 10 " +
          "samples beyond it; null below 20 samples"),
        "inputs" -> w.describeInputs.toMap).toMap))
    Files.writeString(Paths.get(out, "report.json"), report + "\n")
    Files.writeString(Paths.get(out, "spans.jsonl"), tracer.spansJsonl)
    spark.stop()
  }

  private def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  private def session(cores: Int, traced: Boolean, out: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Per-layer numbers per measured unit (per op for the store extras). */
  private def layerMetrics(tracer: Tracer, w: Workload, loop: Seq[Span],
      units: Int, loopStart: Long, loopEnd: Long, loopS: Double, gcS: Double,
      resultS: Double): Map[String, Any] = {
    tracer.drain()
    val lst = tracer.jobs.get
    val jobsBySpan = lst.byJob.values.groupBy(_.span)
    val children = loop.groupBy(_.parent)
    def intervals(js: Iterable[lst.Job], endMs: Long) =
      js.map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs)).toSeq
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    Layers.foreach { layer =>
      val ss = loop.filter(_.layer == layer)
      val js = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val tasks = ss.flatMap(s => lst.bySpan.get(s.id))
      val self = ss.map(s =>
        s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
      val gap = ss.map { s =>
        val js1 = jobsBySpan.getOrElse(s.id, Nil)
        (s.endMs - s.startMs -
          Tracer.unionLength(intervals(js1, s.endMs), s.startMs, s.endMs)) / 1000.0
      }.sum
      out ++= Seq(
        s"$layer.self_s" -> self / units,
        s"$layer.jobs" -> js.size.toDouble / units,
        s"$layer.driver_gap_s" -> gap / units,
        s"$layer.task_s" -> tasks.map(_.runMs).sum / 1000.0 / units,
        s"$layer.shuffle_bytes" -> tasks.map(_.shuffle).sum.toDouble / units,
        s"$layer.spill_bytes" -> tasks.map(_.spill).sum.toDouble / units)
    }
    val extras = w.layerExtras
    val byKind = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    StoreChurn.Layers.foreach { layer =>
      val ss = loop.filter(_.layer == layer)
      val n = math.max(1, ss.size)
      def perOp(i: Int) = ss.map(_.fs(i)).sum.toDouble / n
      val kinds = CountingFs.Kinds.indices
      out ++= Seq(
        s"$layer.files_per_op" -> perOp(CountingFs.Kinds.indexOf("data_file")),
        s"$layer.max_files_per_partition" ->
          extras.getOrElse(s"$layer.max_files_per_partition", 0.0),
        s"$layer.bytes_per_live_byte" ->
          extras.getOrElse(s"$layer.bytes_per_live_byte", 0.0),
        s"$layer.fs_calls" -> kinds.filter(CountingFs.Kinds(_) != "data_file")
          .map(perOp).sum)
      byKind(layer) = ss.groupBy(_.op).map { case (op, os) =>
        op -> CountingFs.Kinds.indices.map(i =>
          CountingFs.Kinds(i) -> os.map(_.fs(i)).sum.toDouble / os.size).toMap
      }
    }
    val trainJobs = out("ml.Train.jobs").asInstanceOf[Double]
    val trees = extras.getOrElse("ml.Train.trees_per_unit", 0.0)
    val windowJobs = lst.byJob.values.filter(j =>
      j.startMs >= loopStart && j.startMs <= loopEnd)
    val busy = Tracer.unionLength(intervals(windowJobs, loopEnd), loopStart, loopEnd)
    out ++= Seq(
      "ml.Train.jobs_per_tree" -> (if (trees > 0) trainJobs / trees else 0.0),
      "llm.Dedup.verified_per_candidate" ->
        extras.getOrElse("llm.Dedup.verified_per_candidate", 0.0),
      "spark.jobs" -> windowJobs.size.toDouble / units,
      "spark.driver_gap_s" -> ((loopEnd - loopStart) - busy) / 1000.0 / units,
      "spark.driver_gap_share" ->
        ((loopEnd - loopStart) - busy).toDouble / math.max(1L, loopEnd - loopStart),
      "spark.wall_s" -> loopS / units,
      "jvm.gc_s" -> gcS / units,
      "trace.result_s" -> resultS)
    out.toMap + ("fs_calls_by_kind" -> byKind)
  }

  /** `<part>.driver_gap_share` for each part of a sequenced unit: the
    * part's wall minus the union of every job started inside it, over
    * its wall. Traced runs only, after [[layerMetrics]] drained the
    * listener. */
  private def partGapShares(tracer: Tracer, loop: Seq[Span])
      : Seq[(String, Any, String)] = {
    val jobs = tracer.jobs.get.byJob.values.toSeq
    val unitIds = loop.filter(s => s.layer == "bench" && s.op == "unit")
      .map(_.id).toSet
    loop.filter(s => s.layer == "bench" && unitIds(s.parent)).groupBy(_.op)
      .toSeq.sortBy(_._1).map { case (part, ss) =>
        val wall = ss.map(s => s.endMs - s.startMs).sum
        val busy = ss.map { s =>
          Tracer.unionLength(jobs.filter(j => j.startMs >= s.startMs &&
            j.startMs <= s.endMs).map(j =>
              (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
            s.startMs, s.endMs)
        }.sum
        (s"$part.driver_gap_share", (wall - busy).toDouble / math.max(1L, wall),
          "ratio")
      }
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(" ")
    catch { case NonFatal(_) => "unavailable" }

  /** The process's resident-set high-water mark (VmHWM). */
  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    catch { case NonFatal(_) => Double.NaN }
}
