package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.conf.Sessions

import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point: one workload, one JVM, one `local[N]`
  * session built by `graft.conf.Sessions.build`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <scratch dir> --profile <sf01.json>
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end
  * metrics; with `--trace 1` it carries the per-layer metrics of the
  * traced iterations. Every other line is a human-readable report.
  * Exit code 0 only when every iteration ran and every output check
  * held. */
object Main {
  /** N of the `local[N]` session. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: String, profile: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("root"), kv("profile"))
    if (!Workloads.Names.contains(o.workload)) {
      System.err.println(s"unknown workload ${o.workload}; one of ${Workloads.Names.mkString(", ")}")
      System.exit(2)
    }
    val code =
      try run(o)
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def now(): Long = System.currentTimeMillis()
  private def seconds(ms: Long): Double = ms / 1000.0

  private def buildSession(): SparkSession = {
    val s = Sessions.build("perfbench", shufflePartitions = 2 * Cores,
      master = Some(s"local[$Cores]"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small scan-shuffle-write-read round trip: codegen, shuffle and
    * parquet paths touched once before anything is timed. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0, 200000, 1, 4)
      .select((col("id") % 101).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .write.mode("overwrite").parquet(dir)
    require(spark.read.parquet(dir).count() == 101)
  }

  def run(o: Opts): Int = {
    val runDir = new File(o.root, s"runs/${o.workload}")
    Scratch.delete(runDir)
    Files.createDirectories(runDir.toPath)
    Heap.install()

    // ---- set-up: JVM start to a warm session
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tBuild = now()
    val spark = buildSession()
    val tWarm = now()
    warmUp(spark, s"$runDir/warmup")
    val tReady = now()

    // ---- inputs (generated or read from the per-seed cache) and the
    // workload's own untimed preparation
    val tPrep = now()
    val spans = new Spans(spark.sparkContext)
    val gen = new Gen(spark, o.profile, s"${o.root}/data", o.seed)
    val w = Workloads(o.workload, Ctx(spark, gen, runDir.getPath, spans, o.seed))
    val prepS = seconds(now() - tPrep)

    // ---- closed loop
    var attempted = 0
    var failed = 0
    var problem: Option[String] = None
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val probeWindows = ArrayBuffer.empty[(Long, Long)]
    var firstJob = 0.0
    var checkNs = 0L
    val layers = new LayerListener
    val triggers = new TriggerListener

    /** One iteration and its checks; the listeners and spans are on
      * only for a traced one, which is followed by the workload's
      * untimed layer probes. */
    def iteration(i: Int, trace: Boolean): Option[Double] = {
      attempted += 1
      try {
        if (trace) {
          spark.sparkContext.addSparkListener(layers)
          spark.streams.addListener(triggers)
          spans.enabled = true
        }
        val t0 = now()
        val n0 = System.nanoTime()
        spans("iteration", "") { w.iterate(i) }
        val dt = (System.nanoTime() - n0) / 1e9
        if (trace) {
          windows += ((t0, now()))
          val p0 = now()
          spans("layer probes", "") { w.layerProbes() }
          probeWindows += ((p0, now()))
        }
        val c0 = System.nanoTime()
        w.check(i)
        System.gc()
        checkNs += System.nanoTime() - c0
        Some(dt)
      } catch {
        case c: CheckFailed =>
          problem = Some(s"check failed after iteration $i: ${c.getMessage}")
          None
        case t: Throwable =>
          failed += 1
          t.printStackTrace()
          problem = Some(s"iteration $i failed: $t")
          None
      } finally if (trace) {
        spans.enabled = false
        layers.drain()
        spark.sparkContext.removeSparkListener(layers)
        spark.streams.removeListener(triggers)
      }
    }

    Heap.arm()
    iteration(0, trace = false).foreach(firstJob = _)
    val until = now() + (o.seconds * 1000).toLong
    var i = 1
    def next(trace: Boolean): Unit = {
      iteration(i, trace).foreach(if (trace) traced += _ else untraced += _)
      i += 1
    }
    if (!o.trace)
      while (problem.isEmpty && (now() < until || untraced.isEmpty)) next(trace = false)
    else {
      // untraced and traced iterations alternate, starting and ending
      // untraced, so each traced one is compared with the untraced ones
      // on either side of it
      next(trace = false)
      while (problem.isEmpty && (now() < until || traced.isEmpty)) {
        next(trace = true)
        if (problem.isEmpty) next(trace = false)
      }
    }
    Heap.disarm()

    // ---- untimed: quality figures and, traced, per-layer extras
    val tQuality = now()
    val quality = if (problem.isEmpty) w.quality() else Seq.empty
    val qualityS = seconds(now() - tQuality)
    val (files, bytes) = w.written
    val jobS = Stats.median(untraced.toSeq)
    val e2e = Seq(
      Metric("setup_s", seconds(tReady - jvmStart), "s"),
      Metric("first_job_s", firstJob, "s"),
      Metric("job_s", jobS, "s"),
      Metric("rows_per_s", if (jobS > 0) w.inputRows / jobS else 0.0, "1/s"),
      Metric("live_heap_peak_mb", Heap.peakMb, "MB"))
    val detail = ArrayBuffer.empty[Metric]
    detail += Metric("job_s.samples", untraced.size, "count")
    detail += Metric("error_rate", if (attempted > 0) failed.toDouble / attempted else 0.0, "ratio")
    detail += Metric("output_mb", bytes / 1048576.0, "MB")
    detail ++= quality
    detail ++= w.inputSizes
    detail += Metric("run.inputs_and_prepare_s", prepS, "s")
    detail += Metric("run.checks_s", checkNs / 1e9, "s")
    detail += Metric("run.quality_s", qualityS, "s")
    detail += Metric("run.jvm_s", seconds(now() - jvmStart), "s")

    val perLayer: Seq[Metric] =
      if (!o.trace || problem.nonEmpty) Seq.empty
      else {
        val agg = new LayerReport(layers, windows.toSeq, probeWindows.toSeq)
        val extras = w.layerExtras().toMap
        def per(n: String, layer: String) = {
          val wall = agg.wall(layer)
          if (wall > 0) extras.getOrElse(n, 0.0) / wall else 0.0
        }
        val rates = Seq(
          "prod2vec.tokens_per_s" -> per("prod2vec.tokens", "prod2vec"),
          "similarity.pairs_per_s" -> per("similarity.pairs_scored", "similarity"))
        // each traced iteration against the mean of the untraced ones
        // on either side of it
        val overhead = Stats.median(traced.indices.map(k =>
          traced(k) / ((untraced(k) + untraced(k + 1)) / 2)))
        val sessions = Seq(
          "sessions.build_s" -> seconds(tWarm - tBuild),
          "sessions.warmup_s" -> seconds(tReady - tWarm))
        val phases = Seq("addBatch", "queryPlanning", "walCommit",
          "commitOffsets", "latestOffset")
        val progress = {
          import scala.jdk.CollectionConverters._
          triggers.progress.asScala.toSeq
        }
        val stream = Seq("stream.triggers" -> progress.size.toDouble / windows.size) ++
          phases.map { ph =>
            val key = "stream." + ph.replaceAll("([A-Z])", "_$1").toLowerCase + "_s"
            key -> Stats.median(progress.map(_.getOrElse(ph, 0L) / 1000.0))
          }
        val values = agg.layerFields ++ agg.driver ++ sessions ++ stream ++
          Seq("dedup.rounds" -> agg.dedupRounds,
            "sources.files_written" -> files.toDouble,
            "trace.overhead_ratio" -> overhead) ++ extras ++ rates
        val known = values.toMap
        PerLayer.All.map { case (name, unit) => Metric(name, known.getOrElse(name, 0.0), unit) }
      }

    // ---- report
    println(s"perfbench workload=${o.workload} seed=${o.seed} cores=$Cores " +
      s"trace=${if (o.trace) 1 else 0} attempted=$attempted failed=$failed")
    (e2e ++ detail ++ perLayer).foreach(m => println(f"  ${m.name}%-34s ${m.value}%.6f ${m.unit}"))
    problem.foreach(p => println(s"FAILED: $p"))
    if (o.trace) {
      val traceDir = new File(o.root, "traces")
      Files.createDirectories(traceDir.toPath)
      val f = new File(traceDir, s"${o.workload}-seed${o.seed}.json")
      val jobs = (windows ++ probeWindows).flatMap { case (a, b) => layers.jobsIn(a, b) }.sortBy(_.id)
        .map(j => s"""{"job": ${j.id}, "layer": "${j.layer}", "ms": ${j.endMs - j.startMs}, """ +
          s""""call_site": "${j.callSite.trim.replace("\\", "/").replace("\"", "'")}"}""")
      Files.write(f.toPath, (s"""{"spans": ${spans.toJson}, "jobs": """ +
        jobs.mkString("[\n", ",\n", "\n]}\n")).getBytes(UTF_8))
      println(s"  spans written to $f")
    }
    val correct = problem.isEmpty
    val metrics = if (o.trace) perLayer else e2e
    println(Json.result(correct, attempted, failed, metrics))
    spark.stop()
    if (correct) 0 else 1
  }
}

/** The per-layer metric list of the traced run, with units. */
object PerLayer {
  val All: Seq[(String, String)] =
    Layers.All.flatMap(l => Layers.Fields.map { case (f, u) => (s"$l.$f", u) }) ++ Seq(
      "driver.plan_s" -> "s", "driver.sched_wait_s" -> "s",
      "sessions.build_s" -> "s", "sessions.warmup_s" -> "s",
      "pairs.tensor_rows" -> "count", "prod2vec.tokens" -> "count",
      "prod2vec.tokens_per_s" -> "1/s",
      "similarity.pairs_scored" -> "count", "similarity.pairs_per_s" -> "1/s",
      "ann.candidate_ratio" -> "ratio", "ivf.candidate_ratio" -> "ratio",
      "dedup.rounds" -> "count", "dedup.removed_ratio" -> "ratio",
      "corpus.survivor_ratio" -> "ratio",
      "stream.triggers" -> "count", "stream.add_batch_s" -> "s",
      "stream.query_planning_s" -> "s", "stream.wal_commit_s" -> "s",
      "stream.commit_offsets_s" -> "s", "stream.latest_offset_s" -> "s",
      "sources.files_written" -> "count", "trace.overhead_ratio" -> "ratio")
}

/** Per-iteration layer totals over the jobs of the traced iterations
  * and of the layer probes that follow them. */
final class LayerReport(l: LayerListener, windows: Seq[(Long, Long)],
                        probeWindows: Seq[(Long, Long)]) {
  private val n = math.max(1, windows.size).toDouble
  private val jobs = (windows ++ probeWindows)
    .flatMap { case (a, b) => l.jobsIn(a, b) }.distinct
  // a stage listed by several jobs (reused shuffle output) counts once,
  // for the first job that lists it
  private val stageOwner: Map[Int, Int] = jobs.sortBy(_.id)
    .flatMap(j => j.stageIds.map(_ -> j.id)).reverse.toMap
  private def ownStages(j: l.Job): Seq[l.Stage] =
    j.stageIds.filter(stageOwner.get(_).contains(j.id))
      .flatMap(s => Option(l.stages.get(s)))

  private def byLayer(layer: String) = jobs.filter(_.layer == layer)

  def wall(layer: String): Double =
    Intervals.union(byLayer(layer).map(j => (j.startMs, j.endMs))) / 1000.0 / n

  def layerFields: Seq[(String, Double)] = Layers.All.flatMap { layer =>
    val js = byLayer(layer)
    val st = js.flatMap(ownStages)
    Seq(s"$layer.jobs" -> js.size / n,
      s"$layer.wall_s" -> wall(layer),
      s"$layer.exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
      s"$layer.gc_s" -> st.map(_.gcMs).sum / 1000.0 / n,
      s"$layer.shuffle_mb" -> st.map(_.shuffleBytes).sum / 1048576.0 / n,
      s"$layer.spill_mb" -> st.map(_.spillBytes).sum / 1048576.0 / n,
      s"$layer.tasks" -> st.map(_.tasks).sum / n,
      s"$layer.failed_tasks" -> st.map(_.failed).sum / n)
  }

  /** Driver time: span time with no job running, and job submission to
    * first task launch. */
  def driver: Seq[(String, Double)] = {
    val plan = windows.map { case (a, b) =>
      (b - a) - Intervals.union(l.jobsIn(a, b).map(j => (j.startMs, math.min(j.endMs, b))))
    }.sum / 1000.0 / n
    val wait = jobs.map { j =>
      val first = ownStages(j).map(_.firstLaunchMs).filter(_ < Long.MaxValue)
      if (first.isEmpty) 0L else math.max(0L, first.min - j.startMs)
    }.sum / 1000.0 / n
    Seq("driver.plan_s" -> plan, "driver.sched_wait_s" -> wait)
  }

  /** Near-dedup fixpoint rounds: distinct convergence-probe actions. */
  def dedupRounds: Double =
    jobs.filter(_.dedupRound).map(_.execId).distinct.size / n
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Highest whole percentile with at least 10 samples above it. */
  def tailPercentile(n: Int): Option[Int] =
    if (n <= 10) None
    else Some(math.floor(100.0 * (n - 10) / n).toInt).filter(_ >= 50)
}

object Json {
  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** File helpers for the scratch root. */
object Scratch {
  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) Seq(f)
    else Seq.empty

  def bytes(f: File): Long = dataFiles(f).map(_.length).sum

  /** Data files (no checksums or markers) under `f`, and their bytes. */
  def filesAndBytes(f: File): (Long, Long) = {
    val fs = dataFiles(f)
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
