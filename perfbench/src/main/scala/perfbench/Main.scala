package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.config.YamlConfig
import graft.dag.TaskRunner
import graft.dag.TaskRunner.Task
import graft.io.Csv
import graft.m5.{M5Pipeline, M5Schemas}
import graft.queries.OracleSql
import graft.util.CacheScope

/** One benchmark run in one JVM:
  *
  *   1. set up `SetupReps` times (session start, input generation, the
  *      queries' `benchSetup` hooks) and keep the median;
  *   2. untimed warm-up passes, so JIT compilation and Spark's code
  *      generation caches settle before timing;
  *   3. timed passes until `--seconds` have elapsed, at least
  *      `minTimedPasses`; times are medians over them, and their
  *      outputs go to the correctness check. With
  *      `--trace 1` passes alternate traced / untraced, so the traced
  *      numbers and the tracing overhead come from the same run.
  *
  * Writes `result.json` into `--work`; `run.py` checks the outputs it
  * lists and prints the final line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("cores").toInt)
  }

  val SetupReps = 5

  /** Board inputs are fixed; the seed orders each pass. */
  val TableSeed = 42L
  val TableLines = 15000

  /** Queries with driver-side round loops (k-means, BFS): many jobs
    * per query and a persist or checkpoint per round. */
  val Iterative = Seq("x113_semdedup_kmeans", "x170_shortest_hops")

  /** Two stores × two horizon weeks: 23 DAG tasks. */
  val M5 = M5Gen(Seq("CA_1", "TX_1"), items = 20, days = 120, weeks = Seq(1, 2),
    estimators = 2, maxDepth = 3, numLeaves = 8)
  val M5GraphSize = 23
  /** The warm-up DAG: the same inputs, one store and one week, run up
    * to its one model. */
  val M5Warmup = M5.copy(stores = M5.stores.take(1), weeks = M5.weeks.take(1))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val w: Workload = a.workload match {
      case "iterative" => new Board(a, Iterative)
      case "m5_dag" => new Dag(a)
      case other => sys.error(s"unknown workload: $other")
    }
    val json = try w.run() finally w.stop()
    Files.write(Paths.get(a.work, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x max 1e-6)).sum / xs.size)

  def now: Double = System.nanoTime() / 1e9

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** `VmHWM` of this process: its peak resident set. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Per-pass JVM counters, read from the JVM's own management beans. */
final class JvmWindow {
  import scala.jdk.CollectionConverters._
  import java.lang.management.ManagementFactory
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def gcDeltaMs: Double = (gcMs - gc0).toDouble
  /** Sum of the heap pools' peaks since this window opened. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Shared run skeleton; subclasses define inputs, one pass, and the
  * per-layer numbers of a traced pass. */
abstract class Workload(val a: Main.Args) {
  import Main._

  protected var spark: SparkSession = _
  var attempted = 0
  var failed = 0
  /** Wall seconds of untraced / traced passes. */
  val untracedPasses, tracedPasses = mutable.Buffer.empty[Double]
  /** Op (query or DAG task) name -> untraced wall samples. */
  val opSamples = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
  /** Per traced pass: metric name -> value. */
  val layerPasses = mutable.Buffer.empty[Map[String, Double]]

  /** Untimed passes between set-up and the timed passes. */
  def warmupPasses: Int
  /** Timed passes a run makes even when `--seconds` ran out sooner. */
  def minTimedPasses: Int
  /** Generates inputs for set-up round `k` and runs the set-up hooks. */
  def prepare(k: Int): Unit
  /** One pass (`p` < 0: a warm-up pass); `tracer` is set on traced
    * passes. Returns per-layer metrics of a traced pass (empty
    * otherwise). */
  def pass(p: Int, tracer: Option[Tracer]): Map[String, Double]
  /** Outputs for run.py to check, as a JSON value. */
  def checksJson: String

  def recordOp(name: String, seconds: Double): Unit =
    opSamples.getOrElseUpdate(name, mutable.Buffer.empty) += seconds

  def run(): String = {
    val setupTimes = (1 to SetupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = session(a)
      prepare(k)
      now - t0
    }
    System.err.println(s"[perfbench] set-up rounds: ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s")

    (1 to warmupPasses).foreach { k =>
      val t0 = now
      pass(-k, None)
      System.err.println(f"[perfbench] warm-up pass $k: ${now - t0}%.2f s")
    }
    opSamples.clear()

    val start = now
    var p = 0
    val minPasses = if (a.trace) minTimedPasses max 2 else minTimedPasses
    while (p < minPasses || now - start < a.seconds) {
      val traced = a.trace && p % 2 == 0
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.drain())
      val t0 = now
      val layers = pass(p, tracer)
      val wall = now - t0
      if (traced) { tracedPasses += wall; layerPasses += layers }
      else untracedPasses += wall
      System.err.println(f"[perfbench] pass $p${if (traced) " (traced)" else ""}: $wall%.2f s")
      p += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val samples = opSamples.values.flatten.toSeq
        System.err.println(s"[perfbench] ${untracedPasses.size} timed passes, " +
          s"${samples.size} op samples over ${opSamples.size} ops")
        Seq(
          ("setup_s", median(setupTimes), "s"),
          ("pass_s", median(untracedPasses.toSeq), "s"),
          ("op_geomean_s", geomean(opSamples.values.map(b => median(b.toSeq)).toSeq), "s"))
      } else {
        val names = layerPasses.head.keys.toSeq.sorted
        names.map { n =>
          val v = layerPasses.map(_(n)).sum / layerPasses.size
          (n, v, Layers.unit(n))
        } :+ ("jvm.peak_rss_mb", peakRssMb, "MB") :+ ("trace.overhead_frac",
          median(tracedPasses.toSeq) / median(untracedPasses.toSeq) - 1, "ratio")
      }
    val ms = metrics.map { case (n, v, u) =>
      s"${jsonString(n)}:{\"value\":${jsonNum(v)},\"unit\":${jsonString(u)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"checks":$checksJson,""" +
      s""""passes":${untracedPasses.size + tracedPasses.size}}"""
  }

  def stop(): Unit = if (spark != null) spark.stop()

  /** Runs `body`, counting it as attempted and, if it throws, failed. */
  def attempt(what: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what FAILED: $e")
        e.printStackTrace()
        false
    }
  }
}

/** A query board: each pass runs every query once, in an order drawn
  * from the seed, and writes its output as parquet for the check; the
  * session's cache is swept after each query, as `graft.Bench` does. */
final class Board(args: Main.Args, queries: Seq[String]) extends Workload(args) {
  import Main._

  private var dir: String = _
  private def fn(q: String) = SparkEntry.queries(q)

  def warmupPasses: Int = 2
  def minTimedPasses: Int = 3

  def prepare(k: Int): Unit = {
    dir = s"${a.work}/tables_$k"
    TableGen.write(spark, dir, TableLines, TableSeed)
    queries.foreach(q => SparkEntry.benchSetup.get(q).foreach(_(spark, dir)))
  }

  def checksJson: String = {
    val entries = queries.map { q =>
      s"${jsonString(q)}:{\"output\":${jsonString(s"${a.work}/out/$q")}," +
        s"\"oracle\":${OracleSql.all.get(q).map(jsonString).getOrElse("null")}}"
    }
    s"""{"kind":"board","tables":${jsonString(dir)},"queries":${entries.mkString("{", ",", "}")}}"""
  }

  def pass(p: Int, tracer: Option[Tracer]): Map[String, Double] = {
    val sc = spark.sparkContext
    val order = new Random(a.seed * 1000 + p).shuffle(queries)
    val jvm = new JvmWindow
    val wall0 = System.currentTimeMillis()
    var buildS = 0.0
    var leftoverRdds, leftoverBytes = 0L
    order.foreach { q =>
      val t0 = now
      val ok = attempt(q) {
        sc.setJobGroup(Groups.build(q), q)
        val df = try fn(q)(spark, dir) finally sc.clearJobGroup()
        buildS += now - t0
        sc.setJobGroup(Groups.run(q), q)
        try df.write.mode("overwrite").parquet(s"${a.work}/out/$q")
        finally sc.clearJobGroup()
      }
      val t = now - t0
      if (tracer.isDefined) {
        val cached = sc.getRDDStorageInfo.filter(_.isCached)
        leftoverRdds += cached.length
        leftoverBytes += cached.map(r => r.memSize + r.diskSize).sum
      } else if (ok) recordOp(q, t)
      CacheScope.sweep(spark)
    }
    val wall1 = System.currentTimeMillis()
    if (tracer.isEmpty) System.err.println("[perfbench] query times: " + order.flatMap(q =>
      opSamples.get(q).map(b => f"$q ${b.last}%.2f")).mkString(", "))
    tracer match {
      case None => Map.empty
      case Some(tr) =>
        tr.close()
        def jobs(q: String) = (tr.jobsByGroup(Groups.build(q)) + tr.jobsByGroup(Groups.run(q))).toDouble
        Layers.common(tr, jvm, wall0, wall1, a.cores) ++ Map(
          "queries.build_s" -> buildS,
          "queries.eager_jobs" -> queries.map(q => tr.jobsByGroup(Groups.build(q))).sum.toDouble,
          "exec.unattributed_jobs" -> (tr.jobsByGroup.values.sum - queries.map(jobs).sum),
          "cache.leftover_rdds" -> leftoverRdds.toDouble,
          "cache.leftover_mb" -> leftoverBytes / 1048576.0,
          "io.write_amp" -> 0.0) ++
          Layers.PerQueryJobs.map(q => s"exec.jobs.$q" -> (if (queries.contains(q)) jobs(q) else 0.0)) ++
          Layers.dagZeros
    }
  }
}

/** The M5 task DAG: each pass runs the whole graph from an empty output
  * directory to a committed `submission.csv`, through
  * `TaskRunner.runParallel` at `cores` threads. The graph is rebuilt by
  * name with `Task.copy` so each task body runs inside its own job
  * group and its wall span is recorded. */
final class Dag(args: Main.Args) extends Workload(args) {
  import Main._

  private var inputDir: String = _
  private var dagRuns = 0
  private val outputs = mutable.Buffer.empty[(String, Int)]

  def warmupPasses: Int = 1
  def minTimedPasses: Int = 1

  /** Generates the CSVs and parses each once through Spark. */
  def prepare(k: Int): Unit = {
    inputDir = s"${a.work}/m5_in_$k"
    M5.write(inputDir, a.seed)
    Seq("sales_train_evaluation.csv" -> M5Schemas.sales(M5.days), "calendar.csv" -> M5Schemas.calendar,
      "sell_prices.csv" -> M5Schemas.prices, "sample_submission.csv" -> M5Schemas.submission())
      .foreach { case (f, schema) => Csv.source(spark, s"$inputDir/$f", schema).count() }
  }

  private def inputBytes: Double =
    Seq("sales_train_evaluation.csv", "calendar.csv", "sell_prices.csv", "sample_submission.csv")
      .map(f => Files.size(Paths.get(inputDir, f))).sum.toDouble

  /** Runs the DAG once; returns (wall, task spans, graph, tasks ran). */
  private def runDag(gen: M5Gen): Option[(Double, Map[String, (Double, Double)], Seq[Task], Int)] = {
    dagRuns += 1
    val out = s"${a.work}/m5_out_$dagRuns"
    val cfg = YamlConfig.fromMap(gen.config(inputDir, out))
    val pipeline = new M5Pipeline(spark, cfg)
    val sc = spark.sparkContext
    val spans = new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]
    val graph = mutable.LinkedHashMap.empty[String, Task]
    def rebuild(t: Task): Task = graph.get(t.name) match {
      case Some(done) => done
      case None =>
        val deps = t.deps.map(rebuild)
        val body: () => Unit =
          if (t.external) t.body
          else () => {
            val t0 = now
            sc.setJobGroup(Groups.task(t.name), t.name)
            try t.body()
            finally { sc.clearJobGroup(); spans.put(t.name, (t0, now)) }
          }
        val copy = t.copy(deps = deps, body = body)
        graph(t.name) = copy
        copy
    }
    var result: Option[(Double, Map[String, (Double, Double)], Seq[Task], Int)] = None
    attempt(s"DAG run $dagRuns") {
      val submission = rebuild(pipeline.runSubmission())
      val root =
        if (gen == M5) submission else graph.values.find(_.name.startsWith("TrainModel")).get
      val t0 = now
      cfg.dumpManifest(s"$out/params.yaml")
      val report = TaskRunner.runParallel(Seq(root), a.cores)
      val wall = now - t0
      import scala.jdk.CollectionConverters._
      if (gen == M5) outputs += ((out, report.ran.size))
      result = Some((wall, spans.asScala.toMap, graph.values.toSeq, report.ran.size))
    }
    result
  }

  def checksJson: String = {
    val runs = outputs.map { case (out, ran) =>
      s"""{"output":${jsonString(out)},"tasks_ran":$ran}"""
    }
    s"""{"kind":"m5","input":${jsonString(inputDir)},"tasks_expected":$M5GraphSize,""" +
      s""""predictions_expected":${M5.expectedPredictions},"runs":${runs.mkString("[", ",", "]")}}"""
  }

  def pass(p: Int, tracer: Option[Tracer]): Map[String, Double] = {
    val jvm = new JvmWindow
    val wall0 = System.currentTimeMillis()
    if (p < 0) { runDag(M5Warmup); return Map.empty }
    val r = runDag(M5)
    val wall1 = System.currentTimeMillis()
    r match {
      case Some((_, spans, _, _)) if tracer.isEmpty =>
        spans.foreach { case (n, (s, e)) => recordOp(n, e - s) }
        System.err.println("[perfbench] slowest tasks: " + spans.toSeq
          .sortBy { case (_, (s, e)) => s - e }.take(6)
          .map { case (n, (s, e)) => f"$n ${e - s}%.2f" }.mkString(", "))
        Map.empty
      case _ if tracer.isEmpty => Map.empty
      case _ =>
        val tr = tracer.get
        val sc = spark.sparkContext
        val cached = sc.getRDDStorageInfo.filter(_.isCached)
        tr.close()
        val (wall, spans, graph, ran) = r.getOrElse(
          ((wall1 - wall0) / 1000.0, Map.empty[String, (Double, Double)], Seq.empty[Task], 0))
        Layers.common(tr, jvm, wall0, wall1, a.cores) ++
          Layers.dag(spans, graph, wall, ran) ++
          Layers.m5(spans, tr) ++ Map(
          "queries.build_s" -> 0.0,
          "queries.eager_jobs" -> 0.0,
          "exec.unattributed_jobs" ->
            (tr.jobsByGroup.values.sum - graph.map(t => tr.jobsByGroup(Groups.task(t.name))).sum).toDouble,
          "cache.leftover_rdds" -> cached.length.toDouble,
          "cache.leftover_mb" -> cached.map(r => r.memSize + r.diskSize).sum / 1048576.0,
          "io.write_amp" -> tr.outputBytes / inputBytes) ++
          Layers.PerQueryJobs.map(q => s"exec.jobs.$q" -> 0.0)
    }
  }
}

/** Per-layer metric definitions shared by the workloads. */
object Layers {
  val PerQueryJobs = Main.Iterative

  private val M5Kinds = Seq(
    "IngestSales" -> "m5.ingest_s",
    "ProcessInputFiles" -> "m5.process_inputs_s",
    "SalesTimeSeriesFeatures" -> "m5.ts_features_s",
    "PrepareTrainData" -> "m5.prepare_train_s",
    "PrepareTestData" -> "m5.prepare_test_s",
    "TrainModel" -> "m5.train_s",
    "RunPredictionStoreWeek" -> "m5.predict_s",
    "RunPredictionAll" -> "m5.predict_all_s",
    "RunSubmission" -> "m5.submission_s")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_mb")) "MB"
    else if (name == "exec.slot_util" || name == "io.write_amp" || name == "dag.concurrency") "ratio"
    else "count"

  def common(tr: Tracer, jvm: JvmWindow, wall0: Long, wall1: Long, cores: Int): Map[String, Double] = {
    val mb = 1048576.0
    val wallS = (wall1 - wall0) / 1000.0
    Map(
      "planner.analysis_ms" -> tr.analysisMs.toDouble,
      "planner.optimization_ms" -> tr.optimizationMs.toDouble,
      "planner.planning_ms" -> tr.planningMs.toDouble,
      "planner.executions" -> tr.executions.toDouble,
      "planner.exchanges" -> tr.exchanges.toDouble,
      "planner.single_partition_ops" -> tr.singlePartitionOps.toDouble,
      "exec.jobs" -> tr.jobsByGroup.values.sum.toDouble,
      "exec.stages" -> tr.stages.toDouble,
      "exec.tasks" -> tr.tasks.toDouble,
      "exec.task_run_s" -> tr.taskRunMs / 1000.0,
      "exec.task_cpu_s" -> tr.taskCpuNs / 1e9,
      "exec.slot_util" -> tr.taskRunMs / 1000.0 / (wallS * cores),
      "exec.no_job_s" -> tr.noJobMs(wall0, wall1) / 1000.0,
      "shuffle.write_mb" -> tr.shuffleWrite / mb,
      "shuffle.read_mb" -> tr.shuffleRead / mb,
      "shuffle.fetch_wait_ms" -> tr.fetchWaitMs.toDouble,
      "shuffle.spill_mb" -> tr.spill / mb,
      "io.read_mb" -> tr.inputBytes / mb,
      "io.read_records" -> tr.inputRecords.toDouble,
      "io.write_mb" -> tr.outputBytes / mb,
      "jvm.gc_ms" -> jvm.gcDeltaMs,
      "jvm.heap_peak_mb" -> jvm.heapPeakMb)
  }

  val dagZeros: Map[String, Double] =
    (Seq("dag.tasks_ran", "dag.task_sum_s", "dag.concurrency", "dag.ready_wait_s",
      "dag.critical_path_s", "m5.train_jobs_per_model", "m5.predict_jobs_per_model") ++
      M5Kinds.map(_._2)).map(_ -> 0.0).toMap

  /** DAG shape numbers from the task spans: a task is ready when its
    * last dependency ended (or when the run began). */
  def dag(spans: Map[String, (Double, Double)], graph: Seq[Task], wall: Double,
      ran: Int): Map[String, Double] = {
    val begin = if (spans.isEmpty) 0.0 else spans.values.map(_._1).min
    def dur(n: String) = spans.get(n).map { case (s, e) => e - s }.getOrElse(0.0)
    def ready(t: Task) = (t.deps.flatMap(d => spans.get(d.name).map(_._2)) :+ begin).max
    val cp = mutable.Map.empty[String, Double]
    def critical(t: Task): Double = cp.getOrElseUpdate(t.name,
      dur(t.name) + (t.deps.map(critical) :+ 0.0).max)
    val taskSum = spans.keys.toSeq.map(dur).sum
    Map(
      "dag.tasks_ran" -> ran.toDouble,
      "dag.task_sum_s" -> taskSum,
      "dag.concurrency" -> taskSum / wall,
      "dag.ready_wait_s" -> graph.flatMap(t => spans.get(t.name).map(_._1 - ready(t))).sum,
      "dag.critical_path_s" -> (graph.map(critical) :+ 0.0).max)
  }

  def m5(spans: Map[String, (Double, Double)], tr: Tracer): Map[String, Double] = {
    def kind(n: String) = n.takeWhile(_ != '(')
    def jobsPer(k: String) = {
      val names = spans.keys.filter(kind(_) == k)
      if (names.isEmpty) 0.0
      else names.map(n => tr.jobsByGroup(Groups.task(n))).sum.toDouble / names.size
    }
    M5Kinds.map { case (k, metric) =>
      metric -> spans.collect { case (n, (s, e)) if kind(n) == k => e - s }.sum
    }.toMap ++ Map(
      "m5.train_jobs_per_model" -> jobsPer("TrainModel"),
      "m5.predict_jobs_per_model" -> jobsPer("RunPredictionStoreWeek"))
  }
}
