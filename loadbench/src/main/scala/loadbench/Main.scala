package loadbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload measured. `latenciesS` holds one commit latency per
  * input item; `items` were committed in `elapsedS` of timed loop.
  * `report` holds the workload's own named end-to-end figures, `counters`
  * the per-layer counts the harness kept itself, and `rootSpan` the span of
  * the timed loop (0 when untraced). */
final case class Outcome(attempted: Long, failed: Long, items: Long, elapsedS: Double,
                         latenciesS: Array[Double],
                         report: Seq[(String, Double, String)],
                         counters: Map[String, Double],
                         rootSpan: Long)

trait Workload {
  /** Build inputs and warm the path once; everything before the first timed
    * operation. */
  def setup(): Unit
  def run(seconds: Double): Outcome
  /** Output checks after the timed loop; returns one message per failure. */
  def check(): Seq[String]
  def close(): Unit
}

/** Everything a workload shares: the session, the tracer, a work dir. */
final class Env(val spark: SparkSession, val tracer: Tracer, val work: File, val seed: Long) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Array[Double]): Double = quantile(xs, 0.5)
}

/** JVM-wide counters, read as deltas over the timed window. */
final class JvmStats {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var peakLiveBytes = 0L

  def gcCount: Long = gcs.map(_.getCollectionCount).sum
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def codegenNs: Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Collect fully and note the heap left (the live set) — at the end of
    * set-up and at the end of the run, so the figure repeats from run to
    * run instead of depending on when collections happened to fall. */
  def markLive(): Unit = {
    // the second collection follows Spark's ContextCleaner, which drops the
    // blocks of RDDs the first one found unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed)).sum
    peakLiveBytes = math.max(peakLiveBytes, used)
  }
  def heapPeakMb: Double = peakLiveBytes / 1048576.0
}

object Main {
  val Workloads = Seq("edge_stream", "bulk_merge", "corpus_dedup")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse("")
    require(Workloads.contains(workload), s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = new File(arg(args, "--work").getOrElse("loadbench/work/run")).getAbsoluteFile
    // process start as the launcher saw it; the JVM's own start otherwise
    val startMs = arg(args, "--start-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val mainS = (System.currentTimeMillis() - startMs) / 1000.0
    work.mkdirs()
    System.setProperty("derby.system.home", work.getPath)
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)

    val jvm = new JvmStats
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"loadbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val tracer = new Tracer(traced)
    tracer.attach(spark.sparkContext)
    val env = new Env(spark, tracer, work, seed)
    val wl: Workload = workload match {
      case "edge_stream" => new EdgeStream(env)
      case "bulk_merge"  => new BulkMerge(env)
      case _             => new CorpusDedup(env)
    }
    try {
      wl.setup()
      val setupS = (System.currentTimeMillis() - startMs) / 1000.0
      jvm.markLive()
      val gc0 = (jvm.gcCount, jvm.gcMs, jvm.codegenNs, jvm.codegenClasses)
      val out = wl.run(seconds)
      val gc1 = (jvm.gcCount, jvm.gcMs, jvm.codegenNs, jvm.codegenClasses)
      val failures = Gen.selfTest(workload, seed) ++ wl.check()
      failures.foreach(f => System.err.println(s"[loadbench] check failed: $f"))
      jvm.markLive()
      val heapMb = jvm.heapPeakMb
      val lat = out.latenciesS
      val p50 = Stats.median(lat)
      val p99 = Stats.quantile(lat, 0.99)
      val rate = out.items / out.elapsedS
      val failed = out.failed + failures.size
      val attempted = out.attempted + failures.size
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("commit_p50_s", p50, "s"),
        ("commit_p99_s", p99, "s"),
        ("rows_per_s", rate, "1/s"),
        ("heap_peak_mb", heapMb, "MB"))
      val layers =
        if (!traced) Nil
        else {
          val jvmDelta = Map(
            "spark.codegen_ms" -> (gc1._3 - gc0._3) / 1e6,
            "spark.codegen_classes" -> (gc1._4 - gc0._4).toDouble,
            "jvm.gc_s" -> (gc1._2 - gc0._2) / 1000.0,
            "jvm.gc_count" -> (gc1._1 - gc0._1).toDouble)
          val m = Layers.compute(tracer, out.rootSpan, out.counters ++ jvmDelta)
          Layers.All.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
        }
      val report = endToEnd ++ Seq(
        ("error_rate", failed.toDouble / math.max(1L, attempted), "ratio"),
        ("samples", lat.length.toDouble, "count"),
        ("setup_main_s", mainS, "s"),
        ("setup_session_s", sessionS, "s")) ++ out.report
      println("REPORT " + Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
        "spark_cores" -> cores.toString, "jvm_processors" -> Runtime.getRuntime.availableProcessors().toString,
        "xmx_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
        "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
        "metrics" -> Json.metrics(report ++ layers))))
      val shown = if (traced) layers else endToEnd
      println("RESULT " + Json.obj(Seq(
        "correct" -> failures.isEmpty.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(shown))))
    } finally {
      wl.close()
      spark.stop()
    }
    sys.exit(0) // no lingering thread may hold the process open
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

/** The per-layer metrics of a traced run, in print order, with units. Every
  * workload prints all of them; a layer a workload never enters reads 0. */
object Layers {
  val Queries: Seq[String] =
    Seq("llm_clean_corpus", "llm_minhash_lsh", "llm_dedup_cluster_exact", "llm_tokenize_pack")

  private val perModule = Seq("jobs" -> "count", "job_s" -> "s", "task_cpu_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  val All: Seq[(String, String)] = Seq(
    "http.requests" -> "count", "http.non2xx" -> "count",
    "http.admit_p50_ms" -> "ms", "http.admit_p99_ms" -> "ms",
    "http.bulk_overhead_ms" -> "ms", "gen.late_p99_ms" -> "ms",
    "streaming.drains" -> "count", "streaming.batches" -> "count",
    "streaming.drain_s" -> "s", "streaming.load_s" -> "s", "streaming.overhead_s" -> "s",
    "streaming.backlog_max_events" -> "count",
    "engine.calls" -> "count", "engine.complete_s" -> "s", "engine.uncovered_s" -> "s",
    "engine.uncovered_first_q_ms" -> "ms", "engine.uncovered_last_q_ms" -> "ms",
    "sink.target_rows" -> "count") ++
    Queries.flatMap(q => Seq(s"queries.${q}_s" -> "s", s"queries.$q.jobs" -> "count")) ++
    Seq("queries.uncovered_s" -> "s") ++
    Modules.All.flatMap(m => perModule.map { case (k, u) => s"$m.$k" -> u }) ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.codegen_ms" -> "ms", "spark.codegen_classes" -> "count",
      "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
      "trace.wall_s" -> "s", "trace.accounted_pct" -> "%", "trace.spans" -> "count",
      "trace.overhead_ms" -> "ms")

  /** Per-layer figures from the span tree under `rootId` (the timed loop)
    * and the jobs the listener saw in it, plus the workload's own counters. */
  def compute(tracer: Tracer, rootId: Long, counters: Map[String, Double]): Map[String, Double] = {
    tracer.flush()
    val spans = tracer.allSpans
    val root = spans.find(_.id == rootId).getOrElse(sys.error("timed-loop span missing"))
    val byParent = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)
    val tree = subtree(root)
    val inTree = tree.map(_.id).toSet
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val jobs = tracer.allJobs.filter(j => inTree(j.span) || (j.t0 >= root.t0 && j.t0 <= root.t1))
    // a job the harness itself triggers (forcing a registry query's lazy
    // result) belongs to the layer of the span it ran under
    jobs.foreach { j =>
      if (j.module == "bench") layerOf.get(j.span).filter(Modules.All.contains).foreach(j.module = _)
    }
    val acc = new Accounting(tree, jobs.filter(j => inTree(j.span)))
    val accounted = acc.walk(root)
    val wall = (root.t1 - root.t0) / 1e9
    def dur(s: Span) = (s.t1 - s.t0) / 1e9
    val m = mutable.Map.empty[String, Double]
    Modules.All.foreach { mod =>
      val js = jobs.filter(_.module == mod)
      m(s"$mod.jobs") = js.size.toDouble
      m(s"$mod.job_s") = acc.jobSByModule(mod)
      m(s"$mod.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
      m(s"$mod.shuffle_mb") = js.map(_.shuffleBytes).sum / 1048576.0
      m(s"$mod.spill_mb") = js.map(_.spillBytes).sum / 1048576.0
    }
    m("spark.jobs") = jobs.size.toDouble
    m("spark.tasks") = jobs.map(_.tasks).sum.toDouble
    m("spark.task_cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    val drainS = tree.filter(s => s.layer == "streaming").map(dur).sum
    val loadS = tree.filter(_.name == "load").map(dur).sum
    m("streaming.drain_s") = drainS
    m("streaming.load_s") = loadS
    m("streaming.overhead_s") = drainS - loadS
    val completes = tree.filter(_.layer == "engine").sortBy(_.t0)
    m("engine.calls") = completes.size.toDouble
    m("engine.complete_s") = completes.map(dur).sum
    m("engine.uncovered_s") = acc.selfByLayer("engine")
    // driver-side complete() time, early vs late in the loop: grows when
    // per-call work grows with the target table (the Derby MERGE)
    val q = math.max(1, completes.size / 4)
    def meanMs(ss: Seq[Span]) =
      if (ss.isEmpty) 0.0 else ss.map(s => acc.selfBySpan(s.id)).sum / ss.size * 1000
    m("engine.uncovered_first_q_ms") = meanMs(completes.take(q))
    m("engine.uncovered_last_q_ms") = meanMs(completes.takeRight(q))
    Queries.foreach { name =>
      val qs = tree.filter(s => s.layer == "queries" && s.name == name)
      val ids = qs.map(_.id).toSet
      m(s"queries.${name}_s") = qs.map(dur).sum
      m(s"queries.$name.jobs") = jobs.count(j => ids(j.span)).toDouble
    }
    m("queries.uncovered_s") = acc.selfByLayer("queries")
    m("trace.wall_s") = wall
    m("trace.accounted_pct") = accounted / wall * 100
    m("trace.spans") = spans.size.toDouble
    m("trace.overhead_ms") = tracer.overheadS * 1000
    (m ++ counters).toMap
  }
}
