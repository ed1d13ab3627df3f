package loadbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The program module a Spark job belongs to: the package of the first
  * program frame in the job's call site (`collect at Infer.scala:…` →
  * `shape`). Jobs whose call site holds no program frame are Spark's own
  * (stream execution, broadcast helpers) and land in `substrate`. */
object Modules {
  val All: Seq[String] =
    Seq("http", "streaming", "shape", "ops", "sink", "engine", "queries", "llm", "core", "bench", "substrate")

  def ofFrame(frame: String): String =
    if (frame.startsWith("loadbench.")) "bench"
    else {
      val seg = frame.stripPrefix("graft.").takeWhile(c => c != '.' && c != '(')
      seg match {
        case "http" | "streaming" | "shape" | "ops" | "sink" | "queries" | "llm" => seg
        case "sql"       => "sink"
        case "functions" => "llm"
        case s if s.nonEmpty && s.head.isUpper => "engine" // graft.Engine, graft.BulkerStream
        case _           => "core"
      }
    }

  def ofCallSite(longForm: String): String =
    longForm.linesIterator.map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("loadbench."))
      .map(ofFrame).getOrElse("substrate")
}

/** One Spark job as the listener saw it. Times are on the tracer's
  * nanoTime clock; the scheduler stamps events in milliseconds. */
final class JobRec(val id: Int, val span: Long, val siteModule: String, val execId: Long,
                   val t0: Long) {
  /** Resolved module: the job's own call site, or, for a job Spark submits
    * from a helper thread (adaptive query stages, broadcasts), the call site
    * of the SQL execution it belongs to. */
  @volatile var module: String = siteModule
  @volatile var t1: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

final case class Span(id: Long, parent: Long, layer: String, name: String,
                      thread: Long, t0: Long, t1: Long)

/** Spans recorded by the harness around each public call, plus a
  * SparkListener that files every job under the innermost open span of the
  * thread that submitted it (a local property, inherited by Spark's helper
  * threads). Everything stays in memory until the run ends. When disabled,
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val SpanProp = "loadbench.span"
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val selfNs = new AtomicLong(0) // time spent inside tracing code
  @volatile private var sc: SparkContext = _

  // ms scheduler stamps → nanoTime clock
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def fromMs(ms: Long): Long = nano0 + (ms - ms0) * 1000000L

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(listener)
  }

  /** Run `body` inside a span. `parent` defaults to the innermost open
    * span of this thread; pass it when the caller's span lives on another
    * thread (a stream's foreachBatch, an HTTP handler). */
  def span[T](layer: String, name: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val c0 = System.nanoTime()
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val up = if (parent >= 0) parent else stack.headOption.getOrElse(0L)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      open.set(id :: stack)
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      selfNs.addAndGet(t0 - c0)
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
        spans.add(Span(id, up, layer, name, Thread.currentThread().getId, t0, t1))
        selfNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Record a span whose interval was measured elsewhere (another thread or
    * a client-side clock read). */
  def record(layer: String, name: String, parent: Long, t0: Long, t1: Long): Long =
    if (!enabled) 0L
    else {
      val id = nextId.getAndIncrement()
      spans.add(Span(id, parent, layer, name, Thread.currentThread().getId, t0, t1))
      id
    }

  def currentSpan: Long = open.get().headOption.getOrElse(0L)

  /** Run `body` with Spark's call-site override cleared on this thread, so
    * its jobs carry their real call sites. A streaming query pins every job
    * of its micro-batch thread to the query's `start()` site. */
  def ownCallSites[T](body: => T): T =
    if (!enabled || sc == null) body
    else {
      val short = sc.getLocalProperty("callSite.short")
      val long = sc.getLocalProperty("callSite.long")
      sc.clearCallSite()
      try body
      finally { sc.setLocalProperty("callSite.short", short); sc.setLocalProperty("callSite.long", long) }
    }

  private val listener = new SparkListener {
    private def timed(f: => Unit): Unit = {
      val c0 = System.nanoTime(); f; selfNs.addAndGet(System.nanoTime() - c0); ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, span, Modules.ofCallSite(site), exec, fromMs(e.time)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
        execModule.put(s.executionId, Modules.ofCallSite(s.details))
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.t1 = fromMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  def overheadS: Double = selfNs.get() / 1e9
  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.filter(_.t1 >= 0).map { j =>
    if (j.siteModule == "substrate")
      Option(execModule.get(j.execId)).foreach(m => j.module = m)
    j
  }

  /** Wait until the listener bus has delivered every queued event. */
  def flush(timeoutMs: Long = 10000L): Unit = if (enabled && sc != null) {
    // the bus is Spark-internal: reach it reflectively
    val get = classOf[SparkContext].getDeclaredMethod("listenerBus")
    get.setAccessible(true)
    val bus = get.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(timeoutMs))
    ()
  }
}

/** Self-time accounting over one span tree: a node's self time is its
  * duration minus the union of its children (child spans, and the Spark
  * jobs filed under it). Time covered by jobs is shared equally among the
  * jobs running at that instant, and each job's share goes to its module. */
final class Accounting(spans: Seq[Span], jobs: Seq[JobRec]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val jobsOf: Map[Long, Seq[JobRec]] = jobs.groupBy(_.span)

  val selfByLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobSByModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val selfBySpan = mutable.Map.empty[Long, Double]

  private def union(iv: Seq[(Long, Long)]): Long =
    if (iv.isEmpty) 0L
    else {
      val sorted = iv.sortBy(_._1)
      var total = 0L; var curS = sorted.head._1; var curE = sorted.head._2
      sorted.tail.foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      total + curE - curS
    }

  /** Walk the tree under `root`. Returns the time it accounts for (seconds):
    * self times plus job-covered time, summed over the subtree. */
  def walk(root: Span): Double = {
    def clip(s: Long, e: Long) = (math.max(s, root.t0), math.min(e, root.t1))
    val kids = children.getOrElse(root.id, Nil)
    val js = jobsOf.getOrElse(root.id, Nil)
    val jobIv = js.map(j => clip(j.t0, j.t1)).filter(x => x._2 > x._1)
    val kidIv = kids.map(k => clip(k.t0, k.t1)).filter(x => x._2 > x._1)
    val covered = union(kidIv ++ jobIv)
    val self = (root.t1 - root.t0 - covered) / 1e9
    selfByLayer(root.layer) += self
    selfBySpan(root.id) = self
    shareJobs(js, root)
    self + (covered - union(kidIv)) / 1e9 + kids.map(walk).sum
  }

  private def shareJobs(js: Seq[JobRec], root: Span): Unit = {
    val ev = js.flatMap { j =>
      val s = math.max(j.t0, root.t0); val e = math.min(j.t1, root.t1)
      if (e > s) Seq((s, 1, j.module), (e, -1, j.module)) else Nil
    }.sortBy(x => (x._1, x._2))
    val active = mutable.Map.empty[String, Int].withDefaultValue(0)
    var last = 0L
    ev.foreach { case (t, d, m) =>
      val n = active.values.sum
      if (n > 0) active.foreach { case (mod, k) =>
        jobSByModule(mod) += (t - last) / 1e9 * k / n }
      active(m) += d
      last = t
    }
  }
}
