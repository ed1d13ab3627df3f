package loadbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.{Engine, StreamConfig}
import graft.http.{IngestServer, WriteKeys}
import graft.sink.JdbcSink
import graft.sql.DerbyDialect
import graft.streaming.{MicroBatch, RetryQueue}

/** A minimal HTTP/1.1 client on one keep-alive socket with TCP_NODELAY:
  * each request leaves in a single write, so no request waits on the
  * peer's delayed ACK (which adds ~40 ms per request when headers and body
  * go out as separate segments). Responses must carry Content-Length, as
  * every `IngestServer` response does. One connection per client thread. */
final class HttpConn(port: Int) {
  private var sock: java.net.Socket = _
  private var in: java.io.BufferedInputStream = _

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c >= 0) { if (c != '\r') sb += c.toChar; c = in.read() }
    if (c < 0 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  private def exchange(req: Array[Byte]): (Int, String) = {
    if (sock == null) {
      sock = new java.net.Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      in = new java.io.BufferedInputStream(sock.getInputStream)
    }
    sock.getOutputStream.write(req)
    val code = readLine().split(" ")(1).toInt
    var len = 0
    var close = false
    var h = readLine()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val (k, v) = (h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
      if (k == "content-length") len = v.toInt
      if (k == "connection" && v.equalsIgnoreCase("close")) close = true
      h = readLine()
    }
    val body = in.readNBytes(len)
    if (close) this.close()
    (code, new String(body, UTF_8))
  }

  /** POST `body`; returns (status, response body). A request on a reused
    * connection the server has since closed is retried once, fresh. */
  def post(path: String, body: String, headers: Seq[(String, String)] = Nil): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = new StringBuilder(s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n")
    head ++= s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n"
    headers.foreach { case (k, v) => head ++= s"$k: $v\r\n" }
    head ++= "\r\n"
    val req = head.toString.getBytes(UTF_8) ++ b
    val reused = sock != null
    try exchange(req)
    catch { case _: java.io.IOException if reused => close(); exchange(req) }
  }

  def close(): Unit = { if (sock != null) sock.close(); sock = null }
}

object Http {
  /** `okEvents` of a batch-endpoint response. */
  def okEvents(resp: String): Int = {
    val i = resp.indexOf("\"okEvents\":")
    if (i < 0) 0 else resp.substring(i + 11).takeWhile(_.isDigit).toInt
  }
}

/** The Kafka stand-in behind the edge's spool callback: events append to an
  * open segment; a roll closes it and moves it into the watched folder by
  * atomic rename, so the file source never reads a half-written file. The
  * k-th rolled segment is the stream's k-th micro-batch (one file per
  * trigger). */
final class Spool(staging: File, ready: File, capacity: Int) {
  private var seg = 0
  private var count = 0
  private val sizes = mutable.ArrayBuffer.empty[Int]
  private def file(i: Int) = new File(staging, f"seg-$i%06d.json")
  private var writer = new BufferedWriter(new FileWriter(file(0)))
  /** Segment each event sequence number landed in (-1: never spooled). */
  val segOf: Array[Int] = Array.fill(capacity)(-1)

  def append(raw: String): Unit = synchronized {
    writer.write(raw)
    writer.write('\n')
    count += 1
    val s = Gen.seqOf(raw)
    if (s >= 0 && s < capacity) segOf(s) = seg
  }

  def roll(): Unit = synchronized {
    if (count > 0) {
      writer.close()
      val f = file(seg)
      Files.move(f.toPath, new File(ready, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      sizes += count
      seg += 1
      count = 0
      writer = new BufferedWriter(new FileWriter(file(seg)))
    }
  }

  def rolled: Int = synchronized(sizes.size)
  def sizeOf(k: Int): Int = synchronized(if (k < sizes.size) sizes(k) else -1)
  def close(): Unit = synchronized(writer.close())
}

/** `edge_stream`: an open loop of Segment-style events through the
  * authenticated edge (`IngestServer`), spooled to segments, drained back to
  * back by `MicroBatch.runFileStream` into `Engine` batch-mode appends (no pk)
  * on embedded Derby. Commit latency runs from an event's scheduled send
  * time to the return of the `complete()` whose micro-batch holds it. */
final class EdgeStream(env: Env) extends Workload {
  import EdgeStream._
  private val spark = env.spark
  private val tracer = env.tracer
  private val schedule = Gen.edgeSchedule(env.seed, RatePerS, WarmS + MaxSeconds, DriftEvery,
    BatchEvery, BatchSize)
  private val (warmReqs, timedReqs) = schedule.partition(_.dueNs < (WarmS * 1e9).toLong)
  private val spool = new Spool(env.dir("staging"), env.dir("ready"), schedule.map(_.events).sum)
  private val ready = env.dir("ready")
  private val retry = RetryQueue(env.dir("retry").getPath, env.dir("dlq").getPath)
  private val sink = JdbcSink(s"jdbc:derby:memory:edge${env.seed};create=true", DerbyDialect)
  private val engine = new Engine(spark, sink)
  private var server: IngestServer = _

  // consumer state: the k-th load is the k-th rolled segment
  private val batches = new AtomicInteger(0)
  private val commitNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val committedEvents = new AtomicLong(0)
  private val admittedEvents = new AtomicLong(0)
  private val failedBatches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var backlogMax = 0L
  @volatile private var drainSpan = 0L

  private def load(df: DataFrame): Unit = {
    val k = batches.getAndIncrement()
    tracer.span("bench", "load", parent = drainSpan)(tracer.ownCallSites {
      val expected = spool.sizeOf(k)
      val state =
        try {
          val st = engine.createStream("events", StreamConfig(mode = Engine.Batch))
          st.consumeDataset(df.select("event").as(Encoders.STRING))
          tracer.span("engine", "complete")(st.complete())
        } catch { case e: Exception => graft.streaming.LoadState("engine", "events", k, "failed", 0L, e.toString, 0L) }
      commitNs.put(k, System.nanoTime())
      if (state.status != "ok" || state.rows != expected)
        failedBatches.add(s"micro-batch $k: status ${state.status}, ${state.rows} rows of $expected (${state.error})")
      val done = committedEvents.addAndGet(math.max(0, expected).toLong)
      backlogMax = math.max(backlogMax, admittedEvents.get - done)
    })
  }

  private def drain(): Unit = tracer.span("streaming", "drain") {
    drainSpan = tracer.currentSpan
    MicroBatch.runFileStream(spark, ready.getPath, StreamSchema, env.dir("ckpt").getPath,
      retry, () => System.currentTimeMillis(), maxFilesPerTrigger = 1)(load)
  }

  private val auth = Seq("X-Write-Key" -> s"$KeyId:$Secret")
  private def send(conn: HttpConn, r: Gen.Req): (Int, Int) = {
    val (code, resp) =
      try conn.post(r.path, r.body, auth)
      catch { case e: java.io.IOException => conn.close(); (-1, e.toString) }
    val ok = if (code / 100 != 2) 0 else if (r.events == 1) 1 else Http.okEvents(resp)
    admittedEvents.addAndGet(ok.toLong)
    (code, ok)
  }

  def setup(): Unit = {
    server = new IngestServer(
      spool = (_, _, raw) => spool.append(raw),
      bulkLoad = (_, _, _, _, _) => 0L,
      auth = Some(Registry)).start()
    // first use of the whole path: edge, spool, one drain, table creation
    val conn = new HttpConn(server.port)
    try warmReqs.foreach(send(conn, _)) finally conn.close()
    spool.roll()
    drain()
    require(batches.get == spool.rolled, "warm-up drain did not consume its segment")
  }

  def run(seconds: Double): Outcome = {
    val reqs = timedReqs.filter(_.dueNs < ((WarmS + seconds) * 1e9).toLong)
    val warmNs = (WarmS * 1e9).toLong
    val admitMs = new Array[Double](reqs.size)
    val lateMs = new Array[Double](reqs.size)
    val codes = new Array[Int](reqs.size)
    val okCount = new Array[Int](reqs.size)
    val t0 = System.nanoTime() + 20000000L
    @volatile var stopRoller = false
    @volatile var stop = false // set after the last roll
    @volatile var rootSpan = 0L
    val b0 = batches.get
    val drains = new AtomicInteger(0)
    @volatile var lastCommit = t0
    val consumer = new Thread(() => tracer.span("bench", "consumer") {
      rootSpan = tracer.currentSpan
      while (!(stop && batches.get >= spool.rolled)) {
        val before = batches.get
        drain()
        drains.incrementAndGet()
        if (batches.get == before) Thread.sleep(IdleTickMs)
      }
    }, "loadbench-consumer")
    val roller = new Thread(() => {
      var next = t0 + RollNs
      while (!stopRoller) {
        LockSupport.parkNanos(next - System.nanoTime())
        if (System.nanoTime() >= next) { spool.roll(); next += RollNs }
      }
    }, "loadbench-roller")
    val senders = (0 until Clients).map { c =>
      new Thread(() => {
        val conn = new HttpConn(server.port)
        var i = c
        while (i < reqs.length) {
          val r = reqs(i)
          val due = t0 + r.dueNs - warmNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          lateMs(i) = (now - due) / 1e6
          val (code, ok) = send(conn, r)
          val end = System.nanoTime()
          admitMs(i) = (end - due) / 1e6
          codes(i) = code
          okCount(i) = ok
          tracer.record("http", "request", 0L, now, end)
          i += Clients
        }
        conn.close()
      }, s"loadbench-client-$c")
    }
    // daemons: a consumer stuck past its timeout must not keep the JVM up
    (consumer +: roller +: senders).foreach { t => t.setDaemon(true); t.start() }
    senders.foreach(_.join())
    stopRoller = true
    roller.join()
    spool.roll()
    stop = true
    consumer.join(DrainTimeoutMs)
    val timedOut = consumer.isAlive
    if (timedOut) failedBatches.add("consumer did not commit every segment in time")

    // per-event commit latency, from the event's scheduled send time
    val lat = mutable.ArrayBuffer.empty[Double]
    var lost = 0L
    reqs.indices.foreach { i =>
      val r = reqs(i)
      val due = t0 + r.dueNs - warmNs
      (r.firstSeq until r.firstSeq + r.events).foreach { s =>
        val seg = spool.segOf(s)
        val c = if (seg >= 0) commitNs.get(seg) else 0L
        if (seg >= 0 && c != 0L) { lat += (c - due) / 1e9; lastCommit = math.max(lastCommit, c) }
        else lost += 1
      }
    }
    val events = reqs.map(_.events).sum.toLong
    if (codes.exists(_ / 100 != 2) || okCount.sum < events)
      failedBatches.add(s"edge admitted ${okCount.sum} of $events events")
    Outcome(
      attempted = events,
      failed = lost,
      items = lat.size.toLong,
      elapsedS = (lastCommit - t0) / 1e9,
      latenciesS = lat.toArray,
      report = Seq(("events_offered_per_s", RatePerS, "1/s")),
      counters = Map(
        "http.requests" -> reqs.size.toDouble,
        "http.non2xx" -> codes.count(_ / 100 != 2).toDouble,
        "http.admit_p50_ms" -> Stats.median(admitMs),
        "http.admit_p99_ms" -> Stats.quantile(admitMs, 0.99),
        "gen.late_p99_ms" -> Stats.quantile(lateMs, 0.99),
        "streaming.backlog_max_events" -> backlogMax.toDouble,
        "streaming.batches" -> (batches.get - b0).toDouble,
        "streaming.drains" -> drains.get.toDouble,
        "sink.target_rows" -> tableRows().toDouble),
      rootSpan = rootSpan)
  }

  private def tableRows(): Long = sink.withConnection { c =>
    val rs = c.createStatement().executeQuery("""SELECT COUNT(*) FROM "EVENTS"""")
    rs.next(); rs.getLong(1)
  }

  def check(): Seq[String] = {
    val rows = tableRows()
    val admitted = admittedEvents.get
    val cols = sink.existingColumns("EVENTS").getOrElse(Nil).map(c => c.name -> c.kind).toMap
    val maxSeq = spool.segOf.lastIndexWhere(_ >= 0)
    val drift = (0 to maxSeq / DriftEvery).map(g => s"PROPERTIES_D$g")
    val unmapped =
      if (!cols.contains("_UNMAPPED_DATA")) 0L
      else sink.withConnection { c =>
        val rs = c.createStatement().executeQuery(
          """SELECT COUNT(*) FROM "EVENTS" WHERE "_UNMAPPED_DATA" IS NOT NULL""")
        rs.next(); rs.getLong(1)
      }
    import scala.jdk.CollectionConverters._
    failedBatches.asScala.toSeq ++
      (if (rows != admitted) Seq(s"Derby holds $rows rows, the edge admitted $admitted events") else Nil) ++
      drift.filterNot(d => cols.get(d).contains(graft.core.DataKind.Float64))
        .map(d => s"drift column $d is ${cols.get(d).map(_.toString).getOrElse("missing")}, not DOUBLE") ++
      (if (unmapped > 0) Seq(s"$unmapped rows spilled into _unmapped_data") else Nil)
  }

  def close(): Unit = {
    if (server != null) server.stop()
    spool.close()
  }
}

object EdgeStream {
  /** Offered event rate of the open loop. */
  val RatePerS = 100.0
  /** A roll closes the open segment this often. */
  val RollNs = 4000000000L
  /** Events between new drift keys (a new column every three seconds). */
  val DriftEvery = 300
  val Clients = 4
  /** One request in `BatchEvery` is a `/batch` envelope of `BatchSize` events. */
  val BatchEvery = 5
  val BatchSize = 10
  /** Pause after a drain that found no segment. */
  val IdleTickMs = 100L
  /** Seconds of the schedule sent, as one segment, during set-up. */
  val WarmS = 1.0
  val MaxSeconds = 60.0
  val DrainTimeoutMs = 60000L
  val KeyId = "bench"
  val Secret = "s3cret"
  private val Global = "bench-global"
  val Registry: WriteKeys.Registry = WriteKeys.Registry(
    bindings = Map(KeyId -> WriteKeys.Binding(KeyId, WriteKeys.storedHash(Secret, "salt", Global), "edge", "s2s")),
    plain = Map.empty, globalSecrets = Seq(Global), streams = Seq(WriteKeys.Stream("edge")))
  /** The spool envelope; `event` stays a raw JSON string so the engine, not
    * the harness, infers and evolves the table schema. */
  val StreamSchema: StructType = StructType(Seq(
    StructField("type", StringType), StructField("ingestType", StringType),
    StructField("event", StringType)))
}
