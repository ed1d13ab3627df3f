package loadbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.Encoders
import graft.{Engine, StreamConfig}
import graft.http.IngestServer
import graft.sink.JdbcSink
import graft.sql.DerbyDialect

/** `bulk_merge`: one client in a closed loop POSTs NDJSON bodies to
  * `/bulk/:dest?mode=batch&pk=messageId`. Each body goes through `Engine`
  * pk dedup, tmp-table staging and the Derby MERGE into one table that grows
  * over the run. Commit latency is the request's latency: the load is
  * synchronous. */
final class BulkMerge(env: Env) extends Workload {
  import BulkMerge._
  private val spark = env.spark
  private val tracer = env.tracer
  private val sink = JdbcSink(s"jdbc:derby:memory:bulk${env.seed};create=true", DerbyDialect)
  private val engine = new Engine(spark, sink)
  private val bodies = new Gen.Bodies(env.seed, Rows, NewColEvery)
  private var server: IngestServer = _
  private var conn: HttpConn = _
  private val path = s"/bulk/warehouse?tableName=$Table&mode=batch&pk=messageId"

  /** messageId → value of its last-sent occurrence, over every 2xx body. */
  private val expected = mutable.HashMap.empty[String, String]
  private val newColumns = mutable.ArrayBuffer.empty[String]
  @volatile private var requestSpan = 0L
  private val callbackNs = new AtomicLong(0)

  private def send(b: Gen.Body): Int = {
    val (code, _) =
      try conn.post(path, b.lines.mkString("\n"))
      catch { case e: java.io.IOException => conn.close(); (-1, e.toString) }
    if (code / 100 == 2) {
      expected ++= b.last
      newColumns ++= b.newColumn
    }
    code
  }

  def setup(): Unit = {
    server = new IngestServer(
      spool = (_, _, _) => (),
      bulkLoad = (_, _, _, _, _) => 0L,
      bulkLoadEx = Some { req =>
        val t0 = System.nanoTime()
        try tracer.span("bench", "callback", parent = requestSpan) {
          val st = engine.createStream(req.table,
            StreamConfig(mode = req.mode, pk = req.pks, deduplicate = req.pks.nonEmpty))
          st.consumeDataset(spark.createDataset(req.lines)(Encoders.STRING))
          val state = tracer.span("engine", "complete")(st.complete())
          if (state.status != "ok") throw new IllegalStateException(state.error)
          state.rows
        } finally callbackNs.set(System.nanoTime() - t0)
      }).start()
    conn = new HttpConn(server.port)
    // first use of the path, and a live target with a non-trivial row
    // count before the first timed merge
    send(bodies.next(BaseRows))
    (0 until WarmBodies).foreach(_ => send(bodies.next()))
  }

  def run(seconds: Double): Outcome = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val overheadMs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var attempted = 0L
    var failed = 0L
    var non2xx = 0
    var rootSpan = 0L
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    tracer.span("bench", "client") {
      rootSpan = tracer.currentSpan
      while (System.nanoTime() < end) {
        val b = bodies.next()
        val (code, s, e) = tracer.span("http", "request") {
          requestSpan = tracer.currentSpan
          val s = System.nanoTime()
          val code = send(b)
          (code, s, System.nanoTime())
        }
        attempted += b.lines.size
        if (code / 100 == 2) {
          rows += b.lines.size
          lat += (e - s) / 1e9
          overheadMs += (e - s - callbackNs.get) / 1e6
        } else { failed += b.lines.size; non2xx += 1 }
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val q = math.max(1, lat.size / 4)
    Outcome(
      attempted = attempted,
      failed = failed,
      items = rows,
      elapsedS = elapsed,
      // every row of a body commits when its request returns
      latenciesS = lat.toArray.flatMap(l => Array.fill(Rows)(l)),
      report = Seq(
        ("bulk_rows_per_s", rows / elapsed, "1/s"),
        ("bulk_p50_s", Stats.median(lat.toArray), "s"),
        ("bulk_first_q_s", lat.take(q).sum / q, "s"),
        ("bulk_last_q_s", lat.takeRight(q).sum / q, "s"),
        ("bulk_requests", lat.size.toDouble, "count")),
      counters = Map(
        "http.requests" -> (lat.size + non2xx).toDouble,
        "http.non2xx" -> non2xx.toDouble,
        "http.bulk_overhead_ms" -> Stats.median(overheadMs.toArray),
        "sink.target_rows" -> tableRows().toDouble),
      rootSpan = rootSpan)
  }

  private def tableRows(): Long = sink.withConnection { c =>
    val rs = c.createStatement().executeQuery(s"""SELECT COUNT(*) FROM "${Table.toUpperCase}"""")
    rs.next(); rs.getLong(1)
  }

  def check(): Seq[String] = {
    val rows = tableRows()
    val rnd = new java.util.Random(env.seed * 31 + 7)
    val keys = expected.keys.toIndexedSeq.sorted
    val sample = (0 until math.min(SampleKeys, keys.size)).map(_ => keys(rnd.nextInt(keys.size))).distinct
    val got = sink.withConnection { c =>
      val in = sample.map(k => s"'$k'").mkString(",")
      val rs = c.createStatement().executeQuery(
        s"""SELECT "MESSAGEID", "V" FROM "${Table.toUpperCase}" WHERE "MESSAGEID" IN ($in)""")
      val out = mutable.ArrayBuffer.empty[(String, String)]
      while (rs.next()) out += rs.getString(1) -> rs.getString(2)
      out.toSeq
    }
    val cols = sink.existingColumns(Table.toUpperCase).getOrElse(Nil).map(c => c.name -> c.kind).toMap
    (if (rows != expected.size) Seq(s"target holds $rows rows, ${expected.size} distinct messageIds were sent") else Nil) ++
      (if (got.size != sample.size) Seq(s"${got.size} rows for ${sample.size} sampled keys") else Nil) ++
      got.filter { case (k, v) => expected(k) != v }
        .map { case (k, v) => s"$k holds $v, last sent ${expected(k)}" } ++
      newColumns.map(_.toUpperCase).filterNot(c => cols.get(c).contains(graft.core.DataKind.Float64))
        .map(c => s"column $c is ${cols.get(c).map(_.toString).getOrElse("missing")}, not widened to DOUBLE")
  }

  def close(): Unit = {
    if (conn != null) conn.close()
    if (server != null) server.stop()
  }
}

object BulkMerge {
  val Table = "merge_target"
  /** Rows per body. */
  val Rows = 800
  /** Every this-many bodies, one adds a column that widens int → float. */
  val NewColEvery = 4
  /** Rows of the body sent first, during set-up (a live table to merge
    * into); `WarmBodies` regular bodies follow it, so every code path of a
    * timed merge has run and been compiled before the loop. */
  val BaseRows = 1000
  val WarmBodies = 1
  val SampleKeys = 50
}
