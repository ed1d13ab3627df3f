package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable

/** Seeded input generators. The same seed gives byte-identical inputs; the
  * program under test only ever sees what these produce. */
object Gen {

  // ---------------------------------------------------------------- edge_stream

  /** One HTTP request of the open-loop schedule: due `dueNs` after the loop
    * starts, carrying `events` events whose sequence numbers start at
    * `firstSeq` (a track event, or a batch envelope). */
  final case class Req(dueNs: Long, path: String, body: String, events: Int, firstSeq: Int)

  val TrackPath = "/api/s/s2s/track?tableName=events"
  val BatchPath = "/api/s/s2s/batch?tableName=events"
  private val TsBase = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  def messageId(seq: Int): String = f"e$seq%08d"

  /** Sequence number back out of a spooled event (the messageId the
    * generator wrote); -1 when absent. */
  def seqOf(raw: String): Int = {
    val i = raw.indexOf("\"messageId\":\"e")
    if (i < 0) -1 else raw.substring(i + 14, i + 22).toInt
  }

  /** Drift key of an event: a new `properties.d<g>` key every `driftEvery`
    * events. Its values are floats except every fourth, an int, so the
    * column the first batch creates is DOUBLE and later ints fold into it. */
  def driftKey(seq: Int, driftEvery: Int): (String, String) = {
    val g = seq / driftEvery
    val k = seq % driftEvery
    s"d$g" -> (if (k % 4 == 3) (k * 7).toString else f"${k * 7}%d.25")
  }

  private def event(rnd: java.util.Random, seq: Int, tp: String, driftEvery: Int): String = {
    val user = rnd.nextInt(500)
    val ts = java.time.Instant.ofEpochMilli(TsBase + seq * 10L).toString
    val (dk, dv) = driftKey(seq, driftEvery)
    val ctx = s""""context":{"ip":"10.0.${user % 256}.${rnd.nextInt(256)}","library":{"name":"analytics-node","version":"1.${rnd.nextInt(4)}.0"},"locale":"${Seq("en-US", "de-DE", "fr-FR")(rnd.nextInt(3))}"}"""
    val head = s"""{"type":"$tp","messageId":"${messageId(seq)}","userId":"u$user","anonymousId":"a${user * 31 % 997}","timestamp":"$ts""""
    tp match {
      case "page" =>
        s"""$head,"name":"Page ${rnd.nextInt(20)}","properties":{"path":"/p/${rnd.nextInt(50)}","title":"T${rnd.nextInt(9)}","$dk":$dv},$ctx}"""
      case "identify" =>
        s"""$head,"traits":{"email":"u$user@example.com","plan":"${Seq("free", "pro", "team")(rnd.nextInt(3))}"},"properties":{"$dk":$dv},$ctx}"""
      case _ =>
        val name = Seq("Order Completed", "Product Viewed", "Signed Up", "Cart Updated")(rnd.nextInt(4))
        s"""$head,"event":"$name","properties":{"revenue":${rnd.nextInt(10000)}.${10 + rnd.nextInt(90)},"qty":${1 + rnd.nextInt(9)},"sku":"sku-${rnd.nextInt(300)}","$dk":$dv},$ctx}"""
    }
  }

  /** The open-loop schedule: events at `ratePerS`; one request in
    * `batchEvery` is a `/batch` envelope of `batchSize` mixed-type events,
    * the rest single track events. */
  def edgeSchedule(seed: Long, ratePerS: Double, seconds: Double, driftEvery: Int,
                   batchEvery: Int = 10, batchSize: Int = 5): IndexedSeq[Req] = {
    val rnd = new java.util.Random(seed)
    val total = (ratePerS * seconds).toInt
    val out = mutable.ArrayBuffer.empty[Req]
    var seq = 0
    var i = 0
    while (seq < total) {
      val due = (seq / ratePerS * 1e9).toLong
      if (i % batchEvery == batchEvery - 1 && seq + batchSize <= total) {
        val evs = (0 until batchSize).map(k =>
          event(rnd, seq + k, Seq("track", "page", "identify")(rnd.nextInt(3)), driftEvery))
        val body = s"""{"batch":[${evs.mkString(",")}],"context":{"app":{"name":"bench","build":"${rnd.nextInt(50)}"}}}"""
        out += Req(due, BatchPath, body, batchSize, seq)
        seq += batchSize
      } else {
        out += Req(due, TrackPath, event(rnd, seq, "track", driftEvery), 1, seq)
        seq += 1
      }
      i += 1
    }
    out.toIndexedSeq
  }

  // ---------------------------------------------------------------- bulk_merge

  /** One NDJSON body for `/bulk`. `last` maps each messageId in the body to
    * the value of its final occurrence (the in-body winner). */
  final case class Body(index: Int, lines: IndexedSeq[String], last: Map[String, String],
                        newColumn: Option[String])

  /** Endless seeded body stream. Each body: ~70% new keys, ~20% keys from
    * earlier bodies, ~10% repeats of a key earlier in the same body. Every
    * `newColEvery`-th body adds a column `x<index>` whose first half of
    * values are ints and second half floats, so inference widens it to
    * DOUBLE. */
  final class Bodies(seed: Long, rows: Int, newColEvery: Int) extends Iterator[Body] {
    private val rnd = new java.util.Random(seed ^ 0x5bd1e995L)
    private var nextKey = 0
    private var index = 0
    def hasNext = true
    def next(): Body = next(rows)
    def next(rows: Int): Body = {
      val b = index; index += 1
      val col = if (b % newColEvery == newColEvery - 1) Some(s"x$b") else None
      val keys = mutable.ArrayBuffer.empty[Int]
      val lines = (0 until rows).map { r =>
        val p = rnd.nextInt(100)
        val k =
          if (p < 10 && keys.nonEmpty) keys(rnd.nextInt(keys.size))
          else if (p < 30 && nextKey > 0) rnd.nextInt(nextKey)
          else { nextKey += 1; nextKey - 1 }
        keys += k
        val extra = col.map { c =>
          val v = if (r < rows / 2) s"${rnd.nextInt(1000)}" else s"${rnd.nextInt(1000)}.5"
          s""","$c":$v"""
        }.getOrElse("")
        f"""{"messageId":"m$k%07d","event":"${Seq("order", "refund", "view")(rnd.nextInt(3))}","n":${rnd.nextInt(100000)},"v":"b${b}r$r","props":{"a":${rnd.nextInt(50)},"b":"s${rnd.nextInt(20)}"}$extra}"""
      }
      val last = keys.zipWithIndex.map { case (k, r) => f"m$k%07d" -> s"b${b}r$r" }.toMap
      Body(b, lines, last, col)
    }
  }

  // ---------------------------------------------------------------- corpus_dedup

  /** The committed sf0.1 `documents.parquet` draws text from this word list
    * (uniform, 8 to ~100 words); generated docs use the same, so
    * llm_clean_corpus's quality and language filters keep them in the same
    * proportion. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  final case class Doc(docId: Long, text: String, lang: String, source: String)
  final case class Corpus(docs: IndexedSeq[Doc], exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)])

  /** `n` documents with planted duplicates: `n/40` exact groups of 2-3
    * copies and `n/40` near-duplicates (one word replaced) of other docs. */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new java.util.Random(seed ^ 0x9e3779b97f4a7c15L)
    def text(): String = {
      val len = 8 + rnd.nextInt(93)
      (0 until len).map(_ => Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val langs = Seq("en", "en", "zh", "es", "fr", "de")
    val texts = mutable.ArrayBuffer.fill(n)(text())
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val used = mutable.Set.empty[Int]
    def pick(): Int = { var i = rnd.nextInt(n); while (used(i)) i = rnd.nextInt(n); used += i; i }
    (0 until n / 40).foreach { _ =>
      val base = pick()
      val copies = (0 until 1 + rnd.nextInt(2)).map(_ => pick())
      copies.foreach(c => texts(c) = texts(base))
      groups += (base +: copies).map(_.toLong).sorted
    }
    (0 until n / 40).foreach { _ =>
      val base = pick(); val dup = pick()
      // long enough that one changed word keeps shingle Jaccard high
      val words = texts(base).split(" ") ++ text().split(" ")
      texts(base) = words.mkString(" ")
      words(words.length / 2) = if (words(words.length / 2) == "dup") "key" else "dup"
      texts(dup) = words.mkString(" ")
      near += ((base.toLong, dup.toLong))
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}")
    }.toIndexedSeq
    Corpus(docs, groups.toSeq, near.toSeq)
  }

  // ---------------------------------------------------------------- self-test

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digest of everything a workload's generator emits for `seed`. */
  def inputDigest(workload: String, seed: Long): String = workload match {
    case "edge_stream" =>
      digest(edgeSchedule(seed, 100, 5, 200).iterator.map(r => s"${r.dueNs} ${r.path} ${r.body}\n"))
    case "bulk_merge" =>
      digest(new Bodies(seed, 200, 3).take(6).flatMap(_.lines.iterator.map(_ + "\n")))
    case _ =>
      digest(corpus(seed, 400).docs.iterator.map(d => s"${d.docId}\t${d.lang}\t${d.source}\t${d.text}\n"))
  }

  /** The generator self-test: a seed reproduces byte-identical inputs and a
    * different seed changes them. Returns failure messages. */
  def selfTest(workload: String, seed: Long): Seq[String] = {
    val a = inputDigest(workload, seed)
    val b = inputDigest(workload, seed)
    val c = inputDigest(workload, seed + 1)
    (if (a != b) Seq(s"$workload: seed $seed did not reproduce its inputs") else Nil) ++
      (if (a == c) Seq(s"$workload: seeds $seed and ${seed + 1} gave the same inputs") else Nil)
  }
}
