package loadbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.queries.Registry

/** `corpus_dedup`: the training-data dedup chain through the registry —
  * `llm_clean_corpus`, `llm_minhash_lsh`, `llm_dedup_cluster_exact`,
  * `llm_tokenize_pack` — back to back over a seeded corpus in the
  * `documents.parquet` schema with planted exact and near duplicates. A
  * doc commits when the pass that processes it finishes. */
final class CorpusDedup(env: Env) extends Workload {
  import CorpusDedup._
  private val spark = env.spark
  private val tracer = env.tracer
  private val corpus = Gen.corpus(env.seed, Docs)
  private val dir = env.dir("corpus").getPath
  private val queries = {
    val all = Registry.all
    Layers.Queries.map(q => q -> all(q).fn)
  }
  private var survivors: Set[Long] = Set.empty

  /** One pass: every query, forced. Returns the survivors of the cleaning
    * query. Cached frames are released after each query, as `graft.Bench`
    * and `graft.Verify` do. */
  private def pass(): Set[Long] = {
    var kept = Set.empty[Long]
    queries.foreach { case (name, fn) =>
      tracer.span("queries", name) {
        val df: DataFrame = fn(spark, dir)
        if (name == "llm_clean_corpus") kept = df.select("doc_id").collect().map(_.getLong(0)).toSet
        else df.count()
      }
      spark.sharedState.cacheManager.clearCache()
    }
    kept
  }

  def setup(): Unit = {
    val rows = corpus.docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DocSchema)
      .write.parquet(s"$dir/documents.parquet")
    survivors = pass() // first use of every query: planning, codegen, JIT
  }

  def run(seconds: Double): Outcome = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var rootSpan = 0L
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    tracer.span("bench", "passes") {
      rootSpan = tracer.currentSpan
      // another pass only if it should still end inside the window
      while (walls.isEmpty || System.nanoTime() + walls.last * 1e9 <= end) {
        val s = System.nanoTime()
        survivors = pass()
        walls += (System.nanoTime() - s) / 1e9
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val near = corpus.nearPairs.count { case (a, b) => survivors(a) != survivors(b) }
    Outcome(
      attempted = walls.size.toLong * Docs,
      failed = 0L,
      items = walls.size.toLong * Docs,
      elapsedS = elapsed,
      latenciesS = walls.toArray.flatMap(w => Array.fill(Docs)(w)),
      report = Seq(
        ("corpus_docs_per_s", walls.size * Docs / elapsed, "1/s"),
        ("corpus_passes", walls.size.toDouble, "count"),
        ("corpus_survivors", survivors.size.toDouble, "count"),
        ("near_dup_pairs_split", near.toDouble / math.max(1, corpus.nearPairs.size), "ratio")),
      counters = Map.empty,
      rootSpan = rootSpan)
  }

  def check(): Seq[String] =
    corpus.exactGroups.flatMap { g =>
      val n = g.count(survivors)
      if (n == 1) Nil else Seq(s"exact-duplicate group ${g.mkString(",")} left $n survivors")
    }

  def close(): Unit = ()
}

object CorpusDedup {
  val Docs = 400
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}
