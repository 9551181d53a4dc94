package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-LEVEL lexical statistics for a training-data pipeline — the
  * aggregate companions of the per-document ops in [[TextAnalysis]]:
  * n-gram frequency tables, vocabulary Zipf ranks, and BM25 retrieval
  * scoring. All three follow the same scale shape: one explode, one
  * groupBy whose map-side partial aggregation shrinks every partition to
  * its local vocabulary before the single shuffle, then a bounded-size
  * result (vocab / top-k / queries x k).
  */
object Corpus {

  /** Tokenization shared with TextAnalysis.qualityStats and the DuckDB
    * oracle: plain single-space split. */
  private def words = split(col("text"), " ")

  /** Top-k corpus word bigrams by total count, with document frequency —
    * the collocation table a data-auditing pass reads ("what phrases
    * dominate my corpus"). `sequence(1, size-1)` is guarded by a
    * `size >= 2` filter because Spark generates a DESCENDING [1,0] range
    * when the upper bound is below the lower one (single-word docs would
    * emit garbage bigrams instead of none).
    *
    * Scale: explode + one groupBy with partial aggregation; exact
    * `countDistinct(doc_id)` doubles the shuffle width vs tf alone — at
    * 100 TB swap it for `approx_count_distinct`/HLL (the a15 rollup
    * pattern) and keep tf exact. Top-k compiles to
    * TakeOrderedAndProject: O(k) per partition, no global sort. */
  def ngramTopK(documents: DataFrame, k: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), words.as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1)))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("bigram"))
      .limit(k)

  /** Vocabulary table with Zipf ranks: every word's corpus frequency,
    * document frequency, and frequency rank (ties broken by word so the
    * rank is total and deterministic — identical to
    * `row_number() OVER (ORDER BY tf DESC, word)`).
    *
    * Two-phase rank, NO unpartitioned window over the vocabulary (a raw
    * web-corpus vocab — typos, URLs, numbers — runs to billions of
    * entries; a single-partition sort is the wrong plan): phase 1 ranks
    * words WITHIN their tf bucket (window partitioned by tf — parallel
    * across buckets); phase 2 offsets each bucket by the count of all
    * strictly-more-frequent words, a cumulative sum over the per-tf
    * histogram — one row per DISTINCT tf value, a frame bounded by
    * O(sqrt(corpus tokens)) (sum of distinct tf values <= total tokens),
    * so its exclusive cumsum runs as `Sampling.exclusiveOffsets`' tiny
    * broadcast self-join (no unpartitioned window) and broadcasts back.
    * Same shape as Sampling.tokenOffsets; the vocabulary aggregation is
    * checkpointed once so the corpus explode+groupBy feeds both the rank
    * branch and the histogram branch from one pass. Residual skew: the
    * tf=1 (hapax) bucket is the largest single partition; at extreme
    * scale sub-bucket it by a word-prefix range before ranking. */
  def vocabZipf(documents: DataFrame): DataFrame = {
    val vocab = documents
      .select(explode(words).as("word"), col("doc_id"))
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .localCheckpoint()
    val wIn = Window.partitionBy(col("tf")).orderBy(col("word"))
    val local = vocab.withColumn("local_rn", row_number().over(wIn))
    val hist = vocab.groupBy(col("tf")).agg(count(lit(1)).as("bn"))
      .localCheckpoint() // one row per distinct tf — driver-scale
    val offsets = Sampling.exclusiveOffsets(hist, "tf", "bn", "off",
      (b, a) => b > a) // rank counts words with STRICTLY HIGHER tf
    local.join(broadcast(offsets), "tf")
      .select(col("word"), col("tf"), col("df"),
        (col("off") + col("local_rn")).cast("int").as("rank"))
  }

  /** Pointwise mutual information for corpus bigrams above a count floor —
    * the collocation-strength table (Church & Hanks): pmi =
    * ln(p(xy) / (p(x) p(y))). Top-k by bigram count with a deterministic
    * (tf desc, w1, w2) total order.
    *
    * Scale shape: one unigram groupBy (checkpointed — it feeds both join
    * sides and the total), one bigram groupBy with the `minTf` floor
    * applied BEFORE the unigram joins (the floor is what keeps the join
    * input the interesting-bigram set, not the full cross-vocabulary),
    * then two keyed joins. Totals are two driver scalars — at 100 TB they
    * come from table statistics. The pmi arithmetic mirrors the oracle
    * op-for-op ((tf/totB) / ((uf1/totU) * (uf2/totU)), then ln) so both
    * engines produce bit-identical doubles — no summation is involved. */
  def pmiBigrams(documents: DataFrame, k: Int = 100,
      minTf: Long = 5L): DataFrame = {
    val uni = documents.select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uf"))
      .localCheckpoint()
    val totU = uni.agg(sum(col("uf"))).head().getLong(0).toDouble
    val totB = documents
      .select(greatest(size(words) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb"))).head().getLong(0).toDouble
    val bi = documents
      .select(words.as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("tf"))
      .where(col("tf") >= minTf)
    bi
      .join(uni.select(col("w").as("w1"), col("uf").as("uf1")), "w1")
      .join(uni.select(col("w").as("w2"), col("uf").as("uf2")), "w2")
      .withColumn("pmi", log(
        (col("tf").cast("double") / totB) /
          ((col("uf1").cast("double") / totU) *
            (col("uf2").cast("double") / totU))))
      .orderBy(col("tf").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "tf", "pmi")
  }

  /** Per-document top-k terms by TF-IDF (sklearn-flavoured smooth idf:
    * ln((1+N)/(1+df)) + 1, never zero or negative) — the keyword-summary
    * table an audit or retrieval index build reads per doc.
    *
    * Scale shape: one explode + groupBy(doc, term) for tf (checkpointed:
    * df derives from it and Catalyst would otherwise run the subtree
    * twice), one groupBy(term) for df, one keyed join, and a window
    * PARTITIONED by doc_id (parallel across documents — never a global
    * sort). N is one driver scalar. Ties: identical (tf, df) pairs yield
    * bit-identical tfidf in any engine (pure per-row arithmetic, no
    * summation), so the (tfidf desc, term) order is total and
    * engine-stable. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    val nDocs = documents.count().toDouble
    val tf = documents.select(col("doc_id"), explode(words).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(df, "term")
      .withColumn("tfidf",
        col("tf") * (log((lit(1.0) + nDocs) / (lit(1.0) + col("df"))) + 1.0))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))))
      .where(col("rn") <= k)
      .select("doc_id", "term", "tfidf", "rn")
  }

  /** The fixed audit query set for the r1 query entry (terms from the
    * corpus vocabulary so every query matches documents). */
  val defaultQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "stream", "batch"),
    "q2" -> Seq("table", "join", "query"),
    "q3" -> Seq("vector", "hash"))

  /** BM25 top-k retrieval over the corpus for a literal query set — the
    * lexical-retrieval baseline every RAG/dedup audit wants next to the
    * embedding ANN path (Robertson/Sparck-Jones weighting, the Lucene
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf flavor).
    *
    * Scale shape: term frequencies are computed ONLY for query terms (the
    * `isin` filter lands before the groupBy, so the shuffle carries
    * O(docs x |query terms|), not the full posting list); document
    * frequency and the query table are broadcast; the per-(query, doc)
    * sum is a second narrow-keyed groupBy; top-k per query is a window
    * over O(matching docs). N and avgdl are two driver scalars from one
    * aggregate — at 100 TB those come from table statistics instead. */
  def bm25TopK(documents: DataFrame,
      queries: Seq[(String, Seq[String])] = defaultQueries,
      topK: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(documents, queries, k1, b)
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rn") <= topK)
      .select("query_id", "doc_id", "score", "rn")

  /** Memoized (query_id, doc_id, score) BM25 frame — the shared substrate
    * of the whole retrieval family (r1 top-k, rrf1/r3/r5 fusion+eval, r6
    * MMR), which previously rebuilt tf/df/dl from parquet per query. A
    * [[SessionMemo]] keyed by the canonicalized plan (+ the query set +
    * exact k1/b bits), MEMORY_AND_DISK. The frame is
    * |matching docs|·|queries| rows — bounded by the query-term postings,
    * not the corpus. */
  private val bm25Cache = new SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Seq[(String, Seq[String])], Long, Long), DataFrame](Seq(_))

  private def bm25Scores(documents: DataFrame,
      queries: Seq[(String, Seq[String])], k1: Double,
      b: Double): DataFrame =
    bm25Cache.getOrBuildElse((documents.queryExecution.analyzed
      .canonicalized, queries, java.lang.Double.doubleToLongBits(k1),
      java.lang.Double.doubleToLongBits(b)), documents) {
      bm25ScoresUncached(documents, queries, k1, b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(bm25ScoresUncached(documents, queries, k1, b))

  private def bm25ScoresUncached(documents: DataFrame,
      queries: Seq[(String, Seq[String])], k1: Double,
      b: Double): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val docs = documents.select(col("doc_id"), words.as("w"))
    val dl = docs.select(col("doc_id"), size(col("w")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double"), avg(col("dl"))).head()
    val nDocs = stats.getDouble(0)
    if (nDocs == 0) // avg(dl) is NULL on an empty corpus; return typed empty
      return documents.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            documents.schema("doc_id").dataType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    val avgdl = stats.getDouble(1)
    val terms = queries.flatMap(_._2).distinct
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // localCheckpoint: df below derives from tf, and Catalyst does not
    // dedup common subplans — without the barrier the explode+groupBy
    // subtree executes twice (once per join side)
    val tf = docs
      .select(col("doc_id"), explode(col("w")).as("term"))
      .where(col("term").isin(terms.map(lit(_)): _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .join(broadcast(q), "term")
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + (lit(1 - b) + col("dl") * lit(b / avgdl)) * k1))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s")).as("score"))
  }

  /** Snapshot diff between two corpus versions — the audit a recurring
    * ingest (daily crawl, re-scraped sources) runs before retraining:
    * which documents appeared, vanished, or changed CONTENT. Identity is
    * `doc_id`; change detection is the same normalized content
    * fingerprint the exact-dedup family uses ([[Dedup.normText]] md5), so
    * formatting-only churn (case, punctuation, whitespace) does not count
    * as change — the same equivalence d1 deduplicates under.
    *
    * Scale shape: two narrow (doc_id, fingerprint) projections into ONE
    * doc_id-keyed full-outer shuffle join; status is a null/equality
    * CASE on the joined row. Emits one row per doc in either version —
    * feed to a groupBy("status") for the summary, or filter
    * status != 'unchanged' for the incremental work-list that makes the
    * downstream re-embed/re-dedup pass proportional to the CHURN, not
    * the corpus. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"),
      md5(Dedup.normText).as("fp_old"))
    val n = newDocs.select(col("doc_id"),
      md5(Dedup.normText).as("fp_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
  }
}
