package graft

import org.apache.spark.sql.functions._

import graft.ops.{Memo, Pipeline, SessionMemo, Similarity}

/** Round-19 optimization invariants: the shared SessionMemo discipline
  * (single-flight, staleness replace, bounded retention), the survivor
  * memo's no-text bound (VERDICT #2), the TopKLong exact-int64 ranking
  * (the rankAdc rewrite) and its int64 extremes, the signature memo's
  * clear path, the shared portable-kNN edge substrate
  * (VERDICT #4), and the emb3 mean-denominator null-element semantics
  * (ADVICE). */
class MemoSpec extends GraftSuite {
  import spark.implicits._

  test("SessionMemo: plan-equal lookups hit; a files change replaces " +
      "and releases the stale frame; clear releases everything") {
    val memo = new SessionMemo[String]()
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    var builds = 0
    def build(tag: String) = {
      builds += 1
      Seq(tag).toDF("v")
    }
    val a1 = memo.getOrBuild(spark, "k", 1, build("a"),
      df => released += df.collect().head.getString(0))
    val a2 = memo.getOrBuild(spark, "k", 1, build("never"),
      df => released += df.collect().head.getString(0))
    assert(a2 eq a1) // same filesHash: memo hit, no rebuild
    assert(builds == 1 && released.isEmpty)
    val b = memo.getOrBuild(spark, "k", 2, build("b"),
      df => released += df.collect().head.getString(0))
    assert(b.collect().head.getString(0) == "b")
    assert(builds == 2)
    assert(released == Seq("a")) // stale frame replaced AND released
    assert(memo.size == 1) // bounded: one live entry per key
    memo.clear(df => released += df.collect().head.getString(0))
    assert(released == Seq("a", "b") && memo.size == 0)
  }

  test("SessionMemo: a build that throws leaves no entry (next caller " +
      "retries)") {
    val memo = new SessionMemo[String]()
    intercept[RuntimeException] {
      memo.getOrBuild(spark, "k", 1,
        throw new RuntimeException("boom"))
    }
    assert(memo.size == 0)
    val ok = memo.getOrBuild(spark, "k", 1, Seq(1).toDF("v"))
    assert(ok.count() == 1)
  }

  test("SessionMemo: a build overtaken by a stale replace releases its " +
      "own frame, so no frame is orphaned") {
    val memo = new SessionMemo[String]()
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def tag(df: org.apache.spark.sql.DataFrame) = df.collect().head.getString(0)
    val release = (df: org.apache.spark.sql.DataFrame) => {
      released.add(tag(df)); ()
    }
    val entered = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    @volatile var slow: org.apache.spark.sql.DataFrame = null
    val builder = new Thread(() => {
      slow = memo.getOrBuild(spark, "k", 1, {
        entered.countDown()
        proceed.await()
        Seq("old").toDF("v")
      }, release)
    })
    builder.start()
    entered.await()
    // the files changed while the first build ran: replace the entry
    val fresh = memo.getOrBuild(spark, "k", 2, Seq("new").toDF("v"), release)
    proceed.countDown()
    builder.join()
    assert(tag(slow) == "old", "the overtaken caller still gets its frame")
    assert(released.toArray.toSeq == Seq("old"),
      "the overtaken build must release its own frame")
    assert(memo.frames.map(tag) == Seq("new") && (memo.frames.head eq fresh))
    memo.clear(release)
    assert(released.toArray.toSeq == Seq("old", "new"))
  }

  test("Memo.filesHashOf: file-backed, data-in-plan, and checkpoint " +
      "leaves memoize; the hash sees file sources through a persisted " +
      "subtree") {
    val docs = Tables.load(spark, sf, "documents")
    assert(Memo.filesHashOf(docs).isDefined)
    assert(Memo.filesHashOf(Seq((1L, "x")).toDF("a", "b")).isDefined)
    assert(Memo.filesHashOf(docs.limit(3).localCheckpoint()).isDefined)
    // a persisted subtree must not hide the file leaves (inputFiles
    // walks the optimized plan where the cache is substituted; the
    // memo key walks the analyzed plan)
    val cached = docs.select(col("doc_id")).persist()
    try {
      val h1 = Memo.filesHashOf(cached)
      assert(h1.isDefined && h1 == Memo.filesHashOf(docs))
    } finally cached.unpersist()
  }

  test("survivor memo retention bound: memoized frames carry only " +
      "doc_id — never text (VERDICT #2)") {
    Pipeline.clearSurvivors()
    val docs = Tables.load(spark, sf, "documents")
    // touch two survivor keys (no-drops and semantic)
    Pipeline.surgicalCorpus(docs).collect()
    assert(Pipeline.survivorMemoFrames.nonEmpty)
    Pipeline.survivorMemoFrames.foreach { f =>
      assert(f.columns.toSeq == Seq("doc_id"),
        s"survivor memo must be ids-only, got ${f.columns.toSeq}")
    }
    Pipeline.clearSurvivors()
  }

  test("release manifest memo: a memo-served manifest is row-identical " +
      "to a cold rebuild") {
    val docs = Tables.load(spark, sf, "documents")
    Pipeline.clearSurvivors()
    val cold = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    val warm = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    assert(warm.toSeq == cold.toSeq)
    Pipeline.clearSurvivors()
    val recold = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    assert(recold.toSeq == cold.toSeq)
  }

  test("portable kNN edge substrate: k=1 edges are the rn=1 filter of " +
      "the shared top-3 frame — identical to a direct k=1 derivation") {
    val emb = Tables.load(spark, sf, "embeddings")
    Similarity.clearGraphCache()
    val viaMemo = Similarity.portableKnnEdges(emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val k3 = Similarity.portableKnnEdges(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMemo.forall(k3.contains)) // top-1 ⊆ top-3
    Similarity.clearGraphCache()
    val direct = Similarity.portableKnnEdges(emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaMemo.toSeq == direct.toSeq)
    Similarity.clearGraphCache()
  }

  test("TopKLong ranks exact int64 — values adjacent beyond 2^53 stay " +
      "ordered, ties break by ascending id (the rankAdc contract)") {
    val big = (1L << 53)
    val df = Seq(
      (0L, big + 1L, 10L), (0L, big, 11L), // indistinguishable as Double
      (0L, big + 1L, 9L),                  // tie with row 1 -> lower id first
      (0L, 5L, 12L),
      (1L, -big - 1L, 20L), (1L, -big, 21L))
      .toDF("qid", "adc", "nid")
    val out = df.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKLong(col("adc"), col("nid"), 3)
        .as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("rn0", "e")))
      .select(col("qid"), col("rn0"), col("e.id"), col("e.value"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (0L, 0, 9L, big + 1L), (0L, 1, 10L, big + 1L), (0L, 2, 11L, big),
      (1L, 0, 21L, -big), (1L, 1, 20L, -big - 1L)))
  }

  test("TopKLong orders the int64 extremes: Long.MaxValue ranks first, " +
      "Long.MinValue last (no negation overflow)") {
    def top(k: Int) = Seq(
      (0L, Long.MinValue, 1L), (0L, 0L, 2L), (0L, Long.MaxValue, 3L),
      (0L, Long.MinValue, 0L), (0L, -1L, 4L))
      .toDF("qid", "adc", "nid")
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKLong(col("adc"), col("nid"), k)
        .as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.id"), col("e.value"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(5) == Seq((3L, Long.MaxValue), (2L, 0L), (4L, -1L),
      (0L, Long.MinValue), (1L, Long.MinValue)))
    assert(top(2) == Seq((3L, Long.MaxValue), (2L, 0L)))
  }

  test("clearGraphCache drops the portable signature memo: a post-clear " +
      "call rebuilds the frame") {
    val emb = Tables.load(spark, sf, "embeddings")
    Similarity.clearGraphCache()
    val a = Similarity.portableSigs(emb, 6, 64)
    assert(Similarity.portableSigs(emb, 6, 64) eq a,
      "repeat call must return the memoized frame")
    Similarity.clearGraphCache()
    val b = Similarity.portableSigs(emb, 6, 64)
    assert(!(b eq a), "clearGraphCache must drop the signature memo")
    assert(b.collect().toSet == a.collect().toSet)
    Similarity.clearGraphCache()
  }

  test("topPrincipalComponent counts element PRESENCE in the mean " +
      "denominator — a null element shifts mu like the exploded form " +
      "did (ADVICE round-18)") {
    val emb = Seq(
      (0L, Seq[java.lang.Float](1f, 3f)),
      (1L, Seq[java.lang.Float](null, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalComponent(emb, 4)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    // presence-count: mu = [round(1e6/2), 2e6] = [5e5, 2e6]; row 0
    // centers to [5e5, 1e6] -> pc direction (1, 2)/sqrt(5). A
    // non-null-count denominator would give mu0 = 1e6, pc = (0, 1).
    assert(out.map(_._2).toSeq == Seq(0.447214, 0.894427))
    assert(out.map(_._3).distinct.toSeq == Seq(0.999939))
  }
}
