package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Memo, Pipeline, SessionMemo, Similarity}

/** The memo registry and its invariants: the SessionMemo discipline
  * (single-flight, staleness replace, bounded retention), grown-store
  * freshness of the converted memos and the token substrate, the one
  * clear path (`Memo.clearAll`), the streaming sink's batch-owned
  * frames, the ledger's exclusive billing of nested builds, the
  * survivor memo's no-text bound (VERDICT #2), the TopKLong exact-int64
  * ranking (the rankAdc rewrite) and its int64 extremes, the shared
  * portable-kNN edge substrate (VERDICT #4), and the emb3
  * mean-denominator null-element semantics (ADVICE). */
class MemoSpec extends GraftSuite {
  import spark.implicits._

  /** Two reads of one parquet directory, before and after a part file is
    * appended: equal canonicalized plans over different input files. */
  private def grownReads(): (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo")
      .resolve("t").toString
    Seq(1L).toDF("v").write.parquet(dir)
    val before = spark.read.parquet(dir)
    Seq(2L).toDF("v").write.mode("append").parquet(dir)
    (before, spark.read.parquet(dir))
  }

  private def tag(df: DataFrame) = df.collect().head.getString(0)

  /** A memo value of both frame kinds tagged `tag`: a persisted frame
    * (its storage level shows whether the memo unpersisted it) and a
    * checkpoint (its blocks show whether the memo released them). */
  private def frames(tag: String): (DataFrame, DataFrame) =
    (Seq(tag).toDF("v").persist(), Seq(tag).toDF("v").localCheckpoint())

  private def isPinned(df: DataFrame) =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  private def hasBlocks(df: DataFrame) = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      spark.sparkContext.getPersistentRDDs.contains(r.rdd.id)
    case _ => false
  }

  private def pairMemo() = new SessionMemo[String, (DataFrame, DataFrame)](
    v => Seq(v._1, v._2))

  test("SessionMemo: plan-equal lookups hit; a files change replaces " +
      "and releases the stale frame; clear releases everything") {
    val memo = pairMemo()
    var builds = 0
    def build(tag: String) = {
      builds += 1
      frames(tag)
    }
    val (v1, v2) = grownReads()
    val a1 = memo.getOrBuild("k", v1)(build("a"))
    val a2 = memo.getOrBuild("k", v1)(build("never"))
    assert(a2 eq a1) // same filesHash: memo hit, no rebuild
    assert(builds == 1 && isPinned(a1._1))
    val b = memo.getOrBuild("k", v2)(build("b"))
    assert(tag(b._1) == "b")
    assert(builds == 2)
    // stale frame replaced AND unpersisted
    assert(!isPinned(a1._1) && isPinned(b._1))
    // a caller that was served the stale value can still use it
    assert(hasBlocks(a1._2) && tag(a1._2) == "a")
    assert(memo.size == 1) // bounded: one live entry per key
    memo.clear()
    assert(!isPinned(b._1) && !hasBlocks(b._2) && memo.size == 0)
  }

  test("SessionMemo: a build that throws leaves no entry (next caller " +
      "retries)") {
    val memo = new SessionMemo[String, DataFrame]()
    val in = Seq(1).toDF("v")
    intercept[RuntimeException] {
      memo.getOrBuild("k", in)(throw new RuntimeException("boom"))
    }
    assert(memo.size == 0)
    val ok = memo.getOrBuild("k", in)(Seq(1).toDF("v"))
    assert(ok.count() == 1)
  }

  test("SessionMemo: a build overtaken by a stale replace releases its " +
      "own frame, so no frame is orphaned") {
    val memo = pairMemo()
    val (v1, v2) = grownReads()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    @volatile var slow: (DataFrame, DataFrame) = null
    val builder = new Thread(() => {
      slow = memo.getOrBuild("k", v1) {
        entered.countDown()
        proceed.await()
        frames("old")
      }
    })
    builder.start()
    entered.await()
    // the files changed while the first build ran: replace the entry
    val fresh = memo.getOrBuild("k", v2)(frames("new"))
    proceed.countDown()
    builder.join()
    assert(tag(slow._1) == "old", "the overtaken caller still gets its frame")
    assert(!isPinned(slow._1),
      "the overtaken build must unpersist its own frame")
    assert(hasBlocks(slow._2) && tag(slow._2) == "old",
      "the overtaken caller's checkpoint must keep its blocks")
    assert(memo.values.map(v => tag(v._1)) == Seq("new") &&
      (memo.values.head eq fresh) && isPinned(fresh._1))
    memo.clear()
    assert(!isPinned(fresh._1) && !hasBlocks(fresh._2))
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

  test("Memo.filesHashOf keys a V2 file source by its files, and the " +
      "key changes after an append") {
    val key = "spark.sql.sources.useV1SourceList"
    val dir = java.nio.file.Files.createTempDirectory("graft_v2")
      .resolve("documents").toString
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(dir)
    // a plain parquet read through the V2 file source
    def v2Hash(): Option[Int] = {
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "")
      try {
        val df = spark.read.parquet(dir)
        assert(df.queryExecution.analyzed.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation]), "the read must resolve to a V2 relation")
        Memo.filesHashOf(df)
      } finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val before = v2Hash()
    assert(before.isDefined, "a V2 parquet read must be keyed by its files")
    docs.limit(5).write.mode("append").parquet(dir)
    val after = v2Hash()
    assert(after.isDefined && after != before,
      s"the append must change the key: $before -> $after")
  }

  test("survivor memo retention bound: memoized frames carry only " +
      "doc_id — never text (VERDICT #2)") {
    Memo.clearAll()
    val docs = Tables.load(spark, sf, "documents")
    // touch two survivor keys (no-drops and semantic)
    Pipeline.surgicalCorpus(docs).collect()
    assert(Pipeline.survivorMemoFrames.nonEmpty)
    Pipeline.survivorMemoFrames.foreach { f =>
      assert(f.columns.toSeq == Seq("doc_id"),
        s"survivor memo must be ids-only, got ${f.columns.toSeq}")
    }
    Memo.clearAll()
  }

  test("release manifest memo: a memo-served manifest is row-identical " +
      "to a cold rebuild") {
    val docs = Tables.load(spark, sf, "documents")
    Memo.clearAll()
    val cold = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    val warm = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    assert(warm.toSeq == cold.toSeq)
    Memo.clearAll()
    val recold = Pipeline.surgicalCorpus(docs).collect().sortBy(_.getLong(0))
    assert(recold.toSeq == cold.toSeq)
  }

  test("portable kNN edge substrate: k=1 edges are the rn=1 filter of " +
      "the shared top-3 frame — identical to a direct k=1 derivation") {
    val emb = Tables.load(spark, sf, "embeddings")
    Memo.clearAll()
    val viaMemo = Similarity.portableKnnEdges(emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val k3 = Similarity.portableKnnEdges(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMemo.forall(k3.contains)) // top-1 ⊆ top-3
    Memo.clearAll()
    val direct = Similarity.portableKnnEdges(emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaMemo.toSeq == direct.toSeq)
    Memo.clearAll()
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

  test("MemoLedger bills nested builds their exclusive time: the " +
      "per-name totals never exceed the outer wall time") {
    ops.MemoLedger.drain()
    val t0 = System.nanoTime()
    ops.MemoLedger.timed("outer") {
      Thread.sleep(30)
      ops.MemoLedger.timed("inner") {
        Thread.sleep(30)
        ops.MemoLedger.timed("innermost")(Thread.sleep(30))
      }
      ops.MemoLedger.timed("inner")(Thread.sleep(10))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val billed = ops.MemoLedger.drain().toMap
    assert(billed.keySet == Set("outer", "inner", "innermost"),
      "every nested name must still be recorded")
    assert(billed.values.sum <= wall,
      s"nested totals $billed exceed the wall time $wall")
    assert(billed("outer") >= 0.025 && billed("inner") >= 0.035)
  }

  test("grown store: curatedCorpus, modelQualityScore and kmeansAssign " +
      "serve the rows of a freshly planned read after a part file is " +
      "appended") {
    Memo.clearAll()
    val root = java.nio.file.Files.createTempDirectory("graft_grown")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val checks = Seq[(String, String, DataFrame => DataFrame)](
      ("curatedCorpus", "documents", d => ops.Pipeline.curatedCorpus(d)),
      ("modelQualityScore", "documents",
        d => ops.TextAnalysis.modelQualityScore(d)),
      ("kmeansAssign", "embeddings", d => ops.Clustering.kmeansAssign(d)))
    val dirs = Seq("documents", "embeddings").map { t =>
      val dir = root.resolve(t).toString
      Tables.load(spark, sf, t).write.parquet(dir)
      t -> dir
    }.toMap
    // memoized over the original files
    val old = checks.map { case (_, t, f) =>
      rows(f(spark.read.parquet(dirs(t)))) }
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (t, id) =>
        Tables.load(spark, sf, t).withColumn(id, col(id) + 1000000L)
          .write.mode("append").parquet(dirs(t))
    }
    checks.zip(old).foreach { case ((name, t, f), before) =>
      val grown = spark.read.parquet(dirs(t))
      // a no-op filter changes the plan key, so this read can only be
      // served by a build over the grown files
      val want = rows(f(grown.where(lit(true))))
      assert(want != before, s"$name: the append must change the output")
      val got = rows(f(grown))
      assert(got == want, s"$name served stale rows: ${got.length} rows " +
        s"(${before.length} before the append), fresh read ${want.length}")
    }
    Memo.clearAll()
  }

  test("grown store: a frame read before an append but first used after " +
      "it leaves no stale token substrate for a fresh read") {
    Memo.clearAll()
    val dir = java.nio.file.Files.createTempDirectory("graft_tokens")
      .resolve("docs").toString
    Seq((1L, "alpha bravo charlie"), (2L, "delta echo foxtrot"))
      .toDF("doc_id", "text").write.parquet(dir)
    val old = spark.read.parquet(dir)
    Seq((3L, "golf hotel india")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    // the old frame's file index predates the append: its substrate is
    // built (and first cached) only now, over the two original rows
    assert(ops.Dedup.tokenCache(old).count() == 2)
    val fresh = spark.read.parquet(dir)
    assert(fresh.count() == 3)
    val got = ops.Dedup.tokenCache(fresh).count()
    assert(got == 3, s"tokenCache served $got rows for a fresh read of " +
      "the grown dir, which holds 3")
    Memo.clearAll()
  }

  test("streaming dedup sink releases only its own batch's frames: a " +
      "static substrate stays persisted, and persisted RDDs do not grow") {
    Memo.clearAll()
    val docs = Tables.load(spark, sf, "documents")
    // a memo checkpoint: its RDD stays persisted while the memo holds it
    val static = ops.Dedup.jaccardPairs(docs, 3, 0.5)
    val staticRdd = static.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case other => fail(s"jaccardPairs is not a checkpoint: $other")
    }
    val staticRows = static.collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val batches = docs.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).grouped(20).toSeq
    val sc = spark.sparkContext
    val pinned0 = sc.getPersistentRDDs.size
    val entries0 = Memo.registered.map(_.size).sum
    val pinned = batches.take(3).zipWithIndex.map { case (b, bid) =>
      streaming.Streams.mergeDedupIngest(b.toSeq.toDF("doc_id", "text"),
        bid.toLong, s"$dir/state", s"$dir/out", 3, 0.5)
      assert(sc.getPersistentRDDs.contains(staticRdd),
        s"batch $bid released a frame it did not build")
      assert(Memo.registered.map(_.size).sum == entries0,
        s"batch $bid left a memo entry behind")
      sc.getPersistentRDDs.size
    }
    assert(pinned.forall(_ <= pinned0),
      s"persisted RDDs grew across batches: $pinned0 -> $pinned")
    assert(ops.Dedup.jaccardPairs(docs, 3, 0.5) eq static,
      "the static substrate must still be served from its memo")
    assert(static.collect().map(_.toString).sorted.toSeq == staticRows)
    assert(spark.read.parquet(s"$dir/out").count() == 60)
    Memo.clearAll()
  }

  test("Memo.clearAll empties every memo and releases its frames; a cold " +
      "rerun rebuilds identical rows") {
    val qs = Seq("e11_quote_decontaminated", "d2_jaccard_pairs",
      "d15_semdedup_pairs", "sim3_ivf_topk", "sim4_pq_topk",
      "sim7_blocked_knn", "r1_bm25_topk", "e5_curated_corpus",
      "gr3_portable_pagerank", "m1_media_features")
    def run() = qs.map { q =>
      q -> SparkEntry.queries(q)(spark, sf).collect().map(_.toString)
        .sorted.toSeq
    }.toMap
    val sc = spark.sparkContext
    Memo.clearAll()
    val pinned0 = sc.getPersistentRDDs.keySet
    val cold = run()
    assert(Memo.registered.exists(_.size > 0))
    // the checkpoints the memos hold, and every cache built by the run
    // (cache buffers are the named persisted RDDs; all belong to a memo
    // or to the persist registry)
    val checkpoints = Memo.registered.flatMap {
      case m: SessionMemo[_, _] => m.values
      case _ => Nil
    }.flatMap {
      case df: DataFrame => Some(df)
      case (df: DataFrame, _) => Some(df)
      case _ => None
    }.flatMap(_.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd.id)
      case _ => None
    })
    val caches = sc.getPersistentRDDs.filter { case (id, r) =>
      !pinned0(id) && r.name != null
    }.keySet
    assert(checkpoints.nonEmpty && caches.nonEmpty)
    Memo.clearAll()
    assert(Memo.registered.forall(_.size == 0), "a memo kept entries")
    val left = sc.getPersistentRDDs.keySet
    assert((checkpoints.toSet ++ caches).intersect(left).isEmpty,
      "memo frames still pinned after clearAll")
    val recold = run()
    qs.foreach(q => assert(recold(q) == cold(q), s"$q changed after clear"))
    Memo.clearAll()
  }
}
