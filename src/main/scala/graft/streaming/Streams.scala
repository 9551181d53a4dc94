package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming shells (SURVEY.md §2h T1–T8): the same `graft.ops` functions
  * wired with watermarks, windows, stream-stream joins, dedup-within-
  * watermark, and foreachBatch sinks.
  *
  * Source-agnostic: callers pass any streaming DataFrame (Kafka
  * `readStream` in production — value parsed with `from_json`; MemoryStream
  * or file streams in tests). Nothing here knows about topics or paths.
  */
object Streams {

  /** T1+A1/A2 — watermarked tumbling-window aggregate, append-mode-safe.
    * Watermark 15s mirrors the reference's SQL sources (SQLUtil.java:40);
    * the finisher stamps stt/edt/cur_date like the Doris rows. */
  def windowedTypeCounts(events: DataFrame, window_dur: String = "10 seconds",
      watermark: String = "15 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_dur), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        date_format(col("window.start"), "yyyy-MM-dd").as("cur_date"),
        col("event_type"), col("cnt"), col("sum_v"))

  /** T8/S6 — dedup within watermark: drop re-delivered ids (the
    * upsert-kafka last-write-wins analogue for at-least-once upstreams). */
  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "30 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** J3 streaming — stream-stream interval join: purchases matched to
    * signups of the same user within [ts - 15 min, ts]. Both sides
    * watermarked so join state is bounded
    * (DwdTradeOrderPaySucDetail.java:66-88). */
  def intervalJoin(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", "30 seconds")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user_id"),
        col("ts").as("s_ts"))
    p.join(s,
      col("user_id") === col("s_user_id") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 15 MINUTES") &&
      col("s_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
  }

  /** J2 streaming — stream-stream LEFT OUTER interval join: matched rows
    * emit immediately; unmatched left rows emit null-padded once the
    * watermark passes their join window (Spark's append-mode answer to the
    * reference's retraction stream, DwdTradeOrderDetail.java:91-115 +
    * SURVEY §7 risk list). */
  def intervalLeftJoin(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", "30 seconds")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user_id"),
        col("ts").as("s_ts"))
    p.join(s,
      col("user_id") === col("s_user_id") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 15 MINUTES") &&
      col("s_ts") <= col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
  }

  /** J4 streaming — stream-static broadcast lookup join: the static dim
    * side is re-planned every micro-batch, superseding the reference's
    * partial lookup cache (BaseSQLApp.java:78-83). */
  def lookupJoin(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(broadcast(dim),
      pmod(col("user_id"), lit(5)) === col("r_regionkey"), "left")

  /** DwsTradePaymentSucWindow streaming shell
    * (DwsTradePaymentSucWindow.java:72-119): the pay-suc detail feed
    * (stream-stream interval join, purchase side kept whole) chained into
    * the keyed last-pay-date state. A purchase matching several signups is
    * fanned out by the join but absorbed by the state — no double count. */
  def paySucUuNew(purchases: DataFrame,
      signups: DataFrame): org.apache.spark.sql.Dataset[Stateful.UuNew] = {
    val spark = purchases.sparkSession
    import spark.implicits._
    val p = purchases.withWatermark("ts", "30 seconds")
    val s = signups.withWatermark("ts", "30 seconds")
      .select(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
    val paySuc = p.join(s,
      col("user_id") === col("s_user_id") &&
      col("s_ts") >= col("ts") - expr("INTERVAL 15 MINUTES") &&
      col("s_ts") <= col("ts"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    Stateful.uuNewEmits(paySuc.as[Stateful.Event])
  }

  /** DwsTradeTrademarkCategoryUserRefundWindow streaming shell
    * (DwsTradeTrademarkCategoryUserRefundWindow.java:65-189): refund stream
    * through the broadcast dim chain, EXACT distinct order count via the
    * set-merge Aggregator. Complete output mode — the reference emits the
    * running per-key refund set size each window. */
  def refundWindow(returns: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame =
    returns
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("c_custkey"), col("n_name"), col("r_name"))
      .agg(
        graft.functions.DistinctSetAgg
          .distinctSetCount(col("l_orderkey")).as("refund_order_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("refund_amount"))

  /** S5/X3 — dynamic-topic router sink via foreachBatch: one parse, N
    * outputs per micro-batch; destination derived per-row from the routing
    * config (FlinkSinkUtil.java:38-52 + DwdBaseDb.java:96-135). Config is
    * re-read per batch — config changes apply at batch granularity
    * (accepted semantic difference, SURVEY §7). */
  def routedSink(events: DataFrame, config: () => DataFrame,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val routed = graft.ops.Splits.routeByConfig(batch, config()).cache()
        try {
          val topics = routed.select("sink_topic").distinct()
            .collect().map(_.getString(0))
          topics.foreach { t =>
            routed.where(col("sink_topic") === t)
              .drop("sink_topic")
              .write.mode("append").parquet(s"$outDir/$t")
          }
        } finally routed.unpersist()
    }

  /** Write `df` to `targetDir` via a tmp-dir + rename swap: the write
    * materializes into `targetDir + "_tmp"` (which also forces any read
    * of the CURRENT target inside `df`'s plan to complete first), the
    * previous generation moves to `targetDir + "_old"`, and the tmp dir
    * renames into place. Metadata-only ops on a local/HDFS-like fs, so
    * the absent-target window is tiny; callers that must survive a crash
    * INSIDE that window recover by falling back to the `_old` dir (see
    * `readStateWithRecovery`). A real deployment would use a table
    * format's atomic commit; this is the closest a bare dir gets. */
  private def swapIntoPlace(df: DataFrame, targetDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(targetDir).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val tmp = new org.apache.hadoop.fs.Path(targetDir + "_tmp")
    val bak = new org.apache.hadoop.fs.Path(targetDir + "_old")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    // Hadoop rename returns false instead of throwing on many failures;
    // an unchecked false here followed by the bak delete would destroy
    // the ONLY remaining copy — fail loudly and keep the backup instead
    if (fs.exists(target))
      require(fs.rename(target, bak), s"rename $target -> $bak failed")
    require(fs.rename(tmp, target),
      s"rename $tmp -> $target failed; previous state preserved at $bak")
    fs.delete(bak, true)
  }

  /** Read a swap-managed state dir, recovering from the `_old` backup if
    * a crash landed between the two renames of `swapIntoPlace` (target
    * absent, backup present) — state history survives the swap window.
    * The schema comes from one part file's footer on the driver
    * (`Tables.footerSchema`): schema inference would run a Spark job on
    * every read, and a swapped dir is flat, one write, one schema. */
  private def readStateWithRecovery(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] = {
    val target = new org.apache.hadoop.fs.Path(stateDir)
    val bak = new org.apache.hadoop.fs.Path(stateDir + "_old")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(bak)) fs.rename(bak, target)
    if (!fs.exists(target)) None
    else Some(spark.read.schema(graft.Tables.footerSchema(spark, stateDir))
      .parquet(stateDir))
  }

  /** Streaming heavy hitters with BOUNDED state — the one-pass stream
    * twin of `Sketches.cmsTopKeys`/`verifiedTopKeys`: each micro-batch
    * reduces to the exact counts of its own Misra-Gries candidate union
    * (<= partitions x m rows however large the batch), which merge into
    * a persisted summary table via the mergeable-MG rule (Agarwal et al.
    * 2012: sum counters, then subtract the (m+1)-th largest and drop the
    * non-positive). The state NEVER exceeds `m` keys no matter how
    * unbounded the stream's key universe is, and every stored count
    * undercounts its true frequency by at most N/(m+1) — so any key
    * with true share above that floor is guaranteed present, the same
    * completeness contract the batch operator documents. The driver-side
    * combine touches <= (partitions + 1) x m entries — bounded by
    * CONFIG, not data, which is why the collect IS the scale design
    * (MG's whole point is an O(m)-per-summary sketch); size m against
    * the batch partition count accordingly.
    *
    * Replay-safe: foreachBatch is at-least-once, and an additive merge
    * is NOT naturally idempotent (a replayed batch would double-count,
    * breaking the undercount-only contract), so the state records the
    * last applied batchId and a replay of it becomes a no-op. A crash
    * between the state-swap renames recovers from the `_old` generation
    * (`readStateWithRecovery`). */
  def heavyHittersSink(keys: DataFrame, stateDir: String,
      m: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    keys.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeHeavyHitters(batch, batchId, stateDir, m)
    }

  /** Shared scaffold of the bounded-state driver-merge sinks
    * ([[mergeHeavyHitters]], [[mergeDrift]], [[mergeJs]]): ONE collect
    * serves both the replay guard and the merge (every such state is
    * config-bounded by construction). A missing `bid` column (a state
    * dir written before the replay guard existed) or an empty state
    * reads as lastBid = -1 rather than failing analysis. Skips are
    * logged because a skip has two causes with very different meanings:
    * a genuine at-least-once replay (batchId == lastBid, expected) vs a
    * RESET CHECKPOINT pointed at an old state dir (batchId restarts at
    * 0 << lastBid — every batch would be silently dropped; reset
    * stateDir together with the checkpoint). An empty-state write
    * forgets lastBid; the subsequent replay then re-merges one batch
    * into empty state — undercount-only for MG, duplicate-output-only
    * for the drift monitors (state itself had nothing to double-count).
    * Returns None when `batchId` is already committed (the caller must
    * skip), Some((key, cnt) rows) otherwise. */
  private def guardedMergeState(spark: SparkSession, stateDir: String,
      batchId: Long, keyCol: Column, sink: String)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val rows = readStateWithRecovery(spark, stateDir).map { df =>
      val hasBid = df.columns.contains("bid")
      df.select(keyCol, col("cnt"),
          if (hasBid) col("bid") else lit(-1L).as("bid"))
        .collect()
    }.getOrElse(Array.empty)
    val lastBid = if (rows.isEmpty) -1L else rows.map(_.getLong(2)).max
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$sink: skipping batch $batchId (state at $lastBid)" +
          " — replay no-op, or a reset checkpoint against old state")
      None
    } else Some(rows)
  }

  /** The per-batch body of `heavyHittersSink`, package-visible so the
    * replay guard and swap-window recovery are directly testable. */
  private[graft] def mergeHeavyHitters(batch: DataFrame, batchId: Long,
      stateDir: String, m: Int): Unit = {
    val spark = batch.sparkSession
    val keyCol = batch.columns.head
    val guarded = guardedMergeState(spark, stateDir, batchId,
      col("key"), "heavyHittersSink")
    if (guarded.nonEmpty) { // at-least-once replay -> no-op
      val stateRows: Array[(String, Long)] =
        guarded.get.map(r => (r.getString(0), r.getLong(1)))
      // bounded batch summary: exact batch counts of the batch's own
      // MG candidate union (semi-join against <= partitions x m keys)
      val cand = graft.ops.Sketches.mgCandidates(batch, keyCol, m)
        .select(col(keyCol).cast("string").as("key")).distinct()
      val bcounts = batch.select(col(keyCol).cast("string").as("key"))
        .join(broadcast(cand), Seq("key"), "left_semi")
        .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      // mergeable-MG combine over <= (partitions + 1) x m entries
      val summed = scala.collection.mutable.HashMap[String, Long]()
      (stateRows ++ bcounts).foreach { case (k, c) =>
        summed(k) = summed.getOrElse(k, 0L) + c
      }
      val merged =
        if (summed.size <= m) summed.toArray
        else {
          val cut = summed.values.toArray.sorted(
            Ordering[Long].reverse).apply(m) // (m+1)-th largest
          summed.iterator.map { case (k, c) => k -> (c - cut) }
            .filter(_._2 > 0L).toArray
        }
      import spark.implicits._
      swapIntoPlace(
        merged.toSeq.map { case (k, c) => (k, c, batchId) }
          .toDF("key", "cnt", "bid").repartition(1),
        stateDir)
    }
  }

  /** Streaming distribution-drift monitor — the stream twin of
    * `DataQuality.psi`: the state accumulates the CURRENT drop's bin
    * histogram across micro-batches (bounded at nBins rows forever, the
    * dq/sketch family's bounded-state contract), and every batch emits
    * one (bid, psi@6dp) row scoring the accumulated stream against a
    * static REFERENCE histogram — the alarm a training-data ingest
    * raises the moment the live feed drifts from the corpus it was
    * admitted against. Binning and Laplace smoothing mirror
    * `DataQuality.psi` exactly (spec-asserted parity: the monitor's psi
    * after N batches equals the batch operator run over everything
    * streamed), and the per-term 6dp rounding matches too, so batch and
    * stream report the same number.
    *
    * Replay-safe like `heavyHittersSink`: a replayed batchId is a state
    * no-op. The psi OUTPUT is appended BEFORE the state swap, so a crash
    * between the two replays the batch and may duplicate an output row
    * (same bid, same psi) — at-least-once output, exactly-once state;
    * consumers dedup on bid. Crash inside the swap window recovers from
    * `_old` (`readStateWithRecovery`). */
  def driftSink(values: DataFrame, refCounts: Map[Long, Long], nBins: Int,
      lo: Double, hi: Double, stateDir: String, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    values.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeDrift(batch, batchId, refCounts, nBins, lo, hi, stateDir,
          outDir)
    }

  /** The per-batch body of `driftSink`, package-visible so the replay
    * guard, swap recovery, and batch-parity are directly testable. */
  private[graft] def mergeDrift(batch: DataFrame, batchId: Long,
      refCounts: Map[Long, Long], nBins: Int, lo: Double, hi: Double,
      stateDir: String, outDir: String): Unit = {
    // a reference key outside [0, nBins) would inflate tRef while never
    // contributing a term, silently under-reporting psi and breaking
    // the documented parity with DataQuality.psi — fail loudly instead
    // (the batch operator clamps at BINNING time; a refCounts histogram
    // must already be clamped the same way)
    require(refCounts.keys.forall(b => b >= 0L && b < nBins),
      s"refCounts keys must lie in [0, $nBins): got " +
        refCounts.keys.filterNot(b => b >= 0L && b < nBins).mkString(","))
    val spark = batch.sparkSession
    val valueCol = batch.columns.head
    val guarded = guardedMergeState(spark, stateDir, batchId,
      col("bin"), "driftSink")
    if (guarded.isEmpty) return
    val stateRows: Array[(Long, Long)] =
      guarded.get.map(r => (r.getLong(0), r.getLong(1)))
    val width = (hi - lo) / nBins
    // the batch reduces to <= nBins rows before the collect — bounded
    // by CONFIG like the MG sink, however large the batch
    val bcounts = batch
      .where(col(valueCol).isNotNull)
      .select(least(greatest(floor((col(valueCol) - lo) / width),
        lit(0L)), lit(nBins - 1L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val merged = scala.collection.mutable.HashMap[Long, Long]()
    stateRows.foreach { case (b, c) => merged(b) = c }
    bcounts.foreach { case (b, c) =>
      merged(b) = merged.getOrElse(b, 0L) + c
    }
    // driver arithmetic over nBins entries — the same smoothed terms,
    // 6dp-rounded per bin, that DataQuality.psi emits
    val tRef = refCounts.values.sum.toDouble
    val tCur = merged.values.sum.toDouble
    val psi = (0L until nBins.toLong).map { b =>
      val pr = (refCounts.getOrElse(b, 0L) + 1.0) / (tRef + nBins)
      val pc = (merged.getOrElse(b, 0L) + 1.0) / (tCur + nBins)
      BigDecimal((pr - pc) * math.log(pr / pc))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sum
    import spark.implicits._
    // output first: a crash before the state swap replays this batch,
    // duplicating (bid, psi) rather than losing it — see scaladoc
    Seq((batchId, psi)).toDF("bid", "psi")
      .write.mode("append").parquet(outDir)
    swapIntoPlace(
      merged.toSeq.map { case (b, c) => (b, c, batchId) }
        .toDF("bin", "cnt", "bid").repartition(1),
      stateDir)
  }

  /** Categorical drift monitor — the `DataQuality.jsDivergence` twin of
    * [[driftSink]], completing the streamed drift family (scalar psi,
    * categorical JSD, embedding W1): category values arrive on a
    * stream, state accumulates per-category counts (bounded
    * STRUCTURALLY: the merge refuses batches once the observed
    * cardinality exceeds `maxCats` — the MG-sink discipline, a hard
    * `require` instead of a documented hope), and every
    * batch emits one (bid, js@6dp) row scoring the accumulated stream
    * against a static reference histogram. Arithmetic mirrors the batch
    * operator exactly — K = |ref support ∪ stream support|, Laplace
    * (n+1)/(N+K), per-term 6dp rounding — so after N batches the
    * monitor's value equals the batch JSD over (reference ∪ everything
    * streamed), terms summed (spec-pinned). NULL categories are
    * excluded like the batch op. Same replay/crash contract as
    * [[driftSink]]: replayed bids are state no-ops, output is
    * at-least-once keyed by bid. */
  def jsSink(values: DataFrame, refCounts: Map[String, Long],
      stateDir: String, outDir: String, maxCats: Int = 65536)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    values.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeJs(batch, batchId, refCounts, stateDir, outDir, maxCats)
    }

  /** The per-batch body of [[jsSink]] (spec entry point). */
  private[graft] def mergeJs(batch: DataFrame, batchId: Long,
      refCounts: Map[String, Long], stateDir: String,
      outDir: String, maxCats: Int = 65536): Unit = {
    // a zero-count reference key would inflate K (the batch operator's
    // K counts only OBSERVED categories) and silently skew every term —
    // fail loudly instead, the mergeDrift refCounts discipline
    require(refCounts.values.forall(_ > 0L),
      "refCounts must carry only observed (count > 0) categories: got " +
        refCounts.filter(_._2 <= 0L).keys.mkString(","))
    val spark = batch.sparkSession
    val catCol = batch.columns.head
    val guarded = guardedMergeState(spark, stateDir, batchId,
      col("cat"), "jsSink")
    if (guarded.isEmpty) return
    val stateRows: Array[(String, Long)] =
      guarded.get.map(r => (r.getString(0), r.getLong(1)))
    // the batch reduces to <= |categories| rows before the collect;
    // cast to string like the MG sink so an int-coded categorical
    // stream monitors instead of class-cast-crashing the query (the
    // batch twin groups on the raw type — values map 1:1, JSD agrees)
    val bcounts = batch
      .where(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("cat"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val merged = scala.collection.mutable.HashMap[String, Long]()
    stateRows.foreach { case (c, n) => merged(c) = n }
    bcounts.foreach { case (c, n) =>
      merged(c) = merged.getOrElse(c, 0L) + n
    }
    // STRUCTURAL state bound (the MG-sink discipline): the driver-side
    // merge is only legitimate while the observed cardinality stays
    // config-scale — a high-cardinality column pointed at this sink
    // (user ids, free text) must fail loudly at the cap, not OOM the
    // driver batches later. A genuine >maxCats categorical wants a
    // re-keyed stream (bucketed categories) or a bigger explicit cap.
    require(merged.size <= maxCats,
      s"jsSink state holds ${merged.size} categories > maxCats=$maxCats" +
        " — this column is not config-cardinality; re-key the stream" +
        " or raise maxCats explicitly")
    // driver arithmetic over the observed categories — the same
    // smoothed terms, 6dp-rounded each, that DataQuality.jsDivergence
    // emits over the union frame. Terms sum in SORTED category order:
    // Set iteration order is runtime-dependent, and an at-least-once
    // replay on a different JVM must append a bit-identical output row
    // (the replayed-rows-identical convention the sink specs pin).
    val cats = refCounts.keySet ++ merged.keySet
    val k = cats.size.toDouble
    val tRef = refCounts.values.sum.toDouble
    val tCur = merged.values.sum.toDouble
    val js = cats.toSeq.sorted.map { c =>
      val p = (refCounts.getOrElse(c, 0L) + 1.0) / (tRef + k)
      val q = (merged.getOrElse(c, 0L) + 1.0) / (tCur + k)
      val m = (p + q) / 2
      BigDecimal(0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sum
    import spark.implicits._
    // output first: at-least-once output, exactly-once state
    Seq((batchId, js)).toDF("bid", "js")
      .write.mode("append").parquet(outDir)
    swapIntoPlace(
      merged.toSeq.map { case (c, n) => (c, n, batchId) }
        .toDF("cat", "cnt", "bid").repartition(1),
      stateDir)
  }

  /** Per-dimension W1 drift monitor — the EMBEDDING twin of
    * [[driftSink]]: vectors arrive on a stream, and every micro-batch
    * emits (bid, dim, n_ref, n_cur, w1) scoring the ACCUMULATED stream
    * against a static reference embedding set (precomputed once per
    * stream into per-(dim, qx) counts on the same 1e-6 grid as
    * `DataQuality.embeddingW1` — the monitor's batch twin, parity
    * spec-pinned). Unlike the nBins-bounded scalar sink, nothing here
    * collects to the driver: state is the accumulated (dim, qx, cnt)
    * count frame, kept as a swap-managed parquet partition and merged
    * DISTRIBUTEDLY each batch — its size is bounded by dims × the 1e-6
    * support (≤ 2e6 + 1 rows per dim for unit-range components),
    * config-scale at any corpus size.
    *
    * Replay/crash contract: the state rows carry the writing batch's
    * bid, so guard and state swap ATOMICALLY (a crash between an output
    * append and the state swap replays the batch — duplicating the
    * (bid, dim) output rows, never double-counting state; consumers
    * dedup on bid, the [[driftSink]] contract).
    *
    * Documented trade-off: each batch REWRITES the accumulated count
    * frame (one swap of a config-bounded partition). That is the right
    * shape while support × dims stays modest; a very-high-frequency
    * ingest at the full 2e6-support ceiling wants [[w1DeltaSink]]
    * instead — bid-partitioned count deltas + `compactIngestIndex`,
    * bounded per-batch writes at the cost of a merge at scoring time
    * (parity between the two forms is spec-pinned). */
  def w1Sink(vectors: DataFrame, refEmbeddings: DataFrame,
      stateDir: String, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val refCounts = graft.ops.DataQuality
      .quantizedComponents(refEmbeddings.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("n_ref"))
      .localCheckpoint()
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeW1(batch, batchId, refCounts, stateDir, outDir)
    }
  }

  /** The per-batch body of [[w1Sink]] (spec entry point). */
  private[graft] def mergeW1(batch: DataFrame, batchId: Long,
      refCounts: DataFrame, stateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val state = readStateWithRecovery(spark, stateDir)
    // bid is CONSTANT across the state rows (swapIntoPlace stamps
    // lit(batchId)), so one row answers the guard — never a max() over
    // the full dims x support frame
    val lastBid = state.map {
      _.select(col("bid")).limit(1).collect()
        .headOption.map(_.getLong(0)).getOrElse(-1L)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"w1Sink: skipping batch $batchId (state at $lastBid) — " +
          "replay of a committed batch is a no-op")
      return
    }
    val bcounts = graft.ops.DataQuality
      .quantizedComponents(batch.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("cnt"))
    // merge is a distributed groupBy over (old state ∪ batch counts);
    // localCheckpoint materializes it BEFORE the swap overwrites the
    // very directory the old-state leg is lazily reading
    val merged = state.map(_.select(col("dim"), col("qx"), col("cnt"))
        .unionByName(bcounts)).getOrElse(bcounts)
      .groupBy(col("dim"), col("qx")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    val joined = refCounts
      .join(merged, Seq("dim", "qx"), "full_outer")
      .select(col("dim"), col("qx"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("cnt"), lit(0L)).as("n_cur"))
    // output BEFORE the state swap: at-least-once output, exactly-once
    // state (see scaladoc)
    graft.ops.DataQuality.w1FromCounts(joined)
      .withColumn("bid", lit(batchId))
      .write.mode("append").parquet(outDir)
    swapIntoPlace(merged.withColumn("bid", lit(batchId)), stateDir)
  }

  /** The INGEST-INDEX form of [[w1Sink]] — the documented escape hatch
    * for a very-high-frequency ingest at full quantization support:
    * instead of REWRITING the accumulated (dim, qx, cnt) frame every
    * micro-batch, each batch writes only its OWN quantized counts as a
    * bid-partitioned delta (`stateDir/delta/bid=N`, per-bid idempotent
    * overwrite — the `dedupIngestSink` layout), and the scoring read
    * merges the COMMITTED deltas at (dim, qx) grain. The per-batch
    * WRITE is bounded by the batch's own support (spec-pinned), not the
    * accumulated support; the merge moves to scoring time, and a
    * long-lived ingest runs [[compactIngestIndex]] over the delta dir
    * between batches to keep the listing flat (parity across compaction
    * is spec-pinned too — committed rows are bid-stable).
    *
    * Output and replay contracts match [[w1Sink]] exactly: one
    * (bid, dim, n_ref, n_cur, w1) row set per batch appended BEFORE the
    * frontier commit — at-least-once output keyed by bid, exactly-once
    * state; a replayed bid is a no-op; a crash mid-stage leaves an
    * orphan delta partition no reader ever lists. Parity with the
    * rewrite form after N batches is spec-pinned. */
  def w1DeltaSink(vectors: DataFrame, refEmbeddings: DataFrame,
      stateDir: String, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val refCounts = graft.ops.DataQuality
      .quantizedComponents(refEmbeddings.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("n_ref"))
      .localCheckpoint()
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeW1Delta(batch, batchId, refCounts, stateDir, outDir)
    }
  }

  /** The per-batch body of [[w1DeltaSink]] (spec entry point). */
  private[graft] def mergeW1Delta(batch: DataFrame, batchId: Long,
      refCounts: DataFrame, stateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val frontierDir = s"$stateDir/frontier"
    val deltaDir = s"$stateDir/delta"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"w1DeltaSink: skipping batch $batchId (frontier at $lastBid) — " +
          "replay of a committed batch is a no-op")
      return
    }
    // the batch's OWN support only — the bounded per-batch write; the
    // localCheckpoint materializes it once for the delta write AND the
    // scoring union below (and keeps the delta-dir read below from
    // lazily racing the write)
    val bcounts = graft.ops.DataQuality
      .quantizedComponents(batch.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    bcounts.write.mode("overwrite").parquet(s"$deltaDir/bid=$batchId")
    // scoring merge: committed deltas (<= frontier; crash orphans
    // invisible) + this batch — distributed groupBy, nothing driver-side
    val merged = committedBidParquet(spark, deltaDir, lastBid)
      .map(_.select(col("dim"), col("qx"), col("cnt"))
        .unionByName(bcounts))
      .getOrElse(bcounts)
      .groupBy(col("dim"), col("qx")).agg(sum(col("cnt")).as("cnt"))
    val joined = refCounts
      .join(merged, Seq("dim", "qx"), "full_outer")
      .select(col("dim"), col("qx"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("cnt"), lit(0L)).as("n_cur"))
    // output BEFORE the frontier commit: at-least-once output keyed by
    // bid, exactly-once state (the [[w1Sink]] contract)
    graft.ops.DataQuality.w1FromCounts(joined)
      .withColumn("bid", lit(batchId))
      .write.mode("append").parquet(outDir)
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
  }

  /** T3 — streaming session windows: per-user sessions with an
    * inactivity gap, the native `session_window` run in streaming mode
    * (state = open sessions per user, merged as late-but-in-watermark
    * events extend them; closed by watermark passage). Column shape
    * matches `Aggs.userSessions` so the batch twin is a direct compare. */
  def sessionizedCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "15 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("user_id"), col("n_events"))

  /** Streaming quantiles with BOUNDED state — the stream twin of
    * `Sketches.sampledQuantiles`, and the operational proof of the
    * bottom-k sketch's mergeability: the state is the per-group bottom-k
    * content-hash sample (≤ k rows per group — bounded by CONFIG however
    * large the stream), each micro-batch's own bottom-k merges in by the
    * k-min rule (the k smallest of a union of bottom-k sets IS the global
    * bottom-k set), and the per-batch output is the nearest-rank estimate
    * over the state — BY CONSTRUCTION equal to running the batch operator
    * over everything streamed so far (the parity spec asserts exact
    * equality, not tolerance). Content-hash selection also makes the
    * sample stable under replays of the same keys.
    *
    * Replay-safe like the MG/drift sinks: the state stores the last
    * applied batchId and a replayed batch is a no-op. Output is appended
    * BEFORE the state swap — at-least-once output keyed by `bid`,
    * exactly-once state; a crash inside the swap window recovers from
    * `_old` (`readStateWithRecovery`). */
  def quantileSink(rows: DataFrame, groupCols: Seq[String], valueCol: String,
      keyCol: String, k: Int, qs: Seq[Double], stateDir: String,
      outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeQuantiles(batch, batchId, groupCols, valueCol, keyCol, k, qs,
          stateDir, outDir)
    }

  /** The per-batch body of `quantileSink`, package-visible so replay,
    * recovery, and batch-parity are directly testable. */
  private[graft] def mergeQuantiles(batch: DataFrame, batchId: Long,
      groupCols: Seq[String], valueCol: String, keyCol: String, k: Int,
      qs: Seq[Double], stateDir: String, outDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val grp = groupCols.map(col)
    val state = readStateWithRecovery(spark, stateDir)
    val lastBid = state.map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"quantileSink: skipping batch $batchId (state at $lastBid)" +
          " — replay no-op, or a reset checkpoint against old state")
      return
    }
    val keep = groupCols ++ Seq(keyCol, valueCol)
    val batchK = graft.ops.Sketches
      .bottomKSample(batch.where(col(valueCol).isNotNull), groupCols,
        keyCol, k)
      .select(keep.map(col): _*)
    val unioned = state match {
      case Some(st) => st.select(keep.map(col): _*).unionByName(batchK)
      case None     => batchK
    }
    // defensive key-dedup (keys are unique by contract — event ids — but
    // a duplicate must not double-fill the sketch): deterministic keeper
    val wKey = Window.partitionBy((groupCols :+ keyCol).map(col): _*)
      .orderBy(col(valueCol))
    val merged = unioned
      .withColumn("_kr", row_number().over(wKey)).where(col("_kr") === 1)
      .drop("_kr")
    // k-min merge: re-apply bottom-k over the union — ≤ 2k rows per
    // group enter this window
    val kept = graft.ops.Sketches
      .bottomKSample(merged, groupCols, keyCol, k)
      .select(keep.map(col): _*)
      .localCheckpoint() // materialize before the swap renames old state
    // output first (at-least-once, bid-keyed): the estimate path is the
    // BATCH OPERATOR itself, so stream == batch by construction
    graft.ops.Sketches
      .sampledQuantiles(kept, groupCols, valueCol, keyCol, k, qs)
      .withColumn("bid", lit(batchId))
      .write.mode("append").parquet(outDir)
    swapIntoPlace(kept.withColumn("bid", lit(batchId)).repartition(1),
      stateDir)
  }

  /** Streaming corpus ingestion with incremental dedup — the ops the
    * LLM-pipeline families run OFFLINE (d1 exact, d2 Jaccard, d10
    * incremental), run ONLINE as a crawl feed arrives: each micro-batch
    * is classified against the accepted corpus so far plus lower-id batch
    * peers, keepers append to the corpus, and every decision (keep /
    * exact_dup / near_dup, with the partner) lands in the audit output
    * keyed by `bid`.
    *
    * PER-BATCH COST IS BATCH-PROPORTIONAL: the corpus side is never
    * re-read as text — classification runs against the DURABLE dedup
    * index (`Dedup.writeDedupIndex` layout: fingerprints + hashed
    * shingle postings under `stateDir/index`), and each batch appends
    * only its own accepted docs' postings. The corpus text itself
    * (`stateDir/corpus`) is append-only too; nothing is rewritten.
    * (The first version of this sink re-shingled the whole corpus per
    * batch — O(corpus); this is the form that survives 100 TB.)
    *
    * Crash/replay contract — every write is IDEMPOTENT PER BID (each
    * batch owns a `bid=N` hive partition, overwritten on replay) and
    * the COMMIT POINT is a one-row FRONTIER MARKER written last
    * (`stateDir/frontier`, swap-managed): the replay guard reads that
    * marker in O(1) — never a corpus scan, so the per-micro-batch
    * metadata cost stays flat as the corpus grows to 100 TB (a corpus
    * max(bid) scan runs only as a fallback when the marker is absent —
    * first run or a pre-marker state dir). A crash ANYWHERE before the
    * marker swap replays the batch and overwrites its own partitions
    * bit-for-bit (classification is deterministic and reads the index
    * at `bid <= frontier`, which partition-prunes orphans away); a
    * crash inside the marker swap recovers via `readStateWithRecovery`.
    * Audit output is exactly-once per bid for the same reason. Strict
    * corpus readers should filter `bid <= frontier` to exclude the
    * not-yet-committed partition a mid-crash leaves behind.
    *
    * Semantics are GREEDY-ONLINE, not d6's global transitive closure:
    * the first arrival of a dup family is kept and later members drop
    * against it, but a chain A~B, B~C, A≁C admits C (its partner B was
    * never admitted) — the honest contract of ingestion that never
    * re-deduplicates the corpus, and exactly the loop the parity spec
    * replays with the batch operator. */
  def dedupIngestSink(docs: DataFrame, stateDir: String, outDir: String,
      n: Int = 3, threshold: Double = 0.5, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeDedupIngest(batch, batchId, stateDir, outDir, n, threshold,
          compactEvery)
    }

  /** The per-batch body of `dedupIngestSink`, package-visible for the
    * parity/replay/recovery specs. `compactEvery` > 0 runs
    * [[compactDedupIngestState]] inline after every such-many committed
    * batches — safe under the single-writer contract because
    * foreachBatch IS the only writer and batches are serial, so a
    * long-lived ingest stays under the small-files bound without an
    * external maintenance job. */
  private[graft] def mergeDedupIngest(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, n: Int, threshold: Double,
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val corpusDir = s"$stateDir/corpus"
    val fpDir = s"$stateDir/index/fp"
    val shDir = s"$stateDir/index/shingles"
    val frontierDir = s"$stateDir/frontier"
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def exists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))
    // O(1) committed frontier: the one-row marker the commit wrote. The
    // full corpus max(bid) scan runs ONLY when the marker is absent
    // (first run, or a state dir from before the marker existed) — at
    // 100 TB of accumulated corpus the per-micro-batch guard must not
    // pay a corpus-proportional file listing
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse {
      if (!exists(corpusDir)) -1L
      else {
        val r = spark.read.parquet(corpusDir)
          .select(max(col("bid").cast("long"))).head
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    }
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupIngestSink: skipping batch $batchId (frontier at $lastBid)" +
          " — replay no-op, or a reset checkpoint against old state")
      return
    }
    val docCols = Seq("doc_id", "text")
    val batchDocs = batch.select(docCols.map(col): _*)
    // the batch owns its checkpoints: released when it ends, so nothing
    // of one batch stays pinned, and no memo or concurrent session's
    // substrate is touched
    graft.ops.Memo.scoped { own =>
      // index slices at the COMMITTED frontier: orphan partitions from a
      // crash after the index write carry bid > lastBid and are pruned
      // away here (bid is a hive partition column of the index layout)
      val (corpusFp, corpusSh) =
        if (lastBid < 0L)
          (batchDocs.select(col("doc_id").as("partner"),
            lit("").as("fp")).where(lit(false)),
            batchDocs.select(col("doc_id"), lit(0L).as("shingle"))
              .where(lit(false)))
        else
          (spark.read.parquet(fpDir)
            .where(col("bid").cast("long") <= lastBid)
            .select(col("doc_id").as("partner"), col("fp")),
            spark.read.parquet(shDir)
              .where(col("bid").cast("long") <= lastBid)
              .select(col("doc_id"), col("shingle")))
      val decisions = own(graft.ops.Dedup
        .incrementalDedupAgainst(corpusFp, corpusSh, batchDocs, n,
          threshold)
        .localCheckpoint()) // one computation feeds audit + accept + index
      // every write below owns the batch's bid=N partition and overwrites
      // it — deterministic classification makes the replay bit-identical
      decisions.write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
      val accepted = own(batchDocs
        .join(decisions.where(col("decision") === "keep")
          .select(col("doc_id")), "doc_id")
        .localCheckpoint()) // reused by two index writes + the corpus
      graft.ops.Dedup.appendDedupIndex(accepted, fpDir, shDir, batchId, n)
      accepted.write.mode("overwrite").parquet(s"$corpusDir/bid=$batchId")
      // COMMIT: the frontier marker makes everything above visible
      import spark.implicits._
      swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
      // post-commit maintenance: everything just written is committed,
      // so compaction sees the full row set and replays stay no-ops
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        compactDedupIngestState(spark, stateDir)
    }
  }

  /** Streaming MEDIA ingestion with incremental perceptual dedup — the
    * d21 image near-dup engine run ONLINE as media arrives, the
    * multimodal sibling of [[dedupIngestSink]]: each micro-batch's
    * payloads are dHashed (`Multimodal.phash` — audio and corrupt
    * payloads carry no hash and always pass), classified against the
    * DURABLE signature index plus lower-id batch peers, and every
    * decision (keep / near_dup with partner + hamming) lands in the
    * audit output keyed by `bid`; accepted images' signatures append to
    * the index.
    *
    * PER-BATCH COST IS BATCH-PROPORTIONAL: the index is (doc_id, phash)
    * rows only — payload bytes are never re-read — and the banded
    * Hamming join (maxHamming+1 near-equal bands over the 56 bits, the
    * d21 layout) probes it with batch-sized band keys. Same crash/replay
    * contract as `dedupIngestSink`: every write is idempotent per bid
    * (hive `bid=N` partitions, overwritten on replay), the commit point
    * is the one-row frontier marker written last, the classification
    * reads the index at `bid <= frontier` (orphans partition-prune
    * away), and the replay guard is O(1). Greedy-online semantics, same
    * documented contract as the text sink: the first arrival of a dup
    * family keeps, later members drop against the earliest committed or
    * lower-id in-batch partner; the corpus is never re-deduplicated. */
  def phashIngestSink(media: DataFrame, stateDir: String, outDir: String,
      maxHamming: Int = 3, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergePhashIngest(batch, batchId, stateDir, outDir, maxHamming,
          compactEvery)
    }

  /** The streaming AUDIO twin of [[phashIngestSink]]: the SAME durable
    * index / frontier / replay machinery (one generic body below) over
    * `Multimodal.audioHash`'s 31-bit energy-envelope signatures and the
    * d23 band layout — WAV clips dedup greedily online, image and
    * unparseable payloads pass through as keepers. One engine, pluggable
    * per-modality signature: the batch twin relationship is d21/d23's. */
  def audioIngestSink(media: DataFrame, stateDir: String, outDir: String,
      maxHamming: Int = 2, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeAudioIngest(batch, batchId, stateDir, outDir, maxHamming,
          compactEvery)
    }

  /** The per-batch body of `phashIngestSink`, package-visible for the
    * decision/replay/orphan specs. */
  private[graft] def mergePhashIngest(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, maxHamming: Int,
      compactEvery: Int = 0): Unit =
    // phashCompute, NOT the session-memoized phash: each micro-batch's
    // plan is unique, so the memo could never hit — it would only pin a
    // new persisted frame per batch per leg and pay an extra count()
    // job (the exact leak mergeMediaContamination's *Compute forms
    // guard against; ADVICE round-18)
    mergeMediaIngest(batch, batchId, stateDir, outDir, maxHamming,
      bits = 56, sigCol = "phash",
      sigOf = graft.ops.Multimodal.phashCompute,
      compactEvery = compactEvery)

  /** The per-batch body of `audioIngestSink` (spec entry point). */
  private[graft] def mergeAudioIngest(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, maxHamming: Int,
      compactEvery: Int = 0): Unit =
    // audioHashCompute, not the memoized audioHash — see mergePhashIngest
    mergeMediaIngest(batch, batchId, stateDir, outDir, maxHamming,
      bits = 31, sigCol = "ahash",
      sigOf = graft.ops.Multimodal.audioHashCompute,
      compactEvery = compactEvery)

  /** The generic per-batch media-ingest body: `sigOf` maps a media batch
    * to (doc_id, `sigCol`) signatures for ITS modality (records of other
    * modalities drop out and pass through as keepers), `bits` is the
    * signature width the maxHamming+1 near-equal bands split. Everything
    * else — durable hive-partitioned index, O(1) frontier replay guard,
    * greedy-online lower-id/committed-partner preference, idempotent
    * per-bid writes — is modality-independent and shared. */
  private[graft] def mergeMediaIngest(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, maxHamming: Int, bits: Int,
      sigCol: String, sigOf: DataFrame => DataFrame,
      compactEvery: Int = 0): Unit = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must sit inside the $bits-bit signature")
    val spark = batch.sparkSession
    val idxDir = s"$stateDir/index"
    val frontierDir = s"$stateDir/frontier"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"media ingest ($sigCol): skipping batch $batchId (frontier at " +
          s"$lastBid) — replay of a committed batch is a no-op")
      return
    }
    val sigs = sigOf(batch)
      .localCheckpoint() // feeds band join, peers join, index append
    // the d21/d23 band layout: maxHamming+1 near-equal chunks of the bits
    val bands = maxHamming + 1
    val base = bits / bands
    val extra = bits % bands
    val widths = Array.tabulate(bands)(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).take(bands)
    def chunked(df: org.apache.spark.sql.DataFrame, idCol: String,
        sigCol: String) = df.select(col(idCol), col(sigCol),
      explode(array((0 until bands).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col(sigCol), offsets(c))
            .bitwiseAND((1L << widths(c)) - 1).as("chunk_val"))): _*))
        .as("ck"))
      .select(col(idCol), col(sigCol),
        col("ck.chunk").as("chunk"), col("ck.chunk_val").as("chunk_val"))
    val committed = committedBidParquet(spark, idxDir, lastBid)
      .map(_.select(col("doc_id").as("partner"), col(sigCol).as("psig")))
      .getOrElse(sigs
        .select(col("doc_id").as("partner"), col(sigCol).as("psig"))
        .where(lit(false)))
    val newCh = chunked(sigs, "doc_id", sigCol)
    // vs the committed index, plus vs LOWER-id batch peers (greedy-online)
    val vsIndex = newCh
      .join(chunked(committed, "partner", "psig"), Seq("chunk", "chunk_val"))
    val vsPeers = newCh
      .join(chunked(sigs.toDF("partner", "psig"), "partner", "psig"),
        Seq("chunk", "chunk_val"))
      .where(col("partner") < col("doc_id"))
    val matches = vsIndex.unionByName(vsPeers)
      .select(col("doc_id"),
        struct(bit_count(col(sigCol).bitwiseXOR(col("psig"))).as("hamming"),
          col("partner").as("partner")).as("m"))
      .where(col("m.hamming") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(col("m")).as("m")) // earliest partner at the best hamming
    val decisions = sigs.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("m").isNull, lit("keep")).otherwise(lit("near_dup"))
          .as("decision"),
        col("m.partner").as("partner"), col("m.hamming").as("hamming"))
      // non-image payloads (no signature) pass through as keepers
      .unionByName(batch.select(col("doc_id"))
        .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("keep").as("decision"),
          lit(null).cast("long").as("partner"),
          lit(null).cast("int").as("hamming")))
      .localCheckpoint() // one computation feeds audit + index append
    decisions.write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
    sigs.join(decisions.where(col("decision") === "keep")
        .select(col("doc_id")), "doc_id")
      .write.mode("overwrite").parquet(s"$idxDir/bid=$batchId")
    // COMMIT: the frontier marker makes the index append visible
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
    // post-commit maintenance (see mergeDedupIngest): serial foreachBatch
    // is the single writer, so inline compaction is safe and keeps a
    // long-lived media ingest under the small-files bound automatically
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactIngestIndex(spark, idxDir, frontierDir)
  }

  /** Streaming ALL-MODALITY media dedup — the online half of the e9
    * flagship: each micro-batch of raw DOCUMENTS is encoded to its media
    * payloads and classified through BOTH durable media-dedup engines
    * (image dHash via [[phashIngestSink]]'s body, audio envelope via
    * [[audioIngestSink]]'s), under one sink. State/audit layout:
    * `stateDir/{phash,audio}` and `outDir/{phash,audio}`, each leg with
    * its own index, frontier, and per-bid idempotent decisions — the
    * crash/replay contract is per-leg and unchanged. The media frame is
    * encoded ONCE per batch and localCheckpointed into both legs.
    *
    * The batch half of the flagship is
    * [[fullMediaCuratedFromIngest]]: a corpus-release curation job that
    * composes e5's keep-set with the drop decisions this sink
    * accumulated — media dedup runs online as payloads arrive, text
    * curation stays a per-release batch pass (its quality vocabulary
    * and dup-span postings are corpus-global by design). */
  def fullMediaIngestSink(docs: DataFrame, stateDir: String,
      outDir: String, maxHamming: Int = 3, audioMaxHamming: Int = 2,
      benchDocs: Option[DataFrame] = None, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // benchmark signatures are precomputed ONCE per stream (the eval
    // holdout is fixed for a release) and pinned — every micro-batch
    // probe broadcasts this tiny frame, never re-decodes the benchmark
    val benchSigs = benchDocs.map(b => graft.ops.Multimodal
      .benchmarkMediaSignatures(b).localCheckpoint())
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeFullMediaIngest(batch, batchId, stateDir, outDir,
          maxHamming, audioMaxHamming, benchSigs, contamMaxHamming,
          contamAudioMaxHamming)
    }
  }

  /** The per-batch body of `fullMediaIngestSink` (spec entry point).
    * The contamination probe runs at the LOOSER enforcement budgets
    * (5/3 by default — e10's, not the dedup legs' 3/2): the streamed
    * flags feed [[decontaminatedMediaFromIngest]], whose batch twin
    * enforces at exactly those budgets. */
  private[graft] def mergeFullMediaIngest(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, maxHamming: Int,
      audioMaxHamming: Int, benchSigs: Option[DataFrame] = None,
      contamMaxHamming: Int = 5, contamAudioMaxHamming: Int = 3): Unit = {
    // carry the batch's own n_chars through when it has one — the batch
    // flagship encodes from the documents table's n_chars column, and a
    // corpus where n_chars != length(text) must encode IDENTICALLY here
    // or the streamed-vs-batch parity contract breaks silently
    val nChars =
      if (batch.columns.contains("n_chars")) col("n_chars").cast("long")
      else length(col("text")).cast("long")
    val media = graft.ops.Multimodal.buildMediaTable(
      batch.select(col("doc_id"), col("text"), nChars.as("n_chars")))
      .localCheckpoint() // one encode pass feeds every modality leg
    mergePhashIngest(media, batchId, s"$stateDir/phash",
      s"$outDir/phash", maxHamming)
    mergeAudioIngest(media, batchId, s"$stateDir/audio",
      s"$outDir/audio", audioMaxHamming)
    benchSigs.foreach(bs => mergeMediaContamination(media, batchId, bs,
      s"$stateDir/contam", s"$outDir/contam", contamMaxHamming,
      contamAudioMaxHamming))
  }

  /** The corpus-release half of the streaming E10 flagship:
    * [[fullMediaCuratedFromIngest]] minus every training doc the online
    * contamination probe has COMMITTED a flag for — the streamed twin
    * of `Pipeline.decontaminatedMediaCorpus`. The dedup legs inherit
    * the e9 greedy-online parity caveat; the contamination leg is
    * stateless-exact on any arrival order, so the composed corpus
    * equals the batch e10 exactly when the e9 half does (the parity
    * spec pins the composition across a kill/restart). Reads the
    * committed flags only (orphans invisible); with no committed
    * contamination state yet, this IS the e9 composition. */
  def decontaminatedMediaFromIngest(documents: DataFrame,
      stateDir: String, outDir: String, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5): DataFrame = {
    val kept = fullMediaCuratedFromIngest(documents, stateDir, outDir,
      minScore, maxDupFrac)
    committedContamination(documents.sparkSession, stateDir, outDir)
      .map(f => kept.join(f.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      .getOrElse(kept)
  }

  /** The ONLINE d25: probe each micro-batch's media signatures against
    * the broadcast benchmark signature frame (bipartite banded Hamming —
    * `Multimodal.contaminationProbe`, the same leg the batch
    * `mediaContaminationSplitCheck` runs) and commit the flagged
    * arrivals as audit output. The probe is STATELESS given the
    * benchmark frame — no index, no cross-batch state — so the union of
    * committed batch outputs equals the batch operator on the arrived
    * train docs for ANY arrival order (no greedy-online caveat; the
    * parity spec pins it across a kill/restart boundary). Arriving docs
    * that ARE benchmark members are excluded (the batch operator's
    * train side), via one anti-join against the tiny bench-id list.
    * Same per-bid idempotence + frontier commit + O(1) replay guard as
    * every ingest leg. */
  private[graft] def mergeMediaContamination(media: DataFrame,
      batchId: Long, benchSigs: DataFrame, stateDir: String,
      outDir: String, maxHamming: Int, audioMaxHamming: Int): Unit = {
    val spark = media.sparkSession
    val frontierDir = s"$stateDir/frontier"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"media contamination probe: skipping batch $batchId (frontier " +
          s"at $lastBid) — replay of a committed batch is a no-op")
      return
    }
    val benchIds = benchSigs.select(col("bench_id").as("doc_id")).distinct()
    def leg(sigs: DataFrame, modality: String, bits: Int,
        mh: Int): DataFrame =
      graft.ops.Multimodal.contaminationProbe(
        sigs.join(benchIds, Seq("doc_id"), "left_anti"),
        benchSigs.where(col("modality") === modality)
          .select(col("bench_id"), col("bsig")),
        bits, mh, 0, modality)
    // the UNCACHED signature forms: a per-micro-batch plan would never
    // re-hit the session memo and would only pin persisted frames (the
    // buildMediaTable contract)
    val flags = leg(graft.ops.Multimodal.phashCompute(media)
        .select(col("doc_id"), col("phash").as("sig")), "visual", 56,
        maxHamming)
      .unionByName(leg(graft.ops.Multimodal.audioHashCompute(media)
        .select(col("doc_id"), col("ahash").as("sig")), "audio", 31,
        audioMaxHamming))
    flags.write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
  }

  /** Committed-only read of the online d25 audit output: the flagged
    * (doc_id, bench_id, modality, hamming) rows across every batch the
    * frontier has committed — orphan partitions a crash left behind are
    * never listed (same read discipline as `readCommitted`). None before
    * the first commit. */
  def committedContamination(spark: SparkSession, stateDir: String,
      outDir: String): Option[DataFrame] =
    readStateWithRecovery(spark, s"$stateDir/contam/frontier").flatMap {
      df =>
        val r = df.select(max(col("bid"))).head
        if (r.isNullAt(0)) None
        else committedBidParquet(spark, s"$outDir/contam", r.getLong(0))
    }

  /** ONLINE quote-level decontamination — the streaming d28, the TEXT
    * twin of the media probe ([[mergeMediaContamination]]): each
    * micro-batch of arriving text is probed for ALIGNED runs of token
    * shingles shared with the benchmark holdout
    * (`Dedup.quoteContaminationSplitCheck`'s formula, via the shared
    * probe body) and the flagged (doc_id, bench_id, containment,
    * containment_any, shift) rows are committed as audit output. The
    * benchmark positional frame is precomputed ONCE per stream (the
    * eval holdout is fixed for a release) and broadcast into every
    * batch's probe; the probe is STATELESS given that frame — both
    * containment denominators come from the arriving doc and the
    * benchmark side — so the union of committed outputs equals the
    * batch operator on the arrived train docs for ANY arrival order
    * (the parity spec pins it across a kill/restart). Arriving docs
    * that ARE benchmark members are excluded (the batch operator's
    * train side), via one anti-join against the tiny bench-id list.
    * Same per-bid idempotence + frontier commit + O(1) replay guard as
    * every ingest leg. */
  def quoteContaminationSink(docs: DataFrame, stateDir: String,
      outDir: String, benchDocs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, tol: Int = 1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val benchPos = graft.ops.Dedup.benchmarkQuotePositions(benchDocs, n)
      .localCheckpoint()
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeQuoteContamination(batch, batchId, benchPos, stateDir,
          outDir, n, threshold, tol)
    }
  }

  /** The per-batch body of [[quoteContaminationSink]] (spec entry
    * point). */
  private[graft] def mergeQuoteContamination(batch: DataFrame,
      batchId: Long, benchPos: DataFrame, stateDir: String,
      outDir: String, n: Int, threshold: Double, tol: Int): Unit = {
    val spark = batch.sparkSession
    val frontierDir = s"$stateDir/frontier"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"quote contamination probe: skipping batch $batchId (frontier " +
          s"at $lastBid) — replay of a committed batch is a no-op")
      return
    }
    // bench-member exclusion lives inside the probe (it owns the nf
    // one-row-per-id invariant); the batch passes through untouched
    val flags = graft.ops.Dedup.quoteContaminationProbe(batch,
      benchPos, n, threshold, tol)
    flags.write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
  }

  /** Committed-only read of the online d28 audit output: the flagged
    * quote-contamination rows across every batch the frontier has
    * committed (orphan partitions a crash left behind are never
    * listed). None before the first commit. */
  def committedQuoteContamination(spark: SparkSession, stateDir: String,
      outDir: String): Option[DataFrame] =
    readStateWithRecovery(spark, s"$stateDir/frontier").flatMap { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) None
      else committedBidParquet(spark, outDir, r.getLong(0))
    }

  /** The corpus-release half of the streaming E11: the batch training-
    * corpus pipeline with the quote drop-list read from the COMMITTED
    * online d28 flags instead of recomputed. The drops are injected
    * BEFORE sampling and packing (via the shared pipeline core), so
    * offsets repack exactly as the batch e11's do; the probe is
    * stateless-exact on any arrival order, so once every training doc
    * has arrived the composed corpus equals
    * `Pipeline.trainingCorpus(quoteThreshold = Some(t))` at the
    * THRESHOLD THE SINK RAN WITH — the flag semantics (n, threshold,
    * tol) are owned by [[quoteContaminationSink]] at probe time, not
    * re-stated here (pinned in the d28 parity spec). The remaining
    * pipeline knobs pass through so a non-default batch twin stays
    * expressible. With no committed flags yet, this IS the batch e3. */
  def quoteDecontaminatedFromIngest(documents: DataFrame,
      stateDir: String, outDir: String, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    committedQuoteContamination(documents.sparkSession, stateDir, outDir)
      .map(f => graft.ops.Pipeline.trainingCorpusWithDrops(
        documents, f, benchmarkMaxId, minChars, sampleFrac, seqLen))
      .getOrElse(graft.ops.Pipeline.trainingCorpus(documents,
        benchmarkMaxId, minChars, sampleFrac, seqLen))

  /** The ONLINE d31 — embedding-space contamination of an arriving
    * vector stream against the broadcast eval-holdout embeddings
    * (`Similarity.embeddingContaminationProbe`, the batch operator's
    * own core). STATELESS given the bench frame — cosine reads only the
    * two rows — so the union of committed per-batch outputs equals the
    * probe over (arrived ∖ bench members, bench) for ANY arrival order
    * (kill/restart parity spec-pinned). The `benchEmbeddings` frame
    * DEFINES the holdout here — membership, not an id threshold — so
    * the streamed output equals the batch
    * `embeddingContaminationSplitCheck(…, benchMaxId)` exactly when the
    * frame is that operator's full id-range holdout (the spec's shape);
    * a curated subset frame is a different (narrower) audit by design.
    * Arriving vectors that ARE bench members are excluded. Same
    * per-bid idempotence + frontier commit + O(1) replay guard as every
    * ingest leg. */
  def embeddingContaminationSink(vectors: DataFrame,
      benchEmbeddings: DataFrame, stateDir: String, outDir: String,
      threshold: Double = 0.4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val bench = benchEmbeddings.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // the per-batch probe broadcasts this frame — enforce the bound ONCE
    // at sink setup (the frame is fixed for the stream's lifetime): the
    // SAME shared cap + limit-count check as the batch splitCheck
    graft.ops.Similarity.requireBenchUnderCap(bench,
      graft.ops.Similarity.MaxBenchBroadcastRows)
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mergeEmbeddingContamination(batch, batchId, bench, stateDir,
          outDir, threshold)
    }
  }

  /** The per-batch body of [[embeddingContaminationSink]] (spec entry
    * point). */
  private[graft] def mergeEmbeddingContamination(batch: DataFrame,
      batchId: Long, bench: DataFrame, stateDir: String, outDir: String,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    val frontierDir = s"$stateDir/frontier"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"embedding contamination probe: skipping batch $batchId " +
          s"(frontier at $lastBid) — replay of a committed batch is a " +
          "no-op")
      return
    }
    val arrivals = batch.join(
      bench.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
    graft.ops.Similarity
      .embeddingContaminationProbe(arrivals, bench, threshold)
      .write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
  }

  /** Committed-only read of the online d31 audit output (orphan
    * partitions a crash left behind are never listed). None before the
    * first commit. */
  def committedEmbeddingContamination(spark: SparkSession,
      stateDir: String, outDir: String): Option[DataFrame] =
    readStateWithRecovery(spark, s"$stateDir/frontier").flatMap { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) None
      else committedBidParquet(spark, outDir, r.getLong(0))
    }

  /** The STREAMED d32 — the embedding burn report from the COMMITTED
    * online d31 flags: which eval vectors are semantically compromised
    * by the traffic so far. Stateless-exact probe ⇒ equals
    * `Similarity.embeddingBurnReport` over the arrived vectors for any
    * arrival order. Flag-bounded rollup; None before the first
    * commit. */
  def embeddingBurnFromIngest(spark: SparkSession, stateDir: String,
      outDir: String): Option[DataFrame] =
    committedEmbeddingContamination(spark, stateDir, outDir).map(
      _.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_train"),
          max(col("cos")).as("max_cos"),
          min(col("vec_id")).as("first_train")))

  /** The STREAMED e14 — semantic decontamination enforced from the
    * COMMITTED online d31 flags: the training-corpus pipeline with the
    * embedding-contamination drop-list read from
    * [[committedEmbeddingContamination]] (vec_id is the embedding OF
    * doc_id — the batch e14 alignment) instead of recomputed. Drops
    * inject BEFORE sampling/packing via the shared pipeline core, so
    * the streamed corpus repacks identically to the batch e14; the
    * probe is stateless-exact, so once every training vector has
    * arrived this equals `Pipeline.semanticDecontaminatedCorpus` at the
    * threshold the sink ran with (kill/restart parity spec-pinned).
    * With no committed flags yet it IS the batch e3 — the
    * quoteDecontaminatedFromIngest degenerate-start discipline. */
  def semanticDecontaminatedFromIngest(documents: DataFrame,
      stateDir: String, outDir: String, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    committedEmbeddingContamination(documents.sparkSession, stateDir,
        outDir)
      .map(f => graft.ops.Pipeline.trainingCorpusWithDrops(documents,
        f.select(col("vec_id").as("doc_id")), benchmarkMaxId, minChars,
        sampleFrac, seqLen))
      .getOrElse(graft.ops.Pipeline.trainingCorpus(documents,
        benchmarkMaxId, minChars, sampleFrac, seqLen))

  /** The STREAMED d26 — the media burn report from the COMMITTED online
    * d25 flags ([[committedContamination]]): per (bench_id, modality),
    * how many arrived training docs carry that eval item's media, the
    * closest hamming, and the earliest flagging id — equal to
    * `Multimodal.benchmarkBurnReport` over the arrived docs for any
    * arrival order (the probe is stateless given the bench signatures).
    * Flag-bounded rollup; None before the first commit. */
  def mediaBurnFromIngest(spark: SparkSession, stateDir: String,
      outDir: String): Option[DataFrame] =
    committedContamination(spark, stateDir, outDir).map(
      _.groupBy(col("bench_id"), col("modality"))
        .agg(count(lit(1)).as("n_train"),
          min(col("hamming")).as("min_hamming"),
          min(col("doc_id")).as("first_train")))

  /** The STREAMED audit3 — the unified benchmark-health report from the
    * three families' COMMITTED online flags: media ([[mediaBurnFromIngest]]),
    * quote ([[quoteBurnFromIngest]]), embedding
    * ([[embeddingBurnFromIngest]]) burn rollups joined through the
    * batch operator's own cross-modality core
    * (`Pipeline.healthRollup`), so streamed and batch reports cannot
    * diverge structurally. Every leg's probe is stateless-exact, so
    * once all traffic has arrived this equals
    * `Pipeline.benchmarkHealthReport` at the thresholds the sinks ran
    * with. None until ALL THREE legs have committed at least one batch
    * (a health report silently missing a modality would read as
    * "clean" — refusing is the safe degenerate). */
  def benchmarkHealthFromIngest(spark: SparkSession,
      mediaState: String, mediaOut: String, quoteState: String,
      quoteOut: String, embState: String,
      embOut: String): Option[DataFrame] =
    for {
      m <- mediaBurnFromIngest(spark, mediaState, mediaOut)
      q <- quoteBurnFromIngest(spark, quoteState, quoteOut)
      e <- embeddingBurnFromIngest(spark, embState, embOut)
    } yield graft.ops.Pipeline.healthRollup(m, q, e)

  /** The STREAMED audit6 — the retirement DECISION from the three
    * committed burn stores: [[benchmarkHealthFromIngest]]'s rollup fed
    * through the batch operator's own decision core
    * (`Pipeline.retirementDecision`) over the ARRIVED bench universe.
    * Inherits the health report's all-three-stores refusal (None until
    * every leg has committed): a modality missing from the rollup reads
    * as "clean", and a decision made on partial evidence could silently
    * UN-retire a compromised item — the one failure mode the action
    * loop must not have, the audit3 refusal argument verbatim. */
  def prunedBenchmarkFromIngest(arrivedDocs: DataFrame,
      mediaState: String, mediaOut: String, quoteState: String,
      quoteOut: String, embState: String, embOut: String,
      benchMaxId: Long = 25L, minModalities: Int = 2)
      : Option[DataFrame] =
    benchmarkHealthFromIngest(arrivedDocs.sparkSession, mediaState,
        mediaOut, quoteState, quoteOut, embState, embOut)
      .map(h => graft.ops.Pipeline.retirementDecision(arrivedDocs, h,
        benchMaxId, minModalities))

  /** The STREAMED d29 — the quote burn report from the COMMITTED online
    * d28 flags: which benchmark items are quote-compromised by the
    * traffic that has arrived so far, by how many docs, how completely,
    * and since which doc. The probe is stateless-exact, so this equals
    * `Dedup.quoteBurnReport` over exactly the arrived training docs for
    * ANY arrival order (kill/restart parity spec-pinned). Flag-bounded:
    * one groupBy over the committed flag rows, nothing
    * corpus-proportional. None before the first commit. */
  def quoteBurnFromIngest(spark: SparkSession, stateDir: String,
      outDir: String): Option[DataFrame] =
    committedQuoteContamination(spark, stateDir, outDir).map(
      _.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_train"),
          max(col("containment")).as("max_containment"),
          min(col("doc_id")).as("first_train")))

  /** The STREAMED d30 — the surgical redaction plan from the COMMITTED
    * online d28 flags: exact token spans of every quoted run inside the
    * flagged docs that have arrived so far, rebuilt pair-bounded
    * against the arrived text (`arrivedDocs` — the caller's landing
    * store; only FLAGGED docs are re-tokenized) and the benchmark
    * holdout. Same span semantics as the batch operator (per-exact-
    * shift mass floor + island merge), so once every training doc has
    * arrived this equals `Dedup.quoteRedactionSpans` at the threshold
    * the sink ran with — completing the quote family's streamed
    * surface (d28 probe → e11 drop → d29 burn → d30 plan). None before
    * the first commit. */
  def quoteRedactionFromIngest(arrivedDocs: DataFrame, benchDocs: DataFrame,
      stateDir: String, outDir: String, n: Int = 3,
      minPositions: Int = 3): Option[DataFrame] =
    committedQuoteContamination(arrivedDocs.sparkSession, stateDir, outDir)
      .map(flags => graft.ops.Dedup.redactionSpansFromFlags(
        flags, arrivedDocs, benchDocs, n, minPositions))

  /** The STREAMED e12 — the surgical corpus release from the COMMITTED
    * online d28 flags: spans rebuilt flag-bounded against the landing
    * store ([[quoteRedactionFromIngest]]) and APPLIED through the shared
    * redaction core — quoted runs cut, survivors repacked. The probe is
    * stateless-exact and the span/union/pack math is deterministic
    * given the flags, so once every training doc has arrived this
    * equals the batch `Pipeline.redactedCorpus` at the threshold the
    * sink ran with (kill/restart parity spec-pinned). With no committed
    * flags yet it is the unredacted pack of the training side — the
    * same degenerate-start discipline as the streamed e11. */
  def redactedCorpusFromIngest(documents: DataFrame, benchDocs: DataFrame,
      stateDir: String, outDir: String, benchmarkMaxId: Long = 25L,
      n: Int = 3, minPositions: Int = 3, seqLen: Int = 4096): DataFrame =
    graft.ops.Pipeline.redactedCorpusFromSpans(documents,
      quoteRedactionFromIngest(documents, benchDocs, stateDir, outDir,
        n, minPositions).getOrElse(emptySpanPlan(documents)),
      benchmarkMaxId, seqLen)

  /** The degenerate-start span plan (no committed flags yet): an EMPTY
    * frame with the (doc_id, span_start, span_end) schema redactPack
    * reads — one definition shared by the streamed e12 and e13 so the
    * rarely-exercised startup path cannot drift between them. */
  private def emptySpanPlan(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      lit(0).as("span_start"), lit(0).as("span_end")).limit(0)

  /** The STREAMED e13 — the FULL surgical release from the COMMITTED
    * online d28 flags: e3's whole curation pipeline over the arrived
    * corpus with the quote stage handled by redaction, spans rebuilt
    * flag-bounded against the landing store ([[quoteRedactionFromIngest]])
    * and applied through the shared pack core
    * (`Pipeline.surgicalCorpusWithSpans`). The probe is stateless-exact
    * and every drop/span/pack stage is deterministic given the flags,
    * so once every training doc has arrived this equals the batch
    * `Pipeline.surgicalCorpus` at the threshold the sink ran with
    * (kill/restart parity spec-pinned). With no committed flags yet it
    * is the unredacted e3 — the redactedCorpusFromIngest
    * degenerate-start discipline. */
  def surgicalCorpusFromIngest(documents: DataFrame, benchDocs: DataFrame,
      stateDir: String, outDir: String, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5, seqLen: Int = 4096,
      n: Int = 3, minPositions: Int = 3): DataFrame = {
    val spans = quoteRedactionFromIngest(documents, benchDocs, stateDir,
        outDir, n, minPositions)
      .getOrElse(emptySpanPlan(documents))
    graft.ops.Pipeline.surgicalCorpusWithSpans(documents, spans,
      benchmarkMaxId, minChars, sampleFrac, seqLen)
  }

  /** The STREAMED e16 — the SPLICED surgical corpus (the (doc_id, lang,
    * text) artifact a trainer loads) from the COMMITTED online d28
    * flags: spans rebuilt flag-bounded against the landing store
    * ([[quoteRedactionFromIngest]]) and fed ONCE into
    * `Pipeline.surgicalCorpusTextWithSpans`, which splices the delta and
    * joins it onto the e13 manifest's survivor set. Every stage is
    * deterministic given the flags, so once all training docs have
    * arrived this equals the batch `Pipeline.surgicalCorpusText` at the
    * thresholds the sink ran with (kill/restart parity spec-pinned).
    * With no committed flags yet it is the verbatim e3 survivor text —
    * the surgicalCorpusFromIngest degenerate-start discipline. */
  def surgicalCorpusTextFromIngest(documents: DataFrame,
      benchDocs: DataFrame, stateDir: String, outDir: String,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, n: Int = 3,
      minPositions: Int = 3): DataFrame = {
    val spans = quoteRedactionFromIngest(documents, benchDocs, stateDir,
        outDir, n, minPositions)
      .getOrElse(emptySpanPlan(documents))
    graft.ops.Pipeline.surgicalCorpusTextWithSpans(documents, spans,
      benchmarkMaxId, minChars, sampleFrac)
  }

  /** The STREAMED e17 — the FULL release from BOTH committed flag
    * stores: spans rebuilt flag-bounded from the online d28 flags
    * ([[quoteRedactionFromIngest]]) and the semantic drop list read
    * from the online d31 flags ([[committedEmbeddingContamination]]),
    * composed through the batch operator's own core
    * (`Pipeline.fullReleaseWithSpansAndDrops`). Both probes are
    * stateless-exact, so once all traffic has arrived this equals the
    * batch `Pipeline.fullRelease` at the thresholds the sinks ran with
    * (parity spec-pinned). Either store empty degrades gracefully: no
    * flags ⇒ that stage is a no-op, exactly as in the batch op over an
    * uncontaminated corpus. */
  def fullReleaseFromIngest(documents: DataFrame, benchDocs: DataFrame,
      quoteState: String, quoteOut: String, embState: String,
      embOut: String, benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096, n: Int = 3,
      minPositions: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val spans = quoteRedactionFromIngest(documents, benchDocs,
        quoteState, quoteOut, n, minPositions)
      .getOrElse(emptySpanPlan(documents))
    val drops = committedEmbeddingContamination(spark, embState, embOut)
      .map(_.select(col("vec_id").as("doc_id")))
      .getOrElse(documents.select(col("doc_id")).limit(0))
    graft.ops.Pipeline.fullReleaseWithSpansAndDrops(documents, spans,
      drops, benchmarkMaxId, minChars, sampleFrac, seqLen)
  }

  /** The STREAMED e18 — the full MULTIMODAL release from EVERY committed
    * flag store: quote spans rebuilt from the online d28 flags
    * ([[quoteRedactionFromIngest]]), the semantic drop list from the
    * online d31 flags ([[committedEmbeddingContamination]]), the media
    * near-dup decisions from the [[fullMediaIngestSink]] phash/audio
    * legs, and the media contamination flags from its contam leg
    * ([[committedContamination]]) — all composed through the batch
    * operator's own core (`Pipeline.fullReleaseWithSpansAndDrops`, the
    * e17 seam with the media lists unioned in). The quote/embedding/
    * contamination probes are stateless-exact and the media dedup legs
    * inherit the documented greedy-online caveat, so once all traffic
    * has arrived this equals the batch `Pipeline.fullMultimodalRelease`
    * whenever the streamed pair relation matches the batch one
    * (kill/restart parity spec-pinned). Any store still empty degrades
    * to a no-op stage, exactly as in the batch op over a clean corpus. */
  def fullMultimodalReleaseFromIngest(documents: DataFrame,
      benchDocs: DataFrame, quoteState: String, quoteOut: String,
      embState: String, embOut: String, mediaState: String,
      mediaOut: String, benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096, n: Int = 3,
      minPositions: Int = 3): DataFrame =
    graft.ops.Pipeline.fullReleaseWithSpansAndDrops(documents,
      quoteRedactionFromIngest(documents, benchDocs, quoteState,
          quoteOut, n, minPositions)
        .getOrElse(emptySpanPlan(documents)),
      multimodalDropsFromIngest(documents, embState, embOut, mediaState,
        mediaOut),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** The e18-family drop assembly from the THREE non-quote committed
    * stores (online d31 flags, phash/audio near-dup decisions, d25
    * contamination flags) — ONE implementation shared by the streamed
    * e18 manifest and the streamed e19 text so the two online release
    * forms cannot diverge on what they drop. Any store still empty
    * degrades to that stage being a no-op. */
  private def multimodalDropsFromIngest(documents: DataFrame,
      embState: String, embOut: String, mediaState: String,
      mediaOut: String): DataFrame = {
    val spark = documents.sparkSession
    val sem = committedEmbeddingContamination(spark, embState, embOut)
      .map(_.select(col("vec_id").as("doc_id")))
    val mediaNd = Seq(
        committedNearDupDrops(spark, mediaState, mediaOut, "phash"),
        committedNearDupDrops(spark, mediaState, mediaOut, "audio"))
      .flatten.reduceOption(_ unionByName _)
    val mediaCt = committedContamination(spark, mediaState, mediaOut)
      .map(_.select(col("doc_id")))
    Seq(sem, mediaNd, mediaCt).flatten
      .reduceOption(_ unionByName _)
      .getOrElse(documents.select(col("doc_id")).limit(0))
  }

  /** The STREAMED e19 — the spliced TEXT of the full multimodal release
    * from every committed flag store: the e18 drop assembly
    * ([[multimodalDropsFromIngest]]) and the one flag-bounded span plan
    * ([[quoteRedactionFromIngest]]), composed through the batch
    * operator's own seam
    * (`Pipeline.fullMultimodalReleaseTextWithSpansAndDrops`, where the
    * plan is checkpointed ONCE for manifest and splice). Every stage is
    * deterministic given the flags, so once all traffic has arrived
    * this equals the batch `Pipeline.fullMultimodalReleaseText` under
    * the streamed e18's pair-relation caveat (kill/restart parity
    * spec-pinned); any store still empty degrades to that stage being
    * a no-op, and with NO committed quote flags the text ships
    * verbatim — the surgicalCorpusTextFromIngest degenerate start. */
  def fullMultimodalReleaseTextFromIngest(documents: DataFrame,
      benchDocs: DataFrame, quoteState: String, quoteOut: String,
      embState: String, embOut: String, mediaState: String,
      mediaOut: String, benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, n: Int = 3,
      minPositions: Int = 3): DataFrame =
    graft.ops.Pipeline.fullMultimodalReleaseTextWithSpansAndDrops(
      documents,
      quoteRedactionFromIngest(documents, benchDocs, quoteState,
          quoteOut, n, minPositions)
        .getOrElse(emptySpanPlan(documents)),
      multimodalDropsFromIngest(documents, embState, embOut, mediaState,
        mediaOut),
      benchmarkMaxId, minChars, sampleFrac)

  /** The STREAMED e20 — the release FINGERPRINT of the streamed e18:
    * `Pipeline.releaseFingerprint` over the manifest
    * [[fullMultimodalReleaseFromIngest]] assembles from the four
    * committed flag stores. This is the identity an ONLINE release
    * publishes next to its checkpoint — until now only the batch
    * flagship could record the (n_docs, n_tokens, digest) row its
    * training run pins, so a streamed drop had no fingerprint to
    * compare against the batch re-derivation. The digest is the same
    * order-independent XOR aggregate (no sort, no single-partition
    * funnel), so the streamed and batch forms agree byte-for-byte
    * whenever the release manifests agree (the e18 parity conditions);
    * determinism given the committed stores means a kill/restart or a
    * re-read of the same frontier republishes the SAME digest —
    * replay-stable by construction (parity spec-pinned alongside
    * e18/e19). */
  def releaseFingerprintFromIngest(documents: DataFrame,
      benchDocs: DataFrame, quoteState: String, quoteOut: String,
      embState: String, embOut: String, mediaState: String,
      mediaOut: String, benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096, n: Int = 3,
      minPositions: Int = 3): DataFrame =
    graft.ops.Pipeline.releaseFingerprint(
      fullMultimodalReleaseFromIngest(documents, benchDocs, quoteState,
        quoteOut, embState, embOut, mediaState, mediaOut,
        benchmarkMaxId, minChars, sampleFrac, seqLen, n, minPositions))

  /** The FROM-INGEST sel4 — DSIR select-then-pack over the corpus the
    * exactly-once landing sink ([[txnSink]]) has COMMITTED so far:
    * importance weights, the Gumbel-top-k draw, and the pack all
    * recompute over exactly the committed rows (DSIR weights are
    * corpus-DISTRIBUTION statistics, so an online selection is by
    * definition the batch operator over the arrived distribution —
    * there is no incremental shortcut that preserves the semantics).
    * Deterministic given the committed set (content-stable hashes, no
    * RNG), so a kill/restart changes nothing (parity spec-pinned);
    * orphan partitions a crash left behind are invisible through the
    * read-committed listing. None before the first commit. */
  def dsirSelectedPackFromIngest(spark: SparkSession, outDir: String,
      isTarget: org.apache.spark.sql.Column, k: Int,
      temperature: Double = 1.0, hexChars: Int = 2,
      seqLen: Int = 4096): Option[DataFrame] =
    readCommitted(spark, outDir).map(docs =>
      graft.ops.Sampling.dsirSelectedPack(
        docs.drop("bid"), isTarget, k, temperature, hexChars, seqLen))

  /** The corpus-release half of the streaming e9 flagship: compose the
    * batch keep-set (`Pipeline.curatedCorpus` — quality, dup spans,
    * exact-dup keepers) with the near-dup drop decisions the
    * [[fullMediaIngestSink]] legs have COMMITTED so far. Reads each
    * leg's decisions at its own frontier through the committed-partition
    * listing (orphans invisible), so a crash mid-batch never leaks a
    * half-written decision set into curation. Equals the batch
    * `Pipeline.fullMediaCuratedCorpus` whenever the streamed pair
    * relation matches the batch one — id-ordered arrival and chain-free
    * dup families, the same greedy-online caveat the text ingest sink
    * documents (StreamingSpec pins parity across a kill/restart
    * boundary). */
  def fullMediaCuratedFromIngest(documents: DataFrame, stateDir: String,
      outDir: String, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5): DataFrame = {
    val spark = documents.sparkSession
    val kept = graft.ops.Pipeline.curatedCorpus(documents, minScore,
      maxDupFrac)
    Seq(committedNearDupDrops(spark, stateDir, outDir, "phash"),
        committedNearDupDrops(spark, stateDir, outDir, "audio")).flatten
      .reduceOption(_ unionByName _)
      .map(d => kept.join(d.distinct(), Seq("doc_id"), "left_anti"))
      .getOrElse(kept)
  }

  /** The committed near-dup drop decisions of one [[fullMediaIngestSink]]
    * leg ("phash" or "audio") — frontier-gated, orphans invisible; None
    * before the leg's first commit. Shared by the e9/e10 from-ingest
    * compositions and the streamed e18. */
  private def committedNearDupDrops(spark: SparkSession,
      stateDir: String, outDir: String, leg: String): Option[DataFrame] = {
    val frontier =
      readStateWithRecovery(spark, s"$stateDir/$leg/frontier").map { df =>
        val r = df.select(max(col("bid"))).head
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }.getOrElse(-1L)
    if (frontier < 0L) None
    else committedBidParquet(spark, s"$outDir/$leg", frontier)
      .map(_.where(col("decision") === "near_dup")
        .select(col("doc_id")))
  }

  /** Transactional produce — the 2PC / read-committed twin of the
    * reference's EXACTLY_ONCE Kafka producer (FlinkSinkUtil.java:32-34:
    * `DeliveryGuarantee.EXACTLY_ONCE` + a transaction-id prefix, paired
    * with downstream consumers reading `isolation.level=read_committed`).
    * Every other sink here is at-least-once OUTPUT with exactly-once
    * STATE; this one makes the OUTPUT itself exactly-once-observable:
    *
    *  - PREPARE: the batch stages into its own hive partition
    *    `outDir/data/bid=N` (mode overwrite — a replay after a mid-stage
    *    crash replaces the orphan bit-for-bit, the same per-bid
    *    idempotence discipline as `dedupIngestSink`);
    *  - COMMIT: a one-row frontier marker (`outDir/_frontier`,
    *    swap-managed) advances to N. The marker rename IS the commit
    *    point — Kafka's transaction-marker write, re-expressed as the
    *    cheapest atomic primitive a filesystem sink has.
    *
    * `readCommitted` is the consumer side: it reads `data` filtered to
    * `bid <= frontier`, so partition pruning drops any orphan a crash
    * left behind without listing its files — uncommitted data is
    * invisible, committed data appears exactly once. foreachBatch bids
    * are strictly increasing, so the single frontier value subsumes a
    * per-bid commit log; the replay guard reads it in O(1) (never a
    * data scan), keeping the per-micro-batch metadata cost flat as the
    * output grows. A reader that starts mid-swap recovers the marker
    * from the `_old` generation (`readStateWithRecovery`). */
  def txnSink(rows: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        commitTxnBatch(batch, batchId, outDir)
    }

  /** The per-batch body of `txnSink`, package-visible so the crash /
    * replay / orphan-invisibility specs can drive it directly. */
  private[graft] def commitTxnBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit = {
    val spark = batch.sparkSession
    val frontierDir = s"$outDir/_frontier"
    val lastBid = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId <= lastBid) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"txnSink: skipping batch $batchId (frontier at $lastBid) — " +
          "replay of a committed transaction is a no-op")
      return
    }
    batch.write.mode("overwrite").parquet(s"$outDir/data/bid=$batchId")
    import spark.implicits._
    swapIntoPlace(Seq(batchId).toDF("bid").repartition(1), frontierDir)
  }

  /** Consumer side of `txnSink` (Kafka `read_committed`): only batches at
    * or below the committed frontier are visible. The read LISTS the
    * committed `bid=N` directories and reads only those paths (with
    * `basePath` so the `bid` partition column survives) — an uncommitted
    * orphan a crash left behind is never listed, so even TRUNCATED
    * parquet files in it cannot poison schema inference or the scan
    * (filter-only pruning would still list and footer-read every
    * partition). Returns None before the first commit (no marker and no
    * data yet). */
  def readCommitted(spark: SparkSession, outDir: String)
      : Option[DataFrame] =
    readStateWithRecovery(spark, s"$outDir/_frontier").flatMap { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) None
      else committedBidParquet(spark, s"$outDir/data", r.getLong(0))
    }

  /** Read ONLY the `bid=N` hive partitions of `dataDir` at or below
    * `frontier`, by explicit path listing (`basePath` keeps the `bid`
    * partition column) — an uncommitted orphan's files are never listed,
    * so even a TRUNCATED parquet file a crash left in a staged partition
    * cannot poison schema inference or the scan (a filter-only `bid <=`
    * predicate would still list and footer-read every partition).
    * Shared read discipline of `readCommitted` and the ingest sinks'
    * index reads. None when no committed partition exists. */
  private[graft] def committedBidParquet(spark: SparkSession,
      dataDir: String, frontier: Long): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val committed = fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("bid=") &&
          scala.util.Try(p.getName.stripPrefix("bid=").toLong)
            .toOption.exists(_ <= frontier)
      }
      .sortBy(_.getName)
      .map(_.toString)
    if (committed.isEmpty) None
    else Some(spark.read.option("basePath", dataDir).parquet(committed: _*))
  }

  /** S6/S8 — keyed upsert sink via foreachBatch merge: last-write-wins into
    * a keyed parquet table (the upsert-kafka / HBase-put analogue).
    * `deleteWhen` marks tombstones (the reference's CDC type=delete path,
    * DimHBaseSinkFunc.java:41-45): the newest record per key wins, and if
    * that record is a tombstone the key disappears from the table — so a
    * delete followed by a newer re-insert keeps the re-insert. */
  def upsertSink(updates: DataFrame, targetDir: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // missing-dir (after crash-window recovery) is the only "first
        // batch" case; genuine read corruption still surfaces as an error
        val existing = readStateWithRecovery(spark, targetDir)
          .getOrElse(spark.emptyDataFrame)
        val tagged = batch.withColumn("_del",
          deleteWhen.getOrElse(lit(false)))
        val merged = {
          import org.apache.spark.sql.expressions.Window
          val unioned =
            if (existing.columns.isEmpty) tagged
            else existing.withColumn("_src", lit(0)).withColumn("_del", lit(false))
              .unionByName(tagged.withColumn("_src", lit(1)))
          val withSrc =
            if (unioned.columns.contains("_src")) unioned
            else unioned.withColumn("_src", lit(1))
          withSrc
            .withColumn("_rn", row_number().over(
              Window.partitionBy(col("event_id"))
                .orderBy(col("_src").desc, col("ts").desc)))
            .where(col("_rn") === 1 && !col("_del"))
            .drop("_src", "_rn", "_del")
        }
        // the tmp-dir write materializes the read of the old target
        // before the swap renames it away (see swapIntoPlace)
        swapIntoPlace(merged, targetDir)
        ()
    }

  /** Maintenance: compact ONE streaming-ingest index directory (hive
    * `bid=N` partitions, one appended per micro-batch) back to a single
    * `bid=frontier` partition sized to `targetBytes` files. Run with the
    * appending query STOPPED (the same single-writer contract as
    * `Sinks.compactParquet`).
    *
    * Semantics preserved by construction: every committed row keeps
    * `bid <= frontier`, so the classification read (`bid <= frontier`
    * with partition pruning) sees the identical row set before and
    * after; the frontier marker itself is untouched, so the replay
    * guard's answer doesn't change; and partner doc_ids live in the row
    * data, so decisions replay bit-identically. Partitions ABOVE the
    * frontier are uncommitted crash orphans — invisible to every reader
    * — and compaction garbage-collects them.
    *
    * Crash safety: the compacted copy is fully written to `_tmp` first,
    * then the directory swap runs the swapIntoPlace rename pair — a
    * crash between the renames leaves `_old` intact and
    * [[compactIngestIndex]] (like `readStateWithRecovery`) restores it
    * on the next call.
    *
    * Returns (parquet files before, parquet files after). Without this,
    * a long-lived ingest accumulates one file set per micro-batch and
    * the per-batch index scan pays an ever-growing listing — the classic
    * small-files failure at 100 TB. */
  def compactIngestIndex(spark: SparkSession, indexDir: String,
      frontierDir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val target = new org.apache.hadoop.fs.Path(indexDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover a half-swapped previous compaction before anything else
    val bak = new org.apache.hadoop.fs.Path(indexDir + "_old")
    if (!fs.exists(target) && fs.exists(bak)) fs.rename(bak, target)
    if (!fs.exists(target)) return (0L, 0L)
    def countFiles(p: org.apache.hadoop.fs.Path): Long = {
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = countFiles(target)
    val frontier = readStateWithRecovery(spark, frontierDir).map { df =>
      val r = df.select(max(col("bid"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (frontier < 0L) return (before, before) // nothing committed yet
    // COMMITTED-ONLY read and walks: a bare spark.read.parquet(indexDir)
    // with a bid <= frontier filter would still LIST and footer-read every
    // partition — including uncommitted crash orphans, whose truncated
    // files poison schema inference (the exact hazard committedBidParquet
    // exists to avoid). So the read, the byte-sizing, and the "already
    // compact" test all see only bid <= frontier directories; orphan
    // partitions are garbage (never readable by anyone) and only ever
    // touched by the whole-directory swap below.
    val bidDirs = fs.listStatus(target).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bid="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("bid=").toLong).toOption
        .map(b => (s.getPath, b)))
    val orphanDirs = bidDirs.collect { case (p, b) if b > frontier => p }
    val committedOpt = committedBidParquet(spark, indexDir, frontier)
    if (committedOpt.isEmpty) return (before, before)
    val committed = committedOpt.get
    var committedFiles = 0L
    var bytes = 0L
    bidDirs.collect { case (p, b) if b <= frontier => p }.foreach { p =>
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) {
          committedFiles += 1; bytes += s.getLen
        }
      }
    }
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // already compact — but only when there are no orphans to collect:
    // compaction doubles as the orphan GC, so a compact index with a
    // crash orphan still rewrites (the orphan dies in the swap)
    if (committedFiles <= nOut && orphanDirs.isEmpty)
      return (before, before)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + "_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    committed.drop("bid").coalesce(nOut).write
      .parquet(s"$indexDir" + s"_tmp/bid=$frontier")
    if (fs.exists(bak)) fs.delete(bak, true)
    require(fs.rename(target, bak), s"rename $target -> $bak failed")
    require(fs.rename(tmp, target),
      s"rename $tmp -> $target failed; previous index preserved at $bak")
    fs.delete(bak, true)
    (before, countFiles(target))
  }

  /** [[compactIngestIndex]] over everything `dedupIngestSink` grows per
    * batch: the fingerprint postings, the shingle postings, and the
    * accepted-corpus partitions (whose `max(bid)` frontier-fallback scan
    * stays correct because the merged partition keeps bid = frontier). */
  def compactDedupIngestState(spark: SparkSession,
      stateDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, Long, Long)] =
    Seq("index/fp", "index/shingles", "corpus").map { d =>
      val (b, a) = compactIngestIndex(spark, s"$stateDir/$d",
        s"$stateDir/frontier", targetBytes)
      (d, b, a)
    }

  /** [[compactIngestIndex]] for the media ingest sinks' signature index
    * (`phashIngestSink` / `audioIngestSink` share the layout). */
  def compactMediaIngestState(spark: SparkSession,
      stateDir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long) =
    compactIngestIndex(spark, s"$stateDir/index", s"$stateDir/frontier",
      targetBytes)
}
