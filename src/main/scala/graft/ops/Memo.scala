package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared session-memo machinery for the substrate frames (optimization
  * round 2): one implementation of the three disciplines every memo in
  * this package had been re-growing by hand —
  *
  *  1. SINGLE-FLIGHT WITHOUT A GLOBAL BUILD LOCK: the map monitor is held
  *     only for map mutation; the Spark actions of a build run under a
  *     per-key holder lock, so two sessions (or two different corpora)
  *     never serialize behind one survivor/decode materialization
  *     (ADVICE round-18: e3SurvivorsCompute ran inside
  *     `survivorCache.synchronized`).
  *  2. STALENESS-GUARDED, BOUNDED RETENTION: each entry carries the
  *     sorted-inputFiles hash of its inputs; a lookup whose hash differs
  *     (a re-read of a GROWN file-backed store canonicalizing equal —
  *     the streamed-release shape) REPLACES the entry and releases the
  *     stale frame, instead of either serving stale data (the plan-only
  *     key trap) or accreting one pinned frame per batch (the
  *     hash-in-key trap). Bounded: at most one live frame per
  *     (session, plan, params) key.
  *  3. STOPPED-SESSION EVICTION on every lookup (the survivorCache /
  *     sigCache hygiene, applied uniformly).
  *
  * Frames that are neither file-backed nor data-in-plan never memoize
  * (the `requireBenchUnderCap` rule — see [[Memo.filesHashOf]]).
  */
private[graft] final class SessionMemo[K] {
  /** One entry. `df` is written under both the holder lock and the map
    * monitor, `evicted` under the map monitor: an entry dropped from the
    * map (stale replace, stopped session, clear) is marked evicted there,
    * and a build that completes afterwards releases its own frame instead
    * of parking it on a holder nobody can reach. */
  private final class Holder(val filesHash: Int) {
    var df: DataFrame = _
    var evicted = false
  }
  /** Drop `h` from service, releasing its frame if it has one (call
    * under the map monitor). */
  private def evict(h: Holder, release: DataFrame => Unit): Unit = {
    h.evicted = true
    if (h.df != null) release(h.df)
  }
  private val m = scala.collection.mutable.Map[
    (org.apache.spark.sql.SparkSession, K), Holder]()

  /** Get-or-build for `key` at input-files state `filesHash`. `build`
    * runs outside the map monitor (single-flight per key via the holder
    * lock); a stale entry (hash mismatch) is replaced and its frame
    * passed to `release`. A build that THROWS leaves no entry behind
    * (the next caller retries). A build whose entry was replaced while
    * it ran returns its frame to its caller already released. */
  def getOrBuild(session: org.apache.spark.sql.SparkSession, key: K,
      filesHash: Int, build: => DataFrame,
      release: DataFrame => Unit = _ => ()): DataFrame = {
    val holder = m.synchronized {
      m.filterInPlace { case ((s, _), h) =>
        val live = !s.sparkContext.isStopped
        if (!live) evict(h, release)
        live
      }
      m.get((session, key)) match {
        case Some(h) if h.filesHash == filesHash => h
        case stale =>
          stale.foreach(evict(_, release))
          val h = new Holder(filesHash)
          m((session, key)) = h
          h
      }
    }
    holder.synchronized {
      if (holder.df != null) holder.df else {
        val df = try build
        catch {
          case t: Throwable =>
            m.synchronized {
              if (m.get((session, key)).contains(holder))
                m.remove((session, key))
            }
            throw t
        }
        m.synchronized {
          if (holder.evicted) release(df) else holder.df = df
        }
        df
      }
    }
  }

  /** Drop every entry, releasing each live frame (test hygiene — the
    * clearSubstrates contract). */
  def clear(release: DataFrame => Unit = _ => ()): Unit = m.synchronized {
    m.values.foreach(evict(_, release))
    m.clear()
  }

  /** Number of live entries (spec probe). */
  def size: Int = m.synchronized(m.size)

  /** The live frame for `key`, if any (spec probe — never builds). */
  def peek(session: org.apache.spark.sql.SparkSession,
      key: K): Option[DataFrame] =
    m.synchronized(m.get((session, key)).flatMap(h => Option(h.df)))

  /** Every live frame (spec probe — the retention-bound assertions). */
  def frames: Seq[DataFrame] =
    m.synchronized(m.values.flatMap(h => Option(h.df)).toSeq)
}

private[graft] object Memo {
  /** The memoizability + staleness key of a set of input frames: the
    * combined sorted-inputFiles hash when EVERY frame is composed of
    *
    *  - file-backed sources (files are the staleness signal — a grown
    *    store re-reads to an equal canonicalized plan but a different
    *    file set),
    *  - data-in-plan leaves (LocalRelation etc. — plan equality already
    *    covers content), or
    *  - checkpoint/RDD leaves (LogicalRDD — an RDD is immutable and two
    *    distinct checkpoints never canonicalize equal, so plan equality
    *    implies identical data; this is how the substrate-derived span
    *    and flag frames enter: their lineages bottom out in the
    *    session-memoized shingle/signature checkpoints).
    *
    * None for anything else (JDBC, custom V2): those never memoize.
    *
    * Files are collected from the ANALYZED plan, not `df.inputFiles`:
    * inputFiles walks the OPTIMIZED plan, where the CacheManager has
    * already substituted InMemoryRelation for any persisted subtree —
    * the persisted span/flag substrates would hide their file sources
    * and with them the staleness signal. */
  def filesHashOf(dfs: DataFrame*): Option[Int] = {
    var h = 1
    var ok = true
    dfs.foreach { df =>
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          => lr.relation match {
            case fr: org.apache.spark.sql.execution.FileRelation =>
              files ++= fr.inputFiles
            case _ => ok = false // JDBC etc. — content invisible to the key
          }
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          => () // data-in-plan
        case _: org.apache.spark.sql.execution.LogicalRDD
          => () // checkpoint: immutable, identity-keyed via the plan
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation =>
          r.relation.table match {
            case ft: org.apache.spark.sql.connector.catalog.Table
              if ft.isInstanceOf[
                org.apache.spark.sql.execution.datasources.v2.FileTable] =>
              files ++= ft.asInstanceOf[
                org.apache.spark.sql.execution.datasources.v2.FileTable]
                .fileIndex.inputFiles
            case _ => ok = false
          }
        case l => if (l.maxRows.isEmpty) ok = false
      }
      val sorted = files.toArray
      java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]])
      h = 31 * h + java.util.Arrays.hashCode(
        sorted.asInstanceOf[Array[AnyRef]])
    }
    if (ok) Some(h) else None
  }

  /** Unpersist release for persisted memo values (checkpointed values
    * need no release — the ContextCleaner frees their blocks when the
    * frame is garbage collected). */
  val unpersist: DataFrame => Unit = df => df.unpersist(false)
}

/** Ledger of time spent BUILDING session-memoized substrates — the
  * first-toucher attribution fix (round-18 VERDICT #5): memo builds stay
  * ON the clock of whichever query touches them first (nothing here
  * changes timing), but the bench artifact can now separate "this query's
  * plan regressed" from "this query paid a substrate sibling queries then
  * reuse". Build sites wrap their compute in [[MemoLedger.timed]]; the
  * bench drains the ledger after each query and emits a
  * `substrate_builds` map into bench_out.json. */
private[graft] object MemoLedger {
  private val acc = scala.collection.mutable.LinkedHashMap[String, Double]()

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      acc.synchronized(acc(name) = acc.getOrElse(name, 0.0) + dt)
    }
  }

  /** Seconds accumulated since the last drain, per substrate name. */
  def drain(): Seq[(String, Double)] = acc.synchronized {
    val out = acc.toSeq
    acc.clear()
    out
  }
}
