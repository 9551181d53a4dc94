package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A session memo: the one caching discipline of the engine. Every memo
  * registers itself with [[Memo]] at construction, so
  * [[Memo.clearAll]] reaches all of them. Values may be frames, trained
  * models, codebooks or scalars; `frames` names the frames a value holds
  * (none for models and scalars).
  *
  *  1. SINGLE-FLIGHT WITHOUT A GLOBAL BUILD LOCK: the map monitor is held
  *     only for map mutation; a build runs under a per-key holder lock,
  *     so two sessions (or two corpora) never serialize behind one
  *     materialization.
  *  2. STALENESS-GUARDED, BOUNDED RETENTION: each entry carries the
  *     [[Memo.filesHashOf]] of its inputs; a lookup whose hash differs
  *     (a re-read of a GROWN file-backed store canonicalizes equal)
  *     REPLACES the entry, unpersists the stale value's frames and runs
  *     `onReplace`. At most one live value per (session, key).
  *  3. STOPPED-SESSION EVICTION on every lookup.
  *
  * An evicted value may still be in a caller's hands (the caller that
  * was served it, or the build a replace overtook), so eviction only
  * unpersists: an evicted checkpoint keeps its blocks until Spark's
  * context cleaner finds it unreachable. Only [[clear]], the explicit
  * clear path, drops the blocks of the values it holds.
  *
  * Inputs that are neither file-backed, data-in-plan nor checkpoints
  * never memoize: [[getOrBuild]] builds afresh for them. */
private[graft] final class SessionMemo[K, V](
    frames: V => Seq[DataFrame] = (_: V) => Nil,
    onReplace: () => Unit = () => ()) extends Memo.Registered {
  /** One entry. `value` is written under both the holder lock and the
    * map monitor, `evicted` under the map monitor: an entry dropped from
    * the map (stale replace, stopped session, clear) is marked evicted
    * there, and a build that completes afterwards unpersists its own
    * value instead of parking it on a holder nobody can reach. */
  private final class Holder(val filesHash: Int) {
    var value: Option[V] = None
    var evicted = false
  }
  /** Drop `h` from service, freeing its value's frames with `free` (call
    * under the map monitor). */
  private def evict(h: Holder,
      free: DataFrame => Unit = Memo.unpersist): Unit = {
    h.evicted = true
    h.value.foreach(frames(_).foreach(free))
  }
  private val m = scala.collection.mutable.Map[(SparkSession, K), Holder]()
  Memo.register(this)

  /** Get-or-build for `key` over `inputs` (at least one frame; the first
    * one's session scopes the entry). A build that THROWS leaves no entry
    * behind (the next caller retries). A build whose entry was replaced
    * while it ran returns its value to its caller unpersisted. */
  def getOrBuild(key: K, inputs: DataFrame*)(build: => V): V =
    getOrBuildElse(key, inputs: _*)(build)(build)

  /** [[getOrBuild]] that runs `unmemoized` instead of `build` when the
    * inputs cannot memoize: for builds that materialize (checkpoint,
    * persist) only so that the memo can hold the value. */
  def getOrBuildElse(key: K, inputs: DataFrame*)(build: => V)(
      unmemoized: => V): V =
    Memo.filesHashOf(inputs: _*) match {
      case Some(h) => memoized(inputs.head.sparkSession, key, h, build)
      case None => unmemoized
    }

  private def memoized(session: SparkSession, key: K, filesHash: Int,
      build: => V): V = {
    val holder = m.synchronized {
      m.filterInPlace { case ((s, _), h) =>
        val live = !s.sparkContext.isStopped
        if (!live) evict(h)
        live
      }
      m.get((session, key)) match {
        case Some(h) if h.filesHash == filesHash => h
        case stale =>
          stale.foreach { h => evict(h); onReplace() }
          val h = new Holder(filesHash)
          m((session, key)) = h
          h
      }
    }
    holder.synchronized {
      holder.value.getOrElse {
        val v = try build
        catch {
          case t: Throwable =>
            m.synchronized {
              if (m.get((session, key)).contains(holder))
                m.remove((session, key))
            }
            throw t
        }
        m.synchronized {
          if (holder.evicted) frames(v).foreach(Memo.unpersist)
          else holder.value = Some(v)
        }
        v
      }
    }
  }

  /** Drop every entry and release its frames, checkpoint blocks
    * included (the [[Memo.clearAll]] path). */
  def clear(): Unit = clearWith(Memo.release)

  /** Drop every entry, only unpersisting its frames (a frame derived
    * from one stays usable). */
  def evictAll(): Unit = clearWith(Memo.unpersist)

  private def clearWith(free: DataFrame => Unit): Unit = m.synchronized {
    m.values.foreach(evict(_, free))
    m.clear()
  }

  def size: Int = m.synchronized(m.size)

  /** Every live value (spec probe). */
  def values: Seq[V] = m.synchronized(m.values.flatMap(_.value).toSeq)
}

/** The process-level memo registry and its one clear path, plus the
  * shared-substrate memo ([[substrate]]). A frame shared across queries
  * is held only by a [[SessionMemo]], never by a bare persist: Spark's
  * CacheManager matches plans without a staleness guard, so a frame
  * read before an append but first cached after it would serve its old
  * rows to every later plan-equal read of the grown store. */
object Memo {
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
    *    implies identical data; this is how frames derived from memo
    *    checkpoints enter).
    *
    * None for anything else (JDBC, custom V2): those never memoize.
    *
    * Files are collected from the ANALYZED plan, not `df.inputFiles`:
    * inputFiles walks the OPTIMIZED plan, where the CacheManager has
    * already substituted InMemoryRelation for any persisted subtree —
    * a persisted memo value (BM25, quality scores, media tables) would
    * hide its file sources and with them the staleness signal. */
  private[graft] def filesHashOf(dfs: DataFrame*): Option[Int] = {
    var h = 1
    var ok = true
    dfs.foreach { df =>
      val files = ArrayBuffer.empty[String]
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
        // the analyzed plan's V2 leaf is the relation; the scan relation
        // appears only after optimization
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation =>
          r.table match {
            case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
              files ++= ft.fileIndex.inputFiles
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

  /** What [[clearAll]] empties: every [[SessionMemo]] and the holdout
    * cap-check LRU. */
  private[graft] trait Registered {
    def clear(): Unit
    def size: Int
  }

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Registered]()

  private[graft] def register(r: Registered): Unit = registry.add(r)

  private[graft] def registered: Seq[Registered] =
    registry.asScala.toSeq

  /** The shared substrates of the dedup, decontamination, kNN-graph and
    * trigram families, keyed by (substrate and its parameters,
    * canonicalized input plan). */
  private val substrates = new SessionMemo[(Any, LogicalPlan), DataFrame](
    Seq(_))

  /** `df`, a substrate of `input` named by `key` (its kind and every
    * parameter that shapes it), checkpointed once per session and input
    * file set: a read of a grown store replaces the entry instead of
    * being served the old rows. For an input [[filesHashOf]] cannot key,
    * `df` is returned lazily, or checkpointed when `materialize` asks
    * for a barrier (a frame its consumers scan several times in one
    * action). A frame derived from a micro-batch must not come here:
    * each batch would pin one entry. */
  private[graft] def substrate(key: Any, input: DataFrame,
      materialize: Boolean = false)(df: => DataFrame): DataFrame =
    substrates.getOrBuildElse(
      (key, input.queryExecution.analyzed.canonicalized), input)(
      df.localCheckpoint())(
      if (materialize) df.localCheckpoint() else df)

  /** Run `body`, releasing the frames it passes to the `own` argument
    * (e.g. its checkpoints) when it exits. For per-micro-batch work whose
    * frames no later batch reads. */
  private[graft] def scoped[T](body: (DataFrame => DataFrame) => T): T = {
    val owned = ArrayBuffer[DataFrame]()
    try body(df => owned.synchronized { owned += df; df })
    finally owned.foreach(release)
  }

  /** Drop a frame's CacheManager entry. A frame whose session has
    * stopped is skipped (its storage went with the context). */
  private[graft] def unpersist(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)

  /** [[unpersist]], and for a checkpoint also drop the checkpointed
    * RDD's blocks: every frame derived from it stops working, so only
    * owners that know no such frame is still in use call this. */
  private[graft] def release(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) {
      df.unpersist(false)
      df.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(false)
        case _ => ()
      }
    }

  /** Empty every registered memo and release its frames — the one clear
    * path (tests, scale sweeps, and long sessions that rewrite a corpus
    * in place). Checkpointed memo values lose their blocks, so a frame
    * derived from one before the clear must be materialized before it is
    * used after it. */
  def clearAll(): Unit = registry.forEach(_.clear())
}

/** Ledger of time spent BUILDING session-memoized substrates — the
  * first-toucher attribution fix (round-18 VERDICT #5): memo builds stay
  * ON the clock of whichever query touches them first (nothing here
  * changes timing), but the bench artifact can now separate "this query's
  * plan regressed" from "this query paid a substrate sibling queries then
  * reuse". Build sites wrap their compute in [[MemoLedger.timed]]; the
  * bench drains the ledger after each query and emits a
  * `substrate_builds` map into bench_out.json. A nested build (e3's
  * survivor chain builds its drop lists) bills its seconds to its own
  * name only: each region records its EXCLUSIVE time, so the per-name
  * totals never sum past the wall time spent building. */
private[graft] object MemoLedger {
  private val acc = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Per thread, the nanoseconds of finished child regions of each open
    * region, innermost first. */
  private val open = ThreadLocal.withInitial[List[Array[Long]]](() => Nil)

  def timed[T](name: String)(body: => T): T = {
    val children = Array(0L)
    open.set(children :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      val outer = open.get.tail
      open.set(outer)
      outer.headOption.foreach(_(0) += dt)
      val own = (dt - children(0)) / 1e9
      acc.synchronized(acc(name) = acc.getOrElse(name, 0.0) + own)
    }
  }

  /** Seconds accumulated since the last drain, per substrate name. */
  def drain(): Seq[(String, Double)] = acc.synchronized {
    val out = acc.toSeq
    acc.clear()
    out
  }
}
