package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.ops.{Etl, MemoLedger}
import graft.streaming.{Stateful, Streams}

/** Runs one benchmark workload against the compiled `graft` classes and
  * writes what it measured as JSON. It only times calls into the program
  * and reads Spark's public listeners; `perfbench/run.py` turns the raw
  * records into metrics, checks them against `expect.json`, and prints
  * the result line.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--record 1]
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("data"), o("work"), o.get("record").contains("1"))
    val out = try run.execute() finally run.stop()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(Paths.get(o("out")).toFile, out)
  }

  /** Queries of `batch_release`, each with the `ops` objects its
    * SparkEntry builder calls. Six small reference-surface warehouse
    * queries, one per warehouse module, which build no memo; then the
    * trimmed release chain: e11, memo-heavy, and gr5, job-heavy. */
  val batchQueries: Seq[(String, Seq[String])] = Seq(
    "p6_config_prune" -> Seq("ops.Etl"),
    "x1_split_counts" -> Seq("ops.Splits"),
    "j7_star_revenue_by_region" -> Seq("ops.Joins"),
    "a8_daily_unique_users" -> Seq("ops.Aggs"),
    "a22_kmv_distinct" -> Seq("ops.Sketches"),
    "f3_running_totals" -> Seq("ops.Relational"),
    "e11_quote_decontaminated" -> Seq("ops.Pipeline"),
    "gr5_pagerank_dangling" -> Seq("ops.Graph", "ops.Similarity"))

  val streamNames: Seq[String] = Seq("dwd_dedup", "dws_window", "dws_uu", "dim_upsert")

  /** Columns `dim_upsert` keeps per CDC table (the p6_config_prune config). */
  val dimColumns: Map[String, Seq[String]] = Map(
    "cart_info" -> Seq("id", "user_id"), "order_info" -> Seq("id", "amount"),
    "user_info" -> Seq("id"), "page_log" -> Seq("id"))

  /** Fixed open-loop input rate of `stream_ingest`, in events per second,
    * and the generator's chunk period. Never rescaled per run. */
  val streamRate = 2000
  val chunkPeriod = 0.05
  /** Events pre-loaded for each drain pass, and the number of cold and
    * warm drains (their medians are reported). */
  val drainBacklog = 5000
  val coldDrains = 3
  val warmDrains = 5
  /** Shares of re-delivered and late events picked by the seed. */
  val redeliverShare = 0.02
  val lateShare = 0.01
  /** Late events are this far behind their due time: past every
    * watermark of the pipeline (15 s window, 30 s dedup). */
  val lateBySeconds = 60
}

object Clock {
  private val n0 = System.nanoTime()
  private val e0 = System.currentTimeMillis() / 1e3
  /** Seconds since the epoch, monotonic within the process. */
  def now: Double = e0 + (System.nanoTime() - n0) / 1e9
}

/** JSON building on Jackson's java collections. */
object J {
  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def arr(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(x => l.add(conv(x)))
    l
  }
  private def conv(v: Any): Any = v match {
    case m: JMap[_, _] => m
    case l: JList[_] => l
    case m: scala.collection.Map[_, _] =>
      val out = new JMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, conv(x)) }
      out
    case s: Iterable[_] => arr(s)
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

/** Order-independent content hash of a frame: the sum of per-row xxhash64
  * values over columns sorted by name, doubles rounded to 6 places (the
  * tolerance tools/check.py applies), timestamps as strings, maps as
  * key-sorted entry arrays. */
object ContentHash {
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case TimestampType | TimestampNTZType | DateType => c.cast(StringType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): (Long, String, Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    val h = xxhash64(cols.map(n => norm(df.col(s"`$n`"), df.schema(n).dataType)): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"), cols)
  }
}

/** Spark job, stage and task facts, keyed by job group (one per query). */
final class EngineListener extends SparkListener {
  final class JobRec(val id: Int, val group: String, val streamQuery: String,
      val start: Double, val stages: Int) {
    var end = Double.NaN
    var tasks = 0L; var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var peakMem = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L
  }
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[(Int, Int, Double, Double, Int)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val j = new JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
      p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).orNull,
      e.time / 1e3, e.stageIds.size)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time / 1e3)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      stages += ((i.stageId, j.id, i.submissionTime.getOrElse(0L) / 1e3,
        i.completionTime.getOrElse(0L) / 1e3, i.numTasks))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runS += m.executorRunTime / 1e3
        j.cpuS += m.executorCpuTime / 1e9
        j.gcS += m.jvmGCTime / 1e3
        j.shuffleW += m.shuffleWriteMetrics.bytesWritten
        j.shuffleR += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def toJson: Seq[JMap[String, Any]] = synchronized {
    jobs.toSeq.map(j => J.obj("id" -> j.id, "group" -> j.group,
      "stream_query" -> j.streamQuery, "start" -> j.start, "end" -> j.end,
      "stages" -> j.stages, "tasks" -> j.tasks, "run_s" -> j.runS,
      "cpu_s" -> j.cpuS, "gc_s" -> j.gcS, "shuffle_write" -> j.shuffleW,
      "shuffle_read" -> j.shuffleR, "spill" -> j.spill,
      "peak_mem" -> j.peakMem, "in_bytes" -> j.inBytes, "in_rows" -> j.inRows,
      "out_bytes" -> j.outBytes))
  }
  def stagesJson: Seq[JMap[String, Any]] = synchronized {
    stages.toSeq.map { case (s, j, a, b, n) =>
      J.obj("id" -> s, "job" -> j, "start" -> a, "end" -> b, "tasks" -> n) }
  }
}

/** Planning phases and executed-plan size of every action. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val plans = ArrayBuffer.empty[JMap[String, Any]]
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val nodes = try collect(qe.executedPlan) { case p => p }.size
      catch { case _: Throwable => 0 }
    synchronized {
      plans += J.obj("analysis_s" -> d("analysis"),
        "optimization_s" -> d("optimization"), "physical_s" -> d("planning"),
        "nodes" -> nodes)
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

/** Streaming progress of every micro-batch, kept raw. */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[JMap[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
    val end = Option(p.sources).filter(_.nonEmpty).map(_.head.endOffset).orNull
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
    synchronized {
      progress += J.obj("query" -> p.name, "id" -> p.id.toString,
        "batch" -> p.batchId, "start" -> start,
        "trigger_s" -> dur.getOrElse("triggerExecution", 0.0),
        "durations" -> dur, "end_offset" -> end,
        "input_rows" -> p.numInputRows,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
        "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }
  /** The highest offset the query run `id` has committed, or -1. */
  def committed(id: String): Long = synchronized {
    progress.filter(_.get("id") == id).flatMap(p =>
      Option(p.get("end_offset")).map(_.toString.trim.toLong)).maxOption.getOrElse(-1L)
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, record: Boolean) {
  import Harness._

  private val cpus = Runtime.getRuntime.availableProcessors
  private var spark: SparkSession = _
  private val progress = new ProgressListener
  private var copies = 0
  private val sf01 = s"$data/sf0.01"
  private val sf001 = s"$data/sf0.001"

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def newSession(): SparkSession = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(progress)
    spark
  }

  /** A copy of a data directory under a path no earlier read used, so every
    * file-keyed memo misses on it. */
  private def freshCopy(src: String): String = {
    copies += 1
    val dst = Paths.get(work, s"data-$copies")
    Files.createDirectories(dst)
    Files.list(Paths.get(src)).iterator().asScala.foreach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  private def shuffled[T](xs: Seq[T], salt: Long): Seq[T] =
    new scala.util.Random(seed * 1000003L + salt).shuffle(xs)

  def execute(): JMap[String, Any] = workload match {
    case "batch_release" => batch(batchQueries, sf001, sf01)
    case "stream_ingest" => stream()
    case other => sys.error(s"unknown workload $other")
  }

  // ---- tracing ---------------------------------------------------------

  private final class Tracer {
    val engine = new EngineListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    def close(): JMap[String, Any] = {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(plans)
      J.obj("jobs" -> engine.toJson, "stages" -> engine.stagesJson,
        "plans" -> plans.plans.synchronized(plans.plans.toSeq))
    }
  }

  private def withTrace[T](on: Boolean)(body: => T): (T, JMap[String, Any]) = {
    val t = if (on) Some(new Tracer) else None
    val r = try body catch { case e: Throwable => t.foreach(_.close()); throw e }
    (r, t.map(_.close()).getOrElse(J.obj()))
  }

  private def storage(): JMap[String, Any] = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    val rdd = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    J.obj("storage_used_bytes" -> used, "rdd_bytes" -> rdd)
  }

  // ---- batch workloads ------------------------------------------------

  /** Closed-loop client: build the query's frame, then run it through the
    * noop sink, timing both; the memo ledger is drained after each. */
  private def runOp(name: String, modules: Seq[String], dir: String, pass: String,
      idx: Int, traced: Boolean): JMap[String, Any] = {
    val id = s"$pass-$idx-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name)
    val t0 = Clock.now
    var tb = Double.NaN
    var err: String = null
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      tb = Clock.now
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    }
    val t1 = Clock.now
    if (tb.isNaN) tb = t1
    sc.clearJobGroup()
    val memo = MemoLedger.drain()
    if (traced) PerfbenchBus.drain(sc)
    J.obj("id" -> id, "name" -> name, "modules" -> modules, "pass" -> pass,
      "start" -> t0, "build_end" -> tb, "end" -> t1, "ok" -> (err == null),
      "error" -> err, "memo" -> memo.toMap)
  }

  private def check(name: String, dir: String): JMap[String, Any] =
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      val (rows, hash, cols) = ContentHash.of(df)
      if (record) df.coalesce(1).write.mode("overwrite").parquet(s"$work/record/$name")
      J.obj("name" -> name, "rows" -> rows, "hash" -> hash, "cols" -> cols)
    } catch { case e: Throwable =>
      J.obj("name" -> name, "error" -> Option(e.getMessage).getOrElse(e.toString).take(300))
    }

  /** Set-up: a fresh session, the workload's tables loaded, one action. */
  private def batchSetup(dir: String, tables: Seq[String], traced: Boolean): Double = {
    val t0 = Clock.now
    newSession()
    val tr = if (traced) Some(new Tracer) else None
    tables.foreach(Tables.load(spark, dir, _))
    Tables.load(spark, dir, tables.head).count()
    tr.foreach(_.close())
    Clock.now - t0
  }

  /** Set-up three times (median reported), then an untimed warm-up pass
    * over `warmDir` that also computes each query's content hash, then the
    * timed phase: cycles of a pass over a fresh copy of `timedDir` with
    * every memo empty (cold) and a second pass over the same copy (warm),
    * repeated until the run's seconds are spent. The seed orders each
    * pass. A traced run first runs the timed phase with listeners
    * attached, then again without, so the difference bounds the tracing
    * overhead from above (the second phase runs on a warmer JIT). */
  private def batch(qs: Seq[(String, Seq[String])], warmDir: String,
      timedDir: String): JMap[String, Any] = {
    val tables = Tables.names
    val warmCopy = freshCopy(warmDir)
    val setups = (0 until 3).map(_ => batchSetup(warmCopy, tables, traced = false))
    val w0 = Clock.now
    // The warm-up runs the queries on parallel clients to spend less of
    // the run on JIT compilation; recording runs them one by one, since
    // the memo ledger cannot tell concurrent queries apart.
    val checks = if (record) qs.map { case (q, _) =>
      val c = check(q, warmCopy)
      c.put("memo", J.arr(MemoLedger.drain().map(_._1)))
      c
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try shuffled(qs.map(_._1), 0)
        .map(q => pool.submit(() => check(q, warmCopy)))
        .map(_.get())
      finally { pool.shutdown(); MemoLedger.drain() }
    }
    val warmupS = Clock.now - w0
    val modules = qs.toMap

    def phase(traced: Boolean, salt: Long): JMap[String, Any] = {
      val passes = ArrayBuffer.empty[JMap[String, Any]]
      val ((ops, phaseS), tr) = withTrace(traced) {
        val ops = ArrayBuffer.empty[JMap[String, Any]]
        val t0 = Clock.now
        var n = 0
        def pass(kind: String, copy: String): Unit = {
          val p0 = Clock.now
          val order = shuffled(qs.map(_._1), salt * 100 + n + 1)
          order.zipWithIndex.foreach { case (q, i) =>
            ops += runOp(q, modules(q), copy, s"$kind$n", i, traced) }
          passes += J.obj("kind" -> kind, "start" -> p0, "end" -> Clock.now,
            "ops" -> order.size)
          n += 1
        }
        do {
          val copy = freshCopy(timedDir)
          pass("cold", copy)
          pass("warm", copy)
        } while (Clock.now - t0 < seconds)
        (ops.toSeq, Clock.now - t0)
      }
      J.obj("traced" -> traced, "ops" -> ops, "passes" -> passes.toSeq,
        "seconds" -> phaseS, "storage" -> storage(), "trace" -> tr)
    }

    val phases = (if (trace) Seq(phase(traced = true, 2)) else Nil) :+
      phase(traced = false, 1)
    val tracedSetups =
      if (trace) (0 until 3).map(_ => batchSetup(warmCopy, tables, traced = true))
      else Nil
    val oracle = if (record) SparkEntry.oracleSql.filter(kv => modules.contains(kv._1)) else Map.empty
    J.obj("workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setups, "traced_setup_s" -> tracedSetups,
      "warmup_s" -> warmupS,
      "checks" -> checks, "phases" -> phases, "oracle" -> oracle)
  }

  // ---- stream workload --------------------------------------------------

  /** Replays the events table with event time = due time. The seed fixes
    * the replay order and which events are re-delivered (an identical copy
    * of an event sent within the last two seconds) or late. Ids of later
    * replay cycles are offset so every original id is unique. */
  private final class Generator(base: Array[Stateful.Event], salt: Long) {
    private val rnd = new java.util.Random(seed * 7919L + salt)
    private val order = new scala.util.Random(seed * 31L + salt).shuffle(base.indices.toVector)
    private var cursor = 0
    private var cycle = 0
    private val recent = new Array[Stateful.Event](streamRate * 2)
    private var nRecent = 0
    val sent = ArrayBuffer.empty[Stateful.Event]
    val lateIds = scala.collection.mutable.Set.empty[Long]
    var redelivered = 0L

    def chunk(n: Int, due: Double, allowLate: Boolean): Seq[Stateful.Event] = {
      val out = (0 until n).map { _ =>
        if (nRecent > 0 && rnd.nextDouble() < redeliverShare) {
          redelivered += 1
          recent(rnd.nextInt(math.min(nRecent, recent.length)))
        } else {
          val src = base(order(cursor))
          cursor += 1
          if (cursor == order.size) { cursor = 0; cycle += 1 }
          val isLate = allowLate && rnd.nextDouble() < lateShare
          val ts = new Timestamp(((due - (if (isLate) lateBySeconds else 0)) * 1000).toLong)
          val e = src.copy(event_id = src.event_id + cycle * 1000000000L, ts = ts)
          if (isLate) lateIds += e.event_id
          else { recent(nRecent % recent.length) = e; nRecent += 1 }
          e
        }
      }
      sent ++= out
      out
    }
  }

  private final class Pipeline(tag: String) {
    private val session = spark
    import session.implicits._
    // a fixed partition count, like a topic's: otherwise every chunk
    // added becomes its own input partition and task
    val sources = streamNames.map(n => n -> MemoryStream[Stateful.Event](
      Math.abs((tag + n).hashCode), spark, Some(cpus))).toMap
    val dedupOut = ArrayBuffer.empty[Long]
    val windowOut = ArrayBuffer.empty[(Long, String, String, Long)]
    val uuOut = ArrayBuffer.empty[(Long, String)]
    val target = s"$work/$tag-dim"
    private def chk(n: String) = s"$work/$tag-chk-$n"
    var queries: Seq[StreamingQuery] = Nil

    def start(): Unit = {
      val dedup = Streams.dedupWithinWatermark(sources("dwd_dedup").toDF())
        .writeStream.queryName("dwd_dedup").option("checkpointLocation", chk("dwd_dedup"))
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.select("event_id").as[Long].collect()
          dedupOut.synchronized(dedupOut ++= ids); ()
        }.start()
      val window = Streams.windowedTypeCounts(sources("dws_window").toDF())
        .writeStream.queryName("dws_window").outputMode("update")
        .option("checkpointLocation", chk("dws_window"))
        .foreachBatch { (df: DataFrame, b: Long) =>
          val rows = df.select("stt", "event_type", "cnt").as[(String, String, Long)].collect()
          windowOut.synchronized(windowOut ++= rows.map(r => (b, r._1, r._2, r._3))); ()
        }.start()
      val uu = Stateful.firstEventOfDay(sources("dws_uu").toDS())
        .writeStream.queryName("dws_uu").option("checkpointLocation", chk("dws_uu"))
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Stateful.UuEmit], _: Long) =>
          val rows = ds.select("user_id", "event_date").as[(Long, String)].collect()
          uuOut.synchronized(uuOut ++= rows); ()
        }.start()
      val upsert = Streams.upsertSink(
          Etl.pruneColumns(Etl.toCdcEnvelope(sources("dim_upsert").toDF()), dimColumns)
            .withColumn("ts", current_timestamp()), target)
        .queryName("dim_upsert").option("checkpointLocation", chk("dim_upsert")).start()
      queries = Seq(dedup, window, uu, upsert)
    }

    /** Adds one chunk to every query's source; returns the chunk's offset. */
    def add(events: Seq[Stateful.Event]): Long =
      streamNames.map(n => sources(n).addData(events)).last.json.trim.toLong

    /** Blocks until every query has committed `offset`; returns the time
      * the last one did, or NaN if the deadline passed. Rethrows the error
      * of a query that died. */
    def await(offset: Long, deadline: Double): Double = {
      while (Clock.now < deadline) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        if (queries.forall(q => progress.committed(q.id.toString) >= offset)) return Clock.now
        Thread.sleep(5)
      }
      Double.NaN
    }

    def stopAll(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => () })
  }

  /** Set-up: a fresh session with the four queries started. Their first
    * micro-batch belongs to the cold drain. */
  private def streamSetup(i: Int, traced: Boolean): Double = {
    val t0 = Clock.now
    newSession()
    val tr = if (traced) Some(new Tracer) else None
    val p = new Pipeline(s"setup$i")
    try p.start()
    finally { p.stopAll(); tr.foreach(_.close()) }
    Clock.now - t0
  }

  /** One timed phase: three cold drains of a pre-loaded backlog, each into
    * freshly started queries (the median absorbs the JIT-cold first one), the open-loop replay at the fixed rate for the run's
    * seconds, and five warm drains of an equal backlog into the running
    * queries; then the pipeline invariants are checked. */
  private def streamPhase(base: Array[Stateful.Event], traced: Boolean,
      salt: Long): JMap[String, Any] = {
    progress.progress.synchronized(progress.progress.clear())
    val p = new Pipeline(s"phase$salt")
    val g = new Generator(base, salt)
    val chunks = ArrayBuffer.empty[JMap[String, Any]]
    var checks: Seq[JMap[String, Any]] = Nil
    val (times, tr) = withTrace(traced) {
      try {
        // cold drains into fresh pipelines; the last one stays running
        val cold = (0 until coldDrains).map { i =>
          val (cp, cg) = if (i == coldDrains - 1) (p, g)
            else (new Pipeline(s"phase${salt}cold$i"), new Generator(base, salt * 10 + i))
          val c0 = Clock.now
          val off = cp.add(cg.chunk(drainBacklog, c0, allowLate = false))
          cp.start()
          val end = cp.await(off, c0 + 120)
          if (cp ne p) cp.stopAll()
          (Seq(c0, end), off)
        }
        val open0 = Clock.now
        val perChunk = (streamRate * chunkPeriod).toInt
        var k = 0
        var lastOff = cold.last._2
        while (k * chunkPeriod < seconds) {
          val due = open0 + k * chunkPeriod
          val wait = due - Clock.now
          if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
          val sentAt = Clock.now
          lastOff = p.add(g.chunk(perChunk, due, allowLate = k >= 10))
          chunks += J.obj("k" -> k, "due" -> due, "sent" -> sentAt,
            "events" -> perChunk, "offset" -> lastOff)
          k += 1
        }
        val openEnd = Clock.now
        val settled = p.await(lastOff, openEnd + 120)
        val warm = (0 until warmDrains).map { _ =>
          val warm0 = Clock.now
          val warmOff = p.add(g.chunk(drainBacklog, warm0, allowLate = false))
          Seq(warm0, p.await(warmOff, warm0 + 120))
        }
        PerfbenchBus.drain(spark.sparkContext)
        Map("cold" -> cold.map(_._1), "open_start" -> open0,
          "open_end" -> openEnd, "settled" -> settled, "warm" -> warm)
      } finally p.stopAll()
    }
    checks = streamChecks(p, g)
    val ids = p.queries.map(_.id.toString).toSet
    val prog = progress.progress.synchronized(progress.progress.toSeq)
      .filter(x => ids(x.get("id").toString))
    val targetBytes = Files.walk(Paths.get(p.target)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum
    J.obj("traced" -> traced, "times" -> times, "chunks" -> chunks.toSeq,
      "progress" -> prog, "checks" -> checks, "events_sent" -> g.sent.size,
      "late" -> g.lateIds.size, "redelivered" -> g.redelivered,
      "drain_events" -> drainBacklog, "target_bytes" -> targetBytes,
      "query_ids" -> p.queries.map(q => q.name -> q.id.toString).toMap,
      "storage" -> storage(), "trace" -> tr, "memo" -> MemoLedger.drain().toMap)
  }

  /** The pipeline's outputs against batch recomputations over exactly
    * the events the generator sent. */
  private def streamChecks(p: Pipeline, g: Generator): Seq[JMap[String, Any]] = {
    val session = spark
    import session.implicits._
    val sent = g.sent.toSeq
    def res(name: String, ok: Boolean, detail: String) =
      J.obj("name" -> name, "ok" -> ok, "detail" -> detail)
    val ids = p.dedupOut.toSeq
    val expectIds = sent.map(_.event_id).filterNot(g.lateIds).toSet
    val dedupOk = ids.size == ids.distinct.size && ids.toSet == expectIds
    val finalCounts = p.windowOut.groupBy(r => (r._2, r._3)).values
      .map(_.maxBy(_._1)._4).sum
    val windowOk = finalCounts == sent.size - g.lateIds.size
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE.withZone(java.time.ZoneOffset.UTC)
    val expectUu = sent.map(e => (e.user_id, fmt.format(e.ts.toInstant))).toSet
    val uuOk = p.uuOut.size == p.uuOut.distinct.size && p.uuOut.toSet == expectUu
    val upsertOk = try {
      val got = spark.read.parquet(p.target).select("event_id", "table", "kept_keys")
      val want = Etl.pruneColumns(Etl.toCdcEnvelope(sent.toDF()), dimColumns).distinct()
      got.count() == want.count() && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    } catch { case _: Throwable => false }
    Seq(
      res("dwd_dedup", dedupOk, s"out=${ids.size} distinct_on_time=${expectIds.size}"),
      res("dws_window", windowOk, s"sum=$finalCounts sent=${sent.size} late=${g.lateIds.size}"),
      res("dws_uu", uuOk, s"out=${p.uuOut.size} expected=${expectUu.size}"),
      res("dim_upsert", upsertOk, "target equals batch last-write-wins of the sent CDC rows"))
  }

  private def stream(): JMap[String, Any] = {
    newSession()
    val base = {
      val session = spark
      import session.implicits._
      Tables.load(spark, sf01, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Stateful.Event].collect()
    }
    val setups = (0 until 3).map(i => streamSetup(i, traced = false))
    val phases = (if (trace) Seq(streamPhase(base, traced = true, 2)) else Nil) :+
      streamPhase(base, traced = false, 1)
    val tracedSetups =
      if (trace) (0 until 3).map(i => streamSetup(10 + i, traced = true)) else Nil
    J.obj("workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setups, "traced_setup_s" -> tracedSetups,
      "rate" -> streamRate, "chunk_period" -> chunkPeriod, "phases" -> phases)
  }
}
