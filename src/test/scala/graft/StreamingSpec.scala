package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Stateful, Streams}

/** Streaming semantics (SURVEY.md §2h): MemoryStream feeds the same
  * transforms as batch; outputs must match the batch twins. */
class StreamingSpec extends GraftSuite {
  import Stateful._

  private def eventsData: Seq[Event] = {
    import spark.implicits._
    Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event].collect().toSeq
  }

  // Trigger.AvailableNow processes everything then stops — required because
  // ProcessingTimeTimeout state ops re-trigger batches forever under the
  // default trigger, so processAllAvailable would spin.
  private def runToMemory[T](stream: org.apache.spark.sql.Dataset[T],
      name: String, mode: OutputMode = OutputMode.Append()): Unit = {
    val q = stream.writeStream.outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(name).start()
    assert(q.awaitTermination(120000), s"$name did not finish in 120s")
  }

  test("streaming windowed counts match batch aggregation (complete mode)") {
    import spark.implicits._
    val ms = MemoryStream[Event](1, spark, None)
    ms.addData(eventsData)
    runToMemory(Streams.windowedTypeCounts(ms.toDF(), "1 hour", "15 seconds"),
      "win_out", OutputMode.Complete())
    val got = spark.table("win_out")
      .select("stt", "event_type", "cnt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val exp = ops.Aggs.hourlyCountByType(
        Tables.load(spark, sf, "events"))
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("streaming session windows merge across batches") {
    import spark.implicits._
    // the cross-batch case the single-batch parity spec can't see: a
    // later batch's event EXTENDS an open session (original start kept)
    // while a gap-separated event opens a new one. Complete mode: the
    // memory table is replaced per trigger, so it holds the final state.
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ms = MemoryStream[(java.sql.Timestamp, Long)](94, spark, None)
    val q = Streams.sessionizedCounts(
        ms.toDS().toDF("ts", "user_id"), "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_merge").start()
    ms.addData(Seq((at(0), 7L), (at(10), 7L)))
    q.processAllAvailable()
    val mid = spark.table("sess_merge").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(mid == Set(("2026-01-01 10:00:00", 7L, 2L)))
    ms.addData(Seq((at(20), 7L), (at(120), 7L))) // extends + new session
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("sess_merge").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fin == Set(
      ("2026-01-01 10:00:00", 7L, 3L),
      ("2026-01-01 12:00:00", 7L, 1L)))
  }

  test("streaming first-event-of-day matches batch dedup-first") {
    import spark.implicits._
    val ms = MemoryStream[Event](2, spark, None)
    ms.addData(eventsData)
    runToMemory(Stateful.firstEventOfDay(ms.toDS()), "uu_out")
    val got = spark.table("uu_out")
      .groupBy("event_date").agg(count(lit(1)).as("uu")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = ops.Aggs.dailyUniqueUsers(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(got == exp)
  }

  test("streaming is_new fix matches batch first-seen semantics") {
    import spark.implicits._
    val ms = MemoryStream[Event](3, spark, None)
    ms.addData(eventsData)
    runToMemory(Stateful.isNewFix(ms.toDS()), "isnew_out")
    val flags = spark.table("isnew_out")
    // exactly the first-date visits are flagged new
    val firstDates = ops.Aggs.userFirstSeen(Tables.load(spark, sf, "events"))
      .collect().map(r => r.getLong(0) -> r.getDate(1).toString).toMap
    val events = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        to_date(col("ts")).cast("string").as("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expNew = events.collect {
      case (eid, uid, d) if firstDates(uid) == d => eid
    }.toSet
    val gotNew = flags.where(col("is_new") === 1).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotNew == expNew)
  }

  test("streaming transitions match the batch Markov matrix across batches") {
    import spark.implicits._
    val ms = MemoryStream[Event](29, spark, None)
    // two in-order batches: the carried last-event state must chain the
    // cross-batch adjacency for every user spanning the split
    val sorted = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
    val (first, second) = sorted.splitAt(sorted.length / 2)
    ms.addData(first)
    ms.addData(second)
    runToMemory(Stateful.transitionEmits(ms.toDS()), "trans_out")
    val got = spark.table("trans_out")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val exp = ops.Aggs.transitionCounts(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == exp,
      s"stream/batch transition matrices differ: ${got.size} vs ${exp.size}")
  }

  test("streaming funnel state machine matches the batch funnel counts") {
    import spark.implicits._
    val ms = MemoryStream[Event](23, spark, None)
    // two in-order batches so stage state must carry across micro-batches
    val sorted = eventsData.sortBy(e => (e.ts.getTime, e.event_id))
    val (first, second) = sorted.splitAt(sorted.length / 2)
    ms.addData(first)
    ms.addData(second)
    runToMemory(Stateful.streamingFunnel(ms.toDS()), "funnel_out")
    val got = spark.table("funnel_out")
      .groupBy("stage").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = ops.Aggs.funnelStages(Tables.load(spark, sf, "events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"streaming $got vs batch $exp")
    // each user emits each stage at most once
    val dupes = spark.table("funnel_out")
      .groupBy("user_id", "stage_idx").count().where(col("count") > 1).count()
    assert(dupes == 0)
  }

  test("audited funnel surfaces disorder counters as data") {
    import spark.implicits._
    def ev(id: Long, u: Long, tp: String, s: String) =
      Event(id, java.sql.Timestamp.valueOf(s), u, tp, 0.0)
    val ms = MemoryStream[Event](26, spark, None)
    val q = Stateful
      .streamingFunnelAudited(ms.toDS(), maxPendingPerStage = 2)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("funnel_audit").start()
    // batch 1: user 1 advances view -> click cleanly
    ms.addData(Seq(ev(1, 1, "view", "2024-01-01 00:00:01"),
      ev(2, 1, "click", "2024-01-01 00:00:02")))
    q.processAllAvailable()
    // batch 2: user 1 gets a STALE view (two stages behind) and a LATE
    // click (older than the committed click time); user 2 floods 4
    // purchases with no view yet — cap 2 evicts 2
    ms.addData(Seq(
      ev(3, 1, "view", "2024-01-01 00:00:00"),
      ev(4, 1, "click", "2024-01-01 00:00:01"),
      ev(5, 2, "purchase", "2024-01-01 00:00:03"),
      ev(6, 2, "purchase", "2024-01-01 00:00:04"),
      ev(7, 2, "purchase", "2024-01-01 00:00:05"),
      ev(8, 2, "purchase", "2024-01-01 00:00:06")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("funnel_audit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(5), r.getInt(6),
        r.getInt(7)))
    // stage rows: user 1's two advancements, counters all zero
    val stageRows = rows.filter(_._2 == "stage")
    assert(stageRows.length == 2 && stageRows.forall(x =>
      x._1 == 1L && x._3 == 0 && x._4 == 0 && x._5 == 0), stageRows.toSeq)
    val disorder = rows.filter(_._2 == "disorder")
      .map(x => x._1 -> ((x._3, x._4, x._5))).toMap
    assert(disorder(1L) == ((1, 1, 0)),
      s"user 1 must report 1 late + 1 stale: $disorder")
    assert(disorder(2L) == ((0, 0, 2)),
      s"user 2 must report 2 cap evictions: $disorder")
  }

  test("streaming funnel buffers out-of-order stages across batch boundaries") {
    import spark.implicits._
    // Two SEPARATE query incarnations against a file source guarantee the
    // disorder really crosses a micro-batch boundary (MemoryStream blocks
    // can coalesce under AvailableNow).
    val srcDir = Files.createTempDirectory("graft_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_ooo_ckpt").toString
    val emits = scala.collection.mutable.ArrayBuffer[(Long, Int, String, String)]()
    val schema = Seq(Event(0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      0L, "x", 0.0)).toDF().schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .as[Event]
        .transform(Stateful.streamingFunnel(_))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Stateful.StageEmit], _: Long) =>
            b.collect().foreach(e => emits.synchronized {
              emits += ((e.user_id, e.stage_idx, e.stage, e.ts.toString))
            })
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    def ev(id: Long, u: Long, tp: String, s: String) =
      Event(id, java.sql.Timestamp.valueOf(s), u, tp, 0.0)
    // batch 1: user 1's purchase arrives a batch BEFORE its click; user 2's
    // click arrives before any view (and precedes the eventual view's ts,
    // so it must never fire)
    val batch1 = Seq(
      ev(1, 1, "view", "2024-01-01 10:00:00"),
      ev(2, 1, "purchase", "2024-01-01 10:10:00"),
      ev(3, 2, "click", "2024-01-01 09:00:00"))
    val batch2 = Seq(
      ev(4, 1, "click", "2024-01-01 10:05:00"),
      ev(5, 2, "view", "2024-01-01 09:30:00"))
    batch1.toDF().write.mode("append").parquet(srcDir)
    runOnce()
    batch2.toDF().write.mode("append").parquet(srcDir)
    runOnce()
    // must match the batch funnel over the union of both batches
    val exp = ops.Aggs.funnelStages((batch1 ++ batch2).toDF())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = emits.groupBy(_._3).view
      .mapValues(_.map(_._1).distinct.size.toLong).toMap
    def stagesMatch(g: Map[String, Long], e: Map[String, Long]) =
      Seq("view", "click", "purchase").forall(s =>
        g.getOrElse(s, 0L) == e.getOrElse(s, 0L))
    assert(stagesMatch(got, exp), s"streaming $got vs batch $exp")
    // the buffered purchase must surface with its ORIGINAL event time
    assert(emits.contains((1L, 3, "purchase", "2024-01-01 10:10:00.0")),
      s"buffered purchase not replayed faithfully: $emits")
    // user 2's too-early click must never fire
    assert(!emits.exists(e => e._1 == 2L && e._3 == "click"), s"$emits")
  }

  test("every stateful op with ttl=None terminates under Trigger.AvailableNow") {
    // pins the round-1 landmine: opting into a TTL switches on
    // ProcessingTimeTimeout / TimeMode.ProcessingTime, under which Spark
    // schedules micro-batches forever and AvailableNow NEVER terminates.
    // ttl=None must therefore stay the default for every stateful op — a
    // Spark upgrade that silently changes this hangs the whole suite, so
    // each op is asserted to finish (awaitTermination inside runToMemory).
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val some = eventsData.take(40)
    val m1 = MemoryStream[Event](41, spark, None); m1.addData(some)
    runToMemory(Stateful.firstEventOfDay(m1.toDS(), ttl = None), "ttl_n1")
    val m2 = MemoryStream[Event](42, spark, None); m2.addData(some)
    runToMemory(Stateful.uuNewEmits(m2.toDS(), ttl = None), "ttl_n2")
    val m3 = MemoryStream[Event](43, spark, None); m3.addData(some)
    // transformWithState requires the RocksDB provider (column families)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToMemory(Stateful.firstEventOfDayTws(m3.toDS(), ttl = None), "ttl_n3")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val m4 = MemoryStream[Upsert](44, spark, None)
    m4.addData(Seq(Upsert(1L, 10L, 5.0, ts(0)), Upsert(1L, 10L, 8.0, ts(1))))
    runToMemory(Stateful.deltaNetting(m4.toDS(), ttl = None), "ttl_n4")
    val m5 = MemoryStream[Event](45, spark, None); m5.addData(some)
    runToMemory(Stateful.isNewFix(m5.toDS()), "ttl_n5")
    // outputs non-empty: the ops actually processed data before stopping
    Seq("ttl_n1", "ttl_n2", "ttl_n3", "ttl_n4", "ttl_n5").foreach { tbl =>
      assert(spark.table(tbl).count() > 0, s"$tbl empty")
    }
  }

  test("streaming delta netting telescopes to last value") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val ms = MemoryStream[Upsert](4, spark, None)
    ms.addData(Seq(
      Upsert(1L, 10L, 5.0, ts(0)), Upsert(1L, 10L, 8.0, ts(1)),
      Upsert(1L, 10L, 6.5, ts(2)), Upsert(2L, 11L, 3.0, ts(0))))
    runToMemory(Stateful.deltaNetting(ms.toDS()), "delta_out")
    val sums = spark.table("delta_out").groupBy("id")
      .agg(round(sum(col("delta")), 6).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sums == Map(1L -> 6.5, 2L -> 3.0))
  }

  test("stream-stream interval join matches batch interval join") {
    import spark.implicits._
    val all = eventsData
    val ms1 = MemoryStream[Event](5, spark, None)
    val ms2 = MemoryStream[Event](6, spark, None)
    ms1.addData(all.filter(_.event_type == "purchase"))
    ms2.addData(all.filter(_.event_type == "signup"))
    runToMemory(Streams.intervalJoin(ms1.toDF(), ms2.toDF()), "ij_out")
    val got = spark.table("ij_out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exp = ops.Joins.purchasesWithRecentSignup(
        Tables.load(spark, sf, "events")).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("J2 stream-stream left outer join null-pads unmatched after watermark") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, user: Long, tpe: String, sec: Int) = Event(id,
      new java.sql.Timestamp(t0.getTime + sec * 1000L), user, tpe, 1.0)
    val msP = MemoryStream[Event](30, spark, None)
    val msS = MemoryStream[Event](31, spark, None)
    val q = Streams.intervalLeftJoin(msP.toDF(), msS.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("loj_out").start()
    // purchase 1 has a prior signup; purchase 2 has none
    msP.addData(Seq(ev(1, 10, "purchase", 300), ev(2, 11, "purchase", 300)))
    msS.addData(Seq(ev(50, 10, "signup", 100)))
    q.processAllAvailable()
    // advance both watermarks far past purchase 2's join window
    msP.addData(Seq(ev(3, 12, "purchase", 5000)))
    msS.addData(Seq(ev(51, 13, "signup", 5000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("loj_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(rows.contains((1L, 50L)), s"matched pair missing: $rows")
    assert(rows.contains((2L, -1L)),
      s"unmatched purchase must null-pad after watermark: $rows")
  }

  test("dedup within watermark drops redelivered ids") {
    import spark.implicits._
    val ms = MemoryStream[Event](7, spark, None)
    val dup = eventsData.take(50)
    ms.addData(dup ++ dup) // redelivery in the same batch
    runToMemory(Streams.dedupWithinWatermark(ms.toDF()), "dd_out")
    assert(spark.table("dd_out").count() == 50)
  }

  test("routed foreachBatch sink writes one directory per topic") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_route").toString
    val ms = MemoryStream[Event](8, spark, None)
    ms.addData(eventsData)
    val q = Streams.routedSink(ms.toDF(),
      () => ops.Splits.defaultRouteConfig(spark), out).start()
    q.processAllAvailable(); q.stop()
    val routed = spark.read.parquet(s"$out/dwd_trade_order")
    assert(routed.count() == eventsData.count(_.event_type == "purchase"))
    assert(new java.io.File(s"$out/dwd_user_register").exists())
    assert(!new java.io.File(s"$out/err_topic").exists())
  }

  test("S3 wire-twin: the exact kafkaJsonTable decode path runs end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // no broker/connector exists in this container, so the spec drives
    // THE SAME decode function `kafkaJsonTable` wraps
    // (Sources.decodeKafkaWire) with a MemoryStream shaped EXACTLY like
    // the kafka source's wire schema (binary key/value + topic/
    // partition/offset/timestamp), through a real writeStream, then
    // routes the decoded rows per-topic — the full S1/S3→S5 chain the
    // reference executes against Kafka (FlinkSourceUtil.java:21-48,
    // FlinkSinkUtil.java:38-52)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def payload(i: Int): String = {
      val tp = if (i % 2 == 0) "click" else "view"
      s"""{"event_id":$i,"ts":${base + i * 1000L},"user_id":${i % 7},""" +
        s""""event_type":"$tp","value":1.5}"""
    }
    val recs = (0 until 100).map { i =>
      (s"k$i".getBytes("UTF-8"), payload(i).getBytes("UTF-8"),
        "topic_db", 0, i.toLong, new java.sql.Timestamp(base + i * 1000L))
    }
    val ms = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      java.sql.Timestamp)](27, spark, None)
    ms.addData(recs)
    val wire = ms.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val decoded = sources.Sources.decodeKafkaWire(wire, schema)
    runToMemory(decoded.drop("proc_time"), "wire_rows")
    val got = spark.table("wire_rows")
    assert(got.count() == 100)
    // every field survived the binary->string->json decode, and
    // row_time is the millis-derived event time
    val r7 = got.where(col("event_id") === 7).head
    assert(r7.getLong(r7.fieldIndex("user_id")) == 0L)
    assert(r7.getString(r7.fieldIndex("event_type")) == "view")
    assert(r7.getTimestamp(r7.fieldIndex("row_time")).getTime
      == base + 7000L)
    // per-row-topic routed write (S5) off the decoded stream: one more
    // real writeStream, reading back the per-topic dirs
    val out = Files.createTempDirectory("graft_wire_route").toString
    val ms2 = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      java.sql.Timestamp)](28, spark, None)
    ms2.addData(recs)
    val decoded2 = sources.Sources.decodeKafkaWire(ms2.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp"),
      schema)
    val cfg = Seq(("click", "dwd_click"), ("view", "dwd_view"))
      .toDF("event_type", "sink_topic")
    val q2 = Streams.routedSink(decoded2.drop("proc_time", "row_time"),
      () => cfg, out).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$out/dwd_click").count() == 50)
    assert(spark.read.parquet(s"$out/dwd_view").count() == 50)
  }

  test("S2: config CDC snapshot + incremental change applies at batch granularity") {
    import spark.implicits._
    // the S2 semantic under test: routedSink re-reads the config snapshot
    // per micro-batch (the stand-in for a MySQL-CDC config stream), so a
    // config change lands on the NEXT batch, never retroactively
    val out = Files.createTempDirectory("graft_cdc_route").toString
    val cfgDir = Files.createTempDirectory("graft_cdc_cfg").toString + "/cfg"
    Seq(("purchase", "dwd_trade_order"), ("click", "dwd_traffic_click"))
      .toDF("event_type", "sink_topic")
      .write.mode("overwrite").parquet(cfgDir)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, typ: String) = Event(id, t0, id, typ, 1.0)
    val ms = MemoryStream[Event](21, spark, None)
    val q = Streams.routedSink(ms.toDF(),
      () => sources.Sources.configSnapshot(spark, cfgDir), out).start()
    ms.addData(Seq(ev(1, "purchase"), ev(2, "click"), ev(3, "view")))
    q.processAllAvailable()
    // CDC delta arrives between batches: click re-routes to a v2 topic,
    // view becomes routable, purchase is dropped from the config
    Seq(("click", "dwd_traffic_click_v2"), ("view", "dwd_traffic_page"))
      .toDF("event_type", "sink_topic")
      .write.mode("overwrite").parquet(cfgDir)
    ms.addData(Seq(ev(4, "purchase"), ev(5, "click"), ev(6, "view")))
    q.processAllAvailable(); q.stop()
    def ids(topic: String): Set[Long] = {
      val dir = new java.io.File(s"$out/$topic")
      if (!dir.exists()) Set.empty
      else spark.read.parquet(s"$out/$topic")
        .select("event_id").collect().map(_.getLong(0)).toSet
    }
    // batch 1 routed under v1: purchase+click in, view dropped
    assert(ids("dwd_trade_order") == Set(1L),
      "batch-2 purchase must NOT appear — it left the config before its batch")
    assert(ids("dwd_traffic_click") == Set(2L))
    // batch 2 routed under v2: no retroactive re-route of event 2/3
    assert(ids("dwd_traffic_click_v2") == Set(5L))
    assert(ids("dwd_traffic_page") == Set(6L),
      "view became routable only from batch 2 on")
  }

  test("S2 config DELETE (op='d'): route removal lands on the next batch") {
    import spark.implicits._
    // the reference's config-delete path (DimApp.java:85-140): a CDC
    // 'd' event removes the route from the live table; events of that
    // type stop routing from the NEXT batch on (batch granularity), and
    // already-written output is never destroyed by the router itself
    val out = Files.createTempDirectory("graft_cdc_del").toString
    val logDir = Files.createTempDirectory("graft_cdc_log").toString + "/log"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(("c", "purchase", "dwd_trade_order", t("2024-01-01 00:00:00")),
      ("c", "click", "dwd_traffic_click", t("2024-01-01 00:00:00")))
      .toDF("op", "event_type", "sink_topic", "ts")
      .write.mode("overwrite").parquet(logDir)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, typ: String) = Event(id, t0, id, typ, 1.0)
    val ms = MemoryStream[Event](24, spark, None)
    val q = Streams.routedSink(ms.toDF(),
      () => ops.Splits.routeConfigFromCdc(
        sources.Sources.configSnapshot(spark, logDir)), out).start()
    ms.addData(Seq(ev(1, "purchase"), ev(2, "click")))
    q.processAllAvailable()
    // the delete event APPENDS to the CDC log between batches
    Seq(("d", "purchase", "dwd_trade_order", t("2024-01-01 00:01:00")))
      .toDF("op", "event_type", "sink_topic", "ts")
      .write.mode("append").parquet(logDir)
    ms.addData(Seq(ev(3, "purchase"), ev(4, "click")))
    q.processAllAvailable(); q.stop()
    def ids(topic: String): Set[Long] = {
      val dir = new java.io.File(s"$out/$topic")
      if (!dir.exists()) Set.empty
      else spark.read.parquet(s"$out/$topic")
        .select("event_id").collect().map(_.getLong(0)).toSet
    }
    assert(ids("dwd_trade_order") == Set(1L),
      "purchase must stop routing after its op='d' — and batch-1 output " +
        "must survive (the router never drops written dirs)")
    assert(ids("dwd_traffic_click") == Set(2L, 4L),
      "undeleted routes must keep flowing")
    // re-create AFTER delete: a newer 'c' restores routing
    Seq(("c", "purchase", "dwd_trade_order_v2", t("2024-01-01 00:02:00")))
      .toDF("op", "event_type", "sink_topic", "ts")
      .write.mode("append").parquet(logDir)
    val current = ops.Splits.routeConfigFromCdc(
        sources.Sources.configSnapshot(spark, logDir))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(current == Map("purchase" -> "dwd_trade_order_v2",
      "click" -> "dwd_traffic_click"))
  }

  test("T4: late data beyond watermark is dropped in append mode") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, sec: Int) = Event(id,
      new java.sql.Timestamp(t0.getTime + sec * 1000L), 1L, "view", 1.0)
    val ms = MemoryStream[Event](20, spark, None)
    val stream = Streams.windowedTypeCounts(ms.toDF(), "10 seconds", "5 seconds")
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_out").start()
    ms.addData(Seq(ev(1, 0), ev(2, 3)))       // window [0,10)
    q.processAllAvailable()
    ms.addData(Seq(ev(3, 60)))                // advances watermark to 55s
    q.processAllAvailable()
    ms.addData(Seq(ev(4, 1)))                 // LATE: window [0,10) closed
    q.processAllAvailable()
    ms.addData(Seq(ev(5, 120)))               // flush more
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("late_out")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // the [0,10) window emitted cnt=2 — the late event 4 was NOT added
    assert(counts("2024-01-01 00:00:00") == 2L)
  }

  test("streaming heavy hitters: bounded MG state, exact-top-k parity " +
    "on a skewed stream") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_hh").toString + "/hh"
    val ms = MemoryStream[String](41, spark, None)
    val q = Streams.heavyHittersSink(ms.toDF(), state, m = 64).start()
    val all = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 3).foreach { b =>
      // Zipf head (k1..k40, counts 800/i) + a 500-key unique flood that
      // would blow up any per-key state but must NOT blow up MG state
      val words = (1 to 40).flatMap(i => Seq.fill(800 / i)(s"k$i")) ++
        (1 to 500).map(j => s"u${b}_$j")
      all ++= words
      ms.addData(words)
      q.processAllAvailable()
    }
    q.stop()
    val st = spark.read.parquet(state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st.size <= 64, s"state must stay bounded, got ${st.size}")
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    // MG contract: stored counts undercount by at most N/(m+1)
    st.foreach { case (k, c) =>
      assert(c <= exact(k), s"$k overcounted: $c > ${exact(k)}")
      assert(exact(k) - c <= n / 65 + 1,
        s"$k undercount beyond the MG bound")
    }
    // the Zipf head survives the unique flood: stored top-10 == exact
    def top10(m: Map[String, Long]) =
      m.toSeq.sortBy { case (k, c) => (-c, k) }.take(10).map(_._1).toSet
    assert(top10(st) == top10(exact))
  }

  test("heavy-hitters sink: batch replay is a no-op, state survives " +
    "the swap window") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_hh_st").toString + "/hh"
    def st() = spark.read.parquet(state).select("key", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b0 = (1 to 30).flatMap(i => Seq.fill(300 / i)(s"k$i"))
      .toDF("value")
    Streams.mergeHeavyHitters(b0, 0L, state, 64)
    val after1 = st()
    assert(after1("k1") == 300L) // 30 keys < m: counts are exact
    // at-least-once replay: the same batchId again (crash before the
    // streaming commit) — the bid guard must be a no-op, not a double
    Streams.mergeHeavyHitters(b0, 0L, state, 64)
    assert(st() == after1, "replayed batch must not double-count")
    // crash inside the swap window: target renamed away, _old present —
    // the next batch must recover the accumulated counts
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "_old"))
    val b1 = (31 to 40).flatMap(i => Seq.fill(10)(s"k$i")).toDF("value")
    Streams.mergeHeavyHitters(b1, 1L, state, 64)
    val after3 = st()
    assert(after3("k1") == 300L,
      "pre-crash counts must survive the swap window")
    assert(after3("k31") == 10L)
  }

  test("heavy-hitters sink: empty and legacy (bid-less) state survive") {
    import spark.implicits._
    // state written before the replay guard existed: (key, cnt) only —
    // must read as lastBid = -1 and merge, not fail analysis
    val legacy = Files.createTempDirectory("graft_hh_leg").toString + "/hh"
    Seq(("k1", 5L)).toDF("key", "cnt").write.parquet(legacy)
    Streams.mergeHeavyHitters(Seq("k1", "k2").toDF("value"), 0L,
      legacy, 8)
    val st = spark.read.parquet(legacy).select("key", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("k1" -> 6L, "k2" -> 1L))
    // an empty state file (all residuals cut in a prior merge) must not
    // NPE on the bid read; the next batch merges from scratch
    val empty = Files.createTempDirectory("graft_hh_emp").toString + "/hh"
    Seq.empty[(String, Long, Long)].toDF("key", "cnt", "bid")
      .write.parquet(empty)
    Streams.mergeHeavyHitters(Seq("x", "x", "y").toDF("value"), 3L,
      empty, 8)
    val st2 = spark.read.parquet(empty).select("key", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st2 == Map("x" -> 2L, "y" -> 1L))
  }

  test("drift sink: streamed PSI equals the batch operator after N batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift").toString
    val (state, out) = (dir + "/state", dir + "/out")
    // reference histogram: the admitted drop, values mostly low bins
    val refVals = Seq(1.0, 2.0, 3.0, 12.0, 22.0)
    val refCounts = refVals.groupBy(v => math.min(v / 10.0, 3.0).toLong)
      .view.mapValues(_.size.toLong).toMap
    val batches = Seq(
      Seq(5.0, 15.0, 35.0), // live feed drifts toward the high bins
      Seq(36.0, 37.0, 8.0))
    val ms = MemoryStream[Double](42, spark, None)
    val q = Streams.driftSink(ms.toDF(), refCounts, 4, 0.0, 40.0,
      state, out).start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    // state: bounded at nBins rows, accumulated across batches
    val st = spark.read.parquet(state).select("bin", "cnt").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st.size <= 4)
    assert(st == Map(0L -> 2L, 1L -> 1L, 3L -> 3L))
    // psi parity: the monitor's last row == DataQuality.psi over
    // (reference union everything-streamed), terms summed
    val lastPsi = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).maxBy(_._1)._2
    val union = (refVals.map((true, _)) ++
      batches.flatten.map((false, _))).toDF("is_ref", "v")
    val batchPsi = ops.DataQuality.psi(union, "v", col("is_ref"),
      4, 0.0, 40.0).collect().map(_.getDouble(3)).sum
    assert(math.abs(lastPsi - batchPsi) < 1e-9,
      s"stream psi $lastPsi != batch psi $batchPsi")
  }

  test("js sink: streamed categorical JSD equals the batch operator " +
      "after N batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_js").toString
    val (state, out) = (dir + "/state", dir + "/out")
    // reference: the admitted drop's category mix; the live feed skews
    // toward "zh" and introduces a NEW category the reference lacks
    val refVals = Seq("en", "en", "en", "zh", "de")
    val refCounts = refVals.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val batches = Seq(Seq("zh", "zh", "en"), Seq("zh", "fr", "fr"))
    val ms = MemoryStream[String](43, spark, None)
    val q = Streams.jsSink(ms.toDF(), refCounts, state, out).start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    // state: one row per observed streamed category
    val st = spark.read.parquet(state).select("cat", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("zh" -> 3L, "en" -> 1L, "fr" -> 2L))
    // parity: the monitor's last value == jsDivergence over
    // (reference union everything-streamed), terms summed — including
    // the fr category only the stream carries
    val lastJs = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).maxBy(_._1)._2
    val union = (refVals.map((true, _)) ++
      batches.flatten.map((false, _))).toDF("is_ref", "cat")
    val batchJs = ops.DataQuality.jsDivergence(union, "cat",
      col("is_ref")).collect().map(_.getDouble(3)).sum
    assert(math.abs(lastJs - batchJs) < 1e-9,
      s"stream js $lastJs != batch js $batchJs")
    // replay no-op: state untouched, nothing double-counted
    Streams.mergeJs(Seq("zh").toDF("cat"), 0L, refCounts, state, out)
    assert(spark.read.parquet(state).select("cat", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == st,
      "replayed batch must not double-count")
    // zero-count reference keys are rejected up front (K inflation)
    intercept[IllegalArgumentException] {
      Streams.mergeJs(Seq("zh").toDF("cat"), 9L,
        Map("en" -> 0L), state, out)
    }
    // STRUCTURAL state bound (the MG-sink discipline): a batch pushing
    // the merged cardinality past maxCats refuses loudly instead of
    // growing driver state; below the cap the exact parity above holds
    intercept[IllegalArgumentException] {
      Streams.mergeJs(Seq("aa", "bb", "cc").toDF("cat"), 9L,
        refCounts, state, out, maxCats = 4)
    }
    // the refusal left state untouched (fail BEFORE any effect)
    assert(spark.read.parquet(state).select("cat", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == st,
      "an over-cap batch must not partially merge")
  }

  test("drift sink: replay no-op, at-least-once output, swap recovery") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift2").toString
    val (state, out) = (dir + "/state", dir + "/out")
    val ref = Map(0L -> 3L, 1L -> 1L)
    def st() = spark.read.parquet(state).select("bin", "cnt").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Streams.mergeDrift(Seq(1.0, 11.0).toDF("v"), 0L, ref, 2, 0.0, 20.0,
      state, out)
    val after1 = st()
    assert(after1 == Map(0L -> 1L, 1L -> 1L))
    // at-least-once replay of batch 0: state must NOT double-count
    Streams.mergeDrift(Seq(1.0, 11.0).toDF("v"), 0L, ref, 2, 0.0, 20.0,
      state, out)
    assert(st() == after1, "replayed batch must not double-count")
    // crash inside the swap window: recover accumulated bins from _old
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "_old"))
    Streams.mergeDrift(Seq(15.0).toDF("v"), 1L, ref, 2, 0.0, 20.0,
      state, out)
    assert(st() == Map(0L -> 1L, 1L -> 2L),
      "pre-crash bins must survive the swap window")
    // output is keyed by bid and dedupable: one distinct row per batch
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L))
    assert(rows.distinct.length == rows.map(_._1).distinct.length,
      "replayed output rows must carry identical psi values")
  }

  test("w1 sink: streamed per-dim W1 equals the batch operator after " +
      "a kill/restart; replay is a state no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_w1s").toString
    val (state, out, ckpt) = (dir + "/state", dir + "/out", dir + "/ckpt")
    val all = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // reference = the admitted (even vec_id) drop; the stream carries
    // the live (odd) feed in NON-id-order batches with a kill between
    val ref = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
      .localCheckpoint()
    val live = new scala.util.Random(31L).shuffle(all.filter(_._1 % 2 == 1))
    val ms = MemoryStream[(Long, Array[Float])](95, spark, None)
    def startQ() = Streams.w1Sink(ms.toDS().toDF("vec_id", "embedding"),
      ref, state, out).option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    ms.addData(live.take(100)); q1.processAllAvailable()
    q1.stop() // kill
    val q2 = startQ()
    ms.addData(live.drop(100)); q2.processAllAvailable(); q2.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("dim", "n_ref", "n_cur", "w1").collect()
      .map(_.toSeq.toList).toSet
    val outAll = spark.read.parquet(out)
    val lastBid = outAll.select(max(col("bid"))).head.getLong(0)
    val got = rows(outAll.where(col("bid") === lastBid))
    // batch twin: embeddingW1 over the union with even ids as the ref
    val want = rows(ops.DataQuality.embeddingW1(
      all.toDF("vec_id", "embedding"), col("vec_id") % 2 === 0))
    assert(got == want,
      s"streamed W1 diverged: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // replay of a committed bid: state untouched, no output appended.
    // The refCounts frame is shaped like the real contract — (dim, qx,
    // n_ref), empty — so a replay-guard regression fails on the "must
    // not append" assertion below, not on join analysis of a
    // wrong-schema frame
    val before = outAll.count()
    val emptyRef = ops.DataQuality
      .quantizedComponents(ref.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("n_ref"))
      .limit(0)
    Streams.mergeW1(Seq((9999L, Array(0.5f))).toDF("vec_id", "embedding"),
      0L, emptyRef, state, out)
    assert(spark.read.parquet(out).count() == before,
      "replayed batch must neither re-merge state nor append output")
  }

  test("w1 delta sink: scores identically to the rewrite form, per-batch " +
      "writes bounded by the batch's own support, compaction-stable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_w1d").toString
    val (stateA, outA) = (dir + "/stateA", dir + "/outA") // rewrite form
    val (stateB, outB) = (dir + "/stateB", dir + "/outB") // delta form
    val all = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val ref = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val refCounts = ops.DataQuality
      .quantizedComponents(ref.select(col("embedding")))
      .groupBy(col("dim"), col("qx")).agg(count(lit(1)).as("n_ref"))
      .localCheckpoint()
    val live = new scala.util.Random(47L)
      .shuffle(all.filter(_._1 % 2 == 1))
    val batches = live.grouped(60).toSeq
    def df(i: Int) = batches(i).toDF("vec_id", "embedding")
    batches.indices.foreach { i =>
      Streams.mergeW1(df(i), i.toLong, refCounts, stateA, outA)
      Streams.mergeW1Delta(df(i), i.toLong, refCounts, stateB, outB)
    }
    def rows(p: String, bid: Long) = spark.read.parquet(p)
      .where(col("bid") === bid)
      .select("dim", "n_ref", "n_cur", "w1").collect()
      .map(_.toSeq.toList).toSet
    batches.indices.foreach { i =>
      assert(rows(outA, i) == rows(outB, i),
        s"delta form diverged from rewrite form at batch $i") }
    // bounded per-batch write: the bid=0 delta carries exactly batch
    // 0's own (dim, qx) support — NOT the accumulated support the
    // rewrite form re-persists every batch
    val d0 = spark.read.parquet(s"$stateB/delta/bid=0").count()
    val s0 = ops.DataQuality
      .quantizedComponents(df(0).select(col("embedding")))
      .groupBy(col("dim"), col("qx")).count().count()
    assert(d0 == s0, s"delta partition must hold only the batch's own " +
      s"support: wrote $d0, batch support $s0")
    // replay of a committed bid: no state change, no output appended
    val before = spark.read.parquet(outB).count()
    Streams.mergeW1Delta(df(0), 0L, refCounts, stateB, outB)
    assert(spark.read.parquet(outB).count() == before,
      "replayed batch must be a no-op")
    // compaction collapses the bid partitions; the NEXT batch still
    // scores identically on both forms (committed rows are bid-stable)
    Streams.compactIngestIndex(spark, s"$stateB/delta",
      s"$stateB/frontier")
    val extra = Seq((9001L, all.head._2), (9003L, all.last._2))
    val nb = batches.length.toLong
    Streams.mergeW1(extra.toDF("vec_id", "embedding"), nb, refCounts,
      stateA, outA)
    Streams.mergeW1Delta(extra.toDF("vec_id", "embedding"), nb, refCounts,
      stateB, outB)
    assert(rows(outA, nb) == rows(outB, nb),
      "post-compaction batch must score identically on both forms")
  }

  test("E3 DimApp pipeline: CDC stream -> config prune -> keyed dim upsert") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_dim").toString + "/dim"
    val cfg = Seq(("user_info", "id,user_id"), ("order_info", "id,amount"))
      .toDF("table", "sink_columns")
    val ms = MemoryStream[Event](24, spark, None)
    val q = ops.Etl.toCdcEnvelope(ms.toDF())
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // config re-read per micro-batch (E3 batch-granularity semantics)
        val pruned = ops.Etl.pruneColumnsFromConfig(batch, cfg)
        pruned.write.mode("append").parquet(out)
      }.start()
    ms.addData(eventsData.take(200))
    q.processAllAvailable()
    q.stop()
    val dim = spark.read.parquet(out)
    val expected = eventsData.take(200)
      .count(e => e.event_type == "signup" || e.event_type == "purchase")
    assert(dim.count() == expected)
    assert(dim.select("table").distinct().collect().map(_.getString(0)).toSet
      == Set("user_info", "order_info"))
  }

  test("quantile sink: streamed estimates equal the batch sketch exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_quant").toString
    val (state, out) = (dir + "/state", dir + "/out")
    val qs = Seq(0.5, 0.9)
    val k = 4
    val rows = (1 to 40).map(i =>
      (if (i % 2 == 0) "a" else "b", i.toLong, (i * 7 % 23).toDouble))
    val ms = MemoryStream[(String, Long, Double)](77, spark, None)
    val q = Streams.quantileSink(ms.toDS().toDF("g", "id", "v"), Seq("g"),
      "v", "id", k, qs, state, out).start()
    Seq(rows.take(15), rows.slice(15, 30), rows.drop(30)).foreach { b =>
      ms.addData(b); q.processAllAvailable()
    }
    q.stop()
    // state: bounded at k rows per group, and IS the global bottom-k
    val st = spark.read.parquet(state)
    val perGroup = st.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ <= k))
    val direct = ops.Sketches.bottomKSample(
        rows.toDF("g", "id", "v"), Seq("g"), "id", k)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(st.select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == direct,
      "state must equal the batch bottom-k of everything streamed")
    // final-batch output == the batch operator over the full stream
    val outRows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(3), r.getString(0), r.getDouble(1),
        r.getDouble(2)))
    val lastBid = outRows.map(_._1).max
    val streamed = outRows.filter(_._1 == lastBid)
      .map { case (_, g, qq, e) => (g, qq, e) }.toSet
    val batch = ops.Sketches.sampledQuantiles(rows.toDF("g", "id", "v"),
        Seq("g"), "v", "id", k, qs)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch,
      s"stream $streamed != batch $batch — mergeability broken")
  }

  test("dedup ingest sink: greedy-online decisions, hand-computed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest").toString
    val (state, out) = (dir + "/state", dir + "/out")
    def run(bid: Long, rows: Seq[(Long, String)]): Unit =
      Streams.mergeDedupIngest(rows.toDF("doc_id", "text"), bid, state,
        out, 3, 0.5)
    run(0L, Seq(1L -> "alpha beta gamma delta epsilon"))
    run(1L, Seq(
      2L -> "alpha beta gamma delta epsilon", // exact dup of 1
      3L -> "alpha beta gamma delta zeta", // jaccard 0.5 with 1 -> near
      4L -> "one two three four five")) // keep
    // d5 is near d3 (0.5) but NOT near d1 (0.2); d3 was never admitted,
    // so greedy-online ADMITS d5 where global closure would drop it
    run(2L, Seq(5L -> "beta gamma delta zeta eta"))
    val decisions = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2))))
      .toMap
    assert(decisions(1L)._1 == "keep")
    assert(decisions(2L) == (("exact_dup", Some(1L))))
    assert(decisions(3L) == (("near_dup", Some(1L))))
    assert(decisions(4L)._1 == "keep")
    assert(decisions(5L)._1 == "keep", "greedy-online must admit the " +
      "chain end whose partner was never accepted")
    val corpus = spark.read.parquet(state + "/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpus == Set(1L, 4L, 5L))
    // the durable index holds exactly the accepted docs' postings
    assert(spark.read.parquet(state + "/index/fp").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
  }

  test("dedup ingest sink: MemoryStream run, replay no-op, recovery") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest2").toString
    val (state, out) = (dir + "/state", dir + "/out")
    // 54 real docs + 6 planted cross-batch duplicates of earlier texts
    val base = Tables.load(spark, sf, "documents")
      .orderBy(col("doc_id")).limit(54)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val docs = base ++ base.take(6).zipWithIndex.map { case ((_, t), i) =>
      (800000L + i, t)
    }
    val ms = MemoryStream[(Long, String)](91, spark, None)
    val q = Streams.dedupIngestSink(ms.toDS().toDF("doc_id", "text"),
      state, out).start()
    Seq(docs.take(20), docs.slice(20, 40), docs.drop(40)).foreach { b =>
      ms.addData(b); q.processAllAvailable()
    }
    q.stop()
    // parity: the sink's corpus == the driver loop of the batch operator
    // over the same batch boundaries
    var corpus = Seq.empty[(Long, String)]
    Seq(docs.take(20), docs.slice(20, 40), docs.drop(40)).foreach { b =>
      val kept = ops.Dedup.incrementalDedup(
          corpus.toDF("doc_id", "text"), b.toDF("doc_id", "text"), 3, 0.5)
        .where(col("decision") === "keep")
        .collect().map(_.getLong(0)).toSet
      corpus = corpus ++ b.filter(r => kept(r._1))
    }
    def corpusIds = spark.read.parquet(state + "/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = corpusIds
    assert(got == corpus.map(_._1).toSet && got.nonEmpty)
    assert(got.size < docs.size, "planted dups must be dropped")
    // replay of the last batch: corpus, index, and audit unchanged
    val outRows = spark.read.parquet(out).count()
    Streams.mergeDedupIngest(docs.drop(40).toDF("doc_id", "text"), 2L,
      state, out, 3, 0.5)
    assert(corpusIds == got)
    assert(spark.read.parquet(out).count() == outRows)
    // crash between the index append and the corpus commit: orphan index
    // rows carry bid > committed frontier — the replayed batch must see
    // the same corpus slice and reach the same decisions (duplicate
    // postings for the replayed bid are tolerated by construction)
    val fresh = Seq((900001L, "a fresh never seen document body"),
      (900002L, "a fresh never seen document body")) // exact dup within
    ops.Dedup.appendDedupIndex(fresh.toDF("doc_id", "text"),
      state + "/index/fp", state + "/index/shingles", 3L)
    Streams.mergeDedupIngest(fresh.toDF("doc_id", "text"), 3L,
      state, out, 3, 0.5)
    assert(corpusIds == got + 900001L,
      "orphan index rows must not poison the replayed batch")
    val last = spark.read.parquet(out).where(col("bid") === 3L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(last == Map(900001L -> "keep", 900002L -> "exact_dup"))
    // SUBSEQUENT batch after the orphan-replay: the replayed bid=3
    // partition was overwritten (not double-appended), so 900001's
    // postings exist exactly once and a later near-dup of it must be
    // caught with full-strength Jaccard (duplicate postings would halve
    // the score and silently admit it)
    Streams.mergeDedupIngest(
      Seq((900003L, "a fresh never seen document text"))
        .toDF("doc_id", "text"), 4L, state, out, 3, 0.5)
    val b4 = spark.read.parquet(out).where(col("bid") === 4L).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(b4 == Map(900003L -> (("near_dup", Some(900001L)))),
      s"post-replay batch misclassified: $b4")
  }

  test("dedup ingest sink: steady-state guard is O(1) — never a corpus read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest3").toString
    val (state, out) = (dir + "/state", dir + "/out")
    Streams.mergeDedupIngest(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      0L, state, out, 3, 0.5)
    Streams.mergeDedupIngest(
      Seq((2L, "one two three four five")).toDF("doc_id", "text"),
      1L, state, out, 3, 0.5)
    // poison the corpus: replace every corpus data file with garbage
    // bytes — ANY parquet read of the corpus now throws, so the batch
    // below succeeding proves the steady-state guard + classification
    // read only the frontier marker and the index
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val corpusPath = new org.apache.hadoop.fs.Path(state + "/corpus")
    val it = fs.listFiles(corpusPath, true)
    var poisoned = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val o = fs.create(f.getPath, true)
        o.write("not a parquet file".getBytes("UTF-8")); o.close()
        poisoned += 1
      }
    }
    assert(poisoned > 0, "poisoning found no corpus files")
    intercept[Exception] {
      spark.read.parquet(state + "/corpus").count()
    }
    Streams.mergeDedupIngest(
      Seq((3L, "alpha beta gamma delta epsilon"), // exact dup of 1
        (4L, "six seven eight nine ten"))
        .toDF("doc_id", "text"), 2L, state, out, 3, 0.5)
    val b2 = spark.read.parquet(out).where(col("bid") === 2L).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(b2 == Map(3L -> (("exact_dup", Some(1L))), 4L -> (("keep", None))),
      s"steady-state batch misclassified: $b2")
    // frontier FALLBACK: marker deleted -> the guard scans corpus bids
    // once (legacy/first-run path) — restore a readable corpus first
    fs.delete(corpusPath, true)
    fs.delete(new org.apache.hadoop.fs.Path(state + "/frontier"), true)
    fs.delete(new org.apache.hadoop.fs.Path(state + "/frontier_old"), true)
    Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
      .write.parquet(state + "/corpus/bid=2")
    val outBefore = spark.read.parquet(out).count()
    // replay of bid 2 must be caught by the FALLBACK scan (marker absent)
    Streams.mergeDedupIngest(
      Seq((5L, "anything at all here")).toDF("doc_id", "text"), 2L,
      state, out, 3, 0.5)
    assert(spark.read.parquet(out).count() == outBefore,
      "fallback corpus-scan guard failed to stop a replayed bid")
  }

  test("quantile sink: replay no-op and swap-window recovery") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_quant2").toString
    val (state, out) = (dir + "/state", dir + "/out")
    val qs = Seq(0.5)
    def b1 = Seq(("a", 1L, 5.0), ("a", 2L, 7.0)).toDF("g", "id", "v")
    Streams.mergeQuantiles(b1, 0L, Seq("g"), "v", "id", 8, qs, state, out)
    val after1 = spark.read.parquet(state).select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val out1 = spark.read.parquet(out).count()
    // at-least-once replay of batch 0: state AND output unchanged
    Streams.mergeQuantiles(b1, 0L, Seq("g"), "v", "id", 8, qs, state, out)
    assert(spark.read.parquet(state).select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == after1)
    assert(spark.read.parquet(out).count() == out1,
      "replayed batch must not append output")
    // crash inside the swap window: recover the sample from _old
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "_old"))
    Streams.mergeQuantiles(Seq(("a", 3L, 9.0)).toDF("g", "id", "v"), 1L,
      Seq("g"), "v", "id", 8, qs, state, out)
    val recovered = spark.read.parquet(state).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(recovered == Set(1L, 2L, 3L),
      "swap-window crash must not lose the accumulated sample")
  }

  test("J4 stream-static broadcast lookup enriches every record") {
    import spark.implicits._
    val ms = MemoryStream[Event](23, spark, None)
    ms.addData(eventsData.take(100))
    val joined = Streams.lookupJoin(ms.toDF(),
      Tables.load(spark, sf, "region"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("lkp_out").start()
    assert(q.awaitTermination(120000))
    val out = spark.table("lkp_out")
    assert(out.count() == 100)
    assert(out.where(col("r_name").isNull).count() == 0)
  }

  test("streaming session windows match batch sessionization") {
    import spark.implicits._
    val ms = MemoryStream[Event](22, spark, None)
    ms.addData(eventsData)
    val sessions = ops.Aggs.userSessions(ms.toDF())
    val q = sessions.writeStream.outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sess_out").start()
    assert(q.awaitTermination(120000))
    val got = spark.table("sess_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = ops.Aggs.userSessions(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("E1 chain: filter -> stateful dedup -> windowed agg in one streaming query") {
    import spark.implicits._
    val ms = MemoryStream[Event](21, spark, None)
    ms.addData(eventsData)
    // the DwdBaseLog -> DwsTraffic chain: page leg, first-event-of-day
    // dedup, then daily uu — all one continuous streaming dataflow
    val page = ms.toDS().filter(e =>
      e.event_type == "view" || e.event_type == "click")
    val chained = Stateful.firstEventOfDay(page)
      .groupBy(col("event_date")).agg(count(lit(1)).as("uu"))
    val q = chained.writeStream.outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("chain_out").start()
    assert(q.awaitTermination(120000))
    val got = spark.table("chain_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = ops.Aggs.dailyUniqueUsers(
        Tables.load(spark, sf, "events")
          .where(col("event_type").isin("view", "click")))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(got == exp)
  }

  test("T7: checkpointed aggregation recovers state across restarts") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val all = eventsData
    val (chunk1, chunk2) = all.splitAt(all.size / 2)
    val schema = chunk1.toDF().schema
    val counts = scala.collection.mutable.Map[String, Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .groupBy(col("event_type")).count()
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => counts(r.getString(0)) = r.getLong(1))
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    chunk1.toDF().write.mode("append").parquet(srcDir)
    runOnce() // first incarnation processes chunk 1
    chunk2.toDF().write.mode("append").parquet(srcDir)
    runOnce() // restarted incarnation must RESUME state, not recount
    val exp = all.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
    assert(counts.toMap == exp,
      s"recovered counts must cover both incarnations: $counts vs $exp")
  }

  test("streaming funnel stage state survives a checkpoint restart") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_fn_src").toString
    val ckpt = Files.createTempDirectory("graft_fn_ckpt").toString
    val emits = scala.collection.mutable.ArrayBuffer[(Long, Int, String)]()
    val schema = Seq(Event(0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      0L, "x", 0.0)).toDF().schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .as[Event]
        .transform(Stateful.streamingFunnel(_))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Stateful.StageEmit], _: Long) =>
            b.collect().foreach(e => emits.synchronized {
              emits += ((e.user_id, e.stage_idx, e.stage))
            })
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    def ev(id: Long, u: Long, tp: String, s: String) =
      Event(id, java.sql.Timestamp.valueOf(s), u, tp, 0.0)
    // incarnation 1: user 1 views and clicks
    Seq(ev(1, 1, "view", "2024-01-01 10:00:00"),
      ev(2, 1, "click", "2024-01-01 10:05:00"))
      .toDF().write.mode("append").parquet(srcDir)
    runOnce()
    // incarnation 2 (restart): the purchase must advance the RECOVERED
    // stage-2 state, and a replayed click must NOT double-emit
    Seq(ev(3, 1, "click", "2024-01-01 10:06:00"),
      ev(4, 1, "purchase", "2024-01-01 10:10:00"))
      .toDF().write.mode("append").parquet(srcDir)
    runOnce()
    assert(emits.sortBy(_._2).toList == List(
      (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase")),
      s"unexpected emits: $emits")
  }

  test("streaming exact dedup: keeper state survives batches and restarts") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_dd_src").toString
    val ckpt = Files.createTempDirectory("graft_dd_ckpt").toString
    val emits = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val schema = Seq(Stateful.DocIn(0L, "x")).toDF().schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .as[Stateful.DocIn]
        .transform(Stateful.exactDedupStream(_, ttl = None))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Stateful.DedupEmit], _: Long) =>
            b.collect().foreach(e => emits.synchronized {
              emits += ((e.doc_id, e.decision, e.dup_of.getOrElse(-1L)))
            })
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    // incarnation 1: two contents; doc 5 duplicates doc 1 within the batch
    // (min id wins); normalization folds case and punctuation
    Seq(Stateful.DocIn(5L, "Alpha, beta!"), Stateful.DocIn(1L, "alpha beta"),
      Stateful.DocIn(2L, "gamma delta"))
      .toDF().write.mode("append").parquet(srcDir)
    runOnce()
    // incarnation 2 (restart): doc 7 duplicates doc 2's content seen in
    // the PREVIOUS incarnation — recovered keeper state must catch it
    Seq(Stateful.DocIn(7L, "GAMMA   delta"), Stateful.DocIn(8L, "epsilon"))
      .toDF().write.mode("append").parquet(srcDir)
    runOnce()
    val byDoc = emits.map(e => e._1 -> ((e._2, e._3))).toMap
    assert(byDoc(1L) == (("keep", -1L)))
    assert(byDoc(5L) == (("exact_dup", 1L)))
    assert(byDoc(2L) == (("keep", -1L)))
    assert(byDoc(7L) == (("exact_dup", 2L)), s"cross-restart dup: $byDoc")
    assert(byDoc(8L) == (("keep", -1L)))
  }

  test("transformWithState first-event-of-day matches batch (RocksDB store)") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event](14, spark, None)
      ms.addData(eventsData)
      // no TTL: like the old API, a TTL (=> TimeMode.ProcessingTime) makes
      // Spark schedule micro-batches forever, so AvailableNow never
      // terminates — measured, documented on firstEventOfDayTws
      runToMemory(Stateful.firstEventOfDayTws(ms.toDS()), "tws_out")
      val got = spark.table("tws_out")
        .groupBy("event_date").agg(count(lit(1)).as("uu")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = ops.Aggs.dailyUniqueUsers(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      assert(got == exp)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("DwsTradeOrderWindow streaming shell matches the batch app") {
    import spark.implicits._
    val ms = MemoryStream[Event](10, spark, None)
    ms.addData(eventsData.filter(_.event_type == "purchase"))
    runToMemory(Stateful.uuNewEmits(ms.toDS()), "order_uu_out")
    val got = spark.table("order_uu_out")
      .groupBy("event_date")
      .agg(sum(col("uu")).as("order_uu"),
        sum(col("is_new")).as("order_new_user_ct"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = apps.Apps.dwsTradeOrder(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == exp)
  }

  test("DwsTradePaymentSucWindow streaming shell (join + state) matches the batch app") {
    import spark.implicits._
    val mp = MemoryStream[Event](11, spark, None)
    val msg = MemoryStream[Event](12, spark, None)
    mp.addData(eventsData.filter(_.event_type == "purchase"))
    msg.addData(eventsData.filter(_.event_type == "signup"))
    runToMemory(Streams.paySucUuNew(mp.toDF(), msg.toDF()), "paysuc_out")
    val got = spark.table("paysuc_out")
      .groupBy("event_date")
      .agg(sum(col("uu")).as("pay_suc_uu"),
        sum(col("is_new")).as("pay_suc_new_user_ct"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = apps.Apps.dwsTradePaymentSuc(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == exp)
  }

  test("DwsTradeTrademarkCategoryUserRefundWindow streaming shell matches the batch app") {
    val li = Tables.load(spark, sf, "lineitem")
    val returnsData = li.where(col("l_returnflag") === "R")
    // file-less stream twin: feed the returned lineitems through the same
    // dim chain + exact-distinct agg in Complete mode via a Rate-less
    // MemoryStream of rows (typed to the needed columns)
    import spark.implicits._
    val ms = MemoryStream[(Long, Double)](13, spark, None)
    ms.addData(returnsData.select(col("l_orderkey"), col("l_extendedprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val stream = ms.toDF().toDF("l_orderkey", "l_extendedprice")
    val out = Streams.refundWindow(stream,
      Tables.load(spark, sf, "orders"), Tables.load(spark, sf, "customer"),
      Tables.load(spark, sf, "nation"), Tables.load(spark, sf, "region"))
    runToMemory(out, "refund_out", OutputMode.Complete())
    val got = spark.table("refund_out")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        math.round(r.getDouble(4) * 100))).toSet
    val exp = apps.Apps.dwsTradeUserRefund(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        math.round(r.getDouble(4) * 100))).toSet
    assert(got.nonEmpty)
    assert(got == exp)
  }

  test("upsert sink tombstones: CDC delete removes the key, newer re-insert survives") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_upsert_del").toString + "/t"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val ms = MemoryStream[Event](15, spark, None)
    // event_type == "error" plays the CDC delete record
    val q = Streams.upsertSink(ms.toDF(), out,
      Some(col("event_type") === "error")).start()
    ms.addData(Seq(Event(1L, ts(0), 10L, "purchase", 5.0),
      Event(2L, ts(0), 11L, "purchase", 7.0),
      Event(3L, ts(0), 12L, "purchase", 9.0)))
    q.processAllAvailable()
    // delete key 1; update key 2; delete-then-reinsert key 3
    ms.addData(Seq(Event(1L, ts(5), 10L, "error", 0.0),
      Event(2L, ts(5), 11L, "purchase", 8.0),
      Event(3L, ts(5), 12L, "error", 0.0),
      Event(3L, ts(6), 12L, "purchase", 1.5)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out)
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(2L -> 8.0, 3L -> 1.5), s"got $rows")
  }

  test("upsert sink survives a checkpoint restart, exactly-once-observable") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_up_src").toString
    val ckpt = Files.createTempDirectory("graft_up_ckpt").toString
    val tgt = Files.createTempDirectory("graft_up_tgt").toString + "/t"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val schema = Seq(Event(0L, ts(0), 0L, "x", 0.0)).toDF().schema
    def runOnce(): Unit = {
      val q = Streams.upsertSink(
          spark.readStream.schema(schema).parquet(srcDir),
          tgt, Some(col("event_type") === "error"))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    Seq(Event(1L, ts(0), 10L, "purchase", 5.0),
      Event(2L, ts(0), 11L, "purchase", 7.0)).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    // incarnation 2 (restart): update key 1, tombstone key 2, insert key 3
    // — the merge must run against the RECOVERED target, and the source
    // checkpoint must not replay incarnation 1's file into the merge
    Seq(Event(1L, ts(5), 10L, "purchase", 9.0),
      Event(2L, ts(5), 11L, "error", 0.0),
      Event(3L, ts(5), 12L, "purchase", 3.0)).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    def table() = spark.read.parquet(tgt).select("event_id", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val afterRestart = table()
    // == the batch twin (keep-newest per key, tombstones removed) over
    // the union of both incarnations' input
    assert(afterRestart == Map(1L -> 9.0, 3L -> 3.0), s"got $afterRestart")
    // incarnation 3, no new input: restart must be observably a no-op
    runOnce()
    assert(table() == afterRestart, "restart without input must not change the table")
  }

  test("routed sink survives a checkpoint restart without replaying topics") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_rt_src").toString
    val ckpt = Files.createTempDirectory("graft_rt_ckpt").toString
    val out = Files.createTempDirectory("graft_rt_out").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, tp: String) =
      Event(id, new java.sql.Timestamp(t0.getTime + id * 1000L), id, tp, 1.0)
    val schema = Seq(ev(0, "x")).toDF().schema
    def runOnce(): Unit = {
      val q = Streams.routedSink(
          spark.readStream.schema(schema).parquet(srcDir),
          () => ops.Splits.defaultRouteConfig(spark), out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    Seq(ev(1, "purchase"), ev(2, "view")).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    // incarnation 2 (restart): appends must land exactly once — the
    // append-mode topic dirs would show duplicates if the source replayed
    Seq(ev(3, "purchase"), ev(4, "signup")).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    def ids(topic: String) = spark.read.parquet(s"$out/$topic")
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids("dwd_trade_order") == Seq(1L, 3L))
    assert(ids("dwd_traffic_page") == Seq(2L))
    assert(ids("dwd_user_register") == Seq(4L))
    // incarnation 3, no new input: nothing may be appended anywhere
    runOnce()
    assert(ids("dwd_trade_order") == Seq(1L, 3L) &&
      ids("dwd_traffic_page") == Seq(2L) &&
      ids("dwd_user_register") == Seq(4L),
      "restart without input must not re-append")
  }

  test("upsert foreachBatch sink keeps last write per key") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_upsert").toString + "/t"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val ms = MemoryStream[Event](9, spark, None)
    val q = Streams.upsertSink(ms.toDF(), out).start()
    ms.addData(Seq(Event(1L, ts(0), 10L, "purchase", 5.0),
      Event(2L, ts(0), 11L, "purchase", 7.0)))
    q.processAllAvailable()
    ms.addData(Seq(Event(1L, ts(5), 10L, "purchase", 9.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out)
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 9.0, 2L -> 7.0))
  }

  test("txn sink: exactly-once-observable output through a stream run") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_txn1").toString + "/t"
    val ms = MemoryStream[(Long, String)](93, spark, None)
    val q = Streams.txnSink(ms.toDS().toDF("id", "payload"), out).start()
    ms.addData(Seq((1L, "a"), (2L, "b"))); q.processAllAvailable()
    ms.addData(Seq((3L, "c"))); q.processAllAvailable()
    q.stop()
    val got = Streams.readCommitted(spark, out).get
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L),
      "read-committed must see every produced row exactly once")
  }

  test("streamed audit3 + e14: the health report and the semantic " +
      "release from committed flags equal their batch twins") {
    import spark.implicits._
    import graft.ops.{Pipeline, Similarity}
    val dir = Files.createTempDirectory("graft_a3s").toString
    val docsFull = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .localCheckpoint()
    val embFull = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val benchDocs = docsFull.where(col("doc_id") < 25).localCheckpoint()
    val benchEmb = embFull.where(col("vec_id") < 25).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    // before ANY leg commits, the health report refuses (a silently
    // missing modality would read as "clean")
    assert(Streams.benchmarkHealthFromIngest(spark,
      s"$dir/ms", s"$dir/mo", s"$dir/qs", s"$dir/qo",
      s"$dir/es", s"$dir/eo").isEmpty)
    // drive the three contamination sinks (per-leg kill/restart and
    // arrival-order parity are pinned by their own specs — this one
    // pins the COMPOSITIONS)
    val docRows = docsFull.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val msDoc = MemoryStream[(Long, String)](97, spark, None)
    val qm = Streams.fullMediaIngestSink(
        msDoc.toDS().toDF("doc_id", "text"), s"$dir/ms", s"$dir/mo",
        benchDocs = Some(benchDocs))
      .option("checkpointLocation", s"$dir/mc").start()
    msDoc.addData(docRows); qm.processAllAvailable(); qm.stop()
    val msQ = MemoryStream[(Long, String)](98, spark, None)
    val qq = Streams.quoteContaminationSink(
        msQ.toDS().toDF("doc_id", "text"), s"$dir/qs", s"$dir/qo",
        benchDocs)
      .option("checkpointLocation", s"$dir/qc").start()
    msQ.addData(docRows); qq.processAllAvailable(); qq.stop()
    val embRows = embFull.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val msE = MemoryStream[(Long, Array[Float])](99, spark, None)
    val qe = Streams.embeddingContaminationSink(
        msE.toDS().toDF("vec_id", "embedding"), benchEmb, s"$dir/es",
        s"$dir/eo")
      .option("checkpointLocation", s"$dir/ec").start()
    msE.addData(embRows); qe.processAllAvailable(); qe.stop()
    // streamed audit3 == batch (same budgets: media 5/3, quote 0.8,
    // embedding 0.4, holdout < 25 on all three legs)
    assert(rows(Streams.benchmarkHealthFromIngest(spark,
        s"$dir/ms", s"$dir/mo", s"$dir/qs", s"$dir/qo",
        s"$dir/es", s"$dir/eo").get)
      == rows(Pipeline.benchmarkHealthReport(docsFull, embFull, 25L)),
      "streamed audit3 must equal the batch health report")
    // streamed e14 == batch: the committed d31 flags compose into the
    // pipeline BEFORE sampling/packing
    assert(rows(Streams.semanticDecontaminatedFromIngest(docsFull,
        s"$dir/es", s"$dir/eo"))
      == rows(Pipeline.semanticDecontaminatedCorpus(docsFull, embFull)),
      "streamed e14 must equal the batch semantic release")
    // streamed e17: BOTH committed flag stores compose into the full
    // release through the batch core — equals the batch fullRelease
    assert(rows(Streams.fullReleaseFromIngest(docsFull, benchDocs,
        s"$dir/qs", s"$dir/qo", s"$dir/es", s"$dir/eo"))
      == rows(Pipeline.fullRelease(docsFull, embFull)),
      "streamed e17 must equal the batch full release")
    // streamed audit6: the retirement decision from the same three
    // committed stores == batch prunedBenchmark (decision core shared;
    // it inherits the health report's all-stores refusal, asserted
    // above on the empty dirs)
    assert(rows(Streams.prunedBenchmarkFromIngest(docsFull,
        s"$dir/ms", s"$dir/mo", s"$dir/qs", s"$dir/qo",
        s"$dir/es", s"$dir/eo").get)
      == rows(Pipeline.prunedBenchmark(docsFull, embFull, 25L)),
      "streamed audit6 must equal the batch retirement decision")
    assert(Streams.prunedBenchmarkFromIngest(docsFull,
      s"$dir/ms", s"$dir/mo", s"$dir/qs", s"$dir/qo",
      s"$dir/es", "/nonexistent_eo").isEmpty,
      "audit6 must refuse when any burn store is missing")
    // batch d31 broadcast-cap sanity rides along: the sink enforced the
    // same bound at setup (65536) and the holdout here is 25 rows
    assert(rows(Streams.committedEmbeddingContamination(spark,
        s"$dir/es", s"$dir/eo").get
        .select("vec_id", "bench_id", "cos"))
      == rows(Similarity.embeddingContaminationSplitCheck(embFull, 25L)),
      "committed flags must equal the batch probe at holdout 25")
    graft.ops.Memo.clearAll()
  }

  test("from-ingest sel4: the DSIR select-then-pack over the committed " +
      "landing store equals the batch operator across a kill/restart") {
    import spark.implicits._
    import graft.ops.Sampling
    val dir = Files.createTempDirectory("graft_sel4s").toString
    val (out, ckpt) = (dir + "/land", dir + "/ckpt")
    val natural = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val shuffled = new scala.util.Random(4L).shuffle(natural)
    val ms = MemoryStream[(Long, String, String)](95, spark, None)
    def startQ() = Streams.txnSink(
        ms.toDS().toDF("doc_id", "lang", "text"), out)
      .option("checkpointLocation", ckpt).start()
    val isTarget = col("lang") === "zh"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val q1 = startQ()
    ms.addData(shuffled.take(20)); q1.processAllAvailable()
    // MID-STREAM: the online selection is by definition the batch
    // operator over the arrived distribution
    val arrived = shuffled.take(20).toDF("doc_id", "lang", "text")
    assert(rows(Streams.dsirSelectedPackFromIngest(spark, out,
        isTarget, 5).get)
      == rows(Sampling.dsirSelectedPack(arrived, isTarget, 5)),
      "mid-stream selection must equal batch over the arrived prefix")
    q1.stop() // kill
    val q2 = startQ()
    ms.addData(shuffled.drop(20)); q2.processAllAvailable(); q2.stop()
    val full = natural.toDF("doc_id", "lang", "text")
    assert(rows(Streams.dsirSelectedPackFromIngest(spark, out,
        isTarget, 5).get)
      == rows(Sampling.dsirSelectedPack(full, isTarget, 5)),
      "post-restart selection must equal the batch sel4")
  }

  test("txn sink: orphan partition invisible until commit; replay no-op") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_txn2").toString + "/t"
    Streams.commitTxnBatch(Seq((1L, "a")).toDF("id", "payload"), 0L, out)
    // crash between PREPARE and COMMIT: bid=1 staged, frontier still at 0
    Seq((2L, "b")).toDF("id", "payload")
      .write.mode("overwrite").parquet(s"$out/data/bid=1")
    val before = Streams.readCommitted(spark, out).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(before == Set(1L), "uncommitted orphan must be invisible")
    // the replayed batch re-stages its partition and commits it
    Streams.commitTxnBatch(Seq((2L, "b")).toDF("id", "payload"), 1L, out)
    // a second replay of a COMMITTED bid is a no-op (no duplicate rows)
    Streams.commitTxnBatch(Seq((2L, "b")).toDF("id", "payload"), 1L, out)
    val after = Streams.readCommitted(spark, out).get
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(after == Seq(1L, 2L),
      "replayed commit must surface exactly once")
    // before any commit at all: no read-committed view exists
    assert(Streams.readCommitted(spark,
      Files.createTempDirectory("graft_txn3").toString + "/t").isEmpty)
  }

  test("phash ingest: greedy-online image dedup, durable index, replay no-op") {
    import spark.implicits._
    import graft.ops.Multimodal
    import org.apache.spark.sql.functions.{col, length}
    val state = Files.createTempDirectory("graft_pingest_s").toString
    val out = Files.createTempDirectory("graft_pingest_o").toString
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    def media(rows: Seq[(Long, String)]) = Multimodal.toMediaTable(
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long")))
    def audit() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // batch 0: image 0 (base), image 3 (one-char perturbation — lower-id
    // peer dup), audio 1 (same text, no image hash -> passes)
    Streams.mergePhashIngest(
      media(Seq((0L, base), (3L, base.updated(10, 'z')), (1L, base))),
      0L, state, out, 3)
    assert(audit() == Set((0L, "keep", -1L), (3L, "near_dup", 0L),
      (1L, "keep", -1L)), s"batch-0 decisions: ${audit()}")
    // batch 1: image 6 carries the ORIGINAL text — dup vs the durable
    // index (partner 0 was committed, 3 was not indexed)
    Streams.mergePhashIngest(media(Seq((6L, base))), 1L, state, out, 3)
    assert(audit().contains((6L, "near_dup", 0L)),
      s"index lookup must find the committed partner: ${audit()}")
    // replay of a committed bid is a no-op, even with different content
    Streams.mergePhashIngest(media(Seq((9L, "unrelated words here"))),
      1L, state, out, 3)
    assert(!audit().exists(_._1 == 9L), "replay must not reclassify")
    // a corrupt orphan index partition above the frontier is invisible
    val orphan = new java.io.File(s"$state/index/bid=9")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-00000.snappy.parquet").toPath,
      Array[Byte]('P', 'A', 'R', '1', 9, 9))
    Streams.mergePhashIngest(media(Seq((12L, base))), 2L, state, out, 3)
    assert(audit().contains((12L, "near_dup", 0L)),
      s"classification must survive a corrupt orphan: ${audit()}")
  }

  test("ingest index compaction: decisions and frontier survive, files shrink") {
    import spark.implicits._
    import graft.ops.Multimodal
    import org.apache.spark.sql.functions.{col, length}
    val state = Files.createTempDirectory("graft_cmp_s").toString
    val out = Files.createTempDirectory("graft_cmp_o").toString
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    def media(rows: Seq[(Long, String)]) = Multimodal.toMediaTable(
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long")))
    def audit() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // three committed batches -> three bid=N index partitions
    Streams.mergePhashIngest(media(Seq((0L, base))), 0L, state, out, 3)
    Streams.mergePhashIngest(media(Seq((3L, "totally different words"))),
      1L, state, out, 3)
    Streams.mergePhashIngest(media(Seq((6L, "third unrelated body"))),
      2L, state, out, 3)
    // plus TWO uncommitted crash orphans above the frontier, both holding
    // TRUNCATED parquet files: bid=10 sorts lexicographically BEFORE
    // bid=2, so a compaction that lists all partitions for schema
    // inference (instead of reading committed dirs only) samples the
    // poisoned footer first and throws — the regression this pins
    for (ob <- Seq(9, 10)) {
      val orphan = new java.io.File(s"$state/index/bid=$ob")
      orphan.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(orphan, "part-00000.snappy.parquet").toPath,
        Array[Byte]('P', 'A', 'R', '1', 1, 2))
    }
    val (before, after) = Streams.compactMediaIngestState(spark, state)
    assert(before >= 3, s"expected >= 3 pre-compaction files, got $before")
    assert(after == 1, s"compaction must merge to 1 file, got $after")
    assert(!new java.io.File(s"$state/index/bid=9").exists &&
      !new java.io.File(s"$state/index/bid=10").exists,
      "orphans above the frontier are garbage-collected")
    // frontier marker untouched -> replay of an old bid stays a no-op
    Streams.mergePhashIngest(media(Seq((9L, "never seen"))), 1L, state,
      out, 3)
    assert(!audit().exists(_._1 == 9L), "replay guard must survive")
    // and classification still finds the committed batch-0 partner
    Streams.mergePhashIngest(media(Seq((12L, base))), 3L, state, out, 3)
    assert(audit().contains((12L, "near_dup", 0L)),
      s"compacted index must preserve decisions: ${audit()}")
    // TEXT sink state: same contract across fp/shingles/corpus
    val ts = Files.createTempDirectory("graft_cmpt_s").toString
    val to = Files.createTempDirectory("graft_cmpt_o").toString
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    Streams.mergeDedupIngest(docs(Seq((1L, base))), 0L, ts, to, 3, 0.5)
    Streams.mergeDedupIngest(docs(Seq((2L, "other body of words"))),
      1L, ts, to, 3, 0.5)
    val res = Streams.compactDedupIngestState(spark, ts)
    assert(res.forall { case (_, _, a) => a == 1 },
      s"every text-state dir must compact to 1 file: $res")
    Streams.mergeDedupIngest(docs(Seq((5L, base))), 2L, ts, to, 3, 0.5)
    val dec = spark.read.parquet(to).where(col("doc_id") === 5L)
      .select(col("decision"), col("dup_of")).head
    assert(dec.getString(0) != "keep" && dec.getLong(1) == 1L,
      s"compacted text index must preserve dup detection: $dec")
    // mid-swap crash: the target rename landed but the tmp rename never
    // did — simulate by moving the index aside as the `_old` backup; the
    // next compaction call must restore it before doing anything else
    val fpDir = new java.io.File(s"$ts/index/fp")
    val bak = new java.io.File(s"$ts/index/fp_old")
    assert(fpDir.renameTo(bak), "fixture rename failed")
    val (rb, ra) = Streams.compactIngestIndex(spark, s"$ts/index/fp",
      s"$ts/frontier")
    // 2 files going in (the earlier compacted partition + batch 2's
    // append), 1 coming out — and crucially the call SAW them, which
    // means the backup was restored before counting
    assert(rb == 2 && ra == 1, s"recovery pass saw ($rb, $ra)")
    assert(fpDir.exists && !bak.exists,
      "the _old backup must be restored into place")
    Streams.mergeDedupIngest(docs(Seq((8L, base))), 3L, ts, to, 3, 0.5)
    val dec8 = spark.read.parquet(to).where(col("doc_id") === 8L)
      .select(col("decision"), col("dup_of")).head
    assert(dec8.getString(0) != "keep" && dec8.getLong(1) == 1L,
      s"recovered index must still detect dups: $dec8")
  }

  test("ingest auto-compaction: a long run stays under the file bound " +
      "with decisions and frontier intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_autocmp").toString
    val (state, out) = (dir + "/state", dir + "/out")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def files(d: String): Long = {
      import scala.jdk.CollectionConverters._
      val f = new java.io.File(d)
      if (!f.exists) 0L
      else java.nio.file.Files.walk(f.toPath).iterator().asScala
        .count(_.toString.endsWith(".parquet")).toLong
    }
    // 6 batches with compactEvery = 2: compaction runs inline after bids
    // 1, 3, 5 — the postings dirs end at ONE file each even though six
    // batches appended, with no external maintenance call
    (0 until 6).foreach { b =>
      Streams.mergeDedupIngest(
        Seq((b * 10L, s"batch $b body nr ${b * 37} of words $base"))
          .toDF("doc_id", "text"),
        b.toLong, state, out, 3, 0.5, compactEvery = 2)
    }
    Seq("index/fp", "index/shingles", "corpus").foreach { d =>
      assert(files(s"$state/$d") == 1L,
        s"$d must auto-compact to one file, got ${files(s"$state/$d")}")
    }
    // frontier preserved: replay of an old bid is still a no-op
    val outRows = spark.read.parquet(out).count()
    Streams.mergeDedupIngest(Seq((999L, "replayed")).toDF("doc_id", "text"),
      3L, state, out, 3, 0.5, compactEvery = 2)
    assert(spark.read.parquet(out).count() == outRows, "replay guard")
    // decisions preserved: a near-dup of batch 0's doc is still caught
    // against the compacted index
    Streams.mergeDedupIngest(
      Seq((700L, s"batch 0 body nr 0 of words $base extra"))
        .toDF("doc_id", "text"), 6L, state, out, 3, 0.5, compactEvery = 2)
    val dec = spark.read.parquet(out).where(col("doc_id") === 700L)
      .select(col("decision"), col("dup_of")).head
    assert(dec.getString(0) == "near_dup" && dec.getLong(1) == 0L,
      s"compacted index lost dup detection: $dec")
    // the MEDIA engine's inline compaction: 4 batches, compactEvery 2
    import graft.ops.Multimodal
    def media(rows: Seq[(Long, String)]) = Multimodal.toMediaTable(
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long")))
    val ms = dir + "/mstate"
    (0 until 4).foreach { b =>
      Streams.mergePhashIngest(media(Seq((b * 3L, s"img $b $base"))),
        b.toLong, ms, dir + "/mout", 3, compactEvery = 2)
    }
    assert(files(s"$ms/index") == 1L,
      s"media index must auto-compact, got ${files(s"$ms/index")}")
  }

  test("audio ingest: the generalized media engine dedups WAV streams") {
    import spark.implicits._
    import graft.ops.Multimodal
    import org.apache.spark.sql.functions.{col, length}
    val state = Files.createTempDirectory("graft_aingest_s").toString
    val out = Files.createTempDirectory("graft_aingest_o").toString
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    def media(rows: Seq[(Long, String)]) = Multimodal.toMediaTable(
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long")))
    def audit() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // batch 0: audio 1 (base), audio 7 (one-char perturbation — dup vs
    // lower-id peer), image 0 (same text, no WAV parse -> keeper)
    Streams.mergeAudioIngest(
      media(Seq((1L, base), (7L, base.updated(10, 'z')), (0L, base))),
      0L, state, out, 2)
    assert(audit() == Set((1L, "keep", -1L), (7L, "near_dup", 1L),
      (0L, "keep", -1L)), s"batch-0 decisions: ${audit()}")
    // batch 1: audio 4 carries the original clip — dup vs the durable
    // index (partner 1 committed; 7 was never indexed)
    Streams.mergeAudioIngest(media(Seq((4L, base))), 1L, state, out, 2)
    assert(audit().contains((4L, "near_dup", 1L)),
      s"index lookup must find the committed partner: ${audit()}")
    // replay of a committed bid is a no-op
    Streams.mergeAudioIngest(media(Seq((10L, "other words"))), 1L,
      state, out, 2)
    assert(!audit().exists(_._1 == 10L), "replay must not reclassify")
  }

  test("streaming e9: full-media ingest + curation equals the batch " +
      "flagship across a kill/restart boundary") {
    import spark.implicits._
    import graft.ops.Pipeline
    val dir = Files.createTempDirectory("graft_e9s").toString
    val (state, out, ckpt) = (dir + "/state", dir + "/out", dir + "/ckpt")
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val fixture = docs.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    // PARITY PRECONDITION (the greedy-online contract the text sink
    // documents): drop-for-drop equality with the batch flagship needs
    // chain-free pair families. Image/video dHash families here are
    // chain-free at hamming 3 (measured, deterministic fixture); the
    // 31-bit audio envelope's hamming<=2 background graph is NOT, so
    // the audio legs run at hamming 0 — exact-signature equivalence
    // classes, which are cliques by construction on ANY corpus, the
    // always-safe online audio contract
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val want = rows(Pipeline.fullMediaCuratedCorpus(fixture,
      audioMaxHamming = 0))
    // stream the same docs in 3 id-ordered batches, KILLING the query
    // after the first and restarting it from the checkpoint; the
    // benchmark frame arms the online contamination probe so the e10
    // composition can be checked at the end
    val benchDocs = fixture.where(col("doc_id") < 25).localCheckpoint()
    val ms = MemoryStream[(Long, String)](92, spark, None)
    def startQ() = Streams.fullMediaIngestSink(
        ms.toDS().toDF("doc_id", "text"), state, out,
        audioMaxHamming = 0, benchDocs = Some(benchDocs))
      .option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    ms.addData(docs.take(170)); q1.processAllAvailable()
    q1.stop() // kill
    val q2 = startQ() // resume from the checkpoint, same durable state
    ms.addData(docs.slice(170, 340))
    ms.addData(docs.drop(340))
    q2.processAllAvailable(); q2.stop()
    // the corpus-release composition over COMMITTED streamed decisions
    val got = rows(Streams.fullMediaCuratedFromIngest(fixture, state, out))
    assert(got == want,
      s"streamed e9 diverged from batch: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // non-vacuous: the media legs actually dropped near-dups beyond the
    // text-only keep-set, and the AUDIO leg specifically affected the
    // composed corpus (not just the image/video legs)
    val e5 = rows(Pipeline.curatedCorpus(fixture))
    assert(got.size < e5.size, "media drop legs were never exercised")
    val audioDrops = spark.read.parquet(s"$out/audio")
      .where(col("decision") === "near_dup")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(audioDrops.nonEmpty, "no audio near-dup decisions streamed")
    val audioEffect = audioDrops
      .intersect(e5.map(_._1)) -- got.map(_._1)
    assert(audioEffect.nonEmpty,
      "an e5-kept audio doc must drop through the streamed audio leg")
    // the E10 composition over the same committed state: streamed
    // keep-set minus committed contamination flags == batch
    // decontaminatedMediaCorpus (contamination is stateless-exact, so
    // the e9 parity conditions are the only caveat)
    val want10 = rows(Pipeline.decontaminatedMediaCorpus(fixture,
      audioMaxHamming = 0))
    val got10 = rows(Streams.decontaminatedMediaFromIngest(fixture,
      state, out))
    assert(got10 == want10,
      s"streamed e10 diverged from batch: only_stream=${got10 -- want10} " +
        s"only_batch=${want10 -- got10}")
  }

  test("streaming e18: the full multimodal release from ALL committed " +
      "flag stores equals the batch flagship") {
    import spark.implicits._
    import graft.ops.Pipeline
    val dir = Files.createTempDirectory("graft_e18s").toString
    val (mstate, mout) = (dir + "/mstate", dir + "/mout")
    val (qstate, qout) = (dir + "/qstate", dir + "/qout")
    val (estate, eout) = (dir + "/estate", dir + "/eout")
    val natural = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val byId = natural.toMap
    // plant quote contamination (the d28 test's docs) so the span store
    // is non-empty: 9001 verbatim-copies bench 3, 9002 wholesale-quotes
    // bench 7 behind a preamble
    val docs = natural ++ Seq(
      (9001L, byId(3L)),
      (9002L, "entirely unrelated preamble words " + byId(7L)))
    val fixture = docs.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    val corpusFixture = fixture.withColumn("lang", lit("en"))
    val benchDocs = fixture.where(col("doc_id") < 25).localCheckpoint()
    // plant semantic contamination: vector 9001 IS bench vector 3, so
    // the d31 drop list names an existing doc
    val embRows = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val embById = embRows.toMap
    val allEmb = embRows ++ Seq((9001L, embById(3L)))
    val emb = allEmb.toDF("vec_id", "embedding").localCheckpoint()
    val benchEmb = emb.where(col("vec_id") < 25).localCheckpoint()
    // arm all three stores (id-ordered arrival + audio hamming 0 — the
    // streaming-e9 greedy-online parity contract)
    val msm = MemoryStream[(Long, String)](101, spark, None)
    val qm = Streams.fullMediaIngestSink(
        msm.toDS().toDF("doc_id", "text"), mstate, mout,
        audioMaxHamming = 0, benchDocs = Some(benchDocs))
      .option("checkpointLocation", dir + "/mckpt").start()
    msm.addData(docs); qm.processAllAvailable(); qm.stop()
    val msq = MemoryStream[(Long, String)](102, spark, None)
    val qq = Streams.quoteContaminationSink(
        msq.toDS().toDF("doc_id", "text"), qstate, qout, benchDocs)
      .option("checkpointLocation", dir + "/qckpt").start()
    msq.addData(docs); qq.processAllAvailable(); qq.stop()
    val mse = MemoryStream[(Long, Array[Float])](103, spark, None)
    val qe = Streams.embeddingContaminationSink(
        mse.toDS().toDF("vec_id", "embedding"), benchEmb, estate, eout)
      .option("checkpointLocation", dir + "/eckpt").start()
    mse.addData(allEmb); qe.processAllAvailable(); qe.stop()
    // every store must be non-empty — a degenerate pass proves nothing
    assert(Streams.committedQuoteContamination(spark, qstate, qout)
      .exists(_.count() > 0), "quote store is empty")
    assert(Streams.committedEmbeddingContamination(spark, estate, eout)
      .exists(_.count() > 0), "embedding store is empty")
    assert(Streams.committedContamination(spark, mstate, mout)
      .exists(_.count() > 0), "media contamination store is empty")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.toList).toSet
    val want = rows(Pipeline.fullMultimodalRelease(corpusFixture, emb,
      audioMaxHamming = 0))
    val got = rows(Streams.fullMultimodalReleaseFromIngest(corpusFixture,
      benchDocs, qstate, qout, estate, eout, mstate, mout))
    assert(got == want,
      s"streamed e18 diverged: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // the spliced TEXT form from the SAME four stores == batch e19 —
    // the one-span-plan seam carries the online leg too
    val wantTxt = rows(Pipeline.fullMultimodalReleaseText(corpusFixture,
      emb, audioMaxHamming = 0))
    val gotTxt = rows(Streams.fullMultimodalReleaseTextFromIngest(
      corpusFixture, benchDocs, qstate, qout, estate, eout, mstate,
      mout))
    assert(gotTxt == wantTxt,
      s"streamed e19 diverged: only_stream=${gotTxt -- wantTxt} " +
        s"only_batch=${wantTxt -- gotTxt}")
    // the e20 FINGERPRINT from the SAME four stores: the identity an
    // online release publishes next to its checkpoint must equal the
    // batch re-derivation row-for-row (n_docs, n_tokens, digest) —
    // and republishing off the same committed frontier must give the
    // SAME digest (replay stability: deterministic given the stores)
    val wantFp = rows(Pipeline.releaseFingerprint(
      Pipeline.fullMultimodalRelease(corpusFixture, emb,
        audioMaxHamming = 0)))
    def streamedFp() = rows(Streams.releaseFingerprintFromIngest(
      corpusFixture, benchDocs, qstate, qout, estate, eout, mstate,
      mout))
    val gotFp = streamedFp()
    assert(gotFp == wantFp,
      s"streamed e20 diverged: stream=$gotFp batch=$wantFp")
    assert(streamedFp() == gotFp,
      "e20 digest must be stable across republish off one frontier")
    assert(wantFp.head.head.asInstanceOf[Long] > 0L,
      s"vacuous fingerprint (empty release): $wantFp")
    graft.ops.Memo.clearAll()
  }

  test("streaming d25: the per-batch contamination probe equals the " +
      "batch operator across a kill/restart boundary") {
    import spark.implicits._
    import graft.ops.Multimodal
    val dir = Files.createTempDirectory("graft_d25s").toString
    val (state, out, ckpt) = (dir + "/state", dir + "/out", dir + "/ckpt")
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val fixture = docs.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    val benchDocs = fixture.where(col("doc_id") < 25).localCheckpoint()
    // batch truth: the d25 operator on the full corpus. NO chain-free
    // precondition here — the probe is STATELESS given the benchmark
    // frame (bipartite vs a fixed eval set), so streamed == batch on
    // any arrival order, unlike the greedy-online dedup legs
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "bench_id", "modality", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3))).toSet
    // the sink probes at the ENFORCEMENT budgets (5/3) by default —
    // the batch side must compare at the same budgets
    val want = rows(Multimodal.mediaContaminationSplitCheck(fixture, 25L,
      5, 3))
    assert(want.nonEmpty, "fixture has no contamination — vacuous spec")
    // stream EVERYTHING (benchmark docs too — the probe must exclude
    // them itself), in NON-id-order batches, killing between them
    val shuffled = new scala.util.Random(25L).shuffle(docs)
    val ms = MemoryStream[(Long, String)](93, spark, None)
    def startQ() = Streams.fullMediaIngestSink(
        ms.toDS().toDF("doc_id", "text"), state, out,
        benchDocs = Some(benchDocs))
      .option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    ms.addData(shuffled.take(200)); q1.processAllAvailable()
    q1.stop() // kill
    val q2 = startQ()
    ms.addData(shuffled.drop(200))
    q2.processAllAvailable(); q2.stop()
    val got = rows(Streams.committedContamination(spark, state, out).get)
    assert(got == want,
      s"streamed d25 diverged: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // replay of a committed bid is a no-op (per-leg O(1) guard)
    Streams.mergeMediaContamination(
      Multimodal.buildMediaTable(Seq((9999L, "brand new arrival"))
        .toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))),
      0L, Multimodal.benchmarkMediaSignatures(benchDocs),
      s"$state/contam", s"$out/contam", 3, 2)
    assert(rows(Streams.committedContamination(spark, state, out).get)
      == got, "replay must not re-probe or append")
  }

  test("streaming d28: the per-batch quote probe equals the batch " +
      "operator across a kill/restart boundary") {
    import spark.implicits._
    import graft.ops.Dedup
    val dir = Files.createTempDirectory("graft_d28s").toString
    val (state, out, ckpt) = (dir + "/state", dir + "/out", dir + "/ckpt")
    val natural = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // plant quote contamination so the spec cannot pass vacuously: 9001
    // is a verbatim copy of bench doc 3 (shift 0), 9002 wholesale-
    // includes bench doc 7 behind a preamble (shift = preamble tokens)
    val byId = natural.toMap
    val docs = natural ++ Seq(
      (9001L, byId(3L)),
      (9002L, "entirely unrelated preamble words " + byId(7L)))
    val fixture = docs.toDF("doc_id", "text").localCheckpoint()
    val benchDocs = fixture.where(col("doc_id") < 25).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "bench_id", "containment", "containment_any",
        "shift")
      .collect().map(_.toSeq.toList).toSet
    // batch truth: the d28 operator on the full corpus — the probe is
    // STATELESS given the benchmark frame (both containment
    // denominators are per-doc), so streamed == batch on ANY arrival
    // order, same as the media probe and unlike the greedy dedup legs
    val want = rows(Dedup.quoteContaminationSplitCheck(fixture, 25L))
    assert(want.exists(_.head == 9001L) && want.exists(_.head == 9002L),
      "planted quotes must flag — fixture broke")
    // stream EVERYTHING (benchmark docs too — the sink must exclude
    // them itself), in NON-id-order batches, killing between them
    val shuffled = new scala.util.Random(28L).shuffle(docs)
    val ms = MemoryStream[(Long, String)](94, spark, None)
    def startQ() = Streams.quoteContaminationSink(
        ms.toDS().toDF("doc_id", "text"), state, out, benchDocs)
      .option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    ms.addData(shuffled.take(200)); q1.processAllAvailable()
    q1.stop() // kill
    val q2 = startQ()
    ms.addData(shuffled.drop(200))
    q2.processAllAvailable(); q2.stop()
    val got = rows(
      Streams.committedQuoteContamination(spark, state, out).get)
    assert(got == want,
      s"streamed d28 diverged: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // streamed e11: the committed flags compose into the training-
    // corpus pipeline BEFORE sampling/packing — row-identical to the
    // batch e11 (same drop set, same repacked offsets)
    val corpusFixture = fixture.withColumn("lang", lit("en"))
    def corpusRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq.toList).toSet
    assert(corpusRows(Streams.quoteDecontaminatedFromIngest(
        corpusFixture, state, out))
      == corpusRows(graft.ops.Pipeline.trainingCorpus(corpusFixture,
        quoteThreshold = Some(0.8))),
      "streamed e11 composition must equal the batch e11")
    // streamed d29: the burn rollup over the committed flags equals the
    // batch report — the flags crossed the kill/restart boundary above
    assert(corpusRows(Streams.quoteBurnFromIngest(spark, state, out).get)
      == corpusRows(Dedup.quoteBurnReport(fixture, 25L)),
      "streamed d29 must equal the batch burn report")
    // streamed d30: spans rebuilt pair-bounded from committed flags
    // against the landing store equal the batch surgical plan (same
    // per-shift mass floor, same island merge)
    assert(corpusRows(Streams.quoteRedactionFromIngest(fixture,
        benchDocs, state, out).get)
      == corpusRows(Dedup.quoteRedactionSpans(fixture, 25L)),
      "streamed d30 must equal the batch redaction plan")
    // streamed e12: the spans APPLIED — the surgical corpus release
    // from committed flags equals the batch redactedCorpus
    assert(corpusRows(Streams.redactedCorpusFromIngest(fixture,
        benchDocs, state, out))
      == corpusRows(graft.ops.Pipeline.redactedCorpus(fixture)),
      "streamed e12 must equal the batch surgical corpus")
    // streamed e13: the FULL surgical release (e3 drops + redaction +
    // pack) from the same committed flags equals the batch
    // surgicalCorpus — the flags crossed the kill/restart boundary
    assert(corpusRows(Streams.surgicalCorpusFromIngest(corpusFixture,
        benchDocs, state, out))
      == corpusRows(graft.ops.Pipeline.surgicalCorpus(corpusFixture)),
      "streamed e13 must equal the batch full surgical release")
    // streamed e16: the SPLICED corpus text — the (doc_id, lang, text)
    // artifact a trainer loads — from the same committed flags equals
    // the batch surgicalCorpusText (manifest and delta consume ONE span
    // plan on both sides)
    assert(corpusRows(Streams.surgicalCorpusTextFromIngest(corpusFixture,
        benchDocs, state, out))
      == corpusRows(graft.ops.Pipeline.surgicalCorpusText(corpusFixture)),
      "streamed e16 must equal the batch spliced corpus text")
    // replay of a committed bid is a no-op (O(1) frontier guard)
    Streams.mergeQuoteContamination(
      Seq((9999L, byId(3L))).toDF("doc_id", "text"), 0L,
      Dedup.benchmarkQuotePositions(benchDocs), state, out, 3, 0.8, 1)
    assert(rows(
      Streams.committedQuoteContamination(spark, state, out).get) == got,
      "replay must not re-probe or append")
    graft.ops.Memo.clearAll()
  }

  test("streaming d31: the per-batch embedding probe equals the batch " +
      "operator across a kill/restart boundary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_d31s").toString
    val (state, out, ckpt) = (dir + "/state", dir + "/out", dir + "/ckpt")
    val all = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val fixture = all.toDF("vec_id", "embedding").localCheckpoint()
    val benchEmb = fixture.where(col("vec_id") < 100).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "bench_id", "cos").collect()
      .map(_.toSeq.toList).toSet
    // batch truth — the threshold sits where the synthetic corpus has
    // real mass (max bipartite cosine ~0.49)
    val want = rows(ops.Similarity
      .embeddingContaminationSplitCheck(fixture, 100L, 0.4))
    assert(want.nonEmpty, "fixture must flag something — gate is weak")
    // stream EVERYTHING (bench vectors too — the sink must exclude
    // them itself), shuffled, killing between batches
    val shuffled = new scala.util.Random(31L).shuffle(all)
    val ms = MemoryStream[(Long, Array[Float])](96, spark, None)
    def startQ() = Streams.embeddingContaminationSink(
        ms.toDS().toDF("vec_id", "embedding"), benchEmb, state, out)
      .option("checkpointLocation", ckpt).start()
    val q1 = startQ()
    ms.addData(shuffled.take(150)); q1.processAllAvailable()
    q1.stop() // kill
    val q2 = startQ()
    ms.addData(shuffled.drop(150)); q2.processAllAvailable(); q2.stop()
    val got = rows(
      Streams.committedEmbeddingContamination(spark, state, out).get)
    assert(got == want,
      s"streamed d31 diverged: only_stream=${got -- want} " +
        s"only_batch=${want -- got}")
    // streamed d32: the burn rollup over committed flags == batch
    def burnRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq.toList).toSet
    assert(burnRows(Streams.embeddingBurnFromIngest(spark, state,
        out).get)
      == burnRows(ops.Similarity.embeddingBurnReport(fixture, 100L, 0.4)),
      "streamed d32 must equal the batch embedding burn report")
    // replay of a committed bid is a no-op (O(1) frontier guard)
    Streams.mergeEmbeddingContamination(
      Seq((9999L, all.head._2)).toDF("vec_id", "embedding"), 0L,
      benchEmb, state, out, 0.4)
    assert(rows(Streams.committedEmbeddingContamination(spark, state,
      out).get) == got, "replay must not re-probe or append")
  }

  test("txn sink: corrupt orphan files cannot poison the committed read") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_txn4").toString + "/t"
    Streams.commitTxnBatch(Seq((1L, "a")).toDF("id", "payload"), 0L, out)
    // crash mid-PREPARE: a TRUNCATED parquet file in a staged, never-
    // committed bid dir — a naive parquet(outDir/data) read would list
    // it and fail on the bad footer during schema inference
    val orphan = new java.io.File(s"$out/data/bid=7")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-00000.snappy.parquet").toPath,
      Array[Byte]('P', 'A', 'R', '1', 0x13, 0x37))
    val got = Streams.readCommitted(spark, out).get
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L),
      "committed view must never touch an uncommitted orphan's files")
  }
}
