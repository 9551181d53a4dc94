package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source-format breadth: the same frame round-trips through parquet, ORC,
  * JSON, and CSV with values preserved (timestamps compared at millisecond
  * precision — the common denominator of the text formats). */
class FormatsSpec extends GraftSuite {

  test("events round-trip through orc/json/csv") {
    val dir = Files.createTempDirectory("graft_fmt").toString
    val src = Tables.load(spark, sf, "events")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .select("event_id", "user_id", "event_type", "value", "ts_ms")
    val want = src.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        math.round(r.getDouble(3) * 100), r.getLong(4))).toSet

    src.write.mode("overwrite").orc(s"$dir/orc")
    src.write.mode("overwrite").json(s"$dir/json")
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")

    def got(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), col("value").cast("double"),
        col("ts_ms").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        math.round(r.getDouble(3) * 100), r.getLong(4))).toSet

    assert(got(spark.read.orc(s"$dir/orc")) == want)
    assert(got(spark.read.json(s"$dir/json")) == want)
    assert(got(spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/csv")) == want)
  }

  test("S10 JDBC snapshot round-trips through embedded Derby") {
    // Derby ships with Spark (metastore dependency) -> a real JDBC runtime
    // path: create + seed a config table over plain JDBC, read it back via
    // Sources.jdbcSnapshot, then write a frame out through the JDBC sink
    // and re-read it (JdbcUtil.java:31-68 round trip).
    val dir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE table_process
        (source_table VARCHAR(64), sink_table VARCHAR(64),
         sink_columns VARCHAR(256))""")
      st.execute("""INSERT INTO table_process VALUES
        ('user_info', 'dim_user_info', 'id,name'),
        ('base_dic', 'dim_base_dic', 'dic_code,dic_name'),
        ('sku_info', 'dim_sku_info', 'id,tm_id,category3_id')""")
      st.close()
    } finally conn.close()

    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val cfg = sources.Sources.jdbcSnapshot(spark, url, "table_process", props)
    assert(cfg.columns.map(_.toLowerCase).toSet ==
      Set("source_table", "sink_table", "sink_columns"))
    val rows = cfg.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("user_info" -> "dim_user_info",
      "base_dic" -> "dim_base_dic", "sku_info" -> "dim_sku_info"))

    // sink side: write a derived frame back over JDBC and re-read
    cfg.select(col("source_table"), col("sink_table"))
      .write.mode("append").jdbc(url, "routed_out", props)
    val back = spark.read.jdbc(url, "routed_out", props)
    assert(back.count() == 3)
  }

  test("broadcast-cap guard re-checks growable JDBC sources instead of " +
      "riding a stale memo") {
    import graft.ops.Similarity
    // a JDBC table can grow WITHOUT changing either the canonicalized
    // plan or inputFiles (both empty for non-file sources) — the one
    // source class where a memoized pass would skip the over-cap guard;
    // the memo therefore only applies to file-scan and data-in-plan
    // holdouts, and this path re-runs the bounded limit-count each time
    val dir = Files.createTempDirectory("graft_derby_cap").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def exec(sqls: String*): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try { val st = conn.createStatement()
        sqls.foreach(st.execute); st.close() } finally conn.close()
    }
    exec("CREATE TABLE cap_probe (vec_id BIGINT)",
      "INSERT INTO cap_probe VALUES (1), (2), (3)")
    graft.ops.Memo.clearAll()
    val bench = spark.read.jdbc(url, "cap_probe", props)
    Similarity.requireBenchUnderCap(bench, 4) // 3 rows under cap: passes
    exec("INSERT INTO cap_probe VALUES (4), (5), (6)")
    // identical plan, grown data: the guard must still fire
    val grown = spark.read.jdbc(url, "cap_probe", props)
    val e = intercept[IllegalArgumentException](
      Similarity.requireBenchUnderCap(grown, 4))
    assert(e.getMessage.contains("broadcast cap"))
    graft.ops.Memo.clearAll()
  }

  test("OLAP sink tolerates schema evolution across day partitions") {
    import spark.implicits._
    // day 1 lands with the v1 schema; a later deploy adds a column and
    // backfills only its own day — the standard additive-evolution path.
    // Readers opt in with mergeSchema and old rows surface NULLs.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString + "/t"
    sources.Sinks.writeDatePartitioned(
      Seq((1L, "2026-01-01", 10.0)).toDF("id", "d", "v"), "d", dir)
    sources.Sinks.overwriteDatePartitions(
      Seq((2L, "2026-01-02", 20.0, "mobile"))
        .toDF("id", "d", "v", "channel"), "d", dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "d", "v", "channel", "_date"))
    val rows = merged.select("id", "channel").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> None, 2L -> Some("mobile")))
    // the v2 backfill touched ONLY its own partition
    assert(merged.where(col("_date") === "2026-01-01").count() == 1)
  }

  test("compaction: fewer files, identical content, sized output") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact").toString + "/t"
    val ev = Tables.load(spark, sf, "events").limit(5000)
    ev.repartition(32).write.parquet(dir) // the small-files pathology
    // snapshot content from the WRITTEN files (limit() alone is not a
    // deterministic row selection across separate evaluations)
    val before = spark.read.parquet(dir).collect().map(_.toString)
      .sorted.toSeq
    // a mid-size target keeps several files: ceil(bytes/target) of them
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val tgt = math.max(1L, bytes / 3)
    val (n0, n1) = sources.Sinks.compactParquet(spark, dir, tgt)
    assert(n0 == 32 && n1 == ((bytes + tgt - 1) / tgt).toInt,
      s"expected 32 -> ceil($bytes/$tgt), got $n0 -> $n1")
    // full compaction to one file preserves content exactly
    val (_, nAfter) = sources.Sinks.compactParquet(spark, dir, 1L << 30)
    assert(nAfter == 1)
    val after = spark.read.parquet(dir).collect().map(_.toString)
      .sorted.toSeq
    assert(after == before, "compaction must not change content")
    // already compact -> untouched no-op
    assert(sources.Sinks.compactParquet(spark, dir, 1L << 30) == ((1, 1)))
  }
}
