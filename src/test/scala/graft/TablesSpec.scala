package graft

import org.apache.spark.sql.functions._

/** Loader robustness against data-generation drift (round-6 postmortem).
  *
  * The driver has regenerated `events.parquet` across rounds with `ts` as
  * int64 nanoseconds (TIMESTAMP(NANOS) read via nanosAsLong) and as native
  * timestamp[us]. A loader hardcoded to one generation poisoned every
  * events query for a whole round; this spec writes tiny fixtures in each
  * physical encoding and asserts `Tables.load` yields the identical rows
  * from all of them, so schema drift degrades to nothing instead of
  * zeroing a round.
  */
class TablesSpec extends GraftSuite {

  private val instants =
    Seq("2024-01-01 10:00:00.123456", "2024-06-15 23:59:59.999999")

  private def writeFixture(dir: java.nio.file.Path, mode: String): Unit = {
    import spark.implicits._
    val base = instants.toDF("s")
      .select(to_timestamp(col("s")).as("tsv"), lit("click").as("event_type"))
    val df = mode match {
      case "long_nanos" =>
        // micros * 1000 stays well inside Long for modern dates
        base.select((unix_micros(col("tsv")) * 1000L).as("ts"), col("event_type"))
      case "timestamp_us" =>
        base.select(col("tsv").as("ts"), col("event_type"))
      case "timestamp_ntz" =>
        base.select(col("tsv").cast("timestamp_ntz").as("ts"), col("event_type"))
    }
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
  }

  test("Tables.load yields identical events rows for every ts encoding") {
    val root = java.nio.file.Files.createTempDirectory("graft-tables-spec")
    val got = Seq("long_nanos", "timestamp_us", "timestamp_ntz").map { mode =>
      val dir = root.resolve(mode)
      java.nio.file.Files.createDirectories(dir)
      writeFixture(dir, mode)
      val df = Tables.load(spark, dir.toString, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"mode=$mode")
      mode -> df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().sorted.toSeq
    }.toMap
    assert(got("long_nanos") == got("timestamp_us"))
    assert(got("timestamp_us") == got("timestamp_ntz"))
    assert(got("timestamp_us") == instants.map(s =>
      // normalize to the emitted format
      s).sorted, s"unexpected values: ${got("timestamp_us")}")
  }

  test("Tables.load on driver data exposes ts as timestamp") {
    val events = Tables.load(spark, sf, "events")
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(events.limit(5).count() > 0)
  }

  test("every driver table satisfies the column contract the ops assume") {
    // The minimal (name -> type-class) contract the operator library reads.
    // Checked as a SUBSET so the driver adding columns never breaks the
    // suite, while a rename/retype (the round-6 failure class) fails HERE
    // with one clear line instead of as 60 dead queries downstream.
    import org.apache.spark.sql.types._
    def cls(dt: DataType): String = dt match {
      case _: IntegerType | _: LongType => "int"
      case _: FloatType | _: DoubleType => "float"
      case _: StringType => "string"
      case _: TimestampType | _: TimestampNTZType | _: DateType => "time"
      case ArrayType(e, _) => s"array<${cls(e)}>"
      case other => other.simpleString
    }
    val contract: Map[String, Seq[(String, String)]] = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "int", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "float",
        "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "int", "s_nationkey" -> "int"),
      "part" -> Seq("p_partkey" -> "int", "p_name" -> "string",
        "p_size" -> "int", "p_retailprice" -> "float"),
      "orders" -> Seq("o_orderkey" -> "int", "o_custkey" -> "int",
        "o_orderstatus" -> "string", "o_totalprice" -> "float",
        "o_orderdate" -> "time", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "int", "l_partkey" -> "int",
        "l_suppkey" -> "int", "l_quantity" -> "float",
        "l_extendedprice" -> "float", "l_discount" -> "float",
        "l_returnflag" -> "string", "l_linestatus" -> "string"),
      "events" -> Seq("event_id" -> "int", "ts" -> "time",
        "user_id" -> "int", "event_type" -> "string", "value" -> "float",
        "props" -> "string"),
      "documents" -> Seq("doc_id" -> "int", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "int"),
      "embeddings" -> Seq("vec_id" -> "int",
        "embedding" -> "array<float>", "label" -> "int"))
    val problems = Tables.names.flatMap { t =>
      val schema = Tables.load(spark, sf, t).schema
      val have = schema.fields.map(f => f.name -> cls(f.dataType)).toMap
      contract(t).collect {
        case (c, want) if !have.contains(c) => s"$t.$c missing (have: ${have.keys.mkString(",")})"
        case (c, want) if have(c) != want => s"$t.$c is ${have(c)}, ops expect $want"
      }
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("Tables.load reads every driver table without running a Spark job") {
    val jobs = jobsOf(Tables.names.foreach(Tables.load(spark, sf, _)))
    assert(jobs == 0, s"loading ${Tables.names.size} tables ran $jobs jobs")
  }

  test("footer schemas equal Spark's inferred schemas, for single files " +
      "and part-file directories") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def same(path: String): Unit = assert(
      Tables.footerSchema(spark, path) == spark.read.parquet(path).schema,
      s"footer schema diverged from inference at $path")
    Tables.names.foreach(t => same(s"$sf/$t.parquet"))
    // a Spark-written directory: part files plus _SUCCESS and .crc files
    val dir = java.nio.file.Files.createTempDirectory("graft-footer-spec")
      .resolve("documents.parquet").toString
    Tables.load(spark, sf, "documents").repartition(3)
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.count(_.startsWith("part-")) > 1 &&
      names.contains("_SUCCESS") && names.exists(_.startsWith(".")),
      s"fixture must hold several part files and hidden files: $names")
    same(dir)
  }
}
