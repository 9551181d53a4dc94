package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * All operators in `graft.ops` are pure `DataFrame => DataFrame` functions;
  * this is the only place that touches storage paths. At cluster scale the
  * same functions run over whatever `spark.read` (or `readStream`) produces —
  * the parquet scan benefits from Catalyst column pruning and predicate
  * pushdown because every op keeps the plan fully declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` under `dir`, read with the schema of its parquet footer.
    *
    * The schema comes from [[footerSchema]], read on the driver, so loading
    * a table runs no Spark job: plain `spark.read.parquet` infers the
    * schema with `mergeSchemasInParallel`, which launches one job even for
    * a single file, and at bench scale a job costs more than the query work
    * it wraps. The schema is the one inference would produce: the same
    * Spark converter over the same file, under the same session conf.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has drifted across data generations: TIMESTAMP(NANOS)
    // (surfaced as long via nanosAsLong, Spark 4 rejects it natively) and
    // plain timestamp[us]. Branch on the ACTUAL schema instead of assuming
    // one generation, so a regenerated dataset can't poison every
    // events-reading query. Long nanos are floor-divided to microseconds
    // (same floor semantics as DuckDB's ns->us cast); native timestamps —
    // LTZ or NTZ — pass through as `timestamp` (the UTC session timezone
    // makes NTZ/LTZ the same instant). No query may emit raw ts — only
    // derived date/hour/second values — keeping sub-microsecond precision
    // out of oracle hash compares either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events" && df.schema.fieldNames.contains("ts")) {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case other => sys.error(
          s"events.ts has unsupported type $other; expected long nanos or timestamp")
      }
    } else df
  }

  /** The Spark schema of the parquet file or part-file directory at
    * `path`, converted from one footer exactly as Spark's schema
    * inference does when `mergeSchema` is off: a directory contributes its
    * first data file in path order, skipping `_`- and `.`-prefixed names
    * (success markers, checksums), and every part file is assumed to
    * share that schema. Call after the session conf the converter reads
    * (`nanosAsLong`) is set. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file = if (!status.isDirectory) status else {
      val data = fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (data.isEmpty) sys.error(s"no parquet data file under $path")
      data.minBy(_.getPath.toString)
    }
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
