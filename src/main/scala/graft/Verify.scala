package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.registry result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional subset for fast local iteration (tools/check.py passes the
    // env through); filters BOTH the dump and the oracle json so the
    // compare stays consistent. Gate runs leave it unset -> full dump.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are collected into errors.json beside the dump: stderr is
    // never captured by the driver, so without a durable marker a failed
    // query is indistinguishable from one that never existed (round 6 lost
    // 60 queries this way, invisibly).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ORACLE_ONLY=1 dumps oracle_sql.json WITHOUT executing
    // any query — the byte-identity harness for oracle-SQL refactors
    // (factor a CTE constant, dump, diff against the previous dump)
    val oracleOnly = sys.env.get("SPARK_GRAFT_ORACLE_ONLY").contains("1")
    if (!oracleOnly) selected.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected
      .collect { case SparkEntry.QuerySpec(k, _, SparkEntry.Oracle(v)) =>
        s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed; see errors.json")
    spark.stop()
  }
}
