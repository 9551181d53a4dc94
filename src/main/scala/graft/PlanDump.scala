package graft

import org.apache.spark.sql.SparkSession

/** Plan-dump harness (driver tooling, like [[Bench]]/[[Verify]]): prints
  * the formatted physical plan of named [[SparkEntry]] queries — the
  * generator behind PLANS.md's audits, so a round's new flagships get
  * their plan review from the same `explain(formatted)` every prior
  * section used. With `SPARK_GRAFT_NO_AUTOBROADCAST=1` the session
  * disables size-based auto-broadcast (PLANS.md's 100 TB convention:
  * only explicit `broadcast()` hints survive).
  *
  * Usage: runMain graft.PlanDump <sfDir> <query>[,<query>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.lift(1))
    val b = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (sys.env.get("SPARK_GRAFT_NO_AUTOBROADCAST").contains("1"))
      b.config("spark.sql.autoBroadcastJoinThreshold", -1)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { q =>
      println(s"\n===== ${q.name} =====")
      q.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
