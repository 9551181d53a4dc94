package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-curve harness (driver tooling, like [[Bench]]): measures how the
  * blocked ANN/dedup/graph families grow with corpus size vs their exact
  * anchors, producing the evidence behind the "sub-quadratic at scale"
  * design claims (BASELINE.md scale-curve addendum).
  *
  * Corpus scaling: the sf0.1 embeddings table is replicated R times; each
  * replica r > 0 applies an ORTHOGONAL map (cyclic dimension shift by r
  * composed with a deterministic diagonal +-1) and an id offset. Orthogonal
  * maps preserve inner products, so every replica's INTERNAL near-dup /
  * kNN / cluster structure is exactly the base corpus's, while
  * cross-replica cosines decorrelate (shifted iid dims) — i.e. the corpus
  * grows R-fold with CONSTANT structure density, the regime a fair growth
  * exponent needs (naive duplication would instead inflate near-dup pair
  * counts quadratically in R and measure the data, not the operator).
  *
  * Parameter posture: blocked families scale their blocking parameter
  * with the corpus, which is how they deploy at 100 TB — signature bits
  * += log2(R) (keeps expected bucket size constant), k-means cell count
  * proportional to N (keeps cell size constant). The exact anchors take
  * no parameters to scale; they are the O(N^2) baseline the curve is
  * measured against.
  *
  * Output: one JSON line per (op, R) with seconds and output rows, plus
  * a growth-exponent summary line per op (exponent = slope of log t over
  * log R via least squares across the measured R's).
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/scale"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dims = 64
    val emb0 = spark.read.parquet(s"$base/embeddings.parquet")
    emb0.count() // warm JVM + scan

    def replicaPath(r: Int) = s"$out/r$r/embeddings.parquet"
    def buildReplica(r: Int): Unit = {
      if (!new java.io.File(replicaPath(r)).exists()) {
        val parts = (0 until r).map { i =>
          if (i == 0) emb0
          else emb0.select(
            (col("vec_id") + i.toLong * 100000000L).as("vec_id"),
            expr(
              s"""transform(
                 |  concat(slice(embedding, ${i % dims + 1}, ${dims - i % dims}),
                 |         slice(embedding, 1, ${i % dims})),
                 |  (x, j) -> CAST(x * (CASE WHEN pmod((j + 1) * ${2 * i + 1}, 5) < 2
                 |                       THEN -1.0 ELSE 1.0 END) AS FLOAT))
                 |""".stripMargin).as("embedding"),
            col("label"))
        }
        parts.reduce(_ unionByName _).coalesce(r)
          .write.mode("overwrite").parquet(replicaPath(r))
      }
    }

    def log2(r: Int): Int = 31 - Integer.numberOfLeadingZeros(r)

    // (name, max replication, op) — exact anchors capped at R=4 (the
    // measurement is minutes-quadratic beyond that, and two doublings
    // already pin the exponent)
    val curveOps: Seq[(String, Int, (DataFrame, Int) => DataFrame)] = Seq(
      ("exact_knn", 4, (e, _) =>
        graft.ops.Similarity.knnGraph(e, 1)),
      ("brute_top100q", 8, (e, _) =>
        graft.ops.Similarity.bruteForceTopK(e, 100, 1)),
      ("blocked_knn", 8, (e, r) =>
        graft.ops.Similarity.knnGraphBlocked(e, 1, bits = 4 + log2(r))),
      ("portable_neardup", 8, (e, r) =>
        graft.ops.Similarity.portableNearDupPairs(e, bits = 6 + log2(r))),
      ("semdedup_pairs", 8, (e, r) =>
        graft.ops.Clustering.semdedupPairs(e, 8 * r, 2, 0.4)),
      // round-8 families: triangle census over top-3 portable edges
      // (bits += log2 R keeps bucket occupancy constant -> edge count
      // ~N, wedge fan-out bounded by the capped degree) and the composed
      // IVF+PQ (cells proportional to N keeps probed-list size constant)
      ("triangle_census", 8, (e, r) =>
        graft.ops.Graph.triangleStats(
          graft.ops.Similarity.portableKnnEdges(e, bits = 6 + log2(r),
              k = 3)
            .select(col("qid").as("src"), col("nid").as("dst")))),
      ("ivfpq_portable", 8, (e, r) =>
        graft.ops.Similarity.portableIvfPqTopK(e, Seq(0L, 1L, 2L),
          cells = 8 * r)),
      // round-11: the one-pass isotropy identity (linear by construction —
      // one narrow scan + a dims-row reduce) and greedy k-center (k-1
      // corpus scans, k fixed — linear per the Gonzalez bound)
      ("mean_cosine", 8, (e, _) =>
        graft.ops.Similarity.meanCosine(e)),
      ("kcenter_seeds", 8, (e, _) =>
        graft.ops.Similarity.kCenterSeeds(e, 4)),
      // round-10: the CORPUS-INDEPENDENT-training auto-k form — thresholds
      // forced low so every R exercises the sampled Lloyd + two-level
      // assignment (k = n/125 grows with the corpus, training stays on a
      // ~1024-vector sample, assignment is coarse-√k + broadcast-frame
      // fine). The semdedup_pairs op above is the full-train anchor.
      ("semdedup_auto_scalable", 8, (e, _) =>
        graft.ops.Clustering.semdedupPairsAuto(e, 2, 0.4,
          targetClusterSize = 125, trainCap = 1024L,
          maxModelCentroids = 8))
    )

    // SPARK_GRAFT_SCALE_ONLY=op1,op2 re-measures a subset (same contract
    // as Bench's SPARK_GRAFT_ONLY) — the full curve is hours of exact
    // anchors; a new blocked family only needs its own points
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ops = only.fold(curveOps)(sel => curveOps.filter(o => sel(o._1)))
    val reps = Seq(1, 2, 4, 8)
    reps.foreach(buildReplica)
    // Untimed warm pass of the first selected op at R=1: a SUBSET run
    // starts on a cold JVM, so without this the first timed point eats
    // Janino/C2 startup and the fitted exponent goes negative (measured:
    // 4.0 s cold vs 2.7 s warm on a flat family). Session memos are
    // cleared afterwards so the timed R=1 point is never a cache hit.
    ops.headOption.foreach { case (_, _, fn) =>
      // NonFatal only: a warm-pass failure is logged but must not mask a
      // genuinely broken op (and OOM/interrupt must propagate, not be
      // swallowed here only to resurface cause-less in the timed run)
      try fn(spark.read.parquet(replicaPath(1)), 1)
        .write.format("noop").mode("overwrite").save()
      catch {
        case scala.util.control.NonFatal(e) =>
          println(s"warm pass failed (timed run will show the op): $e")
      }
      graft.ops.Memo.clearAll()
    }
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Double, Long)]
    for (r <- reps; (name, maxR, fn) <- ops if r <= maxR) {
      val e = spark.read.parquet(replicaPath(r))
      val t0 = System.nanoTime()
      val df = fn(e, r)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = df.count() // cached/cheap relative to the timed write
      results += ((name, r, dt, rows))
      println(f"""{"op":"$name","r":$r,"sec":$dt%.3f,"rows":$rows}""")
      System.gc()
    }
    // growth exponent per op: least-squares slope of log(t) on log(R)
    val summary = ops.map { case (name, _, _) =>
      val pts = results.filter(_._1 == name)
        .map(p => (math.log(p._2.toDouble), math.log(p._3)))
      val n = pts.size
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
        pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      f"""{"op":"$name","growth_exponent":$slope%.2f}"""
    }
    summary.foreach(println)
    val all = (results.map { case (n, r, s, rows) =>
      f"""{"op":"$n","r":$r,"sec":$s%.3f,"rows":$rows}"""
    } ++ summary).mkString("[", ",\n", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/scale_curve.json"),
      all.getBytes("UTF-8"))
    spark.stop()
  }
}
