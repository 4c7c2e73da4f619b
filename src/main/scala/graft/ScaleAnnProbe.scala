package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev/bench probe for the ANN BUILD scale path: bulk-build a
  * VectorIndex over the synthetic sf1 embeddings (20k×64d) with
  * `exactThreshold` forced below n, so the wiring runs the LSH tier —
  * the path a 100 TB build takes — then measure serving recall@10 vs
  * the exact distributed truth over 20 deterministic stride queries.
  *
  * This is the direct evidence the scan-shaped sf1 probe can't give:
  * the occupancy-calibrated bucket width (GraphBuilder.fitLsh) must
  * keep the candidate join bounded AND still produce a graph whose
  * greedy traversal clears the reference's 0.70 gate at 10× the
  * largest fixture. Run standalone
  * (`runMain graft.ScaleAnnProbe [sfDir]`) or via Bench's sf1 section
  * (SPARK_GRAFT_SF1_ANN=1).
  */
object ScaleAnnProbe {

  /** (build_sec, avg_recall@10, min_recall@10, n). `alpha` selects the
    * prune: 0.0 = reference-faithful truncation, > 1.0 = the DiskANN
    * α-RNG diversified prune, [[graft.index.VectorIndex.AlphaAuto]]
    * (the default here, as in `build`) = scale-tier routing — above
    * `exactThreshold` it resolves to α = 1.2, so the probe's default
    * measures the path an un-parameterized 100 TB build takes. The
    * bench's sf1 section records truncation vs default side by side
    * (MEASURED at 20k×64d: truncation 0.50 avg / 0.00 min —
    * near-twins saturate every adjacency list and greedy navigation
    * strands; α = 1.2 reads 1.00/1.00 at ~2× the wiring cost. Exact-
    * wired truncation reads 0.80/0.00: the prune, not the candidate
    * tier, is what fails — the quantified version of SURVEY §4.2's
    * "truncation is the recall-limiting deviation"). */
  def run(spark: SparkSession, sfDir: String,
      alpha: Double = graft.index.VectorIndex.AlphaAuto): (Double, Double, Double, Long) = {
    val synthDir = SyntheticScale.ensure(spark, sfDir)
    val src = spark.read.parquet(s"$synthDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = src.count()
    val dim = src.select(size(col("vec"))).head().getInt(0)
    val path = graft.index.PosixStore.tempDirDeletedOnExit("graft-scale-ann")
    val exactTh = Bench.envDouble("SPARK_GRAFT_PROBE_EXACT", 0.0)
    val t0 = System.nanoTime()
    // exactThreshold below n forces the LSH wiring tier regardless of
    // the 20k default — this probe exists to exercise that tier
    val idx = graft.index.VectorIndex.build(spark, path, src,
      dim = dim, maxDegree = 32,
      exactThreshold = if (exactTh > 0) exactTh.toLong else math.max(1L, n / 2),
      alpha = alpha)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val serving = idx.toServing
    // 20 evenly spaced self-queries; truth = exact distributed top-10
    val stride = math.max(1L, n / 20L)
    val queries = src
      .filter(pmod(col("id"), lit(stride)) === 0 && col("id") < lit(stride * 20L))
      .select(col("id").as("query_id"), col("vec").as("qvec"))
      .localCheckpoint(true)
    val truth = src.crossJoin(broadcast(queries))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.functions.VectorFunctions.euclidean(col("qvec"), col("vec")).as("dist"))
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions
        .topKPairs(col("dist"), col("neighbor_id"), 10).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("p"))
      .select(col("query_id"), col("p.id").as("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => r.getLong(1) + 1L).toSet }
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val recalls = qRows.map { case (qid, qv) =>
      val got = serving.search(qv, topk = 10).map(_._2).toSet
      val r = truth(qid).intersect(got).size.toDouble / 10.0
      if (sys.env.contains("SPARK_GRAFT_PROBE_DEBUG"))
        println(s"[probe] q=$qid recall=$r got=${got.size} " +
          s"sample_got=${got.take(3)} sample_truth=${truth(qid).take(3)}")
      r
    }
    // EDGE-quality debug: fraction of each sampled node's true top
    // (maxDegree-2) neighbors present in its adjacency list — the
    // metric NN-descent claims to move, independent of serving
    if (sys.env.contains("SPARK_GRAFT_PROBE_EDGES")) {
      val adj = idx.adjacency
        .join(broadcast(queries.select(col("query_id").as("id"))), Seq("id"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val kDeg = 30
      val edgeTruth = src.crossJoin(broadcast(queries))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("nid"),
          graft.functions.VectorFunctions.euclidean(col("qvec"), col("vec")).as("dist"))
        .groupBy(col("query_id"))
        .agg(graft.functions.VectorFunctions
          .topKPairs(col("dist"), col("nid"), kDeg).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("p"))
        .select(col("query_id"), col("p.id").as("nid"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
      val er = edgeTruth.keys.toSeq.sorted.map { q =>
        val have = adj.getOrElse(q, Set.empty)
        edgeTruth(q).intersect(have).size.toDouble / kDeg
      }
      println(f"[probe] edge_recall avg=${er.sum / er.length}%.4f min=${er.min}%.4f")
    }
    graft.plans.Blocks.release(queries)
    (buildSec, recalls.sum / recalls.length, recalls.min, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val alpha =
      Bench.envDouble("SPARK_GRAFT_PROBE_ALPHA", graft.index.VectorIndex.AlphaAuto)
    val (b, avg, mn, n) = run(spark, sfDir, alpha)
    println(f"""{"sf1_ann_n":$n,"sf1_ann_alpha":$alpha,"sf1_ann_build_sec":$b%.2f,""" +
      f""""sf1_ann_avg_recall":$avg%.4f,"sf1_ann_min_recall":$mn%.4f}""")
    spark.stop()
  }
}
