package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Metric, VectorIndex}
import Tables._

/** Driver-checked queries for the approximate (graph-traversal) search
  * path — the reference's core capability (ops #6-#13). These have no
  * DuckDB oracle (graph ANN is not SQL-expressible); the driver records
  * a rows-only check, and the rigorous quality gates live in ScalaTest
  * (ServingIndexSpec / VectorIndexSpec recall tests). `q31_ann_recall`
  * additionally SELF-REPORTS measured recall vs the exact oracle so the
  * per-round artifacts expose search quality, not just row counts. */
object AnnQueries {

  private def source(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** One graph build per sf-dir per JVM: the index is a persistent
    * artifact queried many times (exactly the reference's usage
    * pattern), so q30/q31/q34 share it instead of rebuilding. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, VectorIndex]()
  private val servingCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.ServingIndex]()

  /** End-of-sweep cache teardown (the DocQueries.dropCaches twin):
    * unpersist every cached/checkpointed frame the fitted-artifact
    * registries hold and drop the driver-heap serving objects (both
    * sf dirs' indexes, the 4-shard fleet, eltype/custom pairs, truth
    * sets) — Bench calls this before the serving-QPS loops so the
    * loops measure serving, not the sweep's live leftovers. */
  def dropCaches(): Unit = {
    import scala.jdk.CollectionConverters._
    def free(df: DataFrame): Unit = try {
      df.unpersist(false)
      graft.plans.Blocks.releasePinned(df)
    } catch { case _: Throwable => () }
    ivfCache.values.asScala.foreach { case (_, a, b) => free(a); free(b) }
    pqCache.values.asScala.foreach { case (_, df) => free(df) }
    ivfPqCache.values.asScala.foreach { case (_, _, df) => free(df) }
    ivfPqResCache.values.asScala.foreach { case (_, _, df) => free(df) }
    beamCache.values.asScala.foreach { case (a, b) => free(a); free(b) }
    Seq(indexCache, servingCache, ivfCache, int8ScalesCache, pqCache,
      ivfPqCache, ivfPqResCache, truthCache, alphaCmpCache, beamCache,
      pcaModelCache, eltypeCache, customServingCache, shardedFleetCache)
      .foreach(_.clear())
  }

  private def builtIndex(spark: SparkSession, dir: String): VectorIndex = {
    // a cached index is bound to the session that built it — rebuild if
    // that session has been stopped since
    val cached = indexCache.get(dir)
    if (cached != null && !cached.spark.sparkContext.isStopped) cached
    else {
      val src = source(spark, dir)
      val dim = src.select(size(col("vec"))).head().getInt(0)
      val path = graft.index.PosixStore.tempDirDeletedOnExit("graft-ann")
      val idx = VectorIndex.build(spark, path, src, dim = dim, maxDegree = 32)
      indexCache.put(dir, idx)
      servingCache.remove(dir) // serving view of a stale session's index
      idx
    }
  }

  private def buildServing(spark: SparkSession, dir: String) = {
    // resolve the index BEFORE touching servingCache: builtIndex
    // mutates servingCache on a rebuild, and mutating a
    // ConcurrentHashMap inside its own computeIfAbsent throws
    // IllegalStateException("Recursive update")
    val hit = servingCache.get(dir)
    if (hit != null) hit
    else {
      val idx = builtIndex(spark, dir)
      servingCache.computeIfAbsent(dir, _ => idx.toServing)
    }
  }

  /** One IVF (centroids, assigned) pair per (sf-dir, metric) per JVM.
    * Since round 7 the fit and the assignment are INDEX-LIFECYCLE
    * artifacts, not session state: the model persists as an
    * `ivf-k16-<metric>.json` sidecar next to the graph index's snapshot
    * and the per-segment assignment dirs persist under `ivf_assign/`
    * ([[graft.index.VectorIndex.fitIVF]]/[[graft.index.VectorIndex.ivfAssignments]])
    * — a fresh `VectorIndex.load` of the same path serves without any
    * re-fit, and an `insertBatch` assigns only its own delta segment.
    * Since round 9 the served frame is the PERSISTED cluster-
    * partitioned vector table ([[graft.index.VectorIndex.ivfClusteredVectors]]),
    * deliberately UN-cached: the probe's static `cluster IN (...)`
    * filter then prunes the parquet scan to the nprobe directories at
    * planning time — the actual 100 TB read path — instead of scanning
    * a cached full copy. The JVM-level cache below pins the (model,
    * frame) pair so repeats skip the fit/resolve, not the scan. */
  private val ivfCache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.index.IvfModel, DataFrame, DataFrame)]()

  private def ivfFitted(spark: SparkSession, dir: String)
      : (graft.index.IvfModel, DataFrame, DataFrame) =
    ivfFittedWith(spark, dir, Metric.Euclidean)

  private def ivfFittedWith(spark: SparkSession, dir: String, metric: Metric)
      : (graft.index.IvfModel, DataFrame, DataFrame) = {
    val key = s"$dir#${metric.name}"
    val cached = ivfCache.get(key)
    if (cached != null && !cached._3.sparkSession.sparkContext.isStopped) cached
    else {
      val idx = builtIndex(spark, dir)
      val model = idx.loadOrFitIVF(16, metric)
      val assigned = idx.ivfClusteredVectors(model)
      assigned.count() // write + resolve the persisted layout up front
      val triple = (model, graft.operators.Similarity.centroidsDf(spark, model), assigned)
      ivfCache.put(key, triple)
      triple
    }
  }

  /** Driver-side mirror of [[graft.operators.Similarity.ivfTopK]]'s
    * step-1 probe, used to phrase the probed cluster set as a STATIC
    * `cluster IN (...)` filter — on the cluster-partitioned persisted
    * layout that is planning-time partition pruning (the scan lists
    * only the probed directories). The filter is the UNION of each
    * query's nprobe set, so it can only widen, never drop, what the
    * in-plan probe join would read. */
  private def staticClusterFilter(
      model: graft.index.IvfModel,
      qvecs: Array[Array[Float]],
      nprobe: Int,
      metric: Metric): Column = {
    val cps = model.centroidPairs
    val probed = qvecs.flatMap { qv =>
      val q: Array[Double] = metric match {
        case Metric.Cosine =>
          val n = math.sqrt(qv.map(x => x.toDouble * x).sum)
          if (n == 0) qv.map(_.toDouble) else qv.map(_ / n)
        case _ => qv.map(_.toDouble)
      }
      cps.map { case (c, cv) =>
        var s = 0.0; var i = 0
        while (i < q.length) { val d = q(i) - cv(i); s += d * d; i += 1 }
        (s, c)
      }.sortBy { case (d, c) => (d, c) }.take(nprobe).map(_._2)
    }.distinct.toSeq
    col("cluster").isInCollection(probed)
  }

  /** A driver-resident (query_id, qvec) frame — a LocalRelation, so
    * the probe side of an IVF plan carries no second table scan. */
  private def localQueries(
      spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.toSeq)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false),
          nullable = false))))

  /** One PQ (model, codes) pair per sf-dir. Model and code column are
    * index-lifecycle artifacts (per-m `pq-m8.json` sidecar + per-
    * (segment, model) code dirs via [[graft.index.VectorIndex.pqCodes]]);
    * the cache pins the resolved code column so q38/q39 repeats measure
    * the ADC path over the 32x-smaller codes (d=64 floats -> m=8
    * bytes), not the resolve. */
  /** One int8 scale fit per sf-dir per JVM: scales are a fit-time
    * constant (one max-abs pass over the corpus); q93/q94 serving
    * repeats must probe, not re-fit — the fallback fit inside
    * [[graft.operators.Similarity.int8TopK]] is a full corpus pass. */
  private val int8ScalesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

  private def int8FittedScales(spark: SparkSession, dir: String): Seq[Double] =
    int8ScalesCache.computeIfAbsent(dir, _ => {
      // index-lifecycle artifact like the IVF/PQ models: persisted as
      // a fingerprinted sidecar next to the graph index, so a process
      // that loads the index serves int8 without a re-fit pass
      val idx = builtIndex(spark, dir)
      if (graft.index.ArtifactStore.current.exists(s"${idx.path}/int8.json"))
        graft.index.Int8.load(idx.path).scales.toSeq
      else {
        val m = graft.index.Int8Model(
          graft.operators.Similarity.int8Scales(source(spark, dir), "vec").toArray)
        graft.index.Int8.save(m, idx.path)
        m.scales.toSeq
      }
    })

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.index.Quantization.PQModel, DataFrame)]()

  private def pqFitted(spark: SparkSession, dir: String): (graft.index.Quantization.PQModel, DataFrame) = {
    val cached = pqCache.get(dir)
    if (cached != null && !cached._2.sparkSession.sparkContext.isStopped) cached
    else {
      val idx = builtIndex(spark, dir)
      val model = idx.loadPQ(8).getOrElse(idx.fitPQ(8))
      val codes = idx.pqCodes(model).cache()
      codes.count() // materialize the one cached copy up front
      val pair = (model, codes)
      pqCache.put(dir, pair)
      pair
    }
  }

  /** One IVF-PQ composite per sf-dir — the canonical billion-scale
    * layout (paper.md:23,27 at its composite best: the coarse IVF
    * assignment prunes the scan to nprobe clusters AND the PQ code
    * column shrinks the scanned bytes 32x). Since round 7 the
    * composite is PHYSICALLY PERSISTED per segment, partitioned by
    * cluster ([[graft.index.VectorIndex.ivfPqCodes]]) — the table
    * you'd store at 100 TB, with the probe's static cluster filter
    * pruning partitions at planning time. */
  private val ivfPqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(Int, Array[Float])], graft.index.Quantization.PQModel, DataFrame)]()

  private def ivfPqFitted(spark: SparkSession, dir: String)
      : (Array[(Int, Array[Float])], graft.index.Quantization.PQModel, DataFrame) = {
    val cached = ivfPqCache.get(dir)
    if (cached != null && !cached._3.sparkSession.sparkContext.isStopped) cached
    else {
      val idx = builtIndex(spark, dir)
      val ivfModel = idx.loadOrFitIVF(16, Metric.Euclidean)
      val (pqModel, _) = pqFitted(spark, dir)
      // deliberately UN-cached since round 9: ivfPqTopK's static
      // cluster IN filter prunes this parquet scan to the probed
      // directories at planning time — the 100 TB read path — which a
      // cached full copy would bypass
      val assignedCodes = idx.ivfPqCodes(ivfModel, pqModel)
      assignedCodes.count() // write + resolve the persisted dirs up front
      val triple = (ivfModel.centroidPairs, pqModel, assignedCodes)
      ivfPqCache.put(dir, triple)
      triple
    }
  }

  /** Residual (IVFADC) twin of [[ivfPqFitted]]: same coarse quantizer,
    * codebook fit on (vec − centroid), codes persisted to the
    * partition-pruned `ivfpq_res/` layout and served UN-cached for the
    * same planning-time-pruning reason. */
  private val ivfPqResCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(Int, Array[Float])], graft.index.Quantization.PQModel, DataFrame)]()

  private def ivfPqResFitted(spark: SparkSession, dir: String)
      : (Array[(Int, Array[Float])], graft.index.Quantization.PQModel, DataFrame) = {
    val cached = ivfPqResCache.get(dir)
    if (cached != null && !cached._3.sparkSession.sparkContext.isStopped) cached
    else {
      val idx = builtIndex(spark, dir)
      val ivfModel = idx.loadOrFitIVF(16, Metric.Euclidean)
      val resModel = idx.loadOrFitResidualPQ(ivfModel, m = 8)
      val codes = idx.ivfPqResidualCodes(ivfModel, resModel)
      codes.count()
      val triple = (ivfModel.centroidPairs, resModel, codes)
      ivfPqResCache.put(dir, triple)
      triple
    }
  }

  /** Exact top-10 ground truth per (dir, metric, query-sample) —
    * the EVALUATION oracle the recall queries (q31/q33/q35/q37) score
    * against. Computed distributed (crossJoin against the broadcast
    * query sample + bounded-heap top-k) and then cached as a plain
    * driver-side map: ground truth is a one-time evaluation artifact
    * exactly like the graph index or the IVF fit, so repeated recall
    * queries measure the approximate path under test, not a
    * recomputation of the oracle. The cached value is a collected map
    * (30 queries x 10 ids), so it stays valid across Spark sessions. */
  private val truthCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Set[Long]]]()

  /** Deterministic query samples shared by the approximate paths and
    * their truth: "stride" = 30 evenly spaced ids (q31/q35), "head" =
    * ids < 30 (q33/q37). The stride set is pinned by PREDICATE alone
    * (ids 0, stride, ..., 29·stride — all exist since stride·30 <= n),
    * never by limit(): the stride filter passes 31-32 rows on the
    * shipped fixtures, and limit(30) over that picks a
    * scheduling-dependent subset — the cached truth and a recall
    * query's own collect could then sample DIFFERENT queries. */
  private def querySample(src: DataFrame, sample: String): DataFrame = sample match {
    case "head" =>
      src.filter(col("id") < 30).select(col("id").as("query_id"), col("vec").as("qvec"))
    case "perturb" =>
      // OUT-OF-SAMPLE queries: the stride vectors deterministically
      // warped per component (±35%, phase keyed on id and position).
      // Self-queries sit ON a graph node and saturate recall at any
      // ef; comparative quality artifacts (q68) need queries that land
      // BETWEEN nodes, where prune/edge quality actually decides what
      // the traversal finds.
      querySample(src, "stride")
        .select(col("query_id"),
          transform(col("qvec"), (x, i) =>
            (x * (lit(1.0f) + lit(0.35f) *
              sin(col("query_id") * 31 + i))).cast("float")).as("qvec"))
    case _ =>
      val n = src.count()
      val stride = math.max(1L, n / 30L)
      src.filter(pmod(col("id"), lit(stride)) === 0 && col("id") < lit(stride * 30L))
        .select(col("id").as("query_id"), col("vec").as("qvec"))
  }

  private def exactTruth(
      spark: SparkSession, dir: String, metric: Metric, sample: String): Map[Long, Set[Long]] =
    truthCache.computeIfAbsent(s"$dir#${metric.name}#$sample", _ => {
      val src = source(spark, dir)
      val queries = querySample(src, sample).localCheckpoint(true)
      val d = metric match {
        case Metric.Cosine =>
          graft.functions.VectorFunctions.cosineDistance(col("qvec"), col("vec"))
        case _ =>
          graft.functions.VectorFunctions.euclidean(col("qvec"), col("vec"))
      }
      val truth = src.crossJoin(broadcast(queries))
        .select(col("query_id"), col("id").as("neighbor_id"), d.as("dist"))
        .groupBy(col("query_id"))
        .agg(graft.functions.VectorFunctions.topKPairs(col("dist"), col("neighbor_id"), 10).as("tk"))
        .select(col("query_id"), explode(col("tk")).as("p"))
        .select(col("query_id"), col("p.id").as("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
      graft.plans.Blocks.release(queries)
      truth
    })

  /** Matched graph PAIR for the prune comparison (q68): truncation
    * prune (reference-faithful default) vs α-RNG prune (alpha = 1.2,
    * opt-in) over the SAME vectors at the SAME deliberately LOW degree
    * — at the main graph's degree 32 both prunes keep an exact-kNN-
    * quality edge set on these corpora and the difference is invisible;
    * a tight degree budget is precisely where DiskANN's diversifying
    * prune argument applies (SURVEY §4.2 flags the reference's
    * truncation as the recall-limiting deviation — this artifact makes
    * that measurable per round, not just in AlphaPruneSpec). */
  private val AlphaCmpDegree = 8
  private val alphaCmpCache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.index.ServingIndex, graft.index.ServingIndex, Long)]()

  private def alphaComparison(spark: SparkSession, dir: String)
      : (graft.index.ServingIndex, graft.index.ServingIndex, Long) =
    alphaCmpCache.computeIfAbsent(dir, _ => {
      val src = source(spark, dir)
      val dim = src.select(size(col("vec"))).head().getInt(0)
      def one(alpha: Double): VectorIndex = {
        val path = graft.index.PosixStore.tempDirDeletedOnExit("graft-ann-alpha")
        VectorIndex.build(spark, path, src, dim = dim,
          maxDegree = AlphaCmpDegree, alpha = alpha)
      }
      val (i0, i1) = (one(0.0), one(1.2))
      // structural diff between the two edge sets, so the artifact
      // explains its own recall numbers: on a corpus with strong
      // distance concentration the α-condition rarely fires and the
      // prunes coincide (diff ~ 0 -> equal recall is the TRUE result;
      // AlphaPruneSpec demonstrates the clustered regime where they
      // diverge)
      val nDiff = i0.adjacency.select(col("id"), sort_array(col("nbrs")).as("a"))
        .join(i1.adjacency.select(col("id"), sort_array(col("nbrs")).as("b")), Seq("id"))
        .filter(col("a") =!= col("b")).count()
      (i0.toServing, i1.toServing, nDiff)
    })

  /** One cached (vectors, adjacency) pair per sf-dir for the beam
    * path: q34 and q35 both call beamSearch, and without a shared
    * cache every call pays a fresh cache + materialize of the same
    * snapshot (then unpersists it — so bench repeats re-read Parquet
    * every time). */
  private val beamCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private def beamShared(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cached = beamCache.get(dir)
    if (cached != null && !cached._1.sparkSession.sparkContext.isStopped) cached
    else {
      val idx = builtIndex(spark, dir)
      // serve the BUCKETED layout (VectorIndex.bucketedServing): the
      // scans report HashPartitioning(id), so each beam step shuffles
      // only the frontier — the cache preserves the partitioning
      // (InMemoryRelation keeps the child's outputPartitioning)
      val (bv, ba) = idx.bucketedServing()
      val v = bv.cache()
      val a = ba.cache()
      v.count(); a.count()
      val pair = (v, a)
      beamCache.put(dir, pair)
      pair
    }
  }

  /** Build the shared ANN artifacts up front and report their cost.
    * The graph index and IVF fit are persistent artifacts queried many
    * times (exactly the reference's create-once/search-many usage), so
    * the bench accounts for their one-time construction explicitly
    * instead of silently attributing it to whichever query happens to
    * run first in map order. */
  def prewarm(spark: SparkSession, dir: String): Map[String, Double] = {
    val t0 = System.nanoTime(); builtIndex(spark, dir)
    val tBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); buildServing(spark, dir)
    val tServe = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime(); ivfFitted(spark, dir)
    val tFit = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime(); ivfFittedWith(spark, dir, Metric.Cosine)
    val tFitCos = (System.nanoTime() - t3) / 1e9
    val t4 = System.nanoTime()
    exactTruth(spark, dir, Metric.Euclidean, "stride")
    exactTruth(spark, dir, Metric.Euclidean, "head")
    exactTruth(spark, dir, Metric.Cosine, "head")
    exactTruth(spark, dir, Metric.Euclidean, "perturb") // q68/q179 OOS truth
    val tTruth = (System.nanoTime() - t4) / 1e9
    val t5 = System.nanoTime(); pqFitted(spark, dir)
    val tPq = (System.nanoTime() - t5) / 1e9
    val t6 = System.nanoTime(); ivfPqFitted(spark, dir)
    val tIvfPq = (System.nanoTime() - t6) / 1e9
    val t6b = System.nanoTime(); ivfPqResFitted(spark, dir)
    val tIvfPqRes = (System.nanoTime() - t6b) / 1e9
    val t7 = System.nanoTime(); alphaComparison(spark, dir)
    val tAlpha = (System.nanoTime() - t7) / 1e9
    // the (nodes, edges, entrypoint) oracle dump feeds FIVE graph
    // queries (q114/q137/q140/q143/q149) but is written once per JVM —
    // prewarm it like the other one-time artifacts so whichever of the
    // five runs first doesn't absorb three parquet writes into its
    // per-query number
    val t8 = System.nanoTime(); graphDump(spark, dir)
    val tDump = (System.nanoTime() - t8) / 1e9
    val t9 = System.nanoTime(); eltypeIndexes(spark, dir)
    val tEltype = (System.nanoTime() - t9) / 1e9
    val t10 = System.nanoTime(); customServingPair(spark, dir)
    val tCustom = (System.nanoTime() - t10) / 1e9
    val t11 = System.nanoTime(); shardedFleet(spark, dir)
    val tFleet = (System.nanoTime() - t11) / 1e9
    Map("ann_graph_build_sec" -> tBuild,
      "ann_serving_load_sec" -> tServe,
      "ivf_fit_sec" -> tFit,
      "ivf_cosine_fit_sec" -> tFitCos,
      "truth_build_sec" -> tTruth,
      "pq_fit_sec" -> tPq,
      "ivfpq_join_sec" -> tIvfPq,
      "ivfpq_res_join_sec" -> tIvfPqRes,
      "alpha_graph_build_sec" -> tAlpha,
      "graph_dump_sec" -> tDump,
      "eltype_build_sec" -> tEltype,
      "custom_metric_build_sec" -> tCustom,
      "sharded_fleet_load_sec" -> tFleet)
  }

  /** Graph-ANN top-10 for the first 10 vectors (self-queries). */
  def annSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val serving = buildServing(spark, dir)
    val queries = source(spark, dir).filter(col("id") < 10).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rows = queries.flatMap { case (qid, qv) =>
      serving.search(qv, topk = 10).zipWithIndex.map { case ((key, pid), i) =>
        (qid, pid, key.getOrElse(""), i + 1)
      }
    }
    rows.toSeq.toDF("query_id", "neighbor_public_id", "key", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the graph-ANN path vs the exact in-Spark
    * brute-force oracle, over 30 self-queries (reference gate >= 0.70,
    * test/runtests.jl:410-459). */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val serving = buildServing(spark, dir)
    val src = source(spark, dir)
    val queryRows = querySample(src, "stride")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // exact truth: cached distributed oracle (internal ids; the serving
    // engine returns public 1-based ids — SURVEY Q1 contract)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "stride")
      .map { case (q, ids) => q -> ids.map(_ + 1) }
    val recalls = queryRows.map { case (qid, qv) =>
      val got = serving.search(qv, topk = 10).map(_._2).toSet
      truth(qid).intersect(got).size.toDouble / 10.0
    }
    Seq((queryRows.length, recalls.sum / recalls.length, recalls.min))
      .toDF("n_queries", "avg_recall_at_10", "min_recall_at_10")
  }

  /** Out-of-sample recall (q179): q31's gate re-measured with queries
    * warped OFF the corpus points (the q68 "perturb" sample, ±35%
    * per-component). Self-queries sit ON a graph node and saturate
    * recall at any ef — they cannot see edge-quality erosion; OOS
    * queries land BETWEEN nodes, where pruning, symmetrization, and
    * entrypoint quality actually decide what the greedy traversal
    * finds. This is the quality artifact a deployment actually cares
    * about (real queries are never corpus points). Gated like every
    * approximate tier (avg ≥ 0.70, min ≥ 0.30); truth is the exact
    * distributed oracle over the SAME warped vectors. ef = 32 (the
    * graph degree) rather than a generous 100: at ef=100 even OOS
    * recall saturates at 1.0 on these fixtures and the gate can't see
    * erosion — the tighter pool keeps the measurement sensitive while
    * clearing the gates with margin. */
  def annRecallOos(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val serving = buildServing(spark, dir)
    val src = source(spark, dir)
    val queryRows = querySample(src, "perturb")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val truth = exactTruth(spark, dir, Metric.Euclidean, "perturb")
      .map { case (q, ids) => q -> ids.map(_ + 1) }
    val ef = 32
    val recalls = queryRows.map { case (qid, qv) =>
      val got = serving.search(qv, topk = 10, ef = ef).map(_._2).toSet
      truth(qid).intersect(got).size.toDouble / 10.0
    }
    Seq((queryRows.length, ef, recalls.sum / recalls.length, recalls.min))
      .toDF("n_queries", "ef", "avg_recall_at_10", "min_recall_at_10")
  }

  /** Recall/ef frontier (q101): q31's measurement swept over the
    * serving engine's one latency/quality knob. The ef values are the
    * operating points a deployment tunes between; emitting the whole
    * curve per round makes a quality regression at ANY operating
    * point visible, not just at the default. Rows-only with gated
    * recall columns (every ef ≥ topk on this corpus clears 0.70). */
  def efSweepRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val serving = buildServing(spark, dir)
    val src = source(spark, dir)
    val queryRows = querySample(src, "stride")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val truth = exactTruth(spark, dir, Metric.Euclidean, "stride")
      .map { case (q, ids) => q -> ids.map(_ + 1) }
    Seq(20, 50, 100, 200).map { ef =>
      val recalls = queryRows.map { case (qid, qv) =>
        val got = serving.search(qv, topk = 10, ef = ef).map(_._2).toSet
        truth(qid).intersect(got).size.toDouble / 10.0
      }
      (ef, queryRows.length.toLong, recalls.sum / recalls.length, recalls.min)
    }.toDF("ef", "n_queries", "avg_recall_at_10", "min_recall_at_10")
      .orderBy(col("ef"))
  }

  /** IVF (KMeans inverted-file) approximate top-k — the partition-
    * pruned scale path (graft.operators.Similarity). */
  def ivfSearch(spark: SparkSession, dir: String): DataFrame = {
    val (model, centroids, assigned) = ivfFitted(spark, dir)
    val qRows = assigned.filter(col("id") < 10)
      .select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val pruned = staticClusterFilter(model,
      qRows.map(_._2), nprobe = 8, metric = Metric.Euclidean)
    graft.operators.Similarity.ivfTopK(assigned, centroids,
        localQueries(spark, qRows), topk = 10, nprobe = 8, filter = pruned)
      // public 1-based ids, consistent with q30/q34 (SURVEY Q1 contract)
      .select(col("query_id"), (col("neighbor_id") + 1).as("neighbor_public_id"),
        col("dist"), col("rnk"))
  }

  /** Measured recall@10 of the IVF path vs exact, over 30 self-queries. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (model, centroids, assigned) = ivfFitted(spark, dir)
    val src = assigned.select(col("id"), col("vec"))
    // deterministic query sample (limit() order is file-layout luck)
    val qRows = querySample(src, "head").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val pruned = staticClusterFilter(model,
      qRows.map(_._2), nprobe = 8, metric = Metric.Euclidean)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    // the IVF result is 30 queries x 10 rows — bounded by construction
    val got = graft.operators.Similarity.ivfTopK(assigned, centroids,
        localQueries(spark, qRows), topk = 10, nprobe = 8, filter = pruned)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0))).toDF("n_queries", "avg_recall_at_10")
  }

  /** Measured recall@10 of the distributed beam search vs the exact
    * in-Spark oracle, over 30 self-queries — the q31/q33 twin for the
    * plan-parallel path, so its quality lands in the round artifacts
    * instead of only in ScalaTest. */
  def beamRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = builtIndex(spark, dir)
    val src = source(spark, dir)
    val queries = querySample(src, "stride").localCheckpoint(true)
    val got = graft.index.DistributedSearch.beamSearch(idx, queries, topk = 10,
      shared = Some(beamShared(spark, dir)))
    val gotPairs = got.select(col("query_id"), col("public_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    graft.index.DistributedSearch.release(got)
    graft.plans.Blocks.release(queries)
    // cached exact oracle, internal ids -> public 1-based
    val truth = exactTruth(spark, dir, Metric.Euclidean, "stride")
      .map { case (q, ids) => q -> ids.map(_ + 1) }
    val recalls = truth.keys.toSeq.sorted.map { q =>
      truth(q).intersect(gotPairs.getOrElse(q, Set.empty)).size / 10.0
    }
    Seq((recalls.length.toLong, recalls.sum / recalls.length, recalls.min))
      .toDF("n_queries", "avg_recall_at_10", "min_recall_at_10")
  }

  /** Cosine IVF top-k (reference metric parameter, src/LMDiskANN.jl:242):
    * spherical clusters, normalized probe, true-cosine re-score. */
  def ivfCosineSearch(spark: SparkSession, dir: String): DataFrame = {
    val (model, centroids, assigned) = ivfFittedWith(spark, dir, Metric.Cosine)
    val qRows = assigned.filter(col("id") < 10)
      .select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val pruned = staticClusterFilter(model,
      qRows.map(_._2), nprobe = 8, metric = Metric.Cosine)
    graft.operators.Similarity.ivfTopK(assigned, centroids,
        localQueries(spark, qRows), topk = 10, nprobe = 8,
        metric = Metric.Cosine, filter = pruned)
      .select(col("query_id"), (col("neighbor_id") + 1).as("neighbor_public_id"),
        col("dist"), col("rnk"))
  }

  /** Measured recall@10 of the cosine IVF path vs exact cosine, over
    * 30 self-queries (the reference's cosine gate, test/runtests.jl:37-67). */
  def ivfCosineRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (model, centroids, assigned) = ivfFittedWith(spark, dir, Metric.Cosine)
    val src = assigned.select(col("id"), col("vec"))
    val qRows = querySample(src, "head").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val pruned = staticClusterFilter(model,
      qRows.map(_._2), nprobe = 8, metric = Metric.Cosine)
    val truth = exactTruth(spark, dir, Metric.Cosine, "head")
    val got = graft.operators.Similarity.ivfTopK(assigned, centroids,
        localQueries(spark, qRows), topk = 10, nprobe = 8,
        metric = Metric.Cosine, filter = pruned)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0))).toDF("n_queries", "avg_recall_at_10")
  }

  /** Fully-distributed batch ANN (iterative frontier joins) — the
    * plan-parallel complement of the driver-side serving path. */
  def beamSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = builtIndex(spark, dir)
    val queries = source(spark, dir).filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    graft.index.DistributedSearch.beamSearch(idx, queries, topk = 10,
      shared = Some(beamShared(spark, dir)))
  }

  /** PQ-compressed ADC top-10 with exact re-rank for the first 10
    * vectors — the low-memory search tier (rows-only; approximate). */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    val (model, codes) = pqFitted(spark, dir)
    val src = source(spark, dir)
    val queries = src.filter(col("id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.index.Quantization.pqTopK(codes, model, queries, topk = 10,
        refine = Some(src))
      .select(col("query_id"), (col("neighbor_id") + 1).as("neighbor_public_id"),
        col("dist"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the PQ+refine path vs the cached exact
    * oracle over 30 head queries, plus the storage compression the
    * code column achieves (the LM-DiskANN low-memory axis, made
    * visible in the round artifacts). */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (model, codes) = pqFitted(spark, dir)
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val got = graft.index.Quantization.pqTopK(codes, model, queries, topk = 10,
        refine = Some(src))
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0), model.compressionRatio))
      .toDF("n_queries", "avg_recall_at_10", "compression_ratio")
  }

  /** One PCA fit per sf-dir per JVM — a serving artifact like the
    * graph/IVF/int8 models (Pca.fit is one co_moment pass; production
    * persists it via Pca.save and loads across sessions). k'=16 of 64
    * dims ⇒ 4× less hot data per candidate distance. */
  private val pcaModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Pca.Model]()
  private def pcaFitted(spark: SparkSession, dir: String): graft.operators.Pca.Model =
    pcaModelCache.computeIfAbsent(dir, _ => {
      val src = source(spark, dir)
      val dim = src.select(size(col("vec"))).head().getInt(0)
      // k'=24 of 64: the fixture embeddings are near-isotropic (flat
      // eigenspectrum — the hard case for PCA pruning; real text
      // embeddings concentrate variance far more), so the tier keeps
      // more dims + a deeper refine pool to clear the 0.70 gate.
      graft.operators.Pca.fit(src, dim, k = 24, vecCol = "vec")
    })

  /** PCA-prefilter top-10 with exact re-rank (q144): the DIMENSIONAL
    * compression tier — candidates scanned in the 16-dim principal
    * projection, refined in full precision
    * ([[graft.operators.Similarity.pcaPrefilterTopK]]; rows-only,
    * approximate — q145 self-reports its recall). */
  def pcaSearch(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
    val queries = src.filter(col("id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.operators.Similarity.pcaPrefilterTopK(src, queries,
      pcaFitted(spark, dir), topk = 10, refineFactor = 16)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the PCA-prefilter tier vs the cached exact
    * truth (q145) — the dimensional-compression point on the
    * recall/compression frontier beside PQ (q39), IVFADC (q100), and
    * int8 (q94). */
  def pcaRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val model = pcaFitted(spark, dir)
    val got = graft.operators.Similarity.pcaPrefilterTopK(src, queries, model,
        topk = 10, refineFactor = 16)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0), model.dim.toDouble / model.k))
      .toDF("n_queries", "avg_recall_at_10", "dim_compression")
  }

  /** PCA-truncation sweep (q166): the recall/compression FRONTIER for
    * the dimensional tier — top-10 overlap vs exact truth at m ∈
    * {4, 8, 16, 24} retained components of the one cached fit
    * (truncating a PCA model = taking its leading components; no
    * refit). This is the tuning curve a deployment reads to pick the
    * q144 operating point — the dimension-axis twin of q101's ef
    * sweep. Columns say `overlap`, not recall: the LOW values at
    * small m ARE the curve (the whole point is seeing where the
    * frontier falls off), so the blanket 0.70 recall gate must not
    * apply — instead the curve carries the pass_* gates ([[sweepRows]]:
    * non-decreasing in m, top point ≥ 0.70). */
  def pcaDimSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}
    import spark.implicits._
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val full = pcaFitted(spark, dir)
    val dims = Seq(4, 8, 16, 24)
    // ONE projection pass shared by all four sweep points: projecting
    // on the leading m components IS the first m coordinates of the
    // full k=24 projection (Pca.transform computes each output
    // coordinate independently — identical per-coordinate arithmetic),
    // so the corpus is projected ONCE and each point slices the
    // materialized 24-dim column instead of re-projecting full-width
    // per m. The four candidate sets then union into ONE exact-refine
    // join (a second single corpus scan) — two scans total where the
    // per-m loop paid eight.
    val projected = graft.operators.Pca.transform(
        src, full, whiten = false, vecCol = "vec")
      .select(col("id"), col("proj")).localCheckpoint(true)
    def project(v: Array[Float]): Array[Double] = {
      val centered = Array.tabulate(full.dim)(i => v(i).toDouble - full.mean(i))
      full.components.map { comp =>
        var s = 0.0; var i = 0
        while (i < full.dim) { s += centered(i) * comp(i); i += 1 }
        s
      }
    }
    val qproj = queries.map { case (qid, qv) => (qid, qv, project(qv)) }
    val qdf = spark.createDataFrame(
      java.util.Arrays.asList(qproj.map { case (qid, qv, qp) =>
        Row(qid, qv.toSeq, qp.toSeq) }: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("qproj", ArrayType(DoubleType, containsNull = false), nullable = false))))
    val candidates = dims.map { m =>
      projected
        .select(col("id"), slice(col("proj"), 1, m).as("projm"))
        .crossJoin(broadcast(qdf.select(col("query_id"),
          slice(col("qproj"), 1, m).as("qprojm"))))
        .select(col("query_id"), col("id").as("neighbor_id"),
          graft.functions.VectorFunctions
            .squaredEuclidean(col("qprojm"), col("projm")).as("dist"))
        .groupBy(col("query_id"))
        .agg(graft.functions.VectorFunctions
          .topKPairs(col("dist"), col("neighbor_id"), 10 * 16).as("tk"))
        .select(lit(m).as("m"), col("query_id"), explode(col("tk")).as("p"))
        .select(col("m"), col("query_id"), col("p.id").as("neighbor_id"))
    }.reduce(_ unionByName _)
    val refined = broadcast(candidates)
      .join(src.select(col("id").as("neighbor_id"), col("vec")), "neighbor_id")
      .join(broadcast(qdf.select(col("query_id"), col("qvec"))), "query_id")
      .select(col("m"), col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions
          .squaredEuclidean(col("qvec"), col("vec")).as("dist"))
      .groupBy(col("m"), col("query_id"))
      .agg(graft.functions.VectorFunctions
        .topKPairs(col("dist"), col("neighbor_id"), 10).as("tk"))
      .select(col("m"), col("query_id"), explode(col("tk")).as("p"))
      .select(col("m"), col("query_id"), col("p.id").as("neighbor_id"))
      .collect()
    graft.plans.Blocks.release(projected)
    val byM = refined.groupBy(_.getInt(0))
    val pts = dims.map { m =>
      val got = byM.getOrElse(m, Array.empty)
        .groupBy(_.getLong(1))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val matched = truth.keysIterator.map(q =>
        truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
      val nq = truth.size.toLong
      (m, full.dim.toDouble / m, nq, matched.toDouble / (nq * 10.0))
    }
    sweepRows(pts, monoTolerance = 0.02)
      .toDF("m_components", "dim_compression", "n_queries",
        "overlap_at_10", "pass_monotone", "pass_top")
      .orderBy(col("m_components"))
  }

  /** PQ subquantizer sweep (q175): the recall/compression frontier
    * along the CODE-SIZE axis — overlap@10 vs exact truth at m ∈
    * {4, 8, 16, 32} subspaces (each code column costs m bytes/vector,
    * so compression = 4·dim/m bytes). Completes the tuning triptych
    * with q101 (ef) and q166 (dims): the three knobs a deployment
    * trades against each other. `overlap`, not recall — low values at
    * small m ARE the curve.
    *
    * The per-m models and code columns are FIT-ONCE artifacts
    * persisted in a CONTENT-keyed [[Scratch]] store (the loadOrFitIVF
    * / BpeArtifact idiom): a deterministic model refit per run
    * contradicted the repo's own artifact discipline and made this the
    * slowest bench query by 3× — later runs now LOAD four sidecars +
    * four code parquets instead of refitting and re-encoding the
    * corpus. The store key moves with the fixture's rows, so an
    * in-place rewrite invalidates the models like every Scratch store.
    *
    * GATED (the pass_* convention, Verify/oracle_check): the frontier
    * must be non-decreasing in m, and its top point must clear the PQ
    * tier's existing 0.70 recall gate — a broken encode that halves
    * overlap can no longer ride an ungated curve through the round. */
  def pqMSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val store = Scratch.dir(spark, dir, "pq-sweep", "embeddings")
    // the four m-legs are independent job chains over per-m artifacts
    // (distinct models, distinct code parquets — nothing to share
    // between them beyond the already-shared truth/queries above), so
    // they run as CONCURRENT driver-submitted jobs (guide §2.6 — the
    // dedupTierEval idiom: each leg's tail of small tasks back-fills
    // the others' stragglers) and assemble in ascending m order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val pts = Seq(4, 8, 16, 32).map { m => Future {
      val modelFile = s"pq-m$m.json"
      Scratch.writeOnce(s"$store/m$m") {
        if (!graft.index.ArtifactStore.current.exists(s"$store/$modelFile"))
          graft.index.Quantization.save(
            graft.index.Quantization.pqFit(src, m = m), store, modelFile)
        if (!graft.index.ArtifactStore.current.exists(s"$store/codes-m$m/_SUCCESS"))
          graft.index.Quantization.pqEncode(src,
              graft.index.Quantization.load(store, modelFile))
            .write.mode("overwrite").parquet(s"$store/codes-m$m")
      }
      val model = graft.index.Quantization.load(store, modelFile)
      val codes = spark.read.parquet(s"$store/codes-m$m")
      val got = graft.index.Quantization.pqTopK(codes, model, queries,
          topk = 10, refine = Some(src))
        .select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
      val matched = truth.keysIterator.map(q =>
        truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
      val nq = truth.size.toLong
      (m, model.compressionRatio, nq, matched.toDouble / (nq * 10.0))
    } }.map(Await.result(_, Duration.Inf))
    sweepRows(pts, monoTolerance = 0.02)
      .toDF("m_subspaces", "compression_ratio", "n_queries",
        "overlap_at_10", "pass_monotone", "pass_top")
      .orderBy(col("m_subspaces"))
  }

  /** Shared gate wiring for the tuning sweeps (q166/q175/q176): given
    * ascending-knob points (knob, compression, nq, overlap), append
    * the two pass_* gate columns the driver-side checkers
    * (Verify.scala recall harvest + scripts/oracle_check.py) enforce
    * as min ≥ 1 — (a) `pass_monotone`: overlap@10 non-decreasing in
    * the knob within `monoTolerance`, and (b) `pass_top`: the
    * frontier's TOP point clears the approximate tiers' standing 0.70
    * recall gate (the low points ARE the curve and stay ungated).
    *
    * `monoTolerance` exists because only q176 is monotone BY
    * CONSTRUCTION (nested nprobe candidate sets can only widen): for
    * q175 each m is an independently fitted PQ quantizer, and for
    * q166 the per-m top-160 candidate sets are not nested — a
    * legitimate fixture or fit change can produce a small overlap dip
    * with no real bug, and a strict min≥1 gate would hard-fail the
    * round on it. q176 keeps tolerance 0 (a dip there IS a broken
    * probe/filter); the non-nested sweeps gate at −0.02 (a real
    * encode/projection break moves overlap by whole tenths). */
  private def sweepRows(pts: Seq[(Int, Double, Long, Double)],
      monoTolerance: Double = 0.0)
      : Seq[(Int, Double, Long, Double, Int, Int)] = {
    val overlaps = pts.map(_._4)
    val topPass = if (overlaps.last >= 0.70) 1 else 0
    pts.zipWithIndex.map { case ((knob, comp, nq, ov), i) =>
      val mono = if (i == 0 || ov >= overlaps(i - 1) - monoTolerance) 1 else 0
      (knob, comp, nq, ov, mono, topPass)
    }
  }

  /** IVF probe sweep (q176): overlap@10 vs exact truth at nprobe ∈
    * {1, 2, 4, 8} of 16 cells — the scan-fraction knob (nprobe/16 of
    * the partition-pruned layout is read per query). The third axis
    * of the tuning triptych. Gated ([[sweepRows]]): widening the probe
    * set can only ADD candidates to the exact per-query top-k, so
    * overlap@10 is non-decreasing in nprobe by construction — a dip is
    * a broken probe/filter, not a tuning artifact. */
  def ivfProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (model, centroids, assigned) = ivfFitted(spark, dir)
    val src = assigned.select(col("id"), col("vec"))
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val qRows = querySample(src, "head").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // independent per-nprobe job chains over the shared fitted model —
    // concurrent driver-submitted jobs, same rationale as pqMSweep
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val pts = Seq(1, 2, 4, 8).map { np => Future {
      val pruned = staticClusterFilter(model, qRows.map(_._2), nprobe = np,
        metric = Metric.Euclidean)
      val got = graft.operators.Similarity.ivfTopK(assigned, centroids,
          localQueries(spark, qRows), topk = 10, nprobe = np, filter = pruned)
        .select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
      val matched = truth.keysIterator.map(q =>
        truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
      val nq = truth.size.toLong
      (np, np.toDouble / model.k, nq, matched.toDouble / (nq * 10.0))
    } }.map(Await.result(_, Duration.Inf))
    sweepRows(pts).toDF("nprobe", "scan_frac", "n_queries",
      "overlap_at_10", "pass_monotone", "pass_top")
      .orderBy(col("nprobe"))
  }

  /** Int8 scalar-quantized top-10 with exact re-rank for the first 10
    * vectors (q93): candidate scan over the 4x-smaller codebook-free
    * code column ([[graft.operators.Similarity.int8TopK]]), refine in
    * full precision (rows-only; approximate). */
  def int8Search(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
    val queries = src.filter(col("id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.operators.Similarity.int8TopK(src, queries, topk = 10,
      fittedScales = Some(int8FittedScales(spark, dir)))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the int8 + exact-refine tier vs the cached
    * exact oracle over 30 head queries, with the fixed 4x compression
    * of the int8 column visible in the round artifacts — gated >= 0.70
    * by scripts/oracle_check.py like every approximate tier. */
  def int8Recall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val got = graft.operators.Similarity.int8TopK(src, queries, topk = 10,
      fittedScales = Some(int8FittedScales(spark, dir)))
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0), 4.0))
      .toDF("n_queries", "avg_recall_at_10", "compression_ratio")
  }

  /** IVF-PQ refine-pool multiple, shared by the search cards (q66/q99)
    * and their recall measurements (q67/q100) so the measured number
    * always describes the served operating point. 4 held ~0.80
    * recall@10 at the 500-vector fixtures but read 0.67/0.71 at sf0.1
    * (the first RECALL_sf01 pin, r16): PQ quantization error displaces
    * true neighbors further down the ADC ranking as the corpus grows,
    * and the refine pool — O(refineFactor·k) exact distances per
    * query, corpus-size-independent — is the knob that buys recall
    * back at scale. 8 measures 0.77–0.81 across both fixture decades
    * (RECALL.json / RECALL_sf01.json carry the per-sf values). */
  private val IvfPqRefineFactor = 8

  /** IVF-PQ composite top-10 with exact re-rank for the first 10
    * vectors — coarse pruning (nprobe of 8 clusters) over the
    * 32x-smaller code column, refine in full precision (rows-only;
    * approximate). */
  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val (centroidArr, model, assignedCodes) = ivfPqFitted(spark, dir)
    val src = source(spark, dir)
    val queries = src.filter(col("id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.index.Quantization.ivfPqTopK(assignedCodes, centroidArr, model, queries,
        topk = 10, nprobe = 8, refine = Some(src),
        refineFactor = IvfPqRefineFactor)
      .select(col("query_id"), (col("neighbor_id") + 1).as("neighbor_public_id"),
        col("dist"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the IVF-PQ composite vs the cached exact
    * oracle over 30 head queries, with the knobs (nprobe, refine
    * factor) and the code column's compression visible in the round
    * artifacts — the billion-scale layout's quality, gated >= 0.70 by
    * scripts/oracle_check.py like every other approximate tier. */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (centroidArr, model, assignedCodes) = ivfPqFitted(spark, dir)
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val nprobe = 8
    val refineFactor = IvfPqRefineFactor
    val got = graft.index.Quantization.ivfPqTopK(assignedCodes, centroidArr, model,
        queries, topk = 10, nprobe = nprobe,
        refine = Some(src), refineFactor = refineFactor)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0), nprobe, refineFactor, model.compressionRatio))
      .toDF("n_queries", "avg_recall_at_10", "nprobe", "refine_factor", "compression_ratio")
  }

  /** Residual IVF-PQ (IVFADC) top-10 with exact re-rank (q99):
    * identical probe/prune/refine shape to q66, but ADC scores
    * residual codes against per-(query, cluster) LUTs — the layout
    * that buys recall back at the same m bytes per vector. */
  def ivfPqResSearch(spark: SparkSession, dir: String): DataFrame = {
    val (centroidArr, model, codes) = ivfPqResFitted(spark, dir)
    val src = source(spark, dir)
    val queries = src.filter(col("id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    graft.index.Quantization.ivfPqTopK(codes, centroidArr, model, queries,
        topk = 10, nprobe = 8, refine = Some(src),
        refineFactor = IvfPqRefineFactor, residual = true)
      .select(col("query_id"), (col("neighbor_id") + 1).as("neighbor_public_id"),
        col("dist"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Measured recall@10 of the RESIDUAL composite (q100) vs the same
    * exact oracle and knobs as q67 — the two rows side by side in the
    * round artifacts show what residual encoding buys at identical
    * compression. */
  def ivfPqResRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (centroidArr, model, codes) = ivfPqResFitted(spark, dir)
    val src = source(spark, dir)
    val truth = exactTruth(spark, dir, Metric.Euclidean, "head")
    val queries = querySample(src, "head")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val nprobe = 8
    val refineFactor = IvfPqRefineFactor
    val got = graft.index.Quantization.ivfPqTopK(codes, centroidArr, model,
        queries, topk = 10, nprobe = nprobe,
        refine = Some(src), refineFactor = refineFactor, residual = true)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val matched = truth.keysIterator.map(q =>
      truth(q).intersect(got.getOrElse(q, Set.empty)).size).sum
    val nq = truth.size.toLong
    Seq((nq, matched.toDouble / (nq * 10.0), nprobe, refineFactor, model.compressionRatio))
      .toDF("n_queries", "avg_recall_at_10", "nprobe", "refine_factor", "compression_ratio")
  }

  /** Head-to-head recall@10 of the truncation prune (reference-
    * faithful default) vs the α-RNG prune (alpha = 1.2, opt-in) over
    * the SAME vectors at the SAME low degree and a tight ef, measured
    * on OUT-OF-SAMPLE (perturbed) queries — the regime where edge
    * diversity decides what a small expansion finds (DiskANN's
    * argument for α-RNG; see [[alphaComparison]]). Both columns carry
    * a DELIBERATE 0.40 sibling gate (`*_gate`, the q198 convention),
    * not the generic 0.70: the card PINS a deliberately tight
    * operating point (degree [[AlphaCmpDegree]], ef 14) to expose
    * prune-quality differences, so its absolute recall decays with
    * corpus size by design — measured 0.78 at the 500-vector
    * fixtures, 0.56 at sf0.1's 5000 (the first RECALL_sf01 pin, r16)
    * — while production serving quality is gated elsewhere
    * (q31/q179/q183 at 1.0, the ef-sweep top end at 0.70+). 0.40 is
    * the collapse bar; the per-sf drift gates guard erosion above
    * it. */
  def alphaRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (trunc, alpha, nDiff) = alphaComparison(spark, dir)
    val src = source(spark, dir)
    val queryRows = querySample(src, "perturb")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val truth = exactTruth(spark, dir, Metric.Euclidean, "perturb")
      .map { case (q, ids) => q -> ids.map(_ + 1) }
    val ef = 14
    def recallOf(s: graft.index.ServingIndex): Double = {
      val rs = queryRows.map { case (qid, qv) =>
        truth(qid).intersect(s.search(qv, topk = 10, ef = ef).map(_._2).toSet).size / 10.0
      }
      rs.sum / rs.length
    }
    val bar = 0.40 // deliberate collapse bar — see the scaladoc
    Seq((queryRows.length, AlphaCmpDegree, ef, 1.2,
        recallOf(trunc), recallOf(alpha), bar, bar, nDiff))
      .toDF("n_queries", "max_degree", "ef", "alpha",
        "avg_recall_at_10_trunc", "avg_recall_at_10_alpha",
        "avg_recall_at_10_trunc_gate", "avg_recall_at_10_alpha_gate",
        "n_nodes_adjacency_differs")
  }

  /** Index structural health (q114): the post-maintenance audit over
    * the shared built index — weak connectivity must be total
    * (reachable_frac 1.0 on a fresh build: the ring backbone makes the
    * graph one component by construction), degrees within the cap.
    *
    * ORACLED since round 10: the graph BUILD is not SQL-expressible,
    * but every health number is a pure function of (live ids, adjacency
    * edges, entrypoint) — so the query dumps exactly those three frames
    * to a scratch dir and the DuckDB oracle independently re-derives
    * components (`WITH RECURSIVE` label propagation, the q52 template),
    * degree stats, and reachability from the raw dump. The dump is
    * O(V + E) — bounded by maxDegree · V — and is keyed by sf-tag so a
    * bench sweep at another sf can never clobber the correctness run's
    * dump. */
  def indexHealth(spark: SparkSession, dir: String): DataFrame = {
    graphDump(spark, dir)
    builtIndex(spark, dir).healthReport()
  }

  /** Ensure the (nodes, edges, entrypoint) oracle dump exists for this
    * sf dir's built index and return its base path — shared by q114
    * (health) and q137 (PageRank), whose oracles re-derive everything
    * from exactly these three frames. Dumped once per (sf-tag, index
    * version) per JVM: the oracle input is a pure function of the
    * committed snapshot, so bench repeats must not pay three extra
    * parquet writes per timing run — a fresh Verify JVM always writes
    * before its DuckDB compare. */
  private def graphDump(spark: SparkSession, dir: String): String = {
    val idx = builtIndex(spark, dir)
    val base = healthScratch(new java.io.File(dir).getName)
    // Blocking write-once (the Scratch discipline): q114/q137/q140/
    // q143/q149 share this dump and may race here under parallel test
    // execution — a loser of the old Set.add race read while the
    // winner was still writing. The key is PATH-shaped (not content)
    // by necessity: the q114/q137 oracle SQL embeds this path as a
    // static string, and staleness is a non-issue because a fresh JVM
    // always rewrites (the guard set is per-JVM, keyed by index
    // version).
    Scratch.writeOnce(s"$base#${idx.meta.version}") {
      idx.vectors.select(col("id"))
        .write.mode("overwrite").parquet(s"$base/nodes")
      idx.adjacency.select(col("id").as("a"), explode(col("nbrs")).as("b"))
        .write.mode("overwrite").parquet(s"$base/edges")
      import spark.implicits._
      Seq(idx.meta.entrypoint.toLong).toDF("entrypoint")
        .write.mode("overwrite").parquet(s"$base/entry")
    }
    base
  }

  /** q137: PageRank centrality of the index graph — the top-20 hub
    * nodes every greedy search funnels through (cache working set /
    * degree-review candidates; see
    * [[graft.operators.GraphAnalytics]] for the fixed-point iteration
    * and its scale shape). Runs over the SAME dumped (nodes, edges)
    * frames the q114 oracle audits, so the DuckDB replay unrolls the
    * identical three rounds from identical inputs. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val base = graphDump(spark, dir)
    val nodes = spark.read.parquet(s"$base/nodes")
    val edges = spark.read.parquet(s"$base/edges")
    graft.operators.GraphAnalytics.topHubs(
      graft.operators.GraphAnalytics.pageRankFp(nodes, edges, iters = 3), 20)
  }

  /** q140: BFS hop-depth histogram from the entrypoint — the
    * search-latency audit (how many adjacency rounds a greedy walk
    * needs to reach any region; the q114 reachable_frac failure mode
    * localized by depth). Same dumped graph, oracled by a DuckDB
    * `WITH RECURSIVE` min-hop replay. */
  def entryDepths(spark: SparkSession, dir: String): DataFrame = {
    val idx = builtIndex(spark, dir)
    val base = graphDump(spark, dir)
    val nodes = spark.read.parquet(s"$base/nodes")
    val edges = spark.read.parquet(s"$base/edges")
    graft.operators.GraphAnalytics.hopDepths(nodes, edges, idx.meta.entrypoint.toLong)
  }

  /** q143: adjacency symmetry audit — the fraction of directed edges
    * whose reverse also exists. The builder symmetrizes under a degree
    * cap, so asymmetric edges are exactly the ones pruning dropped;
    * a sym_frac collapse after heavy churn is the "greedy search can
    * enter but not back out" smell that precedes recall loss (and the
    * reference's no-repair delete policy, Q3, only lowers it). ONE
    * self equi-join on the reversed key — hash-partitioned on (a, b),
    * never quadratic. */
  def edgeSymmetry(spark: SparkSession, dir: String): DataFrame = {
    val base = graphDump(spark, dir)
    val e = spark.read.parquet(s"$base/edges")
    val rev = e.select(col("b").as("a"), col("a").as("b"))
    val sym = e.join(rev, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_symmetric"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(sym)
      .select(col("n_edges"), col("n_symmetric"),
        (round(col("n_symmetric").cast("double") / col("n_edges").cast("double"), 4)
          + lit(0.0)).as("sym_frac"))
  }

  /** q149: triangle count + global clustering coefficient over the
    * index graph's undirected closure — the neighborhood-quality audit
    * ([[graft.operators.GraphAnalytics.triangleStats]]: degree-ordered
    * node-iterator, each triangle counted once at its minimum vertex).
    * Same dumped graph as q114/q137/q143, oracled by a DuckDB replay
    * of the identical orientation + wedge-close joins. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val base = graphDump(spark, dir)
    graft.operators.GraphAnalytics.triangleStats(
      spark.read.parquet(s"$base/nodes"),
      spark.read.parquet(s"$base/edges"))
  }

  /** q196: degree assortativity of the index graph — the hub-mixing
    * coefficient over the same dumped edges as q137/q143/q149
    * ([[graft.operators.GraphAnalytics.degreeAssortativity]]); exact
    * co-moment BIGINTs + correlation from identical integers, so the
    * DuckDB replay hash-matches. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val base = graphDump(spark, dir)
    graft.operators.GraphAnalytics.degreeAssortativity(
      spark.read.parquet(s"$base/edges"))
  }

  /** Scratch dir for the q114 oracle dump — under the repo's target/
    * (never /tmp: workspace-contained, reaped by clean), absolute so
    * the DuckDB oracle resolves it regardless of its own cwd. */
  private def healthScratch(sfTag: String): String =
    new java.io.File(s"target/oracle-scratch/$sfTag/q114").getAbsolutePath

  // --------------------------------------------------------------------
  // Eltype lifecycle (q181) — the reference's parametric-type contract
  // (create_index(...; T=Float16/Float64), src/LMDiskANN.jl:239,
  // test/runtests.jl:552-638) driven END TO END through the persisted
  // index: create(eltype) → insertBatch → load-from-disk → searchExact,
  // hash-oracled because DuckDB can replay binary16 round-to-nearest-
  // even EXACTLY with integer-free double math (see halfSql).
  // --------------------------------------------------------------------

  /** Rows in the eltype lifecycle slice: fixed (not sf-scaled) because
    * the gate is about the eltype storage path, not scale — 500 rows
    * exist at every shipped sf. */
  private val EltypeSliceRows = 500L

  private val eltypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (VectorIndex, VectorIndex)]()

  /** One (Float16, Float64) index pair per sf-dir per JVM, each built
    * through the reference's insert lifecycle: CREATE an empty index
    * of that eltype, INSERT the slice as a batch (ids assigned by key
    * rank — keys are zero-padded vec_ids, so internal id == vec_id and
    * the DuckDB oracle can address rows), then LOAD a fresh handle
    * from disk so the served vectors are what the snapshot persisted
    * (for Float16: binary16-packed BINARY, decoded by
    * [[graft.functions.expressions.HalfToFloatArray]]; for Float64:
    * narrowed to Float32 at the storage edge — SURVEY §4.3 Q8
    * whitelist, both re-validated on load). */
  private def eltypeIndexes(spark: SparkSession, dir: String): (VectorIndex, VectorIndex) = {
    val cached = eltypeCache.get(dir)
    if (cached != null && !cached._1.spark.sparkContext.isStopped) cached
    else {
      val src = source(spark, dir).filter(col("id") < EltypeSliceRows)
        .select(lpad(col("id").cast("string"), 6, "0").as("key"), col("vec"))
      val dim = src.select(size(col("vec"))).head().getInt(0)
      def lifecycle(eltype: String): VectorIndex = {
        val path = graft.index.PosixStore.tempDirDeletedOnExit(s"graft-eltype-$eltype")
        VectorIndex.create(spark, path, dim = dim, maxDegree = 16,
            eltype = eltype)
          .insertBatch(src)
        VectorIndex.load(spark, path)
      }
      val pair = (lifecycle("Float16"), lifecycle("Float64"))
      eltypeCache.put(dir, pair)
      pair
    }
  }

  /** q181: eltype lifecycle, hash-oracled. Top-5 exact search over the
    * LOADED Float16 and Float64 indexes with the first 10 raw vectors
    * as queries. Float16 distances differ from Float32's because the
    * stored side went through binary16 quantization — the oracle
    * replays that quantization bit-exactly in DuckDB (round-to-
    * nearest-even at 10 mantissa bits is pure double arithmetic:
    * scale by the power-of-two quantum, bankers-round, scale back —
    * every step exact in binary64), mirroring the reference's
    * tolerance tests (test/runtests.jl:552-638) with equality instead
    * of tolerance. Float64 is the narrowing twin: stored values are
    * the unchanged Float32 fixtures, so its block doubles as the
    * lifecycle no-op control. */
  def eltypeLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val (h16, f64) = eltypeIndexes(spark, dir)
    val q = source(spark, dir).filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    def block(idx: VectorIndex, eltype: String): DataFrame =
      idx.searchExact(q, topk = 5)
        .select(lit(eltype).as("eltype"), col("query_id"), col("public_id"),
          col("key"), (round(col("dist"), 4) + lit(0.0)).as("dist"), col("rnk"))
    block(h16, "Float16").unionByName(block(f64, "Float64"))
      .orderBy(col("eltype"), col("query_id"), col("rnk"))
  }

  // --------------------------------------------------------------------
  // Custom-metric lifecycle (q182) — the reference's single
  // extensibility hook (any Distances.PreMetric, src/LMDiskANN.jl:242;
  // cosine variant tested test/runtests.jl:27-70) as Metric.Custom,
  // driven through the full SERVING lifecycle (register → insert →
  // search → delete → re-search) plus the persisted-name round-trip
  // (create/load resolve the metric through the in-process registry —
  // the Q8 whitelist: code is never deserialized).
  // --------------------------------------------------------------------

  /** Points in the custom-metric serving index: small enough that the
    * default-ef traversal is EXHAUSTIVE (ef ≥ n over a connected graph
    * visits every live node), making the graph search exact and
    * therefore hash-oracleable — the same trick the reference's own
    * cosine test uses (tiny corpus, exact expectations). */
  private val CustomMetricRows = 200

  /** Manhattan distance — deliberately a metric the engine has no
    * native kernel for, so the query can only pass through the
    * Metric.Custom hook (a silent Euclidean fallback produces a
    * different ranking and fails the hash gate). */
  private def l1Metric = graft.index.Metric.Custom("l1_manhattan", (a, b) => {
    var s = 0.0; var i = 0
    while (i < a.length) { s += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
    s
  })

  private val customServingCache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.index.ServingIndex, graft.index.ServingIndex, String)]()

  /** (full, after-delete, persisted-name) under the L1 metric — two
    * separately built indexes rather than one mutated in place, so the
    * query stays re-runnable (bench repeats) without double-deleting.
    * Insertion order is vec_id ascending with auto-keys, so slot i
    * holds vec_id i and public id == vec_id + 1 (the reference's Q1/Q2
    * contract, which the oracle addresses directly). The third element
    * is the metric name read back from a persisted create→load
    * round-trip (only the NAME lands in meta.json; load resolves it
    * against the in-process registry — the Q8 whitelist contract). */
  private def customServingPair(spark: SparkSession, dir: String)
      : (graft.index.ServingIndex, graft.index.ServingIndex, String) =
    customServingCache.computeIfAbsent(dir, _ => {
      val m = graft.index.Metric.register(l1Metric)
      val rows = source(spark, dir).filter(col("id") < CustomMetricRows)
        .orderBy(col("id")).collect()
        .map(r => r.getSeq[Float](1).toArray)
      val dim = rows.head.length
      def build(): graft.index.ServingIndex = {
        val s = new graft.index.ServingIndex(dim = dim, maxDegree = 32, metric = m)
        rows.foreach(v => s.insert(v, None))
        s
      }
      val full = build()
      val afterDelete = build()
      // one delete by key, one by id — both reference surfaces (ops
      // #21/#22) under the custom metric
      require(afterDelete.deleteByKey("3"), "deleteByKey(\"3\") missed")
      afterDelete.delete(6L)
      val metaPath = graft.index.PosixStore.tempDirDeletedOnExit("graft-custom-metric")
      graft.index.VectorIndex.create(spark, metaPath, dim = dim,
        maxDegree = 16, metric = m)
      val persistedName =
        graft.index.VectorIndex.load(spark, metaPath).metric.name
      (full, afterDelete, persistedName)
    })

  /** q182: Metric.Custom lifecycle, hash-oracled. Phase 1 searches the
    * full 200-point L1 index (top-5, 10 raw-vector queries); phase 2
    * repeats after deleting public ids 3 (by key) and 6 (by id). The
    * `metric` column is read back from a persisted create→load
    * round-trip of an index CARRYING the custom metric name, resolved
    * through the registry at load time — the driver-visible proof of
    * the Q8 whitelist persistence contract. Exact because the
    * traversal is exhaustive at this size (see [[CustomMetricRows]]);
    * the oracle is DuckDB's brute-force L1 top-5. */
  def customMetricLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (full, afterDelete, persistedName) = customServingPair(spark, dir)
    val queries = source(spark, dir).filter(col("id") < 10)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ef = CustomMetricRows * 2 // ≥ n: exhaustive, exact
    def block(s: graft.index.ServingIndex, phase: Int) =
      queries.flatMap { case (qid, qv) =>
        s.searchWithDistances(qv, topk = 5, ef = ef).zipWithIndex.map {
          case ((key, pid, dist), i) =>
            (phase, qid, pid, key.getOrElse(""), dist, persistedName, i + 1)
        }
      }
    (block(full, 1) ++ block(afterDelete, 2)).toSeq
      .toDF("phase", "query_id", "public_id", "key", "dist", "metric", "rnk")
      // round through the same Catalyst round as every kNN query —
      // identical HALF_UP + "-0.0 kill" semantics as the DuckDB oracle
      .withColumn("dist", round(col("dist"), 4) + lit(0.0))
      .orderBy(col("phase"), col("query_id"), col("rnk"))
  }

  // --------------------------------------------------------------------
  // Sharded-serving OOS recall (q183) — q179's out-of-sample gate
  // re-measured through the 4-shard scatter-gather router
  // (ShardedServing.fromIndex over the same built snapshot), so the
  // serving-side SCALE path carries its own per-round quality row
  // beside the single-graph one instead of only an in-process spec.
  // --------------------------------------------------------------------

  private val shardedFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.ShardedServing]()

  private def shardedFleet(spark: SparkSession, dir: String): graft.index.ShardedServing = {
    val hit = shardedFleetCache.get(dir)
    if (hit != null) hit
    else {
      val idx = builtIndex(spark, dir)
      shardedFleetCache.computeIfAbsent(dir,
        _ => graft.index.ShardedServing.fromIndex(idx, numShards = 4))
    }
  }

  /** q183: sharded OOS recall@10 — the q179 measurement (perturbed
    * off-corpus queries, exact distributed truth, ef = 32) through the
    * 4-shard router. fromIndex's id-mod partitioning makes router
    * global ids coincide with snapshot public ids, and keys are
    * preserved, so truth maps by key exactly as q179 maps by public
    * id. Gated like every approximate tier (avg ≥ 0.70, min ≥ 0.30)
    * plus the hard cross-round drift gate. */
  def shardedOosRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fleet = shardedFleet(spark, dir)
    val src = source(spark, dir)
    val queryRows = querySample(src, "perturb")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val truth = exactTruth(spark, dir, Metric.Euclidean, "perturb")
      .map { case (q, ids) => q -> ids.map(i => (i + 1).toString) }
    val ef = 32
    val recalls = queryRows.map { case (qid, qv) =>
      val got = fleet.search(qv, topk = 10, ef = ef)
        .flatMap { case (key, _, _) => key }.toSet
      truth(qid).intersect(got).size.toDouble / 10.0
    }
    Seq((queryRows.length, 4, ef, recalls.sum / recalls.length, recalls.min))
      .toDF("n_queries", "n_shards", "ef", "avg_recall_at_10", "min_recall_at_10")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_ann_search" -> (annSearch _),
    "q31_ann_recall" -> (annRecall _),
    "q32_ivf_search" -> (ivfSearch _),
    "q33_ivf_recall" -> (ivfRecall _),
    "q34_beam_search" -> (beamSearch _),
    "q35_beam_recall" -> (beamRecall _),
    "q36_ivf_cosine" -> (ivfCosineSearch _),
    "q37_ivf_cosine_recall" -> (ivfCosineRecall _),
    "q38_pq_search" -> (pqSearch _),
    "q39_pq_recall" -> (pqRecall _),
    "q66_ivfpq_search" -> (ivfPqSearch _),
    "q67_ivfpq_recall" -> (ivfPqRecall _),
    "q68_alpha_recall" -> (alphaRecall _),
    "q93_int8_search" -> (int8Search _),
    "q94_int8_recall" -> (int8Recall _),
    "q99_ivfpq_res_search" -> (ivfPqResSearch _),
    "q100_ivfpq_res_recall" -> (ivfPqResRecall _),
    "q101_ef_sweep" -> (efSweepRecall _),
    "q179_oos_recall" -> (annRecallOos _),
    "q114_index_health" -> (indexHealth _),
    "q137_graph_pagerank" -> (graphPagerank _),
    "q140_entry_depths" -> (entryDepths _),
    "q143_edge_symmetry" -> (edgeSymmetry _),
    "q149_graph_triangles" -> (graphTriangles _),
    "q144_pca_search" -> (pcaSearch _),
    "q145_pca_recall" -> (pcaRecall _),
    "q166_pca_dim_sweep" -> (pcaDimSweep _),
    "q175_pq_m_sweep" -> (pqMSweep _),
    "q176_ivf_probe_sweep" -> (ivfProbeSweep _),
    "q181_eltype_lifecycle" -> (eltypeLifecycle _),
    "q182_custom_metric" -> (customMetricLifecycle _),
    "q183_sharded_oos_recall" -> (shardedOosRecall _),
    "q196_graph_assortativity" -> (graphAssortativity _)
  )

  /** ANN graph TRAVERSAL is not SQL-expressible — the search/recall
    * queries stay rows-only (recall-gated ≥ 0.70 by oracle_check).
    * q114 is the exception: its health numbers are pure functions of
    * the dumped (nodes, edges, entrypoint), so DuckDB re-derives them
    * independently — components via the q52 `WITH RECURSIVE` label
    * propagation, degrees via a left join onto out-edge counts. The
    * correctness run is always sf0.01, so the oracle reads that tag's
    * dump (written by the query itself earlier in the same Verify
    * run). */
  /** DuckDB replay of the engine's binary16 quantize→dequantize for a
    * FLOAT expression `x`: round-to-nearest-even at the half-precision
    * quantum, entirely in exact double arithmetic — `x` (float32→
    * double, exact) is scaled by its power-of-two quantum 2^(e−10)
    * (e = clamped exponent; the scaling is exact), bankers-rounded to
    * the integer mantissa (`round_even` = IEEE RNE), and scaled back
    * (exact: every finite half value is a double). The −14 clamp
    * routes subnormal halves to the fixed 2^−24 quantum. Matches
    * [[graft.functions.expressions.Half]] bit-for-bit on the fixture
    * range (no ±Inf/NaN inputs; validated against numpy float16 on
    * 30k stress values incl. subnormals, ties, exact halves). */
  private def halfSql(x: String): String = {
    val xd = s"CAST($x AS DOUBLE)"
    val e = s"greatest(floor(log2(abs($xd))), -14)"
    s"CASE WHEN $x = 0 THEN $xd ELSE " +
      s"round_even($xd * pow(2, 10 - $e), 0) * pow(2, $e - 10) END"
  }

  /** Raw (unrounded) L2 over a double-list column vs a float query —
    * the q181 oracle's distance; ordering uses the raw double like the
    * Spark side's topKPairs. */
  private def l2ListSql(q: String, v: String): String =
    s"SQRT(list_sum(list_transform(range(1, len($v)+1), " +
      s"i -> (CAST($q[i] AS DOUBLE) - $v[i]) * (CAST($q[i] AS DOUBLE) - $v[i]))))"

  val oracles: Map[String, String] = {
    val b = healthScratch("sf0.01")
    Map(
      "q181_eltype_lifecycle" ->
        s"""WITH hv AS (SELECT vec_id, list_transform(embedding, x -> ${halfSql("x")}) AS v
           |            FROM embeddings WHERE vec_id < $EltypeSliceRows),
           |fv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |       FROM embeddings WHERE vec_id < $EltypeSliceRows),
           |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
           |d AS (SELECT 'Float16' AS eltype, q.query_id, t.vec_id + 1 AS public_id,
           |             lpad(CAST(t.vec_id AS VARCHAR), 6, '0') AS key,
           |             ${l2ListSql("q.qvec", "t.v")} AS dist
           |      FROM hv t CROSS JOIN q
           |      UNION ALL
           |      SELECT 'Float64', q.query_id, t.vec_id + 1,
           |             lpad(CAST(t.vec_id AS VARCHAR), 6, '0'),
           |             ${l2ListSql("q.qvec", "t.v")}
           |      FROM fv t CROSS JOIN q),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY eltype, query_id
           |                                   ORDER BY dist, public_id) AS rnk FROM d)
           |SELECT eltype, query_id, public_id, key, ROUND(dist, 4) + 0.0 AS dist, rnk
           |FROM r WHERE rnk <= 5 ORDER BY eltype, query_id, rnk""".stripMargin,
      "q182_custom_metric" ->
        s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $CustomMetricRows),
           |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
           |d AS (SELECT q.query_id, b.vec_id + 1 AS public_id,
           |             CAST(b.vec_id + 1 AS VARCHAR) AS key,
           |             list_sum(list_transform(range(1, len(b.embedding)+1),
           |               i -> abs(CAST(q.qvec[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) AS dist
           |      FROM b CROSS JOIN q),
           |u AS (SELECT 1 AS phase, * FROM d
           |      UNION ALL
           |      SELECT 2, * FROM d WHERE public_id NOT IN (3, 6)),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY phase, query_id
           |                                   ORDER BY dist, public_id) AS rnk FROM u)
           |SELECT phase, query_id, public_id, key, ROUND(dist, 4) + 0.0 AS dist,
           |       'l1_manhattan' AS metric, rnk
           |FROM r WHERE rnk <= 5 ORDER BY phase, query_id, rnk""".stripMargin,
      "q114_index_health" ->
        s"""WITH RECURSIVE
           |nodes AS (SELECT id FROM read_parquet('$b/nodes/*.parquet')),
           |edges0 AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |ep AS (SELECT entrypoint FROM read_parquet('$b/entry/*.parquet')),
           |edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
           |en AS (SELECT DISTINCT a AS node FROM edges),
           |reach(node, lab) AS (
           |  SELECT node, node AS lab FROM en
           |  UNION
           |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node),
           |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
           |deg AS (SELECT n.id, count(e.b) AS d FROM nodes n
           |        LEFT JOIN edges0 e ON e.a = n.id GROUP BY n.id),
           |stats AS (SELECT count(*) AS n_live FROM nodes),
           |singles AS (SELECT count(*) AS s FROM nodes n
           |            LEFT JOIN comp c ON c.node = n.id WHERE c.node IS NULL),
           |dang AS (SELECT count(*) AS nd FROM comp c
           |         LEFT JOIN nodes n ON n.id = c.node WHERE n.id IS NULL),
           |ncomp AS (SELECT count(DISTINCT component) AS nc FROM comp),
           |elab AS (SELECT c.component FROM comp c JOIN ep ON c.node = ep.entrypoint),
           |esize AS (SELECT CASE WHEN NOT EXISTS (SELECT 1 FROM elab) THEN 1
           |  ELSE (SELECT count(*) FROM comp c JOIN nodes n ON c.node = n.id
           |        WHERE c.component = (SELECT component FROM elab)) END AS es)
           |SELECT CAST(stats.n_live AS BIGINT) AS n_live,
           |  CAST(ncomp.nc + singles.s AS BIGINT) AS n_components,
           |  CAST(esize.es AS BIGINT) AS entry_component_size,
           |  ROUND(CAST(esize.es AS DOUBLE) / stats.n_live, 4) + 0.0 AS reachable_frac,
           |  CAST((SELECT min(d) FROM deg) AS BIGINT) AS min_degree,
           |  CAST((SELECT max(d) FROM deg) AS BIGINT) AS max_degree,
           |  ROUND((SELECT avg(CAST(d AS DOUBLE)) FROM deg), 4) + 0.0 AS avg_degree,
           |  CAST(dang.nd AS BIGINT) AS n_dangling
           |FROM stats, ncomp, singles, dang, esize""".stripMargin,
      // q137: three unrolled fixed-point PageRank rounds over the same
      // dump. Every carried value is a BIGINT (floors of IEEE-exact
      // doubles), so the replay is bit-identical — see
      // GraphAnalytics.pageRankFp for the determinism contract.
      "q137_graph_pagerank" -> {
        def round(prev: String, cur: String): String =
          s"""c$cur AS (SELECT e.b,
             |   CAST(SUM(CAST(FLOOR(0.85 * FLOOR(r$prev.r / deg.d)) AS BIGINT)) AS BIGINT) AS cs
             | FROM edges e JOIN deg ON deg.a = e.a JOIN r$prev ON r$prev.id = e.a
             | GROUP BY e.b),
             |r$cur AS (SELECT nodes.id, tp.t + COALESCE(c$cur.cs, 0) AS r
             | FROM nodes CROSS JOIN tp LEFT JOIN c$cur ON c$cur.b = nodes.id)""".stripMargin
        s"""WITH nodes AS (SELECT id FROM read_parquet('$b/nodes/*.parquet')),
           |edges AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |st AS (SELECT count(*) AS n FROM nodes),
           |deg AS (SELECT a, count(*) AS d FROM edges GROUP BY 1),
           |tp AS (SELECT CAST(FLOOR(0.15 * 1000000000.0 / n) AS BIGINT) AS t FROM st),
           |r0 AS (SELECT id, CAST(FLOOR(1000000000.0 / st.n) AS BIGINT) AS r
           |       FROM nodes CROSS JOIN st),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT id, r AS rank_fp, rnk FROM
           |  (SELECT id, r, CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id) AS INT) AS rnk FROM r3)
           |WHERE rnk <= 20 ORDER BY rnk""".stripMargin
      },
      // q140: min-hop BFS from the entrypoint over the same dump. The
      // d < 30 cap mirrors hopDepths' maxRounds (which THROWS if the
      // frontier is still growing there, so a too-small cap can never
      // silently disagree).
      "q140_entry_depths" ->
        s"""WITH RECURSIVE
           |nodes AS (SELECT id FROM read_parquet('$b/nodes/*.parquet')),
           |edges AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |ep AS (SELECT entrypoint FROM read_parquet('$b/entry/*.parquet')),
           |reach(node, d) AS (
           |  SELECT entrypoint AS node, 0 AS d FROM ep
           |  WHERE entrypoint IN (SELECT id FROM nodes)
           |  UNION
           |  SELECT e.b, r.d + 1 FROM reach r JOIN edges e ON e.a = r.node
           |  WHERE r.d < 30 AND e.b IN (SELECT id FROM nodes)),
           |md AS (SELECT node, min(d) AS d FROM reach GROUP BY node)
           |SELECT CAST(d AS INT) AS depth, count(*) AS n_nodes FROM md GROUP BY d
           |UNION ALL
           |SELECT -1 AS depth, count(*) AS n_nodes
           |FROM nodes n LEFT JOIN md ON md.node = n.id WHERE md.node IS NULL
           |ORDER BY depth""".stripMargin,
      // q149: identical degree-(id)-ordered orientation + wedge-close
      // joins over the undirected closure of the same dump.
      "q149_graph_triangles" ->
        s"""WITH e0 AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |nodes AS (SELECT id FROM read_parquet('$b/nodes/*.parquet')),
           |und AS (SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
           |        FROM e0 WHERE a <> b),
           |deg AS (SELECT id, count(*) AS d FROM
           |          (SELECT x AS id FROM und UNION ALL SELECT y AS id FROM und)
           |        GROUP BY id),
           |ori AS (SELECT CASE WHEN (dx.d, u.x) < (dy.d, u.y) THEN u.x ELSE u.y END AS u,
           |               CASE WHEN (dx.d, u.x) < (dy.d, u.y) THEN u.y ELSE u.x END AS v
           |        FROM und u JOIN deg dx ON dx.id = u.x JOIN deg dy ON dy.id = u.y),
           |wedge AS (SELECT e1.v AS u, e2.v AS v
           |          FROM ori e1 JOIN ori e2 ON e1.u = e2.u AND e1.v <> e2.v
           |          JOIN deg dv ON dv.id = e1.v JOIN deg dw ON dw.id = e2.v
           |          WHERE (dv.d, e1.v) < (dw.d, e2.v)),
           |tri AS (SELECT count(*) AS n_triangles FROM wedge w
           |        WHERE EXISTS (SELECT 1 FROM ori o WHERE o.u = w.u AND o.v = w.v)),
           |wt AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
           |nn AS (SELECT count(*) AS n_nodes FROM nodes),
           |ne AS (SELECT count(*) AS n_edges_und FROM und)
           |SELECT nn.n_nodes, ne.n_edges_und, wt.n_wedges, tri.n_triangles,
           |       CASE WHEN wt.n_wedges = 0 THEN 0.0
           |            ELSE ROUND(3.0 * tri.n_triangles / CAST(wt.n_wedges AS DOUBLE), 4) + 0.0
           |       END AS global_cc
           |FROM nn, ne, wt, tri""".stripMargin,
      "q143_edge_symmetry" ->
        s"""WITH edges AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |sym AS (SELECT count(*) AS n_symmetric FROM edges e
           |        WHERE EXISTS (SELECT 1 FROM edges r WHERE r.a = e.b AND r.b = e.a)),
           |tot AS (SELECT count(*) AS n_edges FROM edges)
           |SELECT tot.n_edges, sym.n_symmetric,
           |       ROUND(CAST(sym.n_symmetric AS DOUBLE) / tot.n_edges, 4) + 0.0 AS sym_frac
           |FROM tot, sym""".stripMargin,
      "q196_graph_assortativity" ->
        s"""WITH edges AS (SELECT a, b FROM read_parquet('$b/edges/*.parquet')),
           |od AS (SELECT a, CAST(count(*) AS BIGINT) AS ja FROM edges GROUP BY a),
           |idg AS (SELECT b, CAST(count(*) AS BIGINT) AS jb FROM edges GROUP BY b),
           |j AS (SELECT ja, jb FROM edges JOIN od USING (a) JOIN idg USING (b)),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
           |        CAST(sum(ja) AS BIGINT) AS sx, CAST(sum(jb) AS BIGINT) AS sy,
           |        CAST(sum(ja * ja) AS BIGINT) AS sxx, CAST(sum(jb * jb) AS BIGINT) AS syy,
           |        CAST(sum(ja * jb) AS BIGINT) AS sxy FROM j)
           |SELECT m, sx, sy, sxx, syy, sxy,
           |  m * sxy - sx * sy AS num,
           |  m * sxx - sx * sx AS den_x,
           |  m * syy - sy * sy AS den_y,
           |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
           |       THEN ROUND(CAST(m * sxy - sx * sy AS DOUBLE) /
           |            (SQRT(CAST(m * sxx - sx * sx AS DOUBLE)) *
           |             SQRT(CAST(m * syy - sy * sy AS DOUBLE))), 4) + 0.0
           |  END AS assortativity
           |FROM s""".stripMargin)
  }
}
