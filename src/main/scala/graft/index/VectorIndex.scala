package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Index metadata — the Spark replacement for the reference's
  * Julia-serialized `.meta` Dict (`/root/reference/src/LMDiskANN.jl:69-100`).
  * Unlike the reference, the metric IS persisted (SURVEY §4.3 Q6 fix)
  * and eltype is whitelist-validated (Q8 fix). `eltype` "Float16"
  * stores binary16-packed vectors (2 bytes/component — reference
  * storage parity) decoded to Float32 for compute; "Float64" narrows
  * to Float32 (documented divergence, SURVEY §1.4).
  *
  * `segments` lists the version directories whose files make up the
  * CURRENT state (newest last): mutations append a delta segment
  * instead of rewriting the tables, and readers resolve latest-wins
  * per id (see [[VectorIndex.resolved]]). `exactThreshold` is the
  * index size above which batch wiring switches from exact to
  * LSH-bucketed candidates (persisted so mutations of a loaded index
  * keep the build-time policy). */
final case class IndexMeta(
    version: Long,
    numPoints: Long,
    dim: Int,
    maxDegree: Int,
    entrypoint: Int,
    eltype: String,
    metric: String,
    freelist: Seq[Int],
    ingestBatchId: Long = -1L,
    segments: Seq[Long] = Seq(0L),
    exactThreshold: Long = 20000L,
    // the delta segment the LAST id-carrying ingest batch committed —
    // lets a replayed micro-batch re-derive exactly its own rows and
    // converge a live serving fleet idempotently (applyRouterBatch)
    ingestSegment: Long = -1L) {
  require(Set("Float16", "Float32", "Float64").contains(eltype), s"bad eltype $eltype")
  Metric.fromName(metric) // validate
}

/** Disk-resident vector index: versioned directory of Parquet tables +
  * JSON metadata sidecar (SURVEY §1.4 mapping of `LMDiskANNIndex{T}`).
  *
  * Layout:
  * {{{
  *   <path>/meta.json      — current IndexMeta (atomic commit pointer)
  *   <path>/v=<N>/vectors/ — id BIGINT, key STRING, vec ARRAY<FLOAT>
  *   <path>/v=<N>/graph/   — id BIGINT, nbrs ARRAY<BIGINT>   (kNN edges)
  *   <path>/v=<N>/ring/    — id BIGINT, succ BIGINT, prev BIGINT
  * }}}
  *
  * Mutability on immutable storage (SURVEY §7 hard part a): every
  * mutation writes a NEW segment directory holding ONLY the rows it
  * adds or changes (a deleted row is a tombstone with NULL payload)
  * and then atomically swaps the `meta.json` pointer, whose `segments`
  * list names the directories that make up the current state. Readers
  * of the previous snapshot are never disturbed; a crashed writer
  * leaves only an orphaned directory. Commit cost is O(batch), not
  * O(index): a 1k-row micro-batch into a 100 TB index writes kilobytes
  * — the vectors delta, the O(batch · degree) rewired adjacency rows,
  * and the O(batch) spliced ring links. Reads resolve latest-wins per
  * id across segments (a plain scan when there is one segment); past
  * [[VectorIndex.MaxSegments]] segments a commit compacts back to a
  * single directory, bounding read amplification.
  *
  * The connectivity ring is persisted as explicit (succ, prev) LINKS
  * so an insert can splice new ids into their id-order gaps touching
  * only the gap endpoints — the public `adjacency` view merges ring +
  * kNN edges, so search code is layout-agnostic.
  */
final class VectorIndex private (
    val spark: SparkSession,
    val path: String,
    val meta: IndexMeta) {

  import VectorIndex._

  private def segDir(table: String, v: Long): String = s"$path/v=$v/$table"

  /** Latest-wins resolution across segments, tombstones dropped. One
    * segment (the common, post-compaction state) is a plain pushed-down
    * parquet scan. With delta segments present, the normal path
    * exploits their size asymmetry: deltas are O(batch) by construction
    * (a mutation writes only its own rows), so the base — segments are
    * ordered, and the head is always a build/compact/clear output,
    * live-only and typically ~the whole index — is resolved by a
    * BROADCAST anti-join on the displaced ids and never shuffled. A
    * 100 TB base with a 1k-row delta reads map-side only; the former
    * union + groupBy(id) resolve shuffled the full index on every read.
    * Deltas latest-win among themselves via max_by on segment number
    * (each segment holds at most one row per id, so it's
    * deterministic). If the deltas are abnormally large (file bytes
    * past [[VectorIndex.BroadcastResolveBytes]] — e.g. a giant
    * insertBatch just before compaction), fall back to the shuffle
    * resolve rather than broadcast something executor-memory-sized. */
  private def resolved(table: String, schema: StructType, liveCol: String): DataFrame =
    resolvedFrom(v => segDir(table, v), schema, liveCol)

  /** [[resolved]] over an arbitrary segment->directory mapping — the
    * same latest-wins/broadcast-anti-join read serves derived
    * per-segment artifacts (the PQ code dirs) as well as the tables. */
  private def resolvedFrom(dirOf: Long => String, schema: StructType, liveCol: String): DataFrame = {
    val segs = meta.segments
    val dataCols = schema.fieldNames.filter(_ != "id").toSeq
    def read(v: Long): DataFrame = spark.read.schema(schema).parquet(dirOf(v))
    def deltaResolved(tail: Seq[Long]): DataFrame = tail.map(v => read(v).withColumn("__seg", lit(v)))
      .reduce(_.unionByName(_))
      .groupBy(col("id"))
      .agg(max_by(struct(dataCols.map(col): _*), col("__seg")).as("__r"))
      .select(col("id") +: dataCols.map(c => col(s"__r.$c").as(c)): _*)
    if (segs.length == 1)
      read(segs.head).filter(col(liveCol).isNotNull)
    else if (segs.tail.map(v => dirBytes(dirOf(v))).sum <= BroadcastResolveBytes) {
      val delta = deltaResolved(segs.tail)
      read(segs.head)
        .join(broadcast(delta.select(col("id"))), Seq("id"), "left_anti")
        .unionByName(delta)
        .filter(col(liveCol).isNotNull)
    } else {
      deltaResolved(segs)
        .filter(col(liveCol).isNotNull)
    }
  }

  /** An id set as a single-column frame, for join-phrased membership. */
  private def idSetDf(ids: Seq[Long], name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_)),
        math.max(1, ids.size / 500000)),
      StructType(Seq(StructField(name, LongType, nullable = false))))

  /** Membership filter that scales past literal lists: small id sets
    * compile to an In/InSet predicate (cheap to analyze, pushable),
    * but past [[VectorIndex.InListMaxIds]] the same semantics switch
    * to a BROADCAST semi/anti join — a 10^6-row batch must not inline
    * 10^6 literals into the plan (multi-MB plan serialization,
    * analyzer cost), mirroring the BroadcastResolveBytes pattern in
    * [[resolved]]. */
  private[index] def filterByIds(df: DataFrame, idCol: String, ids: Seq[Long], keep: Boolean): DataFrame =
    if (ids.size <= InListMaxIds)
      df.filter(if (keep) col(idCol).isin(ids: _*) else !col(idCol).isin(ids: _*))
    else
      df.join(broadcast(idSetDf(ids, idCol)), Seq(idCol), if (keep) "left_semi" else "left_anti")

  /** Driver-side metadata listing — no Spark job. */
  private def dirBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** True when vectors are stored binary16-packed (eltype Float16):
    * 2 bytes per component on disk — the reference's parametric-type
    * storage footprint (src/LMDiskANN.jl:239 `T=Float16`) — decoded to
    * Float32 for compute. */
  private def isHalf: Boolean = meta.eltype == "Float16"

  private def storedVectorsSchema: StructType =
    if (isHalf) vectorsSchemaHalf else vectorsSchema

  /** Vectors in their on-disk form (BINARY packed when Float16). */
  private def rawVectors: DataFrame = resolved("vectors", storedVectorsSchema, "vec")

  /** Encode an (id, key, vec ARRAY<FLOAT>) frame to the storage form. */
  private def encodeVectors(df: DataFrame): DataFrame =
    if (isHalf)
      df.select(col("id").cast("long"), col("key").cast("string"),
        graft.functions.VectorFunctions.halfPack(col("vec").cast("array<float>")).as("vec"))
    else
      df.select(col("id").cast("long"), col("key").cast("string"),
        col("vec").cast("array<float>"))

  /** id BIGINT, key STRING, vec ARRAY<FLOAT> — live vectors only. */
  def vectors: DataFrame =
    if (isHalf)
      rawVectors.select(col("id"), col("key"),
        graft.functions.VectorFunctions.halfUnpack(col("vec")).as("vec"))
    else rawVectors

  /** ONE committed segment's vector rows (id, key, vec), decoded,
    * tombstones dropped — lets maintenance jobs replay exactly what a
    * delta commit wrote (e.g. into a live serving fleet,
    * [[graft.streaming.StreamingOps.applyRouterBatch]]) without
    * re-deriving the id assignment. Valid for any version ever
    * committed: segment dirs stay on disk after compaction. */
  def segmentVectors(version: Long): DataFrame =
    segmentDecoded(version).filter(col("vec").isNotNull)

  /** ONE segment's decoded vector rows INCLUDING tombstones (null vec)
    * — the input shape for derived per-segment artifacts (PQ codes,
    * IVF assignments), whose null rows must mirror the tables'
    * tombstones so the latest-wins resolve drops deleted ids. */
  private def segmentDecoded(version: Long): DataFrame = {
    val raw = spark.read.schema(storedVectorsSchema).parquet(segDir("vectors", version))
    if (isHalf) raw.select(col("id"), col("key"),
      graft.functions.VectorFunctions.halfUnpack(col("vec")).as("vec"))
    else raw
  }

  /** kNN-pruned graph edges (no ring), live rows only. */
  private[index] def graphTable: DataFrame = resolved("graph", graphSchema, "nbrs")

  /** Ring links (id, succ, prev), live rows only. */
  private[index] def ringTable: DataFrame = resolved("ring", ringSchema, "succ")

  /** id BIGINT, nbrs ARRAY<BIGINT> — the merged adjacency view (ring
    * links first so connectivity survives the degree cap, then kNN
    * edges by distance). */
  def adjacency: DataFrame = {
    val ringArr = filter(array(col("succ"), col("prev")),
      x => x.isNotNull && x =!= col("id"))
    ringTable.join(graphTable, Seq("id"), "full_outer")
      .select(col("id"),
        slice(array_distinct(concat(
          ringArr,
          coalesce(col("nbrs"), array().cast("array<bigint>")))), 1, meta.maxDegree).as("nbrs"))
  }

  def metric: Metric = Metric.fromName(meta.metric)

  /** Write-once BUCKETED serving layout for the distributed beam path:
    * `vectors` and `adjacency` materialized `bucketBy(numBuckets, id)`
    * + `sortBy(id)` under `$path/bucketed/` and registered as external
    * tables — so the per-step `frontier ⋈ adjacency` and
    * `candidates ⋈ vectors` joins see HashPartitioning(id) straight
    * off the scan and the INDEX side of every step is Exchange-free.
    * Only the O(queries·beam) frontier shuffles per step; the
    * index-sized side never crosses the network — the property that
    * decides whether the traversal survives a 100× scale-up (the
    * unbucketed layout re-Exchanged the full index every step, and
    * shuffle count is O(steps)).
    *
    * Keyed by (segment set, bucket count): a mutation commits a new
    * segment set, so a stale bucketed copy can never serve a newer
    * snapshot — the same identity discipline as the PQ/IVF artifact
    * dirs. Re-opening an already-written layout in a fresh session is
    * metadata-only (CREATE TABLE over the existing files). At cluster
    * scale, set numBuckets to the serving parallelism (it is fixed at
    * write time). */
  def bucketedServing(numBuckets: Int = 32): (DataFrame, DataFrame) = {
    val segKey = Fingerprint.ofString(meta.segments.mkString(","))
    val base = s"$path/bucketed/$segKey-b$numBuckets"
    val tag = s"graft_bkt_${Fingerprint.ofString(path)}_${segKey}_b$numBuckets"
    def ensure(suffix: String, ddlCols: String, df: => DataFrame): DataFrame = {
      val name = s"${tag}_$suffix"
      val dir = s"$base/$suffix"
      if (!spark.catalog.tableExists(name)) {
        if (ArtifactStore.current.exists(s"$dir/_SUCCESS")) {
          spark.sql(s"CREATE TABLE $name ($ddlCols) USING PARQUET " +
            s"CLUSTERED BY (id) SORTED BY (id) INTO $numBuckets BUCKETS " +
            s"LOCATION '$dir'")
        } else {
          df.write.format("parquet").bucketBy(numBuckets, "id").sortBy("id")
            .option("path", dir).mode("overwrite").saveAsTable(name)
        }
      }
      spark.table(name)
    }
    (ensure("vectors", "id BIGINT, key STRING, vec ARRAY<FLOAT>",
      vectors.select(col("id"), col("key"), col("vec"))),
      ensure("adjacency", "id BIGINT, nbrs ARRAY<BIGINT>", adjacency))
  }

  /** Materialize the serving engine (driver-side graph traversal) from
    * the snapshot — the Spark analog of the reference's mmap open. */
  def toServing: ServingIndex = {
    val s = new ServingIndex(meta.dim, meta.maxDegree, metric)
    val rows = vectors.join(adjacency, Seq("id"), "left")
      .select(col("id"), col("key"), col("vec"), coalesce(col("nbrs"), array()).as("nbrs"))
      .collect()
    rows.foreach { r =>
      s.loadRow(
        r.getLong(0).toInt,
        r.getString(1),
        r.getSeq[Float](2).toArray,
        r.getSeq[Long](3).map(_.toInt).toArray)
    }
    s.finishLoad(meta.entrypoint, meta.freelist)
    s
  }

  /** What PQ encodes for this index: raw vectors under Euclidean,
    * L2-normalized copies under cosine — ADC over unit vectors ranks
    * cosine correctly (||a-b||² = 2 - 2·cos), and exact re-ranks stay
    * true cosine on the raw values. */
  private def pqFitSource: DataFrame = pqPrepare(vectors)

  private def pqPrepare(df: DataFrame): DataFrame = metric match {
    case Metric.Cosine =>
      df.select(col("id"), col("key"), normalizeForPq(col("vec")).as("vec"))
    case _ => df
  }

  /** What PQ encodes, as a column: the raw vector under Euclidean, its
    * L2-normalized copy under cosine (null-safe for tombstones). */
  private def normalizeForPq(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    metric match {
      case Metric.Cosine =>
        import graft.functions.VectorFunctions
        when(vec.isNotNull,
          VectorFunctions.normalizedByNorm(vec, VectorFunctions.l2Norm(vec)))
      case _ => vec
    }

  /** Fit PQ codebooks from this index's vectors and persist them as a
    * per-m `pq-m<m>.json` sidecar next to the snapshot — the
    * compression model is part of the index artifact, created once
    * with it (reference create/save contract extended to LM-DiskANN's
    * compressed-node axis). Per-m sidecars let callers with different
    * m values coexist instead of thrashing one shared file. Cosine
    * indexes fit on NORMALIZED vectors (see [[pqFitSource]]). `m` must
    * divide the dimension. */
  def fitPQ(m: Int, k: Int = 256): Quantization.PQModel = {
    val model = Quantization.pqFit(pqFitSource, m = m, k = k)
    Quantization.save(model, path, s"pq-m$m.json")
    model
  }

  /** The persisted PQ model for subspace count `m` (its
    * `pq-m<m>.json` sidecar), if one was fit for this index. */
  def loadPQ(m: Int = 8): Option[Quantization.PQModel] =
    if (ArtifactStore.current.exists(s"$path/pq-m$m.json"))
      Some(Quantization.load(path, s"pq-m$m.json"))
    else None

  /** The persisted PQ code column for the CURRENT snapshot state — the
    * artifact that delivers PQ's scan-side win (an ADC pass reads
    * these m-byte codes instead of the d·4-byte vectors, 32x fewer
    * bytes at d=64/m=8). Codes are a DERIVED artifact keyed by
    * (SEGMENT, MODEL): each table segment gets its own code dir (the
    * dir name carries the model's shape and a codebook content hash,
    * so refitting — even with the same m — never serves stale codes
    * against a new model's LUTs), and the read resolves latest-wins
    * across segments exactly like the tables do. A delta commit
    * therefore encodes ONLY its own rows — O(batch), never the
    * O(index) full re-encode a version-keyed dir forced — and
    * compaction re-keys codes with the tables. Completeness is gated
    * on the `_SUCCESS` marker, not bare dir existence: an interrupted
    * write leaves a partial dir that a bare exists() check would trust
    * forever. Code dirs for segments no longer in `meta.segments`
    * stay on disk for readers of previous snapshots, like the table
    * dirs themselves, until [[vacuum]] reaps them. Cosine indexes
    * encode normalized vectors. */
  def pqCodes(model: Quantization.PQModel): DataFrame = {
    val fp = Fingerprint.ofFloats(model.codebook)
    val suffix = s"m${model.m}k${model.k}-$fp"
    def codesDir(v: Long) = s"$path/pq_codes/seg=$v-$suffix"
    meta.segments.foreach { v =>
      val dir = codesDir(v)
      if (!ArtifactStore.current.exists(s"$dir/_SUCCESS")) {
        // tombstone rows (null vec) become null-code tombstones, so the
        // latest-wins resolve drops deleted ids exactly like the tables
        pqPrepare(segmentDecoded(v))
          .select(col("id"), when(col("vec").isNotNull, model.encode(col("vec"))).as("codes"))
          .write.mode("overwrite").parquet(dir)
      }
    }
    resolvedFrom(codesDir, pqCodesSchema, "codes")
  }

  // ------------------------------------------------- IVF lifecycle tier

  private def ivfFile(k: Int, m: Metric): String = s"ivf-k$k-${m.name}.json"

  /** Fit the coarse quantizer (IVF) from this index's vectors and
    * persist it as a metric-tagged `ivf-k<K>-<metric>.json` sidecar —
    * the create-once/serve-many contract (reference
    * create_index/load_index, src/LMDiskANN.jl:239-306) applied to the
    * acceleration tier, exactly like [[fitPQ]] for the compression
    * model. `searchMetric` defaults to the index metric but may differ:
    * the coarse quantizer is a SEARCH-tier artifact, and serving cosine
    * queries over a Euclidean-stored index is the reference's metric
    * parameter (src/LMDiskANN.jl:242) at the IVF tier — per-metric
    * sidecars let both coexist. */
  def fitIVF(k: Int = 16, searchMetric: Metric = metric): IvfModel = {
    val model = graft.operators.Similarity.ivfFitModel(
      vectors, k, metric = searchMetric)
    Ivf.save(model, path, ivfFile(k, searchMetric))
    model
  }

  /** The persisted IVF model for (k, metric), if one was fit. */
  def loadIVF(k: Int = 16, searchMetric: Metric = metric): Option[IvfModel] = {
    val f = ivfFile(k, searchMetric)
    if (ArtifactStore.current.exists(s"$path/$f")) Some(Ivf.load(path, f)) else None
  }

  /** [[loadIVF]] falling back to a fit-and-persist on first use. */
  def loadOrFitIVF(k: Int = 16, searchMetric: Metric = metric): IvfModel =
    loadIVF(k, searchMetric).getOrElse(fitIVF(k, searchMetric))

  /** The persisted IVF assignment (id, cluster) for the CURRENT
    * snapshot state — the partition-pruning side of the inverted file,
    * maintained INCREMENTALLY: assignments are a derived artifact keyed
    * by (SEGMENT, MODEL) like the PQ code dirs, so a delta commit
    * assigns ONLY its own rows (one map pass against the persisted
    * centroids — O(batch), never a corpus re-scan), tombstone rows
    * carry a null cluster, and the read resolves latest-wins across
    * segments exactly like the tables. At 100 TB the materialized form
    * of this table is what you physically cluster the store by; the
    * composite [[ivfPqCodes]] below IS that table, partitioned by
    * cluster. */
  def ivfAssignments(model: IvfModel): DataFrame = {
    def dir(v: Long) = s"$path/ivf_assign/seg=$v-${model.suffix}"
    meta.segments.foreach { v =>
      val d = dir(v)
      if (!ArtifactStore.current.exists(s"$d/_SUCCESS")) {
        graft.operators.Similarity.assignClusters(segmentDecoded(v), model)
          .select(col("id"), col("cluster"))
          .write.mode("overwrite").parquet(d)
      }
    }
    resolvedFrom(dir, ivfAssignSchema, "cluster")
  }

  /** The persisted CLUSTER-PARTITIONED raw-vector table
    * (id, vec, cluster) — the physically-clustered store the IVF
    * serving tier reads: a probe's static `cluster IN (...)` filter
    * prunes the scan to the nprobe directories at planning time, so
    * full-precision IVF search (q32/q36) reads only the probed slice
    * of a 100 TB store instead of a cached full copy. Same per-segment
    * identity discipline as [[ivfPqCodes]]: dirs keyed by the model's
    * content fingerprint, tombstones land null, latest-wins resolve. */
  def ivfClusteredVectors(model: IvfModel): DataFrame = {
    def dir(v: Long) = s"$path/ivf_vec/seg=$v-${model.suffix}"
    meta.segments.foreach { v =>
      val d = dir(v)
      if (!ArtifactStore.current.exists(s"$d/_SUCCESS")) {
        graft.operators.Similarity.assignClusters(segmentDecoded(v), model)
          .select(col("id"), col("vec"), col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(d)
      }
    }
    resolvedFrom(dir, VectorIndex.ivfVecSchema, "vec")
  }

  /** The persisted IVF-PQ composite (id, codes, cluster) — the
    * billion-scale serving table (coarse assignment prunes the scan to
    * nprobe clusters AND the m-byte code column shrinks the scanned
    * bytes ~32x), written per segment PARTITIONED BY cluster so a
    * probe's static `cluster IN (...)` filter becomes planning-time
    * partition pruning: the scan lists only the nprobe directories, no
    * join or dynamic pruning needed to skip the rest of 100 TB. Keyed
    * by (segment, IVF model, PQ model) content fingerprints — a re-fit
    * of either model can never serve stale composite rows — and
    * resolved latest-wins like every other per-segment artifact;
    * tombstones carry null codes/cluster. Cosine indexes encode
    * normalized vectors (matching [[pqCodes]]). */
  def ivfPqCodes(ivfModel: IvfModel, pqModel: Quantization.PQModel): DataFrame = {
    // The code column's GEOMETRY follows the INDEX metric (cosine
    // indexes encode normalized vectors, pqPrepare); an IVF model fit
    // under a different metric would cluster one geometry and ADC-score
    // another — a silent recall sink. Cross-metric IVF serving is
    // legitimate, but through ivfAssignments + exact re-rank, never
    // through this composite.
    require(Metric.fromName(ivfModel.metricName) == metric,
      s"ivfPqCodes requires the IVF model's metric (${ivfModel.metricName}) " +
        s"to match the index metric (${metric.name}); use ivfAssignments for " +
        "cross-metric IVF serving")
    val pqFp = Fingerprint.ofFloats(pqModel.codebook)
    val suffix = s"${ivfModel.suffix}--m${pqModel.m}k${pqModel.k}-$pqFp"
    def dir(v: Long) = s"$path/ivfpq/seg=$v-$suffix"
    meta.segments.foreach { v =>
      val d = dir(v)
      if (!ArtifactStore.current.exists(s"$d/_SUCCESS")) {
        graft.operators.Similarity.assignClusters(segmentDecoded(v), ivfModel)
          .select(col("id"), col("cluster"),
            when(col("vec").isNotNull,
              pqModel.encode(normalizeForPq(col("vec")))).as("codes"))
          .write.mode("overwrite").partitionBy("cluster").parquet(d)
      }
    }
    resolvedFrom(dir, ivfPqSchema, "codes")
  }

  private def requireIvfMetric(ivfModel: IvfModel, what: String): Unit =
    require(Metric.fromName(ivfModel.metricName) == metric,
      s"$what requires the IVF model's metric (${ivfModel.metricName}) " +
        s"to match the index metric (${metric.name})")

  /** Residual-PQ sidecar name: the codebook is fit on residuals UNDER
    * a specific coarse quantizer, so its identity includes that IVF
    * model's full suffix (shape + metric + content hash) — a coarse
    * re-fit can never pair with a stale residual codebook. */
  private def pqResFile(ivfModel: IvfModel, m: Int): String =
    s"pqres-${ivfModel.suffix}-m$m.json"

  /** Per-row residuals (prepared vector − assigned centroid) under
    * `ivfModel` — the quantity the residual codebook fits and encodes.
    * Assignment is the shared pure-expression pass; the k×dim centroid
    * table broadcasts. */
  private def residualsOf(src: DataFrame, ivfModel: IvfModel): DataFrame =
    graft.operators.Similarity.assignClusters(src, ivfModel)
      .join(broadcast(graft.operators.Similarity.centroidsDf(spark, ivfModel)),
        Seq("cluster"))
      .select(col("id"),
        zip_with(normalizeForPq(col("vec")), col("cvec"), (a, b) => a - b).as("vec"))

  /** Fit a RESIDUAL PQ codebook (classic IVFADC, Jégou et al. 2011):
    * quantize (vec − centroid) instead of vec. Residuals concentrate
    * near the origin with most cross-cluster variance already absorbed
    * by the coarse quantizer, so the same m bytes spend their
    * precision on local detail — higher recall than raw-vector codes
    * at identical compression. Persisted like [[fitPQ]], keyed by the
    * IVF model's suffix. */
  def fitResidualPQ(ivfModel: IvfModel, m: Int, k: Int = 256): Quantization.PQModel = {
    requireIvfMetric(ivfModel, "fitResidualPQ")
    val model = Quantization.pqFit(residualsOf(pqFitSource, ivfModel), m = m, k = k)
    Quantization.save(model, path, pqResFile(ivfModel, m))
    model
  }

  /** The persisted residual codebook for (ivfModel, m), if any. */
  def loadResidualPQ(ivfModel: IvfModel, m: Int): Option[Quantization.PQModel] = {
    val f = pqResFile(ivfModel, m)
    if (ArtifactStore.current.exists(s"$path/$f")) Some(Quantization.load(path, f))
    else None
  }

  def loadOrFitResidualPQ(ivfModel: IvfModel, m: Int, k: Int = 256): Quantization.PQModel =
    loadResidualPQ(ivfModel, m).getOrElse(fitResidualPQ(ivfModel, m, k))

  /** Persisted per-segment RESIDUAL composite codes
    * (`ivfpq_res/seg=<v>-<ivfSfx>--<pqSfx>`, PARTITIONED BY cluster) —
    * the IVFADC layout: same physical shape and partition-pruned read
    * path as [[ivfPqCodes]], but `codes` encode (vec − centroid) under
    * the residual codebook, served by `ivfPqTopK(residual = true)`.
    * Tombstones carry null codes/cluster; delta commits encode
    * O(batch); [[vacuum]] reaps dirs whose IVF or residual-codebook
    * half is stale. */
  def ivfPqResidualCodes(ivfModel: IvfModel, resModel: Quantization.PQModel): DataFrame = {
    requireIvfMetric(ivfModel, "ivfPqResidualCodes")
    val pqFp = Fingerprint.ofFloats(resModel.codebook)
    val suffix = s"${ivfModel.suffix}--m${resModel.m}k${resModel.k}-$pqFp"
    def dir(v: Long) = s"$path/ivfpq_res/seg=$v-$suffix"
    val centroids = graft.operators.Similarity.centroidsDf(spark, ivfModel)
    meta.segments.foreach { v =>
      val d = dir(v)
      if (!ArtifactStore.current.exists(s"$d/_SUCCESS")) {
        // LEFT join: tombstone rows carry a null cluster and must
        // survive to the artifact with null codes
        graft.operators.Similarity.assignClusters(segmentDecoded(v), ivfModel)
          .join(broadcast(centroids), Seq("cluster"), "left")
          .select(col("id"), col("cluster"),
            when(col("vec").isNotNull,
              resModel.encode(
                zip_with(normalizeForPq(col("vec")), col("cvec"), (a, b) => a - b)))
              .as("codes"))
          .write.mode("overwrite").partitionBy("cluster").parquet(d)
      }
    }
    resolvedFrom(dir, ivfPqSchema, "codes")
  }

  /** [[toServing]] with low-memory PQ traversal enabled from the
    * persisted per-m sidecar; fit-and-save on first use. Works for
    * BOTH metrics: cosine fits/encodes normalized vectors and the
    * serving engine re-ranks in true cosine (the reference's cosine
    * parameter, src/LMDiskANN.jl:242, combined with LM-DiskANN's
    * low-memory principle). */
  def toServingLowMemory(m: Int = 8): ServingIndex = {
    val s = toServing
    val model = loadPQ(m).getOrElse(fitPQ(m))
    s.enableLowMemoryTraversal(model)
    s
  }

  /** Distributed exact top-k over the snapshot (recall-1.0 path).
    * Broadcast queries, scan vectors once, bounded-heap partial top-k;
    * keys join back against only the O(queries·k) winners. Optional
    * `filter` restricts candidates BEFORE distance evaluation
    * (filtered ANN on the exact tier — phrased on a storage column it
    * pushes down to the scan). */
  def searchExact(queries: DataFrame, topk: Int,
      filter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    import graft.functions.VectorFunctions
    val v = vectors.filter(filter)
    val q = queries.select(col("query_id"), col("qvec"))
    val dcol = Metric.distColumn(metric, col("qvec"), col("vec"))
    val vSpread = v.repartition(spark.sparkContext.defaultParallelism)
    val winners = vSpread.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"), dcol.as("dist"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKPairs(col("dist"), col("id"), topk).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("id"), col("p.dist").as("dist"),
        (col("pos") + 1).cast("int").as("rnk"))
    winners.join(v.select(col("id"), col("key")), Seq("id"))
      .select(col("query_id"), (col("id") + 1).as("public_id"), col("key"), col("dist"), col("rnk"))
  }

  /** Distributed exact range search over the snapshot: every (query,
    * neighbor) pair within `radius`, nearest first per query. One
    * scan, broadcast queries, O(hits) shuffle — the index-level twin
    * of the serving engine's rangeSearch. */
  def rangeSearchExact(queries: DataFrame, radius: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val v = vectors
    val q = queries.select(col("query_id"), col("qvec"))
    val dcol = Metric.distColumn(metric, col("qvec"), col("vec"))
    v.repartition(spark.sparkContext.defaultParallelism)
      .crossJoin(broadcast(q))
      .select(col("query_id"), (col("id") + 1).as("public_id"), col("key"), dcol.as("dist"))
      .filter(col("dist") <= radius)
      .orderBy(col("query_id"), col("dist"), col("public_id"))
  }

  /** Batch insert: append vectors and rewire, committing a DELTA
    * segment whose size is O(batch), never a table rewrite. Wiring =
    * each new node gets its maxdegree-closest candidates over
    * (old ∪ new) — exact below `meta.exactThreshold`, LSH-bucketed
    * above (the same tier switch as the bulk build) — and each touched
    * OLD node merges the new back-edges into its existing list and
    * re-prunes; untouched nodes are not read, not rewritten. The ring
    * backbone is SPLICED: new ids slot into their id-order gaps,
    * updating only the gap endpoints (the batch analog of reference
    * ann_insert! steps 5-6, src/LMDiskANN.jl:531-584).
    *
    * ID assignment matches the reference contract: freed slots are
    * recycled LIFO first (src/LMDiskANN.jl:534), then fresh ids beyond
    * every id ever used (live OR freed — a freed slot must never
    * collide with an append). */
  def insertBatch(newVectors: DataFrame): VectorIndex = insertBatch(newVectors, -1L)

  /** Optimistic-concurrency gate run BEFORE any commit writes: a
    * mutation issued from a STALE handle (its version no longer the
    * live meta.json head) would compute version = handle.version + 1
    * and clobber an existing segment dir AND its 'immutable'
    * meta-v=N.json history sidecar. One tiny meta read per commit;
    * [[VectorIndex.writeMeta]] keeps an exists-check as the last-line
    * backstop for writers that interleave between this check and the
    * pointer swap (single-writer is the documented contract — this
    * turns a violation into a loud refusal instead of silent history
    * rewrite). */
  private def requireHead(op: String): Unit = {
    val live = VectorIndex.readMeta(path).version
    if (live != meta.version)
      throw new IllegalStateException(
        s"refusing $op from a stale handle: handle is at version " +
          s"${meta.version} but the live head is $live — reload the index " +
          "and re-apply")
  }

  /** insertBatch carrying a streaming batch id: the id commits
    * atomically with the snapshot pointer, making micro-batch
    * ingestion exactly-once under at-least-once foreachBatch retries
    * (a replayed batch compares <= meta.ingestBatchId and is skipped
    * BEFORE any write — see StreamingOps.applyIngestBatch). */
  def insertBatch(newVectors: DataFrame, batchId: Long): VectorIndex = {
    requireHead("insertBatch")
    val nBatch = newVectors.count()
    if (nBatch == 0) return this
    val liveMax = vectors.agg(max(col("id"))).head().get(0) match {
      case null => -1L
      case l: Long => l
    }
    val freeMax = if (meta.freelist.isEmpty) -1L else meta.freelist.max.toLong
    val base = math.max(liveMax, freeMax) + 1L
    // LIFO recycling: last freed first
    val recycled = meta.freelist.reverse.take(math.min(nBatch, meta.freelist.size).toInt)
    val rankedSchema = StructType(Seq(
      StructField("key", StringType, nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("rnk", LongType, nullable = false)))
    val ranked = spark.createDataFrame(
      newVectors.select(col("key").cast("string"), col("vec").cast("array<float>"))
        .orderBy(col("key"))
        .rdd.zipWithIndex()
        .map { case (r, i) => Row(r.get(0), r.get(1), i) },
      rankedSchema)
    val slotDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        recycled.zipWithIndex.map { case (slot, i) => Row(i.toLong, slot.toLong) }),
      StructType(Seq(
        StructField("rnk", LongType, nullable = false),
        StructField("slot", LongType, nullable = false))))
    val incoming = ranked.join(broadcast(slotDf), Seq("rnk"), "left")
      .select(
        coalesce(col("slot"), col("rnk") - recycled.size + base).as("id"),
        col("key"), col("vec"))
      .select(col("id"),
        coalesce(col("key"), (col("id") + 1).cast("string")).as("key"),
        col("vec"))

    // write the vectors DELTA first and read it back: the wiring below
    // consumes the batch from several sub-plans, and the delta file is
    // the materialization that must be written anyway (for Float16 the
    // read-back is the QUANTIZED value — wiring distances match storage)
    val newVersion = meta.version + 1
    val dir = s"$path/v=$newVersion"
    encodeVectors(incoming).write.mode("overwrite").parquet(s"$dir/vectors")
    val incRaw = spark.read.schema(storedVectorsSchema).parquet(s"$dir/vectors")
    val inc =
      if (isHalf) incRaw.select(col("id"), col("key"),
        graft.functions.VectorFunctions.halfUnpack(col("vec")).as("vec"))
      else incRaw
    val batchIds = inc.select(col("id")).collect().map(_.getLong(0)).sorted

    val allVecs = vectors.unionByName(inc)
    val knnDegree = math.max(1, meta.maxDegree - 2)
    // candidate edges: src ∈ batch, dst ∈ (old ∪ batch). Bounded
    // output O(batch · k); checkpointed because three consumers below
    // would otherwise re-execute the wiring scan.
    val rawEdges =
      if (meta.numPoints + nBatch <= meta.exactThreshold)
        GraphBuilder.exactBatchEdges(allVecs, inc, knnDegree, metric)
      else
        GraphBuilder.lshBatchEdges(allVecs, inc.select(col("id")), knnDegree, metric)
    val edges = rawEdges.localCheckpoint(true)

    // batch nodes: own candidates + reversed batch↔batch edges
    val batchRev = filterByIds(edges, "dst", batchIds, keep = true)
      .select(col("dst").as("src"), col("src").as("dst"), col("dist"))
    val batchGraph = GraphBuilder.topKPerNode(edges.unionByName(batchRev), knnDegree)

    // touched old nodes: merge new back-edges with their EXISTING edges
    // (distances recomputed for just those rows) and re-prune — the
    // reference's add-backedge-then-truncate, restricted to the
    // O(batch · k) touched set
    val toOld = filterByIds(edges, "dst", batchIds, keep = false)
      .select(col("dst").as("src"), col("src").as("dst"), col("dist"))
    val touchedIds = toOld.select(col("src").as("id")).distinct()
    val oldEdges = graphTable.join(broadcast(touchedIds), Seq("id"))
      .select(col("id").as("src"), explode(col("nbrs")).as("dst"))
    val dcol = Metric.distColumn(metric, col("a_vec"), col("b_vec"))
    val oldScored = broadcast(oldEdges)
      .join(allVecs.select(col("id").as("src"), col("vec").as("a_vec")), "src")
      .join(allVecs.select(col("id").as("dst"), col("vec").as("b_vec")), "dst")
      .select(col("src"), col("dst"), dcol.as("dist"))
    val touchedGraph = GraphBuilder.topKPerNode(oldScored.unionByName(toOld), knnDegree)

    batchGraph.unionByName(touchedGraph)
      .select(col("id").cast("long"), col("nbrs").cast("array<bigint>"))
      .write.mode("overwrite").parquet(s"$dir/graph")

    // ring splice: O(batch) changed links
    spliceRing(batchIds)
      .write.mode("overwrite").parquet(s"$dir/ring")
    graft.plans.Blocks.release(edges)

    // entrypoint < 0 means the live set was empty, so every live id is an
    // incoming one: the smallest incoming id is min(recycled) when slots
    // were recycled (recycled ids always precede `base`), else `base`.
    // A hardcoded 0 here could be a dead (freed-but-not-recycled) slot,
    // which silently empties every DistributedSearch seed.
    val newEntry =
      if (meta.entrypoint >= 0) meta.entrypoint
      else if (recycled.nonEmpty) recycled.min
      else base.toInt
    val next = meta.copy(
      version = newVersion,
      segments = meta.segments :+ newVersion,
      numPoints = meta.numPoints + nBatch,
      entrypoint = newEntry,
      freelist = meta.freelist.dropRight(recycled.size),
      ingestBatchId = if (batchId >= 0) batchId else meta.ingestBatchId,
      ingestSegment = if (batchId >= 0) newVersion else meta.ingestSegment)
    VectorIndex.writeMeta(path, next)
    maybeCompact(new VectorIndex(spark, path, next))
  }

  /** New ring rows for a batch of ids spliced into the id-sorted ring.
    * One map-only pass over the ring table finds, per existing link
    * (a → succ), the batch ids falling in that cyclic gap; the emitted
    * partial updates (O(batch) of them) are merged driver-side. */
  private def spliceRing(batchIdsSorted: Array[Long]): DataFrame = {
    import spark.implicits._
    if (meta.numPoints == 0) {
      // fresh ring among the batch only
      val n = batchIdsSorted.length
      val rows = batchIdsSorted.indices.map { i =>
        (batchIdsSorted(i), batchIdsSorted((i + 1) % n), batchIdsSorted((i - 1 + n) % n))
      }
      return rows.toDF("id", "succ", "prev")
        .select(col("id").cast("long"), col("succ").cast("long"), col("prev").cast("long"))
    }
    // the sorted batch rides a real Broadcast handle, not a closure
    // capture — tasks share one torrent-distributed copy instead of
    // re-serializing a multi-MB array into every task binary
    val bc = spark.sparkContext.broadcast(batchIdsSorted)
    // per link (a → b): batch ids in the cyclic gap; emit the chain
    // a → x1 → … → xk → b as partial (id, succ, prev) updates with -1
    // meaning "unchanged" (a keeps its prev, b keeps its succ)
    val updates = ringTable.select(col("id"), col("succ"), col("prev"))
      .as[(Long, Long, Long)]
      .flatMap { case (a, b, _) =>
        val xs = VectorIndex.idsInGap(a, b, bc.value)
        if (xs.isEmpty) Nil
        else {
          val mids = xs.indices.map { i =>
            (xs(i),
              if (i == xs.length - 1) b else xs(i + 1),
              if (i == 0) a else xs(i - 1))
          }
          ((a, xs.head, -1L) +: mids) :+ ((b, -1L, xs.last))
        }
      }
      .collect() // bounded: <= 3 · batch rows
    bc.destroy()
    val batchSet = batchIdsSorted.toSet
    val merged = updates.groupBy(_._1).map { case (id, us) =>
      (id, us.map(_._2).max, us.map(_._3).max)
    }.toSeq
    // fill unchanged fields of touched OLD endpoints from the old ring
    val oldTouched = merged.map(_._1).filterNot(batchSet.contains)
    val oldVals = filterByIds(ringTable, "id", oldTouched, keep = true)
      .select(col("id"), col("succ"), col("prev"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rows = merged.map { case (id, s, p) =>
      val (os, op) = oldVals.getOrElse(id, (-1L, -1L))
      (id, if (s >= 0) s else os, if (p >= 0) p else op)
    }.sortBy(_._1)
    rows.toDF("id", "succ", "prev")
      .select(col("id").cast("long"), col("succ").cast("long"), col("prev").cast("long"))
  }

  /** One-row structural health report — the check an operator runs
    * after a maintenance window: live count, degree spread, weak
    * (undirected) connectivity, and the fraction of the graph in the
    * entrypoint's component. The greedy search can only ever reach the
    * entrypoint's component, so `reachable_frac < 1` means some live
    * vectors are unfindable (the Q5 failure mode the ring backbone +
    * delete-repair exist to prevent) — this is the invariant's
    * fleet-wide audit, complementing the per-mutation spec asserts.
    *
    * Components come from the same pointer-doubling min-label
    * propagation as q52 ([[graft.operators.Dedup.connectedComponents]]),
    * O(log diameter) rounds of id-keyed joins — no BFS frontier loop
    * whose round count grows with graph depth.
    *
    * Robust to the corruptions it exists to surface: degree stats run
    * over LIVE ids (a live vector with no adjacency row reports degree
    * 0 instead of silently vanishing from the spread); singleton
    * components are counted by anti-joining live ids against the edge
    * graph (never by subtraction, which a dangling neighbor id — an
    * unrepaired edge to a deleted slot — would drive negative); and
    * dangling endpoints get their own `n_dangling` column rather than
    * skewing `n_components`/`reachable_frac`. `entry_component_size`
    * counts live members only, so `reachable_frac <= 1` by
    * construction. */
  def healthReport(maxIter: Int = 20): DataFrame = {
    val liveIds = vectors.select(col("id"))
    val edges = adjacency.select(col("id").as("a"), explode(col("nbrs")).as("b"))
    // out-degree per LIVE id (adjacency rows are live-only; a live id
    // with no row counts as 0) — nLive rides the same single-row agg
    val degRow = liveIds
      .join(edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
          .select(col("a").as("id"), col("deg")),
        Seq("id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("deg"))
      .agg(count(lit(1)).as("n_live"), min(col("deg")), max(col("deg")),
        (round(avg(col("deg")), 4) + lit(0.0))).head()
    val nLive = degRow.getLong(0)
    if (nLive == 0) {
      return spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(0L, 0L, 0L, 0.0, 0L, 0L, 0.0, 0L)),
        healthSchema)
    }
    val cc = graft.operators.Dedup.connectedComponents(edges, "a", "b", maxIter)
    val entryRows = cc.filter(col("node") === meta.entrypoint.toLong)
      .select(col("component")).collect()
    // an entrypoint absent from the edge graph is its own singleton;
    // -1 never matches a component label (labels are node ids >= 0)
    val entryComp = if (entryRows.isEmpty) -1L else entryRows.head.getLong(0)
    // One full-outer join carries every remaining audit number in a
    // single-row agg (they were four separate count() jobs; on a
    // 10k-node graph each was pure scheduler overhead): live ids with
    // no edge row = singletons, labeled non-live nodes = dangling
    // endpoints, distinct labels + singletons = components, live
    // members of the entrypoint's component = reachable set.
    val audit = liveIds.join(cc, liveIds("id") === cc("node"), "full_outer")
      .agg(
        count(when(col("node").isNull, 1)).as("singles"),
        count(when(col("id").isNull, 1)).as("dangling"),
        countDistinct(col("component")).as("n_comp_edges"),
        count(when(col("id").isNotNull && col("component") === entryComp, 1))
          .as("entry_live")).head()
    graft.plans.Blocks.release(cc)
    val singles = audit.getLong(0)
    val nDangling = audit.getLong(1)
    val nComponents = audit.getLong(2) + singles
    val entrySize = if (entryComp == -1L) 1L else audit.getLong(3)
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(nLive, nComponents, entrySize,
          BigDecimal(entrySize.toDouble / nLive)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          degRow.getLong(1), degRow.getLong(2), degRow.getDouble(3),
          nDangling)),
      healthSchema)
  }

  private def healthSchema: StructType = StructType(Seq(
    StructField("n_live", LongType, nullable = false),
    StructField("n_components", LongType, nullable = false),
    StructField("entry_component_size", LongType, nullable = false),
    StructField("reachable_frac", org.apache.spark.sql.types.DoubleType, nullable = false),
    StructField("min_degree", LongType, nullable = false),
    StructField("max_degree", LongType, nullable = false),
    StructField("avg_degree", org.apache.spark.sql.types.DoubleType, nullable = false),
    StructField("n_dangling", LongType, nullable = false)))

  /** What changed between this snapshot and an `older` one — the
    * commit-review surface an operational fleet needs ("what did last
    * night's ingest actually do"): one row per differing id, tagged
    * `inserted` / `deleted` / `rekeyed` / `updated`. Keys are the
    * stable identity (a freelist slot reused by an unrelated insert
    * therefore reports `rekeyed`); `updated` means same key, different
    * stored vector bytes. One full-outer equi-join on id between the
    * two resolved live sets — both sides are the engine's normal
    * latest-wins segment resolve, so the diff costs two snapshot scans
    * and one id-keyed shuffle regardless of how many delta commits
    * separate the snapshots. Null-safe comparisons throughout: keys
    * may be null (Q9) without a row masquerading as inserted. */
  def diff(older: VectorIndex): DataFrame = {
    val a = older.vectors.select(col("id"), col("key").as("old_key"),
      col("vec").as("old_vec"), lit(true).as("in_old"))
    val b = vectors.select(col("id"), col("key").as("new_key"),
      col("vec").as("new_vec"), lit(true).as("in_new"))
    a.join(b, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("in_old").isNull, "inserted")
          .when(col("in_new").isNull, "deleted")
          .when(!(col("old_key") <=> col("new_key")), "rekeyed")
          .when(!(col("old_vec") <=> col("new_vec")), "updated"))
      .filter(col("change").isNotNull)
      // public (1-based) ids, the same surface deleteBatch consumes (Q1)
      .select((col("id") + 1).as("public_id"), col("change"),
        col("old_key"), col("new_key"))
  }

  /** Restore the index to a historical version's CONTENT by committing
    * a NEW version (Delta-style RESTORE: the timeline stays
    * append-only — a rollback is itself a recorded, diffable,
    * re-rollbackable commit, never a rewind that orphans later
    * segments). Everything restores — segment list, entrypoint,
    * freelist, and `ingestBatchId`, so a streaming batch undone by the
    * rollback re-applies on redelivery instead of being skipped as a
    * duplicate. Requires the target's history entry and segment dirs
    * (see [[VectorIndex.loadVersion]]); run `vacuum()` only after the
    * rollback window you care about has passed. */
  def rollback(toVersion: Long): VectorIndex = {
    requireHead("rollback")
    require(toVersion < meta.version,
      s"rollback target $toVersion is not before current ${meta.version}")
    val target = VectorIndex.loadVersion(spark, path, toVersion).meta
    val next = target.copy(version = meta.version + 1)
    VectorIndex.writeMeta(path, next)
    new VectorIndex(spark, path, next)
  }

  /** Merge another index's LIVE vectors into this one, committing one
    * delta segment — the compaction/combine step an operational fleet
    * needs (per-day builds folded into a serving index, shard
    * consolidation). The reference has no multi-index combine (one
    * index per directory, src/LMDiskANN.jl); this is the natural
    * Spark-first form: a merge IS a bulk [[insertBatch]] of the other
    * side's decoded (key, vec) relation, so the graph wiring, id
    * assignment, freelist reuse, and snapshot atomicity are the
    * already-tested delta-commit machinery — O(|other|) work, not a
    * rebuild of `this`.
    *
    * Contracts: dims must match; metrics must match (the merged graph
    * is wired under ONE metric — silently ingesting cosine-built
    * vectors into a Euclidean graph would serve wrong neighborhoods);
    * key sets must be disjoint (bulk-merging corpora that disagree on
    * a key is ambiguous — callers wanting the reference's insert_key!
    * last-wins remap semantics (Q7) should insert through
    * [[ServingIndex]]). The equi-join guard never matches NULL keys,
    * but that is unreachable rather than a loophole: EVERY ingest path
    * auto-keys unkeyed rows (Q2 — build and insertBatch both
    * `coalesce(key, publicId)`), so `vectors.key` is non-null by
    * invariant at this layer. Consequence worth knowing: two indexes
    * that both relied on auto-keys carry the SAME synthetic keys
    * ("1", "2", …) and merge correctly REFUSES them as colliding —
    * auto-keys are index-local identities; corpora meant to merge must
    * be built with real keys. `other`'s public ids are NOT
    * preserved — ids
    * are per-index, keys are the stable cross-index identity, exactly
    * as in the reference's key↔id mapping. Vectors re-encode under
    * THIS index's eltype: merging Float32 into a Float16 index
    * quantizes the incoming values (same rule as any insert). */
  def merge(other: VectorIndex): VectorIndex = {
    require(other.meta.dim == meta.dim,
      s"merge requires equal dims (this=${meta.dim}, other=${other.meta.dim})")
    require(other.meta.metric == meta.metric,
      s"merge requires equal metrics (this=${meta.metric}, other=${other.meta.metric})")
    val collide = other.vectors.select(col("key"))
      .join(vectors.select(col("key")), Seq("key"), "left_semi")
    require(collide.isEmpty,
      "merge requires disjoint key sets; colliding keys include " +
        collide.limit(5).collect().map(_.getString(0)).mkString(", "))
    insertBatch(other.vectors.select(col("key"), col("vec")))
  }

  /** Batch delete by public (1-based) IDs, committing a DELTA segment:
    * tombstones for the victims, repaired rows for ONLY the nodes that
    * referenced a victim (found by one map-only scan, O(in-degree)
    * rows written), spliced ring links for the victims' neighbors, and
    * entrypoint re-election if needed (reference ann_delete!
    * semantics, Q3/Q4). */
  def deleteBatch(publicIds: Seq[Long]): VectorIndex = {
    requireHead("deleteBatch")
    import spark.implicits._
    // only live rows become freelist entries: re-deleting an id (retry,
    // overlapping delete sets) must not create duplicate free slots
    val requested = publicIds.map(_ - 1L).toSet
    val victims = filterByIds(vectors, "id", requested.toSeq, keep = true)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    if (victims.isEmpty) return this
    val victimSeq = victims.toSeq.sorted
    val newVersion = meta.version + 1
    val dir = s"$path/v=$newVersion"

    // vectors: tombstones only
    spark.createDataFrame(
        spark.sparkContext.parallelize(victimSeq.map(id => Row(id, null, null))),
        storedVectorsSchema)
      .write.mode("overwrite").parquet(s"$dir/vectors")

    // graph: strip victims from the rows that reference them (one scan,
    // bounded writes — no further repair, Q3) + victim tombstones.
    // Small victim sets inline as array literals; large ones switch to
    // a posexplode + broadcast-join shape so the plan never carries a
    // million-element literal array (same threshold as filterByIds).
    val repaired =
      if (victimSeq.size <= InListMaxIds) {
        val victimArr = typedLit(victimSeq)
        graphTable
          .filter(!col("id").isin(victimSeq: _*))
          .filter(arrays_overlap(col("nbrs"), victimArr))
          .select(col("id"), array_except(col("nbrs"), victimArr).as("nbrs"))
      } else {
        val vdf = idSetDf(victimSeq, "nbr")
        val expl = filterByIds(graphTable, "id", victimSeq, keep = false)
          .select(col("id"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
        val touched = expl.join(broadcast(vdf), Seq("nbr"), "left_semi")
          .select(col("id")).distinct()
        val pruned = expl.join(touched, Seq("id"), "left_semi")
          .join(broadcast(vdf), Seq("nbr"), "left_anti")
          .groupBy(col("id"))
          // sort by original position so pruned lists keep their
          // distance order (array_except is order-preserving too)
          .agg(sort_array(collect_list(struct(col("pos"), col("nbr")))).as("ps"))
          .select(col("id"), col("ps.nbr").as("nbrs"))
        // a touched row whose every neighbor was a victim must still
        // write an EMPTY list (left-joining from `touched` keeps it) —
        // dropping it would let the stale neighbor row latest-win
        touched.join(pruned, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs"))
      }
    val graphTombs = spark.createDataFrame(
      spark.sparkContext.parallelize(victimSeq.map(id => Row(id, null))),
      graphSchema)
    repaired.unionByName(graphTombs)
      .write.mode("overwrite").parquet(s"$dir/graph")

    // ring: relink around the victims (bounded driver-side splice over
    // the collected victim neighborhoods) + victim tombstones
    val nLeft = meta.numPoints - victims.size
    // one semi-join per link column (an OR-condition against a joined
    // set would degrade to a nested-loop join), deduped on id
    val touchedRing =
      if (victimSeq.size <= InListMaxIds)
        ringTable.filter(col("id").isin(victimSeq: _*) ||
          col("succ").isin(victimSeq: _*) || col("prev").isin(victimSeq: _*))
      else
        Seq("id", "succ", "prev")
          .map(c => filterByIds(ringTable, c, victimSeq, keep = true)
            .select(col("id"), col("succ"), col("prev")))
          .reduce(_.unionByName(_))
          .dropDuplicates("id")
    val touched = touchedRing
      .select(col("id"), col("succ"), col("prev"))
      .as[(Long, Long, Long)].collect()
    val succOf = touched.map(r => r._1 -> r._2).toMap
    val prevOf = touched.map(r => r._1 -> r._3).toMap
    @annotation.tailrec
    def liveSucc(x: Long): Long = if (!victims.contains(x)) x else liveSucc(succOf(x))
    @annotation.tailrec
    def livePrev(x: Long): Long = if (!victims.contains(x)) x else livePrev(prevOf(x))
    val survivorUpdates =
      if (nLeft == 0) Seq.empty
      else touched.filter(r => !victims.contains(r._1)).map { case (id, s, p) =>
        (id, liveSucc(s), livePrev(p))
      }.toSeq
    val ringTombs = spark.createDataFrame(
      spark.sparkContext.parallelize(victimSeq.map(id => Row(id, null, null))),
      ringSchema)
    survivorUpdates.toDF("id", "succ", "prev")
      .select(col("id").cast("long"), col("succ").cast("long"), col("prev").cast("long"))
      .unionByName(ringTombs)
      .write.mode("overwrite").parquet(s"$dir/ring")

    val newEntry =
      if (!victims.contains(meta.entrypoint.toLong)) meta.entrypoint
      else filterByIds(vectors, "id", victimSeq, keep = false)
        .agg(min(col("id"))).head().get(0) match {
        case null => -1
        case l: Long => l.toInt
      }
    val next = meta.copy(
      version = newVersion,
      segments = meta.segments :+ newVersion,
      numPoints = nLeft,
      entrypoint = newEntry,
      freelist = (meta.freelist ++ victims.map(_.toInt)).distinct)
    VectorIndex.writeMeta(path, next)
    maybeCompact(new VectorIndex(spark, path, next))
  }

  /** Rewrite the resolved state into a single fresh segment — run
    * automatically when the segment list exceeds
    * [[VectorIndex.MaxSegments]] (bounding read amplification), or
    * explicitly by maintenance jobs. Old directories are left on disk
    * for readers of previous snapshots. */
  def compact(): VectorIndex = {
    requireHead("compact")
    val newVersion = meta.version + 1
    val dir = s"$path/v=$newVersion"
    rawVectors.write.mode("overwrite").parquet(s"$dir/vectors")
    graphTable.write.mode("overwrite").parquet(s"$dir/graph")
    ringTable.write.mode("overwrite").parquet(s"$dir/ring")
    val next = meta.copy(version = newVersion, segments = Seq(newVersion))
    VectorIndex.writeMeta(path, next)
    new VectorIndex(spark, path, next)
  }

  private def maybeCompact(idx: VectorIndex): VectorIndex =
    if (idx.meta.segments.length > MaxSegments) idx.compact() else idx

  /** Reap on-disk artifacts unreachable from the current snapshot:
    * table segment dirs (`v=N`) not in the live segment set, and
    * `pq_codes` dirs whose segment is dead, whose model (shape +
    * codebook content hash) no longer matches any persisted sidecar.
    * Mutations deliberately never delete — old
    * dirs keep serving readers of previous snapshots — so disk growth
    * is bounded by explicit maintenance, exactly like VACUUM in any
    * snapshot store; the caller owns the no-readers-on-old-snapshots
    * contract.
    *
    * Safety: the live set is re-read FROM DISK, not taken from this
    * (possibly stale) handle — a handle held across someone else's
    * `insertBatch` must not delete the newer snapshot's segments — and
    * versions ABOVE the on-disk maximum are never touched (an
    * in-flight commit writes its segment dir before swapping the meta
    * pointer). Returns the number of directories deleted. */
  def vacuum(): Int = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    val current = VectorIndex.readMeta(path)
    // meta.ingestSegment stays live even when compaction has dropped it
    // from meta.segments: StreamingOps.applyRouterBatch's crash-replay
    // convergence path re-reads it when the last committed batch is
    // re-delivered, so reaping it would wedge the stream on restart
    val live = current.segments.toSet ++
      Some(current.ingestSegment).filter(_ >= 0)
    val maxLive = if (live.isEmpty) -1L else live.max
    val store = ArtifactStore.current
    def deleteTree(p: Path): Unit = store.deleteTree(p.toString)
    def children(p: Path): Seq[Path] = store.list(p.toString).map(p.resolve)
    def dead(v: Long): Boolean = !live.contains(v) && v < maxLive
    var reaped = 0
    val segRe = "^v=(\\d+)$".r
    // serving-fleet layouts (ShardedServing.ensureFleetLayout) are
    // version-keyed caches: any layout older than the CURRENT pointer
    // is superseded (a time-travel reload pays one re-projection);
    // the current version's layout — and, per the safety rule, any
    // version above the on-disk pointer — is never touched
    val fleetRe = "^fleet-n=\\d+-v=(\\d+)$".r
    children(root).foreach { p =>
      p.getFileName.toString match {
        case segRe(v) if dead(v.toLong) => deleteTree(p); reaped += 1
        case fleetRe(v) if v.toLong < current.version => deleteTree(p); reaped += 1
        case _ => ()
      }
    }
    // a corrupt or mid-write sidecar must not abort the vacuum; and
    // with an unreadable sidecar the active-model set is UNKNOWN, so
    // suffix-based reaping of the affected artifact family is disabled
    // for the pass (dead-segment reaping stays safe — it never depends
    // on the sidecars)
    val pqLoads = children(root)
      .map(_.getFileName.toString)
      .filter(_.matches("^pq-m\\d+\\.json$"))
      .map { f =>
        f -> scala.util.Try {
          val m = Quantization.load(path, f)
          s"m${m.m}k${m.k}-${Fingerprint.ofFloats(m.codebook)}"
        }
      }
    val ivfLoads = children(root)
      .map(_.getFileName.toString)
      .filter(_.matches("^ivf-k\\d+-[a-z0-9]+\\.json$"))
      .map(f => f -> scala.util.Try(Ivf.load(path, f).suffix))
    // residual codebooks: sidecar name embeds the owning IVF model's
    // suffix (pqres-<ivfSfx>-m<m>.json); content suffix like pq's
    val pqResRe = "^pqres-(.+)-m\\d+\\.json$".r
    val pqResLoads = children(root)
      .map(_.getFileName.toString)
      .filter(pqResRe.matches(_))
      .map { f =>
        f -> scala.util.Try {
          val m = Quantization.load(path, f)
          s"m${m.m}k${m.k}-${Fingerprint.ofFloats(m.codebook)}"
        }
      }
    val unreadable = (pqLoads ++ ivfLoads ++ pqResLoads)
      .collect { case (f, scala.util.Failure(_)) => f }
    // an operator watching stale code dirs accumulate must be able to
    // tell "working vacuum" from "suffix reaping disabled" — name the
    // sidecar(s) that disabled it
    if (unreadable.nonEmpty)
      VectorIndex.log.warn(
        s"vacuum at $path: unreadable model sidecar(s) [${unreadable.mkString(", ")}] — " +
          "suffix-based artifact reaping disabled this pass (dead-segment reaping unaffected)")
    val pqReapOk = pqLoads.forall(_._2.isSuccess)
    val ivfReapOk = ivfLoads.forall(_._2.isSuccess)
    val pqResReapOk = pqResLoads.forall(_._2.isSuccess)
    val pqActive = pqLoads.collect { case (_, scala.util.Success(s)) => s }.toSet
    val ivfActive = ivfLoads.collect { case (_, scala.util.Success(s)) => s }.toSet
    val pqResActive = pqResLoads.collect { case (_, scala.util.Success(s)) => s }.toSet
    val codeRe = "^seg=(\\d+)-(.+)$".r
    // one reaping rule for all three per-segment artifact families:
    // dead segment, or (sidecars readable AND) model suffix no longer
    // matching any persisted sidecar. The composite's suffix is
    // "<ivfSfx>--<pqSfx>" and needs BOTH halves active.
    def reapDerived(rootName: String, reapOk: Boolean, active: String => Boolean): Unit = {
      val artRoot = root.resolve(rootName)
      if (store.exists(artRoot.toString)) children(artRoot).foreach { p =>
        p.getFileName.toString match {
          case codeRe(seg, suffix)
              if dead(seg.toLong) || (reapOk && !active(suffix)) =>
            deleteTree(p); reaped += 1
          case _ => ()
        }
      }
    }
    reapDerived("pq_codes", pqReapOk, pqActive.contains)
    reapDerived("ivf_assign", ivfReapOk, ivfActive.contains)
    reapDerived("ivf_vec", ivfReapOk, ivfActive.contains)
    reapDerived("ivfpq", pqReapOk && ivfReapOk, s => s.split("--", 2) match {
      case Array(i, p) => ivfActive.contains(i) && pqActive.contains(p)
      case _ => false
    })
    reapDerived("ivfpq_res", pqResReapOk && ivfReapOk, s => s.split("--", 2) match {
      case Array(i, p) => ivfActive.contains(i) && pqResActive.contains(p)
      case _ => false
    })
    // a residual sidecar orphaned by a coarse re-fit (its embedded IVF
    // suffix no longer matches any persisted ivf-*.json) is itself
    // stale: the codebook is meaningless without its quantizer
    if (ivfReapOk) pqResLoads.foreach { case (f, _) =>
      f match {
        case pqResRe(ivfSfx) if !ivfActive.contains(ivfSfx) =>
          store.deleteTree(s"$path/$f"); reaped += 1
        case _ => ()
      }
    }
    // bucketed serving layouts are keyed by SEGMENT SET (not model):
    // any layout not matching the current snapshot's key is stale
    val bktRoot = root.resolve("bucketed")
    if (store.exists(bktRoot.toString)) {
      val liveKey = Fingerprint.ofString(meta.segments.mkString(","))
      children(bktRoot).foreach { p =>
        if (!p.getFileName.toString.startsWith(s"$liveKey-b")) {
          deleteTree(p); reaped += 1
        }
      }
    }
    reaped
  }

  /** Persist a mutated serving index back as a new (single-segment)
    * snapshot — the rows are already driver-resident, so this is a
    * full rewrite by construction. */
  def commitServing(s: ServingIndex): VectorIndex = {
    import spark.implicits._
    val rows = s.liveRows.map { case (id, key, vec, nbrs) =>
      (id, key, vec.toSeq, nbrs.map(_.toLong).toSeq)
    }.toSeq
    val newVersion = meta.version + 1
    val dir = s"$path/v=$newVersion"
    val df = rows.toDF("id", "key", "vec", "nbrs")
    encodeVectors(df.select(col("id"), col("key"), col("vec")))
      .write.mode("overwrite").parquet(s"$dir/vectors")
    df.select(col("id").cast("long"), col("nbrs").cast("array<bigint>"))
      .write.mode("overwrite").parquet(s"$dir/graph")
    val ids = rows.map(_._1).sorted
    val n = ids.length
    val ringRows = ids.indices.map(i => (ids(i), ids((i + 1) % n), ids((i - 1 + n) % n)))
    ringRows.toDF("id", "succ", "prev")
      .select(col("id").cast("long"), col("succ").cast("long"), col("prev").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/ring")
    val next = meta.copy(
      version = newVersion,
      segments = Seq(newVersion),
      numPoints = s.numPoints,
      entrypoint = s.entrypoint,
      freelist = s.freeSlots)
    VectorIndex.writeMeta(path, next)
    new VectorIndex(spark, path, next)
  }
}

object VectorIndex {

  private[index] val log = org.slf4j.LoggerFactory.getLogger(classOf[VectorIndex])

  /** Compaction threshold: a commit that would leave more than this
    * many delta segments rewrites instead. */
  val MaxSegments = 8

  /** Combined delta-segment size (parquet bytes on disk) up to which
    * the read path resolves via broadcast anti-join instead of a
    * full-index shuffle. Compressed parquet expands in memory, so this
    * is deliberately well under typical executor headroom. */
  val BroadcastResolveBytes: Long = 32L << 20

  /** Largest id set phrased as a literal In list in mutation plans;
    * bigger sets become broadcast semi/anti joins (filterByIds). */
  val InListMaxIds: Int = 10000

  val vectorsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** eltype="Float16" storage form: binary16-packed BINARY column. */
  val vectorsSchemaHalf: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("vec", BinaryType, nullable = true)))

  val graphSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("nbrs", ArrayType(LongType, containsNull = false), nullable = true)))

  val ringSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("succ", LongType, nullable = true),
    StructField("prev", LongType, nullable = true)))

  /** Per-segment PQ code artifact schema (null codes = tombstone). */
  val pqCodesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = true)))

  /** Per-segment IVF assignment artifact schema (null cluster = tombstone). */
  val ivfAssignSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cluster", IntegerType, nullable = true)))

  /** Per-segment IVF-PQ composite schema — `cluster` is the PARTITION
    * column of the written dirs (null lands in the Hive default
    * partition, read back as null = tombstone). */
  val ivfPqSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = true),
    StructField("cluster", IntegerType, nullable = true)))

  /** Per-segment cluster-partitioned vector artifact schema (`cluster`
    * is the written dirs' partition column; null vec = tombstone). */
  val ivfVecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("cluster", IntegerType, nullable = true)))

  /** Batch ids inside the cyclic id-order gap (a, b) — ascending from
    * just after `a`. `a == b` is the single-node ring (the gap is the
    * whole space); `a > b` is the wrap-around link. */
  private[index] def idsInGap(a: Long, b: Long, sorted: Array[Long]): Seq[Long] =
    if (a == b) {
      val (hi, lo) = sorted.partition(_ > a)
      (hi ++ lo).toSeq
    } else if (a < b) sorted.filter(x => x > a && x < b).toSeq
    else (sorted.filter(_ > a) ++ sorted.filter(_ < b)).toSeq

  /** Create an empty index (reference create_index, src/LMDiskANN.jl:239-264). */
  def create(
      spark: SparkSession,
      path: String,
      dim: Int,
      maxDegree: Int = ServingIndex.DefaultMaxDegree,
      metric: Metric = Metric.Euclidean,
      eltype: String = "Float32"): VectorIndex = {
    val meta = IndexMeta(0L, 0L, dim, maxDegree, -1, eltype, metric.name, Nil)
    val dir = s"$path/v=0"
    def empty(schema: StructType, table: String): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$table")
    empty(if (eltype == "Float16") vectorsSchemaHalf else vectorsSchema, "vectors")
    empty(graphSchema, "graph")
    empty(ringSchema, "ring")
    writeMeta(path, meta)
    new VectorIndex(spark, path, meta)
  }

  /** Open an existing index (reference load_index, src/LMDiskANN.jl:271-306). */
  /** Load the index AS OF a committed version (time travel): every
    * commit writes an immutable `meta-v=N.json` beside the live
    * pointer, so any historical snapshot whose segment dirs still
    * exist can be served, searched, or [[VectorIndex.diff]]ed — "what
    * did last week's index return for this query". Valid until
    * `vacuum()` reaps a segment the old version references (segment
    * dirs outlive compaction until then); a reaped version fails the
    * same load-time check as a damaged store, never mid-query.
    * Pre-feature stores have no history sidecars — only versions
    * committed after this feature are loadable. */
  def loadVersion(spark: SparkSession, path: String, version: Long): VectorIndex = {
    require(ArtifactStore.current.exists(s"$path/meta-v=$version.json"),
      s"no history entry meta-v=$version.json at $path (version never " +
        "committed, or committed before per-version metadata existed)")
    val meta = readMeta(path, s"meta-v=$version.json")
    val v = new VectorIndex(spark, path, meta)
    checkLayout(path, meta)
    v
  }

  /** All committed versions with a surviving history entry, ascending —
    * (version, numPoints, n_segments, loadable): the ops view of the
    * snapshot timeline. `loadable` = every segment dir the version
    * references still exists (false once vacuum has reaped one).
    * Driver-side listing of O(versions) tiny JSON files. */
  def history(path: String): Seq[(Long, Long, Int, Boolean)] = {
    val re = "^meta-v=(\\d+)\\.json$".r
    ArtifactStore.current.list(path)
      .collect { case re(v) => v.toLong }.sorted
      .map { v =>
        val m = readMeta(path, s"meta-v=$v.json")
        val ok = m.segments.forall(s =>
          ArtifactStore.current.exists(s"$path/v=$s/vectors"))
        (v, m.numPoints, m.segments.size, ok)
      }
  }

  def load(spark: SparkSession, path: String): VectorIndex = {
    val meta = readMeta(path)
    val v = new VectorIndex(spark, path, meta)
    checkLayout(path, meta)
    v
  }

  private def checkLayout(path: String, meta: IndexMeta): Unit =
    meta.segments.foreach { s =>
      require(ArtifactStore.current.exists(s"$path/v=$s/vectors"),
        s"missing vectors segment v=$s at $path")
      // fail HERE, not at first query: a pre-segmented snapshot
      // (v=N/adjacency, no graph/ring split) would otherwise pass load
      // and die with PATH_NOT_FOUND mid-plan
      require(ArtifactStore.current.exists(s"$path/v=$s/graph") &&
          ArtifactStore.current.exists(s"$path/v=$s/ring"),
        s"index at $path v=$s uses an unsupported layout " +
          "(expected graph/ + ring/ tables; pre-segmented snapshots must be rebuilt)")
    }

  /** Sentinel for [[build]]'s `alpha`: route the prune by scale tier
    * (truncation at fixture scale, α-RNG above `exactThreshold`). */
  val AlphaAuto: Double = -1.0

  /** α used by the auto tier above `exactThreshold` — the DiskANN
    * paper's default diversification factor. */
  val DefaultScaleAlpha: Double = 1.2

  /** Scale-tier prune routing (the `exactThreshold` idiom applied to
    * the build's own prune): the reference's truncation prune
    * (`/root/reference/src/LMDiskANN.jl:491-505`) is kept verbatim at
    * fixture scale — reference parity, and q68's measured tie — but
    * it is MEASURED failing one decade above the fixtures
    * (BENCH_SCALE sf1_ann, 20k×64d: serving recall@10 0.50 avg /
    * 0.00 min — near-twins saturate every adjacency list and greedy
    * navigation strands), while the Vamana α-RNG prune
    * ([[AlphaPrune]], α = 1.2) reads 1.00/1.00 at ~2× wiring cost.
    * So the AUTO default routes exactly like the wiring tier:
    * truncation up to `exactThreshold` rows, α-prune above. An
    * explicit `alpha` (0.0 = always-truncate reference semantics,
    * > 1.0 = always-diversify) bypasses the routing. */
  private[graft] def resolveAlpha(alpha: Double, n: Long, exactThreshold: Long): Double =
    if (alpha != AlphaAuto) alpha
    else if (n <= exactThreshold) 0.0
    else DefaultScaleAlpha

  /** Bulk build from a DataFrame of (id BIGINT 0-based, key STRING?, vec ARRAY<FLOAT>)
    * — the north-star batch-construction path (BASELINE.json). Graph =
    * exact kNN for small n, LSH-bucketed beyond `exactThreshold`; the
    * prune routes by the same tier (see [[resolveAlpha]]). */
  def build(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      dim: Int,
      maxDegree: Int = ServingIndex.DefaultMaxDegree,
      metric: Metric = Metric.Euclidean,
      exactThreshold: Long = 20000L,
      eltype: String = "Float32",
      alpha: Double = AlphaAuto): VectorIndex = {
    // custom metrics are a SERVING-tier capability (driver-side
    // traversal calls metric.dist directly); the bulk build's distance
    // scans are codegen expressions — refuse up front with guidance
    // rather than deep inside the graph builder
    metric match {
      case m: Metric.Custom => Metric.nativeOnly(m, "VectorIndex.build")
      case _ => ()
    }
    // materialize the normalized source ONCE by writing the final
    // vectors table FIRST and reading it back: the build pipeline
    // consumes it from ~6 sub-plans (count, kNN both sides, ring,
    // entry) and would otherwise re-scan + re-plan the source each
    // time. Writing (which must happen anyway) instead of
    // localCheckpoint also pins nothing: a checkpointed Dataset's
    // blocks survive Dataset.unpersist (CacheManager never sees them).
    val dir = s"$path/v=0"
    val half = eltype == "Float16"
    val normalized = source.select(
      col("id").cast("long"),
      (if (source.columns.contains("key")) coalesce(col("key"), (col("id") + 1).cast("string"))
       else (col("id") + 1).cast("string")).as("key"),
      col("vec").cast("array<float>"))
    (if (half)
       normalized.select(col("id"), col("key"),
         graft.functions.VectorFunctions.halfPack(col("vec")).as("vec"))
     else normalized)
      .write.mode("overwrite").parquet(s"$dir/vectors")
    val stored = spark.read
      .schema(if (half) vectorsSchemaHalf else vectorsSchema)
      .parquet(s"$dir/vectors")
    // Float16 compute reads the QUANTIZED values back — graph wiring
    // distances match what the index will serve
    val vecs =
      if (half) stored.select(col("id"), col("key"),
        graft.functions.VectorFunctions.halfUnpack(col("vec")).as("vec"))
      else stored
    val stats = vecs.agg(count(lit(1)), min(col("id"))).head()
    val n = stats.getLong(0)
    val vv = vecs.select(col("id"), col("vec"))
    // two adjacency slots are reserved for the ring backbone, which
    // guarantees global connectivity on clustered data (see
    // GraphBuilder.ringLinks)
    val knnDegree = math.max(1, maxDegree - 2)
    val effAlpha = resolveAlpha(alpha, n, exactThreshold)
    val pruned =
      if (effAlpha > 1.0) {
        // α-RNG build: gather 2x candidates, diversify-prune per node
        val edges =
          if (n <= exactThreshold) GraphBuilder.exactKnnEdges(vv, 2 * maxDegree, metric)
          else GraphBuilder.refinedKnnEdges(vv, 2 * maxDegree, metric)
        val bidir = GraphBuilder.bothDirections(edges)
          .groupBy(col("src"), col("dst")).agg(min(col("dist")).as("dist"))
        AlphaPrune.pruneGraph(bidir, vv, knnDegree, effAlpha, metric)
      }
      else if (n <= exactThreshold) GraphBuilder.exactKnnGraph(vv, knnDegree, metric)
      else GraphBuilder.lshKnnGraph(vv, knnDegree, metric)
    val entry = stats.get(1) match {
      case null => -1
      case l: Long => l.toInt
    }
    val meta = IndexMeta(0L, n, dim, maxDegree, entry, eltype, metric.name, Nil,
      exactThreshold = exactThreshold)
    // graph and ring are independent job chains over the same
    // materialized vectors table — run them concurrently (Spark
    // schedules jobs from separate threads side by side), halving the
    // build's sequential-small-job latency
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fGraph = Future {
      pruned.select(col("id").cast("long"), col("nbrs").cast("array<bigint>"))
        .write.mode("overwrite").parquet(s"$dir/graph")
    }
    val fRing = Future {
      GraphBuilder.ringLinks(vv)
        .select(col("id").cast("long"), col("succ").cast("long"), col("prev").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/ring")
    }
    Await.result(fGraph, Duration.Inf)
    Await.result(fRing, Duration.Inf)
    // the LSH tier's NN-descent refinement returns a localCheckpoint'ed
    // edge frame (each round's output feeds the next from several
    // sub-plans); its blocks are only needed until the graph parquet
    // write above — release them or a long-lived session pins every
    // build's final-round edges (Blocks.release is a no-op for the
    // exact tier's plain plans)
    graft.plans.Blocks.release(pruned)
    writeMeta(path, meta)
    new VectorIndex(spark, path, meta)
  }

  // ------------------------------------------------------------- meta I/O

  private[index] def writeMeta(path: String, m: IndexMeta): Unit = {
    val store = ArtifactStore.current
    store.createDirs(path)
    val json =
      s"""{"version":${m.version},"numPoints":${m.numPoints},"dim":${m.dim},""" +
        s""""maxDegree":${m.maxDegree},"entrypoint":${m.entrypoint},""" +
        s""""eltype":"${m.eltype}","metric":"${m.metric}",""" +
        s""""ingestBatchId":${m.ingestBatchId},""" +
        s""""ingestSegment":${m.ingestSegment},""" +
        s""""segments":[${m.segments.mkString(",")}],""" +
        s""""exactThreshold":${m.exactThreshold},""" +
        s""""freelist":[${m.freelist.mkString(",")}]}"""
    // Append-only history guard: a commit issued from a STALE handle
    // (its version no longer the live head) recomputes
    // handle.version + 1 and would silently rewrite an existing
    // 'immutable' meta-v=N.json — after which history()/loadVersion/
    // diff misreport what was actually served. Refuse instead
    // (optimistic concurrency: re-reading the head and committing
    // blind would be a lost-update, not a fix). Version 0 is exempt:
    // build() legitimately (re)initializes a directory.
    val histFile = s"$path/meta-v=${m.version}.json"
    if (m.version > 0L && store.exists(histFile))
      throw new IllegalStateException(
        s"refusing to overwrite history sidecar $histFile: commit was issued " +
          s"from a stale handle (version ${m.version - 1} is not the live " +
          "head) — reload the index at its current version and re-apply")
    // immutable per-version copy FIRST (so any version the pointer can
    // reference has a history entry), then the atomic pointer swap
    // (ArtifactStore.writeAtomic's contract). The copies are what
    // loadVersion/history read; vacuum leaves them (audit trail) — its
    // reapers match v=N dirs and model sidecars only.
    store.writeAtomic(histFile, json.getBytes(StandardCharsets.UTF_8))
    store.writeAtomic(s"$path/meta.json", json.getBytes(StandardCharsets.UTF_8))
  }

  private[index] def readMeta(path: String, file: String = "meta.json"): IndexMeta = {
    // real JSON parse (SidecarJson / Jackson), not per-field regexes —
    // the same bug-class fix as the IVF/PQ sidecars. Absent optional
    // fields keep their historical defaults so old sidecars still load.
    val j = SidecarJson.read(s"$path/$file")
    val version = j.long("version")
    IndexMeta(version, j.long("numPoints"), j.int("dim"),
      j.int("maxDegree"), j.int("entrypoint"),
      j.str("eltype"), j.str("metric"),
      j.longListOpt("freelist").getOrElse(Nil).map(_.toInt),
      j.longOpt("ingestBatchId", -1L),
      j.longListOpt("segments").getOrElse(Seq(version)),
      j.longOpt("exactThreshold", 20000L),
      j.longOpt("ingestSegment", -1L))
  }
}
