package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{ArtifactStore, Fingerprint, SidecarJson}

/** Persisted MinHash signature store — the INCREMENTAL dedup artifact.
  *
  * A 100 TB corpus is not deduplicated from scratch per ingest: the
  * corpus's signatures are computed once, persisted, and every new
  * batch (a crawl snapshot, a daily drop) is probed against the store
  * WITHOUT rescanning the corpus text. That works here because
  * signature ids are content-addressed — shingle id = rolling char
  * hash of the shingle itself (TextAnalysis.termHash), never a
  * corpus-ranked vocabulary id — so signatures computed in different
  * sessions/batches live in the same hash space and band-join
  * directly. (A ranked-vocabulary MinHash cannot be incremental: new
  * batches shift the ranking.)
  *
  * Layout (the BM25/IVF artifact idiom):
  *   `path/sigs/`      — (doc_id, sig ARRAY<BIGINT>[16]) parquet
  *   `path/store.json` — atomic sidecar: counts, banding params, and
  *                       a 64-bit content fingerprint; its presence
  *                       marks the store complete (crash-safe publish:
  *                       data first, pointer last).
  *
  * Scale: the store is |corpus| × 16 longs — ~0.1% of corpus text
  * bytes; probing shuffles only (batch ∪ store) band keys, a banded
  * equi-join, never all-pairs. */
object SignatureStore {

  private def sidecar(path: String) = s"$path/store.json"

  def exists(path: String): Boolean =
    ArtifactStore.current.exists(sidecar(path))

  /** Compute and persist signatures for `docs` (doc_id, text). The
    * fingerprint is derived from order-independent content sums, so
    * any engine can re-derive and audit it. */
  def build(docs: DataFrame, path: String, shingleK: Int = 3): Unit = {
    Dedup.minhashSignatures(
        Dedup.contentShingleIds(Dedup.docShingles(docs, shingleK)))
      .write.mode("overwrite").parquet(s"$path/sigs")
    publish(docs.sparkSession, path, shingleK)
  }

  /** Derive + atomically write the sidecar from the WRITTEN sigs
    * parquet (data first, pointer last — crash-safe publish).
    * `tombV` is the tombstone-set version the new sidecar points at
    * (0 = none): the sidecar is the LAST write, so a crash anywhere
    * earlier leaves the previous (sidecar, tombstones-v=N) pair fully
    * intact — see [[delete]]. */
  private def publish(spark: SparkSession, path: String, shingleK: Int,
      tombV: Long = 0L): Unit = {
    val st = liveSigsAt(spark, path, tombV)
      .agg(count(lit(1)).as("n"), coalesce(sum(element_at(col("sig"), 1)), lit(0L)).as("s"))
      .head()
    val fp = Fingerprint.ofString(s"${st.getLong(0)}|${st.getLong(1)}|${Dedup.NumHashes}")
    ArtifactStore.current.writeAtomic(sidecar(path),
      (s"""{"n_docs":${st.getLong(0)},"num_hashes":${Dedup.NumHashes},""" +
        s""""bands":${Dedup.Bands},"rows_per_band":${Dedup.RowsPerBand},""" +
        s""""shingle_k":$shingleK,"tombstones_v":$tombV,"fingerprint":"$fp"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The tombstone-set version the PUBLISHED sidecar points at (0 =
    * none). A sidecar without `tombstones_v` predates versioned
    * tombstones and is refused; the store must be rebuilt. */
  private def publishedTombV(path: String): Long = {
    val file = sidecar(path)
    val v = SidecarJson.read(file).longOpt("tombstones_v", -1L)
    if (v < 0)
      throw new IllegalArgumentException(
        s"$file has no tombstones_v (a store from before versioned " +
          "tombstones); rebuild it with SignatureStore.build")
    v
  }

  private def tombDir(path: String, v: Long): String = s"$path/tombstones-v=$v"

  /** Merge two published stores into a new one — day-build / shard
    * consolidation WITHOUT re-shingling any text (the BM25
    * mergeIndexes parallel): content-addressed signatures union
    * directly. Refuses when doc-id sets overlap (one doc signed twice
    * would double-report downstream) or when the stores were built
    * with different shingle sizes (their signatures live in different
    * shingle spaces and must never band-join as one). */
  def merge(spark: SparkSession, a: String, b: String, out: String): Unit = {
    val ka = SidecarJson.read(sidecar(a)).int("shingle_k")
    val kb = SidecarJson.read(sidecar(b)).int("shingle_k")
    require(ka == kb,
      s"cannot merge stores with different shingle sizes ($ka vs $kb)")
    val sa = load(spark, a)
    val sb = load(spark, b)
    val overlap = sa.select(col("doc_id"))
      .join(sb.select(col("doc_id")), "doc_id").limit(1).count()
    require(overlap == 0,
      s"stores $a and $b share doc ids — refusing to double-sign")
    sa.unionByName(sb).write.mode("overwrite").parquet(s"$out/sigs")
    publish(spark, out, ka)
  }

  /** Load the signature table; refuses an unpublished/mismatched store
    * (sidecar missing, or banding params drifted from this build). */
  def load(spark: SparkSession, path: String): DataFrame = {
    val file = sidecar(path)
    if (!ArtifactStore.current.exists(file))
      throw new IllegalStateException(s"signature store not published: $file missing")
    val j = SidecarJson.read(file)
    require(j.int("num_hashes") == Dedup.NumHashes && j.int("bands") == Dedup.Bands,
      s"$file banding params (${j.int("num_hashes")}/${j.int("bands")}) " +
        s"do not match this build (${Dedup.NumHashes}/${Dedup.Bands})")
    liveSigs(spark, path)
  }

  /** The sigs parquet minus the PUBLISHED tombstone set — every
    * stats/read path goes through this one filter so a forgotten doc
    * can never resurface in a probe, a merge, or a republished
    * sidecar. Readers resolve the set through the sidecar's
    * `tombstones_v` pointer, never a mutable path, so a concurrent
    * [[delete]] is invisible until its final pointer swap. */
  private def liveSigs(spark: SparkSession, path: String): DataFrame =
    liveSigsAt(spark, path, publishedTombV(path))

  private def liveSigsAt(spark: SparkSession, path: String, tombV: Long): DataFrame = {
    val raw = spark.read.parquet(s"$path/sigs")
    if (tombV != 0L && ArtifactStore.current.exists(tombDir(path, tombV)))
      raw.join(broadcast(spark.read.parquet(tombDir(path, tombV))),
        Seq("doc_id"), "left_anti")
    else raw
  }

  /** Right-to-be-forgotten delete: tombstone `ids` and republish the
    * sidecar from the LIVE rows — O(|ids| + one store scan for the
    * stats), no store rewrite (the VectorIndex/BM25 tombstone-delta
    * idiom; [[merge]] reads through [[load]], so a merged store is
    * born compacted). After the delete, [[load]]/[[probe]] behave
    * bit-identically to a store built without the docs
    * (SignatureStoreSpec pins it). Idempotent; unknown ids are
    * no-ops. Returns the number of docs actually forgotten.
    *
    * READER-ISOLATED commit (the BM25 deleteFromIndex discipline): the
    * merged tombstone set is written to a fresh immutable
    * `tombstones-v=N+1` dir FIRST, and the sidecar's `tombstones_v`
    * pointer swaps to it LAST (atomic sidecar write). An in-place
    * overwrite of one `tombstones` dir — the previous implementation —
    * could lose prior tombstone rows on a crash mid-rewrite
    * (RESURRECTING previously forgotten docs, the GDPR correctness
    * hazard) and let a concurrent reader see a partially-written set;
    * now a crash at any point leaves the old (sidecar, dir) pair fully
    * live, and concurrent readers keep resolving the old pointer until
    * the swap. Old-version dirs stay on disk for in-flight readers;
    * [[merge]]'s output is born compacted (no tombstones). */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Long = {
    val file = sidecar(path)
    if (!ArtifactStore.current.exists(file))
      throw new IllegalStateException(s"signature store not published: $file missing")
    val shingleK = SidecarJson.read(file).int("shingle_k")
    val priorV = publishedTombV(path)
    val prior: Set[Long] =
      if (priorV != 0L && ArtifactStore.current.exists(tombDir(path, priorV)))
        spark.read.parquet(tombDir(path, priorV)).collect().map(_.getLong(0)).toSet
      else Set.empty
    val ss = spark
    import ss.implicits._
    val requested = ids.distinct.filterNot(prior)
    if (requested.isEmpty) return 0L
    val present = spark.read.parquet(s"$path/sigs")
      .join(broadcast(requested.toDF("doc_id")), Seq("doc_id"))
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    if (present.isEmpty) return 0L
    val nextV = priorV + 1L
    (prior ++ present).toSeq.sorted.toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(tombDir(path, nextV))
    publish(spark, path, shingleK, nextV)
    present.size.toLong
  }

  /** Probe NEW batch signatures against the store: banded equi-join
    * across the two tables, candidates scored by signature-estimated
    * Jaccard. Returns (batch_id, store_id, est_jaccard) — the batch
    * rows to drop (or link) before appending to the corpus. */
  def probe(batchSigs: DataFrame, storeSigs: DataFrame,
      threshold: Double): DataFrame =
    Dedup.lshCandidatesAcross(batchSigs, storeSigs, threshold)
}
