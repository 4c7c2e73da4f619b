package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.index.ArtifactStore

/** SignatureStore lifecycle: crash-safe publish, cross-session probe
  * equivalence, and the unpublished/mismatched guards. */
class SignatureStoreSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val ss = spark
    import ss.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpusRows = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "one two three four five six seven eight nine"),
    (3L, "the quick brown fox jumps over the lazy dog"))

  test("build -> load -> probe finds a planted near-dup without corpus text") {
    val dir = tmpDir("sigstore")
    SignatureStore.build(docsDf(corpusRows), dir)
    assert(SignatureStore.exists(dir))
    // batch: one near-copy of doc 1 (tail token changed), one novel doc
    val batch = docsDf(Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta iota"),
      (102L, "completely different content with no shared trigrams at all")))
    val batchSigs = Dedup.minhashSignatures(
      Dedup.contentShingleIds(Dedup.docShingles(batch, 3)))
    val hits = SignatureStore.probe(batchSigs, SignatureStore.load(spark, dir), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.toSeq == Seq((101L, 1L)))
  }

  test("probe of an identical doc reports est_jaccard 1.0") {
    val dir = tmpDir("sigstore-exact")
    SignatureStore.build(docsDf(corpusRows), dir)
    val batchSigs = Dedup.minhashSignatures(Dedup.contentShingleIds(
      Dedup.docShingles(docsDf(Seq((201L, corpusRows.head._2))), 3)))
    val row = SignatureStore.probe(batchSigs, SignatureStore.load(spark, dir), 0.5).head()
    assert(row.getLong(1) == 1L && row.getDouble(2) == 1.0)
  }

  test("merge(build(A), build(B)) == build(A ∪ B); overlap and k-drift refused") {
    val a = corpusRows.take(2); val b = corpusRows.drop(2)
    val (dirA, dirB, dirM, dirAll) =
      (tmpDir("sig-a"), tmpDir("sig-b"), tmpDir("sig-m"), tmpDir("sig-all"))
    SignatureStore.build(docsDf(a), dirA)
    SignatureStore.build(docsDf(b), dirB)
    SignatureStore.merge(spark, dirA, dirB, dirM)
    SignatureStore.build(docsDf(corpusRows), dirAll)
    def sigs(d: String) = SignatureStore.load(spark, d)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(dirM) == sigs(dirAll))
    // identical sidecars (fingerprint derives from content, not history)
    assert(new String(ArtifactStore.current.readBytes(s"$dirM/store.json"), "UTF-8") ==
      new String(ArtifactStore.current.readBytes(s"$dirAll/store.json"), "UTF-8"))
    // overlapping doc ids refuse
    val err = intercept[IllegalArgumentException] {
      SignatureStore.merge(spark, dirA, dirAll, tmpDir("sig-x"))
    }
    assert(err.getMessage.contains("share doc ids"))
    // shingle-size drift refuses
    val dirK4 = tmpDir("sig-k4")
    SignatureStore.build(docsDf(b), dirK4, shingleK = 4)
    val err2 = intercept[IllegalArgumentException] {
      SignatureStore.merge(spark, dirA, dirK4, tmpDir("sig-y"))
    }
    assert(err2.getMessage.contains("shingle sizes"))
  }

  test("delete: load/probe == a store built without the docs; idempotent") {
    val ss = spark
    import ss.implicits._
    val rows = corpusRows ++ Seq(
      (4L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (5L, "totally unrelated words about sailing boats"))
    val dir = tmpDir("sig-del")
    SignatureStore.build(docsDf(rows), dir)
    // forget doc 1 (and an unknown id — no-op)
    assert(SignatureStore.delete(spark, dir, Seq(1L, 777L)) == 1L)
    val without = tmpDir("sig-del-rebuilt")
    SignatureStore.build(docsDf(rows.filterNot(_._1 == 1L)), without)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    assert(canon(SignatureStore.load(spark, dir)) ==
      canon(SignatureStore.load(spark, without)))
    // the forgotten doc no longer matches its near-dup on a probe
    val batch = Dedup.minhashSignatures(Dedup.contentShingleIds(
      Dedup.docShingles(docsDf(Seq((100L, rows(0)._2))), 3)))
    val hits = SignatureStore.probe(batch,
        SignatureStore.load(spark, dir), threshold = 0.5)
      .select("store_id").as[Long].collect().toSet
    assert(!hits.contains(1L))
    // idempotent + sidecar republished from live rows
    assert(SignatureStore.delete(spark, dir, Seq(1L)) == 0L)
    assert(graft.index.SidecarJson.read(s"$dir/store.json").long("n_docs") ==
      rows.length - 1L)
    // a merge of the tombstoned store is born compacted (reads live rows)
    val m = tmpDir("sig-del-m")
    val solo = tmpDir("sig-del-solo")
    SignatureStore.build(docsDf(Seq((50L, "brand new content here"))), solo)
    SignatureStore.merge(spark, dir, solo, m)
    assert(canon(SignatureStore.load(spark, m)).map(_._1) ==
      Seq(2L, 3L, 4L, 5L, 50L))
  }

  test("deletes commit reader-isolated: versioned dirs + pointer-last swap") {
    val dir = tmpDir("sig-del-vers")
    SignatureStore.build(docsDf(corpusRows), dir)
    assert(SignatureStore.delete(spark, dir, Seq(1L)) == 1L)
    // the set lives in an immutable versioned dir the sidecar points at
    assert(ArtifactStore.current.exists(s"$dir/tombstones-v=1"))
    assert(graft.index.SidecarJson.read(s"$dir/store.json")
      .long("tombstones_v") == 1L)
    val v1 = spark.read.parquet(s"$dir/tombstones-v=1")
      .collect().map(_.getLong(0)).toSet
    // a second delete writes v=2 and leaves v=1 untouched for readers
    // that resolved the old pointer (never an in-place overwrite that
    // could drop prior rows mid-rewrite and resurrect forgotten docs)
    assert(SignatureStore.delete(spark, dir, Seq(2L)) == 1L)
    assert(ArtifactStore.current.exists(s"$dir/tombstones-v=2"))
    assert(spark.read.parquet(s"$dir/tombstones-v=1")
      .collect().map(_.getLong(0)).toSet == v1)
    assert(spark.read.parquet(s"$dir/tombstones-v=2")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(graft.index.SidecarJson.read(s"$dir/store.json")
      .long("tombstones_v") == 2L)
    assert(SignatureStore.load(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("a sidecar without tombstones_v is refused, naming the file and the rebuild call") {
    val dir = tmpDir("sig-no-tombv")
    SignatureStore.build(docsDf(corpusRows), dir)
    // a pre-versioning sidecar: no tombstones_v key
    val raw = new String(ArtifactStore.current.readBytes(s"$dir/store.json"), "UTF-8")
    ArtifactStore.current.writeAtomic(s"$dir/store.json",
      raw.replaceAll(""","tombstones_v":\d+""", "").getBytes("UTF-8"))
    Seq(
      () => SignatureStore.load(spark, dir),
      () => SignatureStore.delete(spark, dir, Seq(2L))).foreach { call =>
      val e = intercept[IllegalArgumentException] { call() }
      assert(e.getMessage.contains(s"$dir/store.json"), e.getMessage)
      assert(e.getMessage.contains("SignatureStore.build"), e.getMessage)
    }
  }

  test("unpublished store (no sidecar) refuses to load") {
    val dir = tmpDir("sigstore-unpub")
    // data without the sidecar pointer = a crashed build
    Dedup.minhashSignatures(Dedup.contentShingleIds(
        Dedup.docShingles(docsDf(corpusRows), 3)))
      .write.mode("overwrite").parquet(s"$dir/sigs")
    val e = intercept[IllegalStateException] { SignatureStore.load(spark, dir) }
    assert(e.getMessage.contains("store.json"))
  }

  test("banding-param drift is rejected, naming the sidecar") {
    val dir = tmpDir("sigstore-drift")
    SignatureStore.build(docsDf(corpusRows), dir)
    val raw = new String(ArtifactStore.current.readBytes(s"$dir/store.json"), "UTF-8")
    ArtifactStore.current.writeAtomic(s"$dir/store.json",
      raw.replace(""""num_hashes":16""", """"num_hashes":8""").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] { SignatureStore.load(spark, dir) }
    assert(e.getMessage.contains("store.json"))
  }
}
