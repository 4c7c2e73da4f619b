package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 + RRF ([[Retrieval]]): ranking semantics on hand corpora,
  * the fixed-point determinism contract (partition invariance), RRF
  * fusion arithmetic, and the scale-shape plan assertions (broadcast
  * query terms, one tf aggregation feeding both doc-length and
  * scoring legs, bounded-heap top-k). */
class RetrievalSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._

  private def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def qs(rows: (Long, String)*) = rows.toDF("query_id", "qtext")

  /** BM25 top-k straight from a corpus: the postings builder plus the
    * in-memory scorer (no cache — the contract check recomputes). */
  private def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val (postings, nDocs, sumDl) = Retrieval.buildPostings(docs)(identity)
    Retrieval.bm25TopKFromPostings(postings, nDocs, sumDl, queries, k)
  }

  test("docs without any query term never appear; matching docs rank by relevance") {
    val docs = corpus(
      1L -> "apple banana cherry",
      2L -> "apple apple apple banana",
      3L -> "durian fig grape")
    val out = bm25TopK(docs, qs(10L -> "apple"), k = 10).collect()
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L)) // doc 3 has no hit
    // higher tf (same dl ballpark) wins
    assert(out.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq == Seq(2L, 1L))
    assert(out.forall(_.getDouble(2) > 0.0)) // Lucene idf variant is non-negative
  }

  test("a rare term outscores a corpus-saturating term (idf ordering)") {
    val docs = corpus(
      1L -> "common rare",
      2L -> "common alpha",
      3L -> "common beta",
      4L -> "common gamma")
    val out = bm25TopK(docs, qs(7L -> "common rare"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // doc 1 matches both terms; its margin over the common-only docs
    // must exceed a pure-tf explanation (idf of "rare" with df=1 ≫
    // idf of "common" with df=4)
    assert(out(1L) > out(2L) * 2)
  }

  test("scores and ranks are invariant under partitioning (integer-sum fixed point)") {
    val base = (0L until 300L).map(i =>
      i -> s"tok${i % 17} tok${i % 5} tok${(i * 7) % 23} filler${i}")
    val queries = qs(0L -> "tok3 tok11 filler42")
    val a = bm25TopK(corpus(base: _*).repartition(1), queries, k = 25)
      .orderBy("query_id", "rnk").collect().toSeq
    val b = bm25TopK(corpus(base: _*).repartition(13), queries, k = 25)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(a == b)
  }

  test("rrfFuse: hand-checked fusion, missing-leg contributes zero, rounded tie-break") {
    val leg0 = Seq((1L, 100L, 1), (1L, 200L, 2)).toDF("query_id", "doc_id", "rnk")
    val leg1 = Seq((1L, 200L, 1), (1L, 300L, 2)).toDF("query_id", "doc_id", "rnk")
    val out = Retrieval.rrfFuse(Seq(leg0, leg1), k = 10)
      .orderBy("rnk").collect()
    // B(200)=1/62+1/61, A(100)=1/61, C(300)=1/62
    val expect = Seq(
      200L -> math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6,
      100L -> math.rint((1.0 / 61) * 1e6) / 1e6,
      300L -> math.rint((1.0 / 62) * 1e6) / 1e6)
    assert(out.map(r => r.getLong(1) -> r.getDouble(2)).toSeq == expect)
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
  }

  test("rrfFuse: equal fused scores break ties by doc_id ascending") {
    // same rank in symmetric legs -> identical rrf for both docs
    val leg0 = Seq((1L, 9L, 1), (1L, 4L, 2)).toDF("query_id", "doc_id", "rnk")
    val leg1 = Seq((1L, 4L, 1), (1L, 9L, 2)).toDF("query_id", "doc_id", "rnk")
    val out = Retrieval.rrfFuse(Seq(leg0, leg1), k = 10).orderBy("rnk").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 9L))
    assert(out(0).getDouble(2) == out(1).getDouble(2))
  }

  test("served index == scan path bit-for-bit; postings scan gets the vocab IN pushdown") {
    val base = (0L until 250L).map(i =>
      i -> s"tok${i % 17} tok${i % 5} tok${(i * 7) % 23} filler$i")
    val docs = corpus(base: _*)
    val queries = qs(0L -> "tok3 tok11 filler42", 1L -> "tok4 tok16")
    val idx = tmpDir("bm25-idx")
    Retrieval.buildIndex(docs, idx)
    val served = Retrieval.searchIndex(spark, idx, queries, k = 25)
      .orderBy("query_id", "rnk")
    val scanned = bm25TopK(docs, queries, k = 25)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served.collect().toSeq == scanned)
    // the eval-sized query vocab must reach the parquet reader
    val scans = collectPlanNodes(served) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("In("))),
      s"no pushed In-filter: ${scans.map(_.metadata.get("PushedFilters"))}")
  }

  test("deleteFromIndex: serving == index rebuilt without the docs, bit-identically") {
    val base = (0L until 120L).map(i =>
      i -> s"tok${i % 11} tok${i % 5} tok${(i * 7) % 13} filler$i")
    val queries = qs(0L -> "tok3 tok7", 1L -> "tok4 tok1")
    val victims = Seq(3L, 14L, 25L, 47L, 999L) // 999 unknown: no-op
    val idx = tmpDir("bm25-del")
    Retrieval.buildIndex(corpus(base: _*), idx)
    val dfBefore = spark.read.parquet(s"$idx/df")
      .collect().map(_.toString).sorted.toSeq
    assert(Retrieval.deleteFromIndex(spark, idx, victims) == 4L)
    // reader isolation: the delete published df-v=1 and left the old
    // df dir byte-identical (a reader on the old sidecar stays
    // consistent); the new sidecar points at the new version
    assert(spark.read.parquet(s"$idx/df")
      .collect().map(_.toString).sorted.toSeq == dfBefore)
    assert(graft.index.SidecarJson.read(s"$idx/bm25.json").long("df_v") == 1L)
    assert(new java.io.File(s"$idx/df-v=1").isDirectory)
    val served = Retrieval.searchIndex(spark, idx, queries, k = 30)
      .orderBy("query_id", "rnk").collect().toSeq
    val rebuilt = tmpDir("bm25-del-rebuilt")
    Retrieval.buildIndex(
      corpus(base.filterNot(r => victims.contains(r._1)): _*), rebuilt)
    val fresh = Retrieval.searchIndex(spark, rebuilt, queries, k = 30)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served == fresh) // idf, length norm, AND result rows all adjusted
    assert(served.nonEmpty && !served.exists(r => victims.contains(r.getLong(1))))
    // idempotent: deleting again forgets nothing and changes nothing
    assert(Retrieval.deleteFromIndex(spark, idx, victims) == 0L)
    assert(Retrieval.searchIndex(spark, idx, queries, k = 30)
      .orderBy("query_id", "rnk").collect().toSeq == fresh)
    // tombstoned shards refuse to merge (stats would resurrect docs)
    val other = tmpDir("bm25-del-other")
    Retrieval.buildIndex(corpus((1000L, "tok3 zzz")), other)
    val ex = intercept[IllegalArgumentException] {
      Retrieval.mergeIndexes(spark, Seq(idx, other), tmpDir("bm25-del-m"))
    }
    assert(ex.getMessage.contains("tombstoned"))
  }

  test("mergeIndexes(build(A), build(B)) == buildIndex(A union B), and overlap refuses") {
    val a = corpus((0L until 120L).map(i => i -> s"tok${i % 11} tok${i % 7} pad$i"): _*)
    val b = corpus((120L until 260L).map(i => i -> s"tok${i % 11} tok${i % 5} pad$i"): _*)
    val (ia, ib, iu, im) = (tmpDir("bm25-a"), tmpDir("bm25-b"), tmpDir("bm25-u"), tmpDir("bm25-m"))
    Retrieval.buildIndex(a, ia)
    Retrieval.buildIndex(b, ib)
    Retrieval.buildIndex(a.unionByName(b), iu)
    Retrieval.mergeIndexes(spark, Seq(ia, ib), im)
    // identical sidecars (scalar stats merge exactly)...
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$iu/bm25.json")).toSeq ==
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$im/bm25.json")).toSeq)
    // ...identical df tables, and bit-identical answers
    val dfU = spark.read.parquet(s"$iu/df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfM = spark.read.parquet(s"$im/df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfU == dfM)
    val queries = qs(0L -> "tok3 tok6")
    assert(
      Retrieval.searchIndex(spark, im, queries, k = 30).orderBy("query_id", "rnk").collect().toSeq ==
      Retrieval.searchIndex(spark, iu, queries, k = 30).orderBy("query_id", "rnk").collect().toSeq)
    // overlapping shards double-count df -> must refuse
    val ex = intercept[IllegalArgumentException] {
      Retrieval.mergeIndexes(spark, Seq(ia, ia), tmpDir("bm25-x"))
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("tampered sidecar stats fail the fingerprint check loudly") {
    val docs = corpus(1L -> "a b c", 2L -> "a d")
    val idx = tmpDir("bm25-tamper")
    Retrieval.buildIndex(docs, idx)
    val f = java.nio.file.Paths.get(s"$idx/bm25.json")
    val tampered = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .replace("\"n_docs\":2", "\"n_docs\":3")
    java.nio.file.Files.write(f, tampered.getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      Retrieval.searchIndex(spark, idx, qs(0L -> "a"), k = 5).collect()
    }
    assert(ex.getMessage.contains("fingerprint"))
  }

  test("deleteFromIndex refuses a tampered sidecar instead of re-signing it") {
    val idx = tmpDir("bm25-tamper-del")
    Retrieval.buildIndex(corpus(1L -> "a b c", 2L -> "a d"), idx)
    val f = java.nio.file.Paths.get(s"$idx/bm25.json")
    val tampered = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .replace("\"n_docs\":2", "\"n_docs\":3")
    java.nio.file.Files.write(f, tampered.getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      Retrieval.deleteFromIndex(spark, idx, Seq(1L))
    }
    assert(ex.getMessage.contains(s"$idx/bm25.json") && ex.getMessage.contains("fingerprint"),
      ex.getMessage)
    assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8") == tampered)
  }

  test("buildIndex refuses a corpus with a NULL-text doc or a duplicated doc id") {
    val nullText = Seq((1L, "a b"), (2L, null: String), (3L, "b c")).toDF("doc_id", "text")
    val dupId = corpus(1L -> "a b", 2L -> "b c", 2L -> "c d")
    for ((docs, name) <- Seq(nullText -> "null-text", dupId -> "dup-id")) {
      val idx = tmpDir(s"bm25-contract-$name")
      val ex = intercept[IllegalArgumentException](Retrieval.buildIndex(docs, idx))
      assert(ex.getMessage.contains("corpus contract"), s"$name: ${ex.getMessage}")
      assert(!new java.io.File(s"$idx/bm25.json").exists, s"$name: index was published")
    }
  }

  test("plan: broadcast-only joins above the checkpointed postings slice; heap top-k") {
    val docs = corpus((0L until 400L).map(i =>
      i -> s"w${i % 29} w${i % 13} w${(i * 3) % 41} pad$i"): _*).repartition(8)
    val out = bm25TopK(docs, qs(1L -> "w7 w11"), k = 5)
    out.collect()
    // qt + dfx are broadcast-hash, the corpus stats are plan literals;
    // the corpus-sized semi pre-filter ran once inside the
    // checkpoint job (its LogicalRDD is the scan here) — the corpus
    // never shuffles on behalf of the query set above it
    val bhj = collectPlanNodes(out) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2, s"expected >=2 broadcast joins, got ${bhj.size}")
    val smj = collectPlanNodes(out) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "no sort-merge join should appear in the BM25 plan at fixture scale")
    // everything above the checkpoint is eval-bounded: qt distinct,
    // dfx agg, per-(query,doc) score agg, top-k agg. A duplicated
    // corpus leg (the ReuseExchange failure this operator is shaped
    // around) would push this past 6.
    val shuffles = collectShuffles(out)
    assert(shuffles.size <= 6, s"unexpected extra shuffles (corpus leg duplicated?): ${shuffles.size}")
    // bounded-heap top-k, not a window sort
    val winSorts = collectPlanNodes(out) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(winSorts.isEmpty, "top-k must ride the bounded-heap aggregate, not a window")
    graft.plans.Blocks.release(out)
  }

  test("evalRankings: hand-computed recall@k and fixed-point MRR, misses scoring zero") {
    val ss = spark
    import ss.implicits._
    val gold = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("query_id", "gold_doc")
    // leg A: gold at rank 1 for q1, rank 2 for q2, absent for q3
    val legA = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 21L, 1), (2L, 20L, 2), (3L, 99L, 1))
      .toDF("query_id", "doc_id", "rnk")
    // leg B: gold at rank 4 for q1 only
    val legB = Seq((1L, 12L, 1), (1L, 13L, 2), (1L, 14L, 3), (1L, 10L, 4))
      .toDF("query_id", "doc_id", "rnk")
    val got = graft.operators.Retrieval.evalRankings(
        Seq(("a", legA), ("b", legB)), gold, ks = Seq(1, 3))
      .orderBy("leg").collect()
    // leg a: 3 queries, hits@1 = 1, hits@3 = 2, mrr = 1e6 + 5e5
    assert(got(0).getString(0) == "a" && got(0).getLong(1) == 3L)
    assert(got(0).getLong(2) == 1L && got(0).getLong(3) == 2L)
    assert(got(0).getLong(4) == 1500000L)
    // leg b: queries 2/3 unranked entirely -> still counted, zero hits
    assert(got(1).getString(0) == "b" && got(1).getLong(1) == 3L)
    assert(got(1).getLong(2) == 0L && got(1).getLong(3) == 0L)
    assert(got(1).getLong(4) == 250000L)
  }
}
