package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.operators.{Retrieval, TextAnalysis}
import Tables._

/** Driver-checked hybrid-retrieval queries: BM25 keyword search and
  * reciprocal-rank fusion of the keyword and vector legs — the
  * retrieval stack a RAG deployment runs in front of the context
  * window (dense leg alone misses exact-term matches; sparse leg
  * alone misses paraphrases; RRF is the standard parameter-free
  * fusion, Cormack et al. 2009).
  *
  * Fixtures: `documents` is the corpus; the query set is derived from
  * the corpus itself (first 4 tokens of docs 0/100/200/300), so the
  * queries exist at every sf and the oracle can re-derive them. The
  * embeddings table shares the 0..N id space with documents, which is
  * what lets the fused legs join on doc_id.
  */
object RetrievalQueries {

  private val QueryIds = Seq(0L, 100L, 200L, 300L)
  private val LegK = 20
  private val FuseK = 10

  private def docs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), col("text"))

  /** Shared in-memory postings artifact: (doc_id, dl, term, tf) rows
    * plus the scalar corpus stats, computed ONCE per sf-dir per JVM
    * and consumed by every scan-path BM25 query (q127's top-k, q128's
    * sparse leg, q195's eval leg) — the DocQueries shingle/tokcounts
    * convention applied to the retrieval family: a production stack
    * tokenizes its corpus into postings once and runs every retrieval
    * analysis off them (the persisted q132 index is the across-JVMs
    * version of the same artifact). Until r17 each of the three
    * queries re-ran the corpus tokenize + (doc, term) aggregation per
    * sweep run. Guarded against stopped sessions like the other
    * per-JVM caches; build cost is reported by [[prewarm]]. */
  private val postingsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long, Long)]()

  private[queries] def corpusPostings(spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val hit = postingsCache.get(dir)
    if (hit != null && !hit._1.sparkSession.sparkContext.isStopped) hit
    // compute(): the former check-then-act could let two concurrent
    // callers both build and cache(), with the loser's entry silently
    // overwritten and its cached RDD never unpersisted (dropCaches
    // only iterates current values) — build atomically, and re-probe
    // staleness inside the mapping so a lost race returns the winner
    else postingsCache.compute(dir, (_, cur) => {
      if (cur != null && !cur._1.sparkSession.sparkContext.isStopped) cur
      else Retrieval.buildPostings(spread(docs(spark, dir))) { tf =>
        // count() fills the cache the builder's contract check then reads
        val cached = tf.cache()
        cached.count()
        cached
      }
    })
  }

  /** Materialize the shared postings artifact up front (the
    * DocQueries/AnnQueries prewarm contract): otherwise the build
    * lands on whichever of q127/q128/q195 runs first. */
  def prewarm(spark: SparkSession, dir: String): Map[String, Double] = {
    val t0 = System.nanoTime(); corpusPostings(spark, dir)
    Map("bm25_postings_build_sec" -> (System.nanoTime() - t0) / 1e9)
  }

  /** Drop the per-JVM postings cache (the Bench cache-drop contract:
    * QPS loops must not inherit the sweep's heap). */
  def dropCaches(): Unit = {
    import scala.jdk.CollectionConverters._
    postingsCache.values.asScala.foreach { case (df, _, _) =>
      try df.unpersist(false) catch { case NonFatal(_) => () }
    }
    postingsCache.clear()
  }

  /** Queries = first 4 tokens of 4 spread-out documents (self-queries
    * the fixture can always answer; the oracle replays the slice). */
  private def querySet(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id").isin(QueryIds: _*))
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ").as("qtext"))

  /** BM25 top-10 per query (q127) — the sparse-retrieval operator on
    * its own. See [[graft.operators.Retrieval.bm25TopKFromPostings]] for the
    * one-tokenize-pass / broadcast-query-terms / bounded-heap-top-k
    * scale shape and the fixed-point determinism contract. */
  def bm25TopDocs(spark: SparkSession, dir: String): DataFrame = {
    val (tf, nDocs, sumDl) = corpusPostings(spark, dir)
    Retrieval.bm25TopKFromPostings(tf, nDocs, sumDl, querySet(spark, dir), FuseK)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Hybrid retrieval via RRF (q128): dense leg = exact cosine top-20
    * over the embeddings (the production deployment swaps in the ANN
    * graph/IVF tier — identical (query_id, doc_id, rnk) contract),
    * sparse leg = BM25 top-20, fused 1/(60+rnk) each, top-10 per
    * query on the rounded fused score. Both legs are bounded-heap
    * top-k shapes; the fusion joins eval-sized frames only. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val vecLeg = denseLeg(spark, dir, LegK)
    val (tf, nDocs, sumDl) = corpusPostings(spark, dir)
    val bm25Leg = Retrieval
      .bm25TopKFromPostings(tf, nDocs, sumDl, querySet(spark, dir), LegK)
      .select(col("query_id"), col("doc_id"), col("rnk"))
    Retrieval.rrfFuse(Seq(vecLeg, bm25Leg), FuseK)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Dense leg shared by q128 and q195: exact cosine top-k over the
    * embeddings, (query_id, doc_id, rnk) contract — the production
    * deployment swaps in the ANN tier behind the same contract. */
  private def denseLeg(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{cosineSimFromNorms, dot, topKPairs}
    val e = spread(t(spark, dir, "embeddings"))
    val q = t(spark, dir, "embeddings")
      .filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = e.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        (round(lit(1.0) - cosineSimFromNorms(
          dot(col("qvec"), col("embedding")),
          sqrt(dot(col("qvec"), col("qvec"))),
          sqrt(dot(col("embedding"), col("embedding")))), 4) + lit(0.0)).as("dist"))
    scored.groupBy(col("query_id"))
      .agg(topKPairs(col("dist"), col("doc_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("doc_id"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Retrieval quality eval table (q195): recall@1/3/10 and exact
    * fixed-point MRR of the sparse (BM25) and dense (cosine) legs
    * against the SELF-RETRIEVAL gold standard — each query is a
    * document's own 4-token prefix (sparse) / its own embedding
    * (dense), so the gold doc is the query id itself and the harness
    * runs oracle-checked at every sf with no labeled fixture
    * ([[graft.operators.Retrieval.evalRankings]]). */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val gold = querySet(spark, dir)
      .select(col("query_id"), col("query_id").as("gold_doc"))
    val (tf, nDocs, sumDl) = corpusPostings(spark, dir)
    val sparse = Retrieval
      .bm25TopKFromPostings(tf, nDocs, sumDl, querySet(spark, dir), FuseK)
      .select(col("query_id"), col("doc_id"), col("rnk"))
    Retrieval.evalRankings(
        Seq(("bm25", sparse), ("dense_cosine", denseLeg(spark, dir, FuseK))), gold)
      .orderBy(col("leg"))
  }

  /** BM25 served from the persisted inverted-index layout (q132):
    * build-once under a dir-keyed scratch path (fixtures are
    * immutable — the q111 idiom), then answer from postings + sidecar
    * WITHOUT touching the corpus. Same oracle as q127 because the
    * serving path is bit-identical to the scan path by construction
    * (one shared contribution expression) — the exact-twin pattern:
    * same answer, different (and here: far cheaper) execution. */
  def bm25Served(spark: SparkSession, dir: String): DataFrame = {
    // CONTENT-keyed index dir ([[Scratch]]): an in-place rewrite of the
    // fixture invalidates the persisted postings (a path-keyed dir kept
    // serving them stale); bench repeats and later JVMs still skip the
    // build. writeOnce blocks a concurrent caller until the winner's
    // build publishes bm25.json (written LAST — the completeness marker).
    val idx = Scratch.dir(spark, dir, "bm25-index", "documents")
    Scratch.writeOnce(idx) {
      if (!graft.index.ArtifactStore.current.exists(s"$idx/bm25.json"))
        Retrieval.buildIndex(spread(docs(spark, dir)), idx)
    }
    Retrieval.searchIndex(spark, idx, querySet(spark, dir), FuseK)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ----------------------------------------------------------- oracles

  private val toksSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($b)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private val qidList = QueryIds.mkString(", ")

  /** Shared BM25 CTE chain ending in `s(query_id, doc_id, score_fp)`.
    * Every double expression mirrors the Spark operator's evaluation
    * order token-for-token (see Retrieval.buildPostings and its
    * scoring chain). */
  private val bm25Ctes =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks)
       |       GROUP BY 1, 2, 3),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl FROM toks),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |         (SELECT doc_id AS query_id, unnest(t[1:4]) AS term FROM toks
       |          WHERE doc_id IN ($qidList))),
       |dfx AS (SELECT term, count(*) AS df FROM tf
       |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       |c AS (SELECT qt.query_id, tf.doc_id,
       |        CAST(ROUND(LN((st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
       |             * (tf.tf * (1.2 + 1.0))
       |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (tf.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
       |             * 1000000.0) AS BIGINT) AS fp
       |      FROM tf JOIN qt USING (term) JOIN dfx USING (term) CROSS JOIN st),
       |s AS (SELECT query_id, doc_id, CAST(sum(fp) AS BIGINT) AS score_fp
       |      FROM c GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q127_bm25_topk" ->
      s"""WITH $bm25Ctes,
         |r AS (SELECT *, ROW_NUMBER() OVER
         |        (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rnk FROM s)
         |SELECT query_id, doc_id, score_fp / 1000000.0 AS score, CAST(rnk AS INT) AS rnk
         |FROM r WHERE rnk <= $FuseK ORDER BY query_id, rnk""".stripMargin,
    // The served path is bit-identical to the scan path (shared
    // contribution expression over the same statistics), so the q127
    // replay is the oracle here too.
    "q132_bm25_served" ->
      s"""WITH $bm25Ctes,
         |r AS (SELECT *, ROW_NUMBER() OVER
         |        (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rnk FROM s)
         |SELECT query_id, doc_id, score_fp / 1000000.0 AS score, CAST(rnk AS INT) AS rnk
         |FROM r WHERE rnk <= $FuseK ORDER BY query_id, rnk""".stripMargin,
    "q128_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |bleg AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
         |           (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rnk_1 FROM s),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
         |      WHERE vec_id IN ($qidList)),
         |d AS (SELECT q.query_id, e.vec_id AS doc_id,
         |        ROUND(1.0 - COALESCE(${dotSql("q.qvec", "e.embedding")} /
         |          (SQRT(${dotSql("q.qvec", "q.qvec")}) * SQRT(${dotSql("e.embedding", "e.embedding")})), 0.0), 4) + 0.0 AS dist
         |      FROM embeddings e CROSS JOIN q),
         |vleg AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
         |           (PARTITION BY query_id ORDER BY dist, doc_id) AS rnk_0 FROM d),
         |f AS (SELECT COALESCE(v.query_id, b.query_id) AS query_id,
         |             COALESCE(v.doc_id, b.doc_id) AS doc_id,
         |             ROUND(COALESCE(1.0 / (60 + v.rnk_0), 0.0)
         |                 + COALESCE(1.0 / (60 + b.rnk_1), 0.0), 6) + 0.0 AS rrf
         |      FROM (SELECT * FROM vleg WHERE rnk_0 <= $LegK) v
         |      FULL OUTER JOIN (SELECT * FROM bleg WHERE rnk_1 <= $LegK) b
         |        ON v.query_id = b.query_id AND v.doc_id = b.doc_id),
         |r AS (SELECT *, ROW_NUMBER() OVER
         |        (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk FROM f)
         |SELECT query_id, doc_id, rrf, CAST(rnk AS INT) AS rnk
         |FROM r WHERE rnk <= $FuseK ORDER BY query_id, rnk""".stripMargin,
    "q195_retrieval_eval" -> {
      def perLeg(legCte: String, rnkCol: String, name: String) =
        s"""SELECT '$name' AS leg, CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(CASE WHEN gold_rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
           |  CAST(sum(CASE WHEN gold_rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3,
           |  CAST(sum(CASE WHEN gold_rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
           |  CAST(sum(CASE WHEN gold_rnk IS NOT NULL THEN 1000000 // gold_rnk ELSE 0 END) AS BIGINT) AS mrr_fp_sum
           |FROM (SELECT g.query_id,
           |        MIN(CASE WHEN l.doc_id = g.gold_doc THEN l.$rnkCol END) AS gold_rnk
           |      FROM gold g LEFT JOIN (SELECT * FROM $legCte WHERE $rnkCol <= $FuseK) l
           |        ON g.query_id = l.query_id GROUP BY g.query_id)""".stripMargin
      s"""WITH $bm25Ctes,
         |bleg AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
         |           (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rnk FROM s),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
         |      WHERE vec_id IN ($qidList)),
         |d AS (SELECT q.query_id, e.vec_id AS doc_id,
         |        ROUND(1.0 - COALESCE(${dotSql("q.qvec", "e.embedding")} /
         |          (SQRT(${dotSql("q.qvec", "q.qvec")}) * SQRT(${dotSql("e.embedding", "e.embedding")})), 0.0), 4) + 0.0 AS dist
         |      FROM embeddings e CROSS JOIN q),
         |vleg AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
         |           (PARTITION BY query_id ORDER BY dist, doc_id) AS rnk FROM d),
         |gold AS (SELECT DISTINCT query_id, query_id AS gold_doc FROM qt)
         |SELECT * FROM (
         |${perLeg("bleg", "rnk", "bm25")}
         |UNION ALL
         |${perLeg("vleg", "rnk", "dense_cosine")}
         |) ORDER BY leg""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_bm25_topk" -> (bm25TopDocs _),
    "q128_hybrid_rrf" -> (hybridRrf _),
    "q132_bm25_served" -> (bm25Served _),
    "q195_retrieval_eval" -> (retrievalEval _)
  )
}
