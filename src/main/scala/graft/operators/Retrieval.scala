package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse (keyword) retrieval and rank fusion — the text half of a
  * hybrid RAG retrieval stack (the dense half is the vector-index
  * surface in `graft.index` / `graft.queries.VectorQueries`).
  *
  * BM25 here is Okapi BM25 with the Lucene idf variant
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework"), which is non-negative for
  * every df — so a term present in most documents dampens toward zero
  * instead of flipping the ranking sign.
  *
  * Determinism contract (the repo-wide fixed-point idiom): each
  * per-(query, doc, term) contribution is quantized to a BIGINT at
  * 1e6 BEFORE the per-document sum, so the sum is an integer sum —
  * order-independent under any partitioning/shuffle schedule and
  * bit-reproducible in DuckDB. Every double step before the quantize
  * is a fixed left-to-right expression both engines evaluate with
  * identical IEEE semantics.
  *
  * One pipeline, one definition per step: [[buildPostings]] tokenizes
  * a corpus into postings + stats (cached in memory by the q127/q128/
  * q195 artifact, persisted by [[buildIndex]]); [[bm25TopKFromPostings]]
  * and [[searchIndex]] each pick their postings slice and df rows and
  * hand them to the one scoring chain; the persisted layout's
  * `bm25.json` has one verifying reader and one writer.
  *
  * Scale shape (the part that must survive 100 TB):
  *   - Doc length is `size(tokens)` attached per ROW before the
  *     explode and carried through the `tf` grouping (it is
  *     functionally dependent on the doc id, so it rides the group
  *     key for free) — there is NO dl aggregate and NO tf⋈dl join on
  *     doc_id. The only corpus-sized shuffle is the one per-(doc,
  *     term) partial-agg count (the classic term-stats shuffle, same
  *     as q58 TF-IDF).
  *   - Corpus stats (N, Σdl) come from a separate MAP-ONLY scan of
  *     the raw docs (scalar aggregate, no data-sized shuffle): two
  *     pushdown-pruned columnar scans beat materializing or
  *     re-shuffling the exploded token stream — the
  *     bloomPrunedAntiJoin trade, measured the same way.
  *   - The query set is eval-sized and BROADCAST (exploded to
  *     distinct (query_id, term) rows); `tf` is semi-joined against
  *     it first, so everything downstream touches only rows whose
  *     term appears in some query. That postings SLICE — bounded by
  *     documents-containing-a-query-term, not the corpus — is
  *     localCheckpoint'ed because it feeds both the df count and the
  *     scoring leg, and ReuseExchange does not dedupe aggregate legs
  *     whose consumers prune differently (the q115/q117 rule; without
  *     it the corpus scan+shuffle runs once per consumer). Callers
  *     that materialize the result release the blocks via
  *     [[graft.plans.Blocks.release]] (Bench releases every query).
  *   - df for query terms is Zipf-small (≤ |query vocab| rows) and
  *     broadcast back.
  *   - Final top-k uses the bounded-heap [[graft.functions.expressions.TopKPairsAgg]]
  *     (map-side partial heaps, shuffle carries O(queries × k)), not
  *     a window sort over all candidates.
  */
object Retrieval {

  val FpScale = 1000000.0

  /** The BM25 postings of a corpus — the ONE tokenize + aggregation
    * every BM25 path reads: (idCol, dl, term, tf) rows plus the scalar
    * corpus stats (n_docs, sum_dl). `materialize` turns the lazy
    * postings plan into the frame the caller keeps (a cache for the
    * in-memory artifact, a write + read-back for [[buildIndex]]); the
    * stats come from a separate map-only scan of `docs`.
    *
    * Corpus contract, checked against the materialized postings:
    * n_docs (= count(documents), which every idf reads) must equal the
    * number of distinct doc ids in the postings. A NULL-text document
    * is counted but has no postings row, and a duplicated doc id is
    * counted twice; either would shift every idf silently, so both are
    * refused. Returns (postings, n_docs, sum_dl). */
  def buildPostings(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text")(
      materialize: DataFrame => DataFrame): (DataFrame, Long, Long) = {
    val base = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
    val postings = materialize(base
      .select(col(idCol), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf")))
    val st = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl")).head()
    val nDocs = st.getLong(0)
    val distinctDocs = postings.select(col(idCol)).distinct().count()
    require(distinctDocs == nDocs,
      s"BM25 corpus contract violated: $nDocs documents but $distinctDocs distinct " +
        s"$idCol values in the postings (n_docs must equal the distinct doc count: " +
        "every document needs a unique id and non-NULL text)")
    (postings, nDocs, st.getLong(1))
  }

  /** BM25 top-k per query over a postings frame from [[buildPostings]]
    * — the in-memory twin of [[searchIndex]] (same scoring chain, stats
    * as plan literals), for pipelines that tokenize once and serve many
    * retrieval analyses off one postings table.
    *
    * EAGER at plan-construction time: the query-term postings slice is
    * localCheckpoint'ed here (see the scale notes above), which runs a
    * Spark job even if the returned plan is never executed, and its
    * block ownership transfers to the CALLER — consume the result and release
    * via [[graft.plans.Blocks.release]] (explain/audit paths included),
    * or the blocks stay pinned. */
  def bm25TopKFromPostings(
      postings: DataFrame,
      nDocs: Long,
      sumDl: Long,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    val qt = queryTerms(queries)
    val slice = postings
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "left_semi")
      .localCheckpoint(true)
    val dfx = slice.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreTopK(slice, dfx, qt, nDocs, sumDl, k, k1, b, idCol)
  }

  /** Distinct (query_id, term) rows of a (query_id, qtext) query set —
    * query tf is ignored (set semantics), standard for short queries. */
  private def queryTerms(queries: DataFrame): DataFrame =
    queries
      .select(col("query_id"), explode(TextAnalysis.tokens(col("qtext"))).as("term"))
      .distinct()

  /** The ONE BM25 scoring chain, shared by the in-memory and the
    * served path so the two are bit-identical by construction: a
    * postings slice (idCol, dl, term, tf), its df rows (term, df) and
    * the query terms → per-(query, doc, term) fixed-point contributions
    * → integer per-doc sums → top-k per query: (query_id, idCol,
    * score DOUBLE, rnk INT), score descending, doc-id tie-break, via
    * the bounded-heap top-k aggregate on dist = -score_fp. Only
    * documents sharing >= 1 term with the query appear (BM25's sparse
    * support: the dense query × corpus matrix never materializes). */
  private def scoreTopK(
      slice: DataFrame,
      dfx: DataFrame,
      qt: DataFrame,
      nDocs: Long,
      sumDl: Long,
      k: Int,
      k1: Double,
      b: Double,
      idCol: String): DataFrame = {
    import graft.functions.VectorFunctions.topKPairs
    slice
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(dfx), Seq("term"))
      .select(col("query_id"), col(idCol), col("tf"), col("dl"), col("df"),
        lit(nDocs).as("n_docs"), lit(sumDl).as("sum_dl"))
      .select(col("query_id"), col(idCol), contribFp(k1, b).as("contrib_fp"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("contrib_fp")).as("score_fp"))
      .groupBy(col("query_id"))
      .agg(topKPairs((-col("score_fp")).cast("double"), col(idCol), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as(idCol),
        ((-col("p.dist")).cast("long") / lit(FpScale)).as("score"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** The per-(query, doc, term) BM25 contribution in 1e6 fixed point,
    * over columns (tf, dl, df, n_docs, sum_dl). */
  private def contribFp(k1: Double, b: Double): Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val num = col("tf") * lit(k1 + 1.0)
    val den = col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl))
    round(idf * num / den * lit(FpScale), 0).cast("long")
  }

  // ------------------------------------------------- persisted index

  /** Versioned stats directories: v=0 is the buildIndex layout
    * (plain `df/`, no tombstones); every delete publishes v+1 dirs
    * FIRST and swaps the sidecar pointer LAST, so a reader holding
    * the old sidecar keeps a fully consistent (df, tombstones, stats)
    * triple — the VectorIndex `meta-v=N` commit discipline applied to
    * the sparse tier. Old-version dirs stay until a rebuild. */
  private def dfDir(path: String, v: Long): String =
    if (v == 0L) s"$path/df" else s"$path/df-v=$v"
  private def tombDir(path: String, v: Long): String = s"$path/tombstones-v=$v"

  /** The `bm25.json` sidecar: scalar stats, plus the tombstone count
    * and df version once a delete has run (dfV > 0). */
  private final case class Sidecar(
      nDocs: Long, sumDl: Long, vocabSize: Long, nTombstones: Long = 0L, dfV: Long = 0L) {
    def fingerprint: String = graft.index.Fingerprint.ofString(s"$nDocs|$sumDl|$vocabSize")
  }

  /** Read `path/bm25.json` and verify its FNV-1a stats fingerprint —
    * the only sidecar reader, so no caller can use (or re-sign) a
    * corrupted or tampered idf. */
  private def readSidecar(path: String): Sidecar = {
    val file = s"$path/bm25.json"
    val j = graft.index.SidecarJson.read(file)
    val side = Sidecar(j.long("n_docs"), j.long("sum_dl"), j.long("vocab_size"),
      j.longOpt("n_tombstones", 0L), j.longOpt("df_v", 0L))
    if (side.fingerprint != j.str("fingerprint"))
      throw new IllegalArgumentException(
        s"$file: stats fingerprint ${side.fingerprint} != ${j.str("fingerprint")} " +
          "(corrupted or tampered sidecar)")
    side
  }

  /** Publish `path/bm25.json` atomically — written LAST by every
    * layout writer (content first, pointer-equivalent last). */
  private def writeSidecar(path: String, side: Sidecar): Unit = {
    val deletes =
      if (side.dfV > 0L) s""","n_tombstones":${side.nTombstones},"df_v":${side.dfV}""" else ""
    graft.index.ArtifactStore.current.writeAtomic(s"$path/bm25.json",
      (s"""{"fingerprint":"${side.fingerprint}","n_docs":${side.nDocs},""" +
        s""""sum_dl":${side.sumDl},"vocab_size":${side.vocabSize}$deletes}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Write `df` to `dir` range-partitioned AND sorted by term (the
    * layout the query-vocab `IN` filter prunes) and read it back. */
  private def writeByTerm(df: DataFrame, dir: String): DataFrame = {
    df.repartitionByRange(col("term")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  /** Build the persistent BM25 serving layout under `path` — the
    * "fit once, serve forever" artifact (the IVF/PQ/int8/BPE sidecar
    * idiom, [[graft.operators.BpeArtifact]]): recomputing corpus
    * statistics per query burns a corpus scan per query AND silently
    * re-fits when the corpus has grown — exactly what the other
    * fitted-model artifacts exist to prevent.
    *
    * Layout:
    *   - `postings/` parquet (doc_id, dl, term, tf) range-partitioned
    *     AND sorted by term, so a query-vocab `IN` filter prunes at
    *     BOTH file and row-group granularity (min/max stats) — the
    *     inverted-index access path, expressed as columnar layout
    *   - `df/` parquet (term, df) — derived from the WRITTEN postings
    *     (one compact-scan, never a second corpus pass)
    *   - `bm25.json` — scalar stats (n_docs, sum_dl, vocab_size) +
    *     FNV-1a fingerprint over them, written LAST (publish order:
    *     content first, pointer-equivalent last), verified on load
    *
    * A corpus violating the [[buildPostings]] contract is refused
    * before `df/` and `bm25.json` are written. */
  def buildIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val (post, nDocs, sumDl) =
      buildPostings(docs, idCol, textCol)(writeByTerm(_, s"$path/postings"))
    val vocabSize =
      writeByTerm(post.groupBy(col("term")).agg(count(lit(1)).as("df")), s"$path/df").count()
    writeSidecar(path, Sidecar(nDocs, sumDl, vocabSize))
  }

  /** Merge BM25 shard indexes into one [[buildIndex]]-shaped layout —
    * the day-build / per-shard consolidation path (the
    * `VectorIndex.merge` twin for the sparse tier). Because shards
    * hold DISJOINT document sets, every statistic merges exactly:
    * df(term) = Σ shard dfs, n_docs/sum_dl = scalar sums — no corpus
    * re-scan, no re-tokenize; the only data-sized work is re-sorting
    * the unioned postings by term so the merged layout keeps its
    * file/row-group pruning. Disjointness is VERIFIED (distinct doc
    * count over the merged postings must equal Σ n_docs — every
    * shard's build enforced one postings doc per counted document),
    * not assumed: a doc in two shards would silently double-count df
    * and corrupt every idf. */
  def mergeIndexes(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      out: String,
      idCol: String = "doc_id"): Unit = {
    require(paths.nonEmpty, "mergeIndexes needs >= 1 input shard")
    val sides = paths.map { p =>
      val s = readSidecar(p)
      // a tombstoned shard's postings still hold the forgotten rows;
      // merging them would resurrect deleted docs in the merged stats
      if (s.nTombstones > 0L)
        throw new IllegalArgumentException(
          s"$p has ${s.nTombstones} tombstoned docs; " +
            "rebuild/compact the shard before merging")
      s
    }
    val nDocs = sides.map(_.nDocs).sum
    val sumDl = sides.map(_.sumDl).sum
    val posts = paths.map(p => spark.read.parquet(s"$p/postings")).reduce(_.unionByName(_))
    val distinctDocs = posts.select(col(idCol)).distinct().count()
    if (distinctDocs != nDocs)
      throw new IllegalArgumentException(
        s"shards share documents: ${nDocs - distinctDocs} doc ids appear in more than " +
          "one input (df/idf would double-count); merge inputs must be disjoint")
    writeByTerm(posts, s"$out/postings")
    val vocabSize = writeByTerm(
      paths.map(p => spark.read.parquet(s"$p/df")).reduce(_.unionByName(_))
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      s"$out/df").count()
    writeSidecar(out, Sidecar(nDocs, sumDl, vocabSize))
  }

  /** Right-to-be-forgotten delete against a [[buildIndex]] layout —
    * O(one postings scan + vocabulary-sized rewrites), never a corpus
    * re-tokenize. The contract is EXACT: after the delete, every
    * [[searchIndex]] answer is bit-identical to an index rebuilt from
    * the corpus WITHOUT the deleted documents (RetrievalSpec pins it),
    * because every statistic idf/length-norm reads is adjusted, not
    * just the result rows filtered:
    *
    *   - `df/` is rewritten minus each deleted doc's term memberships
    *     (df rows reaching 0 drop — the term leaves the vocabulary)
    *   - sidecar n_docs/sum_dl subtract the deleted docs' counts/
    *     lengths, vocab_size recounts, fingerprint re-signs — after the
    *     old sidecar's fingerprint verified, so a tampered sidecar is
    *     refused, never re-signed
    *   - postings rows stay on disk (rewriting the corpus-sized
    *     layout per delete batch would be O(index)); `tombstones/`
    *     records the ids and [[searchIndex]] anti-joins them out —
    *     the VectorIndex tombstone-delta idiom. A later rebuild
    *     compacts them away.
    *
    * Idempotent: already-tombstoned ids are skipped before the stats
    * pass (re-subtracting them would corrupt idf for good). Unknown
    * ids are no-ops. Returns the number of documents actually
    * forgotten.
    *
    * Reader isolation: each delete publishes NEW `df-v=N` /
    * `tombstones-v=N` directories first and swaps the sidecar pointer
    * last (the VectorIndex `meta-v=N` commit discipline), so a reader
    * that loaded the old sidecar keeps a fully consistent (df,
    * tombstones, stats) triple — deletes never mutate a directory a
    * reader can hold. Old-version dirs stay until a rebuild (the
    * vacuum analog). RetrievalSpec asserts the pre-delete df content
    * survives a delete byte-for-byte. */
  def deleteFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: Seq[Long],
      idCol: String = "doc_id"): Long = {
    val side = readSidecar(path)
    val prior: Set[Long] =
      if (side.nTombstones > 0L)
        spark.read.parquet(tombDir(path, side.dfV))
          .collect().map(_.getLong(0)).toSet
      else Set.empty
    val newIds = ids.distinct.filterNot(prior)
    if (newIds.isEmpty) return 0L
    val ss = spark
    import ss.implicits._
    val victims = broadcast(newIds.toDF(idCol))
    val hit = spark.read.parquet(s"$path/postings")
      .join(victims, Seq(idCol)).localCheckpoint(true)
    val st = hit.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    val (nDeleted, dlDeleted) = (st.getLong(0), st.getLong(1))
    val ddf = hit.select(col("term"), col(idCol)).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("ddf"))
    val newV = side.dfV + 1L
    val newDf = spark.read.parquet(dfDir(path, side.dfV))
      .join(ddf, Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0L)
    val vocabSize = writeByTerm(newDf, dfDir(path, newV)).count()
    graft.plans.Blocks.release(hit) // ddf (from hit) consumed by the write above
    val allTombs = (prior ++ newIds).toSeq.sorted
    allTombs.toDF(idCol).coalesce(1)
      .write.mode("overwrite").parquet(tombDir(path, newV))
    // content (df-v, tombstones-v) is durable; the sidecar swap below
    // is the commit point — a reader on the old sidecar never sees it
    writeSidecar(path, Sidecar(side.nDocs - nDeleted, side.sumDl - dlDeleted, vocabSize,
      allTombs.length.toLong, newV))
    nDeleted
  }

  /** Serve BM25 top-k from a [[buildIndex]] layout — bit-identical to
    * [[bm25TopKFromPostings]] over the same corpus (one shared scoring
    * chain), without touching the corpus: the query vocabulary (an
    * eval-sized driver list — that boundedness is what buys the
    * pushdown) filters the postings/df scans as an `IN` predicate the
    * parquet reader prunes with; scalar stats come from the verified
    * sidecar as plan literals. */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    val side = readSidecar(path)
    val qt = queryTerms(queries)
    val vocab = qt.select(col("term")).distinct().collect().map(_.getString(0)).toSeq
    val post0 = spark.read.parquet(s"$path/postings").filter(col("term").isin(vocab: _*))
    // deleteFromIndex leaves postings rows in place and records the
    // forgotten ids under the sidecar's df_v; the anti-join
    // (broadcast, over the eval-bounded postings slice) completes the
    // exact rebuilt-without semantics.
    val post =
      if (side.nTombstones > 0L)
        post0.join(broadcast(spark.read.parquet(tombDir(path, side.dfV))),
          Seq(idCol), "left_anti")
      else post0
    val dfx = spark.read.parquet(dfDir(path, side.dfV)).filter(col("term").isin(vocab: _*))
    scoreTopK(post, dfx, qt, side.nDocs, side.sumDl, k, k1, b, idCol)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    * ranked legs: score(d) = Σ_legs 1/(kRrf + rank_leg(d)), summed
    * left-to-right in `legs` order (fixed fold order — two-to-few
    * doubles added in a written sequence, so the result is engine-
    * reproducible without quantization). A document missing from a
    * leg contributes 0 from it.
    *
    * Each leg: (query_id, idCol, rnk). Output: (query_id, idCol,
    * rrf DOUBLE rounded to 6, rnk INT) — top `k` per query, ranked on
    * the ROUNDED score (both engines order the same column; repo
    * determinism rule), doc-id tie-break.
    *
    * Scale shape: legs are already top-n-per-query (O(queries × n)
    * rows — eval-sized), so the outer joins and the per-query window
    * here run on bounded frames no matter the corpus size; all the
    * heavy lifting happened inside the legs' bounded-heap top-k. */
  def rrfFuse(
      legs: Seq[DataFrame],
      k: Int,
      kRrf: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs >= 1 ranked leg")
    import org.apache.spark.sql.expressions.Window
    val keyed = legs.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col(idCol), col("rnk").as(s"rnk_$i"))
    }
    val joined = keyed.reduce((a, b) => a.join(b, Seq("query_id", idCol), "full_outer"))
    val rrf = legs.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf) + col(s"rnk_$i")), lit(0.0)))
      .reduce(_ + _)
    joined
      .select(col("query_id"), col(idCol), (round(rrf, 6) + lit(0.0)).as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col(idCol))))
      .filter(col("rnk") <= k)
  }

  /** Ranked-retrieval quality evaluation: recall@k and fixed-point MRR
    * of one or more ranked legs against a gold relevance set — the
    * eval table a retrieval deployment reads before choosing its
    * serving leg (and the relational twin of the ANN RECALL gates).
    * Per leg: n_queries, hits@k for each cutoff, and `mrr_fp_sum` =
    * Σ_queries (10^6 DIV gold_rank) — each reciprocal rank floored at
    * 6 fixed-point digits so the metric is an exact BIGINT any engine
    * reproduces (divide by n_queries·10^6 for the usual MRR reading).
    * Misses contribute 0 (the standard convention).
    *
    * Inputs: each leg is a ranked (query_id, doc_id, rnk) frame (the
    * contract every retrieval operator here emits); `gold` is
    * (query_id, gold_doc). All joins are eval-sized (queries × k
    * rows) — at any corpus scale the expensive part was producing the
    * legs, not scoring them. */
  def evalRankings(
      legs: Seq[(String, DataFrame)],
      gold: DataFrame,
      ks: Seq[Int] = Seq(1, 3, 10)): DataFrame = {
    require(legs.nonEmpty, "need >= 1 ranked leg")
    require(ks.nonEmpty && ks == ks.sorted, "ks must be non-empty ascending")
    legs.map { case (name, ranked) =>
      val perQ = gold.select(col("query_id"), col("gold_doc"))
        .join(ranked.select(col("query_id"), col("doc_id"),
          col("rnk").cast("long").as("rnk")), Seq("query_id"), "left")
        .groupBy(col("query_id"))
        .agg(min(when(col("doc_id") === col("gold_doc"), col("rnk"))).as("gold_rnk"))
      val aggs =
        (count(lit(1)).as("n_queries") +:
          ks.map(k =>
            sum(when(col("gold_rnk") <= k, 1L).otherwise(0L)).as(s"hits_at_$k"))) :+
          sum(when(col("gold_rnk").isNotNull, expr("1000000 DIV gold_rnk"))
            .otherwise(0L)).as("mrr_fp_sum")
      perQ.agg(aggs.head, aggs.tail: _*)
        .select(lit(name).as("leg") +:
          (Seq("n_queries") ++ ks.map(k => s"hits_at_$k") :+ "mrr_fp_sum").map(col): _*)
    }.reduce(_ unionByName _)
  }
}
