package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard (inverted-index self-join), MinHash +
  * LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design:
  *  - Exact dedup groups by md5(text), not text: the shuffle key is 32
  *    bytes regardless of document size, and partial aggregation
  *    applies. At 100 TB this is one shuffle of (hash, id) pairs.
  *  - Jaccard uses the classic inverted-index join (explode shingles,
  *    equi-join on shingle, count intersections) — never a cross join.
  *    High-frequency shingles are droppable (`maxShingleFreq`) exactly
  *    like prefix filtering in set-similarity joins: a shingle shared
  *    by f docs contributes f² candidate pairs, so capping f bounds the
  *    join output; at web scale this is the difference between hours
  *    and infeasible.
  *  - MinHash/SimHash are pure integer arithmetic over a ranked
  *    vocabulary (deterministic across engines and cluster sizes — no
  *    engine-private hash function), then LSH banding turns near-dup
  *    detection into an equi-join on (band, bandHash).
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val MinhashPrime = 2147483647L // 2^31 - 1
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  def hashA(j: Int): Long = ((j + 1).toLong * 1000003L) % MinhashPrime
  def hashB(j: Int): Long = (j.toLong * 7919L + 104729L) % MinhashPrime
  def simA(b: Int): Long = ((b + 17).toLong * 15485863L) % MinhashPrime
  def simB(b: Int): Long = ((b + 5).toLong * 32452843L) % MinhashPrime

  /** Dense 1-based IDs for distinct terms in lexicographic order.
    * Deterministic and scale-safe: `orderBy` range-partitions the sort
    * and `zipWithIndex` numbers in global order without collapsing to
    * a single partition (unlike a partition-less window). */
  def rankTerms(terms: DataFrame, termCol: String): DataFrame = {
    val spark = terms.sparkSession
    val sorted = terms.select(col(termCol).cast("string").as("term"))
      .where(col("term").isNotNull).distinct().orderBy(col("term"))
    val schema = StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("term_id", LongType, nullable = false)))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row(r.getString(0), i + 1L) },
      schema)
  }

  /** Exact duplicate groups: documents with byte-identical text.
    * Returns (text_hash, canonical_id = min id, n_copies, member_ids)
    * for groups with more than one member. `member_ids` holds the
    * `maxMembers` SMALLEST ids, ascending, via the bounded-heap
    * aggregate — a pathological 10^7-copy group (think boilerplate
    * pages at web scale) costs a k-heap per partition, never a
    * 10^7-element array in one aggregation buffer; `n_copies` stays
    * exact. */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxMembers: Int = 1000): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        transform(
          // constant dist: the heap's (dist, id) order degenerates to
          // the exact LONG id order — a cast-to-double key would
          // collapse ids above 2^53 onto one double
          VectorFunctions.topKPairs(lit(0d), col(idCol), maxMembers),
          p => p.getField("id")).as("member_ids"))
      .filter(col("n_copies") > 1)

  /** Build a Bloom filter over `blockKeys.keyCol` sized for `fpp` —
    * the broadcastable membership summary behind the pruned joins
    * below. One bounded count + one OR-merged aggregate over the
    * blocklist; the filter bytes come back to the driver like any
    * broadcast-side build. */
  def buildBloom(blockKeys: DataFrame, keyCol: String, fpp: Double): Array[Byte] = {
    import graft.functions.SketchFunctions
    import graft.functions.expressions.BloomBuffer
    val n = math.max(1L, blockKeys.count())
    val bits = BloomBuffer.optimalNumBits(n, fpp)
    val k = BloomBuffer.optimalNumHashes(n, bits)
    blockKeys.agg(SketchFunctions.bloomAgg(col(keyCol), bits, k))
      .head.getAs[Array[Byte]](0)
  }

  /** EXACT semi-join of `corpus` against a large key list, with a
    * Bloom pre-filter on the scan side ("which documents ARE on the
    * list" — contamination audits, takedown matching).
    *
    * When the list is eval-set-sized, q59's inlined literal is the
    * right tool; when it is 100M+ entries (a URL/document blocklist),
    * neither a literal nor a broadcast of raw keys fits, and a plain
    * semi join shuffles the ENTIRE corpus on the key. Here the corpus
    * is filtered by the broadcast filter bits first — no false
    * negatives, so nothing true is lost — and only the surviving
    * sliver (true members + the fp rate) reaches the exchange; the
    * exact join then removes the false positives. The answer is
    * bit-for-bit the plain semi join's, independent of fpp. */
  def bloomPrunedSemiJoin(
      corpus: DataFrame,
      blockKeys: DataFrame,
      keyCol: String,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.SketchFunctions
    val bytes = buildBloom(blockKeys, keyCol, fpp)
    corpus
      .filter(SketchFunctions.bloomContains(lit(bytes), col(keyCol)))
      .join(blockKeys.select(col(keyCol)), Seq(keyCol), "left_semi")
  }

  /** EXACT anti-join of `corpus` against a large key list, Bloom-
    * routed (" which documents are NOT on the list" — blocklist
    * decontamination, the keep side of takedowns).
    *
    * An anti join cannot simply pre-filter its left side (rows the
    * filter rejects are exactly the rows to KEEP), so the corpus
    * routes into two legs: bloom-negative rows are definitely clean
    * and bypass the join entirely (map-only leg); bloom-positive rows
    * — true members plus the fp sliver — go through the exact anti
    * join that rescues the false positives. Two map-only scans of the
    * corpus replace one full-corpus shuffle: at 100 TB a columnar
    * re-scan with pushdown is the cheap side of that trade by an
    * order of magnitude (and if the input is already cached/
    * checkpointed, the second scan is a memory read). NULL keys never
    * match any list entry, so they ride the clean leg (SQL anti-join
    * semantics). */
  def bloomPrunedAntiJoin(
      corpus: DataFrame,
      blockKeys: DataFrame,
      keyCol: String,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.SketchFunctions
    val bytes = buildBloom(blockKeys, keyCol, fpp)
    val hit = SketchFunctions.bloomContains(lit(bytes), col(keyCol))
    val clean = corpus.filter(coalesce(!hit, lit(true)))
    val maybe = corpus.filter(coalesce(hit, lit(false)))
      .join(blockKeys.select(col(keyCol)), Seq(keyCol), "left_anti")
    clean.unionByName(maybe.select(corpus.columns.map(col).toSeq: _*))
  }

  /** Exploded distinct (id, shingle) pairs for a corpus. Tokens are
    * materialized into a column FIRST: the shingle lambda references
    * its token-array argument ~3k times, and if that argument is the
    * `split(...)` expression itself (not a bound attribute) codegen
    * re-tokenizes the document at every reference — O(len²) per doc. */
  def docShingles(docs: DataFrame, k: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.shingles(col("toks"), k))).as("shingle"))

  /** Substring-level duplication stats: the chunk-hash detection tier
    * of exact-substring dedup (Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" — the suffix-array pass is the
    * removal tier; stride-1 k-token chunk fingerprints are the standard
    * scalable detector). A document's `dup_frac` is the fraction of its
    * DISTINCT k-token chunks that also occur in at least one other
    * document — high values mean copy-paste containment that shingle
    * Jaccard (whole-doc similarity) under-reports.
    *
    * Scale shape: chunks become per-row rolling hashes immediately
    * (64-bit ids, never strings, cross the shuffles); the shared-chunk
    * table is a partial-agg groupBy on the hash plus one equi-join
    * back. No self-join, no cross product; hot boilerplate chunks cost
    * one counter each. Hash collisions can only over-count duplication,
    * identically in any engine applying the same hash. Chunk ids are
    * composed from PER-TOKEN hashes (each token's chars hashed once,
    * then a k-long polynomial fold per window) — a chunk-string hash
    * would re-walk every character k times. */
  /** ~60-bit chunk id at window start `i`: two independent k-long
    * polynomial folds (multipliers 31/37, primes 1e9+7/999999937) over
    * two independent per-token hash streams, packed as
    * `fold1 * 1e9 + fold2` (max ≈ 1.0e18, inside BIGINT). A false
    * chunk match now needs simultaneous collisions in both token-hash
    * streams AND both folds — the single 30-bit id this replaces was
    * fine for the detection tier's over-count but not for the
    * DESTRUCTIVE cut tier, where one collision at corpus scale cuts a
    * non-duplicate span (ADVICE r7/r8). Every intermediate stays small
    * enough for DuckDB BIGINT, so the oracle mirrors it exactly. */
  private[operators] def chunkIdArr(h1: Column, h2: Column, k: Int): Column = {
    // native compiled window loop ([[graft.functions.expressions
    // .DualWindowHash]]); the HOF twin below is the property-spec
    // reference. Callers keep their size >= k guards — the kernel
    // REQUIRES them (loud error replaces the descending-sequence
    // degenerate case).
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    CB.column(graft.functions.expressions.DualWindowHash(
      CB.expression(h1), CB.expression(h2), k))
  }

  /** Interpreted HOF twin of [[chunkIdArr]] (bit-identity spec only). */
  private[operators] def chunkIdArrHof(h1: Column, h2: Column, k: Int): Column =
    transform(sequence(lit(0), size(h1) - k), i =>
      aggregate(slice(h1, i + lit(2), lit(k - 1)), element_at(h1, i + lit(1)),
        (a, b) => (a * 31L + b) % 1000000007L) * 1000000000L +
      aggregate(slice(h2, i + lit(2), lit(k - 1)), element_at(h2, i + lit(1)),
        (a, b) => (a * 37L + b) % 999999937L))

  def chunkDupStats(
      docs: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val cidArr = chunkIdArr(h, col("__graft_tids2"), k)
    // The chunk pass is deliberately computed TWICE (once under the
    // shared-chunk aggregate, once as the probe side): both consumers
    // collapse to partial aggregates / a broadcast join, so the only
    // shuffled bytes are the tiny per-cid and per-doc aggregates. The
    // single-pass alternative (repartition on cid + ReuseExchange)
    // materializes an input-sized shuffle of every chunk row — measured
    // slower here and strictly worse at scale, where a full-width
    // shuffle of the token stream dwarfs one extra map-side CPU pass.
    val chunks = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("doc_id"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
      .filter(size(h) >= k)
      .select(col("doc_id"), explode(array_distinct(cidArr)).as("cid"))
    // (doc_id, cid) rows are unique by construction (array_distinct
    // before the explode), so count(1) == countDistinct(doc_id)
    // without the distinct-aggregate expand
    val shared = chunks.groupBy(col("cid"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("cid"), lit(1L).as("dup"))
    chunks.join(shared, Seq("cid"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"))
      .filter(col("n_dup_chunks") > 0)
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 4))
  }

  /** Winnowing minimizer selection + duplication stats (Schleimer,
    * Wilkerson & Aiken 2003 — the MOSS fingerprinting scheme). Instead
    * of keeping EVERY stride-1 k-token chunk hash ([[chunkDupStats]]),
    * each sliding window of `w` consecutive chunk hashes contributes
    * only its minimum — guaranteeing (the winnowing theorem) that any
    * shared run of at least k + w - 1 tokens still shares at least one
    * selected fingerprint, while the stored/shuffled fingerprint count
    * drops to ~2/(w+1) of the chunk count. That density knob is the
    * 100 TB lever: the shared-fingerprint aggregate and the probe join
    * shuffle w-fold fewer 64-bit ids for the same containment signal
    * on runs >= the guarantee length.
    *
    * Same scale shape as [[chunkDupStats]]: ~60-bit minimizer ids
    * (never strings) cross the shuffles; shared table = partial-agg
    * groupBy + one equi-join back; the chunk pass is recomputed on the
    * probe side rather than materializing an input-sized shuffle.
    * Window minima are a `least()` chain over w direct element
    * references — a `slice + array_min` formulation would allocate a
    * w-element array per window, and the allocation (not the
    * comparisons) dominated the measured cost. BIGINT `least` is
    * engine-deterministic (no float keys, ties resolve to the equal
    * value itself). Docs shorter than k + w - 1 tokens contribute no
    * windows and are absent from the output — consistent with the
    * guarantee bound. */
  def winnowDupStats(
      docs: DataFrame,
      k: Int = 8,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val cids = col("__graft_cids")
    val minimizers = array_distinct(transform(sequence(lit(0), size(cids) - w), j =>
      least((1 to w).map(o => element_at(cids, j + lit(o))): _*)))
    val mins = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("doc_id"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
      .filter(size(h) >= k + w - 1)
      .withColumn("__graft_cids", chunkIdArr(h, col("__graft_tids2"), k))
      .select(col("doc_id"),
        size(array_distinct(cids)).cast("long").as("n_chunks"),
        explode(minimizers).as("mid"))
    val shared = mins.groupBy(col("mid"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("mid"), lit(1L).as("dup"))
    mins.join(shared, Seq("mid"), "left")
      .groupBy(col("doc_id"))
      .agg(first(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_minimizers"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_minimizers"))
      .filter(col("n_dup_minimizers") > 0)
      .withColumn("dup_frac",
        round(col("n_dup_minimizers").cast("double") / col("n_minimizers").cast("double"), 4))
  }

  /** Cross-source shingle-overlap matrix: for every pair of corpus
    * sources, the number of distinct k-token shingles present in BOTH,
    * plus the Jaccard overlap of their shingle sets — the standard
    * corpus-forensics view for spotting mirror sites, syndicated
    * boilerplate, and cross-source contamination before mixing weights
    * are chosen.
    *
    * Shingle identity is the ~60-bit dual-fold chunk id over per-token
    * hashes ([[chunkIdArr]] at window k) — no shingle STRING is ever
    * built or shuffled. The string formulation this replaces allocated
    * and char-hashed a k-word string per shingle and measured ~10× the
    * per-pass cost of the hash fold at sf0.1; collisions at 60 bits
    * are negligible for an overlap statistic and mirrored exactly by
    * the oracle either way.
    *
    * Scale shape: ONE corpus pass — distinct partial-agg on
    * (source, sid), then per-sid source sets via `collect_set`
    * (bounded by the number of distinct sources — this operator is
    * meant for coarse source labels, tens to thousands; for
    * domain-granularity run a quota first). That per-sid frame is
    * locally checkpointed and BOTH outputs derive from it: per-source
    * totals (one explode + count, collected into a literal map for the
    * Jaccard denominators — a driver action bounded by #sources) and
    * the pair expansion, which happens AFTER the aggregate, on sets,
    * never as a row-level self-join — a boilerplate shingle in every
    * source costs one set, not |rows|² join output. The checkpoint
    * materializes O(distinct shingles) rows of (id, small set) —
    * always far below corpus bytes — where the two-branch alternative
    * re-scanned and re-hashed the full corpus per branch (measured 2×
    * the runtime at sf0.1). */
  def crossSourceOverlap(
      docs: DataFrame,
      k: Int = 3,
      srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val sids = docs
      .select(col(srcCol).as("source"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("source"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
      .filter(size(h) >= k)
      .select(col("source"),
        explode(array_distinct(chunkIdArr(h, col("__graft_tids2"), k))).as("sid"))
      .distinct()
    val srcs = col("srcs")
    val bySid = sids.groupBy(col("sid"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .localCheckpoint(true)
    val sizeMap: Map[String, Long] = bySid
      .select(explode(srcs).as("source")).groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizeOf = typedLit(sizeMap)
    bySid
      .filter(size(srcs) >= 2)
      .select(explode(flatten(transform(sequence(lit(1), size(srcs) - 1), i =>
        transform(sequence(i + 1, size(srcs)), j =>
          struct(element_at(srcs, i).as("src_a"), element_at(srcs, j).as("src_b"))))))
        .as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (element_at(sizeOf, col("src_a")) + element_at(sizeOf, col("src_b"))
            - col("n_shared")).cast("double"), 6).as("jaccard"))
  }

  /** Exact-substring span REMOVAL — the cut tier above
    * [[chunkDupStats]]'s detection (Lee et al. 2022: dedup pipelines
    * first detect duplicated substrings, then CUT them and keep one
    * canonical occurrence). Every stride-1 k-token chunk occurring in
    * more than one document is removed from every document EXCEPT the
    * one with the smallest doc id containing it; a token is cut when
    * ANY removable window covers it, so maximal duplicated runs (which
    * are >= k tokens by construction — k is the length threshold) come
    * out in one piece while the canonical copy survives verbatim.
    * Canonical survival is GUARANTEED even under overlap: a token
    * covered by a window this document is canonical for is protected
    * from cuts by overlapping non-canonical windows (without the
    * protection, a doc canonical for chunk X but non-canonical for an
    * overlapping chunk Y would have X's canonical occurrence partially
    * cut — and since every OTHER copy of X is removed too, X would
    * vanish from the corpus, breaking the keep-one contract). The
    * protected overlap tokens are duplicated text that survives in
    * this one document — the price of the guarantee, not a missed cut.
    * Returns one row per input document (TOTAL — null text stays a
    * row with null stats): (doc_id, n_tokens, n_removed,
    * cleaned_text = surviving tokens re-joined with single spaces).
    *
    * Scale shape — the same skeleton as [[chunkDupStats]]: chunk ids
    * are 64-bit rolling hashes composed from per-token hashes (no
    * strings cross a shuffle), the canonical table is one partial-agg
    * groupBy on the hash, and the removable-window pass is an equi-join
    * back on the hash followed by a per-document aggregate whose state
    * is bounded by DOCUMENT length, never corpus size. The chunk pass
    * is recomputed per consumer rather than shuffled whole
    * (chunkDupStats' measured tradeoff, Dedup.scala:118-124). The cut
    * itself is a pure per-row higher-order expression — at 100 TB only
    * narrow passes touch every row. */
  def removeDupSpans(
      docs: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val cidArr = chunkIdArr(h, col("__graft_tids2"), k)
    val toks = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("doc_id"), col("__graft_toks"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
    // every window POSITION (not distinct cids — a chunk repeated
    // within one doc covers several spans, all of which must cut)
    val wins = toks.filter(size(h) >= k)
      .select(col("doc_id"), posexplode(cidArr).as(Seq("pos", "cid")))
    // canonical occurrence per cross-document chunk: smallest doc id
    val canon = wins.select(col("doc_id"), col("cid")).distinct()
      .groupBy(col("cid"))
      .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
    // removable window starts per non-canonical document, and protected
    // (this-doc-is-canonical) window starts per canonical document —
    // the same wins ⋈ canon equi-join feeds both partial aggregates
    val removable = wins.join(canon, Seq("cid"))
      .filter(col("doc_id") =!= col("canon"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    val shielded = wins.join(canon, Seq("cid"))
      .filter(col("doc_id") === col("canon"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("pstarts"))
    val starts = coalesce(col("starts"), array().cast("array<int>"))
    val pstarts = coalesce(col("pstarts"), array().cast("array<int>"))
    val kept = filter(col("__graft_toks"), (t, i) =>
      !exists(starts, s => s <= i && i < s + k) ||
        exists(pstarts, s => s <= i && i < s + k))
    toks.join(removable, Seq("doc_id"), "left")
      .join(shielded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__graft_toks")).as("n_tokens"),
        (size(col("__graft_toks")) - size(kept)).as("n_removed"),
        array_join(kept, " ").as("cleaned_text"))
  }

  /** Span-level decontamination: cut every k-token window of a
    * training document that appears VERBATIM in the benchmark set —
    * the surgical variant of document-level decontamination
    * (`DocQueries.decontaminate` drops whole docs; this keeps the doc
    * and excises only the leaked spans, the standard practice when a
    * long document quotes a short benchmark item). Same ~60-bit
    * dual-fold chunk identity and cut machinery as [[removeDupSpans]],
    * with two deliberate differences: the benchmark side defines the
    * removable set (no canonical survivor — benchmark text must not
    * survive ANYWHERE in training data), and there is no
    * cross-training-doc interaction at all.
    *
    * Scale shape: the benchmark chunk-id set is eval-set-sized and
    * broadcast; the corpus contributes one window pass (positions,
    * never strings) and a per-doc start-set aggregate bounded by doc
    * length. Corpus rows never shuffle; the destructive decision rides
    * the same two-independent-recurrence collision bound as the span
    * dedup tier. */
  def removeContaminatedSpans(
      docs: DataFrame,
      bench: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val cidArr = chunkIdArr(h, col("__graft_tids2"), k)
    def chunked(src: DataFrame) = src
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("doc_id"), col("__graft_toks"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
    val toks = chunked(docs)
    val benchCids = chunked(bench).filter(size(h) >= k)
      .select(explode(array_distinct(cidArr)).as("cid")).distinct()
    val wins = toks.filter(size(h) >= k)
      .select(col("doc_id"), posexplode(cidArr).as(Seq("pos", "cid")))
    val removable = wins.join(broadcast(benchCids), Seq("cid"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    val starts = coalesce(col("starts"), array().cast("array<int>"))
    val kept = filter(col("__graft_toks"), (t, i) =>
      !exists(starts, s => s <= i && i < s + k))
    toks.join(removable, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__graft_toks")).as("n_tokens"),
        (size(col("__graft_toks")) - size(kept)).as("n_removed"),
        array_join(kept, " ").as("cleaned_text"))
  }

  /** The benchmark side of [[removeContaminatedSpans]] as a
    * driver-side value: the distinct k-token chunk ids of the
    * benchmark set (eval-set-sized by definition — this collect is
    * bounded by benchmark bytes, never corpus bytes). Feed it to
    * [[removeContaminatedSpansStateless]] / the streaming twin. */
  def benchmarkChunkIds(
      bench: DataFrame,
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): Seq[Long] = {
    val h = col("__graft_tids")
    bench
      .select(TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
      .filter(size(h) >= k)
      .select(explode(array_distinct(chunkIdArr(h, col("__graft_tids2"), k))).as("cid"))
      .distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq
  }

  /** [[removeContaminatedSpans]] with the benchmark chunk-id set
    * inlined as a literal: the whole cut becomes ONE stateless per-row
    * expression — no explode, no join, no shuffle — so it runs
    * unchanged on an unbounded stream (the [[graft.streaming
    * .StreamingOps.streamingSpanDecontam]] twin) and pipelines inside
    * the scan in batch. Per-row cost is O(positions × |bench set|)
    * literal-array membership checks — fine for eval-set-sized
    * benchmarks, which is the only size the literal shape targets;
    * corpus-sized "benchmarks" belong on the broadcast-join variant. */
  def removeContaminatedSpansStateless(
      docs: DataFrame,
      benchCids: Seq[Long],
      k: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val benchLit = typedLit(benchCids)
    val toks = TextAnalysis.tokens(col(textCol))
    val d = docs
      .withColumn("__graft_toks", toks)
      // when-guard: chunkIdArr's sequence(0, n-k) counts DOWN for
      // docs shorter than k tokens (the shingles() quirk) and
      // element_at(_, 0) then throws — the guard keeps the branch
      // unevaluated for short rows
      .withColumn("__graft_cids", when(size(col("__graft_toks")) >= k,
        chunkIdArr(
          transform(col("__graft_toks"), t => TextAnalysis.termHash(t)),
          transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)), k))
        .otherwise(array().cast("array<bigint>")))
    val starts = when(size(col("__graft_toks")) >= k,
      filter(sequence(lit(0), size(col("__graft_cids")) - 1), p =>
        array_contains(benchLit, element_at(col("__graft_cids"), p + 1))))
      .otherwise(array().cast("array<int>"))
    val kept = filter(col("__graft_toks"), (t, i) =>
      !exists(col("__graft_starts"), s => s <= i && i < s + k))
    d.withColumn("__graft_starts", starts)
      .select(col(idCol).as("doc_id"),
        size(col("__graft_toks")).as("n_tokens"),
        (size(col("__graft_toks")) - size(kept)).as("n_removed"),
        array_join(kept, " ").as("cleaned_text"))
  }

  /** Default hot-shingle cap for the Jaccard self-join. The
    * inverted-index join is quadratic in per-shingle document
    * frequency — one boilerplate shingle shared by 1M docs is 10^12
    * join rows — so the BARE API must route through the capped tier:
    * a shingle in more than 1000 documents carries no dedup signal
    * (it is boilerplate by definition) and only detonates the join.
    * Pass `maxShingleFreq = 0` explicitly to opt into the uncapped
    * exact form (the q41 oracle does, on a fixture where no shingle
    * approaches the cap so both forms agree). */
  val DefaultMaxShingleFreq = 1000

  /** Exact n-gram Jaccard similarity for every pair sharing >= 1
    * shingle, via inverted-index self-join. `maxShingleFreq` drops
    * shingles present in more than that many docs (skew/scale guard,
    * ON by default — [[DefaultMaxShingleFreq]]; <= 0 disables
    * explicitly). Returns (doc_a < doc_b, jaccard). */
  def ngramJaccardPairs(
      docs: DataFrame,
      k: Int = 3,
      maxShingleFreq: Int = DefaultMaxShingleFreq,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // spread the DOCUMENTS before shingling: tokenization + shingle
    // explode is the compute-dense part, and on a kilobyte-scale input
    // it would otherwise run inside the 1-3 raw file splits.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    ngramJaccardPairsFromShingles(
      docShingles(docs.repartition(par), k, idCol, textCol), maxShingleFreq)
  }

  /** [[ngramJaccardPairs]] over a precomputed (doc_id, shingle) set —
    * lets pipelines tokenize/shingle ONCE and feed several analyses
    * (Jaccard, MinHash, LSH) from the same materialized table. Same
    * [[DefaultMaxShingleFreq]] default as the bare API. */
  def ngramJaccardPairsFromShingles(
      shingles: DataFrame,
      maxShingleFreq: Int = DefaultMaxShingleFreq): DataFrame = {
    val (inter, sizes) = shinglePairStats(shingles, maxShingleFreq)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("sa") + col("sb") - col("n_inter")).cast("double"), 4).as("jaccard"))
  }

  /** Shared kernel of the inverted-index pair tiers (Jaccard q41/q57,
    * containment q194): per-pair shared-shingle counts plus per-doc
    * surviving-shingle sizes, from ONE aggregation of the (doc_id,
    * shingle) rows.
    *
    * The r16 shape planned the hot-shingle cap as its own aggregate +
    * left-anti join and the intersection as a two-sided self-join on
    * `shingle`, so the shingle subtree executed up to four times per
    * card (both join sides + the sizes agg + the cap agg — consumer-
    * specific pushed filters defeat exchange reuse) and the join's
    * build side BROADCAST a corpus-sized shingle set (fixture-small,
    * but corpus-sized at scale — exactly the accidental-broadcast risk
    * guide §3.1 warns about). Here the shingle rows shuffle ONCE into
    * per-shingle posting lists (map-side partial collect_list — guide
    * §2.3/§2.4); the frequency cap becomes a `size(ids) <= maxFreq`
    * filter on that aggregate (the anti-join disappears); ordered
    * candidate pairs are generated LOCALLY inside each surviving list
    * (≤ maxFreq²/2 rows per shingle — the same f² the join produced,
    * without re-shuffling either side); and the per-doc size rows ride
    * the SAME generator as self-pairs (x, x) — a real pair is strictly
    * doc_a < doc_b, so the diagonal is free to carry the size count
    * and one exchange + one aggregation yields both outputs. The
    * aggregated (pair, count) frame is output-sized (candidate pairs +
    * one diagonal row per doc) and is materialized once
    * (localCheckpoint) because three consumers read it (inter + both
    * size joins); callers release blocks via the Blocks.release
    * contract like every checkpointed frame. */
  private def shinglePairStats(
      shingles: DataFrame,
      maxShingleFreq: Int): (DataFrame, DataFrame) = {
    // output-sized (candidate pairs + one diagonal row per doc), and
    // read by three consumers (inter + both size joins) — materialized
    // once; callers release blocks via the Blocks.release contract
    val agg = shinglePairCounts(shingles, maxShingleFreq).localCheckpoint(true)
    val inter = agg.filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n").as("n_inter"))
    val sizes = agg.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("doc_id"), col("n").as("n_shingles"))
    (inter, sizes)
  }

  /** The lazy one-aggregation plan behind [[shinglePairStats]]
    * (package-visible so DedupSpec can pin the cap's presence in the
    * OPTIMIZED plan and ExplainAudit can dump the executed kernel —
    * the checkpoint above truncates lineage, so the kernel is only
    * plan-auditable here).
    *
    * The hot-shingle cap lives INSIDE the list collector
    * ([[graft.functions.VectorFunctions.boundedCollectList]]): the
    * aggregate stops collecting past maxFreq values and yields NULL
    * for the key, so per-key aggregation state is bounded at maxFreq
    * longs on the map AND reduce sides. The r17 shape — plain
    * `collect_list` + a `size(ids) <= cap` post-filter — materialized
    * the FULL posting list of every shingle, including the hot ones
    * it was about to drop, in a single ObjectHashAggregate buffer: one
    * stopword-like shingle shared by 10⁸ docs became a multi-GB array
    * in one reducer before the filter saw it (guide §5: per-task
    * state on exactly the skewed key the cap exists to guard). The
    * bounded collector keeps the r17 plan's ONE pass over the shingle
    * rows (the alternative — pre-dropping hot shingles with a count
    * aggregate + anti-join — re-scans the shingle set and measured
    * q57 1.25 → 1.76 s / q194 0.9 → 1.7 s at sf0.1). Same semantics:
    * a list survives iff its shingle appears in ≤ cap rows.
    *
    * maxShingleFreq <= 0 is the EXPLICIT opt-out (the q41 oracle
    * fixture): no cap anywhere, so a shingle shared by f docs
    * materializes one f-element list and flattens ~f²/2 pair structs
    * in one row — the uncapped form is only safe on corpora the
    * caller KNOWS are far from the boilerplate regime. */
  private[graft] def shinglePairCounts(
      shingles: DataFrame,
      maxShingleFreq: Int): DataFrame = {
    val lists =
      if (maxShingleFreq <= 0)
        shingles.groupBy(col("shingle"))
          .agg(collect_list(col("doc_id")).as("ids"))
      else
        shingles.groupBy(col("shingle"))
          .agg(graft.functions.VectorFunctions
            .boundedCollectList(col("doc_id"), maxShingleFreq).as("ids"))
          .filter(col("ids").isNotNull)
    // sorted ids => generated pairs are (a < b) by construction; the
    // diagonal (x, x) row per list element is the size contribution.
    // The expansion is the native PairExpand kernel — the former
    // nested transform/slice/flatten HOF ran interpreted per element
    // and copied a fresh list tail per element (O(f²) allocations);
    // same structs in the same flatten order.
    lists
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(graft.functions.VectorFunctions.pairExpand(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n"))
  }

  /** Drop shingles present in more than `maxFreq` docs — the prefix-
    * filtering skew guard (a shingle shared by f docs contributes f²
    * join rows). <= 0 disables. The result feeds MULTIPLE consumers in
    * the Jaccard pipeline (sizes + both self-join sides); callers on a
    * hot path should materialize it once (localCheckpoint + release)
    * rather than re-executing the anti-join per consumer. */
  def dropHotShingles(shingles: DataFrame, maxFreq: Int): DataFrame =
    if (maxFreq <= 0) shingles
    else {
      val hot = shingles.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
        .filter(col("f") > maxFreq).select(col("shingle"))
      shingles.join(hot, Seq("shingle"), "left_anti")
    }

  /** MinHash signatures over ranked shingle IDs:
    * sig[j] = min over shingles of (a_j * sid + b_j) mod P.
    * Input must have (doc_id, sid). Returns (doc_id, sig ARRAY<BIGINT>[NumHashes]). */
  def minhashSignatures(docShingleIds: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(j =>
      min((col("sid") * hashA(j) + hashB(j)) % MinhashPrime).as(s"h$j"))
    docShingleIds.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** LSH banding over minhash signatures: docs sharing an identical
    * band co-bucket; candidate pairs are scored by signature-estimated
    * Jaccard (matching positions / NumHashes). Returns
    * (doc_a < doc_b, est_jaccard) for pairs with est >= threshold. */
  def lshCandidatePairs(signatures: DataFrame, threshold: Double = 0.5): DataFrame =
    bandJoin(signatures, signatures)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"), estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)

  /** The MinHash LSH band join every candidate generator shares (the
    * batch self-join, the probe-vs-store join and both streaming
    * probes): each side's `sig` is cut into [[Bands]] bands of
    * [[RowsPerBand]] and the band-exploded sides equi-join on
    * (band, bandSig), so the plan hash-partitions on the band key and
    * never compares a row against a whole side. Both sides keep all
    * their columns, reachable as `x.<name>` / `y.<name>` (plus
    * `x.band`); one row per MATCHING BAND. A self-join passes one
    * frame twice — the two band explodes canonicalize alike, so the
    * band exchange is reused. */
  private[graft] def bandJoin(x: DataFrame, y: DataFrame): DataFrame = {
    def banded(sigs: DataFrame) = sigs.select(sigs.columns.map(col) :+
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)))).as(Seq("band", "bandSig")): _*)
    banded(x).as("x").join(banded(y).as("y"),
      col("x.band") === col("y.band") && col("x.bandSig") === col("y.bandSig"))
  }

  /** `est_jaccard`: the signature-estimated Jaccard of two MinHash
    * signatures (matching positions / [[NumHashes]]). */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    (size(filter(zip_with(a, b, (p, q) => p === q), m => m)).cast("double") / NumHashes)
      .as("est_jaccard")

  /** Exact edit-distance VERIFICATION of fuzzy-dedup candidate pairs —
    * the second stage of the standard candidate-generate-then-verify
    * pipeline (BigCode/The-Stack-style MinHash dedup runs exactly this
    * shape): LSH banding proposes pairs cheaply from token-set overlap;
    * this stage re-scores each candidate by CHARACTER-level normalized
    * Levenshtein similarity `1 − lev/max(|a|,|b|)` (rounded to 4
    * decimals before the threshold compare, the cross-engine float
    * discipline) and flags `verified = sim ≥ tau`. Token-Jaccard and
    * char-similarity disagree on short appended tails / reorderings,
    * which is why production dedup verifies before deleting.
    *
    * Scale shape: the candidate set is LSH-bounded (never corpus²), so
    * BOTH joins broadcast the pair side — two map-only passes over the
    * corpus scan, zero shuffles; the O(|a|·|b|) Levenshtein DP runs
    * only on candidates. Returns (doc_a, doc_b, lev, sim, verified). */
  def editDistanceVerify(
      docs: DataFrame,
      pairs: DataFrame,
      tau: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withA = docs.select(col(idCol).as("doc_a"), col(textCol).as("text_a"))
      .join(broadcast(pairs.select(col("doc_a"), col("doc_b"))), Seq("doc_a"))
    val withB = docs.select(col(idCol).as("doc_b"), col(textCol).as("text_b"))
      .join(broadcast(withA), Seq("doc_b"))
    withEditSimilarity(withB, col("text_a"), col("text_b"), tau)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("sim"), col("verified"))
  }

  /** Appends the edit-verification columns for texts `a` and `b`:
    * `lev` (character Levenshtein distance), `sim` = 1 − lev/max(|a|,
    * |b|) rounded to 4 decimals (1.0 for two empty texts) and
    * `verified` = (sim ≥ tau) as INT — the one definition the batch
    * and streaming verifiers share. */
  private[graft] def withEditSimilarity(
      df: DataFrame, a: Column, b: Column, tau: Double): DataFrame = {
    val maxLen = greatest(length(a), length(b))
    df.withColumn("lev", levenshtein(a, b))
      .withColumn("sim",
        when(maxLen === 0, lit(1.0)).otherwise(
          round(lit(1.0) - col("lev").cast("double") / maxLen.cast("double"), 4) + lit(0.0)))
      .withColumn("verified", (col("sim") >= tau).cast("int"))
  }

  /** (doc_id, sid): content-addressed shingle ids via the rolling
    * char-hash — the id space is a pure function of shingle TEXT, so
    * signatures computed over different corpora/batches/sessions are
    * directly comparable (what makes [[SignatureStore]] incremental;
    * a corpus-ranked vocabulary id could never be). */
  def contentShingleIds(shingles: DataFrame): DataFrame =
    shingles.select(col("doc_id"), TextAnalysis.termHash(col("shingle")).as("sid"))

  /** STATELESS per-row MinHash signatures: the whole shingle → sid →
    * 16-way min pipeline as one narrow expression over the token
    * array, no explode and no groupBy — the form a STREAMING probe
    * needs (aggregation state would grow with the stream; this has
    * none). Bit-identical to [[minhashSignatures]] over
    * [[contentShingleIds]] (same termHash sids, same (a·sid+b) mod P
    * mins — pinned by DedupSpec); the batch form remains the scale
    * shape for very long documents, whose exploded shingles partial-
    * aggregate instead of riding one row. Documents with fewer than
    * `k` tokens have no shingles and are dropped, matching the batch
    * groupBy (zero input rows → absent doc). */
  def rowMinhashSignatures(docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), rowMinhashSigExpr(col(textCol), k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The per-row MinHash signature as a pure column expression — NULL
    * when the doc has no shingles (fewer than k tokens). Stateless, so
    * streaming consumers can sign arriving rows while KEEPING their
    * other columns (text for the verification twin), with no explode
    * and no aggregation state. Bit-identical to the batch
    * explode/groupBy pipeline (pinned by the [[rowMinhashSignatures]]
    * parity spec, which now rides this same expression). */
  def rowMinhashSigExpr(text: Column, k: Int = 3): Column = {
    val sids = transform(
      array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(text), k)),
      s => TextAnalysis.termHash(s))
    when(size(sids) > 0, array((0 until NumHashes).map(j =>
      array_min(transform(sids, s => (s * hashA(j) + hashB(j)) % MinhashPrime))): _*))
  }

  /** LSH banding across TWO signature tables (probe vs store) — the
    * incremental twin of [[lshCandidatePairs]]: band keys equi-join
    * (band, bandSig), so the plan hash-partitions on the band key and
    * never compares a probe row against the whole store. Returns
    * (batch_id, store_id, est_jaccard ≥ threshold). Ids need not be
    * disjoint; a doc probed against itself reports est 1.0. */
  def lshCandidatesAcross(probeSigs: DataFrame, storeSigs: DataFrame,
      threshold: Double = 0.5): DataFrame =
    bandJoin(probeSigs, storeSigs)
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("store_id"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .select(col("batch_id"), col("store_id"), estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)

  /** SimHash over ranked token IDs with counts (Charikar 2002). Input:
    * (doc_id, tid, cnt). bit b set iff sum over tokens of
    * (cnt if g_b(tid) odd else -cnt) > 0, g_b(t) = (t*simA(b)+simB(b)) mod P.
    * `bits` widens the sketch (32 default — the historical operating
    * point every existing oracle replays; 64 for the wide tier, where
    * hamming ≤ 3 keeps near-dup recall that a 32-bit sketch loses on
    * longer documents whose near-miss variants flip > 1 bit — the same
    * auto-widen knob [[SrpWideThreshold]] applies to SRP sketches).
    * Bit 63's term is Long.MinValue — the sum stays in-range (two's
    * complement: bits 0..62 sum < 2^63), matching any BIGINT twin. */
  def simhash(docTokenCounts: DataFrame, bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"bits=$bits must be 32 or 64")
    docTokenCounts.groupBy(col("doc_id"))
      .agg(simhashSumsAgg(bits).as("ss"))
      .select(col("doc_id"), sumsToHash(bits).as("simhash"))
  }

  /** The `bits` bit-sums as ONE native aggregate (long[bits] buffer;
    * [[graft.functions.expressions.SimhashSumsAgg]]) — the former
    * `bits` separate sum(when(...)) declarative aggregates evaluated
    * 32–64 CASE expressions per input row through individual buffer
    * slots. Same arithmetic, exact integer sums, bit-identical
    * fingerprints (DedupSpec pins equality against the declarative
    * formulation). */
  private def simhashSumsAgg(bits: Int) =
    graft.functions.VectorFunctions.simhashSums(col("tid"), col("cnt"),
      (0 until bits).map(simA).toArray, (0 until bits).map(simB).toArray,
      MinhashPrime)

  /** Fingerprint from the sums array: bit b set iff sum_b > 0 — the
    * sign tests the per-column bitsToHash ran, over array slots. */
  private def sumsToHash(bits: Int) =
    (0 until bits).map(b =>
      when(element_at(col("ss"), b + 1) > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)

  /** BOTH sketch widths from ONE aggregation pass: the 64-bit hash
    * family's first 32 functions ARE the 32-bit family (same
    * simA/simB sequence), so the 64 bit-sums are computed once and
    * the two fingerprints assembled from the shared sums — a card
    * that evaluates the strict (32-bit) and wide (64-bit) simhash
    * tiers side by side (q198) pays one corpus aggregation, not two.
    * Emits (doc_id, simhash32, simhash64); each column is
    * bit-identical to the corresponding [[simhash]] output. */
  def simhashBoth(docTokenCounts: DataFrame): DataFrame =
    docTokenCounts.groupBy(col("doc_id"))
      .agg(simhashSumsAgg(64).as("ss"))
      .select(col("doc_id"),
        sumsToHash(32).as("simhash32"), sumsToHash(64).as("simhash64"))

  /** SimHash near-dup PAIRS by banded hamming join (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 — the
    * block-permutation trick): split the 32-bit [[simhash]] into
    * `nBands` contiguous bit blocks; any pair within hamming distance
    * `maxHamming` ≤ nBands−1 must agree EXACTLY on at least one block
    * (pigeonhole), so candidate generation is an equi-join on
    * (block index, block value) — never an all-pairs scan — and the
    * exact hamming filter `bit_count(a XOR b) ≤ r` runs only on
    * co-bucketed candidates. The result is EXACT (the banding is a
    * complete cover, not probabilistic like MinHash LSH), which is why
    * this operator can be value-oracled rather than recall-gated.
    *
    * Scale shape: explode is ×nBands on (id, 2 longs); the join keys
    * on (block, value) — at web scale widen the fingerprint/blocks
    * (64-bit hash, 16-bit blocks) so expected bucket sizes stay
    * bounded; the 32/8 default matches this corpus' [[simhash]]. A
    * pair sharing several blocks is produced once (`distinct` on the
    * candidate ids before the hamming filter). */
  def simhashNearDupPairs(
      simhashes: DataFrame,
      maxHamming: Int = 3,
      nBands: Int = 4,
      idCol: String = "doc_id",
      hashCol: String = "simhash",
      bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"bits=$bits must be 32 or 64")
    require(nBands > 0 && bits % nBands == 0, s"nBands=$nBands must divide $bits")
    require(maxHamming < nBands,
      s"maxHamming=$maxHamming needs >= maxHamming+1 blocks for the pigeonhole " +
        s"guarantee; got nBands=$nBands")
    val w = bits / nBands
    require(w < 64, "a single 64-bit block has no pigeonhole to offer; use nBands >= 2")
    val mask = (1L << w) - 1L
    val h = simhashes.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val banded = h.select(col("id"), col("sh"),
      explode(array((0 until nBands).map(i => struct(
        lit(i).as("blk"),
        shiftright(col("sh"), i * w).bitwiseAND(lit(mask)).as("bv"))): _*)).as("b"))
      .select(col("id"), col("sh"), col("b.blk").as("blk"), col("b.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sh").as("sh_a"), col("y.sh").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair list — turns
    * candidate near-dup PAIRS into dedup GROUPS (each doc labeled with
    * the min doc id reachable from it). Two phases:
    *
    * 1. **Partition-local contraction** — one `mapPartitions` pass
    *    runs a min-root union-find over each partition's edge rows
    *    (state bounded by partition size; no shuffle at all). An edge
    *    lives in exactly one partition, so every adjacency is merged
    *    SOMEWHERE locally; the only connectivity the pass can miss is
    *    a node appearing in several partitions under different local
    *    roots. Those (root, root) identifications form the contracted
    *    graph — typically orders of magnitude smaller than the input
    *    (a dense-ish partition collapses to a handful of roots).
    * 2. **Min-label propagation + pointer doubling** over the
    *    contracted graph only: per round every node takes the minimum
    *    label in its closed neighborhood, then labels shortcut to
    *    their label's label — O(log diameter) rounds of the
    *    CONTRACTED graph, whose diameter is bounded by the partition
    *    count-ish, not the raw graph's (a 10k-node ring backbone
    *    needed ~13 doubling rounds ≈ 100 scheduler-bound stages
    *    before contraction; after, 2-4).
    *
    * Throws IllegalStateException if the round cap is somehow hit
    * with labels still in motion — wrong group ids must never be
    * returned silently. Returns (node, component), component = min
    * reachable id. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    // Phase 1: per-partition union-find. No pre-shuffle — whatever
    // partitioning the candidate join left behind is good enough for
    // contraction (correctness never depends on placement).
    val nodeRoot = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, java.lang.Long]()
        def find(x: Long): Long = {
          var r = x
          while ({ val p = parent.get(r); p != null && p.longValue() != r })
            r = parent.get(r).longValue()
          var c = x
          while ({ val p = parent.get(c); p != null && p.longValue() != c }) {
            val n = parent.get(c).longValue(); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val out = Vector.newBuilder[(Long, Long)]
        parent.keySet().forEach(n => out += ((n.longValue(), find(n.longValue()))))
        out.result().iterator
      }.toDF("node", "root")
      .localCheckpoint(true)
    // Contracted graph: a node carrying k > 1 distinct local roots
    // identifies them all with the smallest.
    val contracted = nodeRoot.groupBy(col("node"))
      .agg(collect_set(col("root")).as("rs"))
      .filter(size(col("rs")) > 1)
      .select(array_min(col("rs")).as("ra"), explode(col("rs")).as("rb"))
      .filter(col("ra") =!= col("rb"))
    val rootCc = minLabelComponents(contracted, "ra", "rb", maxIter)
    val labels = nodeRoot
      .join(rootCc.withColumnRenamed("node", "root"), Seq("root"), "left")
      .select(col("node"),
        coalesce(col("component"), col("root")).as("component"))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
      .localCheckpoint(true)
    graft.plans.Blocks.release(nodeRoot)
    graft.plans.Blocks.release(rootCc)
    labels
  }

  /** The phase-2 solver: min-label propagation + pointer doubling over
    * an (aCol, bCol) pair list — the pre-contraction body of
    * [[connectedComponents]], still exact on any input, just
    * round-bound by the INPUT graph's diameter (callers pass the
    * contracted graph). */
  private[graft] def minLabelComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .unionByName(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("component"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min over closed neighborhood; checkpointed because the shortcut
      // step self-joins it (both sides would otherwise re-plan and
      // re-execute the propagate subtree — the q52 lesson)
      val propagated = edges.join(labels, edges("a") === labels("node"))
        .select(col("b").as("node"), col("component"))
        .unionByName(labels)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      // pointer doubling: component ids are themselves node ids, so
      // looking a label up in the label table jumps two hops at once
      val next = propagated
        .join(
          propagated.select(col("node").as("component"), col("component").as("cc")),
          Seq("component"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("cc"), col("component"))).as("component"))
        .localCheckpoint(true)
      graft.plans.Blocks.release(propagated)
      val changed = next.join(labels.withColumnRenamed("component", "old"), "node")
        .filter(col("component") =!= col("old")).limit(1).count()
      graft.plans.Blocks.release(labels) // checkpoint blocks; unpersist is a no-op
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(pointer doubling covers diameter 2^rounds — this indicates a bug, not a deep graph)")
    graft.plans.Blocks.release(edges)
    // the returned labels DataFrame is an eager localCheckpoint —
    // callers that materialize a derived result should release it via
    // graft.plans.Blocks (see DocQueries.dedupGroups) so repeated
    // calls don't accumulate label blocks
    labels
  }

  /** Corpus size above which [[embeddingNearDupPairs]] routes to the
    * LSH-bucketed tier instead of the exact O(n²·d) self-join. 10k
    * rows ≈ 10^8 fused dot products — the last size where exact is a
    * reasonable interactive default; past it the quadratic form is a
    * cluster-killer someone reaches by calling the unqualified API
    * name on a bigger table. Pass `exactThreshold = Long.MaxValue` to
    * force the exact tier explicitly. */
  val EmbeddingExactThreshold = 10000L

  /** Embedding-cosine near-duplicate pairs: top-N most similar pairs.
    *
    * ≤ `exactThreshold` rows: EXACT self-join — norms computed once
    * per row before the join (O(n·d) instead of O(n²·d)), the pair
    * loop one fused dot kernel. Above it: the SRP banded-hamming tier
    * — each vector gets a 32-bit signed-random-projection cosine
    * sketch ([[graft.operators.Similarity.srpSignature]], a pure
    * per-row codegen expression), candidates come from the EXACT
    * pigeonhole block cover ([[simhashNearDupPairs]]: any pair within
    * hamming 3 shares one of 4 identical 8-bit blocks — an equi-join,
    * never all-pairs), and survivors are re-scored by true cosine.
    * APPROXIMATE only through the sketch (a near-dup at cos ≈ 0.99
    * has expected hamming ≈ 32·acos(0.99)/π ≈ 1.4 ≪ 3; a pair the
    * sketch separates by > 3 bits is missed) but linear-ish in n —
    * the only shape that survives 100 TB, where the fingerprint and
    * blocks widen (64-bit/16-bit) to keep bucket occupancy bounded.
    * Chosen over the euclidean-LSH kNN tier deliberately: the sf1
    * scale probe measured that tier's mean-distance/2 buckets
    * quasi-degenerate at d = 64 (57.7 s at 20k rows, ratio 253×);
    * this form reads 32-bit buckets with ~n/256 occupancy per block.
    * The tier switch is the same exactThreshold idiom as the index
    * build's wiring. */
  /** Above this corpus size the SRP sketch widens from 32 bits /
    * 8-bit blocks (bucket occupancy ~n/256) to 64 bits / 16-bit
    * blocks (~n/65536) — the knob the simhash family's docstrings
    * prescribe for web scale, applied automatically so the default
    * path's candidate join stays bounded as n grows. */
  val SrpWideThreshold = 200000L

  /** Hard ceiling on the EXACT tier's crossJoin input, even when a
    * caller forces exact with a raised `exactThreshold`: above it the
    * quadratic form is a cluster-killer at any setting, so the call
    * refuses with a named error instead of launching ~n²/2 distance
    * kernels (the q56 lesson made API-level, the [[evalPairSets]]
    * `maxTruthPairs` convention). 50k rows ≈ 1.25×10⁹ fused dots —
    * minutes of compute, the last defensible forced-exact size; an
    * exact truth over a bigger corpus is a SAMPLED artifact by
    * contract ([[docSample]] both endpoints). */
  val MaxExactRows: Long = 50000L

  def embeddingNearDupPairs(embeddings: DataFrame, topN: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      exactThreshold: Long = EmbeddingExactThreshold,
      srpWideThreshold: Long = SrpWideThreshold,
      maxExactRows: Long = MaxExactRows): DataFrame = {
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    // Tier probe: a LocalLimit-bounded count first — it stops scanning
    // once the smallest relevant bound + 1 rows are seen, so small
    // corpora don't pay a full-corpus count action just to learn
    // they're small. Only a corpus that actually exceeds it pays the
    // full count (the SRP tier needs true n for its wide-sketch knob).
    val probeCap = Seq(exactThreshold, maxExactRows, Int.MaxValue.toLong - 1L).min
    val probed = embeddings.limit((probeCap + 1L).toInt).count()
    // an UNCONDITIONALLY-forced exact call (threshold = Long.MaxValue,
    // the "give me the O(n²) truth" spelling) over a corpus past the
    // hard cap refuses straight off the bounded probe — no full count
    // before the named error
    require(probed <= maxExactRows || exactThreshold != Long.MaxValue,
      s"embeddingNearDupPairs: forced-exact over > $maxExactRows rows " +
        "(maxExactRows) — an exact all-pairs truth at this size is a " +
        "cluster-killer by contract; sample the corpus first (docSample, " +
        "both pair endpoints — the q56/q198 estimator) or raise " +
        "maxExactRows deliberately")
    val n = if (probed <= probeCap) probed else embeddings.count()
    // the tier rides in the OUTPUT too (`tier` column), not just the
    // log: exact vs sketch-approximate results must stay
    // distinguishable downstream — a pipeline that persists the pairs
    // loses the log line but keeps the column
    val tierName =
      if (n <= exactThreshold) "exact-crossjoin"
      else if (n > srpWideThreshold) "srp-banded-64bit" else "srp-banded-32bit"
    log.info(s"embeddingNearDupPairs: n=$n tier=$tierName")
    if (n <= exactThreshold) {
      // the hard cap holds even for a moderately-raised threshold: the
      // exact crossJoin input is bounded by contract, never by caller
      // enthusiasm (r16 verdict item 1)
      require(n <= maxExactRows,
        s"embeddingNearDupPairs: exact tier over $n rows > maxExactRows=" +
          s"$maxExactRows — sample the corpus first (docSample, both pair " +
          "endpoints) or raise maxExactRows deliberately")
      val withNorm = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
        .repartition(par)
      val a = withNorm.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
      val b = withNorm.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          // zero-norm pairs get similarity 0 (ANSI-safe TRY division —
          // single-sourced in VectorFunctions)
          (round(VectorFunctions.cosineSimFromNorms(
            VectorFunctions.dot(col("vec_a"), col("vec_b")),
            col("nrm_a"), col("nrm_b")), 4)
            + lit(0.0)).as("cos_sim"),
          lit(tierName).as("tier"))
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
        .limit(topN)
    } else {
      // sig/norm are cheap per-row map columns: recomputing them on the
      // rescore legs costs two extra scans of (id, vec) but keeps the
      // operator checkpoint-free (composable, plan-inspectable); the
      // banded self-join reuses its own exchange
      val sigBits = if (n > srpWideThreshold) 64 else 32
      val src = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"),
          sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"),
          graft.operators.Similarity.srpSignature(col(vecCol), sigBits).as("sig"))
        .repartition(par)
      val cand = simhashNearDupPairs(src.select(col("id"), col("sig")),
        maxHamming = 3, nBands = 4, idCol = "id", hashCol = "sig",
        bits = sigBits)
      cand
        .join(src.select(col("id").as("id_a"), col("vec").as("vec_a"),
          col("nrm").as("nrm_a")), "id_a")
        .join(src.select(col("id").as("id_b"), col("vec").as("vec_b"),
          col("nrm").as("nrm_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (round(VectorFunctions.cosineSimFromNorms(
            VectorFunctions.dot(col("vec_a"), col("vec_b")),
            col("nrm_a"), col("nrm_b")), 4)
            + lit(0.0)).as("cos_sim"),
          lit(tierName).as("tier"))
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
        .limit(topN)
    }
  }

  /** CCNet/RefinedWeb-style boilerplate-line removal: a line occurring
    * in ≥ `minDocFreq` DISTINCT documents is boilerplate (nav bars,
    * cookie banners, license headers) and is dropped from EVERY
    * document — unlike span dedup ([[removeDupSpans]]) there is no
    * canonical survivor, because boilerplate is noise, not content.
    *
    * Input is pre-segmented `(id, line_no, line)` — segmentation is the
    * caller's (newline split for real corpora; any deterministic
    * splitter works), so the operator is segmentation-agnostic.
    *
    * Scale design: the frequency pass groups by `md5(line)` — a 32-byte
    * shuffle key with partial aggregation (`approx` per-line payload
    * never crosses the wire), and `count(DISTINCT id)` is a two-level
    * partial agg. The surviving boilerplate set (freq ≥ K) is TINY by
    * construction — it's the head of the line-frequency distribution —
    * so tagging lines is a broadcast hash join, not a shuffle. One wide
    * shuffle total (the per-doc reassembly groupBy), which a 100 TB
    * corpus pays for any per-doc aggregate.
    *
    * Output: one row per document — `n_lines`, `n_removed`, and the
    * cleaned text (surviving lines re-joined in original order). */
  def removeBoilerplateLines(
      lines: DataFrame,
      minDocFreq: Int,
      idCol: String = "doc_id",
      lineNoCol: String = "line_no",
      lineCol: String = "line",
      sep: String = " "): DataFrame = {
    val keyed = lines.select(
      col(idCol).as("id"), col(lineNoCol).as("line_no"),
      col(lineCol).as("line"), md5(col(lineCol)).as("lh"))
    val boiler = keyed.groupBy(col("lh"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("lh"), lit(true).as("is_boiler"))
    keyed.join(broadcast(boiler), Seq("lh"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_removed"),
        array_sort(collect_list(when(not(coalesce(col("is_boiler"), lit(false))),
          struct(col("line_no"), col("line"))))).as("kept"))
      .select(col("id"), col("n_lines"), col("n_removed"),
        concat_ws(sep, col("kept.line")).as("cleaned"))
  }

  /** Global keep-first line deduplication (C4-style): every line that
    * appears anywhere earlier in the corpus — in ANY document — is
    * removed; only the globally first occurrence (lexicographically
    * smallest (id, line_no)) survives. This is the corpus-wide twin of
    * [[removeBoilerplateLines]]: that operator drops lines crossing a
    * document-frequency threshold from EVERY doc (no survivor); this
    * one keeps exactly one canonical copy of each distinct line, the
    * C4 / Lee et al. 2022 "keep one, drop the rest" policy for
    * repeated sentences.
    *
    * Scale shape: lines shuffle once on md5(line) (a 32-byte key — the
    * line strings themselves never key a shuffle), the winner per hash
    * is a lexicographic MIN over (id, line_no) structs — a partial
    * aggregate, so the shuffle carries one candidate per partition per
    * hash — and the winner frame joins back on the SAME md5 key (the
    * winner frame is one row per distinct line: never broadcastable,
    * but the equi-join co-partitions with the groupBy's exchange).
    * Per-doc reassembly is the one remaining shuffle, keyed by doc id.
    * No windows: a `row_number() OVER (PARTITION BY line)` form would
    * sort every hash group; the min-struct needs only a single pass.
    *
    * Input/output contract matches [[removeBoilerplateLines]]:
    * `(id, line_no, line)` in, `(id, n_lines, n_removed, cleaned)`
    * out, segmentation left to the caller. */
  def dedupLinesKeepFirst(
      lines: DataFrame,
      idCol: String = "doc_id",
      lineNoCol: String = "line_no",
      lineCol: String = "line",
      sep: String = " "): DataFrame = {
    val keyed = lines.select(
      col(idCol).as("id"), col(lineNoCol).as("line_no"),
      col(lineCol).as("line"), md5(col(lineCol)).as("lh"))
    val winners = keyed.groupBy(col("lh"))
      .agg(min(struct(col("id").as("wid"), col("line_no").as("wln"))).as("w"))
    keyed.join(winners, Seq("lh"))
      .withColumn("keep",
        col("id") === col("w.wid") && col("line_no") === col("w.wln"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(not(col("keep")), 1L).otherwise(0L)).as("n_removed"),
        array_sort(collect_list(when(col("keep"),
          struct(col("line_no"), col("line"))))).as("kept"))
      .select(col("id"), col("n_lines"), col("n_removed"),
        concat_ws(sep, col("kept.line")).as("cleaned"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * embeddings, then prune within-cluster cosine near-duplicates,
    * keeping the smallest id of each near-dup pair. The reference's
    * index answers "what is near x" (src/LMDiskANN.jl:455-481); this is
    * the corpus-curation complement — "drop everything that is near
    * something we already kept".
    *
    * Clustering is deterministic seed-medoid assignment, not Lloyd's:
    * the `k` seeds are the rows with the smallest (id-hash bucket, id)
    * — i.e. a uniform pseudo-random draw reproducible in any SQL
    * engine — and every vector joins the seed of maximum cosine
    * similarity (ties → smallest seed id). That keeps the operator a
    * pure function of the data, so the oracle can replay it exactly;
    * swapping in Lloyd-refined centroids ([[graft.operators.Similarity.ivfFit]])
    * changes only the seeds frame.
    *
    * Scale shape: seed selection is a global top-k (TakeOrdered, k
    * rows); assignment is a broadcast nested-loop against the k seeds
    * followed by a map-side-collapsing max_by groupBy (the k candidate
    * rows per id never leave their partition, so the shuffle carries
    * one row per vector); the pair scan equi-joins on cluster id — the
    * SemDeDup point: O(Σ|cluster|²) instead of O(n²). At corpus scale
    * `k` must grow with n (k ≈ n / targetClusterSize) so per-cluster
    * pair blocks stay bounded; the cluster id is then a well-spread
    * shuffle key. The threshold compares ROUND(sim, 6) so the
    * keep/drop decision never hinges on a final-ulp divergence.
    *
    * Output: one row per vector — (id, cluster, n_dup_smaller, keep)
    * where keep=false iff some same-cluster vector with a smaller id
    * has rounded cosine similarity ≥ `simThreshold`. */
  def semanticDedup(
      embeddings: DataFrame,
      k: Int,
      simThreshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val e = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("vec"), col("vec"))))
    val seeds = e
      .withColumn("b", Sampling.bucket(col("id")))
      .orderBy(col("b"), col("id")).limit(k)
      .select(col("id").as("seed_id"), col("vec").as("svec"), col("nrm").as("snrm"))
    // every per-id group holds identical (vec, nrm) k times, so first()
    // is deterministic here and saves the re-join against e
    val assigned = e.crossJoin(broadcast(seeds))
      .select(col("id"), col("vec"), col("nrm"), col("seed_id"),
        VectorFunctions.cosineSimFromNorms(
          VectorFunctions.dot(col("vec"), col("svec")), col("nrm"), col("snrm")).as("sim"))
      .groupBy(col("id"))
      .agg(
        max_by(col("seed_id"), struct(col("sim"), -col("seed_id"))).as("cluster"),
        first(col("vec")).as("vec"), first(col("nrm")).as("nrm"))
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    val dupCounts = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.cosineSimFromNorms(
        VectorFunctions.dot(col("vec_a"), col("vec_b")),
        col("nrm_a"), col("nrm_b")), 6) >= simThreshold)
      .groupBy(col("id_b").as("id"))
      .agg(count(lit(1)).as("n_dup_smaller"))
    assigned.select(col("id"), col("cluster"))
      .join(dupCounts, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("n_dup_smaller"), lit(0L)).as("n_dup_smaller"),
        (coalesce(col("n_dup_smaller"), lit(0L)) === 0L).as("keep"))
  }

  /** Shared-chunk candidate pairs: documents sharing at least one
    * k-token stride-1 chunk id ([[chunkIdArr]]) — the containment-
    * style candidate tier (catches copy-paste spans whole-doc
    * similarity under-reports; detection stats twin: [[chunkDupStats]],
    * q69). `maxChunkFreq` is the q41/q57 prefix-filter guard: a chunk
    * shared by f docs contributes f² join rows, so hot boilerplate
    * chunks are dropped from candidate generation (capped by default —
    * the safe tier is the one the bare API reaches). */
  def chunkPairs(
      docs: DataFrame,
      k: Int = 8,
      maxChunkFreq: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = col("__graft_tids")
    val cidArr = chunkIdArr(h, col("__graft_tids2"), k)
    val chunks = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__graft_toks"))
      .select(col("doc_id"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash(t)).as("__graft_tids"),
        transform(col("__graft_toks"), t => TextAnalysis.termHash2(t)).as("__graft_tids2"))
      .filter(size(h) >= k)
      .select(col("doc_id"), explode(array_distinct(cidArr)).as("cid"))
    val kept =
      if (maxChunkFreq <= 0) chunks
      else {
        val hot = chunks.groupBy(col("cid")).agg(count(lit(1)).as("f"))
          .filter(col("f") > maxChunkFreq).select(col("cid"))
        chunks.join(hot, Seq("cid"), "left_anti")
      }
    kept.as("x").join(kept.as("y"), Seq("cid"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Default per-tier recall gate for [[evalPairSets]]: 0.70 on the
    * per-10k scale — the repo-wide recall bar (Verify's absolute
    * gate), applied per tier unless the caller adjudicates a tier
    * differently. */
  val DefaultRecallGatePer10k: Long = 7000L

  /** Upper bound on the truth pair set [[evalPairSets]] will broadcast.
    * Truth sets are SAMPLED artifacts by contract (docSample caps the
    * corpus side), so every legitimate card's truth is far below this;
    * a caller handing an uncapped corpus-sized truth would otherwise
    * pay the forced broadcast with a driver OOM instead of a named
    * error (r15 advisor). 5M pairs of two longs ≈ 80 MB broadcast —
    * comfortably inside default driver/executor memory with margin. */
  val MaxBroadcastTruthPairs: Long = 5000000L

  /** Candidate-tier evaluation for dedup pipelines: precision/recall
    * of one or more candidate-pair generators against an exact-truth
    * pair set — the "which tier do I turn on, and at what cost in
    * misses" card a pipeline reads before scaling a dedup pass (the
    * pair-set sibling of Retrieval.evalRankings). Per tier: truth /
    * predicted / intersection counts, exact HALF_UP per-10k
    * precision + recall (a tier with no predictions reports NULL
    * precision rather than an engine-dependent 0/0), and the tier's
    * DELIBERATE recall gate (`recall_per_10k_gate`) — per-tier via
    * `gatesPer10k`, else [[DefaultRecallGatePer10k]]. Carrying the
    * gate in the card is what lets a generic artifact audit
    * (Verify's sibling-gate rule) enforce per-tier bars: a
    * high-recall near-dup tier gates at 0.70 while a
    * precision-first containment-style tier can carry a documented
    * lower bar, and a degraded tier fails ITS OWN gate instead of
    * hiding behind the weakest tier's.
    *
    * Inputs are (doc_a < doc_b) pair frames — the contract every
    * candidate generator here emits.
    *
    * ONE fused plan, not one full-outer join per tier (the r14 card
    * was overhead-bound: N tiers × (full-outer + agg) ≈ 2N+1 tiny
    * stages while the DuckDB twin ran the same card in ~1 s): the
    * tier pair sets union into a single (tier, doc_a, doc_b) frame
    * tagged by a literal column, ONE left join against the
    * materialized truth scores tp/n_pred per tier in a single
    * tier-keyed aggregate, and n_truth — identical for every tier by
    * construction — is one scalar count broadcast-crossed in. A tier
    * with zero predicted pairs still gets its row (n_pred 0, NULL
    * precision): the tier list is a literal one-row-per-tier frame
    * the aggregates left-join onto.
    * NOTE: `truth` is referenced twice — once by an EAGER count at
    * construction (n_truth is identical for every tier; a literal
    * beats a broadcast-join subquery per card) and once by the join —
    * so an expensive truth subplan (exact-Jaccard over a corpus)
    * executes twice unless the caller materializes it first (the
    * q198 pattern: localCheckpoint the pair set, release after the
    * card). */
  def evalPairSets(
      tiers: Seq[(String, DataFrame)],
      truth: DataFrame,
      gatesPer10k: Map[String, Long] = Map.empty,
      maxTruthPairs: Long = MaxBroadcastTruthPairs): DataFrame = {
    require(tiers.nonEmpty, "need >= 1 candidate tier")
    val sess = truth.sparkSession
    val t = truth.select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("t", lit(1))
    val nTruth = t.count()
    // misuse guard (the broadcast is unconditional below): an uncapped
    // corpus-sized truth must fail with a named error at card
    // construction, not OOM the driver mid-broadcast
    require(nTruth <= maxTruthPairs,
      s"evalPairSets: truth has $nTruth distinct pairs > maxTruthPairs=" +
        s"$maxTruthPairs — eval truth is a SAMPLED artifact by contract " +
        "(restrict both pair endpoints with docSample, or raise " +
        "maxTruthPairs if the driver can hold the broadcast)")
    // one NULL-keyed sentinel row per tier rides in the union: a tier
    // with ZERO predicted pairs would vanish from the aggregate, and
    // the sentinel keeps its row alive through the SAME groupBy (null
    // keys never match the truth join; count(doc_a) skips them) — no
    // completion join, no second aggregate
    val aT = tiers.head._2.schema("doc_a").dataType
    val bT = tiers.head._2.schema("doc_b").dataType
    val preds = tiers.map { case (name, pred) =>
      pred.select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("tier", lit(name))
        .unionByName(sess.range(1).select(
          lit(null).cast(aT).as("doc_a"), lit(null).cast(bT).as("doc_b"),
          lit(name).as("tier")))
    }.reduce(_ unionByName _)
    // truth is BROADCAST: an eval truth set is a sampled artifact by
    // contract (docSample — an uncapped full-corpus truth doesn't
    // exist at scale), so it's the small side of every tier join and
    // the per-tier scoring stays map-side (no shuffle of the
    // candidate union, which IS corpus-sized for a loose tier)
    val perTier = preds.join(broadcast(t), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("tier"))
      .agg(count(col("doc_a")).as("n_pred"),
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("tp"))
    val gateCol = tiers.map { case (name, _) =>
      (name, gatesPer10k.getOrElse(name, DefaultRecallGatePer10k))
    }.foldLeft(lit(DefaultRecallGatePer10k)) { case (acc, (name, g)) =>
      when(col("tier") === name, lit(g)).otherwise(acc)
    }
    perTier
      .select(col("tier"), lit(nTruth).as("n_truth"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (lit(nTruth) - col("tp")).as("fn"),
        expr("CASE WHEN n_pred > 0 THEN (tp * 20000 + n_pred) DIV (n_pred * 2) END")
          .as("precision_per_10k"),
        expr(s"CASE WHEN $nTruth > 0 THEN (tp * 20000 + $nTruth) DIV ($nTruth * 2) END")
          .as("recall_per_10k"),
        gateCol.as("recall_per_10k_gate"))
  }

  /** Deterministic seeded document sample — the gated-sample tier for
    * exact-truth evaluation legs (the q56 pattern made API-level): at
    * 100 TB an uncapped exact-Jaccard truth pass is impossible, so
    * the eval runs on a seeded doc sample (BOTH pair endpoints
    * sampled — pair-level tier quality on the sample is an unbiased
    * estimate of corpus pair quality, truth and tiers restricted
    * identically). The predicate is pure per-row hash arithmetic
    * (md5-prefix mod 10⁴ < fracPer10k), so any SQL engine replays the
    * same sample — no RAND(), no engine-dependent sampling operator —
    * and it pushes down to the scan like any filter. `fracPer10k >=
    * 10000` returns the frame unchanged (fixture/full mode). */
  def docSample(
      docs: DataFrame,
      fracPer10k: Long,
      seed: String,
      idCol: String = "doc_id"): DataFrame =
    if (fracPer10k >= 10000L) docs
    else docs.filter(
      conv(substring(md5(concat_ws(":", lit(seed), col(idCol))), 1, 15), 16, 10)
        .cast("long") % 10000L < fracPer10k)

  /** Directional shingle CONTAINMENT pairs (Broder 1997's asymmetric
    * companion to resemblance/Jaccard): C(a→b) = |Sa ∩ Sb| / |Sa| over
    * distinct k-token shingle sets. Containment is the measure for
    * doc-INSIDE-doc detection — a short document quoted whole inside a
    * long one scores near 1.0 here while its Jaccard ([[
    * ngramJaccardPairs]], q41) stays near |Sa|/|Sb| ≈ 0 — i.e. the
    * quote/mirror/boilerplate-envelope cases whole-doc similarity
    * under-reports. Same capped inverted-index join as the Jaccard
    * pipeline (hot shingles dropped — the f² pair-explosion guard),
    * and the scores are exact HALF_UP per-10k integers (the q70
    * integer-DIV template), so any SQL engine replays them.
    * Emits (doc_a < doc_b, n_inter, sa, sb, containment both ways);
    * a pair ships when EITHER direction clears
    * `minContainmentPer10k`. */
  def containmentPairs(
      docs: DataFrame,
      k: Int = 3,
      minContainmentPer10k: Long = 8000L,
      maxShingleFreq: Int = DefaultMaxShingleFreq,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    containmentPairsFromShingles(
      docShingles(docs.repartition(par), k, idCol, textCol),
      minContainmentPer10k, maxShingleFreq)
  }

  /** [[containmentPairs]] over a precomputed (doc_id, shingle) set —
    * the [[ngramJaccardPairsFromShingles]] twin, sharing the same
    * one-aggregation posting-list kernel ([[shinglePairStats]]) so a
    * pipeline's single materialized tokenization feeds both scores. */
  def containmentPairsFromShingles(
      shingles: DataFrame,
      minContainmentPer10k: Long = 8000L,
      maxShingleFreq: Int = DefaultMaxShingleFreq): DataFrame = {
    val (inter, sizes) = shinglePairStats(shingles, maxShingleFreq)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("sa"), col("sb"),
        expr("(n_inter * 20000 + sa) DIV (sa * 2)").as("containment_ab_per_10k"),
        expr("(n_inter * 20000 + sb) DIV (sb * 2)").as("containment_ba_per_10k"))
      .filter(greatest(col("containment_ab_per_10k"), col("containment_ba_per_10k"))
        >= minContainmentPer10k)
  }

  /** Content-defined chunking (the LBFS/FastCDC family —
    * Muthitacharoen et al. SOSP'01, Xia et al. ATC'16): split a text
    * at positions where a rolling window hash over the CHARACTER
    * stream hits 0 mod `divisor`, so chunk boundaries follow content
    * rather than fixed offsets — an insertion shifts at most the one
    * chunk it lands in, which is what makes chunk-level dedup robust
    * where fixed-stride chunking (q69's token windows) is not.
    *
    * Determinism contract: the window hash is the ~60-bit dual-fold
    * window id ([[chunkIdArr]], native kernel) over per-char
    * codepoints — the bounded-window stand-in for Gear's shift-out
    * rolling hash, O(n·w) per row instead of O(n), traded for
    * bit-exact SQL replayability (the ascii↔unicode twin is already
    * pinned by TermHashKernelSpec incl. multi-byte alphabets). A cut
    * lands AFTER the window (position s+w); a cut at exactly len is
    * suppressed (no empty tail chunk); docs shorter than `w` chars
    * are one whole-text chunk. No min/max chunk clamps (real CDC
    * adds them for variance control; irrelevant to the dedup audit).
    *
    * BMP-only contract: the per-char stream comes from `split(t, '')`
    * which cuts at UTF-16 code units, while `length()` and the DuckDB
    * twin's `string_split`/`unicode()` count codepoints — a
    * supplementary-plane char (emoji, rare CJK) becomes two lone
    * surrogates here, so cut POSITIONS and window hashes diverge from
    * the oracle on non-BMP text (reconstruction still holds either
    * way: starts/ends index the original string, and size(cps) ≥ len
    * keeps every lookup in bounds). The fixtures and the oracle gate
    * are BMP; a non-BMP corpus needs a codepoint-aware split before
    * the hashes are cross-engine comparable.
    *
    * Emits one row per chunk: (group, doc_id, pos, chunk) — `pos` is
    * the chunk index within the doc, so concat in pos order MUST
    * reconstruct the text exactly (DedupSpec pins it). Entirely
    * narrow: per-row expressions only, no shuffle. */
  def cdcChunks(
      docs: DataFrame,
      w: Int = 8,
      divisor: Int = 32,
      groupCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(w >= 1, s"window w must be >= 1, got $w")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val cps = transform(split(col("t"), ""), c => ascii(c).cast("long"))
    docs
      .select(col(groupCol), col(idCol).as("doc_id"), col(textCol).as("t"))
      .withColumn("len", length(col("t")).cast("long"))
      .withColumn("cps", cps)
      // materialize the window-id array as its OWN column before the
      // cuts lambda (the winnowDupStats binding discipline): a
      // higher-order-function lambda re-evaluates every expression it
      // references per element, so an inline chunkIdArr here would run
      // the O(n·w) kernel once per window position — O(n²·w) per doc.
      // Bound as a column it runs once; the lambda only indexes it.
      .withColumn("cids",
        when(col("len") < w, array().cast("array<bigint>"))
          .otherwise(chunkIdArr(col("cps"), col("cps"), w)))
      .withColumn("cuts",
        when(col("len") < w, array().cast("array<bigint>"))
          .otherwise(filter(
            transform(sequence(lit(0L), col("len") - w), s =>
              when(element_at(col("cids"), (s + 1).cast("int")) % divisor === 0 &&
                  s + w < col("len"), s + w).otherwise(lit(-1L))),
            x => x >= 0L)))
      .withColumn("starts", concat(array(lit(0L)), col("cuts")))
      .withColumn("ends", concat(col("cuts"), array(col("len"))))
      .select(col(groupCol), col("doc_id"),
        posexplode(zip_with(col("starts"), col("ends"), (a, b) =>
          col("t").substr((a + 1).cast("int"), (b - a).cast("int"))))
          .as(Seq("pos", "chunk")))
  }

  /** CDC storage-dedup audit: per group (corpus source), total vs
    * DISTINCT vs NOVEL chunk volume over [[cdcChunks]] — the
    * storage-style "how much of this source is redundant bytes, and
    * how much does it contribute that no earlier doc already carried"
    * league table (novel = chunks whose globally-first occurrence by
    * doc_id lies in this source). `dedup_ratio_per_10k` is the exact
    * HALF_UP fixed-point distinct/total ratio (the q70 integer-DIV
    * template).
    *
    * Scale shape: chunk rows shuffle once on the ~60-bit md5-prefix
    * chunk id (8-byte keys, partial-agged map-side — the q69 shape);
    * the three per-group cards are dashboard-sized and broadcast-join
    * back together. */
  def cdcChunkStats(
      docs: DataFrame,
      w: Int = 8,
      divisor: Int = 32,
      groupCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val rows = cdcChunks(docs, w, divisor, groupCol, idCol, textCol)
      .select(col(groupCol), col("doc_id"),
        conv(substring(md5(col("chunk")), 1, 15), 16, 10).cast("long").as("cid"),
        length(col("chunk")).cast("long").as("clen"))
    val per = rows.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("total_chars"))
    val dist = rows.groupBy(col(groupCol), col("cid"))
      .agg(min(col("clen")).as("clen"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_distinct_chunks"), sum(col("clen")).as("distinct_chars"))
    val novel = rows.groupBy(col("cid"))
      .agg(min_by(col(groupCol), col("doc_id")).as("first_src"),
        min(col("clen")).as("clen"))
      .groupBy(col("first_src"))
      .agg(count(lit(1)).as("novel_chunks"), sum(col("clen")).as("novel_chars"))
      .withColumnRenamed("first_src", groupCol)
    per.join(dist, Seq(groupCol))
      .join(novel, Seq(groupCol), "left")
      .select(col(groupCol), col("n_chunks"), col("total_chars"),
        col("n_distinct_chunks"), col("distinct_chars"),
        coalesce(col("novel_chunks"), lit(0L)).as("novel_chunks"),
        coalesce(col("novel_chars"), lit(0L)).as("novel_chars"),
        expr("(distinct_chars * 20000 + total_chars) DIV (total_chars * 2)")
          .as("dedup_ratio_per_10k"))
  }
}
