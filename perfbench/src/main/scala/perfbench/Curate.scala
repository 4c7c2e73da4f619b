package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Retrieval, TextAnalysis}

/** The LLM-data curation pipeline over a synthetic corpus: text
  * statistics, exact and near-duplicate detection, n-gram Jaccard
  * pairs and a persisted BM25 index, then BM25 queries served from
  * that index in batches. Each query is the rarest words of one
  * document, which the query's top 10 must contain. */
final class Curate(spark: SparkSession, sc: SparkCounters) extends Workload {
  import Curate._
  val calibrated = false

  final case class In(corpus: Inputs.Corpus, docs: DataFrame)

  def setup(ctx: Ctx): In = {
    val c = Inputs.corpus(ctx.seed, nUnique = Unique, vocab = Vocab, minLen = MinLen, maxLen = MaxLen,
      exactCopies = ExactCopies, nFamilies = Families, familySize = FamilySize, editFrac = EditFrac)
    In(c, spark.createDataFrame(
      spark.sparkContext.parallelize(c.texts.indices.map(i => Row(i.toLong, c.texts(i))), 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))))
  }

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  def measure(ctx: Ctx, in: In): Measured = {
    val checks = ctx.checks
    val docs = in.docs
    val bm25 = new java.io.File(ctx.tmp, "curate-bm25").getPath
    val truthTokens = in.corpus.texts.map(_.split(' ').length.toLong).sum
    val (build, (shingles, cand, verified, comps)) = Phase.of {
      val stats = TextAnalysis.withTextStats(docs).agg(sum(col("n_tokens"))).head().getLong(0)
      checks.record("curate.text_stats_token_count", stats == truthTokens)
      val exact = Dedup.exactDuplicates(docs).collect()
        .map(_.getAs[scala.collection.Seq[Long]]("member_ids").toSet).toSet
      checks.record("curate.exact_groups_recovered", exact == in.corpus.exactGroups.toSet)
      val shingles = sc.span("Dedup.docShingles")(persisted(Dedup.docShingles(docs, ShingleK)))
      val cand = sc.span("Dedup.lshCandidatePairs")(persisted(Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(Dedup.contentShingleIds(shingles)), LshThreshold)))
      val verified = sc.span("Dedup.editDistanceVerify")(persisted(
        Dedup.editDistanceVerify(docs, cand, Tau).filter(col("verified") === 1)
          .select(col("doc_a"), col("doc_b"))))
      val comps = sc.span("Dedup.connectedComponents")(Dedup.connectedComponents(verified).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jac = sc.span("Dedup.ngramJaccardPairsFromShingles")(
        Dedup.ngramJaccardPairsFromShingles(shingles).filter(col("jaccard") === 1.0).collect())
        .map(r => Set(r.getLong(0), r.getLong(1))).toSet
      checks.record("curate.jaccard_finds_exact_pairs", in.corpus.exactGroups.forall(jac.contains))
      sc.span("Retrieval.buildIndex")(Retrieval.buildIndex(docs, bm25))
      (shingles, cand, verified, comps)
    }
    val familyDocs = in.corpus.families.flatten
    val sids = Dedup.contentShingleIds(shingles).filter(col("doc_id").isin(familyDocs: _*)).collect()
      .groupMap(_.getLong(0))(_.getLong(1)).map { case (d, s) => d -> s.distinct }
    val (familyNote, recoveredFrac) = checkGroups(checks, comps, in.corpus, sids, pairsOf(cand), pairsOf(verified))
    val (candidates, verifiedCount) = (cand.count(), verified.count())
    Seq(shingles, cand, verified).foreach(_.unpersist())
    val mem = Stats.heapAfterGcMb()

    val grouped = (in.corpus.exactGroups ++ in.corpus.families).flatten.toSet
    val targets = Inputs.sample(ctx.seed, 12, Unique, QueryDocs).filterNot(d => grouped(d.toLong))
    // a document's query is its QueryWords rarest distinct words
    val df = in.corpus.texts.iterator.flatMap(_.split(' ').distinct).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val queries = targets.map(d => in.corpus.texts(d).split(' ').distinct.sortBy(w => (df(w), w)).take(QueryWords).mkString(" "))
    val hits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def request(i: Int): Unit = {
      val batch = (0 until Batch).map { j =>
        val t = (i * Batch + j) % targets.length
        targets(t) -> Row(j.toLong, queries(t))
      }
      val q = spark.createDataFrame(java.util.List.of(batch.map(_._2): _*),
        StructType(Seq(StructField("query_id", LongType), StructField("qtext", StringType))))
      val top = sc.span("Retrieval.searchIndex")(Retrieval.searchIndex(spark, bm25, q, k = 10).collect())
        .groupBy(_.getAs[Long]("query_id")).map { case (qid, rows) => qid -> rows.map(_.getAs[Long]("doc_id")).toSet }
      batch.indices.foreach(j => hits += top.getOrElse(j.toLong, Set.empty[Long]).contains(batch(j)._1.toLong))
    }
    val loop = new QueryLoop(ctx.tracer, block = 1, cpuBlock = 1)
    loop.warmup(1)(request)
    val (query, _) = Phase.of {
      loop.run(System.nanoTime() + (ctx.seconds * 1e9).toLong, minCalls = MinRequests, first = 1)(request)
    }
    checks.count("curate.bm25_self_retrieval", hits.size, hits.count(!_))
    val recall = hits.count(identity).toDouble / hits.size
    Measured(build, mem, Seq(loop), query, recall,
      Map("Dedup.lsh.verified_ratio" -> (if (candidates == 0) 0.0 else verifiedCount.toDouble / candidates),
        "Dedup.families_recovered_frac" -> recoveredFrac),
      queriesPerCall = Batch, notes = Seq(familyNote))
  }

  private def pairsOf(pairs: DataFrame): Set[(Long, Long)] =
    pairs.select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact-copy groups must each come back as one component, and no
    * component may join documents from two planted groups or any
    * unplanted document.
    *
    * Each near-duplicate family must come back exactly as the
    * pipeline's own specification predicts from the family's shingle
    * ids: a pair is proposed when its MinHash signatures (the
    * program's 16 published hash coefficients) agree on a whole band
    * and on at least `LshThreshold` of their positions, it is verified
    * when its rounded character-level edit similarity is at least
    * `Tau`, and the family is whole when its verified pairs connect
    * it. A family fails the check when any of its pairs is proposed or
    * verified otherwise, or its wholeness differs from the prediction.
    *
    * Returns a line with the families recovered, the number ideal
    * MinHash LSH would recover on average (it proposes a pair with
    * probability 1 - (1 - J^r)^b for shingle Jaccard J, r rows and b
    * bands), the family pairs proposed and verified, and the share of
    * families recovered. */
  private def checkGroups(checks: Checks, comps: Map[Long, Long], corpus: Inputs.Corpus,
      sids: Map[Long, Array[Long]], proposedPairs: Set[(Long, Long)],
      verifiedPairs: Set[(Long, Long)]): (String, Double) = {
    val (exact, families, texts) = (corpus.exactGroups, corpus.families, corpus.texts)
    val members = comps.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    def whole(g: Set[Long]) = g.forall(comps.contains) && g.map(comps).size == 1
    checks.count("curate.exact_groups_in_one_component", exact.size, exact.count(g => !whole(g)))
    val groupOf = (exact ++ families).zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val mixed = members.values.count(m => m.map(d => groupOf.getOrElse(d, -1)).size != 1 || m.exists(d => !groupOf.contains(d)))
    checks.count("curate.components_pure", members.size, mixed)

    val sig = sids.map { case (d, s) => d -> signature(s) }
    def pairs(f: Set[Long]) = f.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val deviating = families.count { f =>
      val specProposed = pairs(f).filter { case (a, b) => lshProposes(sig(a), sig(b)) }
      val specVerified = specProposed.filter { case (a, b) => similarity(texts(a.toInt), texts(b.toInt)) >= Tau }
      val specWhole = connects(f, specVerified)
      pairs(f).filter(proposedPairs) != specProposed || pairs(f).filter(verifiedPairs) != specVerified ||
        whole(f) != specWhole
    }
    checks.count("curate.families_as_specified", families.size, deviating)
    val recovered = families.count(whole)
    val expected = families.map(f => connectedProbability(f.toSeq.sorted.map(d => shingleSet(texts(d.toInt))))).sum
    val familyPairs = families.flatMap(pairs)
    (f"families: recovered=$recovered/${families.size} ideal_lsh_expected=$expected%.2f " +
      s"pairs_proposed=${familyPairs.count(proposedPairs)}/${familyPairs.size} " +
      s"pairs_verified=${familyPairs.count(verifiedPairs)}/${familyPairs.size}",
      recovered.toDouble / families.size)
  }

  /** MinHash signature as `Dedup.minhashSignatures` specifies it:
    * position j is the minimum of (a_j * sid + b_j) mod P. */
  private def signature(sids: Array[Long]): Array[Long] =
    Array.tabulate(Dedup.NumHashes) { j =>
      val (a, b) = (Dedup.hashA(j), Dedup.hashB(j))
      sids.iterator.map(s => (s * a + b) % Dedup.MinhashPrime).min
    }

  /** `Dedup.lshCandidatePairs`'s rule: one identical band, then an
    * estimated Jaccard of at least the threshold. */
  private def lshProposes(x: Array[Long], y: Array[Long]): Boolean = {
    val band = (0 until Dedup.Bands).exists { b =>
      val r = b * Dedup.RowsPerBand until (b + 1) * Dedup.RowsPerBand
      r.forall(i => x(i) == y(i))
    }
    band && x.indices.count(i => x(i) == y(i)).toDouble / Dedup.NumHashes >= LshThreshold
  }

  /** 1 - Levenshtein distance / longer length, rounded half up to four
    * decimals, as `Dedup.editDistanceVerify` scores a pair. */
  private def similarity(a: String, b: String): Double = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1, prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      val t = prev; prev = cur; cur = t
    }
    val longer = math.max(a.length, b.length)
    if (longer == 0) 1.0
    else BigDecimal(1.0 - prev(b.length).toDouble / longer).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Whether `edges` connect every member of `f`. */
  private def connects(f: Set[Long], edges: Seq[(Long, Long)]): Boolean = {
    var reached = Set(f.min)
    var grown = true
    while (grown) {
      val next = reached ++ edges.collect { case (a, b) if reached(a) => b; case (a, b) if reached(b) => a }
      grown = next.size > reached.size
      reached = next
    }
    reached == f
  }

  private def shingleSet(text: String): Set[String] =
    text.split(' ').sliding(ShingleK).map(_.mkString(" ")).toSet

  private def proposed(a: Set[String], b: Set[String]): Double = {
    val j = (a intersect b).size.toDouble / (a union b).size
    1 - math.pow(1 - math.pow(j, Dedup.RowsPerBand), Dedup.Bands)
  }

  /** Chance that independent pair proposals connect a family of three. */
  private def connectedProbability(s: Seq[Set[String]]): Double = {
    require(s.size == 3, "families have three members")
    val (x, y, z) = (proposed(s(0), s(1)), proposed(s(0), s(2)), proposed(s(1), s(2)))
    x * y + x * z + y * z - 2 * x * y * z
  }
}

object Curate {
  val Unique = 2500
  val Vocab = 8000
  val MinLen = 80
  val MaxLen = 160
  val ExactCopies = 60
  val Families = 40
  val FamilySize = 3
  val EditFrac = 0.01
  val ShingleK = 5
  val LshThreshold = 0.5
  val Tau = 0.8
  val QueryDocs = 400
  val QueryWords = 8
  val Batch = 16
  val MinRequests = 3
}
