package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.index.VectorIndex

/** Structured Streaming operators — the engine's continuous-ingestion
  * surface. The reference's online mutability (one-at-a-time
  * ann_insert!/ann_delete! on a live index,
  * /root/reference/src/LMDiskANN.jl:531-646) maps to micro-batch
  * streaming: `foreachBatch` appends commit new index snapshots, and
  * the windowed/sessionized aggregations are the streaming twins of
  * the batch EventQueries (same arithmetic, plus watermarks).
  *
  * Scale design: state is bounded by watermarks (dropped after
  * `delayThreshold`), window aggregation is a streaming shuffle on
  * (window, key) with partial aggregation, and sessionization keys
  * state by user_id so it shards across executors. Index ingestion
  * cost per micro-batch is O(batch · log index) — the insertBatch plan
  * broadcasts the batch, never reshuffles the existing index.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(sessionCount: Long, eventCount: Long, lastMs: Long)
  case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** Tumbling 1-hour window counts/sums per event_type with a 2-hour
    * watermark (streaming twin of q60_event_window_agg). */
  def eventWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup (streaming twin of q40's hash-groupBy):
    * each distinct document text is emitted ONCE; duplicates arriving
    * within the watermark are dropped, and the per-hash state ages out
    * past it — so state stays bounded on an unbounded feed (the
    * dedup-state table would otherwise grow with the corpus). The
    * dedup key is the 32-byte content hash, never the document body. */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming decontamination (streaming twin of q59): documents
    * arriving on the stream are DROPPED when they share any
    * word-trigram with the benchmark shingle set. The benchmark set is
    * eval-set-sized by definition, so it inlines as a literal array
    * and the whole check is ONE stateless per-row expression
    * (`arrays_overlap` over the document's shingle array) — no joins,
    * no streaming state, the shape an unbounded feed wants. A
    * self-join formulation (shingle-explode + anti-join back) would be
    * an unsupported stream-stream self-join. */
  def streamingDecontaminate(docs: DataFrame, benchShingles: Set[String]): DataFrame = {
    import graft.operators.TextAnalysis
    // NULL text => NULL overlap => filter would DROP the row; the
    // contract drops only docs that provably share a trigram, so
    // null-text records are kept (like docs too short to shingle)
    docs.filter(coalesce(
      !arrays_overlap(
        array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)),
        typedLit(benchShingles.toSeq.sorted)),
      lit(true)))
  }

  /** Streaming span-level decontamination (streaming twin of q102):
    * cut every k-token window of an arriving document that appears
    * verbatim in the benchmark set. Delegates to the stateless literal
    * variant ([[graft.operators.Dedup.removeContaminatedSpansStateless]])
    * — one per-row expression, no join, no state — with the benchmark
    * chunk-id set precomputed once via
    * [[graft.operators.Dedup.benchmarkChunkIds]]. */
  def streamingSpanDecontam(
      stream: DataFrame,
      benchCids: Seq[Long],
      k: Int = 8): DataFrame =
    graft.operators.Dedup.removeContaminatedSpansStateless(stream, benchCids, k)

  /** Streaming DSIR importance scoring (streaming twin of q188's
    * scoring half): score every arriving document against a FROZEN
    * hashed-unigram model (the per-bucket raw/target count arrays a
    * batch [[graft.operators.Sampling.dsirBucketStats]] fit produced).
    * The model ships as two plan literals and each token is two O(1)
    * lookups — no state store, no join, no watermark; the ingest-time
    * "does this look like the target domain" router. Delegates to
    * [[graft.operators.Sampling.dsirScore]], so stream == batch by
    * construction. */
  def streamingDsirScore(
      stream: DataFrame,
      cr: Array[Long],
      ct: Array[Long],
      textCol: String = "text"): DataFrame =
    graft.operators.Sampling.dsirScore(stream, cr, ct, textCol)

  /** Streaming semantic decontamination (streaming twin of q96):
    * append `max_cos` / `contaminated` to every arriving vector. The
    * benchmark set is eval-set-sized by definition, so it inlines —
    * with its precomputed norms — as a literal array of structs, and
    * the whole check is ONE stateless per-row fold (`greatest` over
    * the per-benchmark cosines): no join, no streaming state, no
    * shuffle. The batch operator's groupBy-max becomes a fold because
    * max needs no aggregation order; both round to 4 decimals before
    * the τ decision, so stream and batch flag identically. */
  def streamingSemanticDecon(
      stream: DataFrame,
      bench: Seq[Array[Float]],
      tau: Double = 0.8,
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions
    require(bench.nonEmpty, "benchmark set must be non-empty")
    val benchLit = typedLit(bench.map(b =>
      (b.toSeq, math.sqrt(b.map(x => x.toDouble * x).sum))))
    val nrm = sqrt(VectorFunctions.dot(col(vecCol), col(vecCol)))
    val maxRaw = aggregate(benchLit, lit(Double.NegativeInfinity), (m, b) =>
      greatest(m, VectorFunctions.cosineSimFromNorms(
        VectorFunctions.dot(col(vecCol), b.getField("_1")), nrm, b.getField("_2"))))
    stream.withColumn("max_cos", round(maxRaw, 4) + lit(0.0))
      .withColumn("contaminated", col("max_cos") >= tau)
  }

  /** Streaming LSH near-dup tier (streaming twin of the q56 batch
    * path): bucketing under a FITTED
    * [[graft.index.GraphBuilder.LshModel]] is a pure per-row
    * expression — stateless — and candidate pairing is a
    * stream-STATIC equi-join on (tbl, bucket) against the indexed
    * corpus's materialized bucket table, the join shape Structured
    * Streaming runs without state or watermark. Emits
    * (id, corpus_id, tbl, bucket, dist) for every co-bucketed
    * (arrival, corpus) pair within `maxDist` (L2 on the model's
    * prepared geometry — normalized under cosine). A pair co-bucketed
    * in several tables emits once per table: per-pair dedup is a
    * stateful aggregation that would grow with the stream, so it
    * stays a downstream batch/windowed concern, like the batch tier's
    * groupBy. */
  def streamingLshCandidates(
      stream: DataFrame,
      model: graft.index.GraphBuilder.LshModel,
      corpusBuckets: DataFrame,
      maxDist: Double = Double.MaxValue): DataFrame = {
    import graft.functions.VectorFunctions
    graft.index.GraphBuilder.lshBuckets(stream, model)
      .join(corpusBuckets.select(col("tbl"), col("bucket"),
        col("id").as("corpus_id"), col("vec").as("c_vec")), Seq("tbl", "bucket"))
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"), col("tbl"), col("bucket"),
        VectorFunctions.euclidean(col("vec"), col("c_vec")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Streaming incremental near-dup (streaming twin of q138): each
    * arriving document is signed by the STATELESS per-row MinHash
    * expression ([[graft.operators.Dedup.rowMinhashSignatures]] — no
    * explode, no aggregation, so no streaming state), band-exploded,
    * and stream-static joined against the persisted
    * [[graft.operators.SignatureStore]] signatures. Emits
    * (doc_id, store_id, band, est_jaccard ≥ threshold) — one row per
    * MATCHING BAND, like [[streamingLshCandidates]]: per-pair dedup is
    * a stateful aggregation that would grow with the stream, so it
    * stays a downstream batch/windowed concern. The store side is
    * re-banded per micro-batch from the loaded signature table — a
    * narrow map over an in-memory static frame, no per-batch I/O. */
  def streamingStoreProbe(docs: DataFrame, storeSigs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    Dedup.bandJoin(Dedup.rowMinhashSignatures(docs), storeSigs)
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("store_id"),
        col("x.band").as("band"), Dedup.estJaccard(col("x.sig"), col("y.sig")))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Streaming VERIFIED near-dup probe — the streaming twin of the
    * q147 generate-then-verify pipeline over the q138 store shape:
    * each arriving document is signed by the stateless per-row MinHash
    * expression (keeping its text), band-joined against the persisted
    * store signatures, and every candidate is immediately VERIFIED by
    * exact normalized Levenshtein against the static store text — the
    * char-level second opinion before an ingest pipeline drops a row.
    * Two stream-static joins + per-row expressions: no watermark, no
    * state store, nothing grows with the stream. Emits one row per
    * MATCHING BAND (the [[streamingStoreProbe]] contract — per-pair
    * dedup is stateful and stays a downstream batch concern), with
    * (doc_id, store_id, band, est_jaccard, lev, sim, verified). */
  def streamingVerifiedProbe(
      docs: DataFrame,
      storeSigs: DataFrame,
      storeTexts: DataFrame,
      threshold: Double = 0.5,
      tau: Double = 0.9): DataFrame = {
    import graft.operators.Dedup
    val signed = docs.select(col("doc_id"), col("text"),
        Dedup.rowMinhashSigExpr(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val cand = Dedup.bandJoin(signed, storeSigs)
      .select(col("x.doc_id").as("doc_id"), col("x.text").as("text"),
        col("y.doc_id").as("store_id"), col("x.band").as("band"),
        Dedup.estJaccard(col("x.sig"), col("y.sig")))
      .filter(col("est_jaccard") >= threshold)
    val withText = cand.join(
      storeTexts.select(col("doc_id").as("store_id"), col("text").as("store_text")),
      Seq("store_id"))
    Dedup.withEditSimilarity(withText, col("text"), col("store_text"), tau)
      .select(col("doc_id"), col("store_id"), col("band"), col("est_jaccard"),
        col("lev"), col("sim"), col("verified"))
  }

  /** Streaming cluster-mix monitor: arriving embeddings are assigned
    * to a FROZEN k-means model ([[graft.operators.Clustering.assignExpr]]
    * — a pure narrow expression, identical fixed-point contract to the
    * q135 batch fit; load the model via
    * [[graft.operators.KmeansArtifact]]) and counted per event-time
    * window per cluster — the serving-time "is the topic mix of
    * incoming data drifting from what we trained the buckets on"
    * signal. One watermark-reaped windowed count is the only state
    * (≤ k rows per window); append mode emits closed windows. */
  def streamingClusterMix(vecs: DataFrame, model: graft.operators.KmeansModel,
      watermark: String = "2 hours", windowLen: String = "1 hour"): DataFrame =
    vecs.withWatermark("ts", watermark)
      .withColumn("cluster",
        graft.operators.Clustering.assignExpr(col("vec"), model.centroids))
      .groupBy(window(col("ts"), windowLen), col("cluster"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("cluster"), col("n"))

  /** Streaming distinct-cardinality sketch (streaming twin of q123's
    * KMV card): the running distinct-user estimate per event_type over
    * an unbounded event stream. An exact streaming `COUNT(DISTINCT)`
    * would have to remember every user id ever seen — state that grows
    * with the stream and cannot be watermarked away without breaking
    * the answer. The mergeable KMV aggregate
    * ([[graft.functions.SketchFunctions.kmvDistinct]]) keeps ≤ k longs
    * per group in the state store FOREVER — bounded running
    * cardinality, the only state shape an unbounded feed tolerates —
    * and its merge associativity is exactly what lets each micro-batch
    * fold into the stored sketch. Same hash, same estimator, same
    * rounding as the batch card, so stream == batch on any prefix. */
  def streamingDistinctCard(events: DataFrame, k: Int = 256): DataFrame =
    events
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy(col("event_type"))
      .agg((round(graft.functions.SketchFunctions.kmvDistinct(col("uid"), k), 4) + lit(0.0))
        .as("est_distinct"))

  /** Running table profile over an unbounded feed (streaming twin of
    * q152's batch profiler): the per-column audit — rows, nulls,
    * completeness, distinct estimate, min/max, mean / mean-length —
    * continuously updated as documents arrive (complete output mode).
    *
    * State shape: this is [[graft.operators.Profile.profileTableApprox]]
    * UNCHANGED — the approx variant is the one that streams, by
    * construction: every measure is a mergeable bounded aggregate
    * (counts and decimal sums are single values, min/max fold
    * monotonically, distinct is the ≤ k-long KMV sketch), so the state
    * store holds a fixed few hundred bytes per profiled column
    * FOREVER. The EXACT profiler cannot stream — `count(DISTINCT)`
    * state grows with the stream (the q152/q160 pair is the same
    * exact-batch / sketch-stream trade as q50/streamingDistinctCard).
    * Stream == batch on any prefix (StreamingOpsSpec pins it). */
  def streamingProfile(docs: DataFrame, columns: Seq[String], k: Int = 256): DataFrame =
    graft.operators.Profile.profileTableApprox(docs, columns, k)

  /** Streaming OOV monitor (q157's continuous twin): per event-time
    * window, token coverage of a FROZEN vocabulary over the arriving
    * feed — the live tokenizer-fit alarm (coverage sagging below the
    * corpus baseline means the feed drifted somewhere the vocab
    * under-serves: new language, new domain jargon, markup junk).
    *
    * The vocabulary is frozen by contract (a fitted artifact — the
    * BpeArtifact/vocab lifecycle), so membership is a plan-resident
    * HASH-SET probe inside a stateless narrow map
    * ([[graft.functions.expressions.StringSetContains]], the
    * AhoCorasick reference-object idiom): O(1) per token where the
    * previous `array_contains` over a vocabulary literal cost
    * O(|vocab|) per token — the hot-path term at 32k–256k-entry
    * production vocabularies. The only state is the windowed partial
    * agg (3 counters per window: tokens, covered, OOV-type KMV
    * sketch), watermark-reaped. Distinct OOV types use the KMV sketch
    * — the exact per-window distinct of the batch twin is unbounded
    * state on a stream (the q152/q160 exact-batch / sketch-stream
    * trade). */
  def streamingOovRate(
      docs: DataFrame,
      vocab: Set[String],
      kmvK: Int = 256,
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    def inVocab(term: org.apache.spark.sql.Column) =
      CB.column(graft.functions.expressions.StringSetContains(
        CB.expression(term), vocab.toSeq.sorted))
    docs
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowDur).as("w"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
      .select(col("w"), col("term"), inVocab(col("term")).as("in_v"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v"), 1L).otherwise(0L)).as("covered"),
        (round(graft.functions.SketchFunctions.kmvDistinct(
          when(!col("in_v"), col("term")), kmvK), 4) + lit(0.0))
          .as("oov_types_est"))
      .select(col("w.start").as("window_start"), col("n_tokens"),
        (round(col("covered").cast("double") / col("n_tokens"), 6) + lit(0.0))
          .as("covered_frac"),
        col("oov_types_est"))
  }

  /** Streaming canary monitor (q167's continuous twin): per
    * event-time window and blocklist phrase, how many arriving
    * documents contain it and the total occurrences — the live
    * eval-contamination / policy-phrase alarm on an ingest feed.
    *
    * State shape: the Aho–Corasick walk is a STATELESS narrow map
    * (the automaton rides as a plan-literal reference object, exactly
    * as in batch), so the only stateful operator is the windowed
    * partial agg — ≤ |patterns| counter rows per window, reaped by
    * the watermark. Emits on window close (append mode); counts are
    * exact longs, so stream == batch on every closed window. */
  def streamingCanaryCounts(
      docs: DataFrame,
      patterns: Seq[String],
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowDur).as("w"),
        posexplode(graft.operators.TextAnalysis.multiMatchCounts(col("text"), patterns))
          .as(Seq("pos", "cnt")))
      .groupBy(col("w"), (col("pos") + 1).as("pattern_id"))
      .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("cnt").cast("long")).as("n_occurrences"))
      .select(col("w.start").as("window_start"), col("pattern_id"),
        col("n_docs"), col("n_occurrences"))

  /** Streaming corpus-drift monitor: per event-time window, the
    * KL divergence of the window's token distribution against a
    * broadcast BASELINE snapshot (the fixed reference mix a
    * production monitor alerts on; streaming twin of the q129/q131
    * batch drift family).
    *
    * Why KL and not JS here: KL(window ‖ baseline) needs only terms
    * PRESENT in the window (absent terms contribute exactly 0), so
    * one bounded stateful aggregate per window suffices — JS needs
    * the baseline-only tail of the joint vocabulary, which an
    * unbounded stream can't revisit per window without a second
    * stateful pass.
    *
    * State shape: ONE stateful aggregate — the per-window
    * [[graft.functions.expressions.MisraGriesAgg]] counts map, ≤ mgK
    * entries per window FOREVER (exact while the window vocabulary
    * fits mgK; beyond it the summary degrades gracefully to
    * approximate heavy-hitter counts — the documented knob), reaped
    * by the watermark. The KL fold
    * ([[graft.operators.TextAnalysis.klEntriesFp]]) is a pure column
    * expression over the emitted map — no second stateful operator,
    * no stream-stream join. Emits on window close (append mode). */
  def streamingTokenDrift(
      docs: DataFrame,
      baseline: Map[String, Long],
      mgK: Int = 4096,
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowDur).as("w"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("w"))
      .agg(graft.functions.SketchFunctions.mgSummary(col("term"), mgK).as("counts"))
      .select(col("w"), map_entries(col("counts")).as("ent"))
      .select(col("w"), col("ent"),
        aggregate(col("ent"), lit(0L), (a, e) => a + e.getField("value")).as("n_tokens"))
      .select(col("w.start").as("window_start"), col("n_tokens"),
        (graft.operators.TextAnalysis.klEntriesFp(col("ent"), col("n_tokens"), baseline)
          / lit(1000000000000.0)).as("kl"))

  /** Gap-based sessionization (30-min inactivity) via
    * mapGroupsWithState — emits the running per-user session/event
    * counts each micro-batch (streaming twin of q61_sessionize). */
  def sessionize(events: Dataset[Event], gapMs: Long = 1800000L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var s = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
          sorted.foreach { e =>
            val ms = e.ts.getTime
            val newSession = s.lastMs == Long.MinValue || ms - s.lastMs > gapMs
            s = SessionState(
              s.sessionCount + (if (newSession) 1 else 0),
              s.eventCount + 1,
              math.max(s.lastMs, ms))
          }
          state.update(s)
          SessionUpdate(userId, s.sessionCount, s.eventCount)
      }
  }

  case class ClosedSession(user_id: Long, session_start: Long, session_end: Long, n_events: Long)
  case class OpenSession(start: Long, end: Long, n: Long)

  /** Production sessionization: emits CLOSED sessions once event time
    * passes the gap, using flatMapGroupsWithState with an event-time
    * timeout — state for idle users is reaped by the watermark, so
    * state size is bounded by ACTIVE users only (the property that
    * matters at 100 TB/day event volumes). Within-watermark reordering
    * is absorbed by per-batch sorting; a user holds one open session. */
  def sessionizeComplete(events: Dataset[Event], gapMs: Long = 1800000L): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption.toList
              .map(s => ClosedSession(userId, s.start, s.end, s.n))
            state.remove()
            closed.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            var closed = List.empty[ClosedSession]
            sorted.foreach { e =>
              val ms = e.ts.getTime
              open = open match {
                case Some(s) if ms - s.end <= gapMs =>
                  Some(OpenSession(s.start, math.max(s.end, ms), s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(userId, s.start, s.end, s.n)
                  Some(OpenSession(ms, ms, 1L))
                case None => Some(OpenSession(ms, ms, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelTransition(user_id: Long, stage: Int, ms: Long)

  /** Live funnel tracking (streaming twin of q105): per-user stage
    * state advances as events arrive, emitting one transition record
    * the moment a user first reaches a stage — the real-time view of
    * the conversion funnel the batch query reports after the fact.
    * Stage rules are the batch operator's exactly: strictly-after
    * ordering plus the per-step window; per-user state is THREE longs
    * forever (no event lists), the bounded-state shape an unbounded
    * feed requires.
    *
    * Like [[streamingAnomalies]], decisions depend only on each
    * event's prefix in (ts, event_id) order: within a micro-batch the
    * group sorts, and with a time-ordered feed the first qualifying
    * event IS the batch min — so stage counts equal the batch funnel
    * (StreamingOpsSpec pins this, and that the result is
    * micro-batch-boundary independent). */
  def streamingFunnel(
      events: Dataset[Event],
      w1Ms: Long = 3600000L,
      w2Ms: Long = 86400000L): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelTransition]
          sorted.foreach { e =>
            val ms = e.ts.getTime
            e.event_type match {
              case "view" if st.t1 < 0 =>
                st = st.copy(t1 = ms); out += FunnelTransition(userId, 1, ms)
              case "click" if st.t1 >= 0 && st.t2 < 0 &&
                  ms > st.t1 && ms <= st.t1 + w1Ms =>
                st = st.copy(t2 = ms); out += FunnelTransition(userId, 2, ms)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 &&
                  ms > st.t2 && ms <= st.t2 + w2Ms =>
                st = st.copy(t3 = ms); out += FunnelTransition(userId, 3, ms)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class MomentState(n: Long, s: Long, ss: Long)
  case class AnomalyEvent(user_id: Long, event_id: Long, value: Double, n_so_far: Long)

  /** Streaming per-user 3σ outlier detection — the streaming twin of
    * the batch q90 (`EventQueries.userAnomalies`), with RUNNING
    * moments instead of corpus-global ones: each arriving event is
    * judged against its user's statistics over the prefix seen so far
    * (including itself), via the same division-free exact-integer test
    * `(n·x − S)² > 9·(n·SS − S²)` on ×1000 fixed-point values
    * (products in BigInt, so the comparison never overflows).
    *
    * State is three longs per user — constant-size, never a sample
    * buffer — so the operator holds at any event volume; keying by
    * user shards state across executors. Per-batch input is sorted by
    * (ts, event_id) and the flag decision depends only on the event's
    * prefix, so results are independent of micro-batch boundaries: any
    * batch split of the same event order yields the same flags (pinned
    * by StreamingOpsSpec). Sum headroom: Σfp² stays inside a long for
    * ~4·10⁷ events/user at |value| ≤ 500; beyond that, widen the state
    * sums before the products. An early prefix (n ≤ 2) can never flag:
    * the inequality is algebraically false at n ≤ 2 for any values. */
  def streamingAnomalies(events: Dataset[Event]): Dataset[AnomalyEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[MomentState, AnomalyEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[MomentState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          val flagged = Seq.newBuilder[AnomalyEvent]
          sorted.foreach { e =>
            val fp = math.floor(e.value * 1000.0 + 0.5).toLong
            st = MomentState(st.n + 1, st.s + fp, st.ss + fp * fp)
            val n = BigInt(st.n)
            val lhs = n * fp - st.s
            if (lhs * lhs > 9 * (n * st.ss - BigInt(st.s) * st.s))
              flagged += AnomalyEvent(userId, e.event_id, e.value, st.n)
          }
          state.update(st)
          flagged.result().iterator
      }
  }

  /** Continuous vector-index ingestion: a stream of (key STRING,
    * vec ARRAY<FLOAT>) rows is appended to the index at `indexPath`,
    * one copy-on-write snapshot per micro-batch (reference ann_insert!
    * as a stream). */
  def indexIngest(
      spark: SparkSession,
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIngestBatch(spark, indexPath, batch, batchId)
        ()
      }
      .start()

  /** Idempotent micro-batch apply: foreachBatch is at-least-once, so a
    * replayed batch (crash between snapshot commit and checkpoint
    * write) is detected via the batch id persisted INSIDE the index
    * metadata — it commits atomically with the snapshot pointer.
    * Returns true if the batch was applied, false if skipped. */
  def applyIngestBatch(
      spark: SparkSession,
      indexPath: String,
      batch: DataFrame,
      batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val idx = VectorIndex.load(spark, indexPath)
    if (batchId <= idx.meta.ingestBatchId) false
    else {
      idx.insertBatch(batch.select(col("key"), col("vec")), batchId)
      true
    }
  }

  /** Continuous signature-store maintenance — q138/q180's
    * incremental-dedup artifact lifted to Structured Streaming: each
    * micro-batch of (doc_id, text) rows is SIGNED once
    * ([[graft.operators.SignatureStore.build]] over the batch only)
    * and CONSOLIDATED into the running store via
    * [[graft.operators.SignatureStore.merge]] — previously signed
    * text is never re-shingled, exactly the q180 shard-consolidation
    * property applied per batch, which is what keeps a 100 TB
    * corpus's dedup artifact maintainable from a stream (a
    * re-shingling maintenance pass would be a corpus rescan per
    * trigger). Versioned layout under `root`: `batch=<id>` per-batch
    * stores and `store-v=<id>` cumulative merges; every version's
    * sidecar is its completeness marker (data first, pointer last —
    * the store's own crash-safe publish), so
    * [[applySignatureBatch]] is replay-idempotent and the at-least-
    * once foreachBatch contract yields effectively-once store
    * versions. Readers resolve [[currentSignatureStore]] — always a
    * fully-published consolidated version, never a mid-merge one. */
  def signatureStoreIngest(
      stream: DataFrame,
      root: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySignatureBatch(batch, batchId, root)
        ()
      }
      .start()

  /** Consolidated store versions [[applySignatureBatch]] retains
    * after publishing a new one: the current version plus its
    * predecessor, so a concurrent prober that resolved
    * [[currentSignatureStore]] just before the publish still reads a
    * complete store. Without reaping, per-trigger storage grows as
    * versions × store size (each `store-v=` is a full cumulative
    * rewrite) and no other reaper knows these dirs (r16 advisor). */
  val SignatureStoreKeepVersions: Int = 2

  /** Reap superseded signature-store dirs under `root`: `batch=` merge
    * inputs at or below the newest published version (their content is
    * durable in that version), published `store-v=` versions older
    * than the newest `keep`, and unpublished (crashed-merge) `store-v=`
    * dirs below the newest published version. Safe under
    * eventually-consistent listings: a stale list can only SHRINK the
    * reap (an unlisted newest version is never considered, so nothing
    * newer-than-believed is deleted), and deleteTree tolerates
    * already-gone children. Returns the number of dirs reaped. */
  def reapSignatureStore(root: String,
      keep: Int = SignatureStoreKeepVersions): Int = {
    val st = graft.index.ArtifactStore.current
    val storeRe = "^store-v=(\\d+)$".r
    val batchRe = "^batch=(\\d+)$".r
    val names = st.list(root)
    val published = names.collect {
      case storeRe(v) if graft.operators.SignatureStore.exists(s"$root/store-v=$v") =>
        v.toLong
    }.sorted
    if (published.isEmpty) 0
    else {
      val newest = published.last
      val keepSet = published.takeRight(math.max(1, keep)).toSet
      var reaped = 0
      names.foreach {
        case storeRe(v) if v.toLong < newest && !keepSet.contains(v.toLong) =>
          st.deleteTree(s"$root/store-v=$v"); reaped += 1
        case batchRe(b) if b.toLong <= newest =>
          st.deleteTree(s"$root/batch=$b"); reaped += 1
        case _ => ()
      }
      reaped
    }
  }

  /** One micro-batch signature apply (see [[signatureStoreIngest]]).
    * Replay-safe: a batch whose cumulative version is already
    * published is skipped (the version sidecar is the LAST write of
    * the apply, so a crash mid-apply re-runs the batch and converges
    * on the same bytes). Empty batches publish no version. After a
    * publish, superseded versions and consumed `batch=` inputs are
    * reaped ([[reapSignatureStore]], newest `keep` versions retained)
    * — a crash between publish and reap just defers the reap to the
    * next batch, which scans the whole root. Returns true when the
    * batch was applied, false when skipped. */
  def applySignatureBatch(batch: DataFrame, batchId: Long, root: String,
      keep: Int = SignatureStoreKeepVersions): Boolean = {
    import graft.operators.SignatureStore
    val out = s"$root/store-v=$batchId"
    if (SignatureStore.exists(out) || batch.isEmpty) false
    else {
      currentSignatureStore(root) match {
        // first batch: the cumulative store IS the batch's store
        case None => SignatureStore.build(batch, out)
        case Some(prev) =>
          val bs = s"$root/batch=$batchId"
          if (!SignatureStore.exists(bs)) SignatureStore.build(batch, bs)
          SignatureStore.merge(batch.sparkSession, prev, bs, out)
      }
      reapSignatureStore(root, keep)
      true
    }
  }

  /** Newest fully-published cumulative store under `root` (the one a
    * concurrent prober loads), if any version has been committed. */
  def currentSignatureStore(root: String): Option[String] = {
    val re = "^store-v=(\\d+)$".r
    graft.index.ArtifactStore.current.list(root)
      .collect { case re(v) => v.toLong }
      .sorted(Ordering[Long].reverse)
      .map(v => s"$root/store-v=$v")
      .find(graft.operators.SignatureStore.exists)
  }

  /** Continuous batch SEARCH: a stream of (query_id BIGINT,
    * qvec ARRAY<FLOAT>) rows answered per micro-batch against the
    * CURRENT index snapshot via the distributed exact top-k plan
    * (recall 1.0; swap in DistributedSearch.beamSearch for the
    * graph-approximate tier at larger index sizes). Results append to
    * `outPath` with the micro-batch id, so a query's answer records
    * which snapshot generation served it — the streaming twin of the
    * reference's serve loop, with the snapshot reloaded per batch so
    * concurrent ingestion is picked up between batches. */
  def streamingSearch(
      spark: SparkSession,
      queryStream: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      topk: Int = 10): StreamingQuery =
    queryStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val idx = VectorIndex.load(spark, indexPath)
          // idempotent under at-least-once replay: results land in a
          // batch_id partition with DYNAMIC overwrite, so a replayed
          // micro-batch (crash between write and checkpoint commit)
          // replaces its own partition instead of appending duplicates
          idx.searchExact(batch.select(col("query_id"), col("qvec")), topk)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outPath)
        }
        ()
      }
      .start()

  /** Streaming BM25 serving (streaming twin of q132's persisted-index
    * path): a stream of (query_id, qtext) answered per micro-batch
    * from the PERSISTED inverted index
    * ([[graft.operators.Retrieval.searchIndex]] — postings pruned to
    * the batch vocabulary, corpus never touched). Every query is fully
    * contained in its own micro-batch, so the streamed answer is
    * EXACTLY the batch answer, not an approximation. Results land in a
    * batch_id partition with dynamic overwrite, so an at-least-once
    * replay replaces its own partition instead of duplicating (the
    * [[streamingSearch]] idempotence contract). */
  def bm25SearchStream(
      spark: SparkSession,
      queryStream: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      k: Int = 10): StreamingQuery =
    queryStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Retrieval.searchIndex(spark, indexPath, batch, k)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outPath)
        }
        ()
      }
      .start()

  /** Continuous index MUTATION: a stream of mixed operations —
    * `op` = "insert" (key, vec) or "delete" (public_id) — applied per
    * micro-batch, the streaming twin of reference
    * ann_insert!/ann_delete! (src/LMDiskANN.jl:531-646). Within a
    * batch deletes apply before inserts (so a slot freed and refilled
    * in one batch behaves like the reference's sequential
    * delete-then-insert, LIFO recycling included). */
  def indexMutations(
      spark: SparkSession,
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMutationBatch(spark, indexPath, batch, batchId)
        ()
      }
      .start()

  /** Continuous maintenance of a LIVE shard fleet alongside its
    * durable snapshot: the same mixed-op stream as [[indexMutations]],
    * but each micro-batch ALSO lands in a running
    * [[graft.index.ShardedServing]] router — the serving tier keeps
    * answering at memory latency between snapshots instead of waiting
    * for the next fromIndex reload. The router must have been produced
    * by `ShardedServing.fromIndex(index, numShards)` (or maintained by
    * this op since), because id agreement leans on that partitioning. */
  def routerMaintenance(
      spark: SparkSession,
      stream: DataFrame,
      indexPath: String,
      router: graft.index.ShardedServing,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRouterBatch(spark, indexPath, router, batch, batchId)
        ()
      }
      .start()

  /** One maintenance micro-batch: deletes apply to the snapshot and
    * route to the router by the SAME global public id; inserts commit
    * to the snapshot FIRST (the durable store owns id assignment —
    * LIFO recycling included), then the committed delta segment's rows
    * are replayed into the fleet at exactly those ids
    * ([[graft.index.ShardedServing.insertAtGlobal]]) — so the live
    * fleet and a later `fromIndex` rebuild of the snapshot agree on
    * every id and key.
    *
    * Replay contract: when a batch arrives whose id the snapshot has
    * ALREADY committed (crash or retry between the snapshot commit and
    * the checkpoint commit), the snapshot is not touched again, but
    * the ROUTER is converged idempotently — deletes re-route (no-ops
    * on freed slots) and the committed delta segment's rows
    * (`meta.ingestSegment`) re-insert only where the fleet slot is not
    * already live. A re-delivered batch therefore never diverges a
    * surviving router from the snapshot, whether the crash hit before,
    * during, or after the original router apply. (A full-process crash
    * loses the in-memory fleet anyway; its restart path is a fromIndex
    * reload.) Returns true if anything applied. */
  def applyRouterBatch(
      spark: SparkSession,
      indexPath: String,
      router: graft.index.ShardedServing,
      batch: DataFrame,
      batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val idx = VectorIndex.load(spark, indexPath)
    def deleteIds: Seq[Long] = batch.filter(col("op") === "delete")
      .select(col("public_id").cast("long")).collect().map(_.getLong(0)).toSeq
    def replayInserts(from: VectorIndex, segV: Long): Unit =
      from.segmentVectors(segV)
        .select(col("id"), col("key"), col("vec"))
        .collect() // bounded: exactly this micro-batch's rows
        .foreach { r =>
          if (!router.hasSnapshotId(r.getLong(0)))
            router.insertAtGlobal(r.getLong(0), r.getSeq[Float](2).toArray, r.getString(1))
        }
    if (batchId <= idx.meta.ingestBatchId) {
      // snapshot already has this batch — converge the router only.
      // Only the LAST committed batch can be re-delivered (checkpoint
      // commit is what advances the stream past it); older ids mean
      // the checkpoint committed, which implies the router apply
      // finished in this process too.
      if (batchId == idx.meta.ingestBatchId && idx.meta.ingestSegment >= 0) {
        deleteIds.foreach(router.delete)
        replayInserts(idx, idx.meta.ingestSegment)
      }
      return false
    }
    val deletes = deleteIds
    val afterDel = if (deletes.nonEmpty) idx.deleteBatch(deletes) else idx
    deletes.foreach(router.delete)
    val inserts = batch.filter(col("op") === "insert").select(col("key"), col("vec"))
    if (inserts.isEmpty) return deletes.nonEmpty
    // capture the delta version BEFORE the commit: a commit that
    // triggers compaction moves meta.version past the delta segment
    val segV = afterDel.meta.version + 1
    val next = afterDel.insertBatch(inserts, batchId)
    replayInserts(next, segV)
    true
  }

  /** Idempotent mixed-op micro-batch apply. Ordering makes replay
    * safe: the delete snapshot commits WITHOUT the batch id and the
    * insert snapshot commits WITH it, so a crash anywhere replays the
    * whole batch — re-deleting already-freed ids is a no-op by
    * [[VectorIndex.deleteBatch]]'s live-victims-only contract, and the
    * insert either never happened (applies now) or carried the batch
    * id (skipped at the guard). Returns true if anything applied. */
  def applyMutationBatch(
      spark: SparkSession,
      indexPath: String,
      batch: DataFrame,
      batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val idx = VectorIndex.load(spark, indexPath)
    if (batchId <= idx.meta.ingestBatchId) return false
    val deletes = batch.filter(col("op") === "delete")
      .select(col("public_id").cast("long")).collect().map(_.getLong(0)).toSeq
    val afterDel = if (deletes.nonEmpty) idx.deleteBatch(deletes) else idx
    val inserts = batch.filter(col("op") === "insert").select(col("key"), col("vec"))
    if (inserts.isEmpty) deletes.nonEmpty
    else {
      afterDel.insertBatch(inserts, batchId)
      true
    }
  }
}
