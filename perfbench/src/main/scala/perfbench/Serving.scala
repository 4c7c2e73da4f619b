package perfbench

import graft.index.ServingIndex

/** What a workload measured after its set-up; [[Main]] turns it into
  * the reported metrics. */
final case class Measured(build: Phase, memMb: Double, loops: Seq[QueryLoop],
    query: Phase, recall: Double, extra: Map[String, Double] = Map.empty,
    queriesPerCall: Int = 1, notes: Seq[String] = Nil)

/** Wall seconds and application-thread CPU seconds of one phase. */
final case class Phase(wallS: Double, cpuS: Double)

object Phase {
  def of[T](body: => T): (Phase, T) = {
    val (w, c, r) = Stats.timedCpu(body)
    (Phase(w, c), r)
  }
}

trait Workload {
  type In
  /** Generates the inputs, as the arrays and frames the program is given. */
  def setup(ctx: Ctx): In
  /** Builds, serves queries for `ctx.seconds`, and checks the outputs. */
  def measure(ctx: Ctx, in: In): Measured
  /** Whether the query CPU time is scaled by the [[Calibration]] kernel:
    * on the vector workloads, whose graph builds and searches spend
    * their time on float distances, as the kernel does. The text
    * pipeline's Spark SQL over strings drifts less than the kernel
    * does, so scaling it would add the kernel's drift instead. */
  def calibrated: Boolean
}

object Serving {
  val Dim = 100
  val K = 10
  val RecallGate = 0.70
  val Warmup = 1000

  def keysOf(hits: IndexedSeq[(Option[String], Long)]): Array[Int] =
    hits.map(_._1.fold(-1)(_.toInt)).toArray

  /** Inserts `vecs` one by one, key = position + `first`. */
  def insertAll(ctx: Ctx, idx: ServingIndex, vecs: Array[Array[Float]], first: Int = 0): Unit =
    vecs.indices.foreach { i =>
      ctx.tracer.span("ServingIndex.insert")(idx.insert(vecs(i), Some((first + i).toString)))
    }

  def checkRecall(ctx: Ctx, name: String, recall: Double): Unit =
    ctx.checks.record(s"$name.recall_at_10>=$RecallGate", recall >= RecallGate)
}

/** ANN serving: a Euclidean index built by single inserts, then a
  * seeded tenth of it deleted by key and as many new vectors inserted,
  * then four closed-loop clients running held-out queries at k = 10.
  * Four clients, one per core of the 4-core hosts the benchmark is
  * sized for, spread the measured CPU time over every core, so that
  * one core's interference from other tenants sways it less than it
  * sways a single client.
  *
  * `alpha` is the index's prune: `serve` uses the α-RNG prune at the
  * program's scale setting ([[graft.index.VectorIndex.DefaultScaleAlpha]]);
  * `serve-truncate` keeps `ServingIndex`'s default truncation prune,
  * which fails the recall check on this data (see README). */
final class Serve(name: String, alpha: Double) extends Workload {
  import Serve._
  import Serving._
  val calibrated = true

  final case class In(vs: Inputs.VectorSet, deleted: Array[Int])
  def setup(ctx: Ctx): In = In(
    Inputs.vectors(ctx.seed, Dim, N, Extra, Queries, clusters = N / Inputs.PointsPerCentre),
    Inputs.sample(ctx.seed, 11, N, Deletes))

  def measure(ctx: Ctx, in: In): Measured = {
    val vs = in.vs
    val idx = new ServingIndex(dim = Dim, alpha = alpha)
    val (build, _) = Phase.of {
      insertAll(ctx, idx, vs.base)
      in.deleted.foreach { k =>
        val ok = ctx.tracer.span("ServingIndex.delete")(idx.deleteByKey(k.toString))
        ctx.checks.record(s"$name.delete_known_key", ok)
      }
      insertAll(ctx, idx, vs.extra, first = N)
    }
    val mem = Stats.heapAfterGcMb()
    val found = new Array[Array[Int]](Queries)
    val loop = new QueryLoop(ctx.tracer, block = 64, cpuBlock = 500, clients = 4)
    loop.warmup(Warmup)(i => idx.search(vs.queries(i % Queries), topk = K))
    val (query, _) = Phase.of {
      loop.run(System.nanoTime() + (ctx.seconds * 1e9).toLong, minCalls = Queries) { i =>
        val qi = i % Queries
        val hits = ctx.tracer.span("ServingIndex.search")(idx.search(vs.queries(qi), topk = K))
        if (i < Queries) found(qi) = keysOf(hits)
      }
    }
    val deleted = in.deleted.toSet
    val liveIds = ((0 until N).filterNot(deleted) ++ (N until N + Extra)).toArray
    val all = vs.base ++ vs.extra
    val truth = Truth.topK(vs.queries, liveIds, liveIds.map(all), K, Truth.sqL2)
    ctx.checks.count(s"$name.k_results", Queries, found.count(_.length != K))
    ctx.checks.count(s"$name.no_deleted_returned", Queries, found.count(_.exists(deleted)))
    val recall = Truth.recall(found, truth)
    checkRecall(ctx, name, recall)
    val hits = found.indices.map(i => found(i).count(truth(i).toSet))
    Measured(build, mem, Seq(loop), query, recall, notes = Seq(
      s"$name: queries finding all $K true neighbours=${hits.count(_ == K)} none=${hits.count(_ == 0)} of $Queries"))
  }
}

object Serve {
  val N = 3500
  val Deletes = 350
  val Extra = 350
  val Queries = 10000
}
