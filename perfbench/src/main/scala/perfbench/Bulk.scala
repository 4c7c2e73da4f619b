package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.index.{ShardRpc, ShardedServing, VectorIndex}

/** The Spark path from rows to a serving fleet: bulk build on the exact
  * tier, a versioned insert and delete batch, a PQ fit, one
  * low-memory shard load per shard, RPC fan-out serving to four
  * closed-loop clients (as many as `Serve` has, for the same reason)
  * and a distributed exact search. Vectors are keyed by their position in
  * the generated set; the deleted ones are base positions. */
final class Bulk(spark: SparkSession, sc: SparkCounters) extends Workload {
  import Bulk._
  import Serving.{Dim, K}
  val calibrated = true

  final case class In(vs: Inputs.VectorSet, deleted: Array[Int], base: DataFrame, extra: DataFrame)

  def setup(ctx: Ctx): In = {
    val vs = Inputs.vectors(ctx.seed, Dim, N, Extra, Queries, clusters = N / Inputs.PointsPerCentre)
    In(vs, Inputs.sample(ctx.seed, 11, N, Deletes), frame(vs.base, 0), frame(vs.extra, N))
  }

  private def frame(vecs: Array[Array[Float]], first: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.indices.map(i =>
        Row((first + i).toLong, (first + i).toString, vecs(i).toSeq)), 4),
      StructType(Seq(StructField("id", LongType), StructField("key", StringType),
        StructField("vec", ArrayType(FloatType, containsNull = false)))))

  def measure(ctx: Ctx, in: In): Measured = {
    val t = ctx.tracer
    val path = new java.io.File(ctx.tmp, "bulk-index").getPath
    val (build, (idx, shards)) = Phase.of {
      val built = sc.span("VectorIndex.build")(
        VectorIndex.build(spark, path, in.base, dim = Dim))
      val grown = sc.span("VectorIndex.insertBatch")(
        built.insertBatch(in.extra.select(col("key"), col("vec"))))
      // base position i has public id i + 1 (build assigns id = position)
      val idx = sc.span("VectorIndex.deleteBatch")(grown.deleteBatch(in.deleted.map(_ + 1L).toSeq))
      val pq = sc.span("VectorIndex.fitPQ")(idx.fitPQ(m = PqSubspaces))
      val shards = (0 until Shards).map { s =>
        sc.span("ShardedServing.loadShard") {
          val shard = ShardedServing.loadShard(idx, Shards, s)
          shard.enableLowMemoryTraversal(pq)
          shard
        }
      }
      (idx, shards)
    }
    val mem = Stats.heapAfterGcMb()
    val server = new ShardRpc.Server(Dim, Shards, shards.indices.map(i => i -> shards(i)).toMap)
    server.serveInBackground()
    val clients = (0 until Shards).map(i => new ShardRpc.Client("127.0.0.1", server.boundPort, i))
    val router = new ShardRpc.Router(Shards, clients.map(c => new TimedPart(c, t)))
    def search(q: Array[Float], k: Int): Array[Int] =
      t.span("ShardRpc.Router.search", bind = q)(router.search(q, topk = k)).map(_._1.fold(-1)(_.toInt)).toArray
    val found = new Array[Array[Int]](Queries)
    val loop = new QueryLoop(t, block = 64, cpuBlock = 100, clients = 4)
    val query = try {
      loop.warmup(Warmup)(i => search(in.vs.queries(i % Queries), K))
      val (p, _) = Phase.of {
        loop.run(System.nanoTime() + (ctx.seconds * 1e9).toLong, minCalls = Queries) { i =>
          val hits = search(in.vs.queries(i % Queries), K)
          if (i < Queries) found(i) = hits
        }
      }
      // every inserted vector is its own nearest neighbour
      val selfMiss = in.vs.extra.indices.count(j => !search(in.vs.extra(j), 1).sameElements(Array(N + j)))
      ctx.checks.count("bulk.insert_batch_finds_itself", Extra, selfMiss)
      p
    } finally {
      clients.head.stop()
      router.close()
    }

    val deleted = in.deleted.toSet
    val liveIds = ((0 until N).filterNot(deleted) ++ (N until N + Extra)).toArray
    val all = in.vs.base ++ in.vs.extra
    val truth = Truth.topK(in.vs.queries, liveIds, liveIds.map(all), K, Truth.sqL2)
    ctx.checks.count("bulk.no_deleted_returned", Queries, found.count(_.exists(deleted)))
    ctx.checks.count("bulk.k_results", Queries, found.count(_.length != K))
    val recall = Truth.recall(found, truth)
    Serving.checkRecall(ctx, "bulk", recall)

    // distributed exact search equals brute force over the live set
    val exactQ = in.vs.queries.take(ExactQueries)
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(exactQ.indices.map(i => Row(i.toLong, exactQ(i).toSeq)), 1),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qvec", ArrayType(FloatType, containsNull = false)))))
    val exact = sc.span("VectorIndex.searchExact")(idx.searchExact(qdf, K).collect())
      .groupBy(_.getAs[Long]("query_id")).map { case (q, rows) =>
        q.toInt -> rows.map(_.getAs[String]("key").toInt).toSet
      }
    ctx.checks.count("bulk.search_exact_matches_truth", ExactQueries,
      exactQ.indices.count(i => !exact.get(i).contains(truth(i).toSet)))
    Measured(build, mem, Seq(loop), query, recall)
  }
}

object Bulk {
  val N = 2000
  val Extra = 200
  val Deletes = 200
  val Warmup = 300
  val Queries = 1000
  val ExactQueries = 64
  val Shards = 4
  val PqSubspaces = 10
}
