package perfbench

/** The per-layer metrics of the traced run. Every workload reports the
  * same list; a layer a workload does not call reads 0. */
object LayerReport {
  import Layers._

  /** Spark-backed calls timed as spans, in pipeline order. */
  val SparkSpans: Seq[String] = Seq(
    "VectorIndex.build", "VectorIndex.insertBatch", "VectorIndex.deleteBatch",
    "VectorIndex.fitPQ", "ShardedServing.loadShard", "VectorIndex.searchExact",
    "Dedup.docShingles", "Dedup.lshCandidatePairs", "Dedup.editDistanceVerify",
    "Dedup.connectedComponents", "Dedup.ngramJaccardPairsFromShingles",
    "Retrieval.buildIndex", "Retrieval.searchIndex")

  /** Values a workload measures itself (0 when it does not). */
  val Extras: Seq[(String, String)] = Seq(
    "Dedup.lsh.verified_ratio" -> "ratio",
    "Dedup.families_recovered_frac" -> "ratio",
    "jvm.gc_s" -> "s",
    "jvm.gc_count" -> "count",
    "jvm.jit_s" -> "s",
    "jvm.heap_after_setup_mb" -> "MB",
    "trace.overhead_query_p50_ms" -> "ms")

  def apply(tracer: Tracer, counters: Option[SparkCounters], extra: Map[String, Double]): Seq[Metric] = {
    val spans = tracer.recorded
    val byName = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    val serving = Seq("search", "insert", "delete").flatMap(op =>
      callStats(s"ServingIndex.$op", byName(s"ServingIndex.$op")))
    val spark = counters.map(_.byName()).getOrElse(Map.empty)
    // per call of the layer: the query phase calls Retrieval.searchIndex
    // as often as its time allows, so only per-call counts can repeat
    val sparkMetrics = SparkSpans.flatMap { n =>
      val a = spark.getOrElse(n, new SparkCounters.Acc)
      val calls = math.max(1, byName(n).size).toDouble
      Seq(Metric(s"$n.wall_s", byName(n).map(s => Stats.seconds(s.durNs)).sum / calls, "s"),
        Metric(s"$n.cpu_s", a.cpuNs / 1e9 / calls, "s"),
        Metric(s"$n.tasks", a.tasks / calls, "count"),
        Metric(s"$n.stages", a.stages / calls, "count"),
        Metric(s"$n.shuffle_read_bytes", a.shuffleRead / calls, "bytes"),
        Metric(s"$n.shuffle_write_bytes", a.shuffleWrite / calls, "bytes"),
        Metric(s"$n.spill_bytes", a.spill / calls, "bytes"))
    }
    serving ++ rpc(spans, byName) ++ sparkMetrics ++
      Extras.map { case (n, unit) => Metric(n, extra.getOrElse(n, 0.0), unit) }
  }

  /** Router calls, their per-shard children, the router's own time
    * (span minus its longest shard) and the straggler gap (slowest
    * shard minus the median shard of the same query). */
  private def rpc(spans: Seq[Span], byName: Map[String, Seq[Span]]): Seq[Metric] = {
    val routers = byName("ShardRpc.Router.search")
    val shards = byName("ShardRpc.shard")
    val kids = shards.groupBy(_.parent)
    val perQuery = routers.flatMap(r => kids.get(r.id).map(k => r -> k.map(_.durNs).sorted))
    val self = perQuery.map { case (r, k) => r.durNs - k.last }.toArray
    val gap = perQuery.map { case (_, k) =>
      val n = k.length
      val mid = if (n % 2 == 1) k(n / 2).toDouble else (k(n / 2 - 1) + k(n / 2)) / 2.0
      (k.last - mid).toLong
    }.toArray
    def pct(xs: Array[Long], p: Double) = if (xs.isEmpty) 0.0 else us(Stats.percentile(xs, p))
    callStats("ShardRpc.Router.search", routers, withP99 = false) ++ Seq(
      Metric("ShardRpc.Router.self_p50_us", pct(self, 50), "us"),
      Metric("ShardRpc.shard.p50_us", pct(shards.map(_.durNs).toArray, 50), "us"),
      Metric("ShardRpc.straggler_gap.p50_us", pct(gap, 50), "us"),
      Metric("ShardRpc.straggler_gap.p99_us", pct(gap, 99), "us"))
  }
}
