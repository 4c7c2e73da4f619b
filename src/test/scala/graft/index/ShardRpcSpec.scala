package graft.index

import org.apache.spark.sql.functions._

import scala.util.Random

import graft.SparkSpec

/** The serving fleet across REAL process boundaries (r16 verdict item
  * 2): a second JVM `loadShard`s shards 2-3 of a 4-shard fleet and
  * serves them over a socket; this JVM loads shards 0-1 and routes
  * through [[ShardRpc.Router]] — local scatter + genuinely remote
  * RPC scatter, merged by the shared (dist, global id) contract. The
  * q183-style OOS measurement (perturbed off-corpus queries) must
  * come back TUPLE-identical to the in-process fleet's. */
class ShardRpcSpec extends SparkSpec {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The forked-JVM flags a child Spark needs on JDK 17+ (mirrors
    * build.sbt's jdk17AddOpens — the child inherits nothing). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("remote shards in a second JVM serve tuple-identically through the RPC router") {
    val path = tmpDir("shard-rpc")
    val idx = VectorIndex.build(spark, path, embeddings, dim = 64, maxDegree = 16)
      .deleteBatch(Seq(5L, 9L, 412L))
    val fleet = ShardedServing.fromIndex(idx, numShards = 4)

    // ---- serving node 2 in its own process: owns shards 2 and 3
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-cp", sys.props("java.class.path"),
      "graft.index.ShardServerMain", path, "4", "2,3", "0")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val lines = new java.util.concurrent.LinkedBlockingQueue[String]()
    val gobbler = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = r.readLine()
      while (line != null) { lines.put(line); line = r.readLine() }
    }, "shard-server-gobbler")
    gobbler.setDaemon(true)
    gobbler.start()
    def awaitPort(): Int = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline) {
        val l = lines.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        if (l != null && l.startsWith("SHARDRPC PORT="))
          return l.stripPrefix("SHARDRPC PORT=").trim.toInt
        if (!proc.isAlive && lines.isEmpty)
          fail(s"shard server died before handshake (exit ${proc.exitValue()})")
      }
      fail("shard server did not hand shake within 180s")
    }
    val port = awaitPort()

    try {
      // ---- this JVM is serving node 1: owns shards 0 and 1
      val local0 = ShardedServing.loadShard(idx, numShards = 4, 0)
      val local1 = ShardedServing.loadShard(idx, numShards = 4, 1)
      val c2 = new ShardRpc.Client("127.0.0.1", port, shard = 2)
      val c3 = new ShardRpc.Client("127.0.0.1", port, shard = 3)
      // handshake sanity: the node advertises exactly its shards
      assert(c2.hello() == ((64, 4, Seq(2, 3))))
      val router = new ShardRpc.Router(4, Seq(
        new ShardRpc.LocalPart(0, local0), new ShardRpc.LocalPart(1, local1),
        c2, c3))

      val all = embeddings.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val rng = new Random(83)
      // in-corpus queries: full tuples (key, global id, exact dist)
      // identical to the in-process fleet through the cross-process
      // scatter
      rng.shuffle(all.toList).take(20).foreach { case (_, q) =>
        assert(router.search(q, topk = 10, ef = 32)
          == fleet.search(q, topk = 10, ef = 32))
      }
      // q183's OOS shape: perturbed off-corpus queries (deterministic
      // jitter), same ef — the sharded OOS recall row's inputs
      rng.shuffle(all.toList).take(20).foreach { case (id, base) =>
        val jit = new Random(1000 + id)
        val q = base.map(x => x + (jit.nextFloat() - 0.5f) * 0.02f)
        assert(router.search(q, topk = 10, ef = 32)
          == fleet.search(q, topk = 10, ef = 32))
      }
      // remote concurrency: a parallel query storm through the router
      // stays consistent (per-connection serialization, per-shard
      // fan-out)
      val probe = all.head._2
      val expected = fleet.search(probe, topk = 10, ef = 32)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (1 to 32).map(_ => pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = router.search(probe, topk = 10, ef = 32) == expected
        }))
        assert(futs.forall(_.get()))
      } finally pool.shutdown()

      // orderly shutdown: STOP acks, the process exits 0
      assert(c2.stop())
      router.close()
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
        "server process did not exit after STOP")
      assert(proc.exitValue() == 0)
    } finally if (proc.isAlive) proc.destroyForcibly()
  }
}
