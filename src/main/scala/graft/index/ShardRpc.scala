package graft.index

import java.io.{DataInputStream, DataOutputStream, BufferedInputStream, BufferedOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}

/** Cross-process serving fleet — the RPC form of the scatter the
  * [[ShardedServing]] scaladoc promises ("in production the shards
  * live inside separate serving nodes and the scatter is an RPC
  * fan-out"). Until r17 that sentence was backed only by the
  * in-process router plus [[ShardedServing.loadShard]]; this module
  * makes it a running deployment shape:
  *
  *  - [[ShardRpc.Server]] hosts a serving node's shards (each built
  *    by `loadShard` IN THAT PROCESS — no rows cross the wire, only
  *    queries and top-k results) behind a length-framed binary
  *    protocol on a TCP socket.
  *  - [[ShardRpc.Client]] is one node's stub: per-shard search in the
  *    shard's LOCAL id space, exactly [[ServingIndex
  *    .searchWithDistances]]'s contract.
  *  - [[ShardRpc.Router]] scatters a query to every part — local
  *    [[ServingIndex]] objects and remote stubs alike — concurrently,
  *    maps local results through [[ShardedServing.globalIdFor]] (the
  *    single-sourced id contract) and merges by (dist, global id):
  *    bit-identical semantics to the in-process router's merge, which
  *    the spec pins by comparing full result tuples.
  *
  * Both fleets load through the same [[ShardedServing.loadShard]]:
  * the in-process [[ShardedServing.fromIndex]] calls it once per
  * shard, and each [[ShardServerMain]] process calls it for the
  * shards it owns.
  *
  * Protocol (all big-endian via DataStream): one byte op, then
  *  - 0x01 HELLO  -> dim:int numShards:int owned:int shard*int
  *  - 0x02 SEARCH <- shard:int topk:int ef:int n:int vec:float*n
  *                -> k:int (hasKey:bool [key:UTF] localPid:long dist:double)*k
  *  - 0x03 STOP   -> ack:bool, server exits its accept loop
  * Connections are persistent (one request at a time per connection);
  * the router opens one connection per remote shard so a fan-out
  * never serializes across shards. Searches only read the graph, so
  * server-side concurrency needs no locking beyond ServingIndex's
  * own read lock. */
object ShardRpc {

  val OpHello: Byte = 0x01
  val OpSearch: Byte = 0x02
  val OpStop: Byte = 0x03

  /** One part of a scattered fleet: search in LOCAL id space. */
  trait ShardPart {
    def shard: Int
    def searchLocal(q: Array[Float], topk: Int, ef: Int): IndexedSeq[(Option[String], Long, Double)]
    def close(): Unit = ()
  }

  final class LocalPart(val shard: Int, idx: ServingIndex) extends ShardPart {
    def searchLocal(q: Array[Float], topk: Int, ef: Int): IndexedSeq[(Option[String], Long, Double)] =
      idx.searchWithDistances(q, topk, ef)
  }

  /** Remote stub over a persistent connection (synchronized — the
    * router gives each remote shard its own client, so shard fan-outs
    * run concurrently while one shard's requests serialize). */
  final class Client(host: String, port: Int, val shard: Int) extends ShardPart {
    private val socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))

    def hello(): (Int, Int, Seq[Int]) = synchronized {
      out.writeByte(OpHello); out.flush()
      val dim = in.readInt(); val numShards = in.readInt()
      val owned = IndexedSeq.fill(in.readInt())(in.readInt())
      (dim, numShards, owned)
    }

    def searchLocal(q: Array[Float], topk: Int, ef: Int): IndexedSeq[(Option[String], Long, Double)] = synchronized {
      out.writeByte(OpSearch)
      out.writeInt(shard); out.writeInt(topk); out.writeInt(ef)
      out.writeInt(q.length)
      var i = 0
      while (i < q.length) { out.writeFloat(q(i)); i += 1 }
      out.flush()
      val k = in.readInt()
      IndexedSeq.fill(k) {
        val key = if (in.readBoolean()) Some(in.readUTF()) else None
        (key, in.readLong(), in.readDouble())
      }
    }

    def stop(): Boolean = synchronized {
      out.writeByte(OpStop); out.flush(); in.readBoolean()
    }

    override def close(): Unit = socket.close()
  }

  /** Scatter-gather over local + remote parts: the in-process
    * router's merge ((dist, global id) order, exact per-shard
    * re-ranked distances) with the scatter crossing process
    * boundaries wherever a part is a [[Client]]. */
  final class Router(numShards: Int, parts: Seq[ShardPart]) {
    require(parts.map(_.shard).sorted == (0 until numShards),
      s"router needs exactly one part per shard 0..${numShards - 1}, " +
        s"got ${parts.map(_.shard).sorted}")
    private val byShard = parts.sortBy(_.shard).toIndexedSeq

    // dedicated scatter workers, not the JVM-common ForkJoinPool —
    // same rationale (and same shape) as ShardedServing.scatter: the
    // fan-out's latency must not depend on unrelated common-pool
    // load, and here the subtasks BLOCK on socket I/O, which starves
    // the common pool for every other user as a bonus failure mode
    private lazy val scatterPool = {
      val seq = new java.util.concurrent.atomic.AtomicInteger()
      java.util.concurrent.Executors.newFixedThreadPool(math.max(1, numShards - 1), r => {
        val t = new Thread(r, s"graft-rpc-scatter-${seq.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    }

    def search(q: Array[Float], topk: Int = 10, ef: Int = -1): IndexedSeq[(Option[String], Long, Double)] = {
      val perShard = new Array[IndexedSeq[(Option[String], Long, Double)]](numShards)
      def one(i: Int): Unit =
        perShard(i) = byShard(i).searchLocal(q, topk, ef).map {
          case (key, localPid, dist) =>
            (key, ShardedServing.globalIdFor(numShards, i, localPid), dist)
        }
      if (numShards == 1) one(0)
      else {
        val latch = new java.util.concurrent.CountDownLatch(numShards - 1)
        val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        var i = 1
        while (i < numShards) {
          val s = i
          scatterPool.execute(() => {
            try one(s)
            catch { case t: Throwable => failure.compareAndSet(null, t) }
            finally latch.countDown()
          })
          i += 1
        }
        one(0)
        latch.await()
        val t = failure.get()
        if (t != null) throw t
      }
      perShard.toIndexedSeq.flatten
        .sortBy { case (_, gid, dist) => (dist, gid) }.take(topk)
    }

    def close(): Unit = byShard.foreach(_.close())
  }

  /** Serving-node host: answers the protocol for `owned` shards until
    * a STOP arrives. One thread per connection (searches are
    * read-only; ServingIndex's read lock covers them). */
  final class Server(dim: Int, numShards: Int, owned: Map[Int, ServingIndex],
      port: Int = 0) {
    private val serverSocket = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
    @volatile private var running = true
    def boundPort: Int = serverSocket.getLocalPort

    private def handle(conn: Socket): Unit = {
      val in = new DataInputStream(new BufferedInputStream(conn.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(conn.getOutputStream))
      try {
        var open = true
        while (open) {
          in.readByte() match {
            case OpHello =>
              out.writeInt(dim); out.writeInt(numShards)
              val ks = owned.keys.toSeq.sorted
              out.writeInt(ks.size); ks.foreach(out.writeInt)
              out.flush()
            case OpSearch =>
              val shard = in.readInt(); val topk = in.readInt(); val ef = in.readInt()
              val n = in.readInt()
              val q = new Array[Float](n)
              var i = 0
              while (i < n) { q(i) = in.readFloat(); i += 1 }
              val idx = owned.getOrElse(shard,
                throw new IllegalArgumentException(s"shard $shard not owned (have ${owned.keys.toSeq.sorted})"))
              val hits = idx.searchWithDistances(q, topk, ef)
              out.writeInt(hits.size)
              hits.foreach { case (key, localPid, dist) =>
                out.writeBoolean(key.isDefined)
                key.foreach(out.writeUTF)
                out.writeLong(localPid); out.writeDouble(dist)
              }
              out.flush()
            case OpStop =>
              out.writeBoolean(true); out.flush()
              running = false
              open = false
              // unblock the accept loop so the server exits promptly
              try new Socket(InetAddress.getLoopbackAddress, boundPort).close()
              catch { case _: Throwable => () }
            case other =>
              throw new IllegalArgumentException(s"unknown op $other")
          }
        }
      } catch {
        case _: java.io.EOFException => () // client hung up between requests
      } finally conn.close()
    }

    /** Accept loop on the CALLING thread; returns after STOP. */
    def serve(): Unit = {
      try {
        while (running) {
          val conn = serverSocket.accept()
          if (running) {
            val t = new Thread(() => handle(conn), s"shard-rpc-${conn.getPort}")
            t.setDaemon(true)
            t.start()
          } else conn.close()
        }
      } catch {
        case _: java.net.SocketException if !running => () // closed by stop
      } finally serverSocket.close()
    }

    /** Accept loop on a daemon thread (in-process test hosting). */
    def serveInBackground(): Thread = {
      val t = new Thread(() => serve(), s"shard-rpc-server-$boundPort")
      t.setDaemon(true)
      t.start()
      t
    }
  }
}

/** Serving-node process entrypoint: load this node's shards from the
  * snapshot (each via [[ShardedServing.loadShard]] — the node pays
  * ~owned/numShards of the projection, or a partition-pruned layout
  * read on restart), drop Spark, and serve searches over
  * [[ShardRpc]]. The line `SHARDRPC PORT=<port>` on stdout is the
  * parent's readiness + endpoint handshake.
  * Usage: runMain graft.index.ShardServerMain <indexPath> <numShards> <ownedCsv> [port]
  */
object ShardServerMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ShardServerMain <indexPath> <numShards> <ownedCsv> [port]")
    val indexPath = args(0)
    val numShards = args(1).toInt
    val owned = args(2).split(",").map(_.trim.toInt).toSeq
    val port = if (args.length > 3) args(3).toInt else 0
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val idx = VectorIndex.load(spark, indexPath)
    val dim = idx.meta.dim
    val shards = owned.map(s =>
      s -> ShardedServing.loadShard(idx, numShards, s)).toMap
    // serving needs no Spark: the shards are in-memory graphs now
    spark.stop()
    val server = new ShardRpc.Server(dim, numShards, shards, port)
    // stdout handshake — parent parses the port, then connects
    println(s"SHARDRPC PORT=${server.boundPort}")
    System.out.flush()
    server.serve()
  }
}
