package graft.index

import scala.util.Random

import graft.SparkSpec

/** Scatter-gather router: merged per-shard search must meet the same
  * recall gate as a single index, ids must route back to their shard,
  * and deletes/keys must behave identically to the single-node engine. */
class ShardedServingSpec extends SparkSpec {

  private def mkVecs(n: Int, dim: Int, seed: Int): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextFloat()))
  }

  test("sharded search meets the recall gate vs brute force (2000x100d, 4 shards)") {
    val dim = 100
    val vecs = mkVecs(2000, dim, 1)
    val router = new ShardedServing(dim, numShards = 4)
    val ids = vecs.map(v => router.insert(v)._2)
    assert(router.numPoints == 2000)
    // global ids are unique and route-decodable
    assert(ids.toSet.size == 2000)
    val rng = new Random(2)
    val queries = rng.shuffle(vecs.indices.toList).take(30)
    val recalls = queries.map { qi =>
      val q = vecs(qi)
      val truth = ids.zip(vecs)
        .sortBy { case (gid, v) => (Metric.Euclidean.dist(q, v), gid) }
        .take(10).map(_._1).toSet
      val got = router.search(q, topk = 10).map(_._2).toSet
      truth.intersect(got).size / 10.0
    }
    val avg = recalls.sum / recalls.size
    info(f"sharded (4-way) recall@10 = $avg%.3f")
    assert(avg >= 0.70)
  }

  test("merged results are sorted by (dist, id) and sized min(topk, n)") {
    val dim = 16
    val vecs = mkVecs(40, dim, 3)
    val router = new ShardedServing(dim, numShards = 3, maxDegree = 16)
    vecs.foreach(v => router.insert(v))
    val res = router.search(vecs(0), topk = 50)
    assert(res.size == 40) // capped by live points
    val dists = res.map(_._3)
    assert(dists == dists.sorted)
    assert(res.head._3 == 0.0) // self-query finds itself first
  }

  test("deletes route to the owning shard; auto-keys are global-id strings") {
    val dim = 8
    val vecs = mkVecs(30, dim, 4)
    val router = new ShardedServing(dim, numShards = 4, maxDegree = 8)
    val inserted = vecs.map(v => router.insert(v))
    // auto-key equals the stringified global id (reference Q2, lifted)
    inserted.foreach { case (k, gid) => assert(k == gid.toString) }
    // keys resolve round-trip through the router
    val (k7, gid7) = inserted(7)
    assert(router.idForKey(k7).contains(gid7))
    // delete by id: vector becomes unfindable
    router.delete(gid7)
    assert(router.numPoints == 29)
    assert(!router.search(vecs(7), topk = 5).exists(_._2 == gid7))
    // delete by key routes too
    val (k11, gid11) = inserted(11)
    assert(router.deleteByKey(k11))
    assert(router.idForKey(k11).isEmpty)
    assert(!router.search(vecs(11), topk = 5).exists(_._2 == gid11))
    assert(router.numPoints == 28)
  }

  test("re-registering an explicit key remaps it router-wide (single-node Q7 semantics)") {
    val dim = 8
    val vecs = mkVecs(8, dim, 5)
    val router = new ShardedServing(dim, numShards = 4, maxDegree = 8)
    val (_, gid1) = router.insert(vecs(0), Some("user-42"))
    // interleave other inserts so round-robin would have moved shards
    vecs.drop(1).take(5).foreach(v => router.insert(v))
    val (_, gid2) = router.insert(vecs(6), Some("user-42"))
    // the key now resolves to the NEW vector only (old stays live, keyless)
    assert(router.idForKey("user-42").contains(gid2))
    assert(gid1 != gid2)
    assert(router.numPoints == 7)
    // deleting by key removes the new mapping, not the old vector
    assert(router.deleteByKey("user-42"))
    assert(router.idForKey("user-42").isEmpty)
    assert(router.numPoints == 6)
  }

  test("a minted auto-key displaces an equal explicit key in another shard (Q7, reverse direction)") {
    val dim = 8
    val vecs = mkVecs(12, dim, 8)
    val router = new ShardedServing(dim, numShards = 4, maxDegree = 8)
    // pick an explicit key "g" whose hash shard differs from the shard
    // that will mint gid g ( (g-1) mod 4 ) — so the two copies would
    // live in different shards
    val k = (1 to 8).map(_.toString).find { s =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s), 4) != (s.toInt - 1) % 4
    }.getOrElse(fail("no divergent key in 1..8 — adjust fixture"))
    val (_, gidExplicit) = router.insert(vecs(0), Some(k))
    // round-robin auto inserts until the auto-key equal to k is minted
    var minted = -1L
    var i = 1
    while (minted < 0 && i < 12) {
      val (ak, g) = router.insert(vecs(i))
      if (ak == k) minted = g
      i += 1
    }
    assert(minted > 0, s"auto-key $k never minted")
    assert(minted != gidExplicit)
    // latest registration wins router-wide — exactly the single-node
    // remap contract; the explicit-keyed vector stays live but keyless
    assert(router.idForKey(k).contains(minted))
    // the key resolves to an auto-inserted vector, not the explicit one
    assert(!router.embeddingById(minted).sameElements(vecs(0)))
    assert(router.deleteByKey(k))
    assert(router.idForKey(k).isEmpty)
  }

  test("fromIndex bulk-loads a built snapshot: ids preserved, recall gate met") {
    import org.apache.spark.sql.functions._
    val embeddings = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = tmpDir("sharded-from")
    val idx = VectorIndex.build(spark, path, embeddings, dim = 64, maxDegree = 16)
    val router = ShardedServing.fromIndex(idx, numShards = 4)
    assert(router.numPoints == 500)
    // router global ids coincide with the snapshot's public ids
    val all = embeddings.collect().map(r => (r.getLong(0) + 1L, r.getSeq[Float](1).toArray))
    assert(router.idForKey("7").contains(7L))
    assert(router.embeddingById(7L).sameElements(all.find(_._1 == 7L).get._2))
    // recall vs brute force over the snapshot
    val rng = new Random(11)
    val queries = rng.shuffle(all.toList).take(20)
    val recalls = queries.map { case (_, q) =>
      val truth = all.sortBy { case (gid, v) => (Metric.Euclidean.dist(q, v), gid) }
        .take(10).map(_._1).toSet
      val got = router.search(q, topk = 10).map(_._2).toSet
      truth.intersect(got).size / 10.0
    }
    val avg = recalls.sum / recalls.size
    info(f"fromIndex sharded recall@10 = $avg%.3f")
    assert(avg >= 0.70)
    // mutations compose with the loaded state
    assert(router.deleteByKey("7"))
    assert(router.numPoints == 499)
    assert(router.idForKey("7").isEmpty)
    val (_, gid) = router.insert(all.head._2, Some("fresh"))
    assert(router.idForKey("fresh").contains(gid))
    // deletes in the snapshot -> per-shard freelists: inserts recycle
    // each shard's free slots LIFO in the snapshot's freelist order,
    // with a post-load delete's slot on top of them
    val idxDel = idx.deleteBatch(Seq(13L, 77L, 260L))
    val fleet = ShardedServing.fromIndex(idxDel, numShards = 4)
    assert(fleet.numPoints == 497)
    def freeGids(s: Int): Seq[Long] =
      idxDel.meta.freelist.filter(g => math.floorMod(g, 4L) == s).map(_ + 1L)
    assert((0 until 4).exists(freeGids(_).size >= 2),
      "fixture: some shard must hold two snapshot-free slots")
    val gid42 = fleet.idForKey("42").get
    assert(fleet.deleteByKey("42"))
    val stacks = Array.tabulate(4)(s =>
      freeGids(s) ++ Seq(gid42).filter(g => math.floorMod(g - 1L, 4L) == s))
    val recycled = (0 until 4).flatMap(stacks(_)).toSet
    // auto-keyed inserts round-robin over shards 0, 1, 2, 3, 0, ...
    (0 until 12).foreach { i =>
      val gid = fleet.insert(all.head._2)._2
      val st = stacks(i % 4)
      if (st.nonEmpty) { assert(gid == st.last, s"insert $i"); stacks(i % 4) = st.init }
      else assert(!recycled.contains(gid), s"insert $i")
    }
    assert(stacks.forall(_.isEmpty))
  }

  test("materialized fleet layout: restarts reuse it, versions invalidate it, vacuum reaps it") {
    import org.apache.spark.sql.functions._
    val embeddings = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = tmpDir("sharded-fleetlayout")
    val idx = VectorIndex.build(spark, path,
      embeddings.filter(col("id") < 200), dim = 64, maxDegree = 16)
    val r1 = ShardedServing.fromIndex(idx, numShards = 4)
    // the layout published under the index: marker LAST, naming the
    // builder's unique build dir (cross-JVM first-writer-wins publish)
    val marker = new java.io.File(s"$path/fleet-n=4-v=0/fleet.json")
    assert(marker.exists())
    val dataDir = {
      val j = new String(java.nio.file.Files.readAllBytes(marker.toPath))
      val m = "\"data_dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(j)
      assert(m.isDefined, s"marker must name its data dir: $j")
      m.get.group(1)
    }
    assert(dataDir.startsWith("build-"))
    assert(new java.io.File(s"$path/fleet-n=4-v=0/$dataDir/_SUCCESS").exists())
    // the layout holds exactly the projected rows: per shard, the
    // collected fleet rows equal the projection plan's rows
    def rowSet(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getInt(0), r.getLong(1), r.getString(2),
        r.getSeq[Float](3).toVector, r.getSeq[Long](4).toVector)).toSet
    val (planDf, base) = ShardedServing.shardRowsPlan(idx, numShards = 4)
    val planned = try rowSet(planDf.collect().toSeq) finally base.unpersist()
    val layout = rowSet((0 until 4).flatMap(s =>
      ShardedServing.fleetRows(idx, numShards = 4, s).collect().toSeq))
    assert(planned.size == 200)
    assert(layout == planned)
    // a restart serves bit-identically to the first load
    val r2 = ShardedServing.fromIndex(idx, numShards = 4)
    val all = embeddings.filter(col("id") < 200).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rng = new Random(31)
    rng.shuffle(all.toList).take(15).foreach { case (_, q) =>
      assert(r2.search(q, topk = 10) == r1.search(q, topk = 10))
    }
    // a mutation commits a new version: the NEXT load derives a fresh
    // layout (version-keyed — never a stale serve), and vacuum reaps
    // the superseded one while keeping the current
    val idx2 = idx.insertBatch(embeddings.filter(col("id").between(200, 209))
      .select(concat(lit("n_"), col("id")).as("key"), col("vec")))
    val r3 = ShardedServing.fromIndex(idx2, numShards = 4)
    assert(r3.numPoints == 210)
    assert(r3.idForKey("n_205").isDefined)
    assert(new java.io.File(s"$path/fleet-n=4-v=1/fleet.json").exists())
    assert(idx2.vacuum() >= 1) // at least the v=0 fleet layout
    assert(!new java.io.File(s"$path/fleet-n=4-v=0").exists())
    assert(new java.io.File(s"$path/fleet-n=4-v=1/fleet.json").exists())
    // and a post-vacuum restart still serves from the surviving layout
    assert(ShardedServing.fromIndex(idx2, numShards = 4).numPoints == 210)
  }

  test("fleet layout: readers resolve the data dir through the published marker (cross-JVM publish contract)") {
    import org.apache.spark.sql.functions._
    val embeddings = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = tmpDir("sharded-fleetmarker")
    val idx = VectorIndex.build(spark, path,
      embeddings.filter(col("id") < 120), dim = 64, maxDegree = 16)
    val r1 = ShardedServing.fromIndex(idx, numShards = 3)
    val dir = new java.io.File(s"$path/fleet-n=3-v=0")
    def buildDirs = dir.listFiles().map(_.getName).filter(_.startsWith("build-")).toSeq
    assert(buildDirs.size == 1)
    val published = buildDirs.head
    // simulate a FOREIGN JVM having won the marker race: replace the
    // marker with one naming the same complete layout under a foreign
    // identity — this JVM must serve THROUGH the marker, not probe a
    // fixed path or rebuild (the corrupt-interleave scenario requires
    // two writers in one dir; the protocol makes that unreachable)
    val marker = java.nio.file.Paths.get(s"$path/fleet-n=3-v=0/fleet.json")
    val foreign =
      s"""{"num_shards":3,"version":0,"dim":64,"eltype":"Float32","data_dir":"$published/data"}"""
    java.nio.file.Files.writeString(marker, foreign)
    val r2 = ShardedServing.fromIndex(idx, numShards = 3)
    assert(buildDirs.size == 1, "a published marker must suppress any new build")
    val all = embeddings.filter(col("id") < 120).collect()
      .map(r => r.getSeq[Float](1).toArray)
    new Random(47).shuffle(all.toList).take(10).foreach { q =>
      assert(r2.search(q, topk = 8) == r1.search(q, topk = 8))
    }
  }

  test("a fleet marker missing data_dir or eltype is refused, naming the marker") {
    val ss = spark
    import ss.implicits._
    val vecs = mkVecs(60, 16, 5).toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val path = tmpDir("sharded-oldmarker")
    val idx = VectorIndex.build(spark, path, vecs.toDF("id", "vec"), dim = 16, maxDegree = 8)
    assert(ShardedServing.fromIndex(idx, numShards = 2).numPoints == 60)
    val dir = s"$path/fleet-n=2-v=0"
    val marker = java.nio.file.Paths.get(s"$dir/fleet.json")
    val published = java.nio.file.Files.readString(marker)
    Seq("data_dir", "eltype").foreach { k =>
      val stripped = published.replaceAll(s""","$k":"[^"]*"""", "")
      assert(!stripped.contains(k), stripped)
      java.nio.file.Files.writeString(marker, stripped)
      val e = intercept[IllegalArgumentException] {
        ShardedServing.fromIndex(idx, numShards = 2)
      }
      assert(e.getMessage.contains(s"$dir/fleet.json") && e.getMessage.contains(k), e.getMessage)
      assert(e.getMessage.contains(s"delete the fleet directory $dir"), e.getMessage)
      intercept[IllegalArgumentException] { ShardedServing.loadShard(idx, numShards = 2, 1) }
    }
    // deleting the directory, as the error says, rebuilds the layout
    ArtifactStore.current.deleteTree(dir)
    assert(ShardedServing.fromIndex(idx, numShards = 2).numPoints == 60)
    assert(java.nio.file.Files.readString(marker).contains("\"eltype\""))
  }

  test("Float16 storage rides through the fleet: layout packed binary16, marker records eltype, restarts/loadShard bit-identical, half-precision tolerances vs Float32 (r16 item 6)") {
    import org.apache.spark.sql.functions._
    val subset = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .filter(col("id") < 300)
    val p16 = tmpDir("fleet-half")
    val p32 = tmpDir("fleet-full")
    val idx16 = VectorIndex.build(spark, p16, subset, dim = 64, maxDegree = 16,
      eltype = "Float16")
    val idx32 = VectorIndex.build(spark, p32, subset, dim = 64, maxDegree = 16)
    val fleet16 = ShardedServing.fromIndex(idx16, numShards = 4)
    val fleet32 = ShardedServing.fromIndex(idx32, numShards = 4)
    // the marker records the storage eltype; the layout's vec column
    // is binary16-packed BINARY — the reference's T=Float16 footprint
    // carried through the serving layout, not widened to float32
    val marker = new java.io.File(s"$p16/fleet-n=4-v=0/fleet.json")
    val mj = new String(java.nio.file.Files.readAllBytes(marker.toPath))
    assert(mj.contains("\"eltype\":\"Float16\""), mj)
    val dataDir16 = "\"data_dir\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(mj).get.group(1)
    val schema = spark.read.parquet(s"$p16/fleet-n=4-v=0/$dataDir16").schema
    assert(schema("vec").dataType == org.apache.spark.sql.types.BinaryType,
      s"Float16 layout must store packed vectors, got ${schema("vec").dataType}")
    // footprint: the packed layout is substantially smaller than the
    // float32 fleet's (2 vs 4 bytes/component, shared framing)
    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(new java.io.File(d))
    }
    val mj32 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p32/fleet-n=4-v=0/fleet.json")))
    val dataDir32 = "\"data_dir\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(mj32).get.group(1)
    val b16 = dirBytes(s"$p16/fleet-n=4-v=0/$dataDir16")
    val b32 = dirBytes(s"$p32/fleet-n=4-v=0/$dataDir32")
    info(s"fleet layout: Float16=$b16 bytes vs Float32=$b32 bytes")
    assert(b16 < (b32 * 3) / 4, s"binary16 fleet layout not smaller: $b16 vs $b32")
    // restart (layout read) and per-node loadShard assembly serve
    // BIT-identically to the first load — decode(pack(decode(x))) is
    // exact for already-quantized values
    val restart = ShardedServing.fromIndex(idx16, numShards = 4)
    val assembled = new ShardedServing(dim = 64, numShards = 4, maxDegree = 16)
    (0 until 4).foreach { s =>
      assembled.installShard(s, ShardedServing.loadShard(idx16, numShards = 4, s))
    }
    val all = subset.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rng = new Random(59)
    rng.shuffle(all.toList).take(15).foreach { case (_, q) =>
      val a = fleet16.search(q, topk = 10)
      assert(restart.search(q, topk = 10) == a)
      assert(assembled.search(q, topk = 10) == a)
    }
    // half-precision tolerances vs the Float32 fleet: stored vectors
    // within the reference's atol 1e-2 (binary16 rel 2^-11 is far
    // tighter on [-2,2) data), self-query still resolves to self
    all.take(10).foreach { case (id, want) =>
      val got = fleet16.embeddingById(id + 1)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) <= 1e-2) }
      assert(fleet16.search(want, topk = 1).head._2 == id + 1)
      assert(fleet32.embeddingById(id + 1).sameElements(want))
    }
  }

  test("loadShard: per-serving-node shards assemble into a fleet identical to fromIndex's") {
    import org.apache.spark.sql.functions._
    val embeddings = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val path = tmpDir("sharded-pernode")
    val idx = VectorIndex.build(spark, path, embeddings, dim = 64, maxDegree = 16)
      .deleteBatch(Seq(5L, 9L, 412L))
    val fleet = ShardedServing.fromIndex(idx, numShards = 4)
    // the multi-JVM path: each "serving node" loads exactly its own
    // shard independently (no registry, no driver fleet), assembled
    // here behind one in-process router for comparison
    val assembled = new ShardedServing(dim = 64, numShards = 4, maxDegree = 16)
    (0 until 4).foreach { s =>
      assembled.installShard(s, ShardedServing.loadShard(idx, numShards = 4, s))
    }
    assert(assembled.numPoints == fleet.numPoints)
    assert(assembled.allKeys == fleet.allKeys)
    val all = embeddings.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rng = new Random(23)
    rng.shuffle(all.toList).take(25).foreach { case (_, q) =>
      assert(assembled.search(q, topk = 10) == fleet.search(q, topk = 10))
      assert(assembled.rangeSearch(q, radius = 0.85) ==
        fleet.rangeSearch(q, radius = 0.85))
    }
    // freelist/entry parity: the recycled slot a post-load insert
    // takes agrees (per-node finishLoad == fleet finishLoad)
    val v = all.head._2
    assert(assembled.insert(v, Some("node-k"))._2 == fleet.insert(v, Some("node-k"))._2)
    assert(assembled.deleteByKey("7") == fleet.deleteByKey("7"))
  }

  test("an explicit key equal to another shard's auto-key stays unique router-wide") {
    val dim = 8
    val vecs = mkVecs(12, dim, 6)
    val router = new ShardedServing(dim, numShards = 4, maxDegree = 8)
    // round-robin auto-keyed inserts: auto-keys are "1","2","3",...
    val auto = vecs.take(8).map(v => router.insert(v))
    // pick an auto-key whose HASH-routed shard differs from where the
    // auto-keyed vector actually lives (round-robin placement), then
    // register it explicitly
    val victim = auto.find { case (k, gid) =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(k), 4) != ((gid - 1) % 4).toInt
    }.getOrElse(fail("no auto-key with divergent hash route in the first 8 — adjust fixture"))
    val (vKey, vGid) = victim
    val (_, newGid) = router.insert(vecs(10), Some(vKey))
    assert(newGid != vGid)
    // the key must resolve to the NEW vector (not the stale auto-keyed
    // copy in the round-robin shard), exactly like single-node Q7
    assert(router.idForKey(vKey).contains(newGid))
    // the old vector stays live, just keyless
    assert(router.numPoints == 9)
    // deleteByKey removes only the new mapping and never resurrects the old
    assert(router.deleteByKey(vKey))
    assert(router.idForKey(vKey).isEmpty)
  }
}
