package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]. */
final case class Outcome(endToEnd: Seq[Metric], perLayer: Seq[Metric], notes: Seq[String])

final case class Metric(name: String, value: Double, unit: String)

/** Output checks and operation failures, by check name. Every failure
  * counts against `failed`; `correct` holds only when none failed. */
final class Checks {
  private val m = mutable.LinkedHashMap.empty[String, Array[Long]]
  def record(name: String, ok: Boolean): Unit = count(name, 1, if (ok) 0 else 1)
  def count(name: String, attempted: Long, failed: Long): Unit = synchronized {
    val a = m.getOrElseUpdate(name, Array(0L, 0L))
    a(0) += attempted; a(1) += failed
  }
  def attempted: Long = synchronized(m.values.map(_(0)).sum)
  def failed: Long = synchronized(m.values.map(_(1)).sum)
  def failures: Seq[String] = synchronized(m.collect { case (k, a) if a(1) > 0 => s"$k(${a(1)}/${a(0)})" }.toSeq)
  def summary: String = synchronized(m.map { case (k, a) => s"$k=${a(1)}/${a(0)}" }.mkString(" "))
}

/** Inputs a run shares with its workload. */
final class Ctx(val seed: Long, val seconds: Double, val tracer: Tracer, val tmp: java.io.File) {
  val checks = new Checks
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Array[Long], p: Double): Long = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def seconds(ns: Long): Double = ns / 1e9

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    (seconds(System.nanoTime() - t0), r)
  }

  /** CPU time of the calling thread so far, at nanosecond resolution. */
  def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** CPU time per live application thread. The JIT compiler's and the
    * collector's threads are not application threads, so compiling a
    * cold JVM's code does not count; a thread that ends inside the
    * measured interval takes its CPU time with it. On a guest kernel
    * with paravirtual steal accounting, thread CPU time excludes time
    * the hypervisor gave to other guests, which wall time does not. */
  def threadCpu(): Map[Long, Long] = {
    val t = ManagementFactory.getThreadMXBean
    t.getAllThreadIds.map(id => id -> t.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** (wall seconds, application-thread CPU seconds, result) of `body`. */
  def timedCpu[T](body: => T): (Double, Double, T) = {
    val c0 = threadCpu()
    val (wall, r) = timed(body)
    (wall, seconds(cpuSince(c0, threadCpu())), r)
  }

  /** Application-thread CPU ns between two [[threadCpu]] snapshots. */
  def cpuSince(before: Map[Long, Long], now: Map[Long, Long]): Long =
    now.iterator.map { case (id, c) => c - before.getOrElse(id, 0L) }.sum

  /** Heap in use after full collections, in MB. Spark's context
    * cleaner drops broadcast blocks and other state on its own thread
    * once a collection has found their handles unreachable, so this
    * collects until the heap stops shrinking (at most 8 rounds). */
  def heapAfterGcMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var rounds = 1
    var shrank = true
    while (shrank && rounds < 8) {
      Thread.sleep(250)
      val now = used()
      shrank = now < last - 0.5
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  /** Waits (at most 2 s) until the JIT compiler has been idle for
    * 300 ms, so the next phase starts on compiled code; returns the
    * seconds waited. */
  def settleJit(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() - t0 < 2000000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
    seconds(System.nanoTime() - t0)
  }

  /** (collections, seconds spent collecting) so far in this JVM. */
  def gcTotals(): (Long, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionCount)).sum,
      beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0)
  }
}

/** Brute-force nearest neighbours, the reference the ANN results are
  * scored against. Written here rather than borrowed from the program,
  * so a distance bug in the program cannot hide in its own truth. */
object Truth {
  def sqL2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** For each query, the ids (indexes into `ids`/`vecs`) of its `k`
    * nearest vectors, nearest first, ties broken by smaller id. */
  def topK(queries: Array[Array[Float]], ids: Array[Int], vecs: Array[Array[Float]], k: Int,
      dist: (Array[Float], Array[Float]) => Double): Array[Array[Int]] =
    java.util.stream.IntStream.range(0, queries.length).parallel().mapToObj[Array[Int]] { qi =>
      val q = queries(qi)
      val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
        (a: (Double, Int), b: (Double, Int)) =>
          if (a._1 != b._1) java.lang.Double.compare(b._1, a._1) else Integer.compare(b._2, a._2))
      var i = 0
      while (i < ids.length) {
        val d = dist(q, vecs(i))
        if (heap.size < k) heap.add((d, ids(i)))
        else {
          val top = heap.peek()
          if (d < top._1 || (d == top._1 && ids(i) < top._2)) { heap.poll(); heap.add((d, ids(i))) }
        }
        i += 1
      }
      heap.asScala.toArray.sortBy(p => (p._1, p._2)).map(_._2)
    }.toArray(n => new Array[Array[Int]](n))

  /** Share of the true top-k found, over all queries. */
  def recall(found: Array[Array[Int]], truth: Array[Array[Int]]): Double = {
    var hit = 0L; var all = 0L
    found.indices.foreach { i =>
      val t = truth(i).toSet
      hit += found(i).count(t.contains); all += truth(i).length
    }
    hit.toDouble / all
  }
}

/** Per-layer numbers from recorded spans. */
object Layers {
  def us(ns: Long): Double = ns / 1000.0

  /** `<name>.{calls,p50_us,p99_us,busy_s}`; zeros when the layer did not run. */
  def callStats(prefix: String, spans: Seq[Span], withP99: Boolean = true): Seq[Metric] = {
    val d = spans.map(_.durNs).toArray
    def pct(p: Double) = if (d.isEmpty) 0.0 else us(Stats.percentile(d, p))
    Seq(Metric(s"$prefix.calls", d.length.toDouble, "count"),
      Metric(s"$prefix.p50_us", pct(50), "us")) ++
      (if (withP99) Seq(Metric(s"$prefix.p99_us", pct(99), "us")) else Nil) ++
      Seq(Metric(s"$prefix.busy_s", Stats.seconds(d.sum), "s"))
  }
}
