package perfbench

import java.util.SplittableRandom

/** A fixed reference kernel that tells how fast the host runs right
  * now. On shared guests the CPU time of the same work drifts by a
  * quarter or more over minutes (frequency, cache and sibling-thread
  * contention from other tenants; the hypervisor's steal accounting
  * does not see it), and it drifts alike for the program's work and
  * for this kernel when the work is, like the kernel's, float distance
  * arithmetic. The vector workloads' query CPU time is therefore scaled
  * by `ReferenceNs` over the kernel's median CPU time in the run: it
  * reads as CPU time on a host where the kernel takes `ReferenceNs`.
  *
  * The kernel has the shape of a graph search's inner loop: squared
  * Euclidean distances from 16 query vectors to 4096 rows of 100
  * floats (1.6 MB, about a per-core L2), the rows visited in a fixed
  * random order. Its data is fixed, not drawn from the run's seed, and
  * it calls nothing in the program, so no change to the program can
  * change its cost. */
object Calibration {
  private val Dim = 100
  private val Rows = 4096
  private val Queries = 16

  /** The kernel's CPU time on the host the benchmark was tuned on
    * (4-vCPU guest, Xeon, JDK 17), in ns. */
  val ReferenceNs = 6.0e6

  private val (rows, queries, order) = {
    val r = new SplittableRandom(0x5EEDL)
    val rows = Array.fill(Rows * Dim)(r.nextDouble().toFloat)
    val queries = Array.fill(Queries * Dim)(r.nextDouble().toFloat)
    val order = Array.range(0, Rows)
    for (i <- Rows - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    (rows, queries, order)
  }

  @volatile private var sink = 0.0

  /** CPU ns the calling thread spends on one pass of the kernel. */
  def unitNs(): Long = {
    val c0 = Stats.threadCpuNs()
    var acc = 0.0
    var q = 0
    while (q < Queries) {
      val qo = q * Dim
      var k = 0
      while (k < Rows) {
        val ro = order(k) * Dim
        var s = 0f
        var i = 0
        while (i < Dim) {
          val d = rows(ro + i) - queries(qo + i)
          s += d * d
          i += 1
        }
        acc += s
        k += 1
      }
      q += 1
    }
    sink += acc
    Stats.threadCpuNs() - c0
  }
}
