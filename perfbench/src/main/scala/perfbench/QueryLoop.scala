package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable.ArrayBuffer

/** A closed loop of `clients` clients: together they issue `op(i)` for
  * i = 0, 1, 2, ... until the deadline, each client calling again only
  * once its previous call returned, and every call is timed. In the
  * traced run, blocks of `block` calls alternate between traced and
  * untraced, so the run can report its own tracing overhead from the
  * two halves. Every `cpuBlock` calls the loop also takes the
  * application threads' CPU time, so a run reports the median CPU cost
  * of its blocks, and the client that closed the block then runs one
  * pass of the [[Calibration]] kernel, whose CPU time is left out of
  * the blocks. */
final class QueryLoop(tracer: Tracer, block: Int, cpuBlock: Int, clients: Int = 1) {
  val latNs = ArrayBuffer.empty[Long]
  val traced = ArrayBuffer.empty[Boolean]
  /** Application-thread CPU ns per call, one value per whole block. */
  val blockCpuNs = ArrayBuffer.empty[Double]
  /** CPU ns of each calibration pass run between blocks. */
  val calibNs = ArrayBuffer.empty[Double]
  var settleS = 0.0

  /** Untimed calls before the timed loop, so the timed calls run on
    * compiled code and filled caches, then a wait for the compiler. */
  def warmup(calls: Int)(op: Int => Unit): Unit = {
    tracer.muted((0 until calls).foreach(op))
    (0 until 20).foreach(_ => Calibration.unitNs())
    settleS = Stats.settleJit()
  }

  /** Runs until `deadlineNs`, calling at least `minCalls` times. */
  def run(deadlineNs: Long, minCalls: Int, first: Int = 0)(op: Int => Unit): Unit = {
    val next = new AtomicInteger()
    var cpu0 = Stats.threadCpu()
    var calibSince = 0L
    def client(): Unit = {
      val lat = ArrayBuffer.empty[Long]
      val tr = ArrayBuffer.empty[Boolean]
      var i = next.getAndIncrement()
      while (i < minCalls || System.nanoTime() < deadlineNs) {
        val on = tracer.enabled && (i / block) % 2 == 0
        val t0 = System.nanoTime()
        if (on) op(first + i) else tracer.muted(op(first + i))
        lat += System.nanoTime() - t0
        tr += on
        if ((i + 1) % cpuBlock == 0) {
          synchronized {
            val cpu = Stats.threadCpu()
            blockCpuNs += (Stats.cpuSince(cpu0, cpu) - calibSince).toDouble / cpuBlock
            cpu0 = cpu
            calibSince = 0L
          }
          val c = Calibration.unitNs()
          synchronized { calibNs += c.toDouble; calibSince += c }
        }
        i = next.getAndIncrement()
      }
      synchronized { latNs ++= lat; traced ++= tr }
    }
    if (clients == 1) client()
    else {
      val failure = new AtomicReference[Throwable]()
      val threads = (0 until clients).map { c =>
        new Thread(() => try client() catch { case e: Throwable => failure.compareAndSet(null, e) },
          s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Option(failure.get).foreach(e => throw e)
    }
  }
}

object QueryLoop {
  /** Median latency of the traced calls minus that of the untraced
    * ones, in ms (0 when the run was not traced). */
  def overheadMs(loops: Seq[QueryLoop]): Double = {
    val pairs = loops.flatMap(l => l.latNs.zip(l.traced))
    val on = pairs.collect { case (l, true) => l.toDouble }
    val off = pairs.collect { case (l, false) => l.toDouble }
    if (on.isEmpty || off.isEmpty) 0.0 else (Stats.median(on) - Stats.median(off)) / 1e6
  }
}
