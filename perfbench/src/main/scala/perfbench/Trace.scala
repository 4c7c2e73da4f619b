package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import graft.index.ShardRpc

/** One timed call into a layer. Times are `System.nanoTime`; the wall
  * clock window (ms) is kept as well so Spark stage submissions, which
  * carry wall-clock times, can be matched to the span they ran in. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** Outside-in span recorder for the traced run. Spans are kept in memory
  * and read once the workload ends. A disabled tracer runs the body and
  * records nothing, which is what the end-to-end runs use. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  // parents for spans opened on threads the benchmark does not own
  // (the router's scatter pool), keyed by the request object's identity
  private val bound = new ConcurrentHashMap[AnyRef, (Long, Long)]()
  private val mutedHere = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Runs `body` on this thread without recording spans. */
  def muted[T](body: => T): T = {
    val was = mutedHere.get()
    mutedHere.set(true)
    try body finally mutedHere.set(was)
  }

  /** Whether spans opened on this thread are being recorded. */
  def recording: Boolean = enabled && !mutedHere.get()

  /** Records `body` as span `name`. The parent is the innermost open
    * span on this thread; with `parentOf`, it is the span that bound
    * that object, and nothing is recorded if none did. A span without
    * a parent starts a new request id. */
  def span[T](name: String, bind: AnyRef = null, parentOf: AnyRef = null)(body: => T): T =
    if (!recording) body
    else {
      val outer = stack.get()
      val from = if (parentOf == null) outer.headOption else Option(bound.get(parentOf))
      if (parentOf != null && from.isEmpty) body else record(name, bind, outer, from)(body)
    }

  private def record[T](name: String, bind: AnyRef, outer: List[(Long, Long)],
      from: Option[(Long, Long)])(body: => T): T = {
    val id = ids.incrementAndGet()
    val (parent, req) = from.getOrElse((0L, id))
    if (bind != null) bound.put(bind, (id, req))
    stack.set((id, req) :: outer)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (bind != null) bound.remove(bind)
      spans.add(Span(id, parent, req, name, t0, t1, startMs, System.currentTimeMillis()))
    }
  }

  /** Id of the innermost open span on this thread (0 when none). */
  def currentId: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  def recorded: Seq[Span] = spans.asScala.toSeq
}

/** Times each per-shard call of a [[ShardRpc.Router]]; the span's
  * parent is the router span bound to the same query array. */
final class TimedPart(inner: ShardRpc.ShardPart, tracer: Tracer) extends ShardRpc.ShardPart {
  def shard: Int = inner.shard
  def searchLocal(q: Array[Float], topk: Int, ef: Int): IndexedSeq[(Option[String], Long, Double)] =
    tracer.span("ShardRpc.shard", parentOf = q)(inner.searchLocal(q, topk, ef))
  override def close(): Unit = inner.close()
}

/** Task and stage counters of the Spark jobs run inside spans.
  * Each submitted stage is attributed to a span by the job group the
  * benchmark set around the call; stages whose group is missing or
  * stale (jobs a layer starts from its own threads, which may have
  * inherited an older group) go to the Spark span whose wall-clock
  * window holds the stage's submission time. */
final class SparkCounters(sc: SparkContext, tracer: Tracer) extends SparkListener {
  import SparkCounters._

  private final case class Stage(submittedMs: Long, group: Option[String])
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val perStage = new ConcurrentHashMap[Int, Acc]()
  private val sparkSpans = ConcurrentHashMap.newKeySet[Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    stages.put(e.stageInfo.stageId,
      Stage(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = perStage.computeIfAbsent(e.stageId, _ => new Acc)
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
      }
    }
  }

  /** Runs `body` as Spark span `name`, tagging its jobs with the span. */
  def span[T](name: String)(body: => T): T =
    if (!tracer.recording) body
    else tracer.span(name) {
      val id = tracer.currentId
      sparkSpans.add(id)
      sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Per span name: stages, tasks, cpu seconds and byte counters of the
    * stages attributed to spans of that name. Call after the jobs end. */
  def byName(): Map[String, Acc] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val spans = tracer.recorded.filter(s => sparkSpans.contains(s.id))
    val byId = spans.map(s => s.id -> s).toMap
    def within(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    val out = scala.collection.mutable.Map.empty[String, Acc]
    stages.asScala.foreach { case (stageId, st) =>
      val owner = st.group.flatMap(g => byId.get(idOf(g))).filter(within(_, st.submittedMs))
        .orElse(spans.find(within(_, st.submittedMs)))
      owner.foreach { s =>
        val a = out.getOrElseUpdate(s.name, new Acc)
        a.stages += 1
        Option(perStage.get(stageId)).foreach(a.add)
      }
    }
    out.toMap
  }
}

object SparkCounters {
  final class Acc {
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    def add(o: Acc): Unit = o.synchronized {
      tasks += o.tasks; cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }
  private val Prefix = "perfbench-span-"
  private def groupOf(id: Long) = s"$Prefix$id"
  private def idOf(group: String): Long =
    if (group.startsWith(Prefix)) group.drop(Prefix.length).toLongOption.getOrElse(-1L) else -1L
}
