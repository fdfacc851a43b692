package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span: a call the benchmark made into one layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      opId: Long, opType: String, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span and count recorder for the traced run. Spans nest
  * through a stack, because every call the benchmark traces runs on its
  * one client thread; nothing is written until [[writeJsonl]] at the end.
  * Disabled, every method is a pass-through.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var opId: Long = 0L
  var opType: String = "setup"
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, layer, opId, opType, t0, t1)
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def get(name: String): Double = counts.getOrElse(name, 0.0)

  /** Durations (ns) of every span with this name. */
  def durations(name: String): Seq[Long] = spans.iterator.filter(_.name == name).map(_.nanos).toSeq

  /** Self time in seconds per (layer, op type): each span's duration minus
    * its children's. Children run on the same thread inside their parent,
    * so their durations never overlap and the sum is the covered part.
    */
  def selfSeconds: Map[(String, String), Double] = {
    val child = mutable.HashMap.empty[Int, Long]
    spans.foreach(s => if (s.parent >= 0) child(s.parent) = child.getOrElse(s.parent, 0L) + s.nanos)
    spans.groupBy(s => (s.layer, s.opType)).map { case (k, ss) =>
      k -> ss.iterator.map(s => math.max(0L, s.nanos - child.getOrElse(s.id, 0L))).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
          s""""op":${s.opId},"op_type":"${s.opType}","start_ns":${s.start},"end_ns":${s.end}}""")
      }
      counts.foreach { case (k, v) => w.println(s"""{"count":"$k","value":$v}""") }
    } finally w.close()
  }
}

/** Per-op task totals, gathered from Spark's listener bus. */
final class OpTasks {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var lastFinishMs = 0L
}

/** An op type's ops, their wall time and their tasks' totals. */
final class OpTypeTotals {
  var ops, wallS, tasks, cpuS, runS, gcS, shuffleMb = 0.0
}

/** Attributes every task to the benchmark op whose job group launched it
  * (job group id `perfbench-<op id>`).
  */
final class OpListener extends SparkListener {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  private val ops = new java.util.concurrent.ConcurrentHashMap[Long, OpTasks]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith("perfbench-")) {
      val op = g.stripPrefix("perfbench-").toLong
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op != null && e.taskMetrics != null) {
      val t = ops.computeIfAbsent(op.longValue, _ => new OpTasks)
      t.synchronized {
        t.tasks += 1
        t.cpuNs += e.taskMetrics.executorCpuTime
        t.runMs += e.taskMetrics.executorRunTime
        t.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        t.lastFinishMs = math.max(t.lastFinishMs, e.taskInfo.finishTime)
      }
    }
  }

  /** Totals of one finished op; call after the listener bus drained. */
  def take(op: Long): OpTasks = Option(ops.remove(op)).getOrElse(new OpTasks)
}
