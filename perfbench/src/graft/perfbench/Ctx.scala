package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ContainerIO, Manifests}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      root: String, scale: Double, out: String)

/** The op types every workload reports; each maps to the end-to-end metric
  * of the same stem.
  */
object OpTypes {
  val all: Seq[String] = Seq("encode", "write", "append", "decode", "scan", "select", "dml")
}

/** Shared state of one benchmark run: the closed-loop op runner, latency
  * and throughput samples, the correctness tally, and the trace.
  */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace,
                val listener: Option[OpListener]) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Samples are recorded only while `timed`; set-up and warm-up ops are
    * still checked and counted.
    */
  var timed = false
  /** Op types the workload runs only in set-up: their samples come from
    * the set-up repetitions after the second; the first two run cold or
    * still compiling.
    */
  var setupSampled: Set[String] = Set.empty
  var inSetup = false
  /** Traced runs split the loop: the first half runs with spans off. */
  var tracedHalf = false
  val latencyMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val mbPerS: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val untracedMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val tracedMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val setupS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val env: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Per op type: ops, wall seconds, and their Spark task totals. */
  val opSpark: mutable.LinkedHashMap[String, OpTypeTotals] = mutable.LinkedHashMap.empty
  var storedRatio = 0.0
  /** Traced runs: the replay of the workload's stored bytes. */
  var replay: Replay = _
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var nextOp = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def fail(msg: String): Unit = { failed += 1; failures += msg; log(s"FAILED $msg") }

  /** Run one op of `kind` as the closed-loop client: time it, record the
    * sample, then check its result untimed. `rawBytes` > 0 also records
    * a raw-MB/s sample; `layer` is the module whose entry point the op
    * calls. A thrown exception or a wrong result is a failed op; the value
    * is returned only when the op ran.
    */
  def op[T](kind: String, rawBytes: Long = 0L, layer: String = "sources")(body: => T)(
      check: T => Option[String]): Option[T] = {
    if (timed && args.trace) {
      tracedHalf = System.nanoTime() >= half
      traceOn(tracedHalf)
    }
    nextOp += 1
    attempted += 1
    val id = nextOp
    val outer = (trace.opId, trace.opType)
    trace.opId = id
    trace.opType = kind
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-$id", kind, interruptOnCancel = false)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val res = try Right(span(layer, kind)(body)) catch { case NonFatal(e) => Left(e) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val endMs = System.currentTimeMillis()
    trace.opId = outer._1
    trace.opType = outer._2
    sc.clearJobGroup()
    listener.foreach { l =>
      org.apache.spark.PerfBenchBus.drain(sc)
      val t = l.take(id)
      val a = opSpark.getOrElseUpdate(kind, new OpTypeTotals)
      a.ops += 1
      a.wallS += wallS
      a.tasks += t.tasks
      a.cpuS += t.cpuNs / 1e9
      a.runS += t.runMs / 1e3
      a.gcS += gcS
      a.shuffleMb += t.shuffleWriteBytes / 1e6
      if ((kind == "write" || kind == "append") && t.lastFinishMs > 0) {
        trace.add("sources.commit_ms.sum", (endMs - t.lastFinishMs).toDouble)
        trace.add("sources.commit_ms.n", 1)
      }
    }
    res match {
      case Left(e) =>
        fail(s"$kind op $id threw ${e.getClass.getName}: ${e.getMessage}")
        None
      case Right(v) =>
        if (timed || (inSetup && setupS.size >= 2 && setupSampled(kind))) {
          latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wallS * 1e3
          if (rawBytes > 0) mbPerS.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += rawBytes / 1e6 / wallS
          val half = if (tracedHalf) tracedMs else untracedMs
          half.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wallS * 1e3
        }
        try check(v).foreach(m => fail(s"$kind op $id wrong: $m"))
        catch { case NonFatal(e) => fail(s"$kind op $id check threw ${e.getMessage}") }
        Some(v)
    }
  }

  /** The JVM's collection time so far, every collector: in local mode
    * Spark's scheduler and its executors share this JVM.
    */
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** A full collection, untimed, so every set-up repetition and the loop
    * start from the same heap state instead of inheriting the previous
    * step's garbage.
    */
  def settle(): Unit = System.gc()

  /** Spans recorded in `body` count toward the pseudo op type `name`. */
  def phase[T](name: String)(body: => T): T = {
    trace.opType = name
    body
  }

  /** One set-up repetition, timed as a `setup_s` sample. */
  def setupRep[T](body: => T): T = {
    settle()
    inSetup = true
    val t0 = System.nanoTime()
    val r = try body finally inSetup = false
    setupS += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Closed loop for `seconds`: `step(i)` runs the i-th seeded op (or op
    * group) until the deadline. Traced runs spend the first half with
    * spans off so the two halves give the tracing overhead.
    */
  def loop(seconds: Double)(step: Int => Unit): Unit = {
    timed = true
    val t0 = System.nanoTime()
    end = t0 + (seconds * 1e9).toLong
    half = t0 + (seconds * 5e8).toLong
    var i = 0
    while (inTime) {
      step(i)
      i += 1
    }
    timed = false
    traceOn(args.trace)
  }

  private var end = Long.MaxValue
  private var half = Long.MaxValue
  /** Before the loop's deadline: ops start only while this holds. */
  def inTime: Boolean = System.nanoTime() < end

  private var spansOn = args.trace
  def traceOn(on: Boolean): Unit = spansOn = on
  def tracing: Boolean = trace.enabled && spansOn

  /** A span only while tracing is on for this part of the run. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (tracing) trace.span(layer, name)(body) else body

  // ------------------------------------------------------------- helpers

  def hconf: org.apache.hadoop.conf.Configuration = ContainerIO.confFrom(ContainerIO.confSnapshot(spark))

  /** Bytes of every file under `dir` (data, manifests, index, sidecars). */
  def diskBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(dir))
  }

  def rmrf(dir: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new java.io.File(dir))
  }

  def dir(name: String): String = s"${args.root}/$name"

  /** Committed containers and chunks of a table (chunk index hydrated). */
  def index(path: String): (Int, Int) = {
    val conf = hconf
    val ms = Manifests.readCommitted(conf, path).filter(_.rows > 0)
      .map(Manifests.loadChunkIndex(conf, path, _))
    (ms.size, ms.map(_.chunkIndex.size).sum)
  }

  /** Traced only: the planner's own metadata reads, timed as the engine
    * layer.
    */
  def tracePlanIndex(path: String): Unit = if (tracing) span("engine", "engine.plan")(index(path))

  def names(path: String): Set[String] =
    Manifests.readCommitted(hconf, path).filter(_.rows > 0).map(_.name).toSet

  /** A DML op's rewrite share, traced only: containers it consumed over
    * the containers the table had.
    */
  def traceRewrite[T](path: String)(body: => T): T =
    if (!tracing) body
    else {
      val before = names(path)
      val r = body
      val after = names(path)
      trace.add("sources.dml_rewritten", (before -- after).size)
      trace.add("sources.dml_containers", before.size)
      r
    }
}

/** Result fingerprints: row count plus the XOR of a 64-bit hash of every
  * row, over columns in name order so column order never matters.
  */
object Fingerprint {
  def columns(df: DataFrame): Seq[Column] = df.columns.sorted.toSeq.map(c => col(s"`$c`"))

  def of(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), coalesce(bit_xor(xxhash64(columns(df): _*)), lit(0L)).as("x"))

  def collect(fp: DataFrame): (Long, Long) = {
    val r = fp.head()
    (r.getLong(0), r.getLong(1))
  }

  def apply(df: DataFrame): (Long, Long) = collect(of(df))

  def combine(a: (Long, Long), b: (Long, Long)): (Long, Long) = (a._1 + b._1, a._2 ^ b._2)

  def check(got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"fingerprint $got, expected $want")
}
