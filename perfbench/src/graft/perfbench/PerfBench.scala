package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** graft's benchmark: one seeded workload, one closed-loop client on
  * `local[<cores>]` in this JVM, timed for `--seconds`. Prints a
  * human-readable report, then one JSON result line (the last line of
  * stdout). `--trace 0` reports the end-to-end metrics; `--trace 1` the
  * per-layer metrics, the per-layer self-time table and the tracing
  * overhead. Exits 1 when any op failed or answered wrong.
  *
  *   PerfBench --workload code_read --seed 1 --seconds 10 --trace 0 --root <dir> [--scale 1.0] [--out <file>]
  */
object PerfBench {

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("root"), m.getOrElse("scale", "1.0").toDouble, m.getOrElse("out", ""))
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    new java.io.File(args.root).mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(args.root, cores)
    val listener = if (args.trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, args, new Trace(args.trace), listener)
    val code =
      try {
        runWorkload(ctx)
        report(ctx)
        if (ctx.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  def runWorkload(ctx: Ctx): Unit = {
    val w = Workloads(ctx.args.workload, ctx)
    ctx.phase("setup")(for (_ <- 0 until Workloads.SetupReps) ctx.setupRep(w.setup()))
    val t0 = System.nanoTime()
    ctx.phase("setup")(w.expect())
    ctx.phase("warmup")(w.warmup())
    ctx.env("warmup_s") = (System.nanoTime() - t0) / 1e9
    ctx.log(f"set-up ${ctx.setupS.map(s => f"$s%.2f").mkString(" ")} s, expected answers and warm-up ${ctx.env("warmup_s")} s")
    if (ctx.args.trace) {
      // the table as warm-up left it: a fixed point, so the counts repeat
      ctx.replay = new Replay(ctx)
      ctx.phase("replay")(ctx.replay.run(w.replayTable, 64))
    }
    ctx.settle()
    heapPeaks.foreach(_.resetPeakUsage())
    ctx.phase("loop")(w.run(ctx.args.seconds))
    ctx.env("heap_peak_mb") = heapPeakMb
    if (ctx.args.trace && ctx.args.out.nonEmpty) ctx.trace.writeJsonl(ctx.args.out)
  }

  private def heapPeaks = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak heap use during the loop, summed over the heap pools. */
  def heapPeakMb: Double = heapPeaks.map(_.getPeakUsage.getUsed).sum / 1e6

  // ------------------------------------------------------------ metrics

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** The tail quantile a run can support: p95 from 200 samples, else the
    * highest quantile with at least 10 samples beyond it (never below
    * the median).
    */
  def tailQ(n: Int): Double = if (n >= 200) 0.95 else math.max(0.5, 1.0 - 10.0 / n)

  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  def endToEnd(ctx: Ctx): Seq[Metric] = {
    def lat(op: String) = ctx.latencyMs.getOrElse(op, mutable.ArrayBuffer.empty[Double]).toSeq
    def thr(op: String) = ctx.mbPerS.getOrElse(op, mutable.ArrayBuffer.empty[Double]).toSeq
    def mb(name: String, op: String) = {
      val xs = thr(op)
      Metric(name, median(xs), "MB/s", s"median of ${xs.size}")
    }
    def p50(name: String, op: String) = {
      val xs = lat(op)
      Metric(name, median(xs), "ms", s"median of ${xs.size}")
    }
    def tail(name: String, op: String) = {
      val xs = lat(op)
      val q = tailQ(xs.size)
      Metric(name, math.max(median(xs), quantile(xs, q)), "ms", f"p${q * 100}%.1f of ${xs.size}")
    }
    Seq(
      Metric("setup_s", median(ctx.setupS.toSeq), "s",
        s"median of ${ctx.setupS.size}: ${ctx.setupS.map(s => f"$s%.2f").mkString(", ")}"),
      mb("encode_mb_s", "encode"),
      mb("write_mb_s", "write"),
      p50("append_p50_ms", "append"),
      tail("append_p95_ms", "append"),
      mb("decode_mb_s", "decode"),
      mb("scan_mb_s", "scan"),
      p50("select_p50_ms", "select"),
      tail("select_p95_ms", "select"),
      p50("dml_p50_ms", "dml"),
      Metric("stored_ratio", ctx.storedRatio, "ratio", "disk bytes under the table / raw bytes"),
      Metric("heap_peak_mb", ctx.env.getOrElse("heap_peak_mb", 0.0).asInstanceOf[Double], "MB",
        "heap pools, during the loop"))
  }

  def perLayer(ctx: Ctx): Seq[Metric] = {
    val t = ctx.trace
    val r = ctx.replay
    def c(k: String) = r.counts.getOrElse(k, 0.0)
    def spanMs(name: String) = { val d = t.durations(name); if (d.isEmpty) 0.0 else median(d.map(_ / 1e6)) }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val longCodecs = graft.codecs.LongCodecs.all.map(_.name)
    val strCodecs = Seq("raw", "dict", "rle", "fsst")
    val m = mutable.ArrayBuffer.empty[Metric]
    m += Metric("core.varint_get_melem_s", r.mbPerS("core.varint_get"), "Melem/s")
    m += Metric("core.varint_put_melem_s", r.mbPerS("core.varint_put"), "Melem/s")
    m += Metric("core.varint_bytes_per_value", ratio(c("core.varint_bytes"), c("core.varint_values")), "B")
    longCodecs.foreach(n => m += Metric(s"codecs.long.decode_mb_s.$n", r.mbPerS(s"codecs.long.decode.$n"), "MB/s"))
    longCodecs.foreach(n => m += Metric(s"codecs.long.encode_mb_s.$n", r.mbPerS(s"codecs.long.encode.$n"), "MB/s"))
    strCodecs.foreach(n => m += Metric(s"codecs.str.decode_mb_s.$n", r.mbPerS(s"codecs.str.decode.$n"), "MB/s"))
    strCodecs.foreach(n => m += Metric(s"codecs.str.encode_mb_s.$n", r.mbPerS(s"codecs.str.encode.$n"), "MB/s"))
    m += Metric("codecs.select_us_per_chunk", r.usPer("codecs.select"), "us")
    m += Metric("codecs.fsst_train_ms_per_chunk", r.usPer("codecs.fsst_train") / 1e3, "ms")
    longCodecs.foreach(n => m += Metric(s"codecs.blocks.long.$n", c(s"codecs.blocks.long.$n"), "count"))
    strCodecs.foreach(n => m += Metric(s"codecs.blocks.str.$n", c(s"codecs.blocks.str.$n"), "count"))
    m += Metric("codecs.ratio.long", ratio(c("codecs.long.stored_bytes"), c("codecs.long.raw_bytes")), "ratio")
    m += Metric("codecs.ratio.str", ratio(c("codecs.str.stored_bytes"), c("codecs.str.raw_bytes")), "ratio")
    m += Metric("engine.read_chunk_ms", r.usPer("engine.read_chunk") / 1e3, "ms")
    m += Metric("engine.crc_mb_s", r.mbPerS("engine.crc"), "MB/s")
    m += Metric("engine.digest_mb_s", r.mbPerS("engine.digest"), "MB/s")
    m += Metric("engine.io_mb_s", r.mbPerS("engine.io"), "MB/s")
    m += Metric("engine.derive_s", spanMs("engine.derive") / 1e3, "s")
    m += Metric("engine.plan_ms", spanMs("engine.plan"), "ms")
    m += Metric("engine.index_containers", t.get("engine.index_containers"), "count")
    m += Metric("engine.index_chunks", t.get("engine.index_chunks"), "count")
    m += Metric("sources.plan_ms", spanMs("sources.plan"), "ms")
    m += Metric("sources.chunks_scanned_ratio", t.get("sources.chunks_scanned_ratio"), "ratio")
    m += Metric("sources.rows_useful_ratio", t.get("sources.rows_useful_ratio"), "ratio")
    m += Metric("sources.commit_ms", ratio(t.get("sources.commit_ms.sum"), t.get("sources.commit_ms.n")), "ms")
    m += Metric("sources.dml_rewrite_ratio", ratio(t.get("sources.dml_rewritten"), t.get("sources.dml_containers")),
      "ratio")
    val sparkCols = Seq("tasks" -> "count", "task_cpu_s" -> "s", "task_run_s" -> "s", "gc_s" -> "s",
      "shuffle_write_mb" -> "MB", "wait_s" -> "s")
    for ((name, unit) <- sparkCols; op <- OpTypes.all) {
      val a = ctx.opSpark.getOrElse(op, new OpTypeTotals)
      val total = name match {
        case "tasks" => a.tasks
        case "task_cpu_s" => a.cpuS
        case "task_run_s" => a.runS
        case "gc_s" => a.gcS
        case "shuffle_write_mb" => a.shuffleMb
        case "wait_s" => a.wallS * ctx.cores - a.runS
      }
      m += Metric(s"spark.$name.$op", total / math.max(a.ops, 1.0), unit, s"mean per op over ${a.ops.toInt} ops")
    }
    m += Metric("trace.overhead_ratio", overhead(ctx)._1, "ratio", "traced / untraced op p50, geomean over op types")
    m.toSeq
  }

  /** Traced over untraced median op latency per op type (both halves of
    * the traced run's loop), and their geometric mean.
    */
  def overhead(ctx: Ctx): (Double, Seq[(String, Double, Double)]) = {
    val rows = OpTypes.all.flatMap { op =>
      for (u <- ctx.untracedMs.get(op); tr <- ctx.tracedMs.get(op) if u.nonEmpty && tr.nonEmpty)
        yield (op, median(u.toSeq), median(tr.toSeq))
    }
    val g = if (rows.isEmpty) 1.0 else math.exp(rows.map(x => math.log(x._3 / x._2)).sum / rows.size)
    (g, rows)
  }

  // ------------------------------------------------------------- output

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def report(ctx: Ctx): Unit = {
    val out = System.out
    val metrics = if (ctx.args.trace) perLayer(ctx) else endToEnd(ctx)
    ctx.env("workload") = ctx.args.workload
    ctx.env("seed") = ctx.args.seed
    ctx.env("seconds") = ctx.args.seconds
    ctx.env("trace") = ctx.args.trace
    ctx.env("nproc") = ctx.cores
    ctx.env("heap_max_mb") = Runtime.getRuntime.maxMemory / 1e6
    ctx.env("jdk") = System.getProperty("java.version")
    ctx.env("spark") = ctx.spark.version
    ctx.env("client") = "closed loop, 1 client"
    ctx.env("latency_ms") = OpTypes.all.map(op =>
      op -> ctx.latencyMs.getOrElse(op, mutable.ArrayBuffer.empty[Double]).map(x => math.rint(x * 10) / 10).toSeq).toMap
    out.println(s"== graft perfbench: ${ctx.args.workload}, seed ${ctx.args.seed}, " +
      s"${ctx.args.seconds} s, trace ${if (ctx.args.trace) 1 else 0}")
    metrics.foreach(x => out.println(f"  ${x.name}%-34s ${num(x.value)}%18s ${x.unit}%-8s ${x.note}"))
    val ratio = ctx.failed.toDouble / math.max(ctx.attempted, 1)
    out.println(f"  ${"failed_ops_ratio"}%-34s ${num(ratio)}%18s ${"ratio"}%-8s ${ctx.failed} of ${ctx.attempted} ops")
    if (ctx.args.trace) {
      out.println("== self time per layer and op type (s)")
      val self = ctx.trace.selfSeconds
      val layers = Seq("core", "codecs", "engine", "sources", "spark")
      val ops = self.keys.map(_._2).toSeq.distinct.sorted
      out.println(f"  ${"op"}%-8s" + layers.map(l => f"$l%10s").mkString)
      ops.foreach(op => out.println(f"  $op%-8s" + layers.map(l => f"${self.getOrElse((l, op), 0.0)}%10.4f").mkString))
      out.println("== tracing overhead: op p50 ms, untraced half vs traced half")
      overhead(ctx)._2.foreach { case (op, u, t) =>
        out.println(f"  $op%-8s $u%10.2f $t%10.2f ${(t / u - 1) * 100}%+8.1f%%")
      }
    }
    ctx.failures.take(20).foreach(f => out.println(s"  FAILED: $f"))
    out.println("PERFBENCH_ENV " + json(ctx.env))
    val ms = metrics.map(x => x.name -> mutable.LinkedHashMap[String, Any]("value" -> x.value, "unit" -> x.unit))
    out.println(json(mutable.LinkedHashMap[String, Any](
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> mutable.LinkedHashMap(ms: _*))))
    out.flush()
  }
}
