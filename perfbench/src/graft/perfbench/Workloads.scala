package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.ColumnarEngine
import graft.sources.GraftMaintenance

/** One seeded workload: set-up, repeated (its median is `setup_s`); the
  * expected answers, once; one warm-up pass over every op type; in a
  * traced run, the replay of its stored bytes through the lower layers;
  * and the closed loop.
  */
trait Workload {
  /** Table whose stored bytes the traced replay reads. */
  def replayTable: String
  /** The program's set-up work: builds the inputs and writes the initial
    * tables, replacing what an earlier call built.
    */
  def setup(): Unit
  /** The benchmark's own set-up, untimed: every expected answer, from the
    * in-memory inputs.
    */
  def expect(): Unit
  /** Runs every op type once, so the JIT and Spark's lazy state are warm
    * before the loop; leaves the tables at a fixed point for the traced
    * plan counts.
    */
  def warmup(): Unit
  def run(seconds: Double): Unit
}

object Workloads {
  val names: Seq[String] = Seq("code_write", "code_read", "numeric_mixed")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "code_write" => new CodeWrite(ctx)
    case "code_read" => new CodeRead(ctx)
    case "numeric_mixed" => new NumericMixed(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${names.mkString(", ")}")
  }

  val SetupReps = 6

  /** The query indices for each round: `k` per round from a seeded order of
    * all `n`, rotating, so every query runs equally often.
    */
  final class Rotation(n: Int, rnd: scala.util.Random) {
    private val order = rnd.shuffle((0 until n).toVector)
    private var next = 0
    def take(k: Int): Seq[Int] = Seq.fill(k) { next += 1; order((next - 1) % n) }
  }

  /** Runs round `i`'s ops in a seeded order. Past the deadline no op
    * starts, except in the first round, which always completes so every
    * op type has a sample.
    */
  def runRound(ctx: Ctx, rnd: scala.util.Random, i: Int, ops: Seq[() => Unit]): Unit =
    rnd.shuffle(ops).foreach(op => if (i == 0 || ctx.inTime) op())

  /** Traced only: plans each query once against `path` during warm-up — a
    * fixed point, so these counts repeat exactly for a seed — and records
    * the index size, chunks planned over chunks in the table, and filtered
    * rows over planned rows.
    */
  def planQueries(ctx: Ctx, path: String, qs: Seq[Query], exp: Seq[Expected]): Unit =
    if (ctx.tracing) {
      val (containers, tableChunks) = ctx.index(path)
      var planned, rowsPlanned, useful = 0.0
      qs.zip(exp).foreach { case (q, e) =>
        val fp = Fingerprint.of(q.run(Tables.read(ctx.spark, path)))
        val (chunks, rows) = ctx.span("sources", "sources.plan")(Tables.plannedChunks(fp))
        planned += chunks
        if (chunks > 0) { rowsPlanned += rows; useful += e.filteredRows }
      }
      val c = ctx.trace.counts
      c("engine.index_containers") = containers
      c("engine.index_chunks") = tableChunks
      c("sources.chunks_scanned_ratio") = planned / math.max(qs.size * tableChunks, 1)
      c("sources.rows_useful_ratio") = useful / math.max(rowsPlanned, 1.0)
    }

  def select(ctx: Ctx, path: String, q: Query, want: => (Long, Long)): Unit =
    read(ctx, "select", q.name, path, 0L, q.run, want)

  /** Full DSv2 read of every column. */
  def scan(ctx: Ctx, path: String, raw: Long, want: => (Long, Long)): Unit =
    read(ctx, "scan", "scan", path, raw, identity, want)

  /** A DSv2 read as an op: traced runs time the planner's index reads
    * (engine) and the executed-plan build (sources) before the action.
    */
  private def read(ctx: Ctx, kind: String, name: String, path: String, raw: Long,
                   query: DataFrame => DataFrame, want: => (Long, Long)): Unit =
    ctx.op(kind, raw) {
      val fp = Fingerprint.of(query(Tables.read(ctx.spark, path)))
      if (ctx.tracing) {
        ctx.tracePlanIndex(path)
        ctx.span("sources", "sources.plan")(Tables.plannedChunks(fp))
        ctx.span("spark", "spark.execute")(Fingerprint.collect(fp))
      } else Fingerprint.collect(fp)
    }(got => Fingerprint.check(got, want).map(m => s"$name: $m"))

  def write(ctx: Ctx, kind: String, df: DataFrame, path: String, raw: Long, mode: String,
            sortBy: String): Unit =
    ctx.op(kind, raw) {
      val w = df.write.format("graft").mode(mode)
      (if (sortBy.isEmpty) w else w.option("sortBy", sortBy)).save(path)
    }(_ => None)

  def stored(ctx: Ctx, path: String, raw: Long): Unit = {
    ctx.storedRatio = ctx.diskBytes(path).toDouble / raw
    ctx.env("stored_ratio") = ctx.storedRatio
    val (c, ch) = ctx.index(path)
    ctx.env("containers") = c
    ctx.env("chunks") = ch
  }
}

import Workloads._

/** code_write: repeated write cycles over the source-code table. Each cycle
  * encodes with `ColumnarEngine.encode`, overwrites a DSv2 table with
  * `sortBy`, then appends, deletes, updates, upserts (keyed on `path`) and
  * compacts, checking every step against the same transformations applied
  * to the in-memory source. Reads are the checks: one typed decode of the
  * encode output, full scans after the write and after the DML, and one
  * selective query. Set-up runs `ColumnarEngine.derive`.
  */
final class CodeWrite(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = math.max((2500 * ctx.args.scale).toLong, 200L)
  private val batchRows = math.max(rows / 20, 10L)
  private val upsertRows = math.max(rows / 40, 10L)
  private var all, src, batch, upsertSrc: DataFrame = _
  private var qs: Seq[Query] = Nil
  private var exp: Seq[Expected] = Nil
  private var raw, batchRaw, finalRaw = 0L
  private var baseFp, finalFp = (0L, 0L)
  private var delLang, updRepo = ""
  private var deleted, updated, upserted, upsertAdded = 0L
  private var cycle = 0
  def replayTable: String = ctx.dir("cw_replay")

  def setup(): Unit = {
    Option(all).foreach(_.unpersist())
    // one derive over the base rows, the append batch and the upsert's new rows
    all = ctx.span("engine", "engine.derive")(
      CodeTable.build(ctx, rows + batchRows + upsertRows, ctx.args.seed, derive = true))
    src = CodeTable.slice(all, 0, rows)
    batch = CodeTable.slice(all, rows, rows + batchRows, "append/")
  }

  def expect(): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed)
    raw = CodeTable.raw(src)
    batchRaw = CodeTable.raw(batch)
    val k = CodeTable.constants(src)
    qs = rnd.shuffle(CodeTable.queries(k, rnd)).take(1)
    exp = Tables.expect(src, qs)
    baseFp = Fingerprint(src)
    delLang = k.langs(rnd.nextInt(k.langs.length))
    updRepo = k.repos(rnd.nextInt(k.repos.length))
    val upsertKey = rnd.nextInt(16).toLong
    // the table after each DML step, from the source alone
    val del = col("lang") === delLang
    val upd = col("repo") === updRepo
    val key = pmod(col("path_code"), lit(16L)) === upsertKey
    val s1 = src.unionByName(batch)
    val n = s1.agg(count_if(del), count_if(!del && upd), count_if(!del && key)).head()
    deleted = n.getLong(0); updated = n.getLong(1); upserted = n.getLong(2)
    val s3 = s1.filter(!del).withColumn("commit_ord", when(upd, col("commit_ord") + 1000L).otherwise(col("commit_ord")))
    Option(upsertSrc).foreach(_.unpersist())
    upsertSrc = Tables.cache(s3.filter(key)
      .withColumn("content", concat(col("content"), lit("\n// revised")))
      .withColumn("len_content", length(col("content")).cast("long"))
      .withColumn("hash64", xxhash64(col("content")))
      .unionByName(CodeTable.slice(all, rows + batchRows, rows + batchRows + upsertRows, "upsert/")))
    upsertAdded = upsertSrc.count()
    val s4 = s3.join(upsertSrc.select("path"), Seq("path"), "left_anti").unionByName(upsertSrc)
    val f = s4.agg(count(lit(1)), bit_xor(xxhash64(Fingerprint.columns(s4): _*)), sum(CodeTable.rawRow)).head()
    finalFp = (f.getLong(0), f.getLong(1))
    finalRaw = f.getLong(2)
    ctx.env("rows") = rows
    ctx.env("raw_bytes") = raw
  }

  def warmup(): Unit = runCycle(() => true, warm = true)

  /** One write cycle on fresh directories; stops between ops once
    * `more()` is false and always deletes what it wrote. The warm-up
    * cycle keeps its table for the traced replay.
    */
  private def runCycle(more: () => Boolean, warm: Boolean = false): Unit = {
    val enc = ctx.dir(s"cw_encoded_$cycle")
    val tbl = if (warm) replayTable else ctx.dir(s"cw_table_$cycle")
    cycle += 1
    ctx.rmrf(tbl)
    def step(f: => Unit): Unit = if (more()) f
    try {
      step(ctx.op("encode", raw, "engine")(ColumnarEngine.encode(src.as(CodeTable.rowEncoder), enc, ctx.cores))(ms =>
        if (ms.map(_.rows).sum == rows) None else Some(s"encoded ${ms.map(_.rows).sum} rows")))
      step(ctx.op("decode", raw, "engine")(Fingerprint(ColumnarEngine.decode(spark, enc).toDF()))(
        Fingerprint.check(_, baseFp)))
      step(write(ctx, "write", src, tbl, raw, "overwrite", "repo,path"))
      if (warm) { stored(ctx, tbl, raw); planQueries(ctx, tbl, qs, exp) }
      step(scan(ctx, tbl, raw, baseFp))
      qs.zip(exp).foreach { case (q, e) => step(select(ctx, tbl, q, e.fp)) }
      step(write(ctx, "append", batch, tbl, batchRaw, "append", ""))
      step(ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.delete(spark, tbl, s"lang = '$delLang'")))(n =>
        if (n == deleted) None else Some(s"delete removed $n rows, expected $deleted")))
      step(ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.update(spark, tbl, s"repo = '$updRepo'",
        Map("commit_ord" -> "commit_ord + 1000"))))(n =>
        if (n == updated) None else Some(s"update changed $n rows, expected $updated")))
      step(ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.upsert(spark, tbl, upsertSrc, Seq("path"))))(r =>
        if (r == ((upserted, upsertAdded))) None else Some(s"upsert returned $r, expected ${(upserted, upsertAdded)}")))
      step(ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.compact(spark, tbl)))(_ => None))
      step(scan(ctx, tbl, finalRaw, finalFp))
    } finally {
      ctx.rmrf(enc)
      if (!warm) ctx.rmrf(tbl)
    }
  }

  def run(seconds: Double): Unit = ctx.loop(seconds)(i => runCycle(() => i == 0 || ctx.inTime))
}

/** code_read: the source-code table written in set-up (engine containers
  * for the typed decode, a DSv2 table sorted by repo and path for
  * everything else), then seeded rounds of reads: six of the 16
  * selective queries (rotating), one typed decode, one all-column scan,
  * and one trickle write — append a small batch, then delete it — which leaves
  * the table's content, and so every expected answer, unchanged.
  * Set-up gives the encode and write samples; its integer columns are
  * per-row stand-ins (code_write times `derive`).
  */
final class CodeRead(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = math.max((8000 * ctx.args.scale).toLong, 200L)
  private val trickleRows = math.max(rows / 100, 10L)
  private var all, src, trickle: DataFrame = _
  private var qs: Seq[Query] = Nil
  private var exp: Seq[Expected] = Nil
  private var raw, trickleRaw = 0L
  private var baseFp = (0L, 0L)
  ctx.setupSampled = Set("encode", "write")
  private val enc = ctx.dir("cr_encoded")
  private val tbl = ctx.dir("cr_table")
  def replayTable: String = tbl

  def setup(): Unit = {
    Option(all).foreach(_.unpersist())
    ctx.rmrf(enc)
    ctx.rmrf(tbl)
    all = ctx.span("engine", "engine.derive")(
      CodeTable.build(ctx, rows + trickleRows, ctx.args.seed, derive = false))
    src = CodeTable.slice(all, 0, rows)
    trickle = CodeTable.slice(all, rows, rows + trickleRows, "trickle/")
    if (raw == 0) raw = CodeTable.raw(src)
    ctx.op("encode", raw, "engine")(ColumnarEngine.encode(src.as(CodeTable.rowEncoder), enc, ctx.cores))(ms =>
      if (ms.map(_.rows).sum == rows) None else Some(s"encoded ${ms.map(_.rows).sum} rows"))
    write(ctx, "write", src, tbl, raw, "overwrite", "repo,path")
    stored(ctx, tbl, raw)
  }

  def expect(): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed)
    trickleRaw = CodeTable.raw(trickle)
    qs = CodeTable.queries(CodeTable.constants(src), rnd)
    exp = Tables.expect(src, qs)
    baseFp = Fingerprint(src)
    ctx.env("rows") = rows
    ctx.env("raw_bytes") = raw
  }

  def warmup(): Unit = {
    qs.indices.take(3).foreach(i => select(ctx, tbl, qs(i), exp(i).fp))
    decode()
    scan(ctx, tbl, raw, baseFp)
    trickleWrite()
    planQueries(ctx, tbl, qs, exp)
  }

  private def decode(): Unit =
    ctx.op("decode", raw, "engine")(Fingerprint(ColumnarEngine.decode(spark, enc).toDF()))(Fingerprint.check(_, baseFp))

  private def trickleWrite(): Unit = {
    write(ctx, "append", trickle, tbl, trickleRaw, "append", "")
    ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.delete(spark, tbl, "path LIKE 'trickle/%'")))(n =>
      if (n == trickleRows) None else Some(s"trickle delete removed $n rows, expected $trickleRows"))
  }

  def run(seconds: Double): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed + 17)
    val rot = new Rotation(qs.size, rnd)
    ctx.loop(seconds)(i => runRound(ctx, rnd, i,
      rot.take(6).map(i => () => select(ctx, tbl, qs(i), exp(i).fp)) ++
        Seq(() => decode(), () => scan(ctx, tbl, raw, baseFp), () => trickleWrite())))
  }
}

/** numeric_mixed: an integer-heavy event table (sorted ids, timestamps,
  * zipf users, random 64-bit hashes, small-int kinds, DECIMAL cents, a
  * nullable long, a 4-value status) written in set-up, then seeded
  * rounds of mixed traffic: 4 small appends and the compaction that
  * follows them, four of the 11 selective queries (rotating; range
  * aggregates and a `COUNT(*)`), one all-column scan, one typed decode,
  * and one bulk encode of the base rows into a fresh table (deleted
  * after). Set-up gives the write samples (the live table's sorted
  * overwrite).
  */
final class NumericMixed(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = math.max((300000 * ctx.args.scale).toLong, 2000L)
  private val batchRows = math.max(rows / 100, 100L)
  private val maxBatches = 120
  private val compactEvery = 4
  private var base: DataFrame = _
  private var qs: Seq[Query] = Nil
  private var exp: Seq[Expected] = Nil
  private var raw = 0L
  private var baseFp = (0L, 0L)
  private var batchFp: Map[Long, (Long, Long)] = Map.empty
  private var batchRaw: Map[Long, Long] = Map.empty
  private var appended = 0
  private var compactTarget = 0L
  ctx.setupSampled = Set("write")
  private val tbl = ctx.dir("nm_table")
  def replayTable: String = tbl

  private def batchDf(b: Int): DataFrame =
    NumericTable.gen(spark, rows + b * batchRows, rows + (b + 1) * batchRows, 1, ctx.args.seed)

  private def fullFp: (Long, Long) =
    (0 until appended).foldLeft(baseFp)((a, b) => Fingerprint.combine(a, batchFp(b.toLong)))
  private def fullRaw: Long = raw + (0 until appended).map(b => batchRaw(b.toLong)).sum

  def setup(): Unit = {
    Option(base).foreach(_.unpersist())
    ctx.rmrf(tbl)
    base = ctx.span("engine", "engine.derive")(
      Tables.cache(NumericTable.gen(spark, 0, rows, ctx.cores * 2, ctx.args.seed)))
    if (raw == 0) raw = Tables.sumLong(base, NumericTable.rawRow)
    write(ctx, "write", base, tbl, raw, "overwrite", "id")
    stored(ctx, tbl, raw)
    val baseBytes = graft.engine.Manifests.readCommitted(ctx.hconf, tbl).filter(_.rows > 0).map(_.encodedBytes)
    compactTarget = baseBytes.sum / baseBytes.size / 2
  }

  def expect(): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed)
    qs = NumericTable.queries(rows, rnd)
    exp = Tables.expect(base, qs)
    baseFp = Fingerprint(base)
    if (Fingerprint(Tables.read(spark, tbl)) != baseFp) ctx.fail("set-up write: table differs from its source")
    val batches = NumericTable.gen(spark, rows, rows + maxBatches * batchRows, ctx.cores, ctx.args.seed)
      .withColumn("_raw", NumericTable.rawRow)
      .withColumn("batch", floor((col("id") - rows) / batchRows).cast("long"))
    val cols = Fingerprint.columns(batches.drop("_raw", "batch"))
    val per = batches.groupBy("batch").agg(count(lit(1)), bit_xor(xxhash64(cols: _*)), sum("_raw")).collect()
    batchFp = per.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    batchRaw = per.map(r => r.getLong(0) -> r.getLong(3)).toMap
    ctx.env("rows") = rows
    ctx.env("raw_bytes") = raw
  }

  def warmup(): Unit = {
    append()
    append()
    compact()
    qs.indices.take(3).foreach(i => selectOne(qs(i), exp(i)))
    scan(ctx, tbl, fullRaw, fullFp)
    decode()
    encode()
    planQueries(ctx, tbl, qs, exp)
  }

  private def selectOne(q: Query, e: Expected): Unit =
    select(ctx, tbl, q, if (q.name == "count_star") NumericTable.countFp(fullFp._1) else e.fp)

  private def append(): Unit =
    if (appended < maxBatches) {
      val b = appended
      write(ctx, "append", batchDf(b), tbl, batchRaw(b.toLong), "append", "")
      appended += 1
      if (appended % compactEvery == 0) compact()
    }

  /** Folds every container under half the base table's mean container
    * size: all appended data so far, in one bin, until the folded
    * container outgrows that size and the folding starts over. The base
    * table is never rewritten. The target depends on the table's stored
    * size alone, the same for every seed.
    */
  private def compact(): Unit =
    ctx.op("dml")(ctx.traceRewrite(tbl)(GraftMaintenance.compact(spark, tbl, targetBytes = compactTarget)))(r =>
      if (r._1 >= 2) None else Some(s"compaction folded $r with ${compactEvery} small containers appended"))

  /** Bulk encode: the base rows into a fresh table, checked, then deleted. */
  private def encode(): Unit = {
    val fresh = ctx.dir("nm_encoded")
    write(ctx, "encode", base, fresh, raw, "overwrite", "")
    if (Fingerprint(Tables.read(spark, fresh)) != baseFp) ctx.fail("bulk encode: table differs from its source")
    ctx.rmrf(fresh)
  }

  /** Typed full decode: every row materialized as a [[NumRow]]. */
  private def decode(): Unit = {
    import spark.implicits._
    ctx.op("decode", fullRaw) {
      val typed = Tables.read(spark, tbl).as[NumRow].map(identity)
      Fingerprint(typed.toDF().withColumn("cents", col("cents").cast("decimal(12,2)")))
    }(Fingerprint.check(_, fullFp))
  }

  def run(seconds: Double): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed + 17)
    val rot = new Rotation(qs.size, rnd)
    ctx.loop(seconds)(i => runRound(ctx, rnd, i, Seq.fill(compactEvery)(() => append()) ++
      rot.take(4).map(i => () => selectOne(qs(i), exp(i))) ++
      Seq(() => scan(ctx, tbl, fullRaw, fullFp), () => decode(), () => encode())))
  }
}
