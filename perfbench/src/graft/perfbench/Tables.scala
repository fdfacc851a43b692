package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{ColumnarEngine, SourceTable}
import graft.sources.GraftInputPartition

/** A seeded selective query: `filter` selects the rows it reads, `build`
  * adds its projection or aggregate. The expected fingerprint and the
  * filtered row count come from the in-memory source, never from graft.
  */
final case class Query(name: String, filter: Column, build: DataFrame => DataFrame) {
  def run(t: DataFrame): DataFrame = build(t.filter(filter))
}

final case class Expected(fp: (Long, Long), filteredRows: Long)

object Tables {
  def read(spark: SparkSession, path: String): DataFrame = spark.read.format("graft").load(path)

  def cache(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  def sumLong(df: DataFrame, c: Column): Long = {
    val r = df.agg(coalesce(sum(c), lit(0L))).head()
    r.getLong(0)
  }

  /** Every query's expected answer from the in-memory source, in two jobs:
    * one counts each filter's rows, one fingerprints every answer.
    */
  def expect(src: DataFrame, qs: Seq[Query]): Seq[Expected] = {
    val counts = src.agg(count_if(qs.head.filter), qs.tail.map(q => count_if(q.filter)): _*).head()
    val fps = qs.zipWithIndex.map { case (q, i) =>
      val r = q.run(src)
      r.select(lit(i).as("_q"), xxhash64(Fingerprint.columns(r): _*).as("_h"))
    }.reduce(_ unionAll _).groupBy("_q").agg(count(lit(1)), bit_xor(col("_h"))).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    qs.indices.map(i => Expected(fps.getOrElse(i, (0L, 0L)), counts.getLong(i)))
  }



  /** The graft scans of a planned query and what they will read: chunks
    * planned and the rows those chunks hold (`ChunkSpec.rows`). Calling
    * `inputPartitions` is what runs the source's partition planning.
    */
  def plannedChunks(df: DataFrame): (Int, Long) = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    val parts = scans(df.queryExecution.executedPlan).flatMap(_.inputPartitions)
    val chunks = parts.collect { case g: GraftInputPartition => g.chunks }.flatten
    (chunks.size, chunks.map(_.rows.toLong).sum)
  }
}

/** The engine's source-code table: `SourceTable.synthesize` rows with the
  * engine's integer columns, cached in memory as the benchmark's source
  * of truth.
  */
object CodeTable {
  /** Raw bytes of a row: UTF-8 bytes of every string plus 8 B per long. */
  val rawRow: Column =
    ColumnarEngine.stringColumns.map(c => octet_length(col(c)).cast("long")).reduce(_ + _) +
      lit(8L * ColumnarEngine.longColumns.size)

  /** The synthesizer's row id, kept in every path as `file_<id>`. */
  val fileId: Column = regexp_extract(col("path"), "file_(\\d+)\\.", 1).cast("long")

  /** Synthesizes `rows` source files, cached. With `derive`, the integer
    * columns come from `ColumnarEngine.derive` (global dictionaries and
    * commit ordinals: several shuffles and joins); without, from per-row
    * stand-ins of the same shape, for workloads that time reads only.
    */
  def build(ctx: Ctx, rows: Long, seed: Long, derive: Boolean): DataFrame = {
    val src = SourceTable.synthesize(ctx.spark, rows, ctx.cores * 2, seed)
    Tables.cache(
      if (derive) ColumnarEngine.derive(src).toDF()
      else src.toDF().select(col("repo"), col("path"), col("commit"), col("lang"), col("content"),
        length(col("content")).cast("long").as("len_content"),
        xxhash64(col("content")).as("hash64"),
        (pmod(xxhash64(col("commit")), lit(100L)) + 1L).as("commit_ord"),
        regexp_extract(col("repo"), "repo(\\d+)$", 1).cast("long").as("repo_code"),
        pmod(xxhash64(col("lang")), lit(16L)).as("lang_code"),
        fileId.as("path_code")))
  }

  /** The rows of a built table with file ids in [from, until), their paths
    * prefixed so they never collide with the base table's.
    */
  def slice(all: DataFrame, from: Long, until: Long, prefix: String = ""): DataFrame = {
    val s = all.filter(fileId >= from && fileId < until)
    if (prefix.isEmpty) s else s.withColumn("path", concat(lit(prefix), col("path")))
  }

  def raw(df: DataFrame): Long = Tables.sumLong(df, rawRow)

  val rowEncoder: org.apache.spark.sql.Encoder[graft.engine.DerivedRow] =
    org.apache.spark.sql.Encoders.product[graft.engine.DerivedRow]

  /** Query constants drawn from the table's own values so that each family
    * selects a similar share of rows for every seed: the languages (all
    * about equally common), the repos ranked 8th to 15th by rows (the
    * zipf head and tail would change a query's cost fiftyfold), and the
    * 2%-quantiles of `len_content`.
    */
  final case class Constants(langs: Array[String], repos: Array[String], lenQuantiles: Array[Double])

  def constants(src: DataFrame): Constants = {
    val langs = src.select("lang").distinct().collect().map(_.getString(0)).sorted
    val repos = src.groupBy("repo").count().orderBy(desc("count"), asc("repo")).collect().map(_.getString(0))
    Constants(langs, repos.slice(7, 15),
      src.stat.approxQuantile("len_content", (1 until 50).map(_ / 50.0).toArray, 0.001))
  }

  /** Two instances of each selective query family, constants from the seed:
    * `=`/`IN` on the dictionary-coded `lang`/`repo`, `StartsWith` on
    * `path`, ranges on `len_content` and `commit_ord`, and a pushed `lang`
    * + `len_content` aggregate; three families read `content` for the
    * rows that survive.
    */
  def queries(k: Constants, rnd: scala.util.Random): Seq[Query] = {
    def lang() = k.langs(rnd.nextInt(k.langs.length))
    def repo() = k.repos(rnd.nextInt(k.repos.length))
    val L = col("lang"); val R = col("repo"); val P = col("path"); val N = col("len_content")
    (0 until 2).flatMap { i =>
      val (l1, l2, l3) = (lang(), lang(), lang())
      val (r1, r2, r3) = (repo(), repo(), repo())
      val prefix = s"src/d${rnd.nextInt(8)}/d${rnd.nextInt(8)}/"
      val q = rnd.nextInt(k.lenQuantiles.length - 1)
      val ord = 1 + rnd.nextInt(20)
      val small = 150 + rnd.nextInt(100)
      Seq(
        Query(s"lang_eq$i", L === l1, _.select("path", "len_content")),
        Query(s"repo_in$i", R.isin(r1, r2), _.select("path", "commit_ord")),
        Query(s"path_prefix$i", P.startsWith(prefix), _.select("repo", "len_content")),
        Query(s"len_range$i", N.between(k.lenQuantiles(q).toLong, k.lenQuantiles(q + 1).toLong),
          _.select("path", "lang")),
        Query(s"commit_range$i", col("commit_ord").between(ord, ord + 1), _.select("repo", "commit")),
        Query(s"small_content$i", L === l2 && N < small, _.select("path", "content")),
        Query(s"lang_agg$i", L.isin(l2, l3),
          _.groupBy("lang").agg(count(lit(1)).as("n"), sum("len_content").as("s"))),
        Query(s"repo_content$i", R === r3, _.select("path", "content")))
    }
  }
}

/** The integer-heavy event table. Every value is a keyed hash of
  * (seed, row id), so any id range regenerates bit-identically: appends
  * continue the id (and timestamp) sequence past the base rows.
  */
object NumericTable {
  final val Epoch = 1700000000000000L // micros

  def gen(spark: SparkSession, from: Long, until: Long, parts: Int, seed: Long): DataFrame = {
    val id = col("id")
    def h(k: Int) = xxhash64(id, lit(seed), lit(k))
    def m(k: Int, n: Long) = pmod(h(k), lit(n))
    spark.range(from, until, 1, parts).select(
      id,
      timestamp_micros(lit(Epoch) + id * 1000L + m(1, 1000L)).cast("timestamp_ntz").as("ts"),
      floor(pow(m(2, 1000000L).cast("double") / 1e6, 4.0) * 100000).cast("long").as("user_id"),
      h(3).as("hash"),
      m(4, 8L).as("kind"),
      (m(5, 10000000L).cast("decimal(12,0)") / 100).cast("decimal(12,2)").as("cents"),
      when(m(6, 5L) === 0, lit(null).cast("long")).otherwise(m(6, 1000000L)).as("opt"),
      element_at(array(lit("new"), lit("open"), lit("done"), lit("failed")),
        (m(7, 4L) + 1).cast("int")).as("status"))
  }

  /** Raw bytes of a row: 8 B per non-null fixed-width value plus the
    * UTF-8 bytes of `status`.
    */
  val rawRow: Column =
    lit(48L) + when(col("opt").isNull, 0L).otherwise(8L) + octet_length(col("status")).cast("long")

  def tsAt(id: Long): java.time.LocalDateTime = {
    val micros = Epoch + id * 1000L
    java.time.LocalDateTime.ofEpochSecond(micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
  }

  /** Selective queries over the base id range (appends never change their
    * answers): range aggregates on the clustered `id`/`ts`, a zipf user,
    * a status breakdown and a null count; plus one `COUNT(*)` the
    * manifests answer, whose answer grows with the appends.
    */
  def queries(rows: Long, rnd: scala.util.Random): Seq[Query] = {
    val w = math.max(rows / 500, 10L)
    def start(span: Long) = (rnd.nextDouble() * math.max(rows - span, 1L)).toLong
    val I = col("id")
    (0 until 2).flatMap { i =>
      val a1 = start(w); val a2 = start(5 * w); val a3 = start(50 * w); val a4 = start(20 * w)
      val a5 = start(10 * w)
      val (k1, k2) = (rnd.nextInt(8).toLong, rnd.nextInt(8).toLong)
      val user = rnd.nextInt(20).toLong
      Seq(
        Query(s"id_range$i", I.between(a1, a1 + w), _.agg(count(lit(1)).as("n"), sum("cents").as("c"),
          min("ts").as("t0"), max("ts").as("t1"), count("opt").as("o"))),
        Query(s"ts_kind$i", col("ts").between(lit(tsAt(a2)), lit(tsAt(a2 + 5 * w))) && col("kind").isin(k1, k2),
          _.agg(count(lit(1)).as("n"), sum("user_id").as("u"))),
        Query(s"user_range$i", col("user_id") === user && I.between(a3, a3 + 50 * w),
          _.agg(count(lit(1)).as("n"), max("ts").as("t"))),
        Query(s"status_kind$i", I.between(a4, a4 + 20 * w) && col("status") === "failed",
          _.groupBy("kind").agg(count(lit(1)).as("n"), sum("cents").as("c"))),
        Query(s"opt_null$i", col("opt").isNull && I.between(a5, a5 + 10 * w), _.agg(count(lit(1)).as("n"))))
    } :+ Query("count_star", lit(true), _.agg(count(lit(1)).as("n")))
  }

  /** Row fingerprint of a `COUNT(*)` answer, as [[Fingerprint]] computes it. */
  def countFp(n: Long): (Long, Long) =
    (1L, org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(n, 42L))
}

/** The typed row of the numeric table, for the typed full decode. */
final case class NumRow(id: Long, ts: java.time.LocalDateTime, user_id: Long, hash: Long, kind: Long,
                        cents: BigDecimal, opt: Option[Long], status: String)
