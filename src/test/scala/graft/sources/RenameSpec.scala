package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession}

/** Column renames (round 8): field identity is positional under the
  * add-only invariant; a rename commits a zero-row schema marker, old
  * containers keep their historical labels, and readers translate per
  * container.
  */
class RenameSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val conf = ContainerIO.localConf()

  private def graftScan(df: org.apache.spark.sql.DataFrame): GraftScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head.asInstanceOf[GraftScan]

  test("rename: new name reads, filters, and pushes down over OLD containers") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren").toString
    (0 until 300).map(i => (i.toLong, s"u${i % 7}", s"body $i"))
      .toDF("id", "user", "body")
      .coalesce(1).write.format("graft").option("chunkRows", "100")
      .mode("append").save(d)
    GraftMaintenance.renameColumn(spark, d, "user", "username")
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "username", "body"))
    assert(back.count() === 300)
    // filter by the NEW name against a container storing the OLD label:
    // pushed, chunk-pruned against the stored dicts, values exact
    val f = back.filter(col("username") === "u3")
    assert(f.count() === (0 until 300).count(_ % 7 == 3))
    val scan = graftScan(
      spark.read.format("graft").load(d).filter(col("username") === "u3"))
    assert(scan.description().contains("EqualTo(username,u3)"),
      scan.description())
    // projection of the renamed column alone
    assert(back.select("username").distinct().count() === 7)
    // aggregate pushdown folds stored-label stats under the new name
    assert(back.agg(min("id"), max("id")).collect().head.getLong(1) === 299L)
  }

  test("rename: appends after the rename carry the new label; both " +
    "generations read as one column") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren2").toString
    (0 until 100).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .coalesce(1).write.format("graft").mode("append").save(d)
    GraftMaintenance.renameColumn(spark, d, "v", "value")
    (100 until 200).map(i => (i.toLong, i * 2L)).toDF("id", "value")
      .coalesce(1).write.format("graft").mode("append").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "value"))
    assert(back.agg(sum("value")).collect().head.getLong(0) ===
      (0 until 200).map(_ * 2L).sum)
    // zone-map pruning by the new name spans BOTH generations
    assert(back.filter(col("value") >= 300L).count() ===
      (0 until 200).count(_ * 2 >= 300))
    // an append with the OLD name now mismatches (it is just a label)
    val ex = intercept[Exception] {
      Seq((999L, 1L)).toDF("id", "v").write.format("graft")
        .mode("append").save(d)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("schema mismatch"), s"got $ex")
  }

  test("rename survives compaction; time travel sees the old name") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren3").toString
    (0 until 60).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d) // v0
    (60 until 120).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d) // v1
    GraftMaintenance.renameColumn(spark, d, "tag", "label") // v2
    // compaction folds the data containers (old labels inside) but can
    // never consume the zero-row marker: the rename must survive
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 2 && produced === 1)
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "label"))
    assert(back.filter(col("label") === "t42").count() === 1)
    // the pre-rename snapshot still reads under its then-current name
    val old = spark.read.format("graft").option("versionAsOf", "0").load(d)
    assert(old.schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(old.count() === 60)
  }

  test("rename SWAP (a->t, b->a, t->b) over containers written before the " +
    "renames: read-back, pushed filters on both names, compaction") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren-swap").toString
    // two epochs (compaction folds them) of 50-row chunks: b = 1000 + a
    Seq(0 until 150, 150 until 300).foreach { r =>
      r.map(i => (i.toLong, 1000L + i, s"s$i")).toDF("a", "b", "c")
        .coalesce(1).write.format("graft").option("chunkRows", "50")
        .mode("append").save(d)
    }
    GraftMaintenance.renameColumn(spark, d, "a", "t")
    GraftMaintenance.renameColumn(spark, d, "b", "a")
    GraftMaintenance.renameColumn(spark, d, "t", "b")
    def chunksPlanned(df: org.apache.spark.sql.DataFrame): Int =
      graftScan(df).planInputPartitions()
        .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    def check(): Unit = {
      val back = spark.read.format("graft").load(d)
      assert(back.schema.fieldNames.toSeq === Seq("b", "a", "c"))
      // the current "b" is the stored "a" and vice versa
      assert(back.select("b", "a", "c").as[(Long, Long, String)].collect()
        .sortBy(_._1).toSeq === (0 until 300).map(i => (i.toLong, 1000L + i, s"s$i")))
      // pushed filters on BOTH swapped names: translated to the stored
      // labels, chunk-pruned against their zone maps, exact
      val fa = back.filter(col("a") >= 1250L)
      assert(graftScan(fa).description().contains("GreaterThanOrEqual(a,1250)"),
        graftScan(fa).description())
      assert(fa.select("b").as[Long].collect().sorted.toSeq ===
        (250L until 300L))
      assert(chunksPlanned(fa) === 1)
      val fb = back.filter(col("b") < 50L)
      assert(graftScan(fb).description().contains("LessThan(b,50)"),
        graftScan(fb).description())
      assert(fb.select("a").as[Long].collect().sorted.toSeq ===
        (1000L until 1050L))
      assert(chunksPlanned(fb) === 1)
      assert(back.filter(col("a").isin(1007L, 1290L)).select("b").as[Long]
        .collect().sorted.toSeq === Seq(7L, 290L))
      assert(back.filter(col("b").isin(7L, 290L)).select("a").as[Long]
        .collect().sorted.toSeq === Seq(1007L, 1290L))
    }
    check()
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 2 && produced === 1)
    check()
  }

  test("rename via SQL procedure; conflicts fail controlled") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = java.nio.file.Files.createTempDirectory("graft-ren4").toString
    (0 until 10).map(i => (i.toLong, s"x$i")).toDF("id", "a")
      .write.format("graft").mode("append").save(d)
    val r = spark.sql(
      s"CALL graft.system.rename_column(path => '$d', `from` => 'a', to => 'b')")
      .collect()(0)
    assert(r.getBoolean(0))
    assert(spark.read.format("graft").load(d).schema.fieldNames.toSeq ===
      Seq("id", "b"))
    // unknown source column / taken target fail with clear errors
    intercept[IllegalArgumentException] {
      GraftMaintenance.renameColumn(spark, d, "nope", "c")
    }
    intercept[IllegalArgumentException] {
      GraftMaintenance.renameColumn(spark, d, "b", "id")
    }
  }

  test("rename + NAME REUSE: IS NULL on the reused name admits containers " +
    "predating it (no collision with the stored pre-rename label)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren6").toString
    // old container stores a nullable string column labeled "x" (explicit
    // 0 null count recorded)
    (0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "x")
      .coalesce(1).write.format("graft").mode("append").save(d)
    GraftMaintenance.renameColumn(spark, d, "x", "y")
    // a NEW trailing nullable column REUSES the name "x"
    (40 until 80).map(i => (i.toLong, s"v$i", s"n$i")).toDF("id", "y", "x")
      .coalesce(1).write.format("graft").mode("append").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "y", "x"))
    // the old container predates the current "x": its rows are ALL NULL
    // there — the untranslated IsNull("x") must not be evaluated against
    // the container's STORED pre-rename label "x" (0 nulls), which would
    // prune every matching row (round-8 advice, high)
    assert(back.filter(col("x").isNull).count() === 40)
    assert(back.filter(col("x").isNull).agg(max("id")).collect()
      .head.getLong(0) === 39L)
    assert(back.filter(col("x").isNotNull).count() === 40)
    // the renamed column itself still translates + prunes per container
    assert(back.filter(col("y") === "v7").count() === 1)
  }

  test("rename racing a concurrent append is NOT silently reverted " +
    "(marker regenerated above the snapshot it lands on)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren7").toString
    (0 until 50).map(i => (i.toLong, i * 3L)).toDF("id", "v")
      .coalesce(1).write.format("graft").mode("append").save(d)
    // the race window of the round-8 medium advice: an append commits
    // AFTER the rename computed its commitId but BEFORE its index
    // commit — the append's higher commitId under the OLD label would
    // win last-commit-wins resolution and silently revert the rename
    GraftMaintenance.renameColumnWithHook(spark, d, "v", "value", () => {
      Thread.sleep(5) // guarantee a strictly higher wall-clock prefix
      (50 until 100).map(i => (i.toLong, i * 3L)).toDF("id", "v")
        .coalesce(1).write.format("graft").mode("append").save(d)
    })
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "value"),
      s"rename was reverted by the racing append: ${back.schema.fieldNames.toSeq}")
    // both generations are present and read under the new name
    assert(back.count() === 100)
    assert(back.agg(sum("value")).collect().head.getLong(0) ===
      (0 until 100).map(_ * 3L).sum)
  }

  test("rename of a nullable evolved column keeps evolution semantics") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ren5").toString
    (0 until 40).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
      .coalesce(1).write.format("graft").mode("append").save(d)
    (40 until 80).map(i => (i.toLong, i * 1.5, s"g${i % 3}"))
      .toDF("id", "v", "grp")
      .coalesce(1).write.format("graft").mode("append").save(d)
    GraftMaintenance.renameColumn(spark, d, "grp", "bucket3")
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "v", "bucket3"))
    // containers predating the column stay NULL under the new name,
    // and count(col) pushdown proves it by POSITION
    assert(back.filter(col("bucket3").isNull).count() === 40)
    val agg = back.agg(count(lit(1)).as("n"), count(col("bucket3")).as("nb"))
      .collect().head
    assert(agg.getLong(0) === 80L && agg.getLong(1) === 40L)
  }
}
