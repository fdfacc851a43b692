package graft.sources

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import scala.jdk.CollectionConverters._

import graft.engine.{ContainerIO, Manifests, ParsedManifest, SparkTestSession}

/** Local filesystem on the `recfs` test scheme that records every path
  * it creates (direct creates and rename targets), so a test can tell
  * which files a maintenance op staged even when the op deletes them
  * again. RawLocal (not the checksumming wrapper) so the scheme override
  * survives path checks.
  */
class RecordingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "recfs"
  override def getUri: URI = URI.create("recfs:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RecordingFileSystem.created.add(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RecordingFileSystem.created.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    RecordingFileSystem.created.add(dst.toString)
    super.rename(src, dst)
  }
}

object RecordingFileSystem {
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Copy-on-write DML probes before it rewrites: an admitted container
  * (zone maps cannot disprove the predicate) that holds no match is
  * never rewritten and no staged file is ever written for it; the one
  * that matches is rewritten as before. The probe reads only the
  * predicate's columns, each block CRC-verified, and a rewrite still
  * verifies every block it reads.
  */
class DmlProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val conf = ContainerIO.localConf()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-probe-$tag").toString

  private def append(d: String, ids: Seq[Long], tag: String): Unit = {
    import spark.implicits._
    ids.map(i => (i, s"$tag${i % 7}")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  /** Two single-chunk containers, both admitted for `id % 1000 = 7` and
    * for key 251: ids 0..99 (holds 7) and the even ids 200..398 (no
    * match, but 251 lies inside its zone map).
    */
  private def twoContainers(tag: String): String = {
    val d = tmp(tag)
    append(d, 0L until 100L, "a")
    append(d, 200L until 400L by 2, "b")
    d
  }

  private val allIds: Set[Long] = ((0L until 100L) ++ (200L until 400L by 2)).toSet

  private def names(d: String): Set[String] =
    Manifests.readCommitted(conf, d).map(_.name).toSet

  /** The committed container whose smallest id is `minId`. */
  private def container(d: String, minId: Long): ParsedManifest =
    Manifests.readCommitted(conf, d).map(Manifests.loadChunkIndex(conf, d, _))
      .find(_.longRanges.get("id").exists(_._1 == minId)).get

  /** Runs `op` on the table through the recording scheme; returns its
    * result and the distinct block files it created whose names start
    * with `prefix`.
    */
  private def recorded[T](d: String, prefix: String)(op: String => T): (T, Set[String]) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.recfs.impl", classOf[RecordingFileSystem].getName)
    RecordingFileSystem.created.clear()
    val out = op(s"recfs://$d")
    val staged = RecordingFileSystem.created.asScala
      .filter(_.contains(s"$d/blocks/")).map(p => new Path(p).getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".gblk")).toSet
    (out, staged)
  }

  /** Flip one byte inside column `col`'s block of the container's first
    * chunk and drop the local filesystem's checksum sidecar, so only
    * graft's own block CRC can notice.
    */
  private def corruptBlock(d: String, m: ParsedManifest, col: String): Unit = {
    val f = java.nio.file.Paths.get(m.blockFile(d).stripPrefix("file:"))
    val bytes = java.nio.file.Files.readAllBytes(f)
    var p = m.chunkIndex.head.offset.toInt
    def varint(): Int = {
      val r = new graft.core.BlockReader(bytes, p, bytes.length)
      val v = r.getVarint().toInt
      p = r.position
      v
    }
    varint() // rows
    val nCols = varint()
    var at = -1
    var c = 0
    while (c < nCols) {
      val nameLen = varint()
      val name = new String(bytes, p, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      p += nameLen + 1 // name, kind byte
      val blockLen = varint()
      if (name == col) at = p + blockLen / 2
      p += blockLen
      c += 1
    }
    assert(at >= 0, s"no column $col in the first chunk")
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.deleteIfExists(
      f.getParent.resolve("." + f.getFileName.toString + ".crc"))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** The op fails on graft's block CRC of `col`, and leaves the table's
    * manifests and staged files as they were.
    */
  private def assertCrcFailure(d: String, col: String)(op: => Any): Unit = {
    val before = names(d)
    val ex = intercept[Exception](op)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(s"block CRC mismatch for column $col")),
      s"expected the controlled CRC failure on $col, got $ex")
    assert(names(d) === before, "a failed delete must not change the table")
    assert(ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.startsWith("part-delete-")) === 0,
      "a failed delete must not leak staged containers")
  }

  test("delete stages nothing for an admitted container without a match") {
    val d = twoContainers("del")
    val before = names(d)
    val (n, staged) = recorded(d, "part-delete-")(
      GraftMaintenance.delete(spark, _, "id % 1000 = 7"))
    assert(n === 1L)
    assert(staged.size === 1,
      s"only the matching container may be rewritten, staged: $staged")
    val after = names(d)
    assert((before intersect after).size === 1,
      "the container without a match keeps its manifest")
    assert(after.exists(n => staged(s"part-$n.gblk")),
      "the one staged rewrite is the committed replacement")
    val ids = spark.read.format("graft").load(d).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted === (allIds - 7L).toSeq.sorted)
  }

  test("update stages nothing for an admitted container without a match") {
    val d = twoContainers("upd")
    val before = names(d)
    val (n, staged) = recorded(d, "part-update-")(
      GraftMaintenance.update(spark, _, "id % 1000 = 7",
        Map("tag" -> "'hit'")))
    assert(n === 1L)
    assert(staged.size === 1,
      s"only the matching container may be rewritten, staged: $staged")
    assert((before intersect names(d)).size === 1)
    val rows = spark.read.format("graft").load(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet === allIds)
    assert(rows(7L) === "hit")
    assert(rows.filter(_._1 != 7L).forall { case (i, t) =>
      t === s"${if (i < 100) "a" else "b"}${i % 7}" })
  }

  test("upsert stages nothing for an admitted container without a key") {
    import spark.implicits._
    val d = twoContainers("ups")
    val before = names(d)
    val src = Seq((7L, "u"), (251L, "n")).toDF("id", "tag")
    val ((rep, app), staged) = recorded(d, "part-merge-")(
      GraftMaintenance.upsert(spark, _, src, Seq("id")))
    assert(rep === 1L && app === 2L)
    assert(staged.size === 1,
      s"only the container holding a key may be rewritten, staged: $staged")
    assert((before intersect names(d)).size === 1)
    val rows = spark.read.format("graft").load(d).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.map(_._1).toSet === allIds + 251L && rows.length === 201)
    assert(rows.toMap.apply(7L) === "u" && rows.toMap.apply(251L) === "n")
  }

  test("a corrupt predicate-column block in an admitted container " +
    "without a match fails the delete on its CRC") {
    val d = twoContainers("crc-probe")
    corruptBlock(d, container(d, 200L), "id")
    assertCrcFailure(d, "id")(
      GraftMaintenance.delete(spark, d, "id % 1000 = 7"))
  }

  test("a corrupt non-predicate block in a container with a match " +
    "still fails the rewrite on its CRC") {
    val d = twoContainers("crc-rewrite")
    corruptBlock(d, container(d, 0L), "tag")
    assertCrcFailure(d, "tag")(
      GraftMaintenance.delete(spark, d, "id % 1000 = 7"))
  }
}
