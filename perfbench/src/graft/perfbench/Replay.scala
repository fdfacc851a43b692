package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.codecs.{FsstStringCodec, Fsst, LongCodecs, StringCodecs}
import graft.core.{BlockReader, BlockWriter, PrefixVarInt}
import graft.engine.{ColumnSpec, ContainerFormat, ContainerIO, ContainerInput, Manifests}

/** Traced-run replay of a table's stored bytes through the lower layers,
  * one call per stored block, so each layer's speed is measured on the
  * workload's own data:
  *
  *  - engine: positioned chunk read (io), `ContainerFormat.readChunk`,
  *    `Manifests.crc32c` per block, `verifyContentDigest` per chunk;
  *  - codecs: every block decoded by its stored codec id, then every
  *    decoded chunk re-encoded and decoded by each codec that can hold
  *    it, plus the selector (`stats` + `select`/`encodeBest`) and FSST
  *    training;
  *  - core: every stored integer value through `BlockWriter.putVarints`
  *    and `BlockReader.readVarints`.
  *
  * A replayed block that does not decode back to its input is a failure.
  * Untimed passes run for half a second first, so the JIT has compiled
  * every kernel; then timed passes run for a second, however small the
  * table.
  */
final class Replay(ctx: Ctx) {
  private val t = ctx.trace
  private val LongKinds = Set(0, 3, 5, 8, 9)

  /** Raw bytes and nanoseconds per named counter of the measured pass. */
  val bytes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val nanos: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var measuring = false

  private def timed[T](name: String, raw: Double)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (measuring) {
      nanos(name) = nanos.getOrElse(name, 0.0) + (System.nanoTime() - t0)
      bytes(name) = bytes.getOrElse(name, 0.0) + raw
    }
    r
  }

  /** Counts come from the first timed pass alone, so they repeat exactly. */
  private def count(name: String, v: Double): Unit =
    if (counting) counts(name) = counts.getOrElse(name, 0.0) + v
  private var counting = false

  /** Replays up to `maxChunks` chunks of the table at `path`. */
  def run(path: String, maxChunks: Int): Unit = {
    val conf = ctx.hconf
    val ms = Manifests.readCommitted(conf, path).filter(_.rows > 0)
      .map(Manifests.loadChunkIndex(conf, path, _))
    val chunks = ms.flatMap(m => m.chunkIndex.map(cs => (m, cs))).take(maxChunks)
    def pass(): Unit = chunks.foreach { case (m, cs) =>
      val kinds = m.schemaCols.map { case (n, p) => n -> ColumnSpec.fromPacked(n, p).kind }.toMap
      replayChunk(m.blockFile(path), cs.offset, cs.length, cs.blockCrcs, kinds, m.digestCol)
    }
    for ((measure, seconds) <- Seq(false -> 0.5, true -> 1.0)) {
      measuring = measure
      val end = System.nanoTime() + (seconds * 1e9).toLong
      counting = measure
      do { pass(); counting = false } while (System.nanoTime() < end)
    }
  }

  private def replayChunk(file: String, off: Long, len: Long, crcs: Map[String, Long],
                          kinds: Map[String, Int], digestCol: String): Unit = {
    val conf = ctx.hconf
    val fs = ContainerIO.fs(file, conf)
    val in = fs.open(new org.apache.hadoop.fs.Path(file))
    try {
      val buf = new Array[Byte](len.toInt)
      t.span("engine", "engine.io")(timed("engine.io", len.toDouble)(in.readFully(off, buf)))
      val longs = kinds.collect { case (n, k) if k == 0 || k == 3 || k == 8 => n }.toSet
      val strs = kinds.collect { case (n, k) if k == 1 || k == 6 => n }.toSet
      val ints = kinds.collect { case (n, k) if k == 2 || k == 4 || k == 9 || k == 10 => n }.toSet
      val dbls = kinds.collect { case (n, 5) => n }.toSet
      val flts = kinds.collect { case (n, 7) => n }.toSet
      val chunk = t.span("engine", "engine.read_chunk")(timed("engine.read_chunk", 1) {
        ContainerFormat.readChunk(new ContainerInput(in, off, off + len), longs, strs, crcs, ints, dbls, flts)
      })
      if (digestCol.nonEmpty && chunk.strs.containsKey(digestCol)) {
        val c = chunk.strs.get(digestCol)
        t.span("engine", "engine.digest")(timed("engine.digest", c.pool.length.toDouble)(
          ContainerFormat.verifyContentDigest(chunk, digestCol)))
      }
      // the chunk's column blocks, parsed the way the container lays them out
      val r = new BlockReader(buf)
      val n = r.getVarint().toInt
      val nCols = r.getVarint().toInt
      var c = 0
      while (c < nCols) {
        val name = new String(r.getBytes(r.getVarint().toInt), UTF_8)
        val rawKind = r.getByte()
        val blockLen = r.getVarint().toInt
        val blockOff = r.position
        r.skip(blockLen)
        crcs.get(name).foreach { want =>
          val got = t.span("engine", "engine.crc")(timed("engine.crc", blockLen.toDouble)(
            Manifests.crc32c(buf, blockOff, blockLen)))
          if (got != want) ctx.fail(s"replay: block CRC mismatch for column $name")
        }
        val kind = rawKind & 0x7f
        val valOff = blockOff + (if ((rawKind & 0x80) != 0) (n + 7) >> 3 else 0)
        if (LongKinds(kind)) replayLongs(buf, valOff, blockOff + blockLen, n)
        else if (kind == 1) replayStrings(buf, valOff, blockOff + blockLen, n)
        c += 1
      }
    } finally in.close()
  }

  private def replayLongs(buf: Array[Byte], off: Int, end: Int, n: Int): Unit = {
    val stored = LongCodecs.byId(buf(off) & 0xff).name
    count(s"codecs.blocks.long.$stored", 1)
    count("codecs.long.stored_bytes", end - off)
    count("codecs.long.raw_bytes", 8.0 * n)
    val vals = t.span("codecs", "codecs.decode")(LongCodecs.decodeSlice(buf, off, end))
    // core: the stored values through the prefix-varint batch kernels
    val zz = new Array[Long](n)
    var i = 0
    while (i < n) { zz(i) = PrefixVarInt.zigzagEncode(vals(i)); i += 1 }
    val w = new BlockWriter(9 * n + 16)
    t.span("core", "core.varint_put")(timed("core.varint_put", n)(w.putVarints(zz, 0, n)))
    count("core.varint_bytes", w.size)
    count("core.varint_values", n)
    val back = new Array[Long](n)
    val rd = new BlockReader(w.result())
    val got = t.span("core", "core.varint_get")(timed("core.varint_get", n)(rd.readVarints(back, 0, n)))
    if (got != n || !java.util.Arrays.equals(back, zz)) ctx.fail("replay: varint round trip differs")
    // codecs: the selector, then every codec that can hold this chunk
    val st = t.span("codecs", "codecs.select")(timed("codecs.select", 1) {
      val s = LongCodecs.stats(vals, n)
      LongCodecs.select(s)
      s
    })
    LongCodecs.all.foreach { codec =>
      if (LongCodecs.sizeOf(codec, st) != Long.MaxValue) {
        val enc = t.span("codecs", "codecs.encode")(timed(s"codecs.long.encode.${codec.name}", 8.0 * n)(
          codec.encode(vals, n)))
        val dec = t.span("codecs", "codecs.decode")(timed(s"codecs.long.decode.${codec.name}", 8.0 * n)(
          LongCodecs.decodeSlice(enc, 0, enc.length)))
        if (!java.util.Arrays.equals(dec, vals)) ctx.fail(s"replay: long codec ${codec.name} round trip differs")
      }
    }
  }

  private def replayStrings(buf: Array[Byte], off: Int, end: Int, n: Int): Unit = {
    val stored = StringCodecs.byId(buf(off) & 0xff).name
    count(s"codecs.blocks.str.$stored", 1)
    count("codecs.str.stored_bytes", end - off)
    val vals = t.span("codecs", "codecs.decode")(StringCodecs.decodeSliceUtf8(buf, off, end)).strings
    // a string chunk's selection prices raw/dict/rle exactly and FSST by a trial encode
    val st = t.span("codecs", "codecs.select")(timed("codecs.select", 1) {
      val s = StringCodecs.stats(vals, n)
      StringCodecs.encodeBest(vals, n, s)
      s
    })
    val raw = st.totalBytes.toDouble
    count("codecs.str.raw_bytes", raw)
    StringCodecs.exact.foreach { codec =>
      if (StringCodecs.sizeOf(codec, st) != Long.MaxValue)
        roundTrip(codec.name, raw, vals, n)(codec.encode(vals, n))
    }
    if (raw > 0) {
      val table = t.span("codecs", "codecs.fsst_train")(timed("codecs.fsst_train", 1)(Fsst.train(vals, n)))
      roundTrip("fsst", raw, vals, n)(FsstStringCodec.encodeWith(table, vals, n))
    }
  }

  private def roundTrip(name: String, raw: Double, vals: Array[String], n: Int)(encode: => Array[Byte]): Unit = {
    val enc = t.span("codecs", "codecs.encode")(timed(s"codecs.str.encode.$name", raw)(encode))
    val dec = t.span("codecs", "codecs.decode")(timed(s"codecs.str.decode.$name", raw)(
      StringCodecs.decodeSliceUtf8(enc, 0, enc.length)))
    if (dec.n != n || !java.util.Arrays.equals(dec.strings.asInstanceOf[Array[AnyRef]], vals.asInstanceOf[Array[AnyRef]]))
      ctx.fail(s"replay: string codec $name round trip differs")
  }

  /** MB/s of a timed counter, 0 when it never ran. */
  def mbPerS(name: String): Double =
    if (nanos.getOrElse(name, 0.0) <= 0) 0.0 else bytes(name) / 1e6 / (nanos(name) / 1e9)

  /** Mean microseconds per call of a timed counter. */
  def usPer(name: String): Double =
    if (bytes.getOrElse(name, 0.0) <= 0) 0.0 else nanos(name) / 1e3 / bytes(name)
}
