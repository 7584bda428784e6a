package cfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.collection.mutable

import graft.format.{BytesInput, ColumnFileReader, ColumnFileWriter, Compression}

/** Direct single-thread calls into `graft.format` on cells taken from one of
  * this run's data files: encode and decode per encoding (codec none), and
  * compress and decompress per codec on the plain-encoded blocks.
  * Throughputs are MB of raw cells (encode/decode) or of encoded blocks
  * (codecs) per second of wall time.
  */
object FormatProbe {
  private val MaxCellBytes = 512L << 10
  private val ChunkBytes = 256 * 1024
  private val MinMs = 60.0

  /** Columns of the leading rows (about `MaxCellBytes` of cells) of the
    * file's first chunks.
    */
  private def cells(file: File): Seq[(Int, Array[Array[Byte]])] = {
    val in = new BytesInput(Files.readAllBytes(file.toPath))
    val cols = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Array[Byte]]]
    var total = 0L
    val chunks = ColumnFileReader.scanChunks(in).iterator
    while (total < MaxCellBytes && chunks.hasNext) {
      ColumnFileReader.openChunk(in, chunks.next(), null).foreach { case (c, d) =>
        val buf = cols.getOrElseUpdate(c, mutable.ArrayBuffer.empty)
        while (d.hasNext) {
          val v = d.next()
          buf += v
          total += (if (v == null) 0 else v.length)
        }
      }
    }
    // a chunk can hold far more than the cap: keep the leading rows only
    val rows = cols.valuesIterator.map(_.length).max
    val keep = math.max(1L, math.min(rows.toLong, MaxCellBytes * rows / math.max(1L, total)))
    cols.toSeq.map { case (c, b) => (c, b.take(keep.toInt).toArray) }
  }

  private def encode(cols: Seq[(Int, Array[Array[Byte]])], codec: Int,
      dict: Set[Int], packed: Map[Int, Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new ColumnFileWriter(bos, codec)
    w.setDictionaryColumns(dict)
    w.setPackedColumns(packed)
    val n = cols.map(_._2.length).max
    var r = 0
    while (r < n) {
      cols.foreach { case (c, vs) =>
        if (r < vs.length) { val v = vs(r); if (v == null) w.putNull(c) else w.put(c, v) }
      }
      r += 1
      if (r % 1024 == 0 && w.pendingSize >= ChunkBytes) w.flush()
    }
    w.close()
    bos.toByteArray
  }

  private def decode(file: Array[Byte]): Long = {
    val in = new BytesInput(file)
    var n = 0L
    ColumnFileReader.scanChunks(in).foreach { ch =>
      ColumnFileReader.openChunk(in, ch, null).valuesIterator.foreach { d =>
        while (d.hasNext) { d.next(); n += 1 }
      }
    }
    n
  }

  /** MB/s of `bytes` per call of `body`, over at least `MinMs` of calls. */
  private def rate(bytes: Long)(body: => Unit): Double = {
    body // warm-up
    var calls = 0
    val t0 = System.nanoTime()
    var ms = 0.0
    while (ms < MinMs || calls < 2) {
      body
      calls += 1
      ms = (System.nanoTime() - t0) / 1e6
    }
    bytes.toDouble * calls / 1e6 / (ms / 1e3)
  }

  def run(file: File): Seq[(String, Double)] = {
    val cols = cells(file)
    val raw = cols.map(_._2.iterator.map(v => if (v == null) 0L else v.length.toLong).sum).sum
    def widths(c: Array[Array[Byte]]) = c.iterator.filter(_ != null).map(_.length).toSet
    val fixed = cols.collect { case (c, vs) if Set(Set(4), Set(8))(widths(vs)) =>
      c -> widths(vs).head }.toMap
    val varying = cols.map(_._1).filterNot(fixed.contains).toSet
    val encodings = Seq(
      "plain" -> ((Set.empty[Int], Map.empty[Int, Int])),
      "dict" -> ((varying, Map.empty[Int, Int])),
      "bitpack" -> ((Set.empty[Int], fixed)))
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    encodings.foreach { case (name, (d, p)) =>
      out += s"format.encode_mb_s.$name" ->
        rate(raw)(encode(cols, Compression.None, d, p))
      val file = encode(cols, Compression.None, d, p)
      out += s"format.decode_mb_s.$name" -> rate(raw)(decode(file))
    }
    // plain-encoded column blocks, one per column and chunk
    val plain = encode(cols, Compression.None, Set.empty, Map.empty)
    val in = new BytesInput(plain)
    val blocks = ColumnFileReader.scanChunks(in).flatMap { ch =>
      var off = ch.dataOffset
      ch.fields.toSeq.map { case (_, size) =>
        val b = in.readFully(off, size.toInt); off += size; b
      }
    }
    val blockBytes = blocks.map(_.length.toLong).sum
    Seq("none", "snappy", "lz4", "zstd", "zlib", "lzma").foreach { name =>
      val codec = Compression.fromName(name)
      out += s"format.compress_mb_s.$name" ->
        rate(blockBytes)(blocks.foreach(b => Compression.compress(codec, b, 0, b.length)))
      // codec none decompresses by returning its input: no rate, ratio 1
      if (codec != Compression.None) {
        val packed = blocks.map(b => Compression.compress(codec, b, 0, b.length))
        out += s"format.decompress_mb_s.$name" ->
          rate(blockBytes)(packed.foreach(b => Compression.decompress(codec, b)))
        out += s"format.ratio.$name" -> blockBytes.toDouble / packed.map(_.length.toLong).sum
      }
    }
    out.toSeq
  }
}
