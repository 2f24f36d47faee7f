package perfbench

import graft.format.{FourMc, FourMcReader, FourMcWriter, McCodec, McColumnarCursor, McInput}

import java.io.File

/** Single-thread replay of the container layer over a workload's own
  * files, through the program's own readers and writer: footer-index reads
  * (`FourMcReader.readIndex`), block reads (`FourMcReader.readBlock` for the
  * row layout, `McColumnarCursor` over every column for the columnar
  * layout), xxhash32 over each stored block payload and re-compression of
  * the decompressed bytes through one `FourMcWriter` per codec. Each step is
  * a `format.*` span.
  */
object FormatReplay {

  /** Files are replayed in order until this many stored bytes. */
  val MaxStoredBytes: Long = 64L << 20

  private object Discard extends java.io.OutputStream {
    override def write(b: Int): Unit = ()
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
  }

  def run(files: Seq[(File, String)], tracer: Tracer): Map[String, Double] = {
    var footerNs, footers, hashNs, readNs, writeNs = 0L
    var rawBytes, storedPayload, blocks, stored = 0L
    def timed[A](name: String)(body: => A): (A, Long) = {
      val t0 = System.nanoTime()
      val a = tracer.span(name)(body)
      (a, System.nanoTime() - t0)
    }
    // one writer per codec for the whole replay: steady-state compression
    val writers = scala.collection.mutable.Map.empty[String, FourMcWriter]
    val it = files.iterator
    while (it.hasNext && stored < MaxStoredBytes) {
      val (f, codec) = it.next()
      stored += f.length
      val in = McInput.local(f.toPath)
      try {
        val (idx, tIdx) = timed("format.read_index")(FourMcReader.readIndex(in))
        footerNs += tIdx; footers += 1
        val bounds = idx.blockOffsets :+ idx.eosPos
        for (b <- idx.blockOffsets.indices) {
          val payload = new Array[Byte]((bounds(b + 1) - bounds(b) - FourMc.BlockHeaderLen).toInt)
          in.readFully(bounds(b) + FourMc.BlockHeaderLen, payload, 0, payload.length)
          hashNs += timed("format.xxhash")(FourMc.xxhash32(payload, 0, payload.length))._2
          storedPayload += payload.length
        }
        val raw = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        idx.stats.filter(_.columnar).map(_.nCols) match {
          case Some(cols) =>
            val cur = new McColumnarCursor(in, idx, cols, Array.range(0, cols), 0L, idx.eosPos, null, false)
            var more = true
            while (more) {
              val (ok, t) = timed("format.decompress")(cur.nextBlock())
              readNs += t
              more = ok
              if (ok) raw ++= (0 until cols).map(cur.colBytes)
            }
          case None =>
            for (pos <- idx.blockOffsets) {
              val ((data, _), t) = timed("format.decompress")(FourMcReader.readBlock(in, idx.zstd, pos))
              readNs += t
              raw += data
            }
        }
        rawBytes += raw.map(_.length.toLong).sum
        blocks += idx.numBlocks
        val w = writers.getOrElseUpdate(codec, new FourMcWriter(Discard, McCodec(codec)))
        val (_, tWrite) = timed("format.write")(raw.foreach(b => w.write(b, 0, b.length)))
        writeNs += tWrite
      } finally in.close()
    }
    writers.values.foreach { w =>
      val (_, t) = timed("format.write")(w.close())
      writeNs += t
    }
    def mbps(bytes: Long, ns: Long) = if (ns > 0) bytes / 1e6 / (ns / 1e9) else 0.0
    Map(
      "format.decompress_mbps" -> mbps(rawBytes, readNs),
      "format.xxhash_mbps" -> mbps(storedPayload, hashNs),
      "format.compress_mbps" -> mbps(rawBytes, writeNs),
      "format.footer_read_us" -> (if (footers > 0) footerNs / 1e3 / footers else 0.0),
      "format.blocks" -> blocks.toDouble,
      "format.stored_mb" -> stored / 1e6)
  }
}
