package cfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.format.{BytesInput, ColumnDecoder, ColumnFileReader, ColumnFileWriter, Compression}

/** Codec throughput of one replay pass. Every rate is in MB of
  * decompressed column-block bytes per second, so the three stages are
  * directly comparable.
  */
final case class ReplayResult(
    files: Int, chunks: Int, storedBytes: Long, blockBytes: Long,
    decompressMs: Double, decodeMs: Double, encodeMs: Double) {
  private def mbPerS(ms: Double): Double = blockBytes / 1e6 / (ms / 1e3)
  def decompressMbPerS: Double = mbPerS(decompressMs)
  def decodeMbPerS: Double = mbPerS(decodeMs)
  def encodeMbPerS: Double = mbPerS(encodeMs)
  def compressRatio: Double = blockBytes.toDouble / storedBytes
}

/** Replays a workload's own data files through the `graft.format`
  * reader and writer on one driver thread, with no Spark in the loop:
  * chunk headers via `ColumnFileReader.scanChunks`, each column block
  * through `Compression.decompress` and `ColumnDecoder`, then the
  * decoded cells back through `ColumnFileWriter.put`/`flush` with the
  * chunk's own codec into a discarding stream.
  */
object FormatReplay {

  /** Replays whole chunks in file order until `budgetBytes` of
    * decompressed block data have been replayed (at least one chunk).
    */
  def pass(files: Seq[java.io.File], budgetBytes: Long, tracer: Tracer): ReplayResult =
    tracer.span("format.replay") {
      var (nFiles, nChunks, stored, block) = (0, 0, 0L, 0L)
      var (decompressMs, decodeMs, encodeMs) = (0.0, 0.0, 0.0)
      def timed[T](name: String)(body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val out = tracer.span(name)(body)
        (out, (System.nanoTime() - t0) / 1e6)
      }
      val it = files.iterator
      while (it.hasNext && block < budgetBytes) {
        val in = new BytesInput(Files.readAllBytes(it.next().toPath))
        nFiles += 1
        val chunks = ColumnFileReader.scanChunks(in).iterator
        while (chunks.hasNext && block < budgetBytes) {
          val chunk = chunks.next()
          nChunks += 1
          var off = chunk.dataOffset
          val raw = chunk.fields.map { case (c, size) =>
            val b = in.readFully(off, size.toInt)
            off += size
            stored += size
            (c, b)
          }
          val (blocks, t1) = timed("format.decompress") {
            raw.map { case (c, b) => (c, Compression.decompress(chunk.compression, b)) }
          }
          decompressMs += t1
          block += blocks.iterator.map(_._2.length.toLong).sum
          val (decoded, t2) = timed("format.decode") {
            blocks.map { case (c, b) =>
              val d = new ColumnDecoder(b)
              val out = mutable.ArrayBuffer.empty[Array[Byte]]
              while (d.hasNext) out += d.next()
              (c, out)
            }
          }
          decodeMs += t2
          val (_, t3) = timed("format.encode") {
            val w = new ColumnFileWriter(java.io.OutputStream.nullOutputStream(),
              chunk.compression)
            decoded.foreach { case (c, vs) =>
              vs.foreach(v => if (v == null) w.putNull(c) else w.put(c, v))
            }
            w.finish()
          }
          encodeMs += t3
        }
      }
      ReplayResult(nFiles, nChunks, stored, block, decompressMs, decodeMs, encodeMs)
    }
}
