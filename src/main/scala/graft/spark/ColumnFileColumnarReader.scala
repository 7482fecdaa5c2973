package graft.spark

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.format.{ColumnDecoder, ColumnFileReader, CorruptColumnFileException}

/** The columnfile scan path: decodes chunk columns straight into
  * on-heap column vectors (Parquet-vectorized-reader parity) for every
  * projection — atomics, decimals, variants, structs, and arbitrarily
  * nested arrays/maps (framed cells parse straight into the vector's
  * child element vectors, recursively). Types the cell codec cannot
  * store (void, intervals) read as all-NULL vectors; a present cell of
  * one fails like `CellCodec.decode`. Filters evaluate in pass 1 over
  * the raw cells (late materialization + chunk skip, reference:
  * src/columnfile-select.cc:90-176); survivors are then written
  * batch-at-a-time, so whole-stage codegen above the scan consumes
  * columnar input without per-row boxing or UnsafeRow copies.
  */
object ColumnFileColumnarReader {

  /** Batch granularity: bounded vector memory per task. */
  val RowsPerBatch = 4096

  /** Spark vector dictionary over a chunk's value table: string/binary
    * cells land in vectors as int ids (the Parquet-reader fast path) and
    * materialize lazily on access — no per-row byte copies in the scan.
    */
  final class CfVectorDictionary(vals: Array[Array[Byte]])
      extends org.apache.spark.sql.execution.vectorized.Dictionary {
    override def decodeToBinary(id: Int): Array[Byte] = vals(id)
    override def decodeToInt(id: Int): Int =
      throw new UnsupportedOperationException("dictionary holds binary values")
    override def decodeToLong(id: Int): Long =
      throw new UnsupportedOperationException("dictionary holds binary values")
    override def decodeToFloat(id: Int): Float =
      throw new UnsupportedOperationException("dictionary holds binary values")
    override def decodeToDouble(id: Int): Double =
      throw new UnsupportedOperationException("dictionary holds binary values")
  }
}

class ColumnFileColumnarPartitionReader(
    partition: CfPartition,
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    conf: Configuration,
    limit: Int = -1,
    onCorruptSkip: Boolean = false)
    extends PartitionReader[ColumnarBatch] {

  import ColumnFileColumnarReader._

  private var emitted = 0L
  private[spark] val metrics = new ScanMetrics.Task
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metrics.current

  private val allLeaves = CellCodec.flatten(tableSchema)
  private val leafIndexByName: Map[String, Int] =
    allLeaves.zipWithIndex.map { case (l, i) => (l.name, i) }.toMap
  // Required PHYSICAL leaves (struct fields shred to presence + field
  // leaves), in CellCodec.flatten order — decoders(i) streams leaf i.
  private val reqLeaves: IndexedSeq[CellCodec.Leaf] =
    CellCodec.flatten(requiredSchema)
  private val outCols: Array[Int] =
    reqLeaves.map(l => leafIndexByName.getOrElse(l.name,
      throw new IllegalArgumentException(s"unknown column ${l.name}"))).toArray
  private val outTypes: Array[DataType] = reqLeaves.map(_.dataType).toArray
  private val leafIsPresence: Array[Boolean] = reqLeaves.map(_.presence).toArray
  // Vector tree path per leaf: ordinal of the top-level vector, then
  // child ordinals. A presence leaf's path addresses the STRUCT vector
  // itself (its cell drives putNull/putNotNull on the parent). Walks the
  // same traversal as CellCodec.flatten, so ordinals align.
  private val leafVecPath: Array[Array[Int]] = {
    val out = Array.newBuilder[Array[Int]]
    def walk(prefix: Array[Int], st: StructType): Unit =
      st.fields.zipWithIndex.foreach { case (f, i) =>
        val p = prefix :+ i
        f.dataType match {
          case inner: StructType =>
            if (f.nullable) out += p
            walk(p, inner)
          case _ => out += p
        }
      }
    walk(Array.empty, requiredSchema)
    out.result()
  }

  private val filterEvals: Array[FilterEval.Bound] =
    filters.flatMap(f => FilterEval.bind(f, tableSchema, leafIndexByName))
  private val filterCols: Array[Int] = filterEvals.map(_.col).distinct.sorted

  private val path = new Path(partition.filePath)
  private val input = new HadoopSeekableInput(
    path.getFileSystem(conf), path, partition.fileLen)

  private var chunkIdx = 0
  // current chunk state
  private var decoders: Array[ColumnDecoder] = _
  private var survivors: java.util.BitSet = _
  private var rowCount = -1 // -1: unknown (no filter pass), stream to end
  private var row = 0
  private var batch: ColumnarBatch = _

  /** Re-throws unless permissive; permissive counts the chunk and the
    * caller drops the REST of it (batches already emitted from the
    * chunk before the corrupt point stand — best-effort salvage).
    */
  private def corruptChunk(e: CorruptColumnFileException): Unit = {
    if (!onCorruptSkip) throw e
    metrics.corruptChunks += 1
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (decoders == null) {
        if (chunkIdx >= partition.chunkOffsets.length) return false
        try openChunk(chunkIdx)
        catch { case e: CorruptColumnFileException =>
          corruptChunk(e); decoders = null }
        chunkIdx += 1
      }
      if (decoders != null) {
        val filled =
          try fillBatch()
          catch { case e: CorruptColumnFileException =>
            corruptChunk(e); decoders = null; false }
        if (filled) { emitted += batch.numRows(); return true }
        decoders = null // chunk exhausted (or dropped); try next
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    if (batch != null) batch.close()
    input.close()
  }

  private def openChunk(idx: Int): Unit = {
    val info = ColumnFileReader.readChunkHeader(
      input, partition.chunkOffsets(idx), partition.fileLen)
    survivors = null
    row = 0
    // exact chunk row count: sidecar (free) or a decode-walk count for
    // foreign sidecar-less files — projection-independent ragged reads
    rowCount = {
      val known = partition.knownRows(idx)
      if (known >= 0) known.toInt
      else ColumnFileReader.countRows(input, info)
    }

    if (filterCols.nonEmpty) {
      val wanted = new java.util.HashSet[Integer]()
      filterCols.foreach(c => wanted.add(c))
      val filterDecoders = ColumnFileReader.openChunk(input, info, wanted)
      // dictionary-aware shared pass (see FilterEval.survivorBitmap)
      survivors = FilterEval.survivorBitmap(filterDecoders, filterEvals, rowCount)
      if (survivors.isEmpty) {
        metrics.chunksSkipped += 1
        decoders = null
        return // chunk skipped
      }
    }

    metrics.chunksRead += 1
    metrics.decodedBytes += info.fields.iterator.map(_._2).sum
    if (outCols.isEmpty) {
      // empty projection (count(*)): row count only
      emptyProjRows =
        if (survivors != null) survivors.cardinality().toLong
        else rowCount.toLong
      decoders = Array.empty
      return
    }
    val wanted = new java.util.HashSet[Integer]()
    outCols.foreach(c => wanted.add(c))
    val byCol = ColumnFileReader.openChunk(input, info, wanted)
    decoders = outCols.map(c => byCol.getOrElse(c, null))
  }

  private var emptyProjRows = 0L

  /** Fill the next batch from the current chunk; false when exhausted. */
  private def fillBatch(): Boolean = {
    if (outCols.isEmpty) {
      if (emptyProjRows <= 0) return false
      val n = math.min(RowsPerBatch.toLong, emptyProjRows).toInt
      emptyProjRows -= n
      if (batch != null) batch.close()
      batch = new ColumnarBatch(Array.empty[ColumnVector], n)
      return true
    }
    val vectors: Array[OnHeapColumnVector] =
      OnHeapColumnVector.allocateColumns(RowsPerBatch, requiredSchema)
    // resolve each leaf's target vector in the (fresh) batch tree —
    // struct children via getChild chains
    val leafVecs: Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector] =
      leafVecPath.map { path =>
        var v: org.apache.spark.sql.execution.vectorized.WritableColumnVector =
          vectors(path(0))
        var i = 1
        while (i < path.length) { v = v.getChild(path(i)); i += 1 }
        v
      }
    // dictionary fast path: dict-encoded string/binary columns write int
    // ids into the vector's dictionary-id buffer instead of copying bytes
    // per row (a batch never spans chunks, so the dictionary is stable)
    idVectors = leafVecs.indices.map { i =>
      val d = decoders(i)
      val isBin = outTypes(i) == StringType || outTypes(i) == BinaryType
      if (d != null && isBin && d.isDictEncoded) {
        leafVecs(i).setDictionary(new CfVectorDictionary(d.dictionary))
        leafVecs(i).reserveDictionaryIds(RowsPerBatch)
      } else null
    }.toArray
    var n = 0
    if (survivors == null) {
      // unfiltered: exactly rowCount rows, null-padding short columns
      while (n < RowsPerBatch && row < rowCount) {
        writeRow(leafVecs, n)
        row += 1
        n += 1
      }
    } else {
      while (n < RowsPerBatch && row < rowCount) {
        val nxt = survivors.nextSetBit(row)
        if (nxt < 0) { row = rowCount }
        else {
          if (nxt > row) {
            val skip = (nxt - row).toLong
            decoders.foreach(d => if (d != null && d.hasNext) d.skip(skip))
            row = nxt
          }
          writeRow(leafVecs, n)
          row += 1
          n += 1
        }
      }
    }
    if (n == 0) {
      vectors.foreach(_.close())
      false
    } else {
      if (batch != null) batch.close()
      batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], n)
      true
    }
  }

  private var idVectors: Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector] = _

  private def writeRow(
      vectors: Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector],
      pos: Int): Unit = {
    var i = 0
    while (i < decoders.length) {
      val d = decoders(i)
      if (leafIsPresence(i)) {
        // presence leaf: its 1-byte cell drives null/not-null on the
        // STRUCT vector (vectors(i) addresses the parent here); the
        // struct's field leaves still stream one (null) cell per row,
        // so decoder advancement stays uniform
        val cell = if (d != null && d.hasNext) d.next() else null
        if (cell == null || cell.length != 1 || cell(0) == 0)
          vectors(i).putNull(pos)
        else vectors(i).putNotNull(pos)
      } else if (idVectors(i) != null && d.hasNext) {
        val id = d.nextId()
        if (id < 0) vectors(i).putNull(pos)
        else idVectors(i).putInt(pos, id)
      } else if (packedWriters(i) != null && d != null && d.isPackedNumeric &&
          d.packedWidth == packedWidths(i) && d.hasNext) {
        // packed-numeric fast path: the decoder's unboxed LE-integer view
        // goes straight into the vector — no per-cell byte arrays
        if (d.nextPacked()) packedWriters(i)(vectors(i), d.packedValue, pos)
        else vectors(i).putNull(pos)
      } else {
        val cell = if (d != null && d.hasNext) d.next() else null
        if (cell == null) vectors(i).putNull(pos)
        else cellWriters(i)(vectors(i), cell, pos)
      }
      i += 1
    }
  }

  // Unboxed writers for packed-numeric blocks (PackedIntColumnWriter):
  // the packed value IS the cell's little-endian bit pattern.
  private type PackedWriter =
    (org.apache.spark.sql.execution.vectorized.WritableColumnVector, Long, Int) => Unit
  private val packedWriters: Array[PackedWriter] = outTypes.map[PackedWriter] {
    case LongType | TimestampType | TimestampNTZType =>
      (v, x, pos) => v.putLong(pos, x)
    case IntegerType | DateType =>
      (v, x, pos) => v.putInt(pos, x.toInt)
    case DoubleType =>
      (v, x, pos) => v.putDouble(pos, java.lang.Double.longBitsToDouble(x))
    case FloatType =>
      (v, x, pos) => v.putFloat(pos, java.lang.Float.intBitsToFloat(x.toInt))
    case _ => null
  }
  private val packedWidths: Array[Int] = outTypes.map {
    case LongType | TimestampType | TimestampNTZType | DoubleType => 8
    case IntegerType | DateType | FloatType                       => 4
    case _                                                        => 0
  }

  // Unboxed per-column cell writers, dispatched once per scan instead of
  // per cell: fixed-width numerics read their little-endian bytes
  // directly into the vector (no CellCodec boxing in the hot loop).
  private def expectLen(cell: Array[Byte], n: Int): Unit =
    if (cell.length != n)
      throw new graft.format.CorruptColumnFileException(
        s"cell has ${cell.length} bytes, expected $n")
  private def leLong(b: Array[Byte]): Long = {
    expectLen(b, 8)
    (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) |
      ((b(3) & 0xffL) << 24) | ((b(4) & 0xffL) << 32) | ((b(5) & 0xffL) << 40) |
      ((b(6) & 0xffL) << 48) | ((b(7) & 0xffL) << 56)
  }
  private def leInt(b: Array[Byte]): Int = {
    expectLen(b, 4)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) |
      ((b(3) & 0xff) << 24)
  }

  private type CellWriter =
    (org.apache.spark.sql.execution.vectorized.WritableColumnVector, Array[Byte], Int) => Unit
  private val cellWriters: Array[CellWriter] = outTypes.map[CellWriter] {
    case StringType | BinaryType =>
      (v, cell, pos) => { v.putByteArray(pos, cell, 0, cell.length); () }
    // integer/float families: exact width on the fast path; narrower
    // cells (widening reads after int32→int64 / float→double schema
    // evolution) go through CellCodec.decode's widening rules
    case LongType =>
      (v, cell, pos) => v.putLong(pos,
        if (cell.length == 8) leLong(cell)
        else CellCodec.decode(LongType, cell).asInstanceOf[Long])
    case TimestampType | TimestampNTZType =>
      (v, cell, pos) => v.putLong(pos, leLong(cell))
    case IntegerType =>
      (v, cell, pos) => v.putInt(pos,
        if (cell.length == 4) leInt(cell)
        else CellCodec.decode(IntegerType, cell).asInstanceOf[Int])
    case DateType =>
      (v, cell, pos) => v.putInt(pos, leInt(cell))
    case DoubleType =>
      (v, cell, pos) => v.putDouble(pos,
        if (cell.length == 4) java.lang.Float.intBitsToFloat(leInt(cell)).toDouble
        else java.lang.Double.longBitsToDouble(leLong(cell)))
    case FloatType =>
      (v, cell, pos) => v.putFloat(pos, java.lang.Float.intBitsToFloat(leInt(cell)))
    case ShortType =>
      (v, cell, pos) =>
        if (cell.length == 1) v.putShort(pos, cell(0).toShort)
        else { expectLen(cell, 2)
          v.putShort(pos, (((cell(1) & 0xff) << 8) | (cell(0) & 0xff)).toShort) }
    case ByteType =>
      (v, cell, pos) => { expectLen(cell, 1); v.putByte(pos, cell(0)) }
    case BooleanType =>
      (v, cell, pos) => { expectLen(cell, 1); v.putBoolean(pos, cell(0) != 0) }
    case d: DecimalType =>
      (v, cell, pos) => v.putDecimal(pos,
        CellCodec.decode(d, cell).asInstanceOf[org.apache.spark.sql.types.Decimal],
        d.precision)
    // variant cell = varint(len) + value + varint(len) + metadata
    // (CellCodec's framing); the two parts land in the vector's binary
    // children at the same row position
    case _: VariantType =>
      (v, cell, pos) => {
        val cur = new graft.format.Cursor(0)
        val vLen = framedCount(cell, cur)
        val vOff = cur.pos
        cur.pos += vLen
        val mLen = framedCount(cell, cur)
        val mOff = cur.pos
        cur.pos += mLen
        expectConsumed(cell, cur, "variant")
        v.getChild(0).putByteArray(pos, cell, vOff, vLen)
        v.getChild(1).putByteArray(pos, cell, mOff, mLen)
        v.putNotNull(pos)
        ()
      }
    // Framed collections parse straight into the child element vectors
    // (append-based: rows of a batch are written in order, so the child
    // offset is just the running elementsAppended). Mirrors
    // CellCodec.readFramed's framing exactly: varint count, then per
    // element a presence byte + fixed-width LE value or varint-framed
    // bytes. Map keys carry no presence byte (never null).
    case ArrayType(et, _) =>
      val app = elemAppender(et)
      (v, cell, pos) => {
        val cur = new graft.format.Cursor(0)
        val n = framedCount(cell, cur)
        val child = v.arrayData()
        val start = child.getElementsAppended
        var k = 0
        while (k < n) {
          expectRemain(cell, cur, 1)
          val present = cell(cur.pos) != 0
          cur.pos += 1
          if (present) app(child, cell, cur) else appendNullElem(child, et)
          k += 1
        }
        expectConsumed(cell, cur, "array")
        v.putArray(pos, start, n)
        ()
      }
    case MapType(kt, vt, _) =>
      val kApp = elemAppender(kt)
      val vApp = elemAppender(vt)
      (v, cell, pos) => {
        val cur = new graft.format.Cursor(0)
        val n = framedCount(cell, cur)
        val keys = v.getChild(0)
        val vals = v.getChild(1)
        val start = keys.getElementsAppended
        var k = 0
        while (k < n) {
          kApp(keys, cell, cur)
          expectRemain(cell, cur, 1)
          val present = cell(cur.pos) != 0
          cur.pos += 1
          if (present) vApp(vals, cell, cur) else appendNullElem(vals, vt)
          k += 1
        }
        expectConsumed(cell, cur, "map")
        v.putArray(pos, start, n)
        ()
      }
    // no value encoding (void, intervals): NULL or absent cells never
    // reach a writer (writeRow puts the null), a present one fails
    case other =>
      (_, _, _) => unsupported(other)
  }

  private def unsupported(dt: DataType): Nothing =
    throw new UnsupportedOperationException(s"columnfile: unsupported type $dt")

  // ---- framed-collection parsing helpers ----

  private def expectRemain(cell: Array[Byte], cur: graft.format.Cursor, n: Int): Unit =
    if (cur.pos + n > cell.length)
      throw new graft.format.CorruptColumnFileException(
        s"framed cell truncated at ${cur.pos}+$n of ${cell.length} bytes")

  private def expectConsumed(cell: Array[Byte], cur: graft.format.Cursor,
      what: String): Unit =
    if (cur.pos != cell.length)
      throw new graft.format.CorruptColumnFileException(
        s"trailing bytes decoding $what cell")

  /** Element count, validated as Long BEFORE narrowing (each element
    * costs >= 1 byte) — same guard as CellCodec.readCount.
    */
  private def framedCount(cell: Array[Byte], cur: graft.format.Cursor): Int = {
    val n = graft.format.Varint.get(cell, cur)
    if (n < 0 || n > (cell.length - cur.pos).toLong)
      throw new graft.format.CorruptColumnFileException(
        s"framed count $n exceeds cell of ${cell.length} bytes")
    n.toInt
  }

  private def leIntAt(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) |
      ((b(p + 3) & 0xff) << 24)
  private def leLongAt(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
      ((b(p + 3) & 0xffL) << 24) | ((b(p + 4) & 0xffL) << 32) |
      ((b(p + 5) & 0xffL) << 40) | ((b(p + 6) & 0xffL) << 48) |
      ((b(p + 7) & 0xffL) << 56)

  /** Appends one non-null element of `dt` from the framed cell at the
    * cursor to a child vector, advancing the cursor.
    */
  private type ElemAppender =
    (org.apache.spark.sql.execution.vectorized.WritableColumnVector, Array[Byte],
      graft.format.Cursor) => Unit
  private def elemAppender(dt: DataType): ElemAppender = dt match {
    case IntegerType | DateType =>
      (c, cell, cur) => { expectRemain(cell, cur, 4)
        c.appendInt(leIntAt(cell, cur.pos)); cur.pos += 4; () }
    case LongType | TimestampType | TimestampNTZType =>
      (c, cell, cur) => { expectRemain(cell, cur, 8)
        c.appendLong(leLongAt(cell, cur.pos)); cur.pos += 8; () }
    case DoubleType =>
      (c, cell, cur) => { expectRemain(cell, cur, 8)
        c.appendDouble(java.lang.Double.longBitsToDouble(leLongAt(cell, cur.pos)))
        cur.pos += 8; () }
    case FloatType =>
      (c, cell, cur) => { expectRemain(cell, cur, 4)
        c.appendFloat(java.lang.Float.intBitsToFloat(leIntAt(cell, cur.pos)))
        cur.pos += 4; () }
    case ShortType =>
      (c, cell, cur) => { expectRemain(cell, cur, 2)
        c.appendShort((((cell(cur.pos + 1) & 0xff) << 8) |
          (cell(cur.pos) & 0xff)).toShort)
        cur.pos += 2; () }
    case ByteType =>
      (c, cell, cur) => { expectRemain(cell, cur, 1)
        c.appendByte(cell(cur.pos)); cur.pos += 1; () }
    case BooleanType =>
      (c, cell, cur) => { expectRemain(cell, cur, 1)
        c.appendBoolean(cell(cur.pos) != 0); cur.pos += 1; () }
    case StringType | BinaryType =>
      (c, cell, cur) => {
        val len = framedCount(cell, cur)
        c.appendByteArray(cell, cur.pos, len)
        cur.pos += len
        ()
      }
    // decimal elements: varint-framed unscaled big-int bytes; appended
    // in putDecimal's storage layout (int / long / byte-array by
    // precision) so the read side decodes identically
    case d: DecimalType =>
      val prec = d.precision
      (c, cell, cur) => {
        val len = framedCount(cell, cur)
        if (len == 0)
          throw new CorruptColumnFileException("empty decimal element cell")
        val bi = new java.math.BigInteger(
          java.util.Arrays.copyOfRange(cell, cur.pos, cur.pos + len))
        cur.pos += len
        try {
          if (prec <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS)
            c.appendInt(bi.intValueExact())
          else if (prec <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS)
            c.appendLong(bi.longValueExact())
          else { val b = bi.toByteArray; c.appendByteArray(b, 0, b.length) }
        } catch { case _: ArithmeticException =>
          throw new CorruptColumnFileException(
            s"decimal element overflows precision $prec")
        }
        ()
      }
    // variant elements: varint(totalLen) outer frame (writeElement's
    // byte-typed framing), then the variant cell's own two varint-framed
    // parts; value/metadata land in the struct-shaped variant vector's
    // binary children (same layout the top-level variant column uses)
    case _: VariantType =>
      (c, cell, cur) => {
        val total = framedCount(cell, cur)
        val end = cur.pos + total
        val vLen = framedCount(cell, cur)
        val vOff = cur.pos
        cur.pos += vLen
        val mLen = framedCount(cell, cur)
        val mOff = cur.pos
        cur.pos += mLen
        if (cur.pos != end)
          throw new graft.format.CorruptColumnFileException(
            "trailing bytes decoding variant element")
        c.appendStruct(false)
        c.getChild(0).appendByteArray(cell, vOff, vLen)
        c.getChild(1).appendByteArray(cell, mOff, mLen)
        ()
      }
    // struct elements: presence byte + element per field (no count
    // prefix — mirrors CellCodec.writeFramed's struct layout)
    case st: StructType =>
      val apps = st.fields.map(f => elemAppender(f.dataType))
      val fieldTypes = st.fields.map(_.dataType)
      (c, cell, cur) => {
        c.appendStruct(false)
        var i = 0
        while (i < apps.length) {
          expectRemain(cell, cur, 1)
          val present = cell(cur.pos) != 0
          cur.pos += 1
          if (present) apps(i)(c.getChild(i), cell, cur)
          else appendNullElem(c.getChild(i), fieldTypes(i))
          i += 1
        }
      }
    // nested array elements: appendArray FIRST — it records the child's
    // CURRENT elementsAppended as the element's start offset and expects
    // exactly n child appends to follow
    case ArrayType(et, _) =>
      val app = elemAppender(et)
      (c, cell, cur) => {
        val n = framedCount(cell, cur)
        c.appendArray(n)
        val child = c.arrayData()
        var k = 0
        while (k < n) {
          expectRemain(cell, cur, 1)
          val present = cell(cur.pos) != 0
          cur.pos += 1
          if (present) app(child, cell, cur) else appendNullElem(child, et)
          k += 1
        }
      }
    // nested map elements: keys carry no presence byte (never null)
    case MapType(kt, vt, _) =>
      val kApp = elemAppender(kt)
      val vApp = elemAppender(vt)
      (c, cell, cur) => {
        val n = framedCount(cell, cur)
        c.appendArray(n)
        val keys = c.getChild(0)
        val vals = c.getChild(1)
        var k = 0
        while (k < n) {
          kApp(keys, cell, cur)
          expectRemain(cell, cur, 1)
          val present = cell(cur.pos) != 0
          cur.pos += 1
          if (present) vApp(vals, cell, cur) else appendNullElem(vals, vt)
          k += 1
        }
      }
    // no value encoding: null elements go through appendNullElem, a
    // present one fails
    case other =>
      (_, _, _) => unsupported(other)
  }

  /** Append a null ELEMENT to a child vector. Struct children — and
    * variant children, whose vector is struct-shaped (value, metadata) —
    * must go through appendStruct(true) so their own field vectors stay
    * aligned (a bare appendNull would leave them one row short).
    */
  private def appendNullElem(
      c: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      dt: DataType): Unit = dt match {
    case _: StructType | _: VariantType => c.appendStruct(true); ()
    case _ => c.appendNull(); ()
  }
}
