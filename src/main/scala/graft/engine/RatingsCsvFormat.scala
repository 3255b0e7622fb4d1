package graft.engine

import java.io.{Closeable, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory,
  PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector,
  OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

/** Read-only columnar file source for MovieLens-format `ratings.csv`: for a
  * schema of INT, BIGINT and DOUBLE columns it returns, row for row and value
  * for value, what `spark.read.option("header", "true").option("escape", "\"")
  * .schema(schema).csv(path)` returns, but parses each line once, in place
  * over the file's bytes, and only into the columns the query reads. The
  * reference does the same with one positional `line.split(",")` per line
  * (MovieRank.java:58, MovieRating.java:59). Per file block:
  *   - the block's bytes are read into one reused buffer ([[BlockBytes]],
  *     Hadoop `LineReader`'s size), at most up to the block end and then
  *     [[TailBytes]] at a time until its last line is finished; a line
  *     longer than the buffer grows it;
  *   - which lines the block owns follows Hadoop's `LineRecordReader`, as the
  *     text and CSV sources do: LF, CR and CRLF each end a line (a CRLF is one
  *     end, also when a refill splits it); a block that does not start at
  *     byte 0 first skips through its first line end; a block owns every line
  *     whose first byte is at an offset ≤ its end; a UTF-8 BOM at byte 0 is
  *     skipped; the last line of a file needs no terminator;
  *   - a compressed file (any Hadoop codec, `.bz2` included) is one block,
  *     read as its decompressed stream to the end (`isSplitable` is "no
  *     codec");
  *   - [[RatingsCsvFormat.strictLine]] parses a plain line in one pass from
  *     its first byte to its terminator, straight into the vectors at its
  *     row id; it never sees a line copied or scanned before;
  *   - a line it refuses is found to its end and then, in this order: a
  *     blank line (every byte ≤ 0x20, i.e. `String.trim` is empty) is
  *     dropped; in a block that starts at byte 0, the first non-blank line
  *     (the header) is dropped; any other line goes to Spark's own parser as
  *     `from_csv` runs it: a [[UnivocityParser]] under a PERMISSIVE
  *     [[FailureSafeParser]] over the full nullable data schema, projected to
  *     the required columns after the parse, so no value depends on which
  *     columns a query selects. The dropped lines are those the CSV reader
  *     with `header=true` skips (CSVHeaderChecker, CSVExprUtils);
  *   - the rows fill one reused [[ColumnarBatch]] of [[BatchRows]] rows at a
  *     time: an [[OnHeapColumnVector]] per required column, plus a
  *     [[ConstantColumnVector]] per partition column.
  *
  * `supportBatch` is true, so whole-stage codegen reads the vectors through
  * `ColumnarToRow`. Where Spark asks for rows instead (without whole-stage
  * codegen), the same batches are read through `ColumnarBatch.rowIterator()`
  * and projected to `UnsafeRow`s, as every file source's rows are.
  *
  * Use: `spark.read.format(classOf[RatingsCsvFormat].getName).schema(s)
  * .load(path)` ([[Sources.ratingsCsv]]). */
class RatingsCsvFormat extends TextBasedFileFormat {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException(s"$this is read-only")

  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: Path): Boolean =
    new CompressionCodecFactory(getHadoopConf(spark, options)).getCodec(path) == null

  override def supportDataType(dataType: DataType): Boolean =
    RatingsCsvFormat.kind(dataType) >= 0

  override def supportBatch(spark: SparkSession, dataSchema: StructType): Boolean = true

  override def vectorTypes(requiredSchema: StructType, partitionSchema: StructType,
                           sqlConf: SQLConf): Option[Seq[String]] =
    Some(Seq.fill(requiredSchema.length)(classOf[OnHeapColumnVector].getName) ++
      Seq.fill(partitionSchema.length)(classOf[ConstantColumnVector].getName))

  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val schema = StructType(dataSchema.map(_.copy(nullable = true)))
    val returningBatch = options.get(FileFormat.OPTION_RETURNING_BATCH).contains("true")
    val csvOptions = new CSVOptions(Sources.csvOptions, columnPruning = true,
      SQLConf.get.sessionLocalTimeZone)
    (file: PartitionedFile) => {
      val path = file.toPath
      val codec = new CompressionCodecFactory(conf.value.value).getCodec(path)
      val in = path.getFileSystem(conf.value.value).open(path, RatingsCsvFormat.TailBytes)
      val block =
        if (codec == null) {
          in.seek(file.start)
          new RatingsCsvFormat.Block(in, file.start, file.start + file.length)
        } else new RatingsCsvFormat.Block(codec.createInputStream(in), 0L, Long.MaxValue)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => block.close()))
      val batches = new RatingsCsvFormat.Batches(block, file.start == 0, schema,
        requiredSchema, partitionSchema, file.partitionValues, csvOptions)
      if (returningBatch) batches.asInstanceOf[Iterator[InternalRow]]
      else {
        val toUnsafe = UnsafeProjection.create(StructType(requiredSchema ++ partitionSchema))
        batches.flatMap(_.rowIterator().asScala).map(toUnsafe)
      }
    }
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[RatingsCsvFormat]
  override def hashCode(): Int = getClass.hashCode
  override def toString: String = "RatingsCsv"
}

object RatingsCsvFormat {
  /** Rows per [[ColumnarBatch]], Spark's own default batch size for its
    * columnar readers (`spark.sql.parquet.columnarReaderBatchSize`). */
  val BatchRows = 4096

  /** The read buffer of a block, the size of Hadoop `LineReader`'s (Spark
    * sets `io.file.buffer.size` to 64 KB); smaller for a block shorter than
    * it. */
  val BlockBytes: Int = 64 * 1024

  /** The smallest read: past the block end, the reader reads this much at a
    * time until the block's last line is finished. The file is opened with
    * this buffer size, so every larger read goes straight to the file. */
  val TailBytes: Int = 4 * 1024

  private val IntKind: Byte = 0
  private val LongKind: Byte = 1
  private val DoubleKind: Byte = 2

  private def kind(t: DataType): Byte = t match {
    case IntegerType => IntKind
    case LongType => LongKind
    case DoubleType => DoubleKind
    case _ => -1
  }

  /** The per-column kinds [[strictLine]] takes for `schema`. */
  def kinds(schema: StructType): Array[Byte] = schema.fields.map(f => kind(f.dataType))

  /** 10^0 … 10^15, each an exact double. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10)

  /** One CSV line, starting at `bytes(from)`, parsed in a single pass up to
    * its terminator if it fits the strict grammar:
    *   - exactly one field per entry of `kinds`, separated by `,`, no other
    *     bytes (no quotes, signs, spaces, exponents or empty fields), then
    *     `\n` or `\r`;
    *   - INT: 1–9 digits; BIGINT: 1–18 digits (neither can overflow);
    *   - DOUBLE: `digits[.digits]`, at most 15 digits in all. The value is
    *     `mantissa / 10^scale`: both operands are exact doubles and IEEE
    *     division rounds correctly, so it equals `Double.parseDouble`
    *     (Clinger's fast path).
    * `bytes` must hold a byte other than a digit, `.` or `,` at or after the
    * line's end (a terminator, or a sentinel after the filled bytes), so the
    * loops need no bounds test. Field `f` is written as a primitive to
    * `out(f)` at `rowId`, or checked but not written when `out(f)` is null.
    * Returns the terminator's index, or −1, with the row partly written, for
    * a line outside the grammar. On its grammar the values equal what
    * Spark's CSV parser makes of the line (`String.toInt`/`toLong`/
    * `toDouble` per token). */
  def strictLine(bytes: Array[Byte], from: Int, kinds: Array[Byte],
                 out: Array[WritableColumnVector], rowId: Int): Int = {
    var pos = from
    var f = 0
    while (f < kinds.length) {
      if (f > 0) {
        if (bytes(pos) != ',') return -1
        pos += 1
      }
      val k = kinds(f)
      val v = out(f)
      val intStart = pos
      var mantissa = 0L // may overflow only past maxDigits, where the line is refused
      var b = bytes(pos)
      if (v == null) while (b >= '0' && b <= '9') { // checked, not read
        pos += 1
        b = bytes(pos)
      }
      else while (b >= '0' && b <= '9') {
        mantissa = mantissa * 10 + (b - '0')
        pos += 1
        b = bytes(pos)
      }
      var digits = pos - intStart
      var scale = -1 // digits after the '.', -1 while there is none
      if (b == '.' && k == DoubleKind && digits > 0) {
        pos += 1
        val fracStart = pos
        b = bytes(pos)
        while (b >= '0' && b <= '9') {
          mantissa = mantissa * 10 + (b - '0')
          pos += 1
          b = bytes(pos)
        }
        scale = pos - fracStart
        digits += scale
      }
      val maxDigits = if (k == IntKind) 9 else if (k == LongKind) 18 else 15
      if (digits == 0 || digits > maxDigits || scale == 0) return -1
      if (v != null) {
        if (k == IntKind) v.putInt(rowId, mantissa.toInt)
        else if (k == LongKind) v.putLong(rowId, mantissa)
        else v.putDouble(rowId, if (scale < 0) mantissa.toDouble else mantissa.toDouble / Pow10(scale))
      }
      f += 1
    }
    val b = bytes(pos)
    if (b == '\n' || b == '\r') pos else -1
  }

  /** The lines of one file block, read in place: `buf(pos)` is the first
    * byte of the next line, `buf(0 until lim)` the bytes read and `base` the
    * offset of `buf(0)` in the (decompressed) file. `buf(lim)` is a sentinel:
    * 0 while more input may follow, `\n` once the input is done, so that a
    * last line without terminator ends there. The block owns the lines
    * starting at offsets in `(start, end]`, or `[0, end]` from `start` 0
    * (see [[RatingsCsvFormat]]); `end` is `Long.MaxValue` for a decompressed
    * stream. */
  private final class Block(in: InputStream, start: Long, end: Long) extends Closeable {
    var buf = new Array[Byte](math.min(end - start, (BlockBytes - TailBytes).toLong).toInt +
      TailBytes + 1)
    var pos = 0
    var lim = 0
    private var base = start
    private var lastStart = end // the block owns the lines that start at offsets ≤ this
    private var eof = false
    private var lfPending = false // the last line ended with a CR at `lim`
    private var closed = false

    if (start != 0) endLine(lineEnd()) // the previous block owns that line
    else {
      while (lim < 3 && fill()) {}
      if (lim >= 3 && buf(0) == 0xEF.toByte && buf(1) == 0xBB.toByte && buf(2) == 0xBF.toByte) {
        pos = 3
        lastStart = math.max(end, 3) // the first line still starts at byte 0
      }
    }

    /** Moves the unread bytes to the front, grows the buffer if they leave
      * less than [[TailBytes]] free, and reads once more: up to `end` while
      * it is ahead, else [[TailBytes]]. False once the input is done. */
    private def fill(): Boolean = !eof && {
      val kept = lim - pos
      System.arraycopy(buf, pos, buf, 0, kept)
      base += pos
      pos = 0
      lim = kept
      if (buf.length - 1 - lim < TailBytes) buf = Arrays.copyOf(buf, 2 * buf.length)
      val room = buf.length - 1 - lim
      val n = in.read(buf, lim, math.min(room.toLong, math.max(end - base - lim, TailBytes)).toInt)
      if (n < 0) {
        eof = true
        buf(lim) = '\n'
      } else {
        lim += n
        buf(lim) = 0
      }
      !eof
    }

    /** Whether the block owns a next line; if so, it starts at `pos` and at
      * least its first byte is read. */
    def nextLine(): Boolean = {
      if (pos == lim && !fill()) return false
      if (lfPending) {
        lfPending = false
        if (buf(pos) == '\n') {
          pos += 1
          return nextLine()
        }
      }
      base + pos <= lastStart
    }

    /** The index of the terminator of the line at `pos`, reading on as far
      * as the line goes (which may move it to the front of the buffer);
      * `lim` for a last line without one. */
    def lineEnd(): Int = {
      var i = pos
      var more = true
      while (more) {
        while (i < lim && buf(i) != '\n' && buf(i) != '\r') i += 1
        if (i < lim) more = false
        else {
          val scanned = i - pos
          more = fill()
          i = pos + scanned
        }
      }
      i
    }

    /** Moves past the line whose terminator is at `e` (`lim` at the end of
      * the input), and past the LF of a CRLF. */
    def endLine(e: Int): Unit =
      if (e == lim) pos = lim
      else {
        pos = e + 1
        if (buf(e) == '\r') {
          if (pos == lim) lfPending = true
          else if (buf(pos) == '\n') pos += 1
        }
      }

    override def close(): Unit = if (!closed) {
      closed = true
      in.close()
    }
  }

  /** Whether every byte of `bytes(from until until)` is ≤ 0x20. */
  private def isBlank(bytes: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      if ((bytes(i) & 0xff) > 0x20) return false
      i += 1
    }
    true
  }

  /** The batches of one file block: every line that the CSV reader with
    * `header=true` parses (see [[RatingsCsvFormat]]) becomes one row of the
    * reused batch. `schema` is the full nullable data schema. */
  private final class Batches(block: Block, atFileStart: Boolean, schema: StructType,
                              requiredSchema: StructType, partitionSchema: StructType,
                              partitionValues: InternalRow, csvOptions: CSVOptions)
      extends Iterator[ColumnarBatch] {
    private val kinds = RatingsCsvFormat.kinds(schema)
    private val vectors = OnHeapColumnVector.allocateColumns(BatchRows, requiredSchema)
    /** Per data column, its vector, or null when the query does not read it. */
    private val out: Array[WritableColumnVector] =
      schema.fieldNames.map { n =>
        val i = requiredSchema.fieldNames.indexOf(n)
        if (i >= 0) vectors(i) else null
      }
    private val constants = partitionSchema.fields.indices.map { i =>
      val c = new ConstantColumnVector(BatchRows, partitionSchema(i).dataType)
      ColumnVectorUtils.populate(c, partitionValues, i)
      c
    }
    private val batch = new ColumnarBatch((vectors ++ constants).toArray[ColumnVector])
    private lazy val fallback = {
      val parser = new UnivocityParser(schema, schema, csvOptions)
      new FailureSafeParser[String](s => parser.parse(s), csvOptions.parseMode, schema,
        csvOptions.columnNameOfCorruptRecord)
    }
    private var headerPending = atFileStart
    private var filled = false

    /** Parses Spark's way a line [[strictLine]] refused, into row `rowId`. */
    private def fallbackLine(line: String, rowId: Int): Unit = {
      val row = fallback.parse(line).next()
      var f = 0
      while (f < kinds.length) {
        val v = out(f)
        if (v != null) {
          if (row.isNullAt(f)) v.putNull(rowId)
          else if (kinds(f) == IntKind) v.putInt(rowId, row.getInt(f))
          else if (kinds(f) == LongKind) v.putLong(rowId, row.getLong(f))
          else v.putDouble(rowId, row.getDouble(f))
        }
        f += 1
      }
    }

    /** The line at `block.pos` that [[strictLine]] refused or did not see to
      * its end: finds its end, then drops it if blank or the header, else
      * parses it into row `rowId`, strictly if it fits, else Spark's way.
      * Whether it filled the row. */
    private def slowLine(rowId: Int): Boolean = {
      val e = block.lineEnd()
      val s = block.pos
      val bytes = block.buf
      val row =
        if (isBlank(bytes, s, e)) false
        else if (headerPending) {
          headerPending = false
          false
        } else {
          if (strictLine(bytes, s, kinds, out, rowId) < 0)
            fallbackLine(new String(bytes, s, e - s, UTF_8), rowId)
          true
        }
      block.endLine(e)
      row
    }

    override def hasNext: Boolean = {
      if (!filled) {
        vectors.foreach(_.reset())
        var n = 0
        while (n < BatchRows && block.nextLine()) {
          val e = if (headerPending) -1 else strictLine(block.buf, block.pos, kinds, out, n)
          if (e >= 0) {
            block.endLine(e)
            n += 1
          } else if (slowLine(n)) n += 1
        }
        batch.setNumRows(n)
        filled = true
        if (n == 0) { // the block is done
          batch.close()
          block.close()
        }
      }
      batch.numRows > 0
    }

    override def next(): ColumnarBatch = {
      if (!hasNext) throw new NoSuchElementException("no more ratings batches")
      filled = false
      batch
    }
  }
}
