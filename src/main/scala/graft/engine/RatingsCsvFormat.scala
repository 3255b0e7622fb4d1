package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFileLinesReader,
  OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
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
  * .schema(schema).csv(path)` returns, but parses each line once and only
  * into the columns the query reads. The reference does the same with one
  * positional `line.split(",")` per line (MovieRank.java:58,
  * MovieRating.java:59). Per file block:
  *   - lines come from Spark's own [[HadoopFileLinesReader]], so LF, CRLF and
  *     CR endings and the split-boundary rules are those of the text and CSV
  *     sources; `isSplitable` is [[TextBasedFileFormat]]'s, which keeps a
  *     compressed file in one block;
  *   - blank lines (every byte ≤ 0x20, i.e. `String.trim` is empty) and, in a
  *     block that starts at byte 0, the first non-blank line (the header) are
  *     dropped: the lines the CSV reader with `header=true` skips
  *     (CSVHeaderChecker, CSVExprUtils);
  *   - the lines left fill one reused [[ColumnarBatch]] of [[BatchRows]]
  *     rows at a time: an [[OnHeapColumnVector]] per required column, plus a
  *     [[ConstantColumnVector]] per partition column;
  *   - [[RatingsCsvFormat.strictLine]] parses a plain line straight from its
  *     bytes into the vectors at its row id;
  *   - any other line goes to Spark's own parser as `from_csv` runs it: a
  *     [[UnivocityParser]] under a PERMISSIVE [[FailureSafeParser]] over the
  *     full nullable data schema, projected to the required columns after
  *     the parse, so no value depends on which columns a query selects.
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
      val lines = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val batches = new RatingsCsvFormat.Batches(lines, file.start == 0, schema,
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

  /** One CSV line, the first `length` bytes of `bytes`, parsed in a single
    * pass if it fits the strict grammar:
    *   - exactly one field per entry of `kinds`, separated by `,`, no other
    *     bytes (no quotes, signs, spaces, exponents or empty fields);
    *   - INT: 1–9 digits; BIGINT: 1–18 digits (neither can overflow);
    *   - DOUBLE: `digits[.digits]`, at most 15 digits in all. The value is
    *     `mantissa / 10^scale`: both operands are exact doubles and IEEE
    *     division rounds correctly, so it equals `Double.parseDouble`
    *     (Clinger's fast path).
    * Field `f` is written as a primitive to `out(f)` at `rowId`, or not at
    * all when `out(f)` is null. Returns false, with the row partly written,
    * for a line outside the grammar. On its grammar the values equal what
    * Spark's CSV parser makes of the line (`String.toInt`/`toLong`/
    * `toDouble` per token). */
  def strictLine(bytes: Array[Byte], length: Int, kinds: Array[Byte],
                 out: Array[WritableColumnVector], rowId: Int): Boolean = {
    var pos = 0
    var f = 0
    while (f < kinds.length) {
      if (f > 0) {
        if (pos >= length || bytes(pos) != ',') return false
        pos += 1
      }
      val k = kinds(f)
      val maxDigits = if (k == IntKind) 9 else if (k == LongKind) 18 else 15
      var mantissa = 0L
      var digits = 0
      var scale = -1 // digits after the '.', -1 while there is none
      var more = true
      while (more && pos < length) {
        val b = bytes(pos)
        if (b >= '0' && b <= '9') {
          digits += 1
          if (digits > maxDigits) return false
          mantissa = mantissa * 10 + (b - '0')
          if (scale >= 0) scale += 1
          pos += 1
        } else if (b == '.' && k == DoubleKind && scale < 0 && digits > 0) {
          scale = 0
          pos += 1
        } else more = false
      }
      if (digits == 0 || scale == 0) return false
      val v = out(f)
      if (v != null) {
        if (k == IntKind) v.putInt(rowId, mantissa.toInt)
        else if (k == LongKind) v.putLong(rowId, mantissa)
        else v.putDouble(rowId, if (scale < 0) mantissa.toDouble else mantissa.toDouble / Pow10(scale))
      }
      f += 1
    }
    pos == length
  }

  private def isBlank(line: Text): Boolean = {
    val bytes = line.getBytes
    var i = 0
    while (i < line.getLength) {
      if ((bytes(i) & 0xff) > 0x20) return false
      i += 1
    }
    true
  }

  /** The batches of one file block: every line that the CSV reader with
    * `header=true` parses (see [[RatingsCsvFormat]]) becomes one row of the
    * reused batch. `schema` is the full nullable data schema. */
  private final class Batches(lines: Iterator[Text], atFileStart: Boolean, schema: StructType,
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
    private def fallbackLine(line: Text, rowId: Int): Unit = {
      val row = fallback.parse(new String(line.getBytes, 0, line.getLength, UTF_8)).next()
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

    override def hasNext: Boolean = {
      if (!filled) {
        vectors.foreach(_.reset())
        var n = 0
        while (n < BatchRows && lines.hasNext) {
          val line = lines.next()
          if (!isBlank(line)) {
            if (headerPending) headerPending = false
            else {
              if (!strictLine(line.getBytes, line.getLength, kinds, out, n)) fallbackLine(line, n)
              n += 1
            }
          }
        }
        batch.setNumRows(n)
        filled = true
        if (n == 0) batch.close() // the block is done
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
