package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory,
  PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Read-only file source for MovieLens-format `ratings.csv`: for a schema of
  * INT, BIGINT and DOUBLE columns it returns, row for row and value for
  * value, what `spark.read.option("header", "true").option("escape", "\"")
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
  *   - [[RatingsCsvFormat.strictLine]] parses a plain line straight from its
  *     bytes into the required columns;
  *   - any other line goes to Spark's own parser as `from_csv` runs it: a
  *     [[UnivocityParser]] under a PERMISSIVE [[FailureSafeParser]] over the
  *     full nullable data schema, projected to the required columns after
  *     the parse, so no value depends on which columns a query selects.
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

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val schema = StructType(dataSchema.map(_.copy(nullable = true)))
    val required = requiredSchema.fieldNames
    val ordinals = schema.fieldNames.map(n => required.indexOf(n))
    val rowTypes = requiredSchema.map(_.dataType)
    val csvOptions = new CSVOptions(Sources.csvOptions, columnPruning = true,
      SQLConf.get.sessionLocalTimeZone)
    (file: PartitionedFile) => {
      val lines = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      RatingsCsvFormat.dataRows(lines, file.start == 0, schema, ordinals,
        new SpecificInternalRow(rowTypes), csvOptions)
    }
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[RatingsCsvFormat]
  override def hashCode(): Int = getClass.hashCode
  override def toString: String = "RatingsCsv"
}

object RatingsCsvFormat {
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
    * Field `f` is written to `out` at `ordinals(f)` as a primitive, or not at
    * all when that is -1. Returns false, with `out` partly written, for a
    * line outside the grammar. On its grammar the values equal what Spark's
    * CSV parser makes of the line (`String.toInt`/`toLong`/`toDouble` per
    * token). */
  def strictLine(bytes: Array[Byte], length: Int, kinds: Array[Byte],
                 ordinals: Array[Int], out: InternalRow): Boolean = {
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
      val o = ordinals(f)
      if (o >= 0) {
        if (k == IntKind) out.setInt(o, mantissa.toInt)
        else if (k == LongKind) out.setLong(o, mantissa)
        else out.setDouble(o, if (scale < 0) mantissa.toDouble else mantissa.toDouble / Pow10(scale))
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

  /** The rows of one file block, all written into `out`: one per line that
    * the CSV reader with `header=true` parses (see [[RatingsCsvFormat]]). */
  private def dataRows(lines: Iterator[Text], atFileStart: Boolean, schema: StructType,
                       ordinals: Array[Int], out: InternalRow,
                       csvOptions: CSVOptions): Iterator[InternalRow] = {
    val kinds = this.kinds(schema)
    lazy val fallback = {
      val parser = new UnivocityParser(schema, schema, csvOptions)
      new FailureSafeParser[String](s => parser.parse(s), csvOptions.parseMode, schema,
        csvOptions.columnNameOfCorruptRecord)
    }
    var headerPending = atFileStart
    lines.filter { line =>
      if (isBlank(line)) false
      else if (headerPending) { headerPending = false; false }
      else true
    }.map { line =>
      if (!strictLine(line.getBytes, line.getLength, kinds, ordinals, out)) {
        val row = fallback.parse(new String(line.getBytes, 0, line.getLength, UTF_8)).next()
        for (f <- kinds.indices if ordinals(f) >= 0)
          out.update(ordinals(f), row.get(f, schema(f).dataType))
      }
      out
    }
  }
}
