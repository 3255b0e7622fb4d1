package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.graft.{ColumnBridge, InputFileBlock}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One CSV line parsed in a single pass over its UTF-8 bytes, for a schema of
  * INT, BIGINT and DOUBLE columns. Returns null for any line outside this
  * strict grammar, so that a caller can hand that line to Spark's own CSV
  * parser (`coalesce(strict, from_csv(...))`):
  *   - exactly one field per schema column, separated by `,`, no other bytes
  *     (no quotes, signs, spaces, exponents or empty fields);
  *   - INT: 1–9 digits; BIGINT: 1–18 digits (neither can overflow);
  *   - DOUBLE: `digits[.digits]`, at most 15 digits in all. The value is
  *     `mantissa / 10^scale`: both operands are exact doubles and IEEE
  *     division rounds correctly, so it equals `Double.parseDouble` (Clinger's
  *     fast path).
  * On its grammar the result equals what Spark's CSV parser makes of the line
  * (`String.toInt`/`toLong`/`toDouble` per token). */
case class StrictCsvLine(child: Expression, schema: StructType) extends UnaryExpression {
  override lazy val dataType: DataType =
    StructType(schema.fields.map(_.copy(nullable = true)))
  override def nullable: Boolean = true

  private lazy val kinds: Array[Byte] = schema.fields.map(f => StrictCsvLine.kind(f.dataType))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if schema.forall(f => StrictCsvLine.kind(f.dataType) >= 0) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"strict_csv_line requires a string and an int/bigint/double schema, got $other, $schema")
  }

  override def nullSafeEval(input: Any): Any =
    StrictCsvLine.parse(input.asInstanceOf[UTF8String], kinds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kindsRef = ctx.addReferenceObj("kinds", kinds, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.StrictCsvLine.parse($c, $kindsRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): StrictCsvLine =
    copy(child = newChild)
  override def prettyName: String = "strict_csv_line"
}

object StrictCsvLine {
  private val IntKind: Byte = 0
  private val LongKind: Byte = 1
  private val DoubleKind: Byte = 2

  private def kind(t: DataType): Byte = t match {
    case IntegerType => IntKind
    case LongType => LongKind
    case DoubleType => DoubleKind
    case _ => -1
  }

  /** 10^0 … 10^15, each an exact double. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10)

  /** Shared by interpreted eval and generated code: the row, or null when the
    * line is outside the grammar. */
  def parse(line: UTF8String, kinds: Array[Byte]): InternalRow = {
    val n = line.numBytes
    val values = new Array[Any](kinds.length)
    var pos = 0
    var f = 0
    while (f < kinds.length) {
      if (f > 0) {
        if (pos >= n || line.getByte(pos) != ',') return null
        pos += 1
      }
      val k = kinds(f)
      val maxDigits = if (k == IntKind) 9 else if (k == LongKind) 18 else 15
      var mantissa = 0L
      var digits = 0
      var scale = -1 // digits after the '.', -1 while there is none
      var more = true
      while (more && pos < n) {
        val b = line.getByte(pos)
        if (b >= '0' && b <= '9') {
          digits += 1
          if (digits > maxDigits) return null
          mantissa = mantissa * 10 + (b - '0')
          if (scale >= 0) scale += 1
          pos += 1
        } else if (b == '.' && k == DoubleKind && scale < 0 && digits > 0) {
          scale = 0
          pos += 1
        } else more = false
      }
      if (digits == 0 || scale == 0) return null
      values(f) =
        if (k == IntKind) mantissa.toInt
        else if (k == LongKind) mantissa
        else if (scale < 0) mantissa.toDouble
        else mantissa.toDouble / Pow10(scale)
      f += 1
    }
    if (pos != n) null else new GenericInternalRow(values)
  }

  /** Column API: the parsed struct, or null outside the grammar. */
  def strictCsvLine(line: Column, schema: StructType): Column =
    ColumnBridge.column(StrictCsvLine(ColumnBridge.expression(line), schema))
}

/** True for the lines that Spark's CSV reader with `header=true` parses as
  * rows, false for those it skips (CSVHeaderChecker, CSVExprUtils):
  *   - blank lines, whose `String.trim` is empty, i.e. every byte ≤ 0x20;
  *   - the first non-blank line of a file block that starts at byte 0, the
  *     header.
  * The block comes from the scan that feeds this filter (the holder behind
  * `input_file_name()`), so the expression must sit directly above a
  * line-per-row file scan such as `spark.read.text`. It keeps per-block
  * state, hence `Nondeterministic`: the optimizer neither moves it nor
  * merges other predicates into it. */
case class CsvDataLine(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private[this] var block: UTF8String = _
  @transient private[this] var blockStart: Long = _
  @transient private[this] var headerPending: Boolean = _

  override protected def initializeInternal(partitionIndex: Int): Unit = block = null

  override protected def evalInternal(input: InternalRow): Any =
    keep(child.eval(input).asInstanceOf[UTF8String])

  /** Called once per line, in scan order. A new block is a new path object
    * (the scan sets one per block) or a new start offset. */
  def keep(line: UTF8String): Boolean = {
    if (line == null || CsvDataLine.isBlank(line)) return false
    val path = InputFileBlock.path
    val start = InputFileBlock.start
    if ((path ne block) || start != blockStart) {
      block = path
      blockStart = start
      headerPending = start == 0
    }
    if (headerPending) {
      headerPending = false
      false
    } else true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("csvDataLine", this)
    ctx.addPartitionInitializationStatement(s"$self.initialize(partitionIndex);")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} && $self.keep(${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CsvDataLine =
    copy(child = newChild)
  override def prettyName: String = "csv_data_line"
}

object CsvDataLine {
  private def isBlank(line: UTF8String): Boolean = {
    var i = 0
    while (i < line.numBytes) {
      if ((line.getByte(i) & 0xff) > 0x20) return false
      i += 1
    }
    true
  }

  /** Column API over a line column read by a file scan. */
  def csvDataLine(line: Column): Column =
    ColumnBridge.column(CsvDataLine(ColumnBridge.expression(line)))
}
