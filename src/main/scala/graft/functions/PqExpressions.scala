package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native codegen expressions for product-quantization encode — the corpus
  * hot path. The composed-Column form (`least()` over 64 per-centroid
  * structs × 16 subspaces, kept as the executable spec in
  * [[graft.operators.Similarity.pqEncodeComposed]]) builds a ~3000-node
  * expression tree whose struct creation and comparison stay interpreted:
  * measured 5 s for a 5000-row encode. These expressions run the argmin as
  * a primitive double loop (one fused dot per centroid over the shifted
  * distance ‖c‖² − 2·s·c) and splice into whole-stage codegen via
  * `doGenCode`, with the codebooks attached once as reference objects —
  * the same pattern as [[VectorExpressions]] / [[SimHash64]].
  *
  * FP parity contract (oracle-critical): per-centroid dot products
  * accumulate left-to-right over the subspace, ‖c‖² is precomputed with the
  * same left-to-right sum the oracle generator embeds as a literal, ties on
  * the shifted distance keep the SMALLEST code (strict `<` scan in code
  * order ≡ Spark `least`/DuckDB `list_sort` struct ordering), and the
  * reconstruction error associates as Σⱼ (‖sⱼ‖² + minDsⱼ) left-to-right.
  */
private[graft] object PqKernel {
  /** argmin codes per subspace. */
  def encode(vec: ArrayData, isFloat: Boolean,
             books: Array[Array[Array[Double]]],
             c2: Array[Array[Double]]): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      out(j) = argmin(vec, isFloat, books, c2, j)._1
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Σⱼ (‖sⱼ‖² + minᶜ(‖c‖² − 2·sⱼ·c)) — exact same FP association as the
    * composed form and the generated oracle SQL. */
  def reconError2(vec: ArrayData, isFloat: Boolean,
                  books: Array[Array[Array[Double]]],
                  c2: Array[Array[Double]]): Double = {
    val m = books.length
    var acc = 0.0
    var j = 0
    while (j < m) {
      val dsub = books(j)(0).length
      val base = j * dsub
      var s2 = 0.0
      var i = 0
      while (i < dsub) {
        val v = VecKernel.get(vec, base + i, isFloat); s2 += v * v; i += 1
      }
      acc += s2 + argmin(vec, isFloat, books, c2, j)._2
      j += 1
    }
    acc
  }

  /** (code, shifted d) of the nearest centroid of subspace j; strict `<`
    * keeps the smallest code on exact ties. */
  private def argmin(vec: ArrayData, isFloat: Boolean,
                     books: Array[Array[Array[Double]]],
                     c2: Array[Array[Double]], j: Int): (Int, Double) = {
    val bj = books(j)
    val dsub = bj(0).length
    val base = j * dsub
    var best = 0
    var bestDs = Double.PositiveInfinity
    var c = 0
    while (c < bj.length) {
      val cent = bj(c)
      var d = 0.0
      var i = 0
      while (i < dsub) {
        d += VecKernel.get(vec, base + i, isFloat) * cent(i); i += 1
      }
      val ds = c2(j)(c) - 2.0 * d
      if (ds < bestDs) { bestDs = ds; best = c }
      c += 1
    }
    (best, bestDs)
  }
}

private[graft] object PqLutKernel {
  /** lut(j)(c) = ‖sⱼ‖² + (‖c‖² − 2·sⱼ·c) — true squared subspace distance,
    * with the same association as [[PqKernel.reconError2]]'s terms and the
    * generated oracle SQL. */
  def lut(vec: ArrayData, isFloat: Boolean,
          books: Array[Array[Array[Double]]],
          c2: Array[Array[Double]]): ArrayData = {
    val m = books.length
    val rows = new Array[ArrayData](m)
    var j = 0
    while (j < m) {
      val bj = books(j)
      val dsub = bj(0).length
      val base = j * dsub
      var s2 = 0.0
      var i = 0
      while (i < dsub) {
        val v = VecKernel.get(vec, base + i, isFloat); s2 += v * v; i += 1
      }
      val row = new Array[Double](bj.length)
      var c = 0
      while (c < bj.length) {
        val cent = bj(c)
        var d = 0.0
        i = 0
        while (i < dsub) {
          d += VecKernel.get(vec, base + i, isFloat) * cent(i); i += 1
        }
        row(c) = s2 + (c2(j)(c) - 2.0 * d)
        c += 1
      }
      rows(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }
}

private[graft] trait PqExprBase extends UnaryExpression with VecTyping {
  def books: Array[Array[Array[Double]]]
  override def checkInputDataTypes(): TypeCheckResult = checkVec(child.dataType, "input")
  protected lazy val isFloat: Boolean = elemIsFloat(child.dataType)
  /** ‖c‖² per (subspace, centroid), summed left-to-right exactly as the
    * oracle generator's embedded literals. */
  @transient protected lazy val c2: Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x * x).sum))

  /** Explain prints the codebook as its shape and content hash, not the
    * array's identity hash, so equal codebooks print equal plans in every
    * JVM. */
  override protected def stringArgs: Iterator[Any] = {
    val shape = s"${books.length}x${books(0).length}x${books(0)(0).length}"
    val hash = java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])
    Iterator(child, s"codebook[$shape]@${hash.toHexString}")
  }
}

/** PQ codes: array<int> of per-subspace nearest-centroid ids. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends PqExprBase {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PqKernel.encode(a.asInstanceOf[ArrayData], isFloat, books, c2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val cc = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqKernel.encode($a, $isFloat, $b, $cc);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** PQ squared reconstruction error (double). */
case class PqReconError2(child: Expression, books: Array[Array[Array[Double]]])
    extends PqExprBase {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    PqKernel.reconError2(a.asInstanceOf[ArrayData], isFloat, books, c2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val cc = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqKernel.reconError2($a, $isFloat, $b, $cc);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqReconError2 =
    copy(child = newChild)
  override def prettyName: String = "pq_recon_error2"
}

/** Query-side ADC lookup table: array<array<double>> of true squared
  * subspace distances to every centroid. */
case class PqAdcLut(child: Expression, books: Array[Array[Array[Double]]])
    extends PqExprBase {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PqLutKernel.lut(a.asInstanceOf[ArrayData], isFloat, books, c2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val cc = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqLutKernel.lut($a, $isFloat, $b, $cc);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcLut =
    copy(child = newChild)
  override def prettyName: String = "pq_adc_lut"
}

object PqExpressions {
  def pqEncodeNative(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), books))
  def pqReconError2Native(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqReconError2(ColumnBridge.expression(vec), books))
  def pqAdcLutNative(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqAdcLut(ColumnBridge.expression(vec), books))
}
