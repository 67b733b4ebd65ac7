package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native MGF block parser: one `END IONS`-delimited chunk of an MGF file
  * in, its spectrum fields out, in a single pass over the UTF-8 bytes with
  * no regex and no per-line string.
  *
  * The result is an array of zero or one struct: zero when the chunk holds
  * no `BEGIN IONS` (the text after the last block, banners between
  * blocks). `explode` over it therefore parses and drops non-blocks in one
  * evaluation; a `Filter` on a nullable result would be pushed below the
  * projection and evaluate the kernel twice.
  *
  * Semantics, line by line after every `\r` is removed:
  *  - `TITLE=`, `PEPMASS=`, `CHARGE=`, `RTINSECONDS=`: the first line that
  *    starts with the key wins; a missing title is "";
  *  - PEPMASS is its leading `[0-9.eE+-]` run, CHARGE its leading `[0-9.]`
  *    run, negated when the value ends in `-` and truncated to int;
  *    RTINSECONDS is the whole value;
  *  - a peak line is optional whitespace, a `[0-9][0-9.eE+-]*` mass token,
  *    spaces or tabs, then a token starting with a digit, the intensity;
  *    further columns (e.g. a fragment charge) are ignored;
  *  - numbers parse like Spark's string-to-double cast, and a malformed one
  *    (or a charge outside int) is null instead of a cast error, the
  *    engine's ANSI-safe rule for untrusted text (PklIO).
  */
case class MgfBlockExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MgfBlockExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${other.sql}")
  }

  override def nullSafeEval(block: Any): Any =
    MgfBlockExpr.parse(block.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MgfBlockExpr.parse($c)")

  override def prettyName: String = MgfBlockExpr.FunctionName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MgfBlockExpr {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("precursorMz", DoubleType),
    StructField("precursorCharge", IntegerType),
    StructField("retentionTime", DoubleType),
    StructField("masses", ArrayType(DoubleType)),
    StructField("intensities", ArrayType(DoubleType)))), containsNull = false)

  private val NoSpectrum = new GenericArrayData(Array.empty[Any])
  private val BeginIons = "BEGIN IONS".getBytes(UTF_8)
  private val Title = "TITLE=".getBytes(UTF_8)
  private val PepMass = "PEPMASS=".getBytes(UTF_8)
  private val Charge = "CHARGE=".getBytes(UTF_8)
  private val RtInSeconds = "RTINSECONDS=".getBytes(UTF_8)
  private val Pow10 = Array.tabulate(16)(i => math.pow(10, i))

  /** Static kernel shared by interpreted eval and generated code. */
  def parse(block: UTF8String): ArrayData = {
    val b = withoutCr(block.getBytes)
    if (indexOf(b, BeginIons) < 0) return NoSpectrum
    val n = b.length
    // value ranges [from, until) of the first line carrying each header
    var titleFrom, titleUntil, mzFrom, mzUntil, zFrom, zUntil, rtFrom, rtUntil = -1
    var masses = new Array[Double](32)
    var intens = new Array[Double](32)
    var nulls: java.util.BitSet = null
    var peaks = 0
    var start = 0
    while (start < n) {
      var end = start
      while (end < n && b(end) != '\n') end += 1
      if (titleFrom < 0 && startsWith(b, start, end, Title)) {
        titleFrom = start + Title.length; titleUntil = end
      } else if (mzFrom < 0 && startsWith(b, start, end, PepMass)) {
        mzFrom = start + PepMass.length; mzUntil = end
      } else if (zFrom < 0 && startsWith(b, start, end, Charge)) {
        zFrom = start + Charge.length; zUntil = end
      } else if (rtFrom < 0 && startsWith(b, start, end, RtInSeconds)) {
        rtFrom = start + RtInSeconds.length; rtUntil = end
      } else {
        // peak line: \s* [0-9][0-9.eE+-]* [ \t]+ [0-9] ...
        var i = start
        while (i < end && isSpace(b(i))) i += 1
        if (i < end && isDigit(b(i))) {
          var j = i + 1
          while (j < end && isNumberChar(b(j))) j += 1
          var k = j
          while (k < end && (b(k) == ' ' || b(k) == '\t')) k += 1
          if (k > j && k < end && isDigit(b(k))) {
            var m = k + 1
            while (m < end && b(m) != ' ' && b(m) != '\t') m += 1
            if (peaks == masses.length) {
              masses = java.util.Arrays.copyOf(masses, peaks * 2)
              intens = java.util.Arrays.copyOf(intens, peaks * 2)
            }
            val massOk = store(b, i, j, masses, peaks)
            val intenOk = store(b, k, m, intens, peaks)
            if (!massOk || !intenOk) {
              if (nulls == null) nulls = new java.util.BitSet()
              if (!massOk) nulls.set(2 * peaks)
              if (!intenOk) nulls.set(2 * peaks + 1)
            }
            peaks += 1
          }
        }
      }
      start = end + 1
    }
    val massArr = UnsafeArrayData.fromPrimitiveArray(masses, Platform.DOUBLE_ARRAY_OFFSET, peaks, 8)
    val intenArr = UnsafeArrayData.fromPrimitiveArray(intens, Platform.DOUBLE_ARRAY_OFFSET, peaks, 8)
    if (nulls != null) {
      var p = nulls.nextSetBit(0)
      while (p >= 0) {
        (if (p % 2 == 0) massArr else intenArr).setNullAt(p / 2)
        p = nulls.nextSetBit(p + 1)
      }
    }
    val title =
      if (titleFrom < 0) UTF8String.EMPTY_UTF8
      else UTF8String.fromString(new String(b, titleFrom, titleUntil - titleFrom, UTF_8))
    val mz = if (mzFrom < 0) null else number(b, mzFrom, prefix(b, mzFrom, mzUntil, true))
    val row = new GenericInternalRow(Array[Any](
      title, mz, charge(b, zFrom, zUntil), if (rtFrom < 0) null else number(b, rtFrom, rtUntil),
      massArr, intenArr))
    new GenericArrayData(Array[Any](row))
  }

  /** The CHARGE value's leading `[0-9.]` run, negated by a trailing `-`
    * ("2+", "2.0+", "3-"), truncated to int; null when malformed or
    * outside int. */
  private def charge(b: Array[Byte], from: Int, until: Int): java.lang.Integer = {
    if (from < 0) return null
    val magnitude = number(b, from, prefix(b, from, until, false))
    if (magnitude == null) return null
    val v = if (b(until - 1) == '-') -magnitude.doubleValue else magnitude.doubleValue
    if (math.floor(v) <= Int.MaxValue && math.ceil(v) >= Int.MinValue) Integer.valueOf(v.toInt)
    else null
  }

  /** End of the run of number characters starting at `from`: `[0-9.eE+-]`,
    * or `[0-9.]` without exponents. */
  private def prefix(b: Array[Byte], from: Int, until: Int, exponent: Boolean): Int = {
    var i = from
    while (i < until && (if (exponent) isNumberChar(b(i)) else isDigit(b(i)) || b(i) == '.'))
      i += 1
    i
  }

  /** `b[from, until)` as Spark's string-to-double cast reads it, or null
    * where that cast fails. */
  private def number(b: Array[Byte], from: Int, until: Int): java.lang.Double = {
    val v = plainDecimal(b, from, until)
    if (v == v) java.lang.Double.valueOf(v) else castDouble(b, from, until)
  }

  /** [[number]] into `out(at)`, 0.0 and false where it is null. */
  private def store(b: Array[Byte], from: Int, until: Int, out: Array[Double], at: Int): Boolean = {
    val v = plainDecimal(b, from, until)
    if (v == v) { out(at) = v; true }
    else {
      val d = castDouble(b, from, until)
      out(at) = if (d == null) 0.0 else d.doubleValue
      d != null
    }
  }

  /** The exact fast path for digits with at most one '.', at most 15 of
    * them: the digits and the power of ten are exact doubles, so one IEEE
    * division gives the correctly rounded value, as `Double.parseDouble`
    * does. NaN for anything else (the path never yields NaN itself). */
  private def plainDecimal(b: Array[Byte], from: Int, until: Int): Double = {
    var mantissa = 0L
    var digits = 0
    var scale = -1
    var i = from
    while (i < until) {
      val c = b(i)
      if (isDigit(c)) {
        if (digits == 15) return Double.NaN
        mantissa = mantissa * 10 + (c - '0')
        digits += 1
        if (scale >= 0) scale += 1
      } else if (c == '.' && scale < 0) scale = 0
      else return Double.NaN
      i += 1
    }
    if (digits == 0) Double.NaN
    else if (scale <= 0) mantissa.toDouble
    else mantissa.toDouble / Pow10(scale)
  }

  /** The cast's own steps: `parseDouble` (which trims and takes suffixes
    * such as "1.5d"), then the inf/nan literals, else null. */
  private def castDouble(b: Array[Byte], from: Int, until: Int): java.lang.Double = {
    val s = new String(b, from, until - from, UTF_8)
    try java.lang.Double.valueOf(java.lang.Double.parseDouble(s))
    catch {
      case _: NumberFormatException =>
        Cast.processFloatingPointSpecialLiterals(s, false).asInstanceOf[java.lang.Double]
    }
  }

  /** `b` without its '\r' bytes; `b` itself, which may be the input row's
    * buffer, is never written. */
  private def withoutCr(b: Array[Byte]): Array[Byte] = {
    var crs = 0
    var i = 0
    while (i < b.length) { if (b(i) == '\r') crs += 1; i += 1 }
    if (crs == 0) b
    else {
      val out = new Array[Byte](b.length - crs)
      var j = 0
      i = 0
      while (i < b.length) {
        if (b(i) != '\r') { out(j) = b(i); j += 1 }
        i += 1
      }
      out
    }
  }

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  private def isNumberChar(c: Byte): Boolean =
    isDigit(c) || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-'

  /** Java regex `\s` without the line breaks, which never occur in a line. */
  private def isSpace(c: Byte): Boolean = c == ' ' || c == '\t' || c == 0x0b || c == '\f'

  private def startsWith(b: Array[Byte], from: Int, until: Int, key: Array[Byte]): Boolean =
    until - from >= key.length && {
      var i = 0
      while (i < key.length && b(from + i) == key(i)) i += 1
      i == key.length
    }

  private def indexOf(b: Array[Byte], key: Array[Byte]): Int = {
    var i = 0
    while (i <= b.length - key.length) {
      if (startsWith(b, i, b.length, key)) return i
      i += 1
    }
    -1
  }

  val FunctionName = "graft_mgf_block"

  private val registered =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.containsKey(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        FunctionName,
        VectorExprs.arity(FunctionName, 1)(e => MgfBlockExpr(e(0))),
        "built-in")
      registered.put(spark, java.lang.Boolean.TRUE)
    }
  }

  /** Column API: the parsed spectrum of one MGF chunk, as an array of zero
    * or one struct (see [[OutType]]). */
  def parseCol(spark: SparkSession, block: Column): Column = {
    register(spark)
    call_function(FunctionName, block)
  }
}
