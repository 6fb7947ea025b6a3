package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd character n-gram shingling over a string — the hot-path form
  * of `substring(s, i, n)` exploded over every start position (the char
  * trigram pass of language-ID / stylometry profiles).
  *
  * The declarative formulations are BOTH quadratic in the document:
  * `transform(sequence(...), i -> substring(s, i, n))` evaluates its
  * lambda interpreted (higher-order functions are CodegenFallback), and
  * even the codegen'd explode-positions + `substring(s, i, n)` variant
  * pays Substring's per-call codepoint scan from the START of the string
  * — O(len) per position, O(len²) per document, measured as the entire
  * cost of q_char_trigrams (~2.4 s at sf0.1 on 5 map tasks either way).
  * This expression makes ONE linear codepoint walk per document (byte
  * offsets of every codepoint collected once, each shingle a slice
  * between two offsets), then hands the row to whole-stage codegen as a
  * single method call — the post-JIT-cliff discipline: tiny generated
  * code, the loop in compiled Scala (see SignBandBuckets' scaladoc).
  *
  * Value-identical to `filter(transform(sequence(1, greatest(len-n+1,1)),
  * i -> substring(s,i,n)), x -> length(x) = n)`: a string of fewer than n
  * codepoints yields an EMPTY array (the declarative form yields one
  * short fragment that the length filter then drops), a NULL string
  * yields an empty array (explode of either produces no rows).
  */
case class CharShingles(child: Expression, n: Int, stride: Int = 1,
                        partial: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, s"shingle size n=$n must be >= 1")
  require(stride >= 1, s"stride=$stride must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }

  override def nullable: Boolean = false

  /** One linear pass: codepoint byte-offsets collected once, each shingle
    * an (offset, length) slice of the same byte array. Public — invoked
    * from the generated code (one virtual call per row). */
  def shingles(s: UTF8String): ArrayData = {
    val bytes = s.getBytes // copies iff the string views row memory
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var c = 0
    var off = 0
    while (off < nb) {
      offs(c) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      c += 1
    }
    offs(c) = nb
    if (partial) {
      // frame mode: a window starts at every stride multiple below the
      // string length (an empty string still yields ONE empty window —
      // the frameSample empty-payload contract; a NULL string yields no
      // window, and frameSample fails on it first), and the tail windows
      // may be shorter than n. Same single linear walk.
      val m = (math.max(c, 1) - 1) / stride + 1
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val s0 = i * stride
        val e0 = math.min(s0 + n, c)
        out(i) = UTF8String.fromBytes(bytes, offs(s0), offs(e0) - offs(s0))
        i += 1
      }
      new GenericArrayData(out)
    } else if (c - n + 1 <= 0) CharShingles.Empty
    else {
      val m = (c - n) / stride + 1
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val s0 = i * stride
        out(i) = UTF8String.fromBytes(bytes, offs(s0), offs(s0 + n) - offs(s0))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Null-tolerant entry point for the generated code — avoids a static
    * companion reference from Janino (Scala object accessors are not
    * reliably visible as Java statics). */
  def shinglesOrEmpty(s: UTF8String): ArrayData =
    if (s == null) CharShingles.Empty else shingles(s)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    shinglesOrEmpty(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val self = ctx.addReferenceObj("charShingles", this, classOf[CharShingles].getName)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $self.shinglesOrEmpty(${childGen.isNull} ? null : ${childGen.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharShingles {
  import org.apache.spark.sql.classic.ClassicConversions.castToImpl

  /** Shared empty result (also reachable from generated Java as
    * `CharShingles.Empty()`). */
  val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  private def builderNamed(fname: String): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length < 2 || exprs.length > 3)
        throw new IllegalArgumentException(
          s"$fname(str, n[, stride]) takes 2 or 3 arguments, got ${exprs.length}")
      def intLit(e: Expression, name: String): Int = {
        val integral = e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        if (!e.foldable || !integral)
          throw new IllegalArgumentException(
            s"$fname: $name must be an integer literal, got ${e.sql}")
        val v = e.eval(null)
        if (v == null)
          throw new IllegalArgumentException(s"$fname: $name must not be NULL")
        v.asInstanceOf[Number].intValue()
      }
      val n = intLit(exprs(1), "n")
      val stride = if (exprs.length == 3) intLit(exprs(2), "stride") else 1
      CharShingles(exprs.head, n, stride)
    }

  private[graft] val builder: Seq[Expression] => Expression =
    builderNamed("char_shingles")

  private[graft] val frameBuilder: Seq[Expression] => Expression =
    exprs => builderNamed("char_frames")(exprs) match {
      case cs: CharShingles => cs.copy(partial = true)
      case other => other
    }

  def register(s: SparkSession): Unit = {
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_shingles", builder, "built-in")
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_frames", frameBuilder, "built-in")
  }

  /** Column form; call [[register]] on the session first. */
  def charShingles(c: Column, n: Int): Column =
    call_function("char_shingles", c, lit(n))

  /** Strided form: n-char shingles at start positions 0, stride,
    * 2·stride, … — stride = n is exact non-overlapping chunking (the
    * raster-row patch split of [[graft.multimodal.Media.bovwFeatures]]).
    * Only FULL n-char windows are emitted, exactly like the dense form. */
  def charShingles(c: Column, n: Int, stride: Int): Column =
    call_function("char_shingles", c, lit(n), lit(stride))

  /** Frame mode (partial windows): one window per stride multiple below
    * the string length, tail windows SHORTER than n kept, and an empty
    * string yields exactly one empty window — the
    * [[graft.multimodal.Media.frameSample]] contract. Value-identical to
    * exploding `substring(s, i*stride + 1, n)` over
    * i ∈ [0, floor((greatest(len,1)-1)/stride)] for non-null strings
    * (a NULL string yields an empty array, so an exploding caller drops
    * the row; frameSample fails on NULL text instead). Same single linear
    * codepoint walk. */
  def charFrames(c: Column, n: Int, stride: Int): Column =
    call_function("char_frames", c, lit(n), lit(stride))
}
