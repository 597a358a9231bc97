package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference `clean_words` tokenizer, one native call per row.
  *
  * The composed form — `filter(split(regexp_replace(regexp_replace(text,
  * "\n", " "), punct, ""), " +"), t => t.rlike("\\S"))` — decodes the row
  * to a `java.lang.String` three times, and its `filter` is a
  * higher-order function: Spark runs the `rlike` lambda interpreted, once
  * per TOKEN, with no codegen. That made tokenizing the largest layer of
  * the word-count job. Here one byte scanner does the whole chain in a
  * single pass over the UTF-8 bytes:
  *  - the 32 ASCII `string.punctuation` bytes are deleted;
  *  - `0x20` and `0x0A` separate tokens (runs collapse);
  *  - a token is emitted only if it holds a byte outside
  *    `{0x09, 0x0B, 0x0C, 0x0D}` — exactly Java's ASCII `\S`, since
  *    spaces and `\n` never reach a token. Every byte of a multi-byte
  *    character counts as non-blank, as every non-ASCII char is `\S`.
  *
  * Input that is not well-formed UTF-8 is first normalised with
  * `UTF8String.fromString(s.toString)`: the composed form decodes
  * through `java.lang.String` too, so each malformed sequence becomes
  * the same U+FFFD. Null in, null out. Bit-identical to the composed
  * form on any input (pinned by CleanWordsEquivalenceSpec).
  */
object CleanWordsExpression {

  private final val Word = 0
  private final val Sep = 1
  private final val Punct = 2
  private final val Blank = 3

  /** Class of each ASCII byte. */
  private val Kind: Array[Int] = Array.tabulate(128) { b =>
    if (b == ' ' || b == '\n') Sep
    else if ((b >= 33 && b <= 47) || (b >= 58 && b <= 64) ||
             (b >= 91 && b <= 96) || (b >= 123 && b <= 126)) Punct
    else if (b == '\t' || b == 0x0B || b == '\f' || b == '\r') Blank
    else Word
  }

  /** Length of the well-formed UTF-8 sequence whose lead byte (>= 0x80)
    * sits at `i`, or 0 if it is malformed (Unicode Table 3-7: no
    * overlongs, no surrogates, nothing above U+10FFFF). */
  private def seqLen(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    @inline def at(j: Int): Int = Platform.getByte(base, off + j) & 0xFF
    @inline def cont(j: Int): Boolean = j < n && (at(j) & 0xC0) == 0x80
    val b0 = at(i)
    if (b0 >= 0xC2 && b0 <= 0xDF) {
      if (cont(i + 1)) 2 else 0
    } else if (b0 >= 0xE0 && b0 <= 0xEF) {
      if (i + 2 >= n) 0
      else {
        val b1 = at(i + 1)
        val lo = if (b0 == 0xE0) 0xA0 else 0x80
        val hi = if (b0 == 0xED) 0x9F else 0xBF
        if (b1 >= lo && b1 <= hi && cont(i + 2)) 3 else 0
      }
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      if (i + 3 >= n) 0
      else {
        val b1 = at(i + 1)
        val lo = if (b0 == 0xF0) 0x90 else 0x80
        val hi = if (b0 == 0xF4) 0x8F else 0xBF
        if (b1 >= lo && b1 <= hi && cont(i + 2) && cont(i + 3)) 4 else 0
      }
    } else 0
  }

  /** Tokens of `s`. They are slices of one fresh per-row buffer. */
  def clean(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val buf = new Array[Byte](n)
    val toks = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    var w = 0 // write position in buf
    var start = 0 // start of the current token in buf
    var keep = false // current token holds a non-blank byte
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        Kind(b) match {
          case Word => buf(w) = b; w += 1; keep = true
          case Blank => buf(w) = b; w += 1
          case Sep =>
            if (keep) toks += UTF8String.fromBytes(buf, start, w - start)
            else w = start
            start = w
            keep = false
          case _ => // punctuation: deleted
        }
        i += 1
      } else {
        val len = seqLen(base, off, i, n)
        if (len == 0) return clean(UTF8String.fromString(s.toString))
        Platform.copyMemory(base, off + i, buf,
          Platform.BYTE_ARRAY_OFFSET + w, len)
        w += len
        i += len
        keep = true
      }
    }
    if (keep) toks += UTF8String.fromBytes(buf, start, w - start)
    new GenericArrayData(toks.toArray)
  }

  /** clean_words(text): array<string> of the reference tokens. */
  case class CleanWords(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {

    // non-string input is cast to string, as `regexp_replace` did; the
    // declared type, AbstractDataType, is private to Spark's sql package
    override def inputTypes = Seq(StringType)

    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)

    override def prettyName: String = "clean_words"

    override def nullSafeEval(s: Any): Any = clean(s.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.CleanWordsExpression.clean($c)")

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }
}
