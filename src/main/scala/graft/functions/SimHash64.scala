package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a text, as a native codegen'd Catalyst
  * expression: bit b of the result is set when more than half of the
  * text's words have bit b set in their `xxhash64` (seed 42, Spark's
  * default — the same hash `xxhash64(word)` gives in SQL).
  *
  * Words are the maximal runs of non-`\s` bytes of the UTF-8 input —
  * the word list `split(trim(regexp_replace(text, "\s+", " ")), " ")`
  * produces (see [[WordShingleSigs]]' text mode for why a byte scan is
  * code-point-safe). A text with no word at all counts as ONE empty
  * word, which is what that split form returns for it, so its simhash
  * is `xxhash64("")`. Each word is hashed in place from the input's
  * bytes; the 64 bit counters are plain ints, exact for any string
  * Spark can hold (< 2^31 bytes, so < 2^31 words).
  *
  * Case folding stays outside, as for [[WordShingleSigs]]: d4 feeds
  * `lower(text)`. One call per document keeps d4's signatures to a
  * single projection; the same vote in SQL (posexplode, two shuffled
  * aggregations, a 64-term CASE sum) cost more to analyse, optimise
  * and compile than the per-document work.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    SimHash64.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.compute($a);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64 = copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  private val Seed = 42L

  def compute(text: UTF8String): Long = {
    import WordShingleSigs.isWsByte
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    val cnt = new Array[Int](64)
    var nWords = 0
    var i = 0
    while (i < len) {
      if (isWsByte(Platform.getByte(base, off + i) & 0xFF)) i += 1
      else {
        val start = i
        while (i < len && !isWsByte(Platform.getByte(base, off + i) & 0xFF))
          i += 1
        addBits(cnt, XXH64.hashUnsafeBytes(base, off + start, i - start, Seed))
        nWords += 1
      }
    }
    if (nWords == 0) {
      addBits(cnt, XXH64.hashUnsafeBytes(base, off, 0, Seed))
      nWords = 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (2L * cnt(b) > nWords) sim |= 1L << b
      b += 1
    }
    sim
  }

  private def addBits(cnt: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      cnt(b) += ((h >>> b) & 1L).toInt
      b += 1
    }
  }

  /** Column-level API. */
  def of(text: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(text)))
}
