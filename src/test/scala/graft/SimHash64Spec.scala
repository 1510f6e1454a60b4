package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Lower}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimHash64

/** The native SimHash64 kernel must equal the reference simhash of the
  * word list `split(lower(trim(regexp_replace(text, '\s+', ' '))), ' ')`
  * — the form d4 computed before the kernel — on whitespace, case and
  * non-ASCII edges, through both its generated code and `eval`.
  */
class SimHash64Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val texts = Seq(
    "the quick brown fox",
    "Hello World HELLO world",
    "\tleading tab and trailing newline\n",
    "  leading and trailing spaces  ",
    "tabs\tand\nnewlines\u000Band\fform\rfeeds",
    "runs   of \t\n whitespace\u000B\u000Binside",
    // no word at all: the split form gives one empty word, [""]
    "",
    " ",
    "\t\n\u000B\f\r ",
    "Ünïcödé WÖRDS àéî 漢字 ß",
    "no\u00A0break\u00A0space is not whitespace",
    "x")

  /** Reference: the split form's word list, then the driver-side vote. */
  private def expected(text: String): Long = {
    import spark.implicits._
    val words = Seq(text).toDF("text")
      .select(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
      .head().getSeq[String](0)
    SimhashSpec.bruteSimhash(spark, words)
  }

  test("codegen and eval match the reference on whitespace, case and unicode edges") {
    val bound = SimHash64(Lower(BoundReference(0, StringType, nullable = true)))
    val proj = GenerateUnsafeProjection.generate(Seq(bound))
    for (t <- texts) {
      val want = expected(t)
      val viaEval = SimHash64(Lower(Literal(t))).eval(null)
      val viaCodegen = proj(InternalRow(UTF8String.fromString(t))).getLong(0)
      assert(viaEval == want, s"eval mismatch on ${t.map(_.toInt)}")
      assert(viaCodegen == want, s"codegen mismatch on ${t.map(_.toInt)}")
    }
  }

  test("null text gives null through codegen and eval") {
    val bound = SimHash64(BoundReference(0, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(bound))
    assert(proj(InternalRow(null)).isNullAt(0))
    assert(SimHash64(Literal(null, StringType)).eval(null) == null)
  }

  test("column API over a parquet scan and SQL registration agree") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), SimHash64.of(lower(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == expected(t), s"scan mismatch on row $i")
    }
    GraftExtensions.registerFunctions(spark)
    assert(spark.sql("SELECT simhash64(lower('Hello World'))").head().getLong(0) ==
      expected("Hello World"))
  }
}
