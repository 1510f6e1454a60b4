package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{FloatVecDot, RollingFingerprint, SimHash64}

/** Session extensions for the graft engine: registers the native
  * expressions so plain SQL users reach them —
  * `SELECT float_vec_dot(a, b) FROM ...`.
  *
  * Install via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; or call
  * [[GraftExtensions.registerFunctions]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.floatVecDotDescriptor)
    ext.injectFunction(GraftExtensions.rollingFingerprintDescriptor)
    ext.injectFunction(GraftExtensions.simHash64Descriptor)
  }
}

object GraftExtensions {
  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "float_vec_dot expects exactly 2 arguments")
    FloatVecDot(args.head, args(1))
  }

  private def buildFp(args: Seq[Expression]): Expression = {
    require(args.length == 1,
      "rolling_fingerprint expects exactly 1 argument")
    RollingFingerprint(args.head)
  }

  private def buildSimHash(args: Seq[Expression]): Expression = {
    require(args.length == 1, "simhash64 expects exactly 1 argument")
    SimHash64(args.head)
  }

  val floatVecDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("float_vec_dot"),
    new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
    build)

  val rollingFingerprintDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_fingerprint"),
    new ExpressionInfo(classOf[RollingFingerprint].getName,
      "rolling_fingerprint"),
    buildFp)

  val simHash64Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    buildSimHash)

  /** Register on an already-built session (temp function). */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_vec_dot", build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_fingerprint", buildFp, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", buildSimHash, "scala_udf")
  }
}
