package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{DotProductExpr, HtmlToTextExpr, MinHashSigExpr,
  PercentileDiscAgg, SanitizeStringExpr, ShingleSetExpr, SimHashExpr,
  UnicodeNormalizeExpr, WinnowFingerprintsExpr}

/** The engine's SQL surface: [[GraftExtensions.register]] makes the
  * native expressions and aggregates (`percentile_disc_exact(x, p)` —
  * exact Postgres discrete percentile — `kmv_distinct`,
  * `sanitize_string`, …) callable from SQL on a live session.
  */
object GraftExtensions {
  /** Fold a SQL argument that must be a constant int (the shape/width
    * parameters of the signature expressions — they size generated
    * code, so they cannot vary per row).
    */
  private[graft] def litInt(e: Expression, what: String): Int =
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be a constant")
    else e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
    }

  /** Fold a SQL argument that must be a constant string (algorithm
    * selectors — they pick generated code, so they cannot vary per row).
    */
  private[graft] def litString(e: Expression, what: String): String =
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be a constant")
    else e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }

  /** Wrap a builder with an argument-count check so a wrong-arity SQL
    * call fails with the expected signature instead of an
    * IndexOutOfBoundsException from exprs(n).
    */
  private def arity(n: Int, sig: String)(f: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$sig expects $n argument(s), got ${exprs.length}")
    f(exprs)
  }

  /** A SQL argument as the Column a kernel's builder takes, and the
    * built Column back as the expression the registry wants.
    */
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** (name, arity-checked builder) for every scalar SQL-surface
    * function.
    */
  private val scalarFns: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      ("sanitize_string",
        arity(1, "sanitize_string(text)")(e =>
          expr(SanitizeStringExpr(col(e.head))))),
      ("html_to_text",
        arity(1, "html_to_text(html)")(e =>
          expr(HtmlToTextExpr(col(e.head))))),
      ("dot_product",
        arity(2, "dot_product(a, b)")(e => DotProductExpr(e.head, e(1)))),
      ("simhash64",
        arity(1, "simhash64(text)")(e => expr(SimHashExpr(col(e.head))))),
      ("minhash_sig",
        arity(3, "minhash_sig(text, shingleK, numHashes)")(e =>
          expr(MinHashSigExpr(col(e.head),
            litInt(e(1), "minhash_sig shingleK"),
            litInt(e(2), "minhash_sig numHashes"))))),
      ("winnow_fingerprints",
        arity(3, "winnow_fingerprints(text, k, w)")(e =>
          expr(WinnowFingerprintsExpr(col(e.head),
            litInt(e(1), "winnow_fingerprints k"),
            litInt(e(2), "winnow_fingerprints w"))))),
      ("shingle_set",
        arity(2, "shingle_set(text, k)")(e =>
          expr(ShingleSetExpr(col(e.head), litInt(e(1), "shingle_set k"))))),
      ("unicode_normalize",
        arity(2, "unicode_normalize(text, form)")(e =>
          expr(UnicodeNormalizeExpr(col(e.head), UnicodeNormalizeExpr.formOf(
            litString(e(1), "unicode_normalize form")))))),
      ("tokenize",
        arity(1, "tokenize(text)")(e =>
          graft.functions.TokenizeExpr(e.head))),
      ("token_count",
        arity(1, "token_count(text)")(e =>
          graft.functions.TokenCountExpr(e.head))))

  /** Register every SQL-surface function on a live session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    scalarFns.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    PercentileDiscAgg.register(spark)
    graft.functions.KmvSketchAgg.register(spark)
  }
}
