package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The lowered alphanumeric tokens themselves — the array the BM25
  * explode consumes — as [[TokenCountExpr]]'s byte scan: maximal [A-Za-z0-9]
  * runs, ASCII letters lowered in place, emitted as zero-regex
  * UTF8Strings.
  *
  * Definition parity with `split(lower(text), "[^a-z0-9]+")` minus
  * empties (the oracle's formulation, spec-asserted over the corpus and
  * UTF-8 edge cases): tokens contain only [a-z0-9] by construction, and
  * every non-ASCII byte (≥ 0x80, including continuation bytes) is a
  * delimiter in both. Known divergence, documented not hidden: the
  * handful of non-ASCII codepoints whose Unicode LOWERCASE mapping is
  * an ASCII alphanumeric (e.g. U+212A KELVIN SIGN → 'k') tokenize as
  * delimiters here but as letters after lower() — irrelevant for the
  * [a-z0-9] token universe this tokenizer targets.
  *
  * Why not the regex form on the hot path: split converts each UTF8
  * string to UTF-16, runs java.util.regex, and allocates the empty
  * boundary tokens — measured 115 s of CPU for a 500 MB corpus scan at
  * the 100× point, ~5× this loop.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class TokenizeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tokenize requires string input, got $t")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      if (TokenizeExpr.alnum(bytes(i))) {
        val start = i
        while (i < bytes.length && TokenizeExpr.alnum(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) {
          val b = bytes(start + j)
          tok(j) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          j += 1
        }
        out.add(UTF8String.fromBytes(tok))
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val start = ctx.freshName("start")
      val tok = ctx.freshName("tok")
      val b = ctx.freshName("b")
      s"""
         |byte[] $bytes = $s.getBytes();
         |java.util.ArrayList $out = new java.util.ArrayList();
         |int $i = 0;
         |while ($i < $bytes.length) {
         |  if (graft.functions.TokenizeExpr.alnum($bytes[$i])) {
         |    int $start = $i;
         |    while ($i < $bytes.length &&
         |           graft.functions.TokenizeExpr.alnum($bytes[$i])) $i++;
         |    byte[] $tok = new byte[$i - $start];
         |    for (int $j = 0; $j < $tok.length; $j++) {
         |      byte $b = $bytes[$start + $j];
         |      $tok[$j] = ($b >= 'A' && $b <= 'Z') ? (byte)($b + 32) : $b;
         |    }
         |    $out.add(org.apache.spark.unsafe.types.UTF8String.fromBytes($tok));
         |  } else $i++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): TokenizeExpr =
    copy(child = c)
}

object TokenizeExpr {
  /** Shared by interpreted and generated paths. */
  def alnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
}

/** The query-compiled scan kernel for index-less retrieval: ONE byte
  * scan per document returning `[dl, tf(terms(0)), …, tf(terms(n-1))]`
  * — the doc's token count and its term frequency for each (distinct,
  * lowered) query term. Each token run is case-folded byte-compared
  * against the term list in place: no token materialization, no regex,
  * no 100-to-200× explode fan-out, no corpus-scale join or shuffle —
  * the downstream posexplode fans out only |terms|+1 per doc and
  * filters to tf > 0, so everything after the scan is match-sized.
  * (The explode+broadcast-join formulation this replaces streamed 80M
  * token rows through a hash join and a partial aggregation: 179 s CPU
  * at the 100× point for 3 queries.)
  *
  * Token/dl definitions are [[TokenizeExpr]]/[[TokenCountExpr]]'s,
  * so tf and dl equal the oracle's split-lower-filter formulation.
  */
object QueryTermCountsExpr {

  /** [[scan]] over a text column for the distinct lowered `terms`. */
  def apply(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be non-empty and distinct")
    require(terms.forall(t => t.nonEmpty &&
      t.getBytes("UTF-8").forall(TokenizeExpr.alnum)),
      "terms must be non-empty lowered alphanumeric tokens")
    Kernel.call(this, "scan", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), Seq(QueryTerms(terms)))
  }

  def scan(u: UTF8String, terms: QueryTerms): ArrayData =
    new GenericArrayData(scan(u.getBytes, terms.bytes))

  /** One pass: out(0) = token count, out(t+1) = occurrences of
    * terms(t). A kernel, not an inline loop: it is branch-heavy enough
    * that a single JIT-compiled method beats inlining it into every
    * generated class.
    */
  def scan(bytes: Array[Byte], terms: Array[Array[Byte]]): Array[Long] = {
    val out = new Array[Long](terms.length + 1)
    var i = 0
    while (i < bytes.length) {
      if (TokenizeExpr.alnum(bytes(i))) {
        val start = i
        while (i < bytes.length && TokenizeExpr.alnum(bytes(i))) i += 1
        out(0) += 1
        val tlen = i - start
        var t = 0
        var matched = false
        while (t < terms.length && !matched) {
          val tb = terms(t)
          if (tb.length == tlen) {
            var j = 0
            var eq = true
            while (j < tlen && eq) {
              var b = bytes(start + j)
              if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
              if (b != tb(j)) eq = false
              j += 1
            }
            if (eq) { out(t + 1) += 1; matched = true }
          }
          t += 1
        }
      } else i += 1
    }
    out
  }
}

/** The term constant of a [[QueryTermCountsExpr]] plan: compares by its
  * terms and prints them; their UTF-8 bytes, which the scan compares
  * token runs against, are built once per JVM.
  */
final case class QueryTerms(terms: Seq[String]) {

  override def toString: String = terms.mkString("QueryTerms(", ", ", ")")

  @transient lazy val bytes: Array[Array[Byte]] =
    terms.map(_.getBytes("UTF-8")).toArray
}

/** Number of alphanumeric token runs in a string — ONE generated byte
  * scan, no regex, no array materialization.
  *
  * Definition parity (load-bearing for the BM25 oracle): equals the
  * count of non-empty elements of `split(lower(text), "[^a-z0-9]+")` —
  * a maximal run of [A-Za-z0-9] is exactly one non-empty split
  * element (case folding keeps ASCII letters alphanumeric, and every
  * non-ASCII byte has the high bit set, so it is never in [a-z0-9] and
  * acts as a delimiter in both formulations; multi-byte continuation
  * bytes too). The split form costs a 500 MB regex pass plus an 80M
  * element array per corpus scan at the 100× point; computing doc
  * length via `size(filter(split(...)))` additionally ran the
  * interpreted ArrayFilter lambda per element — this loop replaces
  * both with ~1 ns/byte.
  *
  * Why this stays an inline loop: SCALING.md § Kernel calls.
  */
case class TokenCountExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_count requires string input, got $t")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var n = 0L
    var in = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9')
      if (alnum && !in) n += 1
      in = alnum
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val in = ctx.freshName("in")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val alnum = ctx.freshName("alnum")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $n = 0L;
         |boolean $in = false;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  byte $b = $bytes[$i];
         |  boolean $alnum = ($b >= 'a' && $b <= 'z') ||
         |    ($b >= 'A' && $b <= 'Z') || ($b >= '0' && $b <= '9');
         |  if ($alnum && !$in) $n++;
         |  $in = $alnum;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): TokenCountExpr =
    copy(child = c)
}
