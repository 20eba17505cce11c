package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd tokenizer kernels (r12 — SURVEY §4's Unicode token
  * contract made fast).
  *
  * Tokenization is the engine's hottest inner loop: every dedup signature,
  * BM25 posting, shingle, and quality ratio starts from it. The r12
  * Unicode contract expressed as java.util.regex pays per-character
  * Unicode property lookups (measured 13-17× the historical ASCII regex
  * on the token path — tokenize-heavy bench rows inflated up to 10×),
  * and neither regex-level remedy survives Catalyst: a CaseWhen DISPATCH
  * around two extractions breaks common-subexpression elimination
  * (conditional branches are exempt, and consumers reference the token
  * array ~5×), while a per-row PATTERN argument recompiles the regex
  * every row under whole-stage codegen (the non-foldable path has no
  * pattern cache). So the token LANGUAGE gets a real Expression: one
  * hand-written codepoint loop per row, ASCII decided by two range
  * checks, Unicode by the same predicates the regex classes denote
  * (Character.isLetter ≡ \p{L}, Character.getType ∈ {Nd,Nl,No} ≡ \p{N},
  * UnicodeScript ∈ {HAN,HIRAGANA,KATAKANA,HANGUL} ≡ the CJK script
  * classes). Deterministic, null-safe, CSE-hoistable, and inside
  * whole-stage codegen like VecDot.
  *
  * EXACTNESS: each kernel's output is defined to equal its regex form's
  * (`TextOps.TokRe` / `BpeTokRe` / `AlnumWs`-complement count) on EVERY
  * input — UnicodeTextSpec property-tests the equivalence over random
  * mixed-script strings including the nasty corners (U+3007 IDEOGRAPHIC
  * NUMBER ZERO is script-Han AND \p{N}, so it joins runs rather than
  * splitting as a CJK unigram — the class-union order the regex
  * defines). The DuckDB oracle keeps the RE2 spelling; its DFA pays no
  * property penalty.
  */
object TextLang {

  import java.lang.Character.{UnicodeScript => US}

  /** Unigram-script class (kept under the historical name): CJK plus the
    * other whitespace-free scripts Thai/Lao/Khmer/Myanmar (r13) — ≡ the
    * `CjkJ`/`CjkD` regex class bodies in TextOps.
    */
  def isCjk(cp: Int): Boolean = {
    val s = US.of(cp)
    (s eq US.HAN) || (s eq US.HIRAGANA) || (s eq US.KATAKANA) ||
      (s eq US.HANGUL) || (s eq US.THAI) || (s eq US.LAO) ||
      (s eq US.KHMER) || (s eq US.MYANMAR)
  }

  /** \p{N}: Nd, Nl, No. */
  def isN(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** Member of the token-run class `[a-z0-9\p{N}[^\P{L}CJK]]`. */
  private def isRunChar(cp: Int): Boolean =
    if (cp < 128)
      (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') ||
        (cp >= 'A' && cp <= 'Z')
    else (Character.isLetter(cp) && !isCjk(cp)) || isN(cp)

  /** ≡ regexp_extract_all(s, TokRe): runs of (non-CJK letters ∪ \p{N}),
    * single-codepoint CJK tokens. */
  def tokens(s: UTF8String): GenericArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[AnyRef]
    var i = 0
    var runStart = -1
    def flush(endExclusive: Int): Unit =
      if (runStart >= 0) {
        out.add(UTF8String.fromString(str.substring(runStart, endExclusive)))
        runStart = -1
      }
    while (i < n) {
      val c = str.charAt(i)
      if (c < 128) {
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
            (c >= 'A' && c <= 'Z')) {
          if (runStart < 0) runStart = i
          i += 1
        } else { flush(i); i += 1 }
      } else {
        val cp = str.codePointAt(i)
        val w = Character.charCount(cp)
        if (isRunChar(cp)) { if (runStart < 0) runStart = i; i += w }
        else if (isCjk(cp)) {
          flush(i)
          out.add(UTF8String.fromString(str.substring(i, i + w)))
          i += w
        } else { flush(i); i += w }
      }
    }
    flush(n)
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** ≡ regexp_extract_all(s, BpeTokRe): non-CJK-letter runs, \p{N} runs,
    * CJK unigrams, single non-alnum non-ASCII-ws marks. */
  def bpeSegs(s: UTF8String): GenericArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[AnyRef]
    // run kind: 0 none, 1 letters, 2 digits
    var runStart = -1
    var runKind = 0
    var i = 0
    def flush(endExclusive: Int): Unit =
      if (runStart >= 0) {
        out.add(UTF8String.fromString(str.substring(runStart, endExclusive)))
        runStart = -1; runKind = 0
      }
    def isAsciiWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
    while (i < n) {
      val c = str.charAt(i)
      val cp = if (c < 128) c.toInt else str.codePointAt(i)
      val w = if (c < 128) 1 else Character.charCount(cp)
      val kind: Int =
        if (cp < 128) {
          if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) 1
          else if (cp >= '0' && cp <= '9') 2
          else if (isAsciiWs(c)) 0
          else 3 // single punct mark
        } else if (Character.isLetter(cp) && !isCjk(cp)) 1
        else if (isN(cp)) 2
        else if (isCjk(cp)) 4 // CJK unigram
        else 3 // any other non-L/N codepoint is a single mark
      if (kind == 1 || kind == 2) {
        if (runKind != kind) { flush(i); runStart = i; runKind = kind }
        i += w
      } else {
        flush(i)
        if (kind >= 3)
          out.add(UTF8String.fromString(str.substring(i, i + w)))
        i += w
      }
    }
    flush(n)
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** ≡ length(regexp_replace(s, AlnumWs, '')): codepoints that are not
    * \p{L}, not \p{N}, and not ASCII \s. */
  def punctCount(s: UTF8String): Int = {
    val str = s.toString
    val n = str.length
    var i = 0
    var cnt = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c < 128) {
        if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
              (c >= 'A' && c <= 'Z') || c == ' ' || c == '\t' || c == '\n' ||
              c == 0x0B || c == '\f' || c == '\r')) cnt += 1
        i += 1
      } else {
        val cp = str.codePointAt(i)
        if (!Character.isLetter(cp) && !isN(cp)) cnt += 1
        i += Character.charCount(cp)
      }
    }
    cnt
  }
}

abstract class TextLangUnary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  override def nullable: Boolean = child.nullable
}

/** graft_tokens(s): the SURVEY §4 Unicode token array. */
case class GraftTokens(child: Expression) extends TextLangUnary {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"
  override def nullSafeEval(s: Any): Any =
    TextLang.tokens(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextLang.tokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_bpe_segs(s): the D10 BPE-ish segmentation array. */
case class GraftBpeSegs(child: Expression) extends TextLangUnary {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_segs"
  override def nullSafeEval(s: Any): Any =
    TextLang.bpeSegs(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextLang.bpeSegs($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_punct_count(s): codepoints outside letters/digits/ASCII-ws. */
case class GraftPunctCount(child: Expression) extends TextLangUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_punct_count"
  override def nullSafeEval(s: Any): Any =
    TextLang.punctCount(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextLang.punctCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextTokens {
  def tokens(lowered: Column): Column =
    GraftPlanBridge.column(GraftTokens(GraftPlanBridge.expression(lowered)))
  def bpeSegs(lowered: Column): Column =
    GraftPlanBridge.column(GraftBpeSegs(GraftPlanBridge.expression(lowered)))
  def punctCount(lowered: Column): Column =
    GraftPlanBridge.column(GraftPunctCount(GraftPlanBridge.expression(lowered)))
}
