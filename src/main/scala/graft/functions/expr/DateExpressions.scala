package graft.functions.expr

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of F3 `extract_date` ([[graft.functions.Dates]]): the
  * month-name replacement as one regex scan, and a per-format shape
  * guard that lets `try_to_date` skip strings it cannot parse. A miss in
  * Spark's datetime parser costs a thrown and caught
  * DateTimeParseException; the guard costs a byte loop.
  */

/** A month-name table (form → normalized value) compiled into one
  * case-insensitive, word-bounded alternation, longest form first (a
  * stable sort, so among equal-length forms the earlier entry wins).
  * One scan replaces every form; the matched group's index picks the
  * normalized value, which is inserted literally.
  *
  * Preconditions, checked here: every form is a non-empty run of word
  * characters (letters, digits, `_` — what `\b` treats as word), and no
  * normalized value contains a match of any form. Then every match is a
  * whole word and no replacement creates a new match, so the one scan
  * equals replacing the forms one after another in that order (the
  * spec keeps that chain as its reference). */
final case class MonthTable(mappings: Seq[(String, String)]) {
  private val ordered = mappings.sortBy(-_._1.length)
  require(ordered.nonEmpty, "month table is empty")
  ordered.foreach { case (form, _) =>
    require(form.nonEmpty && form.codePoints.allMatch(c => c == '_' || Character.isLetterOrDigit(c)),
      s"month form '$form' is not a run of word characters")
  }
  private val pattern: Pattern = Pattern.compile(ordered
    .map { case (form, _) => "(" + Pattern.quote(form) + ")" }
    .mkString("(?i)\\b(?:", "|", ")\\b"))
  private val norms: Array[String] = ordered.map(_._2).toArray
  norms.foreach(n =>
    require(!pattern.matcher(n).find(), s"normalized value '$n' contains a month form"))

  override def toString: String = s"MonthTable(${ordered.size} forms)"

  def replace(s: UTF8String): UTF8String = {
    val str = s.toString
    val m = pattern.matcher(str)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(str.length)
    var last = 0
    while ({
      var g = 1
      while (m.start(g) < 0) g += 1
      sb.append(str, last, m.start()).append(norms(g - 1))
      last = m.end()
      m.find()
    }) ()
    sb.append(str, last, str.length)
    UTF8String.fromString(sb.toString)
  }
}

/** [[MonthTable.replace]] over a string column. */
case class ReplaceMonths(child: Expression, table: MonthTable) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_replace_months"

  protected override def nullSafeEval(input: Any): Any =
    table.replace(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("monthTable", table)
    defineCodeGen(ctx, ev, c => s"$t.replace($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ReplaceMonths =
    copy(child = newChild)
}

/** The shape every string that Spark's datetime parser (CORRECTED
  * policy: strict, case-insensitive java.time parsing of the pattern
  * with `y` read as proleptic `u`) accepts for one pattern must have.
  * [[accepts]] is a necessary condition: a string it rejects parses to
  * no date, so `try_to_date` can be skipped.
  *
  * Modelled pattern letters, each separated from the next field by a
  * literal:
  *  - `dd`, `MM`, `yy`: exactly two ASCII digits;
  *  - `d`, `M`: 1–19 digits (a sign only ever yields an invalid value);
  *  - `yyyy`, `yyyyy`, `yyyyyy` (width n): n digits unsigned, `+` and
  *    n+1–19 digits, or `-` and n–19 digits;
  *  - any other printable ASCII character except letters, digits and
  *    `'[]{}#`: itself.
  * [[DateShape.of]] returns None for every other pattern.
  *
  * Beyond the shape, a `yyyy`+ value must lie in [MinYear, MaxYear], the
  * years every date of which fits Spark's microsecond timestamps in any
  * session time zone. Past them `try_to_date` threw ArithmeticException
  * (long overflow) and aborted the query; a few dates of the two edge
  * years did parse and are now rejected with the rest. */
final case class DateShape(pattern: String, tokens: Seq[DateShape.Token]) {
  import DateShape._
  private val toks = tokens.toArray

  override def toString: String = s"DateShape($pattern)"

  def accepts(s: UTF8String): Boolean = {
    val n = s.numBytes
    var pos = 0
    var t = 0
    while (t < toks.length) {
      toks(t) match {
        case Literal(b) =>
          if (pos >= n || s.getByte(pos) != b) return false
          pos += 1
        case Digits(min, max) =>
          val k = digitRun(s, pos, n)
          if (k < min || k > max) return false
          pos += k
        case Year(width) =>
          val sign = if (pos < n) s.getByte(pos) else 0
          val signed = sign == '+' || sign == '-'
          if (signed) pos += 1
          val k = digitRun(s, pos, n)
          val widthOk =
            if (sign == '+') k > width && k <= 19
            else if (sign == '-') k >= width && k <= 19
            else k == width
          if (!widthOk) return false
          val y = magnitude(s, pos, k)
          if (if (sign == '-') y > -MinYear else y > MaxYear) return false
          pos += k
      }
      t += 1
    }
    pos == n
  }
}

object DateShape {
  sealed trait Token
  final case class Literal(b: Byte) extends Token
  final case class Digits(min: Int, max: Int) extends Token
  final case class Year(width: Int) extends Token

  /** Years whose every instant fits a signed 64-bit microsecond count
    * (±292,277 years around 1970) in any zone. */
  val MinYear: Long = -290307L
  val MaxYear: Long = 294246L

  private val Reserved = "'[]{}#"

  /** The shape of `pattern`, or None when it uses anything the guard
    * does not model (text fields, other letters, quotes, optional
    * sections, or two adjacent numeric fields). */
  def of(pattern: String): Option[DateShape] = {
    val toks = Seq.newBuilder[Token]
    var lastNumeric = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (Character.isLetter(c)) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        val tok = (c, j - i) match {
          case ('d' | 'M', 1) => Digits(1, 19)
          case ('d' | 'M' | 'y', 2) => Digits(2, 2)
          case ('y', w) if w >= 4 && w <= 6 => Year(w)
          case _ => return None
        }
        if (lastNumeric) return None
        toks += tok
        lastNumeric = true
        i = j
      } else if (c >= ' ' && c <= '~' && !Character.isDigit(c) && Reserved.indexOf(c) < 0) {
        toks += Literal(c.toByte)
        lastNumeric = false
        i += 1
      } else return None
    }
    Some(DateShape(pattern, toks.result()))
  }

  private def digitRun(s: UTF8String, from: Int, n: Int): Int = {
    var p = from
    while (p < n && { val b = s.getByte(p); b >= '0' && b <= '9' }) p += 1
    p - from
  }

  /** The value of `k` digits at `from`, or Long.MaxValue past 6
    * significant digits (no year that large is in range). */
  private def magnitude(s: UTF8String, from: Int, k: Int): Long = {
    var p = from
    val end = from + k
    while (p < end && s.getByte(p) == '0') p += 1
    if (end - p > 6) return Long.MaxValue
    var v = 0L
    while (p < end) { v = v * 10 + (s.getByte(p) - '0'); p += 1 }
    v
  }
}

/** [[DateShape.accepts]] over a string column. */
case class DateShapeGuard(child: Expression, shape: DateShape) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_date_shape"

  protected override def nullSafeEval(input: Any): Any =
    shape.accepts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("dateShape", shape)
    defineCodeGen(ctx, ev, c => s"$s.accepts($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DateShapeGuard =
    copy(child = newChild)
}
