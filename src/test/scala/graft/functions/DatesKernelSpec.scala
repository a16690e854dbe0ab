package graft.functions

import graft.SparkSpec
import graft.functions.expr.{DateShape, DateShapeGuard}
import graft.queries.CleaningQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.util.Try

/** Properties of the one-pass `extract_date` kernel. ScalaCheck
  * generates the samples; the kernel is evaluated over all of them in
  * one DataFrame pass (an RDD scan, so the projection runs generated
  * code), and the properties are asserted in Scala.
  */
class DatesKernelSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def frame(texts: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(texts, 2).toDF("t")

  /** The month replacement the kernel replaces: one regexp_replace per
    * form, longest form first. Kept here as the reference. */
  private def chainReplace(text: Column, mappings: Seq[(String, String)]): Column =
    mappings.sortBy(-_._1.length).foldLeft(text) { case (t, (form, norm)) =>
      regexp_replace(t, "(?i)\\b" + java.util.regex.Pattern.quote(form) + "\\b", norm)
    }

  /** `extract_date` as composed before the kernel: the chain above and
    * an unguarded try_to_date per format. */
  private def chainExtractDate(
      text: Column,
      formats: Seq[Dates.DateFmt],
      months: Seq[(String, String)],
      base: Int): Column = {
    val replaced = trim(chainReplace(text, months))
    val chain = (formats ++ Dates.AlwaysFormats).map { f =>
      val p0 = try_to_date(replaced, f.pattern)
      val p = if (f.pattern.contains("yy") && !f.pattern.contains("yyyy"))
        when(p0.isNotNull, Dates.rebaseTwoDigitYear(p0, base)) else p0
      when(p.isNotNull, date_format(p, f.out))
    }
    val years = Dates.extractYears(text)
    coalesce(coalesce(chain: _*),
      when(size(years) > 0, array_join(years, ";")), trim(text))
  }

  private val months = CleaningQueries.MonthMappings

  /** Random case per letter. (?i) folds ASCII only, so an upper-cased
    * non-ASCII letter ("MÄRZ") must stay unmatched on both sides. */
  private def recase(s: String): Gen[String] =
    Gen.listOfN(s.length, Gen.choose(0, 2)).map(modes => s.zip(modes).map {
      case (c, 0) => c
      case (c, 1) => c.toUpper
      case (c, _) => c.toLower
    }.mkString)

  private def monthText(forms: Seq[String]): Gen[String] = {
    val piece = Gen.frequency(
      6 -> Gen.oneOf(forms).flatMap(recase),
      1 -> Gen.oneOf("Jun", "Juni", "Mar", "März", "MÄRZ", "Junix", "xMai", "Mai1",
        "1Mai", "Mar_", "Maerz", "Ma", "Sept"),
      2 -> Gen.choose(0, 2100).map(_.toString),
      1 -> Gen.oneOf(".", "-", "(", ")", "/", ",", "'", "\u0301", "_"))
    val sep = Gen.oneOf("", "", " ", " ", "  ", "-", ".", ". ", "/", "_", "\t")
    for {
      n <- Gen.choose(1, 6)
      ps <- Gen.listOfN(n, piece)
      ss <- Gen.listOfN(n + 1, sep)
    } yield ss.head + ps.zip(ss.tail).map { case (p, s) => p + s }.mkString
  }

  test("one-pass month replacement equals the regexp_replace chain") {
    val forms = months.map(_._1)
    val edges = Seq("", "Mar", "März", "Juni", "Jun", "mar apr", "Mar-Apr", "MarApr",
      "12Mar", "Mar12", "(Juni)", "Juni.Juli", "MÄRZ", "mÄrz", "JUNI jun Jun.",
      "Mai Mai Mai", "Jun Juni Juni Jun", "Dezember/Dec", "x Mar", "Mar x")
    val texts = edges ++ samples(monthText(forms), 600)
    val out = frame(texts)
      .select($"t", Dates.replaceMonths($"t", months).as("k"), chainReplace($"t", months).as("c"))
      .as[(String, String, String)].collect()
    assert(out.length == texts.length)
    out.foreach { case (t, k, c) => assert(k == c, s"on '$t'") }
    // some samples really replace something
    assert(out.count { case (t, k, _) => t != k } > 300)
  }

  test("one-pass month replacement equals the chain for random month tables") {
    val form = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'A', 'ä', 'Ä', '_')).map(_.mkString))
    val table = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.zip(form, Gen.choose(1, 12))))
      .map(_.map { case (f, i) => f -> f"$i%02d" })
    samples(Gen.zip(table, Gen.listOfN(40, form.flatMap(recase))), 25).foreach { case (tbl, extra) =>
      val texts = extra ++ samples(monthText(tbl.map(_._1) ++ extra), 60)
      val out = frame(texts)
        .select($"t", Dates.replaceMonths($"t", tbl).as("k"), chainReplace($"t", tbl).as("c"))
        .as[(String, String, String)].collect()
      out.foreach { case (t, k, c) => assert(k == c, s"on '$t' with $tbl") }
    }
  }

  test("month tables outside the kernel's preconditions are refused") {
    intercept[IllegalArgumentException](Dates.replaceMonths($"t", Seq("Sept." -> "09")))
    intercept[IllegalArgumentException](Dates.replaceMonths($"t", Seq("Mär z" -> "03")))
    intercept[IllegalArgumentException](Dates.replaceMonths($"t", Seq("Juni" -> "Jun", "Jun" -> "06")))
  }

  private val guarded = Seq("dd. MM yyyy", "dd-MM-yy", "yyyy-MM-dd", "yyyy-MM", "yyyy",
    "d. M yyyy", "MM/dd/yyyy", "d/M/yy", "dd.MM.yyyyy", "yyyyyy")

  /** A string near `pattern`'s shape: each field rendered with a random
    * width, sign and value, each literal usually kept, then a random
    * edit. */
  private def nearMiss(pattern: String): Gen[String] = {
    val runs = "(.)\\1*".r.findAllIn(pattern).toSeq
    val digits = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val year = (width: Int) => Gen.frequency(
      4 -> Gen.choose(0, 2100).map(y => s"%0${width}d".format(y)),
      1 -> Gen.oneOf("294246", "294247", "290307", "290308", "300000", "99999", "12345",
        "0000000000000001994", "9999999999999999999", "00000000000000000001994"),
      2 -> Gen.choose(0, 8).flatMap(digits))
    val sign = Gen.frequency(6 -> Gen.const(""), 1 -> Gen.const("+"), 1 -> Gen.const("-"))
    val field = (run: String) =>
      if (run.head == 'y' && run.length >= 4)
        Gen.zip(sign, year(run.length)).map { case (s, y) => s + y }
      else Gen.zip(Gen.frequency(8 -> Gen.const(""), 1 -> Gen.const("+"), 1 -> Gen.const("-")),
        Gen.frequency(
          5 -> Gen.choose(1, 12).map(v => s"%0${run.length}d".format(v)),
          2 -> Gen.choose(0, 4).flatMap(digits),
          1 -> digits(20)))
        .map { case (s, v) => s + v }
    val lit = (run: String) => Gen.frequency(
      8 -> Gen.const(run), 1 -> Gen.const(""), 1 -> Gen.oneOf(" ", "-", ".", "/", "  "))
    val base = Gen.sequence[List[String], String](runs.toList.map(r =>
      if (r.head.isLetter) field(r) else lit(r))).map(_.mkString)
    val edit = (s: String) => Gen.frequency(
      6 -> Gen.const(s),
      1 -> Gen.oneOf(" " + s, s + " ", s + "0", "0" + s, s.reverse),
      1 -> Gen.choose(0, s.length).flatMap(i =>
        Gen.oneOf("", "ä", "٣", "x", "1").map(c => s.take(i) + c + s.drop(i + 1))))
    base.flatMap(edit)
  }

  /** year(try_to_date(s, pattern)) per sample; None when null or when
    * the parser throws (a throwing chunk is re-run one sample at a
    * time). Local frames: the optimizer evaluates them on the driver. */
  private def parsedYears(pattern: String, texts: Seq[String]): Seq[Option[Int]] = {
    def eval(ts: Seq[String]) = ts.toDF("t")
      .select(year(try_to_date($"t", pattern))).as[Option[Int]].collect().toSeq
    texts.grouped(25).flatMap(chunk => Try(eval(chunk))
      .getOrElse(chunk.map(t => Try(eval(Seq(t)).head).toOption.flatten))).toSeq
  }

  test("a string the shape guard rejects never parses to a date in range") {
    guarded.foreach { p =>
      val shape = DateShape.of(p).getOrElse(fail(s"$p is not modelled"))
      val texts = samples(nearMiss(p), 400).distinct
      val accepted = frame(texts)
        .select(ColumnBridge.column(DateShapeGuard(ColumnBridge.expression($"t"), shape)))
        .as[Boolean].collect()
      val (in, out) = texts.zip(accepted).partition(_._2)
      assert(in.nonEmpty && out.nonEmpty, p)
      assert(parsedYears(p, in.map(_._1)).exists(_.nonEmpty), s"$p: nothing accepted parses")
      out.map(_._1).zip(parsedYears(p, out.map(_._1))).foreach {
        case (t, Some(y)) =>
          assert(y < DateShape.MinYear || y > DateShape.MaxYear, s"$p rejects '$t' (year $y)")
        case _ =>
      }
    }
    assert(DateShape.of("dd MMM yyyy").isEmpty && DateShape.of("yyyyMMdd").isEmpty &&
      DateShape.of("dd 'de' MM yyyy").isEmpty && DateShape.of("y-MM").isEmpty)
  }

  test("extract_date equals the chain-and-unguarded composition") {
    val fmts = Seq(Dates.DateFmt("dd. MM yyyy"), Dates.DateFmt("dd-MM-yy"))
    val forms = months.map(_._1)
    val dated = for {
      d <- Gen.choose(0, 32)
      m <- Gen.oneOf(forms)
      y <- Gen.choose(0, 2100)
      shape <- Gen.oneOf(0, 1, 2, 3, 4, 5)
    } yield shape match {
      case 0 => f"$d%02d. $m $y"
      case 1 => f"$d%02d-$m-${y % 100}%02d"
      case 2 => y.toString
      case 3 => s"circa $y or ${y + 1}"
      case 4 => f"$y%04d-${d % 14}%02d"
      case _ => f"$y%04d-${d % 14}%02d-$d%02d"
    }
    // the reference casts every standalone number to int and aborts past
    // Int range (the fixed defect), so it is compared on shorter runs
    val texts = samples(Gen.oneOf(dated, monthText(forms)), 1000)
      .filter(t => "[0-9]{10,}".r.findFirstIn(t).isEmpty)
    val out = frame(texts)
      .select($"t",
        Dates.extractDate($"t", fmts, months, Some(1950), yearOnly = true).as("k"),
        chainExtractDate($"t", fmts, months, 1950).as("c"))
      .as[(String, String, String)].collect()
    out.foreach { case (t, k, c) => assert(k == c, s"on '$t'") }
  }
}
