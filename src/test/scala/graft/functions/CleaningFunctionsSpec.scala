package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleaningFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("identifier checksums accept known-valid, reject off-by-one") {
    def check(c: org.apache.spark.sql.Column): Boolean = one(c).asInstanceOf[Boolean]
    // public well-known identifiers
    assert(check(Identifiers.isinValid(lit("US0378331005"))))
    assert(!check(Identifiers.isinValid(lit("US0378331006"))))
    assert(check(Identifiers.leiValid(lit("HWUPKR0MPOU8FGXBT394"))))
    assert(!check(Identifiers.leiValid(lit("HWUPKR0MPOU8FGXBT395"))))
    assert(check(Identifiers.ibanValid(lit("DE89 3704 0044 0532 0130 00"))))
    assert(!check(Identifiers.ibanValid(lit("DE89370400440532013001"))))
    assert(check(Identifiers.imoValid(lit("IMO 9074729"))))
    assert(!check(Identifiers.imoValid(lit("IMO 9074728"))))
    assert(check(Identifiers.innValid(lit("7707083893"))))
    assert(!check(Identifiers.innValid(lit("7707083894"))))
    assert(check(Identifiers.ogrnValid(lit("1027700132195"))))
    assert(!check(Identifiers.ogrnValid(lit("1027700132194"))))
    assert(check(Identifiers.npiValid(lit("1234567893"))))
    assert(check(Identifiers.qidValid(lit("Q42"))))
    assert(!check(Identifiers.qidValid(lit("Q042"))))
    assert(check(Identifiers.bicValid(lit("DEUTDEFF"))))
    assert(check(Identifiers.bicValid(lit("DEUTDEFF500"))))
    assert(!check(Identifiers.bicValid(lit("DEUTDE"))))
    assert(check(Identifiers.usccValid(lit("91350100M000100Y43"))))
    assert(!check(Identifiers.usccValid(lit("91350100M000100Y44"))))
  }

  test("extract_date: month names, two-digit years, partials, year-only") {
    val months = Seq("März" -> "03", "Mar" -> "03", "Apr" -> "04")
    def ed(s: String) = one(Dates.extractDate(lit(s),
      Seq(Dates.DateFmt("dd. MM yyyy"), Dates.DateFmt("dd-MM-yy")),
      months = months, twoDigitYearBase = Some(1950), yearOnly = true))
    assert(ed("15. März 1994") == "1994-03-15")
    assert(ed("03-Apr-96") == "1996-04-03")
    assert(ed("03-Apr-12") == "2012-04-03") // rebased into [1950, 2050)
    assert(ed("1994") == "1994")            // partial precision preserved
    assert(ed("1994-05") == "1994-05")
    assert(ed("circa 1990") == "1990")      // year extraction
    assert(ed("circa 1990 to 2001") == "1990;2001")
    assert(ed("n/a") == "n/a")              // fallback to original
  }

  test("extract_date: a number past Int range in year-only text does not abort") {
    def years(s: String) = one(Dates.extractDate(lit(s), Nil, yearOnly = true))
    assert(years("tel +4412345678") == "tel +4412345678")
    assert(years("born 1990, tel 4412345678") == "1990")
  }

  test("extract_date: a year past the timestamp range falls back instead of overflowing") {
    def ed(s: String) = one(Dates.extractDate(lit(s), Seq(Dates.DateFmt("dd. MM yyyy"))))
    assert(ed("+300000") == "+300000")
    assert(ed("-300000-01") == "-300000-01")
    assert(ed("01. 02 +300000") == "01. 02 +300000")
    assert(ed("+01994") == "1994")          // signed, in range: still parsed
    assert(ed("01. 02 -1994") == "-1994-02-01")
  }

  test("excel serial dates convert inside the validity window") {
    assert(one(Dates.excelSerialDate(lit(44876))) == "2022-11-11T00:00:00")
    assert(one(Dates.excelSerialDate(lit(100))) == null)
  }

  test("make_name joins parts in canonical order; titles strip at word boundaries") {
    assert(one(Names.makeName(firstName = lit("John"), lastName = lit("Doe"),
      prefix = lit("Mr"), suffix = lit("Jr"))) == "Mr John Doe Jr")
    assert(one(Names.makeName(full = lit("  Jane   Roe "),
      firstName = lit("X"))) == "Jane Roe")
    assert(one(Names.stripNameTitles(lit("Dr. Honorata Kowalska"),
      Seq("Dr.", "Hon"), Nil)) == "Honorata Kowalska") // bare "Hon" must not eat "Honorata"
    assert(one(Names.stripNameTitles(lit("Mr John Doe Jr"),
      Seq("Mr"), Seq("Jr"))) == "John Doe")
    assert(one(Names.stripNameTitles(lit("Dr."), Seq("Dr."), Nil)) == null)
  }

  test("suggestion heuristics demote suspicious names, not regular ones") {
    def sug(name: String, person: Boolean, org: Boolean): Any =
      one(Names.suggestNameProp(lit(name), lit(person), lit(org)))
    assert(sug("Madonna", person = true, org = false) == "weakAlias")
    assert(sug("John Doe", person = true, org = false) == null)
    assert(sug("NASA", person = false, org = true) == "abbreviation")
    assert(sug("VeryLongNameCo", person = false, org = true) == null) // too long
    assert(sug("Acme", person = false, org = true) == null)           // not all-caps
  }

  test("split_comma_names keeps conjunctions and Last, First pairs intact") {
    def split(s: String) = one(Names.splitCommaNames(lit(s)))
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(split("Alpha Corp, Beta Ltd, Gamma") == Seq("Alpha Corp", "Beta Ltd", "Gamma"))
    assert(split("Smith, Jane") == Seq("Smith, Jane"))
    assert(split("A, B and C Inc") == Seq("A, B and C Inc"))
    assert(split("Blue, LLC") == Seq("Blue LLC"))
  }

  test("text helpers: multi_split, clean_note, remove_bracketed") {
    assert(one(TextFns.multiSplit(lit("test,other/misc"), Seq(",", "/")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("test", "other", "misc"))
    assert(one(TextFns.cleanNote(lit(
      "See https://www.interpol.int/x/1 details"))) == "See details")
    assert(one(TextFns.removeBracketed(lit("Russia (former USSR)"))).toString.trim == "Russia")
  }

  test("number parsing canonicalizes integers and 2-decimal floats") {
    assert(one(Numbers.canonicalNumber(Numbers.parseNumber(lit("1,234.56 km")))) == "1234.56")
    assert(one(Numbers.canonicalNumber(Numbers.parseNumber(lit("1,000 t")))) == "1000")
    assert(one(Numbers.unitOf(lit("1,234.56 km"))) == "km")
    assert(one(Numbers.parseNumber(lit("n/a"))) == null)
  }

  test("ids: slug and hash id are deterministic and capped") {
    assert(one(Ids.makeSlug("osv", lit("John  Q."), lit("Public"))) == "osv-john-q-public")
    val id1 = one(Ids.makeId("ent", lit("a"), lit("b")))
    assert(id1.toString.startsWith("ent-") && id1.toString.length == 4 + 40)
  }

  test("value_clean dispatch: truncation, validation, origins, warnings") {
    val res = ValueClean.clean(lit("date"), lit("1994-01-02T12:00:00"))
    assert(one(res.getField("clean")) == "1994-01-02")
    val bad = ValueClean.clean(lit("identifier"), lit("IMO 1234568"), lit("imo"))
    assert(one(bad.getField("clean")) == null)
    assert(one(bad.getField("warning")) == "invalid_identifier")
    val topic = ValueClean.clean(lit("topic"), lit("Sanction"))
    assert(one(topic.getField("origin")) == "inferred")
  }
}
