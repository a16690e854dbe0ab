package graft.queries

import graft.functions.{Addresses, Dates, Identifiers, Ids, Lookups, Names, Numbers, TextFns, ValueClean}
import org.apache.spark.sql.functions._
import Q._

/** The cleaning/normalization library (F1–F15) exercised over the
  * synthetic tables, each query with a DuckDB oracle that re-implements
  * the same public formula (checksum, template, regex) independently in
  * SQL — so the validators are cross-checked, not self-checked.
  */
object CleaningQueries {

  // ---- DuckDB SQL fragments mirroring the Identifiers expressions ----

  private def sqlB36(c: String): String =
    s"(CASE WHEN ascii($c) BETWEEN 48 AND 57 THEN ascii($c)-48 " +
      s"WHEN ascii($c) BETWEEN 65 AND 90 THEN ascii($c)-55 ELSE -1 END)"

  private def sqlDigitExpand(e: String): String =
    s"array_to_string(list_transform(generate_series(1, len($e)), " +
      s"i -> ${sqlB36(s"substr($e, i, 1)")}::VARCHAR), '')"

  /** Luhn over a digit-string SQL expression (must be a column name). */
  private def sqlLuhn(d: String): String = {
    val dig = s"(ascii(substr(reverse($d), i, 1)) - 48)"
    s"(list_sum(list_transform(generate_series(1, len($d)), i -> " +
      s"CASE WHEN i % 2 = 0 THEN (CASE WHEN $dig * 2 > 9 THEN $dig * 2 - 9 ELSE $dig * 2 END) " +
      s"ELSE $dig END)) % 10 = 0)"
  }

  private def sqlMod97(d: String): String =
    s"list_reduce(list_transform(generate_series(1, len($d)), " +
      s"i -> (ascii(substr($d, i, 1)) - 48)::BIGINT), (acc, x) -> (acc * 10 + x) % 97)"

  private val q60Oracle: String = {
    val imoD = "regexp_replace(imo_raw, '[^0-9]', '', 'g')"
    val imoSum = (1 to 6).map(i => s"(ascii(substr($imoD, $i, 1)) - 48) * ${8 - i}").mkString(" + ")
    val innSum = Seq(2, 4, 10, 3, 5, 9, 4, 6, 8).zipWithIndex
      .map { case (w, i) => s"(ascii(substr(inn_raw, ${i + 1}, 1)) - 48) * $w" }.mkString(" + ")
    val ogrnAlt = (1 to 12).map { i =>
      val sign = if ((12 - i) % 2 == 0) "" else "-"
      s"$sign(ascii(substr(ogrn_raw, $i, 1)) - 48)"
    }.mkString(" + ")
    s"""WITH raw AS (
       |  SELECT s_suppkey,
       |    'IMO ' || lpad(((s_suppkey * 37) % 10000000)::VARCHAR, 7, '0') AS imo_raw,
       |    'US' || lpad(((s_suppkey * 7919) % 1000000000)::VARCHAR, 9, '0') || (s_suppkey % 10)::VARCHAR AS isin_raw,
       |    lpad((s_suppkey % 100000)::VARCHAR, 18, '0') || lpad((s_suppkey % 97)::VARCHAR, 2, '0') AS lei_raw,
       |    lpad(((s_suppkey * 13) % 10000000000)::VARCHAR, 10, '0') AS inn_raw,
       |    lpad(((s_suppkey * 7) % 10000000000000)::VARCHAR, 13, '0') AS ogrn_raw,
       |    'DE' || lpad((s_suppkey % 100)::VARCHAR, 2, '0') || lpad(((s_suppkey * 31) % 10000000000)::VARCHAR, 10, '0') AS iban_raw
       |  FROM supplier),
       |expanded AS (
       |  SELECT s_suppkey, imo_raw, inn_raw, ogrn_raw,
       |    ${sqlDigitExpand("isin_raw")} AS isin_digits,
       |    ${sqlDigitExpand("lei_raw")} AS lei_digits,
       |    ${sqlDigitExpand("(substr(iban_raw, 5) || substr(iban_raw, 1, 4))")} AS iban_digits
       |  FROM raw)
       |SELECT s_suppkey,
       |  ($imoSum) % 10 = (ascii(substr($imoD, 7, 1)) - 48) AS imo_ok,
       |  ${sqlLuhn("isin_digits")} AS isin_ok,
       |  ${sqlMod97("lei_digits")} = 1 AS lei_ok,
       |  (($innSum) % 11) % 10 = (ascii(substr(inn_raw, 10, 1)) - 48) AS inn_ok,
       |  ((($ogrnAlt) % 11) + 11) % 11 % 10 = (ascii(substr(ogrn_raw, 13, 1)) - 48) AS ogrn_ok,
       |  ${sqlMod97("iban_digits")} = 1 AS iban_ok
       |FROM expanded""".stripMargin
  }

  // ---- q64: full extract_date month mappings, shared with the oracle ----

  private val GermanMonths = Seq("Januar", "Februar", "März", "April", "Mai",
    "Juni", "Juli", "August", "September", "Oktober", "November", "Dezember")
  private val EnglishMonths = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private[graft] val MonthMappings: Seq[(String, String)] =
    (GermanMonths.zipWithIndex ++ EnglishMonths.zipWithIndex)
      .map { case (m, i) => m -> f"${i + 1}%02d" }

  /** The oracle's replacement chain: one regexp_replace per form in the
    * (length-desc, stable) order of Dates.replaceMonths' alternation. */
  private def sqlReplaceMonths(e: String): String =
    MonthMappings.sortBy(-_._1.length).foldLeft(e) { case (acc, (form, norm)) =>
      s"regexp_replace($acc, '(?i)\\b$form\\b', '$norm', 'g')"
    }

  private val q64Oracle: String = {
    val germanList = GermanMonths.mkString("['", "', '", "']")
    val englishList = EnglishMonths.mkString("['", "', '", "']")
    val rebase = "make_date(1950 + ((year(d2) - 1950) % 100 + 100) % 100, month(d2), day(d2))"
    s"""WITH raw AS (
       |  SELECT o_orderkey,
       |    CASE o_orderkey % 4
       |      WHEN 0 THEN lpad(day(o_orderdate)::VARCHAR, 2, '0') || '. ' || $germanList[month(o_orderdate)] || ' ' || year(o_orderdate)::VARCHAR
       |      WHEN 1 THEN lpad(day(o_orderdate)::VARCHAR, 2, '0') || '-' || $englishList[month(o_orderdate)] || '-' || lpad((year(o_orderdate) % 100)::VARCHAR, 2, '0')
       |      WHEN 2 THEN year(o_orderdate)::VARCHAR
       |      ELSE 'circa ' || year(o_orderdate)::VARCHAR || ' or ' || (year(o_orderdate) + 1)::VARCHAR
       |    END AS txt
       |  FROM orders),
       |repl AS (SELECT o_orderkey, txt, trim(${sqlReplaceMonths("txt")}) AS r FROM raw),
       |parsed AS (
       |  SELECT o_orderkey, txt,
       |    try_strptime(r, '%d. %m %Y') AS d1,
       |    try_strptime(r, '%d-%m-%y') AS d2,
       |    try_strptime(r, '%Y-%m-%d') AS d3,
       |    try_strptime(r, '%Y-%m') AS d4,
       |    try_strptime(r, '%Y') AS d5
       |  FROM repl),
       |fmt AS (
       |  SELECT o_orderkey, txt, COALESCE(
       |    strftime(d1, '%Y-%m-%d'),
       |    strftime($rebase, '%Y-%m-%d'),
       |    strftime(d3, '%Y-%m-%d'),
       |    strftime(d4, '%Y-%m'),
       |    strftime(d5, '%Y')) AS from_formats
       |  FROM parsed),
       |yrs AS (
       |  SELECT o_orderkey, txt, from_formats,
       |    list_sort(list_distinct(list_filter(regexp_extract_all(txt, '\\b(\\d+)\\b', 1),
       |      y -> TRY_CAST(y AS INT) BETWEEN 1800 AND 2100))) AS years
       |  FROM fmt)
       |SELECT o_orderkey,
       |  COALESCE(from_formats,
       |    CASE WHEN len(years) > 0 THEN array_to_string(years, ';') END,
       |    trim(txt)) AS extracted
       |FROM yrs""".stripMargin
  }

  val decls: Seq[Decl] = Seq(

    // F6/F1: identifier checksum validators (IMO, ISIN Luhn, LEI/IBAN
    // mod-97, INN weighted mod-11, OGRN big-number mod-11).
    decl("q60_identifier_validate",
      (s, d) => {
        val sup = t(s, d, "supplier")
        val k = col("s_suppkey")
        sup.select(k,
            concat(lit("IMO "), lpad((k * 37 % 10000000L).cast("string"), 7, "0")).as("imo_raw"),
            concat(lit("US"), lpad((k * 7919 % 1000000000L).cast("string"), 9, "0"),
              (k % 10).cast("string")).as("isin_raw"),
            concat(lpad((k % 100000L).cast("string"), 18, "0"),
              lpad((k % 97L).cast("string"), 2, "0")).as("lei_raw"),
            lpad((k * 13 % 10000000000L).cast("string"), 10, "0").as("inn_raw"),
            lpad((k * 7 % 10000000000000L).cast("string"), 13, "0").as("ogrn_raw"),
            concat(lit("DE"), lpad((k % 100L).cast("string"), 2, "0"),
              lpad((k * 31 % 10000000000L).cast("string"), 10, "0")).as("iban_raw"))
          .select(k,
            Identifiers.imoValid(col("imo_raw")).as("imo_ok"),
            Identifiers.isinValid(col("isin_raw")).as("isin_ok"),
            Identifiers.leiValid(col("lei_raw")).as("lei_ok"),
            Identifiers.innValid(col("inn_raw")).as("inn_ok"),
            Identifiers.ogrnValid(col("ogrn_raw")).as("ogrn_ok"),
            Identifiers.ibanValid(col("iban_raw")).as("iban_ok"))
      },
      q60Oracle),

    // F2: datapatch lookup — broadcast rewrite with multi-value explode
    // and property re-targeting.
    decl("q61_lookup_datapatch",
      (s, d) => {
        val lookup = Lookups.lookupFrame(s, Seq(
          Lookups.Option_("automobile", Seq("Cars", "Trucks")),
          Lookups.Option_("building", Seq("Construction")),
          Lookups.Option_("machinery", Seq(), prop = "notes")))
        val input = t(s, d, "customer")
          .select(col("c_custkey"), lit("segment").as("prop"),
            col("c_mktsegment").as("value"))
        Lookups.applyLookup(input, lookup, "value", "prop")
          .select(col("c_custkey"), col("prop"), col("value"))
      },
      """SELECT c_custkey,
        |  CASE WHEN lower(trim(c_mktsegment)) = 'machinery' THEN 'notes' ELSE 'segment' END AS prop,
        |  v AS value
        |FROM customer, unnest(
        |  CASE WHEN lower(trim(c_mktsegment)) = 'automobile' THEN ['Cars', 'Trucks']
        |       WHEN lower(trim(c_mktsegment)) = 'building' THEN ['Construction']
        |       ELSE [c_mktsegment] END) AS t(v)""".stripMargin),

    // F4: make_name part assembly + title stripping.
    decl("q62_make_name",
      (s, d) => {
        val c = t(s, d, "customer")
        val k = col("c_custkey")
        val made = Names.makeName(
          full = when(k % 5 === 0, col("c_name")),
          firstName = concat(lit("First"), (k % 100).cast("string")),
          lastName = concat(lit("Last"), (k % 50).cast("string")),
          prefix = when(k % 4 === 0, "Dr.").when(k % 4 === 1, "Mr"),
          suffix = when(k % 7 === 0, "Jr"))
        c.select(k, made.as("made"),
          Names.stripNameTitles(made, Seq("Dr.", "Mr"), Seq("Jr")).as("stripped"))
      },
      """WITH made_t AS (
        |  SELECT c_custkey, COALESCE(
        |    CASE WHEN c_custkey % 5 = 0 THEN c_name END,
        |    concat_ws(' ',
        |      CASE WHEN c_custkey % 4 = 0 THEN 'Dr.' WHEN c_custkey % 4 = 1 THEN 'Mr' END,
        |      'First' || (c_custkey % 100)::VARCHAR,
        |      'Last' || (c_custkey % 50)::VARCHAR,
        |      CASE WHEN c_custkey % 7 = 0 THEN 'Jr' END)) AS made
        |  FROM customer)
        |SELECT c_custkey, made,
        |  trim(regexp_replace(
        |    trim(regexp_replace(
        |      trim(regexp_replace(made, '(?i)^Dr\.\s*', '')),
        |      '(?i)^Mr(\s+|$)', '')),
        |    '(?i)(^|\s+)Jr$', '')) AS stripped
        |FROM made_t""".stripMargin),

    // F5: country-templated address formatting with US ZIP+4 trimming.
    decl("q63_format_address",
      (s, d) => {
        val sup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        val k = col("s_suppkey")
        val cc = when(col("n_nationkey") % 5 === 0, "us")
          .when(col("n_nationkey") % 5 === 1, "de").otherwise("gb")
        sup.select(k,
          Addresses.formatAddress(
            houseNumber = (k % 999).cast("string"),
            street = lit("Main Street"),
            postalCode = when(cc === "us", lit("12345-6789"))
              .otherwise(lpad((k % 99999).cast("string"), 5, "0")),
            city = col("n_name"),
            country = col("n_name"),
            countryCode = cc).as("addr_line"))
      },
      """SELECT s_suppkey,
        |  concat_ws(', ',
        |    (s_suppkey % 999)::VARCHAR || ' ' || 'Main Street',
        |    CASE WHEN cc = 'de'
        |      THEN pc || ' ' || n_name
        |      ELSE n_name || ' ' || pc END,
        |    n_name) AS addr_line
        |FROM (
        |  SELECT s_suppkey, n_name,
        |    CASE WHEN n_nationkey % 5 = 0 THEN 'us' WHEN n_nationkey % 5 = 1 THEN 'de' ELSE 'gb' END AS cc,
        |    CASE WHEN n_nationkey % 5 = 0 THEN '12345'
        |         ELSE lpad((s_suppkey % 99999)::VARCHAR, 5, '0') END AS pc
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)""".stripMargin),

    // F3: full extract_date — month-name replacement (German + English),
    // two-digit-year rebase (base 1950), partial-precision output,
    // year-only extraction, original fallback.
    decl("q64_extract_date_full",
      (s, d) => {
        val o = t(s, d, "orders")
        val k = col("o_orderkey")
        val dte = col("o_orderdate")
        val german = element_at(array(GermanMonths.map(lit): _*), month(dte))
        val english = element_at(array(EnglishMonths.map(lit): _*), month(dte))
        val txt = when(k % 4 === 0,
            concat(lpad(dayofmonth(dte).cast("string"), 2, "0"), lit(". "),
              german, lit(" "), year(dte).cast("string")))
          .when(k % 4 === 1,
            concat(lpad(dayofmonth(dte).cast("string"), 2, "0"), lit("-"),
              english, lit("-"), lpad((year(dte) % 100).cast("string"), 2, "0")))
          .when(k % 4 === 2, year(dte).cast("string"))
          .otherwise(concat(lit("circa "), year(dte).cast("string"),
            lit(" or "), (year(dte) + 1).cast("string")))
        o.select(k,
          Dates.extractDate(txt,
            Seq(Dates.DateFmt("dd. MM yyyy"), Dates.DateFmt("dd-MM-yy")),
            months = MonthMappings,
            twoDigitYearBase = Some(1950),
            yearOnly = true).as("extracted"))
      },
      q64Oracle),

    // F8: clean_note + remove_bracketed + multi_split.
    decl("q65_clean_text",
      (s, d) => {
        val p = t(s, d, "part")
        val noted = concat(col("p_name"), lit(" ("), col("p_brand"), lit(") "),
          lit("INTERPOL-UN Security Council Special Notice web link: https://www.interpol.int/x/123"))
        val frags = TextFns.multiSplit(col("p_type"), Seq(" ", "-"))
        p.select(col("p_partkey"),
          TextFns.cleanNote(TextFns.removeBracketed(noted)).as("cleaned"),
          size(frags).cast("long").as("n_frags"),
          try_element_at(frags, lit(1)).as("first_frag"))
      },
      """SELECT p_partkey,
        |  regexp_replace(trim(regexp_replace(regexp_replace(
        |      regexp_replace(p_name || ' (' || p_brand || ') ' ||
        |        'INTERPOL-UN Security Council Special Notice web link: https://www.interpol.int/x/123',
        |        '\(.*?\)', ' ', 'g'),
        |      '(?i)INTERPOL-UN\s*Security\s*Council\s*Special\s*Notice\s*web\s*link:?', ' ', 'g'),
        |    '(?i)https?://www\.interpol\.int/\S*(\s\d+)?', ' ', 'g')), '\s+', ' ', 'g') AS cleaned,
        |  len(list_filter(list_transform(string_split_regex(p_type, ' |-'), x -> trim(x)), x -> len(x) > 0))::BIGINT AS n_frags,
        |  list_filter(list_transform(string_split_regex(p_type, ' |-'), x -> trim(x)), x -> len(x) > 0)[1] AS first_frag
        |FROM part""".stripMargin),

    // F9: crypto-wallet regex extraction.
    decl("q66_crypto_wallets",
      (s, d) => {
        val doc = t(s, d, "documents")
        val synth = concat(col("text"), lit(" wallet 0x"),
          substring(concat(md5(col("text")), md5(col("text"))), 1, 40), lit(" end"))
        val eth = TextFns.extractCrypto(synth, "ETH")
        doc.select(col("doc_id"), size(eth).cast("long").as("n_eth"),
          try_element_at(eth, lit(1)).as("first_eth"))
      },
      """SELECT doc_id,
        |  len(regexp_extract_all(text || ' wallet 0x' || substr(md5(text) || md5(text), 1, 40) || ' end',
        |    '\b0x[a-fA-F0-9]{40}\b'))::BIGINT AS n_eth,
        |  regexp_extract_all(text || ' wallet 0x' || substr(md5(text) || md5(text), 1, 40) || ' end',
        |    '\b0x[a-fA-F0-9]{40}\b')[1] AS first_eth
        |FROM documents""".stripMargin),

    // F7: number parsing + canonical form + unit.
    decl("q67_numbers",
      (s, d) => {
        val o = t(s, d, "orders")
        val raw = concat(col("o_totalprice").cast("decimal(18,2)").cast("string"), lit(" km"))
        val num = Numbers.parseNumber(raw)
        o.select(col("o_orderkey"),
          Numbers.canonicalNumber(num).as("num"),
          Numbers.unitOf(raw).as("unit"))
      },
      """SELECT o_orderkey,
        |  CASE WHEN num0 = trunc(num0)
        |       THEN trunc(num0)::BIGINT::VARCHAR
        |       ELSE printf('%.2f', num0) END AS num,
        |  'km' AS unit
        |FROM (SELECT o_orderkey,
        |    TRY_CAST(regexp_extract(CAST(o_totalprice AS DECIMAL(18,2))::VARCHAR || ' km',
        |      '^[+-]?[0-9]*\.?[0-9]+', 0) AS DOUBLE) AS num0
        |  FROM orders)""".stripMargin),

    // F14: Excel serial date conversion with the validity window.
    decl("q68_excel_serial",
      (s, d) => {
        val o = t(s, d, "orders")
        val serial = lit(3000) + col("o_orderkey") % 50000
        o.select(col("o_orderkey"), serial.as("serial"),
          Dates.excelSerialDate(serial).as("iso"))
      },
      """SELECT o_orderkey, 3000 + o_orderkey % 50000 AS serial,
        |  CASE WHEN 3000 + o_orderkey % 50000 BETWEEN 4000 AND 100000
        |       THEN strftime(DATE '1900-01-01' + (3000 + o_orderkey % 50000 - 2)::INT, '%Y-%m-%d') || 'T00:00:00'
        |  END AS iso
        |FROM orders""".stripMargin),

    // F1: the per-type value_clean dispatch with warning side-channel.
    decl("q69_value_clean",
      (s, d) => {
        val o = t(s, d, "orders")
        val k = col("o_orderkey")
        val ptype = when(k % 6 === 0, "date").when(k % 6 === 1, "identifier")
          .when(k % 6 === 2, "name").when(k % 6 === 3, "topic")
          .when(k % 6 === 4, "address").otherwise("phone")
        val value = when(k % 6 === 0,
            concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T12:34:56")))
          .when(k % 6 === 1,
            concat(lit("IMO "), lpad((k * 37 % 10000000L).cast("string"), 7, "0")))
          .when(k % 6 === 2, when(k % 2 === 0, lit("7")).otherwise(col("o_orderpriority")))
          .when(k % 6 === 3, lit("Sanction"))
          .when(k % 6 === 4, when(k % 2 === 0, lit("NY")).otherwise(lit("Long Street 1")))
          .otherwise(concat(lit("+1-"), col("o_custkey").cast("string")))
        // DataFrame-scale path: cleanInto stages v/idValid/cleaned behind
        // Project boundaries so the generated code stays under the 64 KB
        // method limit (the single-Column form re-inlined this query's
        // value when-chain ~36× and fell out of whole-stage codegen).
        val base = o.select(k, ptype.as("ptype"), value.as("value"))
        val res = ValueClean.cleanInto(base, "res", col("ptype"), col("value"),
          idFormat = when(col("ptype") === "identifier", "imo"),
          formats = Set("imo"))
        res.select(col("o_orderkey"), col("ptype"),
          col("res.clean").as("clean"), col("res.origin").as("origin"),
          col("res.warning").as("warning"))
      },
      {
        val imoD = "regexp_replace(value, '[^0-9]', '', 'g')"
        val imoSum = (1 to 6).map(i => s"(ascii(substr($imoD, $i, 1)) - 48) * ${8 - i}").mkString(" + ")
        s"""WITH melted AS (
           |  SELECT o_orderkey,
           |    CASE o_orderkey % 6 WHEN 0 THEN 'date' WHEN 1 THEN 'identifier' WHEN 2 THEN 'name'
           |      WHEN 3 THEN 'topic' WHEN 4 THEN 'address' ELSE 'phone' END AS ptype,
           |    CASE o_orderkey % 6
           |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d') || 'T12:34:56'
           |      WHEN 1 THEN 'IMO ' || lpad(((o_orderkey * 37) % 10000000)::VARCHAR, 7, '0')
           |      WHEN 2 THEN CASE WHEN o_orderkey % 2 = 0 THEN '7' ELSE o_orderpriority END
           |      WHEN 3 THEN 'Sanction'
           |      WHEN 4 THEN CASE WHEN o_orderkey % 2 = 0 THEN 'NY' ELSE 'Long Street 1' END
           |      ELSE '+1-' || o_custkey::VARCHAR END AS value
           |  FROM orders),
           |checked AS (
           |  SELECT o_orderkey, ptype, value,
           |    CASE WHEN ptype = 'identifier'
           |         THEN len($imoD) = 7 AND ($imoSum) % 10 = (ascii(substr($imoD, 7, 1)) - 48)
           |         ELSE TRUE END AS id_ok
           |  FROM melted)
           |SELECT o_orderkey, ptype,
           |  CASE ptype
           |    WHEN 'date' THEN substr(value, 1, 10)
           |    WHEN 'identifier' THEN CASE WHEN id_ok THEN regexp_replace(upper(trim(value)), '[\\s-]', '', 'g') END
           |    WHEN 'name' THEN CASE WHEN len(value) >= 2 AND NOT regexp_matches(value, '^[0-9]+$$') THEN value END
           |    WHEN 'topic' THEN lower(value)
           |    ELSE value END AS clean,
           |  CASE WHEN ptype = 'topic' THEN 'inferred' END AS origin,
           |  CASE WHEN ptype = 'identifier' AND NOT id_ok THEN 'invalid_identifier'
           |       WHEN ptype = 'name' AND NOT (len(value) >= 2 AND NOT regexp_matches(value, '^[0-9]+$$')) THEN 'invalid_name'
           |       WHEN ptype = 'address' AND len(value) <= 3 THEN 'short_address'
           |  END AS warning
           |FROM checked""".stripMargin
      })
  )
}
