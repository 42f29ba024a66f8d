package graft.config

/** Engine configuration: authority-control maps, logical-field maps,
  * type maps, language tags, index lists.
  *
  * Data tables mirror the reference configuration
  * (dlx/config.py:18-343). Insertion order is preserved (Seq of
  * pairs) because logical-field values are emitted in map order.
  * Reference quirks kept: 'speech'/'vote' record types come from
  * 089$b values (bib_type_map), and the `speaker` logical field's
  * single-code string form behaves like a one-element list.
  */
object DlxConfig {

  /** MARC date field: tag 269, subfield a (dlx/config.py:18). */
  val dateField: (String, String) = ("269", "a")

  /** bib tag -> (subfield code -> auth heading source tag)
    * (dlx/config.py:21-41). */
  val bibAuthorityControlled: Map[String, Map[String, String]] = Map(
    "100" -> Map("a" -> "100"),
    "110" -> Map("a" -> "110"),
    "111" -> Map("a" -> "111"),
    "130" -> Map("a" -> "130"),
    "191" -> Map("b" -> "190", "c" -> "190"),
    "440" -> Map("a" -> "140"),
    "600" -> Map("a" -> "100", "g" -> "100"),
    "610" -> Map("a" -> "110", "g" -> "110"),
    "611" -> Map("a" -> "111", "g" -> "111"),
    "630" -> Map("a" -> "130", "g" -> "130"),
    "650" -> Map("a" -> "150"),
    "651" -> Map("a" -> "151"),
    "700" -> Map("a" -> "100", "g" -> "100"),
    "710" -> Map("a" -> "110"),
    "711" -> Map("a" -> "111"),
    "730" -> Map("a" -> "130"),
    "791" -> Map("b" -> "190", "c" -> "190"),
    "830" -> Map("a" -> "130"),
    "991" -> Map("a" -> "191", "b" -> "191", "c" -> "191", "d" -> "191", "9" -> "191"))

  /** auth tag -> (code -> source tag) (dlx/config.py:87-96). */
  val authAuthorityControlled: Map[String, Map[String, String]] = Map(
    "370" -> Map("a" -> "110"),
    "500" -> Map("a" -> "100"),
    "510" -> Map("a" -> "110"),
    "511" -> Map("a" -> "111"),
    "530" -> Map("a" -> "130"),
    "550" -> Map("a" -> "150"),
    "551" -> Map("a" -> "151"),
    "591" -> Map("a" -> "191", "b" -> "191", "c" -> "191", "d" -> "191"))

  /** heading tag -> (language -> translation tag) (dlx/config.py:99-102). */
  val authLanguageTag: Map[String, Map[String, String]] = Map(
    "150" -> Map("fr" -> "993", "es" -> "994", "ar" -> "995", "zh" -> "996", "ru" -> "997"),
    "151" -> Map("fr" -> "993", "es" -> "994", "ar" -> "995", "zh" -> "996", "ru" -> "997"))

  /** Tags text-indexed beyond the auth-controlled set
    * (dlx/config.py:105-112). */
  val bibIndex: Seq[String] = Seq("089", "191", "245", "246", "249", "269", "500", "520", "546", "930", "991", "989", "998", "999")
  val authIndex: Seq[String] = Seq("100", "110", "111", "130", "140", "150", "190", "400", "410", "411", "430", "440", "450", "998", "999")

  /** record-type tagging rules: type -> (tag, code, value)
    * (dlx/config.py:117-120). */
  val bibTypeMap: Map[String, (String, String, String)] = Map(
    "speech" -> (("089", "b", "B22")),
    "vote" -> (("089", "b", "B23")))

  /** logical field -> ordered (tag -> code groups); each code group
    * string is a set of subfield codes joined with spaces
    * (dlx/config.py:124-261). */
  val bibLogicalFields: Seq[(String, Seq[(String, Seq[String])])] = Seq(
    "symbol" -> Seq(
      "079" -> Seq("a"), "767" -> Seq("o"), "191" -> Seq("a", "z"), "791" -> Seq("a")),
    "body" -> Seq(
      "191" -> Seq("bc"), "791" -> Seq("bc")),
    "subject" -> Seq(
      "600" -> Seq("abcdq"), "610" -> Seq("abcdfgkn"), "611" -> Seq("acdegknq"),
      "630" -> Seq("adfgklnp"), "650" -> Seq("a"), "991" -> Seq("abcd")),
    "title" -> Seq(
      "130" -> Seq("adfgklnp"), "490" -> Seq("a"), "495" -> Seq("a"),
      "765" -> Seq("t"), "767" -> Seq("t"), "770" -> Seq("t"), "772" -> Seq("t"),
      "773" -> Seq("t"), "775" -> Seq("t"), "776" -> Seq("t"), "777" -> Seq("t"),
      "780" -> Seq("t"), "785" -> Seq("t"), "787" -> Seq("t"),
      "210" -> Seq("ab"), "222" -> Seq("ab"), "239" -> Seq("ab"), "740" -> Seq("anp"),
      "242" -> Seq("abnp"), "245" -> Seq("abhnp"), "243" -> Seq("adfgnp"),
      "246" -> Seq("abfgnp"), "247" -> Seq("abfgnp"), "240" -> Seq("adfgklnp")),
    "main_title" -> Seq("245" -> Seq("a")),
    "notes" -> Seq(
      "490" -> Seq("a"), "495" -> Seq("a"), "500" -> Seq("a"), "598" -> Seq("a"),
      "501" -> Seq("a"), "502" -> Seq("a"), "504" -> Seq("a"), "506" -> Seq("a"),
      "510" -> Seq("a"), "515" -> Seq("a"), "516" -> Seq("a"), "518" -> Seq("a"),
      "520" -> Seq("a"), "521" -> Seq("a"), "522" -> Seq("a"), "523" -> Seq("a"),
      "524" -> Seq("a"), "525" -> Seq("a"), "530" -> Seq("a"), "533" -> Seq("a"),
      "534" -> Seq("a"), "535" -> Seq("a"), "536" -> Seq("a"), "538" -> Seq("a"),
      "540" -> Seq("a"), "541" -> Seq("a"), "544" -> Seq("a"), "545" -> Seq("a"),
      "546" -> Seq("a"), "547" -> Seq("a"), "550" -> Seq("a"), "556" -> Seq("a"),
      "561" -> Seq("a"), "580" -> Seq("a"), "591" -> Seq("a"), "592" -> Seq("a"),
      "593" -> Seq("a"), "513" -> Seq("ab"), "555" -> Seq("ad"), "505" -> Seq("argt")),
    "author" -> Seq(
      "111" -> Seq("acdgtxyz"), "711" -> Seq("acdgtxyz"),
      "110" -> Seq("abcdgtxyz"), "710" -> Seq("abcdgtxyz"),
      "100" -> Seq("abcdgqtxyz"), "700" -> Seq("abcdgqtxyz"),
      "130" -> Seq("adfgklnp"), "730" -> Seq("adfgklnp")),
    "related_docs" -> Seq("993" -> Seq("a")),
    "prodinf" -> Seq("930" -> Seq("a")),
    "bib_creator" -> Seq("999" -> Seq("abc")),
    "type" -> Seq("089" -> Seq("b")),
    "date" -> Seq("269" -> Seq("a"), "992" -> Seq("a")),
    "agenda" -> Seq("991" -> Seq("abcd")),
    "series" -> Seq("440" -> Seq("a"), "490" -> Seq("a"), "830" -> Seq("a")),
    "speaker" -> Seq("700" -> Seq("a")),
    "country_org" -> Seq("710" -> Seq("a"), "711" -> Seq("a")),
    "call_number" -> Seq("099" -> Seq("c")))

  /** (dlx/config.py:263-337) */
  val authLogicalFields: Seq[(String, Seq[(String, Seq[String])])] = Seq(
    "heading" -> Seq(
      "100" -> Seq("abcdq"), "110" -> Seq("abcdfgkn"), "111" -> Seq("acdegknq"),
      "150" -> Seq("a"), "130" -> Seq("adfgklnp"), "190" -> Seq("bc"), "191" -> Seq("abcd")),
    "subject" -> Seq(
      "100" -> Seq("abcdq"), "400" -> Seq("a"), "500" -> Seq("a"),
      "110" -> Seq("abcdfgkn"), "410" -> Seq("a"), "510" -> Seq("a"),
      "111" -> Seq("acdegknq"), "411" -> Seq("a"), "511" -> Seq("a"),
      "130" -> Seq("adfgklnp"), "430" -> Seq("a"), "530" -> Seq("a"),
      "150" -> Seq("a"), "191" -> Seq("abcd"), "190" -> Seq("bc"),
      "491" -> Seq("d"), "591" -> Seq("abcd")),
    "agenda" -> Seq("191" -> Seq("abcd"), "491" -> Seq("d"), "591" -> Seq("abcd")),
    "agenda_title" -> Seq("191" -> Seq("c"), "591" -> Seq("c")),
    "agenda_subject" -> Seq("191" -> Seq("d"), "491" -> Seq("d"), "591" -> Seq("d")),
    "series" -> Seq("130" -> Seq("adfgklnp"), "430" -> Seq("a"), "530" -> Seq("a")),
    "author" -> Seq(
      "100" -> Seq("abcdgq"), "400" -> Seq("a"), "500" -> Seq("a"),
      "110" -> Seq("abcdfgkn"), "410" -> Seq("a"), "510" -> Seq("a"),
      "111" -> Seq("acdegknq"), "411" -> Seq("a"), "511" -> Seq("a"),
      "130" -> Seq("adfgklnp"), "430" -> Seq("a"), "530" -> Seq("a")),
    "thesaurus" -> Seq("150" -> Seq("a"), "450" -> Seq("a"), "550" -> Seq("a")),
    "body" -> Seq("190" -> Seq("bc")))

  def authorityControlled(recordType: String): Map[String, Map[String, String]] =
    if (recordType == "bib") bibAuthorityControlled else authAuthorityControlled

  def isAuthorityControlled(recordType: String, tag: String, code: String): Boolean =
    authorityControlled(recordType).get(tag).exists(_.contains(code))

  def authoritySourceTag(recordType: String, tag: String, code: String): Option[String] =
    authorityControlled(recordType).get(tag).flatMap(_.get(code))

  def languageSourceTag(tag: String, language: String): Option[String] =
    authLanguageTag.get(tag).flatMap(_.get(language))

  def logicalFields(recordType: String): Seq[(String, Seq[(String, Seq[String])])] =
    if (recordType == "bib") bibLogicalFields else authLogicalFields
}
