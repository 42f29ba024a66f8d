package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.records.{Serialization => S, TableSerialization => T}
import Fixtures._

/** Golden-output serialization parity with the reference
  * (tests/test_marc.py:800-874, tests/test_marcset.py:256-311). */
class SerializationSpec extends AnyFunSuite {

  val mrkGolden: String =
    "=000  leader\n=001  1\n=008  controlfield\n=245  \\\\$aThis$bis the$ctitle\n" +
      "=520  \\\\$aDescription\n=520  \\\\$aAnother description$aRepeated subfield\n" +
      "=650  \\\\$aHeader$01\n=710  \\\\$aAnother header$02\n"

  test("to_mrk golden") {
    assert(S.toMrk(bib1) == mrkGolden)
  }

  test("to_mrk without id") {
    val expected = mrkGolden.split("\n").filterNot(_.startsWith("=001")).mkString("\n") + "\n"
    assert(S.toMrk(bib1, writeId = false) == expected)
  }

  test("to_mrk adds **** leader when no 000") {
    val bib = MarcRecord(recordType = "bib").set("245", "a", "title")
    assert(S.toMrk(bib) == "=000  ****\n=245  \\\\$atitle\n")
  }

  test("from_mrk roundtrip with auth control") {
    val bib = S.fromMrk("bib", mrkGolden)
    assert(bib.id.contains(1L))
    assert(bib.getXref("650", "a").contains(1L))
    assert(bib.getXref("710", "a").contains(2L))
    assert(S.toMrk(bib) == mrkGolden)
  }

  test("from_mrk rejects invalid tag order") {
    intercept[IllegalArgumentException] {
      S.fromMrk("bib", "=001  99999\n=000  leader")
    }
  }

  test("from_mrk resolves auth values without $0") {
    val bib = S.fromMrk("bib", "=650  \\\\$aHeader\n")
    assert(bib.getXref("650", "a").contains(1L))
  }

  test("a $0 xref overrides the literal value (tests/test_marcset.py:199-204,246)") {
    val bib = S.fromMrk("bib", "=650  \\\\$aWill be replaced because of xref$01\n")
    assert(bib.getValue("650", "a") == "Header")
    val rec = S.fromXml("bib",
      """<record><datafield tag="650" ind1=" " ind2=" "><subfield code="a">head</subfield><subfield code="0">1</subfield></datafield></record>""")
    assert(rec.getValue("650", "a") == "Header")
  }

  test("multiple $0: MRK takes the first digit-prefixed one, XML the last node") {
    // re.search(r'\$0(\d+)') over the body: skips $0(pfx)9, lands on $02abc
    val bib = S.fromMrk("bib", "=650  \\\\$aWill be replaced because of xref$0(pfx)9$02abc$01\n")
    assert(bib.getXref("650", "a").contains(2L))
    // from_xml_raw overwrites the capture per $0 node: last wins
    val rec = S.fromXml("bib",
      """<record><datafield tag="650" ind1=" " ind2=" "><subfield code="a">head</subfield><subfield code="0">2</subfield><subfield code="0">(DHL)1</subfield></datafield></record>""")
    assert(rec.getXref("650", "a").contains(1L))
  }

  test("MRK and MARCXML apply the same parse-time auth control") {
    def auth(id: Long, subs: (String, String)*) = MarcRecord(recordType = "auth", id = Some(id),
      fields = Vector(DataField("150", " ", " ",
        subs.toVector.map { case (c, v) => Subfield(c, Some(v)) })))
    val lk = new graft.auth.AuthIndex(Seq(
      auth(1L, "a" -> "Unique"),
      // two candidates; only auth 3's heading is exactly [a Shared]
      auth(3L, "a" -> "Shared"), auth(4L, "a" -> "Shared", "x" -> "Extra"),
      // exact duplicates: nothing disambiguates
      auth(5L, "a" -> "Twin"), auth(6L, "a" -> "Twin")))
    val parsers: Seq[(String, String => MarcRecord)] = Seq(
      "mrk" -> (v => S.fromMrk("bib", s"=650  \\\\$$a$v\n")(lk)),
      "xml" -> (v => S.fromXml("bib",
        s"""<record><datafield tag="650" ind1=" " ind2=" "><subfield code="a">$v</subfield></datafield></record>""")(lk)))
    for ((fmt, parse) <- parsers) {
      assert(parse("Unique").getXref("650", "a").contains(1L), fmt)
      assert(parse("Shared").getXref("650", "a").contains(3L), fmt)
      intercept[graft.records.InvalidAuthValue](parse("Nope"))
      intercept[graft.records.AmbiguousAuthValue](parse("Twin"))
    }
  }

  test("set from_mrk splits on blank lines (tests/marc.mrk shape)") {
    val mrk =
      "=000  leader\n=008  controlfield\n=245  \\\\$aThis$bis the$ctitle\n=520  \\\\$aDescription\n" +
        "=520  \\\\$aAnother description$aRepeated subfield\n=650  \\\\$aHeader\n=710  \\\\$aAnother header\n" +
        "\n=000  leader\n=245  \\\\$aAnother$bis the$ctitle\n=650  \\\\$aHeader\n"
    val recs = S.setFromMrk("bib", mrk)
    assert(recs.length == 2)
    assert(recs(0).getXref("650", "a").contains(1L))
    assert(recs(1).getValue("245", "a") == "Another")
  }

  val xmlGolden: String =
    """<record><controlfield tag="000">leader</controlfield><controlfield tag="001">1</controlfield><controlfield tag="008">controlfield</controlfield><datafield tag="245" ind1=" " ind2=" "><subfield code="a">This</subfield><subfield code="b">is the</subfield><subfield code="c">title</subfield></datafield><datafield tag="520" ind1=" " ind2=" "><subfield code="a">Description</subfield></datafield><datafield tag="520" ind1=" " ind2=" "><subfield code="a">Another description</subfield><subfield code="a">Repeated subfield</subfield></datafield><datafield tag="650" ind1=" " ind2=" "><subfield code="a">Header</subfield><subfield code="0">1</subfield></datafield><datafield tag="710" ind1=" " ind2=" "><subfield code="a">Another header</subfield><subfield code="0">2</subfield></datafield></record>"""

  test("to_xml golden") {
    assert(S.toXml(bib1) == xmlGolden)
  }

  test("to_xml non-ascii text passthrough") {
    val bib = MarcRecord(recordType = "bib").set("245", "a", "Title with an é")
    assert(S.toXml(bib, writeId = false) ==
      """<record><datafield tag="245" ind1=" " ind2=" "><subfield code="a">Title with an é</subfield></datafield></record>""")
  }

  test("from_xml roundtrip with xref capture") {
    val rec = S.fromXml("bib", xmlGolden)
    assert(rec.id.contains(1L))
    assert(rec.getXref("650", "a").contains(1L))
    assert(S.toXml(rec) == xmlGolden)
  }

  test("set to_xml wraps in collection") {
    val xml = S.setToXml(Seq(bib1, bib2))
    assert(xml.startsWith("<collection><record>"))
    assert(xml.endsWith("</record></collection>"))
    val recs = S.setFromXml("bib", xml, authControl = true)
    assert(recs.length == 2)
    assert(recs(1).getValue("650", "a") == "Header")
  }

  val mrcGolden: String =
    "00238r|||a2200109|||4500001000200000008001300002245002400015520001600039520004300055650001100098710001900109" +
      "1controlfield  aThisbis thectitle  aDescription" +
      "  aAnother descriptionaRepeated subfield  aHeader  aAnother header"

  test("to_mrc golden (byte-exact leader/directory math)") {
    assert(S.toMrc(bib1) == mrcGolden)
  }

  test("to_mrc auth golden") {
    val control = "00049||||a2200037|||4500150001100000  aHeader"
    assert(S.toMrc(auth1, writeId = false) == control)
  }

  test("set to_mrc golden") {
    val control = mrcGolden +
      "00102r|||a2200061|||4500001000200000245002700002650001100029" +
      "2  aAnotherbis thectitle  aHeader"
    assert(S.setToMrc(Seq(bib1, bib2)) == control)
  }

  test("from_mrc parses MARC21 binary (complete, unlike the reference)") {
    val mrc = S.toMrc(bib1)
    val back = S.fromMrc("bib", mrc)
    assert(back.id.contains(1L))
    assert(back.getValue("245", "a") == "This")
    assert(back.getValues("520", "a") ==
      Vector("Description", "Another description", "Repeated subfield"))
    assert(back.getValue("650", "a") == "Header") // value was materialized in mrc
    val f = back.getDataField("245").get
    assert(f.ind1 == " " && f.ind2 == " ")
  }

  test("from_mrc handles multi-byte content (byte-accurate offsets)") {
    val bib = MarcRecord(recordType = "bib", id = Some(5L))
      .set("245", "a", "Titre é à ü")
      .set("500", "a", "plain")
    val back = S.fromMrc("bib", S.toMrc(bib))
    assert(back.getValue("245", "a") == "Titre é à ü")
    assert(back.getValue("500", "a") == "plain")
  }

  test("set from_mrc splits records on the record terminator") {
    val recs = S.setFromMrc("bib", S.setToMrc(Seq(bib1, bib2)))
    assert(recs.length == 2)
    assert(recs(1).getValue("245", "a") == "Another")
  }

  test("to_str golden") {
    val control = "000\n   leader\n008\n   controlfield\n245\n   a: This\n   b: is the\n   c: title\n" +
      "520\n   a: Description\n520\n   a: Another description\n   a: Repeated subfield\n" +
      "650\n   a: Header\n710\n   a: Another header\n"
    assert(S.toStr(bib1) == control)
  }

  test("to_csv golden (header sort, || join, sparse cells)") {
    val control = "1.001,1.245__,1.245$a,1.245$b,1.245$c,1.520__,1.520$a,2.520__,2.520$a,1.650$0,1.650__,1.650$a,1.710$0,1.710__,1.710$a\n" +
      "1,__,This,is the,title,__,Description,__,Another description||Repeated subfield,1,__,Header,2,__,Another header\n" +
      "2,__,Another,is the,title,,,,,1,__,Header,,,"
    assert(T.toCsv(Seq(bib1, bib2)) == control)
  }

  test("to_csv comma and quote handling") {
    val b1 = MarcRecord(recordType = "bib")
      .set("245", "a", "A title, with a comma").set("245", "b", "subtitle")
    val b2 = MarcRecord(recordType = "bib")
      .set("245", "a", "A \"title, or name\" with double quotes in the middle").set("245", "b", "subtitle")
    assert(T.toCsv(Seq(b1, b2), writeId = false) ==
      "1.245__,1.245$a,1.245$b\n__,\"A title, with a comma\",subtitle\n__,\"A \"\"title, or name\"\" with double quotes in the middle\",subtitle")
  }

  test("to_csv with 10+ field instances sorts places numerically") {
    val bib = (0 to 10).foldLeft(MarcRecord(recordType = "bib")) { (r, i) =>
      r.set("999", "a", i.toString, fieldPlace = Right("+"))
    }
    assert(T.toCsv(Seq(bib), writeId = false) ==
      "1.999__,1.999$a,2.999__,2.999$a,3.999__,3.999$a,4.999__,4.999$a,5.999__,5.999$a,6.999__,6.999$a,7.999__,7.999$a,8.999__,8.999$a,9.999__,9.999$a,10.999__,10.999$a,11.999__,11.999$a\n" +
      "__,0,__,1,__,2,__,3,__,4,__,5,__,6,__,7,__,8,__,9,__,10")
  }

  test("from_csv with auth control") {
    val bib = T.fromCsv("1.245$a,1.269$a,1.650$a\nTitle,Date,Header", "bib").head
    assert(bib.getValue("245", "a") == "Title")
    assert(bib.getXref("650", "a").contains(1L))
    intercept[Exception] {
      T.fromCsv("1.245$a,1.269$a,1.650$a\nTitle,Date,Invalid auth value", "bib")
    }
    intercept[Exception] {
      T.fromCsv("Invalid header,1.269$a,1.650$a\nTitle,Date,Header", "bib")
    }
  }

  test("from_excel reads a generated xlsx through the table path") {
    // build a minimal real xlsx (zip of XML parts): header row uses
    // shared strings, data row mixes shared, inline and numeric cells
    // (the numeric id must render as an int, xlrd ctype-2 semantics)
    val sharedStrings = Seq("1.001", "1.245$a", "1.269$a", "1.650$a", "Title ", "Header")
    val sst =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedStrings.length}" uniqueCount="${sharedStrings.length}">""" +
        sharedStrings.map(s2 => s"<si><t xml:space=\"preserve\">$s2</t></si>").mkString + "</sst>"
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>""" +
        """<row r="2"><c r="A2"><v>12</v></c><c r="B2" t="s"><v>4</v></c>""" +
        """<c r="C2" t="inlineStr"><is><t>Date</t></is></c><c r="D2" t="s"><v>5</v></c></row>""" +
        """</sheetData></worksheet>"""
    val path = java.nio.file.Files.createTempFile("graft", ".xlsx").toString
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    for ((name, content) <- Seq("xl/sharedStrings.xml" -> sst, "xl/worksheets/sheet1.xml" -> sheet)) {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    val recs = graft.records.ExcelSerialization.fromExcel(path, "bib")
    assert(recs.length == 1)
    val bib = recs.head
    assert(bib.id.contains(12L)) // numeric cell -> int, into 001
    assert(bib.getValue("245", "a") == "Title") // shared string, rstripped
    assert(bib.getValue("269", "a") == "Date") // inline string
    assert(bib.getXref("650", "a").contains(1L)) // auth-controlled lookup
  }

  test("toXlsx round-trips through the bytes reader and from_excel") {
    val E = graft.records.ExcelSerialization
    val rows = Seq(
      Seq("1.001", "1.245$a", "1.269$a"),
      Seq("7", "Héllo & <everyone>", "1999-12-31"),
      Seq("8", "Trailing  ", "2000-01-01"))
    val back = E.readXlsxRows(E.toXlsx(rows))
    assert(back == Seq(
      Seq("1.001", "1.245$a", "1.269$a"),
      Seq("7", "Héllo & <everyone>", "1999-12-31"),
      Seq("8", "Trailing", "2000-01-01"))) // rstrip parity with xlrd
    val recs = E.fromExcelBytes(E.toXlsx(rows), "bib", authControl = false)(
      graft.model.AuthLookup.Empty)
    assert(recs.map(_.id.get).sorted == Seq(7L, 8L))
    assert(recs.find(_.id.contains(7L)).get.getValue("245", "a") == "Héllo & <everyone>")
  }

  test("table construction guards (tests/test_marcset.py:134-149)") {
    // trailing blank headers are trimmed; trailing empty cells allowed
    val t = T.tableFromRows(Seq(
      Seq("1.245$a", "1.245$b", "", ""),
      Seq("title", "subtitle", "", "")))
    assert(t.header == Vector("1.245$a", "1.245$b"))
    // non-empty data beyond the last header raises
    intercept[Exception] {
      T.tableFromRows(Seq("100$a|100$b|||".split("\\|", -1).toSeq,
        "cell1|cell2||extra|".split("\\|", -1).toSeq))
    }
    // interior/leading blank header raises
    intercept[Exception] {
      T.tableFromRows(Seq("|100$b|||".split("\\|", -1).toSeq,
        "cell1|cell2||extra|".split("\\|", -1).toSeq))
    }
  }

  test("from_table resolves ambiguous values via the full field (tests/test_marcset.py:152-172)") {
    val amb1 = MarcRecord(recordType = "auth", id = Some(11L), fields = Vector(
      DataField("100", " ", " ", Vector(
        Subfield("a", Some("ambiguous")), Subfield("g", Some("unique 1"))))))
    val amb2 = MarcRecord(recordType = "auth", id = Some(12L), fields = Vector(
      DataField("100", " ", " ", Vector(
        Subfield("a", Some("ambiguous")), Subfield("g", Some("unique 2"))))))
    val lk = new graft.auth.AuthIndex(Seq(amb1, amb2))
    // $a alone: two candidate headings -> error
    intercept[Exception] {
      T.fromTable(T.tableFromRows(Seq(Seq("1.700$a"), Seq("ambiguous"))), "bib")(lk)
    }
    // $a + $g matches exactly one heading -> linked
    val bibs = T.fromTable(T.tableFromRows(Seq(
      Seq("1.700$a", "1.700$g"), Seq("ambiguous", "unique 1"))), "bib")(lk)
    assert(bibs.head.getXref("700", "a").contains(11L))
    assert(bibs.head.getXref("700", "g").contains(11L))
    // an unresolvable xref in $0 raises (tests/test_marcset.py:141-147)
    intercept[Exception] {
      T.fromTable(T.tableFromRows(Seq(
        Seq("1.650$a", "1.650$0"), Seq("x", "3"))), "bib")(lk)
    }
  }

  test("from_table field_check flags values already in the system") {
    intercept[Exception] {
      T.fromTable(T.tableFromRows(Seq(Seq("1.245$a"), Seq("This"))), "bib",
        fieldCheck = Some("245a"),
        valueExists = (tag, code, v) => tag == "245" && code == "a" && v == "This")
    }
    // same table passes when nothing matches
    assert(T.fromTable(T.tableFromRows(Seq(Seq("1.245$a"), Seq("This"))), "bib",
      fieldCheck = Some("245a")).nonEmpty)
  }

  test("from_csv without auth control keeps literals") {
    val bib = T.fromCsv("1.245$a,1.269$a,1.650$a\nTitle,Date,Not validated", "bib",
      authControl = false).head
    assert(bib.getValue("650", "a") == "Not validated")
  }

  test("table roundtrip bib1+bib2") {
    val table = T.toTable(Seq(bib1, bib2))
    val back = T.fromTable(table, "bib")
    assert(back.length == 2)
    assert(back(0).getValue("245", "a") == "This")
    assert(back(0).getXref("650", "a").contains(1L))
    assert(back(1).id.contains(2L))
  }

  test("table to_html golden (dlx/util.py:135-149: header row first, no escaping)") {
    val table = new T.Table
    table.set(1, "1.245$a", "title").set(1, "1.269$a", "date")
    assert(table.toHtml ==
      "<table><tr><td>1.245$a</td><td>1.269$a</td></tr>" +
        "<tr><td>title</td><td>date</td></tr></table>")
  }

  test("indicator columns set ind1/ind2 (tests/test_marcset.py:180-188)") {
    val table = new T.Table
    table.set(1, "1.245$a", "title").set(1, "1.245__", "98")
      .set(1, "1.269__", "34").set(1, "1.269$a", "date")
    val rec = T.fromTable(table, "bib").head
    val f245 = rec.getDataField("245").get
    assert(f245.ind1 == "9" && f245.ind2 == "8")
    val f269 = rec.getDataField("269").get
    assert(f269.ind1 == "3" && f269.ind2 == "4")
  }

  test("to_json JMARC golden shape") {
    val json = S.toJson(bib1)
    assert(json.startsWith("""{"_id":1,"000":["leader"],"008":["controlfield"]"""))
    assert(json.contains(""""650":[{"indicators":[" "," "],"subfields":[{"code":"a","value":"Header","xref":1}]}]"""))
    val back = S.fromJson("bib", json)
    assert(back.getValue("245", "a") == "This")
    assert(back.getXref("650", "a").contains(1L))
  }

  test("jmarc parse accepts [A-Z]{3} tags as datafields, skips non-tag keys") {
    // reference parse() rule (dlx/marc/__init__.py:630): keys matching
    // \d{3}|[A-Z]{3} become fields; anything else is ignored
    val json = """{"_id": 7, "000": ["leader"],
      "EML": [{"indicators": [" ", " "], "subfields": [{"code": "a", "value": "x@un.org"}]}],
      "not_a_tag": ["ignored"], "updated": {"$date": "2020-01-01"}}"""
    val rec = S.fromJson("bib", json)
    assert(rec.getValue("EML", "a") == "x@un.org")
    assert(rec.getTags == Vector("000", "EML"))
    // model mutators treat alpha tags as ordinary datafields
    val set = rec.set("EML", "a", "y@un.org")
    assert(set.getValue("EML", "a") == "y@un.org")
  }

  test("to_jmarcnx materializes linked values") {
    val nx = S.toJmarcNx(bib1)
    assert(nx.contains(""""650":[{"indicators":[" "," "],"subfields":[{"code":"a","value":"Header"}]}]"""))
    assert(!nx.contains("xref"))
  }

  test("to_mij shape") {
    val mij = S.toMij(bib1)
    assert(mij.startsWith("""{"leader":"leader","fields":[{"000":"leader"}"""))
    assert(mij.contains(""""245":{"ind1":" ","ind2":" ","subfields":[{"a":"This"}"""))
  }

  test("from_mij roundtrip (complete, unlike the reference stub)") {
    val back = S.fromMij("bib", S.toMij(bib1))
    assert(back.getValue("000") == "leader")
    assert(back.getValue("245", "a") == "This")
    assert(back.getValues("520", "a") ==
      Vector("Description", "Another description", "Repeated subfield"))
    assert(back.getValue("650", "a") == "Header") // materialized value
    assert(back.getValue("008") == "controlfield")
  }

  test("jmarc parse drops empty datafields and keeps repeated tags") {
    val json = """{"_id": 9, "000": ["leader"], "520": [
      {"indicators": [" ", " "], "subfields": [{"code": "a", "value": "one"}]},
      {"indicators": [" ", " "], "subfields": [{"code": "a"}]}
    ]}"""
    val rec = S.fromJson("bib", json)
    assert(rec.getFields("520").length == 1)
  }
}
