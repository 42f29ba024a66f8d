package graft.records

import graft.model._
import graft.config.DlxConfig

/** (De)serializations for MARC records: MRK (MARCMaker), MARC21
  * binary (MRC), MARCXML, JMARC JSON, MIJ, human-readable, and the
  * tabular/CSV form. Pure functions of the record value — used
  * row-wise inside Dataset.map at scale.
  *
  * Golden-string parity targets are the reference's serializer tests
  * (SURVEY §5): to_mrc dlx/marc/__init__.py:1487-1527, to_mrk
  * 1529-1538, to_xml 1560-1608, to_dict/to_json 1450-1478, to_mij
  * 1480-1485, table/CSV 393-431 + dlx/util.py:152-183.
  */
object Serialization {

  private val FieldTerm = ""
  private val RecordTerm = ""
  private val SubfieldDelim = ""

  // ---------------------------------------------------------------- MRK

  /** Indicators render ' '/'_' as '\'; the first xref in a field is
    * emitted as an extra $0 unless one exists. */
  def fieldToMrk(recordType: String, f: Field)(implicit auth: AuthLookup): String = f match {
    case ControlField(tag, value) => s"=$tag  $value"
    case d: DataField =>
      val inds = (d.ind1 + d.ind2).replace(" ", "\\").replace("_", "\\")
      val withZero = d.subfields.find(_.xref.isDefined) match {
        case Some(s) if d.getSubfield("0").isEmpty =>
          d.subfields :+ Subfield("0", Some(s.xref.get.toString))
        case _ => d.subfields
      }
      val subs = withZero.map(s => s"$$${s.code}${s.resolvedValue(auth).getOrElse("")}").mkString
      s"=${d.tag}  $inds$subs"
  }

  def toMrk(rec: MarcRecord, writeId: Boolean = true)(implicit auth: AuthLookup): String = {
    var r = rec
    if (writeId && rec.id.isDefined) r = r.set("001", null, rec.id.get.toString)
    if (r.getValue("000")(AuthLookup.Empty).isEmpty) r = r.set("000", null, "****")
    r.getFields().map(fieldToMrk(r.recordType, _)).mkString("\n") + "\n"
  }

  def setToMrk(recs: Seq[MarcRecord], writeId: Boolean = true)(implicit auth: AuthLookup): String =
    recs.map(toMrk(_, writeId)).mkString("\n")

  private val mrkLine = """=(\w{3})  (.*)""".r

  /** Parse one MARCMaker record (reference from_mrk,
    * dlx/marc/__init__.py:1651-1708): `=TAG  ...`, `\` indicators,
    * `$x` subfields, `$0` captured as xref for auth-controlled codes,
    * tag order must be non-decreasing. */
  def fromMrk(recordType: String, string: String, authControl: Boolean = true,
      deleteSubfieldZero: Boolean = true)(implicit auth: AuthLookup): MarcRecord = {
    var rec = MarcRecord(recordType = recordType)
    var lastTag = 0
    for (line <- string.split("\n").filter(_.nonEmpty)) {
      val m = mrkLine.findFirstMatchIn(line).getOrElse(
        throw new IllegalArgumentException(s"Invalid mrk line: $line"))
      var tag = m.group(1)
      val rest = m.group(2)
      if (tag == "LDR") tag = "000"
      val tagNum = tag.toIntOption.getOrElse(0)
      if (tagNum < lastTag)
        throw new IllegalArgumentException("Tag order does not look valid")
      lastTag = tagNum

      if (tag.startsWith("00")) {
        rec = rec.copy(fields = rec.fields :+ ControlField(tag, rest))
        if (tag == "001") rec = rec.copy(id = Some(rest.trim.toLong))
      } else {
        val ind1 = rest.charAt(0).toString.replace("\\", " ")
        val ind2 = rest.charAt(1).toString.replace("\\", " ")
        val body = rest.substring(2)
        val chunks = body.split("\\$").filter(_.nonEmpty)
        // ZeroXref.mrk == the reference's re.search(r'\$0(\d+)') over
        // the body: first digit-prefixed $0 wins (see ZeroXref)
        val xref: Option[Long] = ZeroXref.mrk(
          chunks.toSeq.collect { case c if c.startsWith("0") => c.substring(1) })
        val subs = controlSubfields(recordType, tag, xref,
          chunks.toSeq.map(c => (c.substring(0, 1), c.substring(1))), authControl, deleteSubfieldZero)
        rec = rec.copy(fields = rec.fields :+ DataField(tag, ind1, ind2, subs))
      }
    }
    rec
  }

  /** A parsed datafield's subfields under parse-time auth control,
    * shared by MRK and MARCXML (reference from_mrk, dlx/marc/__init__.py:
    * 1676-1700, and from_xml_raw, 1723-1785): a controlled code links
    * to the field's captured `$0` xref, else to the single auth its
    * value looks up; values with several matches are linked together
    * by the exact-heading rule after the loop, or raise. `$0` itself is
    * dropped when `deleteSubfieldZero`. */
  private def controlSubfields(recordType: String, tag: String, xref: Option[Long],
      pairs: Seq[(String, String)], authControl: Boolean, deleteSubfieldZero: Boolean)
      (implicit auth: AuthLookup): Vector[Subfield] = {
    var subs = Vector.empty[Subfield]
    var ambiguous = Vector.empty[(String, String)]
    for ((code, value) <- pairs) {
      if (authControl && DlxConfig.isAuthorityControlled(recordType, tag, code)) {
        xref match {
          case Some(x) => subs :+= Subfield(code, None, Some(x))
          case None =>
            val xrefs = auth.xlookup(
              DlxConfig.authoritySourceTag(recordType, tag, code).getOrElse(tag), code, value)
            xrefs match {
              case Seq(x) => subs :+= Subfield(code, None, Some(x))
              case Seq() => throw new InvalidAuthValue(recordType, tag, code, value)
              case _ => ambiguous :+= (code -> value)
            }
        }
      } else subs :+= Subfield(code, Some(value))
    }
    // multi-subfield disambiguation before giving up (reference
    // from_mrk, dlx/marc/__init__.py:1695-1700)
    if (ambiguous.nonEmpty) {
      auth.resolveAmbiguous(recordType, tag, ambiguous) match {
        case Some(x) => ambiguous.foreach { case (c, _) => subs :+= Subfield(c, None, Some(x)) }
        case None =>
          val (c, v) = ambiguous.head
          throw new AmbiguousAuthValue(recordType, tag, c, v)
      }
    }
    if (deleteSubfieldZero) subs.filterNot(_.code == "0") else subs
  }

  /** Records split on blank lines (MarcSet.from_mrk,
    * dlx/marc/__init__.py:309-320). */
  def setFromMrk(recordType: String, string: String, authControl: Boolean = true,
      deleteSubfieldZero: Boolean = true)
      (implicit auth: AuthLookup): Seq[MarcRecord] =
    string.split("\n\n").toSeq
      .map(fromMrk(recordType, _, authControl, deleteSubfieldZero))
      .filter(_.fields.nonEmpty)

  // ---------------------------------------------------------------- MRC

  /** MARC21 binary: 24-byte leader, directory of (tag, 4-digit byte
    * length, 5-digit byte offset), field data. Lengths/offsets are
    * UTF-8 byte counts (reference to_mrc, dlx/marc/__init__.py:
    * 1487-1527). */
  def toMrc(rec: MarcRecord, writeId: Boolean = true)(implicit auth: AuthLookup): String = {
    var record = rec
    if (writeId && rec.id.isDefined) record = record.set("001", null, rec.id.get.toString)
    var directory = ""
    var data = ""
    var nextStart = 0
    for (f <- record.getFields().filter(_.tag != "000")) {
      val text = f match {
        case ControlField(_, v) => v + FieldTerm
        case d: DataField =>
          d.ind1 + d.ind2 + d.subfields.map(s =>
            SubfieldDelim + s.code + s.resolvedValue(auth).getOrElse("")).mkString + FieldTerm
      }
      data += text
      val len = text.getBytes("UTF-8").length
      directory += f.tag + len.toString.reverse.padTo(4, '0').reverse.mkString +
        nextStart.toString.reverse.padTo(5, '0').reverse.mkString
      nextStart += len
    }
    directory += FieldTerm
    data += RecordTerm
    val leaderDirLen = directory.getBytes("UTF-8").length + 24
    val baseAddress = leaderDirLen.toString.reverse.padTo(5, '0').reverse.mkString
    val totalLen = (leaderDirLen + data.getBytes("UTF-8").length)
      .toString.reverse.padTo(5, '0').reverse.mkString
    val rawLeader = record.getValue("000")(AuthLookup.Empty)
    val leader =
      if (rawLeader.isEmpty) "|" * 24
      else if (rawLeader.length < 24) rawLeader.padTo(24, '|').mkString
      else rawLeader
    totalLen + leader.substring(5, 9) + "a" + "22" + baseAddress +
      leader.substring(17, 20) + "4500" + directory + data
  }

  def setToMrc(recs: Seq[MarcRecord], writeId: Boolean = true)(implicit auth: AuthLookup): String =
    recs.map(toMrc(_, writeId)).mkString

  /** Parse MARC21 binary. The reference's from_mrc is unfinished
    * (raises, dlx/marc/__init__.py:1633-1649); this is a complete
    * implementation: byte-accurate directory walk (offsets/lengths are
    * UTF-8 byte counts), subfield split on 0x1F, 001 -> id. */
  def fromMrc(recordType: String, mrc: String): MarcRecord = {
    val bytes = mrc.getBytes("UTF-8")
    def str(from: Int, until: Int) = new String(bytes.slice(from, until), "UTF-8")
    val leader = str(0, 24)
    val base = str(12, 17).toInt
    var rec = MarcRecord(recordType = recordType)
    if (!leader.startsWith("|") && leader.nonEmpty)
      rec = rec.copy(fields = rec.fields :+ ControlField("000", leader))
    var dirPos = 24
    while (dirPos + 12 <= base - 1 && bytes(dirPos) != 0x1e) {
      val tag = str(dirPos, dirPos + 3)
      val len = str(dirPos + 3, dirPos + 7).toInt
      val start = str(dirPos + 7, dirPos + 12).toInt
      val fieldBytes = bytes.slice(base + start, base + start + len)
      // strip the trailing field terminator
      val body = new String(fieldBytes.takeWhile(_ != 0x1e), "UTF-8")
      if (tag.startsWith("00")) {
        rec = rec.copy(fields = rec.fields :+ ControlField(tag, body))
        if (tag == "001") rec = rec.copy(id = body.trim.toLongOption)
      } else {
        val ind1 = body.substring(0, 1)
        val ind2 = body.substring(1, 2)
        val subs = body.substring(2).split('').filter(_.nonEmpty).map { chunk =>
          Subfield(chunk.substring(0, 1), Some(chunk.substring(1)))
        }.toVector
        rec = rec.copy(fields = rec.fields :+ DataField(tag, ind1, ind2, subs))
      }
      dirPos += 12
    }
    rec
  }

  /** Split a concatenated .mrc stream on the record terminator. */
  def setFromMrc(recordType: String, mrc: String): Seq[MarcRecord] =
    mrc.split('').toSeq.filter(_.nonEmpty).map(fromMrc(recordType, _))

  // ---------------------------------------------------------------- XML

  private def escText(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def escAttr(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** MARCXML, matching ElementTree.tostring output shape: no XML
    * declaration, no whitespace between elements; subfield $0 emitted
    * with the last xref found (reference to_xml_raw,
    * dlx/marc/__init__.py:1560-1601). */
  def toXml(rec: MarcRecord, xrefPrefix: String = "", writeId: Boolean = true)
      (implicit auth: AuthLookup): String = {
    var record = rec
    if (writeId && rec.id.isDefined) record = record.set("001", null, rec.id.get.toString)
    val sb = new StringBuilder("<record>")
    for (f <- record.getFields()) f match {
      case ControlField(tag, v) =>
        sb.append(s"""<controlfield tag="${escAttr(tag)}">${escText(v)}</controlfield>""")
      case d: DataField =>
        sb.append(s"""<datafield tag="${escAttr(d.tag)}" ind1="${escAttr(d.ind1)}" ind2="${escAttr(d.ind2)}">""")
        var xref: Option[Long] = None
        for (s <- d.subfields) {
          val v = s.resolvedValue(auth)
          if (v.exists(_.nonEmpty)) {
            if (s.xref.isDefined) xref = s.xref
            sb.append(s"""<subfield code="${escAttr(s.code)}">${escText(v.get)}</subfield>""")
          }
        }
        xref.foreach { x =>
          sb.append(s"""<subfield code="0">${escText(xrefPrefix + x.toString)}</subfield>""")
        }
        sb.append("</datafield>")
    }
    sb.append("</record>").result()
  }

  def setToXml(recs: Seq[MarcRecord], xrefPrefix: String = "", writeId: Boolean = true)
      (implicit auth: AuthLookup): String =
    "<collection>" + recs.map(toXml(_, xrefPrefix, writeId)).mkString + "</collection>"

  /** Parse MARCXML (reference from_xml_raw, dlx/marc/__init__.py:
    * 1723-1785): $0 digits become the field xref; auth-controlled
    * codes link by that xref (or value lookup); $0 dropped after. */
  def fromXml(recordType: String, string: String, authControl: Boolean = true,
      deleteSubfieldZero: Boolean = true)(implicit auth: AuthLookup): MarcRecord = {
    val root = scala.xml.XML.loadString(string)
    fromXmlNode(recordType, root, authControl, deleteSubfieldZero)
  }

  def fromXmlNode(recordType: String, root: scala.xml.Node, authControl: Boolean = true,
      deleteSubfieldZero: Boolean = true)(implicit auth: AuthLookup): MarcRecord = {
    var rec = MarcRecord(recordType = recordType)
    for (node <- root.child if node.label.endsWith("controlfield")) {
      val tag = (node \ "@tag").text
      val value = node.text
      if (tag == "001") rec = rec.copy(id = Some(value.trim.toLong))
      rec = rec.copy(fields = rec.fields :+ ControlField(tag, value))
    }
    for (fieldNode <- root.child if fieldNode.label.endsWith("datafield")) {
      val tag = (fieldNode \ "@tag").text
      val subNodes = fieldNode.child.filter(_.label.endsWith("subfield"))
      // ZeroXref.xml == the reference's from_xml_raw loop, which
      // digit-filters every $0 node and overwrites per node: the LAST
      // $0 wins (divergences documented at ZeroXref)
      val xref: Option[Long] = ZeroXref.xml(
        subNodes.filter(n => (n \ "@code").text == "0").map(_.text))
      val subs = controlSubfields(recordType, tag, xref,
        subNodes.map(sn => ((sn \ "@code").text, sn.text)), authControl, deleteSubfieldZero)
      rec = rec.copy(fields = rec.fields :+ DataField(tag,
        (fieldNode \ "@ind1").text, (fieldNode \ "@ind2").text, subs))
    }
    rec
  }

  def setFromXml(recordType: String, string: String, authControl: Boolean = false,
      deleteSubfieldZero: Boolean = true)
      (implicit auth: AuthLookup): Seq[MarcRecord] = {
    val root = scala.xml.XML.loadString(string)
    (root \ "record").map(fromXmlNode(recordType, _, authControl, deleteSubfieldZero))
  }

  // ---------------------------------------------------------------- JSON (JMARC / MIJ)

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** JMARC dict: _id, control tags (sorted), data tags (sorted); each
    * datafield {indicators, subfields:[{code, value[, xref]}]};
    * subfields with empty resolved values dropped, then empty fields
    * dropped (reference to_dict, dlx/marc/__init__.py:1463-1476). */
  def toJmarcAst(rec: MarcRecord)(implicit auth: AuthLookup): JObject = {
    val idField: Seq[(String, JValue)] =
      rec.id.map(i => "_id" -> (JLong(i): JValue)).toSeq
    val ctrl: Seq[(String, JValue)] =
      rec.getTags.filter(_.startsWith("00")).map { tag =>
        tag -> JArray(rec.getFields(tag).collect { case ControlField(_, v) => JString(v) }.toList)
      }
    val data: Seq[(String, JValue)] =
      rec.getTags.filterNot(_.startsWith("00")).flatMap { tag =>
        val fields = rec.getFields(tag).collect { case d: DataField =>
          val subs = d.subfields.flatMap { s =>
            val v = s.resolvedValue(auth)
            if (v.exists(_.nonEmpty)) {
              val base = List("code" -> JString(s.code), "value" -> JString(v.get))
              Some(JObject(s.xref.map(x => base :+ ("xref" -> (JLong(x): JValue)))
                .getOrElse(base)))
            } else None
          }
          if (subs.nonEmpty)
            Some(JObject(
              "indicators" -> JArray(List(JString(d.ind1), JString(d.ind2))),
              "subfields" -> JArray(subs.toList)))
          else None
        }.flatten
        if (fields.nonEmpty) Some(tag -> (JArray(fields.toList): JValue)) else None
      }
    JObject((idField ++ ctrl ++ data).toList)
  }

  def toJson(rec: MarcRecord)(implicit auth: AuthLookup): String =
    JsonMethods.compact(JsonMethods.render(toJmarcAst(rec)))

  /** JMARC with all linked subfields materialized as literals
    * (reference to_jmarcnx, dlx/marc/__init__.py:1610-1626). */
  def toJmarcNx(rec: MarcRecord)(implicit auth: AuthLookup): String = {
    val resolved = rec.copy(fields = rec.fields.map {
      case d: DataField => d.copy(subfields = d.subfields.map(s =>
        if (s.isLinked) Subfield(s.code, s.resolvedValue(auth)) else s))
      case f => f
    })
    toJson(resolved)
  }

  /** MARC-in-JSON: {leader, fields: [{tag: value} | {tag: {ind1,
    * ind2, subfields: [{code: value}]}}]} (reference to_mij,
    * dlx/marc/__init__.py:1480-1485, 2617-2630). */
  def toMij(rec: MarcRecord)(implicit auth: AuthLookup): String = {
    val fields = rec.getFields().map {
      case ControlField(tag, v) => JObject(tag -> JString(v))
      case d: DataField =>
        JObject(d.tag -> JObject(
          "ind1" -> JString(d.ind1),
          "ind2" -> JString(d.ind2),
          "subfields" -> JArray(d.subfields.map(s =>
            JObject(s.code -> JString(s.resolvedValue(auth).getOrElse(null)))).toList)))
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      "leader" -> JString(rec.getValue("000")(AuthLookup.Empty)),
      "fields" -> JArray(fields.toList))))
  }

  /** Parse MARC-in-JSON. The reference's from_mij is an empty stub
    * (dlx/marc/__init__.py:1630-1631); this is the complete inverse of
    * to_mij: {leader, fields: [{tag: value} | {tag: {ind1, ind2,
    * subfields: [{code: value}]}}]}. */
  def fromMij(recordType: String, json: String): MarcRecord = {
    val ast = JsonMethods.parse(json).asInstanceOf[JObject]
    var rec = MarcRecord(recordType = recordType)
    (ast \ "leader") match {
      case JString(l) if l.nonEmpty =>
        rec = rec.copy(fields = rec.fields :+ ControlField("000", l))
      case _ =>
    }
    (ast \ "fields") match {
      case JArray(fields) =>
        fields.foreach {
          case JObject(List((tag, JString(value)))) =>
            if (tag != "000") { // leader already captured
              rec = rec.copy(fields = rec.fields :+ ControlField(tag, value))
              if (tag == "001") rec = rec.copy(id = value.trim.toLongOption)
            }
          case JObject(List((tag, body: JObject))) =>
            val ind1 = (body \ "ind1") match { case JString(s) => s; case _ => " " }
            val ind2 = (body \ "ind2") match { case JString(s) => s; case _ => " " }
            val subs = (body \ "subfields") match {
              case JArray(ss) => ss.collect {
                case JObject(List((code, JString(v)))) => Subfield(code, Some(v))
              }.toVector
              case _ => Vector.empty
            }
            rec = rec.copy(fields = rec.fields :+ DataField(tag, ind1, ind2, subs))
          case _ =>
        }
      case _ =>
    }
    rec
  }

  /** Parse a JMARC JSON document (reference Marc.parse,
    * dlx/marc/__init__.py:629-639 + from_json 1787-1789). Datafields
    * where every subfield lacks both value and xref are dropped. */
  def fromJson(recordType: String, json: String): MarcRecord = {
    val ast = JsonMethods.parse(json)
    fromJmarcAst(recordType, ast.asInstanceOf[JObject])
  }

  private val tagKey = """^(\d{3}|[A-Z]{3})$""".r

  def fromJmarcAst(recordType: String, obj: JObject): MarcRecord = {
    var rec = MarcRecord(recordType = recordType)
    obj.obj.foreach {
      case ("_id", v) =>
        rec = rec.copy(id = v match {
          case JInt(i) => Some(i.toLong)
          case JLong(l) => Some(l)
          case JDouble(d) => Some(d.toLong)
          case JString(s) => s.toLongOption
          case _ => None
        })
      case (tag, JArray(items)) if tagKey.findFirstIn(tag).isDefined =>
        if (tag.startsWith("00")) {
          items.foreach {
            case JString(v) => rec = rec.copy(fields = rec.fields :+ ControlField(tag, v))
            case _ =>
          }
        } else {
          items.foreach {
            case fo: JObject =>
              val inds = (fo \ "indicators") match {
                case JArray(List(JString(a), JString(b))) => (a, b)
                case _ => (" ", " ")
              }
              val subs = (fo \ "subfields") match {
                case JArray(ss) => ss.collect { case so: JObject =>
                  val code = (so \ "code") match { case JString(c) => c; case _ => "" }
                  val value = (so \ "value") match { case JString(v) => Some(v); case _ => None }
                  val xref = (so \ "xref") match {
                    case JInt(i) => Some(i.toLong)
                    case JLong(l) => Some(l)
                    case _ => None
                  }
                  Subfield(code, value, xref)
                }.filter(s =>
                  // xref on a non-controlled (tag, code): config changed
                  // since serialization — ignore the subfield (reference
                  // Datafield.from_dict, dlx/marc/__init__.py:2458-2463)
                  s.xref.isEmpty ||
                    graft.config.DlxConfig.isAuthorityControlled(recordType, tag, s.code))
                case _ => Nil
              }
              // skip fields with no value-or-xref subfields (parse filter,
              // dlx/marc/__init__.py:637-638)
              if (subs.exists(s => s.value.isDefined || s.xref.isDefined))
                rec = rec.copy(fields = rec.fields :+
                  DataField.fromParts(recordType, tag, inds._1, inds._2, subs))
            case _ =>
          }
        }
      case _ => // audit fields handled by caller
    }
    rec
  }

  // ---------------------------------------------------------------- human-readable

  def toStr(rec: MarcRecord)(implicit auth: AuthLookup): String = {
    val sb = new StringBuilder
    for (f <- rec.getFields()) f match {
      case ControlField(tag, v) => sb.append(tag).append("\n   ").append(v).append("\n")
      case d: DataField =>
        sb.append(d.tag).append("\n")
        for (s <- d.subfields)
          sb.append("   ").append(s.code).append(": ")
            .append(s.resolvedValue(auth).getOrElse("")).append("\n")
    }
    sb.result()
  }
}

class InvalidAuthValue(recordType: String, tag: String, code: String, value: String)
  extends RuntimeException(s"Invalid auth-controlled value: $recordType $tag$$$code '$value'")

class AmbiguousAuthValue(recordType: String, tag: String, code: String, value: String)
  extends RuntimeException(s"Ambiguous auth-controlled value: $recordType $tag$$$code '$value'")

class InvalidAuthXref(recordType: String, tag: String, code: String, xref: Long)
  extends RuntimeException(s"Invalid auth xref: $recordType $tag$$$code $xref")
