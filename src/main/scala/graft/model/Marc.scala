package graft.model

import graft.config.DlxConfig

/** One subfield — the atomic MARC value.
  *
  * The reference distinguishes Literal(code, value) from
  * Linked(code, xref, value) (dlx/marc/__init__.py:2684-2728); here
  * both are one struct with a nullable xref, exactly how the BSON
  * persists them and how the Spark schema models them (SURVEY §1.4).
  * A linked subfield's value may be unresolved (None) until joined
  * against the auth-headings dimension.
  */
final case class Subfield(code: String, value: Option[String], xref: Option[Long] = None) {
  def isLinked: Boolean = xref.isDefined
  def resolvedValue(auth: AuthLookup): Option[String] =
    xref match {
      case Some(x) if value.isEmpty => auth.lookup(x, code)
      case _ => value
    }
}

sealed trait Field {
  def tag: String
}

/** Tag 00X — a bare string value (dlx/marc/__init__.py:2409-2434). */
final case class ControlField(tag: String, value: String) extends Field

/** Tag 010-999 — indicators + ordered, repeatable subfields
  * (dlx/marc/__init__.py:2436-2666). */
final case class DataField(
    tag: String,
    ind1: String = " ",
    ind2: String = " ",
    subfields: Vector[Subfield] = Vector.empty) extends Field {

  def getSubfields(code: String): Vector[Subfield] = subfields.filter(_.code == code)

  def getSubfield(code: String, place: Int = 0): Option[Subfield] =
    getSubfields(code).lift(place)

  def getValue(code: String, place: Int = 0)(implicit auth: AuthLookup): String =
    getSubfield(code, place).flatMap(_.resolvedValue(auth)).getOrElse("")

  /** Values of the given codes, iterating code-by-code and walking
    * places until a gap — reference Datafield.get_values semantics
    * (dlx/marc/__init__.py:2506-2521): for each code, successive
    * places are taken while non-empty. No codes = all codes present
    * (set semantics, per-code grouping). */
  def getValues(codes: String*)(implicit auth: AuthLookup): Vector[String] = {
    val cs = if (codes.nonEmpty) codes.toVector else subfields.map(_.code).distinct
    cs.flatMap { code =>
      Iterator.from(0).map(getValue(code, _)).takeWhile(_.nonEmpty).toVector
    }
  }

  def getXrefs: Vector[Long] = subfields.flatMap(_.xref).distinct

  def getXref(code: String): Option[Long] =
    subfields.find(s => s.code == code && s.xref.isDefined).flatMap(_.xref)

  def deleteSubfield(code: String): DataField =
    copy(subfields = subfields.filterNot(_.code == code))
}

object DataField {
  /** Build from the JMARC dict shape {indicators, subfields}
    * (Datafield.from_dict, dlx/marc/__init__.py:2446-2479). Subfields
    * carrying an xref on a non-auth-controlled (tag, code) are
    * dropped, mirroring the reference's config-drift guard. */
  def fromParts(recordType: String, tag: String, ind1: String, ind2: String,
      subs: Seq[Subfield]): DataField = {
    val kept = subs.filter { s =>
      s.xref.isEmpty || DlxConfig.isAuthorityControlled(recordType, tag, s.code)
    }
    DataField(tag, ind1, ind2, kept.toVector)
  }
}

/** Resolver for linked subfield values — the broadcast-join analog of
  * the reference's Auth.lookup caches (dlx/marc/__init__.py:1876-1911). */
trait AuthLookup extends Serializable {
  def lookup(xref: Long, code: String): Option[String]
  def lookup(xref: Long, code: String, language: String): Option[String] = lookup(xref, code)
  /** value -> matching auth ids for (sourceTag, code) — Auth.xlookup. */
  def xlookup(sourceTag: String, code: String, value: String): Seq[Long]
  /** multi-subfield exact-match disambiguation — Auth.resolve_ambiguous
    * (dlx/marc/__init__.py:1967-1993); None when unresolvable. */
  def resolveAmbiguous(recordType: String, tag: String, pairs: Seq[(String, String)]): Option[Long] = None
}

object AuthLookup {
  /** No auths known: linked values resolve to None, xlookup is empty. */
  object Empty extends AuthLookup {
    def lookup(xref: Long, code: String): Option[String] = None
    def xlookup(sourceTag: String, code: String, value: String): Seq[Long] = Nil
  }
}

/** A MARC record (bib or auth) — ordered multi-set of fields.
  *
  * Mirrors reference Marc (dlx/marc/__init__.py:449-1630) as an
  * immutable value: setters return new records. Field iteration for
  * getters/serializations is TAG-SORTED with stable order within a
  * tag (reference get_fields sorts by tag, 643-648); `fields` itself
  * preserves insertion order.
  */
final case class MarcRecord(
    recordType: String = "bib",
    id: Option[Long] = None,
    created: Option[java.time.Instant] = None,
    updated: Option[java.time.Instant] = None,
    user: Option[String] = None,
    createdUser: Option[String] = None,
    basket: Option[String] = None,
    fields: Vector[Field] = Vector.empty) {

  def leader: String =
    fields.collectFirst { case ControlField("000", v) => v }.getOrElse("")

  def getFields(tags: String*): Vector[Field] = {
    val sorted = fields.sortBy(_.tag)
    if (tags.isEmpty) sorted else sorted.filter(f => tags.contains(f.tag))
  }

  /** place 0 = first in insertion order (reference get_field quirk,
    * dlx/marc/__init__.py:650-656); other places index the tag-sorted
    * list. */
  def getField(tag: String, place: Int = 0): Option[Field] =
    if (place == 0) fields.find(_.tag == tag)
    else getFields(tag).lift(place)

  def getDataField(tag: String, place: Int = 0): Option[DataField] =
    getField(tag, place).collect { case d: DataField => d }

  def getValue(tag: String, code: String = null, address: Option[(Int, Int)] = None,
      language: Option[String] = None)(implicit auth: AuthLookup): String = {
    if (tag.startsWith("00")) {
      getField(tag, address.map(_._1).getOrElse(0)) match {
        case Some(ControlField(_, v)) => v
        case _ => ""
      }
    } else {
      val sub: Option[Subfield] = address match {
        case Some((fp, sp)) => getDataField(tag, fp).flatMap(_.getSubfield(code, sp))
        case None =>
          getFields(tag).iterator.collect { case d: DataField => d }
            .flatMap(_.getSubfield(code)).nextOption()
      }
      sub.flatMap { s =>
        language match {
          case Some(lang) if s.xref.isDefined => auth.lookup(s.xref.get, s.code, lang)
          case _ => s.resolvedValue(auth)
        }
      }.getOrElse("")
    }
  }

  def getValues(tag: String, codes: String*)(implicit auth: AuthLookup): Vector[String] =
    if (tag.startsWith("00"))
      getFields(tag).collect { case ControlField(_, v) => v }
    else
      getSubfields(tag, codes: _*).flatMap(_.resolvedValue(auth)).filter(_.nonEmpty)

  def getSubfields(tag: String, codes: String*): Vector[Subfield] =
    getFields(tag).collect { case d: DataField => d }.flatMap { f =>
      val cs = if (codes.nonEmpty) codes else f.subfields.map(_.code).distinct
      f.subfields.filter(s => cs.contains(s.code))
    }

  def getSubfield(tag: String, code: String): Option[Subfield] =
    getDataField(tag).flatMap(_.getSubfield(code))

  def getTags: Vector[String] = fields.map(_.tag).distinct.sorted

  def getXrefs(tags: String*): Vector[Long] =
    (if (tags.isEmpty) getFields() else getFields(tags: _*))
      .collect { case d: DataField => d }.flatMap(_.getXrefs)

  def getXref(tag: String, code: String): Option[Long] =
    getDataField(tag).flatMap(_.getXref(code))

  /** Positional set — reference Marc.set semantics
    * (dlx/marc/__init__.py:754-799): no fields with the tag (or
    * field place '+') appends a new field; otherwise replaces in the
    * addressed field/subfield ('+' subfield place appends). */
  def set(tag: String, code: String, newVal: String,
      ind1: Option[String] = None, ind2: Option[String] = None,
      fieldPlace: Either[Int, String] = Left(0),
      subfieldPlace: Either[Int, String] = Left(0)): MarcRecord =
    setAny(tag, code, Left(newVal), ind1, ind2, fieldPlace, subfieldPlace)

  /** Reference Datafield.set coercion (dlx/marc/__init__.py:2551-2574):
    * an xref id lands as a linked subfield only when auth control is on
    * AND the (record type, tag, code) is configured as authority
    * controlled; otherwise the id is stored as a string literal. */
  def setXref(tag: String, code: String, xref: Long,
      ind1: Option[String] = None, ind2: Option[String] = None,
      fieldPlace: Either[Int, String] = Left(0),
      subfieldPlace: Either[Int, String] = Left(0),
      authControl: Boolean = true): MarcRecord = {
    val v: Either[String, Long] =
      if (authControl && DlxConfig.isAuthorityControlled(recordType, tag, code)) Right(xref)
      else Left(xref.toString)
    setAny(tag, code, v, ind1, ind2, fieldPlace, subfieldPlace)
  }

  private def mkSub(code: String, v: Either[String, Long]): Subfield = v match {
    case Left(s) => Subfield(code, Some(s))
    case Right(x) => Subfield(code, None, Some(x))
  }

  private def setAny(tag: String, code: String, newVal: Either[String, Long],
      ind1: Option[String], ind2: Option[String],
      fieldPlace: Either[Int, String], subfieldPlace: Either[Int, String]): MarcRecord = {
    val isEmptyVal = newVal.left.toOption.exists(v => v == null || v.isEmpty)
    if (isEmptyVal && ind1.isEmpty && ind2.isEmpty) return this

    val tagFieldIdxs = fields.zipWithIndex.filter(_._1.tag == tag)
    val isNewField = tagFieldIdxs.isEmpty || fieldPlace == Right("+")

    if (isNewField) {
      val f: Field =
        if (tag.startsWith("00")) ControlField(tag, newVal.left.getOrElse(""))
        else DataField(tag, ind1.getOrElse(" "), ind2.getOrElse(" "),
          if (isEmptyVal) Vector.empty else Vector(mkSub(code, newVal)))
      copy(fields = fields :+ f)
    } else {
      val fp = fieldPlace.left.getOrElse(0)
      // index into the tag-sorted view, like reference get_fields(tag)[place]
      val sortedIdxs = tagFieldIdxs.map(_._2)
      if (fp >= sortedIdxs.length)
        throw new IllegalArgumentException(s"There is no field at $tag/$fp")
      val idx = sortedIdxs(fp)
      fields(idx) match {
        case ControlField(t, _) =>
          copy(fields = fields.updated(idx, ControlField(t, newVal.left.getOrElse(""))))
        case d: DataField =>
          val subs = d.subfields
          val sp = subfieldPlace
          val samecode = subs.zipWithIndex.filter(_._1.code == code)
          // Reference Datafield.set walk (dlx/marc/__init__.py:2544-2598):
          // place < count -> replace; place 0/'+' with no match -> append;
          // place == count (>0) -> silent no-op; place > count -> error.
          val replaced: Vector[Subfield] =
            sp match {
              case _ if isEmptyVal => subs
              case Left(n) if samecode.length > n =>
                subs.updated(samecode(n)._2, mkSub(code, newVal))
              case Left(0) | Right("+") =>
                subs :+ mkSub(code, newVal)
              case Left(n) =>
                if (n > samecode.length) throw new IllegalArgumentException(s"Invalid subfield place $n")
                subs // n == samecode.length: reference silently skips
              case _ => subs
            }
          val updated = d.copy(
            ind1 = ind1.getOrElse(d.ind1),
            ind2 = ind2.getOrElse(d.ind2),
            subfields = if (isEmptyVal) subs else replaced)
          copy(fields = fields.updated(idx, updated))
      }
    }
  }

  def setValues(tuples: (String, String, String)*): MarcRecord =
    tuples.foldLeft(this) { case (rec, (tag, code, v)) => rec.set(tag, code, v) }

  /** Rebuild 008: positions 0-5 = cat date (yymmdd), 6 kept, 7-10 =
    * pub year from the date field, rest kept (reference set_008,
    * dlx/marc/__init__.py:809-817). `now` injectable for tests. */
  def set008(now: java.time.Instant = java.time.Instant.now()): MarcRecord = {
    implicit val a: AuthLookup = AuthLookup.Empty
    val text = getValue("008").padTo(40, '|').mkString
    val (dateTag, dateCode) = DlxConfig.dateField
    val pubDate = getValue(dateTag, dateCode)
    val pubYear = pubDate.take(4).padTo(4, '|').mkString
    val catDate = java.time.format.DateTimeFormatter.ofPattern("yyMMdd")
      .withZone(java.time.ZoneOffset.UTC).format(now)
    set("008", null, catDate + text.charAt(6) + pubYear + text.substring(11))
  }

  def deleteField(tag: String, place: Int = 0): MarcRecord = {
    var j = 0
    val idx = fields.indexWhere { f =>
      if (f.tag == tag) { val hit = j == place; j += 1; hit } else false
    }
    if (idx >= 0) copy(fields = fields.patch(idx, Nil, 1)) else this
  }

  def deleteFields(tags: String*): MarcRecord =
    copy(fields = fields.filterNot(f => tags.contains(f.tag)))

  /** Heading field of an auth record: first field with tag starting
    * '1' (dlx/marc/__init__.py:2048-2059). */
  def headingField: Option[DataField] =
    fields.collectFirst { case d: DataField if d.tag.startsWith("1") => d }

  /** Logical (denormalized browse) fields
    * (dlx/marc/__init__.py:1321-1347): per configured tag, one value
    * per field instance = space-joined values of the code group; plus
    * `_record_type` from the type map + defaults. */
  def logicalFields(names: String*)(implicit auth: AuthLookup): Map[String, Vector[String]] = {
    val conf = DlxConfig.logicalFields(recordType)
    var out = Vector.empty[(String, String)]
    for ((logical, tags) <- conf if names.isEmpty || names.contains(logical);
         (tag, groups) <- tags;
         group <- groups;
         field <- getFields(tag).collect { case d: DataField => d }) {
      val value = field.getValues(group.map(_.toString): _*).mkString(" ")
      if (value.nonEmpty) out :+= (logical -> value)
    }
    val grouped = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val subtype = DlxConfig.bibTypeMap.collectFirst {
      case (st, (tag, code, v)) if getValue(tag, code) == v => st
    }
    val recTypes = subtype.map(Vector(_)).getOrElse(Vector("default")) :+ recordType
    grouped + ("_record_type" -> recTypes)
  }

  /** Fill-missing merge (reference zmerge, dlx/marc/__init__.py:1370-1391). */
  def zmerge(toMerge: MarcRecord)(implicit auth: AuthLookup): MarcRecord =
    toMerge.fields.foldLeft(this) { (rec, field) =>
      field match {
        case cf: ControlField =>
          if (rec.getValue(cf.tag).isEmpty) rec.set(cf.tag, null, cf.value) else rec
        case df: DataField =>
          df.subfields.foldLeft(rec) { (r, sub) =>
            if (r.getValue(df.tag, sub.code).isEmpty)
              sub.xref.map(x => r.setXref(df.tag, sub.code, x))
                .getOrElse(r.set(df.tag, sub.code, sub.resolvedValue(auth).getOrElse("")))
            else r
          }
      }
    }

  /** Diff-driven merge (reference xmerge, dlx/marc/__init__.py:1393-1438). */
  def xmerge(toMerge: MarcRecord, overwrite: Boolean = false)(implicit auth: AuthLookup): MarcRecord = {
    val diffB = Diff(this, toMerge).b
    val byTag = diffB.map(_.tag).distinct.sorted
    var rec = this
    for (tag <- byTag) {
      val tagged = diffB.filter(_.tag == tag)
      for ((field, i) <- tagged.zipWithIndex) field match {
        case cf: ControlField =>
          if (overwrite) {
            val cur = rec.getValue(cf.tag)
            val patched =
              if (cur.isEmpty) cf.value
              else cur.zipWithIndex.map { case (c, pos) =>
                if ((c == ' ' || c == '|') && pos < cf.value.length) cf.value.charAt(pos) else c
              }.mkString
            rec = rec.set(cf.tag, null, patched, fieldPlace = Left(math.min(i, math.max(rec.getFields(cf.tag).length - 1, 0))))
          } else if (rec.getValue(cf.tag).isEmpty) {
            rec = rec.copy(fields = rec.fields :+ cf)
          }
        case df: DataField =>
          for ((sub, j) <- df.subfields.zipWithIndex) {
            val existing = rec.getValue(df.tag, sub.code, address = Some((i, j)))
            if (overwrite || existing.isEmpty) {
              val haveField = i < rec.getFields(df.tag).length
              val fp: Either[Int, String] = if (haveField) Left(i) else Right("+")
              val sp: Either[Int, String] = Left(j)
              rec = sub.xref match {
                case Some(x) => rec.setXref(df.tag, sub.code, x, fieldPlace = fp, subfieldPlace = sp)
                case None => rec.set(df.tag, sub.code, sub.resolvedValue(auth).getOrElse(""), fieldPlace = fp, subfieldPlace = sp)
              }
            }
          }
      }
    }
    rec
  }
}

/** Field-multiset comparison (reference Diff,
  * dlx/marc/__init__.py:2235-2282): a = fields only in self (with
  * duplicates), b = only in other, c = common, d = common but at a
  * different position within their tag, e = duplicated a different
  * number of times. `different` = a or b or d or e — exactly the
  * reference's equality check.
  *
  * Two distinct keys, exactly as upstream:
  *  - membership (a/b/c/d) uses Field equality = Controlfield
  *    (tag, value) / Datafield (tag, to_dict()) — to_dict carries
  *    indicators and only subfields whose RESOLVED value is truthy
  *    (dlx/marc/__init__.py:2410-2417, 2437-2444, 2621-2626);
  *  - duplication counts (e) use the field's to_mrk rendering
  *    (dlx/marc/__init__.py:2275-2279), under which a linked subfield
  *    and its literal `$0` spelling coincide. */
final case class Diff(recA: MarcRecord, recB: MarcRecord)(
    implicit auth: AuthLookup = AuthLookup.Empty) {
  /** Datafield.__eq__ analog: tag + indicators + (code, value, xref?)
    * of subfields with a non-empty resolved value. */
  private def memberKey(f: Field): (String, String, String) = f match {
    case ControlField(t, v) => ("C", t, v)
    case d: DataField =>
      val subs = d.subfields.flatMap { s =>
        s.resolvedValue(auth).filter(_.nonEmpty)
          .map(v => s.code + "=" + v + s.xref.fold("")("@" + _))
      }
      ("D", d.tag, d.ind1 + "\u0001" + d.ind2 + "\u0001" + subs.mkString("\u0002"))
  }
  private def mrkKey(f: Field): String =
    graft.records.Serialization.fieldToMrk(recA.recordType, f)

  private val aKeys = recA.fields.map(memberKey).toSet
  private val bKeys = recB.fields.map(memberKey).toSet
  private val aMrk = recA.fields.map(mrkKey).groupBy(identity).view.mapValues(_.size).toMap
  private val bMrk = recB.fields.map(mrkKey).groupBy(identity).view.mapValues(_.size).toMap

  val a: Vector[Field] = recA.fields.filter(f => !bKeys.contains(memberKey(f)))
  val b: Vector[Field] = recB.fields.filter(f => !aKeys.contains(memberKey(f)))
  val c: Vector[Field] = recA.fields.filter(f => bKeys.contains(memberKey(f)))

  private def indexWithinTag(rec: MarcRecord, f: Field): Int =
    rec.getFields(f.tag).indexWhere(g => memberKey(g) == memberKey(f))

  /** common fields at a different position within their tag's fields */
  val d: Vector[Field] =
    c.filter(f => indexWithinTag(recA, f) != indexWithinTag(recB, f))

  /** common fields whose to_mrk rendering is duplicated a different
    * number of times across the two records */
  val e: Vector[Field] =
    c.filter(f => aMrk.getOrElse(mrkKey(f), 0) != bMrk.getOrElse(mrkKey(f), 0))

  val different: Boolean = a.nonEmpty || b.nonEmpty || d.nonEmpty || e.nonEmpty
}
