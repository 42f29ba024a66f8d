package graft.spark

import graft.model._
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

/** Canonical Spark row shape for MARC records (SURVEY §1.4).
  *
  * Tags are NOT top-level columns (the tag space is open-ended);
  * fields are ordered arrays of structs, preserving repetition and
  * order. Linked vs literal subfields = nullable xref, exactly how the
  * reference BSON persists them (dlx/marc/__init__.py:2689-2725).
  * `text`/`words`/`logical` are the denormalized commit-time columns
  * (dlx/marc/__init__.py:954-956, 1050-1052), derived from
  * `datafields` by [[DerivedColumns]].
  */
final case class SubfieldRow(code: String, value: String, xref: java.lang.Long)
final case class DataFieldRow(tag: String, ind1: String, ind2: String,
    subfields: Seq[SubfieldRow])
final case class ControlFieldRow(tag: String, value: String)

final case class MarcRow(
    record_type: String,
    _id: Long,
    created: java.sql.Timestamp,
    updated: java.sql.Timestamp,
    created_user: String,
    user: String,
    basket: String,
    leader: String,
    controlfields: Seq[ControlFieldRow],
    datafields: Seq[DataFieldRow],
    text: String,
    words: Seq[String],
    logical: Map[String, Seq[String]])

object MarcSchema {

  implicit val marcRowEncoder: Encoder[MarcRow] = Encoders.product[MarcRow]

  /** The record as a row, linked values resolved through `auth`; the
    * derived `text`/`words`/`logical` stay null ([[DerivedColumns]]
    * fills them). */
  def toRow(rec: MarcRecord)(implicit auth: AuthLookup): MarcRow =
    MarcRow(
      record_type = rec.recordType,
      // -1 = unassigned (0 is a legitimate id — e.g. partkey-derived
      // auth corpora start at 0); MarcStore.assignIds fills these
      _id = rec.id.getOrElse(-1L),
      created = rec.created.map(java.sql.Timestamp.from).orNull,
      updated = rec.updated.map(java.sql.Timestamp.from).orNull,
      created_user = rec.createdUser.orNull,
      user = rec.user.orNull,
      basket = rec.basket.orNull,
      leader = rec.leader,
      controlfields = rec.fields.collect { case ControlField(t, v) => ControlFieldRow(t, v) },
      datafields = rec.fields.collect { case d: DataField =>
        DataFieldRow(d.tag, d.ind1, d.ind2, d.subfields.map { s =>
          SubfieldRow(s.code, s.resolvedValue(auth).orNull, s.xref.map(Long.box).orNull)
        })
      },
      text = null, words = null, logical = null)

  def fromRow(row: MarcRow): MarcRecord = {
    val fields: Vector[Field] =
      row.controlfields.map(c => ControlField(c.tag, c.value)).toVector ++
        row.datafields.map { d =>
          DataField(d.tag, d.ind1, d.ind2, d.subfields.flatMap { s =>
            // a stored subfield carrying an xref whose (tag, code) is
            // no longer authority-controlled is IGNORED on read — the
            // auth config changed since the write (reference
            // Datafield.from_dict, dlx/marc/__init__.py:2458-2463)
            if (s.xref != null &&
                !graft.config.DlxConfig.isAuthorityControlled(row.record_type, d.tag, s.code))
              None
            else
              Some(Subfield(s.code, Option(s.value), Option(s.xref).map(_.longValue)))
          }.toVector)
        }.toVector
    MarcRecord(
      recordType = row.record_type,
      id = Some(row._id),
      created = Option(row.created).map(_.toInstant),
      updated = Option(row.updated).map(_.toInstant),
      user = Option(row.user),
      createdUser = Option(row.created_user),
      basket = Option(row.basket),
      fields = fields)
  }

  def toDataset(spark: SparkSession, recs: Seq[MarcRecord])(implicit auth: AuthLookup): Dataset[MarcRow] =
    DerivedColumns.derive(spark.createDataset(recs.map(toRow)))
}
