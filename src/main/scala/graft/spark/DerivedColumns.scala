package graft.spark

import graft.config.DlxConfig
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._

/** The one derivation of a record's commit-time columns from its
  * `datafields` (reference Marc.commit, dlx/marc/__init__.py:953-956,
  * 1321-1347; SURVEY §2.9), as Catalyst expressions:
  *  - `text`: each field's values space-joined and scrubbed, the fields
  *    joined, padded with a space each side; `words`: its tokens;
  *  - `logical`: per configured (logical field, tag, code group), one
  *    value per field = the group's values space-joined, each code
  *    taking its places until the first empty one (Datafield.get_values);
  *    fields with no value are absent; plus `_record_type`.
  * `Tokenizer` and `MarcRecord.logicalFields` are its row-level
  * specification. The store applies it at every commit. */
object DerivedColumns {

  import MarcSchema.marcRowEncoder

  def derive(records: Dataset[MarcRow]): Dataset[MarcRow] = {
    val text = concat_ws(" ", transform(col("datafields"),
      f => MarcContext.scrubUdf(MarcContext.fieldTextCol(f.getField("subfields")))))
    val subtype = DlxConfig.bibTypeMap.toSeq.foldRight(lit("default")) {
      case ((st, (tag, code, v)), otherwise) => when(firstValue(tag, code) === v, st).otherwise(otherwise)
    }
    val found = hits(when(col("record_type") === "bib", bibGroups).otherwise(authGroups))
    val names = array_distinct(transform(found, h => h.getField("name")))
    val entries = concat(
      transform(names, n => struct(n.as("k"),
        transform(filter(found, h => h.getField("name") === n), h => h.getField("value")).as("v"))),
      array(struct(lit("_record_type").as("k"), array(subtype, col("record_type")).as("v"))))
    records.withColumns(Map(
      "text" -> concat(lit(" "), text, lit(" ")),
      "words" -> MarcContext.tokenizeUdf(text),
      "logical" -> map_from_entries(entries)))
      .as[MarcRow]
  }

  /** All values of one logical field, in config order. */
  def fieldValues(recordType: String, name: String): Column =
    transform(hits(groupsByTag(DlxConfig.logicalFields(recordType).filter(_._1 == name))),
      h => h.getField("value"))

  /** One (logical field, tag, code group) of the config; `order` is its
    * place in the config. */
  private final case class Group(order: Int, name: String, codes: Seq[String])

  private lazy val bibGroups = groupsByTag(DlxConfig.logicalFields("bib"))
  private lazy val authGroups = groupsByTag(DlxConfig.logicalFields("auth"))
  private lazy val noGroups = typedLit(Seq.empty[Group])

  /** tag -> the groups that read it, as one literal: the derivation's
    * expression tree does not grow with the config, and a record pays
    * one lookup per field, not one pass per group. */
  private def groupsByTag(spec: Seq[(String, Seq[(String, Seq[String])])]): Column = {
    val groups = for ((name, tags) <- spec; (tag, codeGroups) <- tags; codes <- codeGroups)
      yield (tag, name, codes.map(_.toString))
    typedLit(groups.zipWithIndex.groupBy(_._1._1).map { case (tag, gs) =>
      tag -> gs.map { case ((_, name, codes), i) => Group(i, name, codes) }
    })
  }

  /** The record's non-empty group values as (order, field position,
    * name, value), in config order and then field order. */
  private def hits(byTag: Column): Column =
    array_sort(filter(flatten(transform(col("datafields"), (f, pos) =>
      transform(coalesce(try_element_at(byTag, f.getField("tag")), noGroups),
        g => struct(g.getField("order").as("order"), pos.as("pos"), g.getField("name").as("name"),
          concat_ws(" ", flatten(transform(g.getField("codes"),
            c => placesUntilGap(f.getField("subfields"), c)))).as("value"))))),
      h => h.getField("value") =!= ""))

  /** The values of `code` in one field's subfields, in place order, up
    * to the first empty one. */
  private def placesUntilGap(subfields: Column, code: Column): Column = {
    val vals = transform(filter(subfields, s => s.getField("code") === code),
      s => coalesce(s.getField("value"), lit("")))
    val gap = array_position(vals, "")
    when(gap === 0, vals).otherwise(slice(vals, lit(1), (gap - 1).cast("int")))
  }

  /** First value of (tag, code) — reference get_value. */
  private def firstValue(tag: String, code: String): Column =
    try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === tag),
      f => transform(
        filter(f.getField("subfields"), s => s.getField("code") === code),
        s => s.getField("value")))), lit(1))
}
