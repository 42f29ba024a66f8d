package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Authority-control whole-table operations: the reference's cascade
  * jobs re-expressed as single joins + array transforms (SURVEY §2.4).
  */
object AuthOps {

  /** Auth.merge FK rewrite (dlx/marc/__init__.py:2143-2233): replace
    * every subfield xref `losing` -> `gaining` across the records
    * table, then drop duplicate fields that the rewrite created
    * (array_distinct on the rewritten datafields). One narrow
    * transform — no shuffle; the reference's polling watchdog
    * disappears because the batch is deterministic. */
  def mergeAuthXrefs(records: DataFrame, losing: Long, gaining: Long): DataFrame =
    records.withColumn("datafields",
      array_distinct(transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"),
        f.getField("ind1").as("ind1"),
        f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), s => struct(
          s.getField("code").as("code"),
          s.getField("value").as("value"),
          when(s.getField("xref") === losing, gaining)
            .otherwise(s.getField("xref")).as("xref"))).as("subfields")))))

  /** Full heading-change cascade (update_attached_records,
    * dlx/marc/__init__.py:1155-1232) as ONE array transform over the
    * records table — three effects applied only to fields referencing
    * the auth id: tag rename to field.tag[0] + newTag[1:] when the
    * heading tag moved; subfields whose codes were removed from the
    * heading are dropped; codes added to the heading are appended as
    * unresolved linked subfields (value materializes on the next
    * resolve join). */
  def cascadeHeadingChange(records: DataFrame, authId: Long,
      oldHeadingTag: String, oldCodes: Seq[String],
      newHeadingTag: String, newCodes: Seq[String]): DataFrame = {
    val removed = oldCodes.filterNot(newCodes.contains)
    val added = newCodes.filterNot(oldCodes.contains)
    val newSuffix = newHeadingTag.substring(1)

    records.withColumn("datafields",
      transform(col("datafields"), f => {
        val refsAuth = exists(f.getField("subfields"), s => s.getField("xref") === authId)
        val newTag =
          if (oldHeadingTag != newHeadingTag)
            when(refsAuth, concat(substring(f.getField("tag"), 1, 1), lit(newSuffix)))
              .otherwise(f.getField("tag"))
          else f.getField("tag")
        val afterDrop =
          if (removed.nonEmpty)
            when(refsAuth, filter(f.getField("subfields"),
              s => !s.getField("code").isin(removed: _*)))
              .otherwise(f.getField("subfields"))
          else f.getField("subfields")
        val afterAdd =
          if (added.nonEmpty)
            when(refsAuth, concat(afterDrop, array(added.map(c =>
              struct(lit(c).as("code"), lit(null).cast("string").as("value"),
                lit(authId).as("xref"))): _*)))
              .otherwise(afterDrop)
          else afterDrop
        struct(newTag.as("tag"), f.getField("ind1").as("ind1"),
          f.getField("ind2").as("ind2"), afterAdd.as("subfields"))
      }))
  }

  /** One auth's structural heading delta: `newSuffix` is Some(tag
    * minus its first char) when the heading tag moved, `removed`/
    * `added` are the code-set delta. The driver-side map of the
    * under-cap cascade and the per-record change list of the over-cap
    * cascade both carry it. */
  final case class HeadingStructChange(xref: Long, newSuffix: Option[String],
      removed: Seq[String], added: Seq[String])

  /** The per-field fold both cascade regimes share — same per-field
    * effects as [[cascadeHeadingChange]]: retag when the heading tag
    * moved, drop removed-code subfields, append added codes as
    * unresolved linked subfields. A field referencing several changed
    * auths applies them in ascending xref order (deterministic). */
  private def applyStructChanges(r: MarcRow, changeOf: Long => Option[HeadingStructChange]): MarcRow =
    r.copy(datafields = r.datafields.map { f =>
      val hit = f.subfields.flatMap(s => Option(s.xref)).map(_.longValue)
        .distinct.sorted.flatMap(changeOf)
      hit.foldLeft(f) { (fld, ch) =>
        val tag2 = ch.newSuffix.fold(fld.tag)(sfx => fld.tag.substring(0, 1) + sfx)
        val afterDrop =
          if (ch.removed == null || ch.removed.isEmpty) fld.subfields
          else { val rm = ch.removed.toSet; fld.subfields.filterNot(s => rm.contains(s.code)) }
        val afterAdd =
          if (ch.added == null || ch.added.isEmpty) afterDrop
          else afterDrop ++ ch.added.map(c =>
            SubfieldRow(c, null, java.lang.Long.valueOf(ch.xref)))
        fld.copy(tag = tag2, subfields = afterAdd)
      }
    })

  /** Structural cascade for a whole BATCH of heading changes in ONE
    * typed pass — the under-cap regime: a broadcast hash dimension
    * (xref → change) keyed by each field's referenced xrefs. Replaces
    * the per-auth projection fold, whose PLAN DEPTH grew linearly with
    * the number of changed auths in a commit batch — a bulk retag
    * (hundreds of changed headings, e.g. a taxonomy migration) hit
    * Catalyst analysis/codegen blowup long before data size mattered.
    * Here the plan is one MapElements regardless of batch size, and
    * lookups are O(1) hash probes. */
  def cascadeHeadingChangesBulk(records: org.apache.spark.sql.Dataset[MarcRow],
      changes: Seq[HeadingStructChange]): org.apache.spark.sql.Dataset[MarcRow] = {
    import MarcSchema.marcRowEncoder
    if (changes.isEmpty) return records
    val bc = records.sparkSession.sparkContext.broadcast(changes.map(c => c.xref -> c).toMap)
    records.map(r => applyStructChanges(r, bc.value.get))
  }

  /** A record paired with the heading-struct changes that apply to it
    * (null/empty = value-only cascade, structure untouched). */
  final case class CascadeInput(rec: MarcRow, changes: Seq[HeadingStructChange])

  /** every distinct subfield xref of a record, as a Column. */
  private[graft] def subfieldXrefs: Column =
    array_distinct(flatten(transform(col("datafields"),
      f => transform(f.getField("subfields"), sf => sf.getField("xref")))))

  /** Records attached to ANY changed auth, by flag join against the
    * change frame's `xref` column — the over-cap attach scan (round-11
    * verdict #1): exploded subfield xrefs equi-join the change
    * dimension, the distinct hit ids semi-join back. Never a driver
    * materialization. */
  def attachedJoined(records: DataFrame, changes: DataFrame): DataFrame = {
    val hitIds = records
      .select(col("_id"), explode(subfieldXrefs).as("__x"))
      .join(changes.select(col("xref").as("__x")), "__x")
      .select("_id").distinct()
    records.join(hitIds, Seq("_id"), "left_semi")
  }

  /** The over-cap structural cascade as FRAMES (round-11 verdict #1):
    * instead of a closure-captured Map of every changed auth, each
    * attached record is joined with exactly ITS relevant struct
    * changes, so driver state is O(1) regardless of how many auths a
    * bulk re-heading batch touched; the per-field fold is the one
    * [[cascadeHeadingChangesBulk]] applies. `changes` columns: (xref,
    * new_suffix, removed, added) — value-only change rows (null
    * suffix, empty code deltas) are filtered out here. */
  def cascadeStructJoined(attached: DataFrame, changes: DataFrame)
      : org.apache.spark.sql.Dataset[MarcRow] = {
    import MarcSchema.marcRowEncoder
    implicit val inputEnc: org.apache.spark.sql.Encoder[CascadeInput] =
      org.apache.spark.sql.Encoders.product[CascadeInput]
    val structDim = changes.where(col("new_suffix").isNotNull ||
      size(col("removed")) > 0 || size(col("added")) > 0)
    val recCols = attached.columns.toSeq
    val perRec = attached
      .select(col("_id").as("__cid"), explode(subfieldXrefs).as("__x"))
      .join(structDim.select(col("xref").as("__x"), col("new_suffix"),
        col("removed"), col("added")), "__x")
      .groupBy(col("__cid"))
      .agg(collect_list(struct(col("__x").as("xref"),
        col("new_suffix").as("newSuffix"), col("removed"), col("added"))).as("__changes"))
    // records with no struct change carry a null list from the left join
    attached
      .join(perRec, col("_id") === col("__cid"), "left").drop("__cid")
      .select(struct(recCols.map(col): _*).as("rec"), col("__changes").as("changes"))
      .as[CascadeInput]
      .map { ci =>
        if (ci.changes == null || ci.changes.isEmpty) ci.rec
        else {
          val byId = ci.changes.iterator.map(c => c.xref -> c).toMap
          applyStructChanges(ci.rec, byId.get)
        }
      }
  }

  /** null out the materialized values of linked subfields so a resolve
    * pass re-derives them from the current heading state. */
  def stripLinkedValues(records: DataFrame): DataFrame =
    records.withColumn("datafields",
      transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"),
        f.getField("ind1").as("ind1"),
        f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), s => struct(
          s.getField("code").as("code"),
          when(s.getField("xref").isNotNull, lit(null).cast("string"))
            .otherwise(s.getField("value")).as("value"),
          s.getField("xref").as("xref"))).as("subfields"))))

  /** Refresh the materialized values of linked subfields after a
    * heading value change: ONE broadcast join against the new heading
    * dimension (the cascade "re-commit attached" loop,
    * dlx/marc/__init__.py:1205-1232, as a set operation). */
  def refreshLinkedValues(records: DataFrame, auths: DataFrame): DataFrame =
    MarcContext.resolveLinked(stripLinkedValues(records), auths)

  /** The tail of the cascade's and merge's rewrites, before their
    * re-commit derives the columns: strip the linked values, drop the
    * fields that are now duplicates (two fields linking one auth compare
    * equal once stripped), and resolve against the heading dimension
    * through the size-auto path (broadcast map while it fits, else the
    * join). */
  def relink(records: org.apache.spark.sql.Dataset[MarcRow],
      auths: DataFrame): org.apache.spark.sql.Dataset[MarcRow] = {
    import MarcSchema.marcRowEncoder
    MarcContext.resolveLinkedAuto(stripLinkedValues(records.toDF())
      .withColumn("datafields", array_distinct(col("datafields"))).as[MarcRow], auths)
  }

  /** Typeahead over the heading dimension (reference partial_lookup,
    * dlx/marc/__init__.py:1995-2041): case-insensitive containment on
    * the source-tag heading subfield, capped at `limit`. The reference
    * takes the first 25 in arbitrary collection order; at cluster
    * scale that is non-deterministic, so this returns the first
    * `limit` by (value, xref) — a TakeOrderedAndProject, no full sort.
    * Returns (value, xref). */
  def partialLookup(auths: DataFrame, recordType: String, tag: String, code: String,
      needle: String, limit: Int = 25): DataFrame = {
    val sourceTag = graft.config.DlxConfig.authoritySourceTag(recordType, tag, code)
      .getOrElse(return auths.sparkSession.emptyDataFrame
        .withColumn("value", lit("")).withColumn("xref", lit(0L)).limit(0))
    MarcContext.authHeadings(auths)
      .where(col("tag") === sourceTag && col("code") === code &&
        contains(lower(col("value")), lit(needle.toLowerCase)))
      .select(col("value"), col("xref"))
      .orderBy(col("value"), col("xref"))
      .limit(limit)
  }

  /** Batch xlookup_multi (dlx/marc/__init__.py:1941-1965): for every
    * probe row, all auth ids whose `sourceTag` heading field carries
    * ALL the probe's (code, value) pairs. The probe table must have
    * one column per code in `codes`. Row form is an all-pairs scan per
    * call; the set form is one equi-join on the full value tuple —
    * distributes on the heading values, probes broadcast when small.
    * Returns the probe columns + `xref` + `n_heading_subs` (the
    * matched field's subfield count, for heading-equality checks). */
  def xlookupMultiBatch(auths: DataFrame, sourceTag: String, codes: Seq[String],
      probes: DataFrame): DataFrame = {
    val hf = auths.select(col("_id").as("xref"),
      explode(filter(col("datafields"), f => f.getField("tag") === sourceTag)).as("f"))
    val headings = codes.foldLeft(hf) { (df, c) =>
      df.withColumn(s"h_$c",
        try_element_at(transform(
          filter(col("f.subfields"), s => s.getField("code") === c),
          s => s.getField("value")), lit(1)))
    }.withColumn("n_heading_subs", size(col("f.subfields"))).drop("f")
    broadcast(probes).join(headings,
        codes.map(c => probes(c) === headings(s"h_$c")).reduce(_ && _))
      .select(probes.columns.map(probes(_)) :+ col("xref") :+ col("n_heading_subs"): _*)
  }

  /** Batch resolve_ambiguous (dlx/marc/__init__.py:1967-1993): per
    * probe, the unique xlookup_multi match; when several match, the
    * single auth whose FULL heading subfield list equals the probe's
    * pairs (i.e. no extra subfields beyond `codes`); else unresolved.
    * Returns probe columns + n_matches + resolved_xref (null when
    * ambiguous or absent — probes with zero matches don't appear,
    * exactly like the reference's empty xlookup). */
  def resolveAmbiguousBatch(auths: DataFrame, sourceTag: String, codes: Seq[String],
      probes: DataFrame): DataFrame = {
    val matches = xlookupMultiBatch(auths, sourceTag, codes, probes)
    val exact = col("n_heading_subs") === codes.size
    matches.groupBy(probes.columns.map(col): _*)
      .agg(count(lit(1)).as("n_matches"),
        min(col("xref")).as("min_xref"),
        count(when(exact, 1)).as("n_exact"),
        min(when(exact, col("xref"))).as("min_exact_xref"))
      .withColumn("resolved_xref",
        when(col("n_matches") === 1, col("min_xref"))
          .when(col("n_exact") === 1, col("min_exact_xref")))
      .drop("min_xref", "n_exact", "min_exact_xref")
  }

  /** in_use count for one auth id (dlx/marc/__init__.py:2091-2141):
    * semi-join shaped existence scan. */
  def inUse(records: DataFrame, xref: Long): Long =
    records.where(exists(col("datafields"), f =>
      exists(f.getField("subfields"), s => s.getField("xref") === xref))).count()
}
