package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Derived DataFrames over the bibs/auths tables — the Spark-native
  * form of the reference's maintained collections (SURVEY §2.9, §4):
  *
  *  - [[authHeadings]]: the auth-heading dimension, the reference's
  *    one shared Auth cache (dlx/marc/__init__.py:1835-1874). Every
  *    derivation over the same auth plan is the same plan, so the copy
  *    MarcStore persists per auth generation is the one Spark's cache
  *    manager hands to every reader (compiler, typeahead, linked-value
  *    resolution, index builds). At 100 TB the auths table is still
  *    dimension-sized relative to bibs, so every value resolution is a
  *    broadcast, never a fact-table shuffle.
  *  - [[resolveLinked]]: materializes linked subfield values record-
  *    wide (Auth.lookup per subfield becomes ONE broadcast join).
  *  - [[tagPostings]]: the posting frame behind the per-tag indexes —
  *    one (record_type, _id, tag, subfields, words) row per datafield.
  *  - [[tagIndex]]: the `_index_<tag>` collections
  *    (dlx/scripts/build_text_collections.py:48-121) as one
  *    DataFrame: the postings grouped by (tag, field text) with
  *    collected subfield sets + tokenized words.
  *  - [[browseIndex]]: the `_index_<logical field>` collections
  *    (dlx/scripts/build_logical_fields.py:84-102).
  *
  * All are `DataFrame => DataFrame` pipelines: recompute in batch or
  * incrementally maintain via foreachBatch (graft.streaming).
  */
object MarcContext {

  // Column forms of the tokenizer and the collation, backed by the
  // native codegen expressions (TextExprs, CollationNormalizeExpr,
  // CollationSortKeyExpr): no UDF encoder round-trip, and one plan per
  // derivation whatever ran before it. They are registered as SQL
  // functions (so Column code can use call_function) at Column-
  // construction time, once per session, against the active session,
  // else the default one (a thread with no active session): every
  // entry point — store, compiler, index builds, streaming, tests —
  // resolves without an explicit init call. The four register
  // together, so one name tells whether a session has them.
  private def withRegistered(build: => Column): Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sessionState.functionRegistry.functionExists(FunctionIdentifier("dlx_sort_key")))
      .foreach { s =>
        val registry = s.sessionState.functionRegistry
        def register(name: String, expr: Expression => Expression): Unit =
          registry.createOrReplaceTempFunction(name, args => expr(args.head), "built-in")
        register("dlx_scrub", ScrubExpr)
        register("dlx_tokenize", TokenizeExpr)
        register("dlx_normalize", CollationNormalizeExpr)
        register("dlx_sort_key", CollationSortKeyExpr)
      }
    build
  }

  // coalesce keeps the historical UDF null semantics ("".../empty)
  def scrubUdf(c: Column): Column =
    withRegistered(call_function("dlx_scrub", coalesce(c, lit(""))))

  def tokenizeUdf(c: Column): Column =
    withRegistered(call_function("dlx_tokenize", coalesce(c, lit(""))))

  /** Numeric-aware collation sort key (strength-1 +
    * numericOrdering:true — the reference's default collation): byte
    * order == collation order. */
  def sortKeyCol(c: Column): Column = withRegistered(call_function("dlx_sort_key", c))

  /** strength-1 collation shadow: lowercase + strip diacritics
    * (SURVEY §4 collation row). */
  def normalizeCol(c: Column): Column = withRegistered(call_function("dlx_normalize", c))

  /** An auth's heading field: the first datafield whose tag starts
    * with '1' (the reference's heading_field,
    * dlx/marc/__init__.py:2049-2057). try_element_at makes it null,
    * ANSI-mode safe, for an auth without a 1XX. */
  def headingField: Column =
    try_element_at(filter(col("datafields"), f => f.getField("tag").startsWith("1")), lit(1))

  /** (xref, tag, code, value, norm_value) — one row per subfield of
    * each auth's [[headingField]]. */
  def authHeadings(auths: DataFrame): DataFrame =
    auths.select(col("_id").as("xref"), headingField.as("hf"))
      .where(col("hf").isNotNull)
      .select(col("xref"), col("hf.tag").as("tag"), explode(col("hf.subfields")).as("sf"))
      .select(col("xref"), col("tag"), col("sf.code").as("code"), col("sf.value").as("value"))
      .where(col("value").isNotNull)
      .withColumn("norm_value", normalizeCol(col("value")))

  /** Materialize linked subfield values via ONE broadcast join against
    * the heading dimension (the Spark-shaped Auth.lookup). */
  def resolveLinked(records: DataFrame, auths: DataFrame): DataFrame = {
    val dim = broadcast(authHeadings(auths)
      .select(col("xref").as("h_xref"), col("code").as("h_code"), col("value").as("h_value")))
    val exploded = records.select(col("_id").as("r_id"), posexplode(col("datafields")).as(Seq("fpos", "f")))
      .select(col("r_id"), col("fpos"), col("f.tag").as("tag"), col("f.ind1").as("ind1"),
        col("f.ind2").as("ind2"), posexplode(col("f.subfields")).as(Seq("spos", "s")))
    val resolved = exploded
      .join(dim, exploded("s.xref") === dim("h_xref") && exploded("s.code") === dim("h_code"), "left")
      .select(col("r_id"), col("fpos"), col("tag"), col("ind1"), col("ind2"), col("spos"),
        col("s.code").as("code"),
        coalesce(col("s.value"), col("h_value")).as("value"),
        col("s.xref").as("xref"))
    val fields = resolved
      .groupBy("r_id", "fpos", "tag", "ind1", "ind2")
      .agg(sort_array(collect_list(struct(col("spos"), col("code"), col("value"), col("xref")))).as("subs"))
      .withColumn("subfields", transform(col("subs"),
        s => struct(s.getField("code").as("code"), s.getField("value").as("value"), s.getField("xref").as("xref"))))
      .groupBy("r_id")
      .agg(sort_array(collect_list(struct(col("fpos"), col("tag"), col("ind1"), col("ind2"), col("subfields")))).as("fs"))
      .withColumn("datafields", transform(col("fs"), f => struct(
        f.getField("tag").as("tag"), f.getField("ind1").as("ind1"),
        f.getField("ind2").as("ind2"), f.getField("subfields").as("subfields"))))
      .select(col("r_id"), col("datafields"))
    records.drop("datafields")
      .join(fields, records("_id") === fields("r_id"), "left")
      .drop("r_id")
  }

  /** Broadcast-map resolution as a pure Column projection (the
    * reference's Auth.build_cache, dlx/marc/__init__.py:1841-1874):
    * the already-collected heading dimension rides an executor
    * broadcast behind a scalar UDF applied INSIDE the datafields
    * transform — it never pays a MarcRow encoder round-trip for
    * untouched columns, and unlike [[resolveLinked]] it never
    * shuffles. The fastest path while the dimension fits executor
    * memory. */
  private def resolveLinkedMapUdf(records: DataFrame, dim: Map[(Long, String), String]): DataFrame = {
    val spark = records.sparkSession
    val bc = spark.sparkContext.broadcast(dim)
    val lookup = udf((xref: java.lang.Long, code: String) =>
      if (xref == null) null else bc.value.getOrElse((xref.longValue, code), null))
    records.withColumn("datafields",
      transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"),
        f.getField("ind1").as("ind1"),
        f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), s => struct(
          s.getField("code").as("code"),
          when(s.getField("xref").isNotNull && s.getField("value").isNull,
            lookup(s.getField("xref"), s.getField("code")))
            .otherwise(s.getField("value")).as("value"),
          s.getField("xref").as("xref"))).as("subfields"))))
  }

  /** Auto-select the resolution strategy from the dimension's actual
    * size (the reference's build_cache assumption, made checkable):
    * a heading dimension under `maxBroadcastHeadings` rows resolves
    * via the zero-shuffle broadcast-map projection; a larger one
    * falls back to the broadcast-hash-join path. Callers no longer
    * choose. */
  def resolveLinkedAuto(records: org.apache.spark.sql.Dataset[MarcRow], auths: DataFrame,
      maxBroadcastHeadings: Long = 1L << 20): org.apache.spark.sql.Dataset[MarcRow] = {
    import MarcSchema.marcRowEncoder
    val cols = records.columns
    // size probe and dimension fetch fused into ONE bounded collect:
    // take max+1 rows — if the limit was not hit, the dimension is
    // already in hand for the broadcast map (no second scan); if it
    // was, fall back to the shuffle-free broadcast-hash-join path.
    // Clamp BEFORE the +1: a sentinel Long.MaxValue would wrap the
    // limit negative, and any cap >= Int.MaxValue could mistake a
    // truncated collect for the complete dimension.
    val cap = math.max(0L, math.min(maxBroadcastHeadings, Int.MaxValue - 2L))
    val probe = authHeadings(auths).select("xref", "code", "value")
      .limit(cap.toInt + 1).collect()
    if (probe.length <= cap)
      resolveLinkedMapUdf(records.toDF(),
          probe.map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap)
        .select(cols.map(col): _*).as[MarcRow]
    else
      resolveLinked(records.toDF(), auths).select(cols.map(col): _*).as[MarcRow]
  }

  /** Field-level text of a datafield's subfields (resolved values
    * assumed): space-joined subfield values (dlx/marc/__init__.py:921). */
  def fieldTextCol(subfields: Column): Column =
    concat_ws(" ", transform(subfields, s => coalesce(s.getField("value"), lit(""))))

  /** Padded scrubbed text of a field's raw text: the phrase-match form. */
  def fieldPaddedText(raw: Column): Column = concat(lit(" "), scrubUdf(raw), lit(" "))

  private def fieldWords(raw: Column): Column = array_distinct(tokenizeUdf(raw))

  /** The posting frame behind the `_index_<tag>` family: one row per
    * (record, datafield) — (record_type, _id, tag, subfields, distinct
    * stemmed words). The field text is not stored: it is a pure
    * function of `subfields` ([[fieldTextCol]]). `tag = Some(t)` prunes
    * `datafields` to `t` before the explode, so the generate never
    * materializes the other tags' fields. */
  def tagPostings(records: DataFrame, tag: Option[String] = None): DataFrame = {
    val fields = tag.fold(col("datafields"))(t => filter(col("datafields"), f => f.getField("tag") === t))
    records
      .select(col("record_type"), col("_id"), explode(fields).as("f"))
      .select(col("record_type"), col("_id"), col("f.tag").as("tag"), col("f.subfields").as("subfields"),
        fieldWords(fieldTextCol(col("f.subfields"))).as("words"))
  }

  /** The `_index_<tag>` family as one DataFrame:
    * (tag, raw text, subfield (code, value) set, padded scrubbed text,
    * stemmed words) — the groupBy(tag, raw) projection of the posting
    * frame. Hash-aggregation on (tag, raw) — map-side combine, no skew
    * (text keys are near-unique). */
  def tagIndex(recordsResolved: DataFrame): DataFrame = tagIndexOf(tagPostings(recordsResolved))

  /** [[tagIndex]] over an already-built posting frame. */
  def tagIndexOf(postings: DataFrame): DataFrame =
    postings
      .select(col("tag"), fieldTextCol(col("subfields")).as("raw"), explode(col("subfields")).as("s"))
      .where(col("s.value").isNotNull)
      .groupBy("tag", "raw")
      .agg(collect_set(struct(col("s.code").as("code"), col("s.value").as("value"))).as("subfields"))
      .withColumn("text", fieldPaddedText(col("raw")))
      .withColumn("words", fieldWords(col("raw")))

  /** The `_index_<logical field>` family: (field, value, padded
    * scrubbed text, words, record types). */
  def browseIndex(records: DataFrame): DataFrame =
    records
      .select(col("record_type"), explode(col("logical")).as(Seq("field", "values")))
      .where(col("field") =!= "_record_type")
      .select(col("record_type"), col("field"), explode(col("values")).as("value"))
      .groupBy("field", "value")
      .agg(collect_set(col("record_type")).as("_record_type"))
      .withColumn("text", concat(lit(" "), scrubUdf(col("value")), lit(" ")))
      .withColumn("words", array_distinct(tokenizeUdf(scrubUdf(col("value")))))

  /** Per-xref usage counts across auth-controlled tags
    * (calculate_auth_use, dlx/scripts/build_logical_fields.py:218-252):
    * explode -> explode -> groupBy(xref).count — textbook hash agg. */
  def authUseCounts(records: DataFrame): DataFrame =
    records
      .select(explode(col("datafields")).as("f"))
      .select(explode(col("f.subfields")).as("s"))
      .where(col("s.xref").isNotNull)
      .groupBy(col("s.xref").as("xref"))
      .agg(count(lit(1)).as("use_count"))
}
