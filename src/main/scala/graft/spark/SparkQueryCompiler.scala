package graft.spark

import graft.config.DlxConfig
import graft.query._
import graft.query.Cond._
import graft.query.CondVal._
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.regex.Pattern

/** Compiles the query AST to Catalyst Column predicates over the
  * canonical MarcRow schema.
  *
  * Where the reference performs parse-time database reads
  * (dlx/marc/query.py:137-199: resolve text/regex terms against
  * `_index_<tag>`, auth values against `auths`), this compiler
  * resolves against the tag posting frame (MarcContext.tagPostings)
  * and the browseIndex/authHeadings DataFrames.
  *
  * Execution strategy (SCALING.md):
  *  - `run` routes top-level positive text/regex conditions through
  *    a two-step lookup on the tag's postings — matched values, then
  *    the ids of postings carrying them — and one LEFT SEMI join of
  *    the records on `_id`: the matches are never collected, so an
  *    arbitrarily broad term is safe at 100 TB.
  *  - Conditions that must become Column predicates (nested in OR,
  *    negated, logical-field text/regex) resolve to `isin` in-lists
  *    capped at the reference's limit (dlx/marc/query.py:194-199).
  *    Past the cap the behavior mirrors the reference exactly: REGEX
  *    conditions degrade to a direct regex predicate over the record's
  *    own values (query.py:194-206 falls back to a raw Condition);
  *    TEXT conditions, fielded and logical, RAISE InvalidQueryString
  *    ("too many hits ... Try narrowing the search", query.py:313-318
  *    fielded, 452-458 logical). The semi-join path above is the
  *    deliberate divergence: a top-level positive text search never
  *    resolves an in-list at all, so it has no cap to exceed.
  *  - Resolved auth XREF lists (the reference collects these uncapped,
  *    query.py:340-358) are capped at `maxResolvedXrefs`; past the cap
  *    the matching heading slice stays a DataFrame and the predicate
  *    becomes a distributed flag join (`filterFrame`) — never a
  *    megabyte-scale driver INSET against a grown authority file.
  * Structural conditions compile to pure higher-order-function
  * expressions (exists/filter over the datafields array) — fully
  * codegen'd, no UDFs on the hot path.
  */
final class SparkQueryCompiler(spark: SparkSession, bibs: DataFrame, auths: DataFrame,
    maxResolvedValues: Int = 10000, maxResolvedXrefs: Int = 131072) {

  import MarcContext._

  // Not cached by default: a one-shot query prunes each record's
  // datafields to the queried tag before the explode (tagEntriesFor),
  // so it only tokenizes that tag's fields. Call cacheIndexes() for
  // repeated querying: both phases of a tag search then read the
  // cached posting frame and touch the record table only in the final
  // `_id` semi join.
  lazy val postings: DataFrame = {
    val records = bibs.unionByName(auths)
    tagPostings(records).coalesce(postingPartitions(records))
  }
  /** The `_index_<tag>` shape, (tag, raw, subfields, text, words): the
    * grouped projection of [[postings]], never cached itself. */
  lazy val tagIdx: DataFrame = tagIndexOf(postings)
  lazy val browseIdx: DataFrame = browseIndex(bibs.unionByName(auths))
  /** Over a MarcStore's `read("auth")` this is the store's persisted
    * dimension of the current auth generation: the same plan, so
    * Spark's cache manager serves it. */
  lazy val headings: DataFrame = authHeadings(auths)

  def cacheIndexes(): this.type = {
    postings.cache(); browseIdx.cache(); headings.cache(); this
  }

  /** Partitions of the posting frame: one per 128 MB of record input
    * (the scan split size), at least one. A scan spreads even a small
    * table over every core, and a search pays one task per partition on
    * each pass over the cached frame; for an index of a few MB that
    * fixed cost, not the rows, is what the passes cost. Coalescing
    * merges partitions without a shuffle. */
  private def postingPartitions(records: DataFrame): Int = {
    val bytes = records.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / (128L << 20) + 1).min(Int.MaxValue).toInt
  }

  /** One tag's postings, (record_type, _id, tag, subfields, words):
    * the cached frame filtered to `tag`, or — uncached — the records
    * with `datafields` pruned to `tag` before the explode. */
  private def tagEntriesFor(tag: String): DataFrame =
    if (postings.storageLevel.useMemory) postings.where(col("tag") === tag)
    else tagPostings(bibs.unionByName(auths), Some(tag))

  private def records(recordType: String): DataFrame =
    if (recordType == "auth") auths else bibs

  /** Default execution path: top-level positive text/regex conditions
    * run as LEFT SEMI joins against the index DataFrames (no driver
    * materialization, no size cap — the 100 TB-safe plan); everything
    * else compiles to Column predicates, where any residual index
    * resolution is capped at the reference's in-list limit
    * (dlx/marc/query.py:194-199) with a direct-predicate fallback. */
  def run(ast: QueryAst): DataFrame = runSemiJoin(ast)

  def run(query: String, recordType: String = "bib"): DataFrame =
    run(QueryParser.parse(query, recordType))

  /** The pure-predicate path (collected in-lists, capped): used by
    * history queries and tests; `run` prefers the semi-join plan. */
  def runInList(ast: QueryAst): DataFrame =
    filterFrame(records(ast.recordType), ast)

  def runInList(query: String, recordType: String = "bib"): DataFrame =
    runInList(QueryParser.parse(query, recordType))

  /** The unbounded-match execution path (SCALING.md): top-level
    * positive text/regex conditions become LEFT SEMI joins instead of
    * collected in-lists — nothing is collected, no size cap.
    * Each runs in two steps over the tag's postings (tagEntriesFor):
    * resolve the matched values over both record types, then keep the
    * `_id`s of this record type's postings that carry a matched value
    * (or an xref to a matched heading). The record table is touched
    * once, by the final `_id` semi join; the `record_type` filter is
    * required because bib and auth ids overlap. Catalyst/AQE picks
    * broadcast vs shuffled joins from runtime sizes. Remaining
    * conditions compile to predicates as usual. */
  def runSemiJoin(ast: QueryAst): DataFrame = {
    val rt = ast.recordType
    val (joinable, rest) = ast.conditions.partition {
      case TagText(_, _, _, false, _) => true
      case TagRegex(_, _, _, false, _) => true
      case _ => false
    }
    var df = records(rt)
    if (rest.nonEmpty) {
      val p = new Pending
      val pred = rest.map(compileCond(_, rt, p)).reduce(_ && _)
      df = applyFlags(df, p, pred, Seq("_id"))
    }

    for (cond <- joinable) {
      val (tag, code, values) = cond match {
        case TagRegex(t, c, rx, _, _) => (t, c, tagRegexValues(t, c, rx))
        case TagText(t, c, tq, _, _) => (t, c, tagTextValues(t, c, tq))
        case other => throw new IllegalStateException(other.toString)
      }
      val matchedValues = values.select(normalizeCol(col("v")).as("mnorm"))
      // this record type's subfields of the tag, one row per (_id,
      // subfield). Every step is a semi join, so repeats on either side
      // never multiply rows and no step needs a distinct (a shuffle).
      val subs = tagEntriesFor(tag).where(col("record_type") === rt)
        .select(col("_id").as("rid"), explode(col("subfields")).as("s"))
      val codeScoped = code.map(c => subs.where(col("s.code") === c)).getOrElse(subs)
      val valueHits = codeScoped
        .where(col("s.xref").isNull) // linked subfields match via xref branch
        .join(matchedValues, normalizeCol(col("s.value")) === col("mnorm"), "left_semi")
        .select("rid")
      // auth xref OR branch: heading values in the matched set
      val xrefHits = controlledSourceTag(rt, tag, code) match {
        case Some(src) =>
          val xrefDf = headings.where(col("tag") === src)
            .join(matchedValues, col("norm_value") === col("mnorm"), "left_semi")
            .select(col("xref").as("mxref"))
          subs.join(xrefDf, col("s.xref") === col("mxref"), "left_semi").select("rid")
        case None => df.sparkSession.emptyDataFrame.withColumn("rid", lit(0L)).limit(0).select("rid")
      }
      val hits = valueHits.union(xrefHits)
      df = df.join(hits, df("_id") === hits("rid"), "left_semi")
    }
    df
  }

  def runSemiJoin(query: String, recordType: String): DataFrame =
    runSemiJoin(QueryParser.parse(query, recordType))

  /** Sorted from_query: the reference applies its default collation
    * (strength 1, numericOrdering:true — dlx/config.py:340) to BOTH
    * matching and sorting (dlx/marc/__init__.py:122-124), so a sort on
    * a field value must put "A/9" before "A/10". Orders the matched
    * records by the numeric-aware collation sort key of the FIRST
    * (sortTag, sortCode) value (Mongo sorts a document by its array
    * path's first element for our single-instance heading fields),
    * tiebreak _id for determinism. The key is a plain codegen'd string
    * expression, so this is one ordinary Spark Sort — range-partitioned
    * and spillable at scale, no collation comparator UDF. */
  def runSorted(query: String, recordType: String, sortTag: String, sortCode: String,
      ascending: Boolean = true): DataFrame = {
    val matched = runSemiJoin(QueryParser.parse(query, recordType))
    val firstVal = try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === sortTag),
      f => transform(filter(f.getField("subfields"), sf => sf.getField("code") === sortCode),
        sf => sf.getField("value")))), lit(1))
    val key = sortKeyCol(firstVal)
    matched.orderBy(
      (if (ascending) key.asc_nulls_last else key.desc_nulls_last),
      col("_id").asc)
  }

  /** Pure-Column compile, for callers that AND the predicate into
    * their own plan (q58's Raw escape hatch). Over-cap xref branches
    * need a join the caller would have to apply, so this path refuses
    * them — production queries run through `run`/`filterFrame`, which
    * degrade distributively instead. */
  def compile(ast: QueryAst): Column = {
    val p = new Pending
    val c = ast.conditions.map(compileCond(_, ast.recordType, p))
      .reduceOption(_ && _).getOrElse(lit(true))
    if (p.flags.nonEmpty) throw new InvalidQueryString(
      s"Query resolves more than $maxResolvedXrefs auth xrefs; " +
        "run it through run/filterFrame (distributed xref join) or narrow the search")
    c
  }

  /** Apply the compiled predicate of `ast` to `df` — any frame with
    * the canonical `datafields` column and a unique `keys` tuple
    * (live records: `_id`; history: `(_id, version_no)`). Over-cap
    * xref branches become per-flag joins: df's tag-scoped subfield
    * xrefs join the matching heading slice, the distinct key set
    * left-joins back as a boolean column, and the predicate reads the
    * flag — composable under NOT/OR, never a driver materialization. */
  def filterFrame(df: DataFrame, ast: QueryAst, keys: Seq[String] = Seq("_id")): DataFrame = {
    val p = new Pending
    val pred = ast.conditions.map(compileCond(_, ast.recordType, p))
      .reduceOption(_ && _).getOrElse(lit(true))
    applyFlags(df, p, pred, keys)
  }

  private def applyFlags(df: DataFrame, p: Pending, pred: Column, keys: Seq[String]): DataFrame = {
    if (p.flags.isEmpty) return df.where(pred)
    var out = df
    for (fl <- p.flags) {
      val sub = df.select(keys.map(col) :+
          explode(filter(col("datafields"), f => f.getField("tag") === fl.tag)).as("__f"): _*)
        .select(keys.map(col) :+ explode(col("__f.subfields")).as("__s"): _*)
      val scoped = fl.code.map(c => sub.where(col("__s.code") === c)).getOrElse(sub)
      val hits = scoped.join(fl.hits, col("__s.xref") === col("mxref"))
        .select(keys.map(col): _*).distinct()
        .withColumn(fl.name, lit(true))
      out = out.join(hits, keys, "left")
    }
    out.where(pred).drop(p.flags.map(_.name).toSeq: _*)
  }
  // ---- resolution against the derived DataFrames. Collected VALUE
  // in-lists are capped at the reference's limit (dlx/marc/query.py:
  // 194-199: 1 MB serialized); past the cap, regex conditions fall
  // back to a direct predicate over the record (query.py:194-206) and
  // text conditions raise (query.py:313-318, 452-458) — the reference's
  // exact split. Resolved XREF lists (uncapped driver lists in the
  // reference) are capped at maxResolvedXrefs (131,072 longs = the
  // same 1 MB discipline); past the cap the branch becomes a pending
  // flag join instead of an INSET.

  /** A resolved xref branch: a driver in-list while it fits, or —
    * past maxResolvedXrefs — the matching heading slice kept as a
    * DataFrame (col "mxref") for a distributed flag join. */
  private sealed trait XrefSet { def nonEmpty: Boolean }
  private case class XrefList(xrefs: Seq[Long]) extends XrefSet { def nonEmpty = xrefs.nonEmpty }
  private case class XrefFrame(hits: DataFrame) extends XrefSet { def nonEmpty = true }
  private val noXrefs: XrefSet = XrefList(Nil)

  /** One pending flag join: records whose `tag` field carries a
    * subfield (optionally code-scoped) with an xref in `hits`.
    * (A plain class, not a case class: 2.13 deprecates the widened
    * `apply` a private case class constructor would generate.) */
  private final class XrefFlag(val name: String, val tag: String,
      val code: Option[String], val hits: DataFrame)

  private final class Pending {
    val flags = scala.collection.mutable.ArrayBuffer.empty[XrefFlag]
    private var n = 0
    def flag(tag: String, code: Option[String], hits: DataFrame): Column = {
      val nm = s"__xref_hit_$n"; n += 1
      flags += new XrefFlag(nm, tag, code, hits)
      coalesce(col(nm), lit(false))
    }
  }

  /** Collect the distinct xrefs of a heading-dimension hit frame
    * unless they exceed maxResolvedXrefs (longs are fixed-width, so
    * the row cap IS the reference-style byte cap). */
  private def resolveXrefSet(hit: DataFrame): XrefSet = {
    val distinctXrefs = hit.select("xref").distinct()
    val rows = distinctXrefs.limit(maxResolvedXrefs + 1).collect()
    if (rows.length > maxResolvedXrefs) XrefFrame(distinctXrefs.select(col("xref").as("mxref")))
    else XrefList(rows.iterator.map(_.getLong(0)).toSeq)
  }

  /** the reference's 1 MB in-list byte cap (dlx/marc/query.py:194-199) */
  private val maxResolvedBytes = 1 << 20

  /** Collect a single-string-column DataFrame unless it exceeds the
    * caps (row-count guard + the reference's 1 MB byte cap);
    * None = too big, use the fallback predicate. */
  private def collectCapped(values: DataFrame): Option[Seq[String]] = {
    val rows = values.limit(maxResolvedValues + 1).collect()
    if (rows.length > maxResolvedValues) None
    else {
      val vs = rows.iterator.map(_.getString(0)).filter(_ != null).toSeq
      if (vs.iterator.map(_.length).sum > maxResolvedBytes) None else Some(vs)
    }
  }

  private def normalize(s: String): String = Collation.normalize(s)

  // ---- the match rules, each written once

  /** The one regex rule: every pattern the compiler matches, parsed or
    * built (phrases, wildcards), goes through here; a case-insensitive
    * Rx carries the inline flag. */
  private def regexMatch(c: Column, rx: Rx): Column =
    c.rlike(if (rx.ci) "(?i)" + rx.pattern else rx.pattern)

  /** `c` (already normalized) is one of the normalized `values`. */
  private def normIn(c: Column, values: Seq[String]): Column = c.isin(values.map(normalize): _*)

  /** The match of a CondVal on a string column: collated equality for
    * Exact and TextMode, the regex for Rx, anything for Star. */
  private def valueMatch(c: Column, cv: CondVal): Column = cv match {
    case Exact(v) => normalizeCol(c) === normalize(v)
    case TextMode(v) => normalizeCol(c) === normalize(v)
    case rx: Rx => regexMatch(c, rx)
    case Star => lit(true)
  }

  /** The same match on a heading-dimension row (None: Star resolves no
    * heading). */
  private def headingMatch(cv: CondVal): Option[Column] = cv match {
    case Exact(v) => Some(col("norm_value") === normalize(v))
    case TextMode(v) => Some(col("norm_value") === normalize(v))
    case rx: Rx => Some(regexMatch(col("value"), rx))
    case Star => None
  }

  /** The one heading-slice lookup: the ids of auths whose `src`
    * heading subfield (of `code`, if given) passes `test`. */
  private def headingXrefs(src: String, code: Option[String], test: Column): XrefSet = {
    val scope = code.fold(col("tag") === src)(c => col("tag") === src && col("code") === c)
    resolveXrefSet(headings.where(scope && test))
  }

  /** First configured source tag of an authority-controlled tag, if
    * the code scope stays within authority control. */
  private def controlledSourceTag(rt: String, tag: String, code: Option[String]): Option[String] =
    DlxConfig.authorityControlled(rt).get(tag).filter(m => code.forall(m.contains)).map(_.values.head)

  /** A fielded text query's filters over an index frame, one `where`
    * each: every stemmed term in `words`, no negated term, every
    * phrase between word boundaries in `text`. */
  private def textFiltered(entries: DataFrame, tq: TextQuery, text: Column): DataFrame = {
    val words = col("words")
    val filters = Tokenizer.tokenize(tq.terms).map(t => array_contains(words, t)) ++
      Tokenizer.tokenize(tq.negated.mkString(" ")).map(t => !array_contains(words, t)) ++
      tq.phrases.map(p => regexMatch(text, Rx("\\b" + Pattern.quote(p) + "\\b")))
    filters.foldLeft(entries)(_ where _)
  }

  private def tooManyHits(tq: TextQuery, field: String) = new InvalidQueryString(
    s"""Text search "${tq.terms}" has too many hits on field "$field". Try narrowing the search""")

  /** The tag's subfield values (col "v") matching a regex, one row per
    * matching posting subfield: repeats are kept for the semi joins of
    * runSemiJoin; the in-list resolvers take them distinct. */
  private def tagRegexValues(tag: String, code: Option[String], rx: Rx): DataFrame = {
    val subs = tagEntriesFor(tag)
      .select(explode(col("subfields")).as("s"))
      .select(col("s.code").as("c"), col("s.value").as("v"))
    code.map(c => subs.where(col("c") === c)).getOrElse(subs)
      .where(col("v").isNotNull && regexMatch(col("v"), rx))
      .select("v")
  }

  /** The tag's subfield values (col "v") matching a fielded text query,
    * one row per matching posting subfield, repeats kept. */
  private def tagTextValues(tag: String, code: Option[String], tq: TextQuery): DataFrame = {
    // the phrase form of the field text is derived, not stored
    val entries = textFiltered(tagEntriesFor(tag), tq, fieldPaddedText(fieldTextCol(col("subfields"))))
    val values = entries.select(explode(col("subfields")).as("s"))
      .select(col("s.code").as("c"), col("s.value").as("v"))
    val scoped = code.map(c => values.where(col("c") === c)).getOrElse(values)
      .where(col("v").isNotNull && col("v") =!= "")
    // value-level term containment evaluated in the cluster (not on the
    // driver): each value must itself contain every stemmed term
    Tokenizer.tokenize(tq.terms)
      .foldLeft(scoped)((d, w) => d.where(array_contains(tokenizeUdf(col("v")), w)))
      .select("v")
  }

  /** subfield values matched by a regex in the tag index (capped;
    * None = beyond the reference's in-list limit). */
  private def resolveTagRegex(tag: String, code: Option[String], rx: Rx): Option[Seq[String]] =
    collectCapped(tagRegexValues(tag, code, rx).distinct())

  /** subfield values matched by field-level text search + value-level
    * term containment (capped). */
  private def resolveTagText(tag: String, code: Option[String], tq: TextQuery): Option[Seq[String]] =
    collectCapped(tagTextValues(tag, code, tq).distinct())

  // ---- Column predicate builders over the canonical schema

  private def fieldsOf(tag: String): Column =
    filter(col("datafields"), f => f.getField("tag") === tag)

  private def existsField(tag: String, pred: Column => Column): Column =
    exists(fieldsOf(tag), pred)

  private def subMatch(code: Option[String], valuePred: Column => Column): Column => Column =
    f => exists(f.getField("subfields"), s =>
      code.map(c => s.getField("code") === c).getOrElse(lit(true)) && valuePred(s))

  /** Reference BSON stores NO value key on linked subfields
    * (dlx/marc/__init__.py:2689-2725) — a value predicate can only
    * match literal subfields; xref-carrying ones match via the xref
    * branch. The canonical MarcRow materializes linked values for
    * display/serialization, so every value predicate carries an
    * explicit `xref IS NULL` guard to reproduce the reference
    * semantics (QueryParitySpec found the divergence). */
  private def literalOnly(pred: Column => Column): Column => Column =
    s => s.getField("xref").isNull && pred(s)

  private def subValue(cv: CondVal): Column => Column =
    literalOnly(s => valueMatch(s.getField("value"), cv))

  private def xrefIn(xrefs: Seq[Long]): Column => Column =
    s => if (xrefs.isEmpty) lit(false) else s.getField("xref").isin(xrefs: _*)

  private def logicalValues(field: String): Column =
    coalesce(col("logical").getItem(field), array())

  private def compileCond(cond: Cond, rt: String, pnd: Pending): Column = cond match {
    case AndCond(cs) => cs.map(compileCond(_, rt, pnd)).reduce(_ && _)
    case OrCond(cs) => cs.map(compileCond(_, rt, pnd)).reduce(_ || _)
    case MatchNothing => lit(false)

    case FieldCond(tag, subs, modifier, _) =>
      // Left = subfield-level predicate; Right = record-level flag
      // column (over-cap xref branch, code-scoped flag join)
      def pairPred(code: String, cv: CondVal): Either[Column => Column, Column] =
        DlxConfig.authoritySourceTag(rt, tag, code) match {
          case Some(src) =>
            headingMatch(cv).fold(noXrefs)(headingXrefs(src, Some(code), _)) match {
              case XrefList(xs) => Left(s => s.getField("code") === code && xrefIn(xs)(s))
              case XrefFrame(hits) => Right(pnd.flag(tag, Some(code), hits))
            }
          case None => Left(s => s.getField("code") === code && subValue(cv)(s))
        }
      lazy val preds = subs.map { case (c, v) => pairPred(c, v) }
      modifier match {
        case None =>
          // each pair independently requires SOME field of the tag to
          // match it, so a record-level flag substitutes directly
          preds.map {
            case Left(p) => existsField(tag, f => exists(f.getField("subfields"), p))
            case Right(flag) => flag
          }.reduce(_ && _)
        case Some("not") =>
          // all pairs must match within the SAME field; a record-level
          // flag loses that constraint, so it only composes when it is
          // the lone pair (then field-level and record-level coincide)
          preds match {
            case Seq(Right(flag)) => !flag
            case ps if ps.forall(_.isLeft) =>
              val fns = ps.collect { case Left(fn) => fn }
              !existsField(tag, f =>
                fns.map(fn => exists(f.getField("subfields"), fn)).reduce(_ && _))
            case _ => throw new InvalidQueryString(
              s"NOT condition on $tag resolves more than $maxResolvedXrefs auth xrefs " +
                "alongside other subfield constraints. Try narrowing the search")
          }
        case Some("exists") => size(fieldsOf(tag)) > 0
        case Some("not_exists") => size(fieldsOf(tag)) === 0
        case Some(m) => throw new InvalidQueryString(s"Invalid modifier: $m")
      }

    case TagValue(tag, cv, not, _) =>
      tagPredicate(rt, tag, None, subValue(cv), headingMatch(cv), not, pnd)

    case TagRegex(tag, code, rx, not, _) =>
      resolveTagRegex(tag, code, rx) match {
        // reference quirk: zero matches = match-nothing, even under NOT
        case Some(matched) if matched.isEmpty => lit(false)
        case Some(matched) => inSetPredicate(rt, tag, code, matched, not, pnd)
        // past the cap the reference falls back to a direct regex
        // condition (dlx/marc/query.py:194-206): regex the record's own
        // subfield values and the heading dimension
        case None => tagPredicate(rt, tag, code, subValue(rx), headingMatch(rx), not, pnd)
      }

    case TagText(tag, code, tq, not, _) =>
      resolveTagText(tag, code, tq) match {
        case Some(matched) if matched.isEmpty => lit(false)
        case Some(matched) => inSetPredicate(rt, tag, code, matched, not, pnd)
        case None => throw tooManyHits(tq, tag)
      }

    case SubfieldExists(tag, code, not) =>
      val hit = existsField(tag, subMatch(Some(code), _ => lit(true)))
      if (not) !hit else hit

    case TagExists(tag, not) =>
      val hit = size(fieldsOf(tag)) > 0 || exists(col("controlfields"), c => c.getField("tag") === tag)
      if (not) !hit else hit

    case IdEquals(id) => col("_id") === id

    case CtrlEquals(tag, value) =>
      exists(col("controlfields"), c =>
        c.getField("tag") === tag && normalizeCol(c.getField("value")) === normalize(value))

    case DateCompare(field, op, date) =>
      val c = col(field)
      val d0 = java.sql.Timestamp.from(date.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val d1 = java.sql.Timestamp.from(date.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      op match {
        case "<" => c <= lit(d0)
        case ">" => c >= lit(d0)
        case _ => c >= lit(d0) && c <= lit(d1)
      }

    case UserMatch(field, cv) =>
      val c = if (field == "user") col("user") else col("created_user")
      if (cv == Star) c.isNotNull else valueMatch(c, cv)

    case XrefRef(xref, not, _) =>
      val tags = DlxConfig.authorityControlled(rt).keys.toSeq
      val hit = exists(col("datafields"), f =>
        f.getField("tag").isin(tags: _*) &&
          exists(f.getField("subfields"), s => s.getField("xref") === xref))
      if (not) !hit else hit

    case LogicalExists(field, not) =>
      val hit = size(logicalValues(field)) > 0
      if (not) !hit else hit

    case LogicalExact(field, value) =>
      exists(logicalValues(field), v => normalizeCol(v) === normalize(value))

    case LogicalRx(field, rx, not) =>
      logicalInList(field, browseIdx.where(col("field") === field && regexMatch(col("value"), rx)), not)
        .getOrElse {
          // beyond the in-list cap: regex the record's own logical values
          val hit = exists(logicalValues(field), v => regexMatch(v, rx))
          if (not) !hit else hit
        }

    case LogicalText(field, tq, not) =>
      logicalInList(field, textFiltered(browseIdx.where(col("field") === field), tq, col("text")), not)
        .getOrElse(throw tooManyHits(tq, field))

    case FreeText(tq) =>
      val terms = Tokenizer.tokenize(tq.terms).filterNot(Tokenizer.stopWords.contains)
      val negated = Tokenizer.tokenize(tq.negated.mkString(" "))
      val termCols = terms.map(t => array_contains(col("words"), t))
      val negCols = negated.map(t => !array_contains(col("words"), t))
      val phraseCols = tq.phrases.map { q =>
        val phrase = Tokenizer.scrub(q.stripPrefix("\"").stripSuffix("\""))
        regexMatch(col("text"), Rx("\\s" + Pattern.quote(phrase) + "\\s"))
      }
      val starCols = tq.starred.map(st =>
        regexMatch(col("text"), Rx(" " + st.split("\\*", -1).map(Pattern.quote).mkString(".*"))))
      (termCols ++ negCols ++ phraseCols ++ starCols)
        .reduceOption(_ && _).getOrElse(lit(true))
  }

  /** A logical-field condition resolved to the browse-index `entries`
    * it matches: an in-list over the record's own logical values; no
    * entry matches nothing, even under NOT. None = over the cap. */
  private def logicalInList(field: String, entries: DataFrame, not: Boolean): Option[Column] =
    collectCapped(entries.select("value").distinct()).map { values =>
      if (values.isEmpty) lit(false)
      else {
        val hit = exists(logicalValues(field), v => normIn(normalizeCol(v), values))
        if (not) !hit else hit
      }
    }

  /** The xref OR-branch as a Column: an INSET while the resolved set
    * fits, a pending flag join past the cap (any-code scope — the
    * shape every non-FieldCond site uses). */
  private def xrefHitCol(tag: String, xrefs: XrefSet, pnd: Pending): Column = xrefs match {
    case XrefList(xs) => existsField(tag, subMatch(None, xrefIn(xs)))
    case XrefFrame(hits) => pnd.flag(tag, None, hits)
  }

  /** The value-or-xref shape of a tag-level condition: a field of
    * `tag` carries a literal subfield (of `code`, if given) passing
    * `value`, or an xref to a heading of the tag's source tag passing
    * `heading` (any code). With no xref resolved it is the value test
    * alone, negated or not. */
  private def tagPredicate(rt: String, tag: String, code: Option[String], value: Column => Column,
      heading: Option[Column], not: Boolean, pnd: Pending): Column = {
    val valueHit = existsField(tag, subMatch(code, value))
    val xrefs = heading.fold(noXrefs)(t =>
      controlledSourceTag(rt, tag, code).fold(noXrefs)(headingXrefs(_, None, t)))
    if (!xrefs.nonEmpty) (if (not) !valueHit else valueHit)
    else {
      val xrefHit = xrefHitCol(tag, xrefs, pnd)
      if (not) !valueHit && !xrefHit else valueHit || xrefHit
    }
  }

  /** value-in-set predicate with the auth xref OR branch. */
  private def inSetPredicate(rt: String, tag: String, code: Option[String],
      matched: Seq[String], not: Boolean, pnd: Pending): Column =
    tagPredicate(rt, tag, code, literalOnly(s => normIn(normalizeCol(s.getField("value")), matched)),
      Some(normIn(col("norm_value"), matched)), not, pnd)
}
