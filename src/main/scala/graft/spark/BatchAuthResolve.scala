package graft.spark

import graft.config.DlxConfig
import graft.model._
import graft.records.{AmbiguousAuthValue, InvalidAuthValue}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch parse-time authority resolution (round-9 verdict #4).
  *
  * The reference resolves auth-controlled subfields DURING parse, one
  * Mongo lookup per subfield (from_mrk auth control,
  * dlx/marc/__init__.py:1676-1700; xlookup 1913-1939; resolve_ambiguous
  * 1967-1993). `MarcImport` used to replicate that by collecting the
  * WHOLE auth table to the driver to build a row-level AuthIndex — a
  * driver OOM against a real authority file. This resolver keeps the
  * parse auth-free (`authControl = false`, `$0` retained) and runs the
  * SAME per-subfield semantics as two joins against the auth
  * DIMENSION, with only the O(batch) probe and verdict rows ever on
  * the driver:
  *   1. singles: each controlled (code, value) joins the exploded
  *      source-tag subfields — exactly one matching auth resolves the
  *      subfield; zero raises InvalidAuthValue; several go to step 2;
  *   2. ambiguous fields: the field's ambiguous pairs — deduped by
  *      code, last value wins, the xlookup_multi dict(zip(...)) shape
  *      (dlx/marc/__init__.py:1941-1965) — run a set-containment join
  *      against the auth's source-tag subfields; a unique match
  *      resolves the field, several fall back to the
  *      exact-heading-equality rule (ALL pairs, document order, vs the
  *      first 1XX field), none raises AmbiguousAuthValue.
  * `$0N` in a field short-circuits its controlled subfields to xref N
  * with no lookup, mirroring the parse-time capture.
  */
/** One controlled-subfield probe of the import batch (top-level and
  * non-private so the Dataset encoder's generated code can reach the
  * accessors — an object-private case class forces Spark into the
  * interpreted serializer fallback). */
private[spark] final case class BatchProbe(rec: Int, fld: Int, sub: Int,
    src: String, code: String, value: String)

object BatchAuthResolve {

  private type Probe = BatchProbe
  private def Probe(rec: Int, fld: Int, sub: Int, src: String, code: String, value: String) =
    BatchProbe(rec, fld, sub, src, code, value)

  /** Format-specific `$0` capture rules — the REFERENCE differs by
    * serialization, so the resolver must too (round-12 review). The
    * rules themselves (first-digit-prefixed for MRK, last-node
    * digit-filter for XML, divergences on zero digits / Long overflow)
    * are defined ONCE at [[graft.records.ZeroXref]] and shared with
    * the row-level parsers; these vals are the resolver's stable
    * names for them (Cli picks by input extension). Each takes the
    * field's document-ordered `$0` subfield values. */
  val mrkZeroXref: Seq[String] => Option[Long] = graft.records.ZeroXref.mrk
  val xmlZeroXref: Seq[String] => Option[Long] = graft.records.ZeroXref.xml

  /** exploded (tag, code, value, xref) view of EVERY auth subfield —
    * raw values, because xlookup matches raw equality, not collation.
    * Not the heading dimension (MarcContext.authHeadings, first 1XX
    * field only, which MarcStore persists): xlookup matches ANY field
    * of the auth carrying the source tag (dlx/marc/__init__.py:
    * 1913-1939), a different, wider view. */
  private[graft] def authSubs(auths: DataFrame): DataFrame =
    auths.select(col("_id").as("a_xref"), explode(col("datafields")).as("f"))
      .select(col("a_xref"), col("f.tag").as("a_tag"), explode(col("f.subfields")).as("s"))
      .select(col("a_xref"), col("a_tag"), col("s.code").as("a_code"), col("s.value").as("a_value"))
      .where(col("a_value").isNotNull)

  /** Resolve every auth-controlled subfield of `records` against the
    * auth dimension, returning the records with xrefs set and `$0`
    * subfields stripped. Raises InvalidAuthValue / AmbiguousAuthValue
    * exactly where the parse-time path would. */
  def resolve(spark: SparkSession, auths: DataFrame, recordType: String,
      records: Seq[MarcRecord],
      zeroXref: Seq[String] => Option[Long] = mrkZeroXref): Seq[MarcRecord] = {
    import spark.implicits._

    // ---- probe extraction (driver-side walk of the parsed batch)
    val probes = Vector.newBuilder[Probe]
    val captured = scala.collection.mutable.Map.empty[(Int, Int), Long] // $0 capture
    for ((rec, ri) <- records.zipWithIndex; (f, fi) <- rec.fields.zipWithIndex) f match {
      case d: DataField =>
        // format-specific capture over ALL $0 subfields in document
        // order (see ZeroXref; the XML form is gated end-to-end by
        // q203's import leg)
        val zero = zeroXref(d.subfields.collect {
          case s if s.code == "0" && s.value.isDefined => s.value.get })
        for ((s, si) <- d.subfields.zipWithIndex)
          if (DlxConfig.isAuthorityControlled(recordType, d.tag, s.code) && s.xref.isEmpty)
            zero match {
              case Some(x) => captured((ri, fi)) = x
              case None =>
                val src = DlxConfig.authoritySourceTag(recordType, d.tag, s.code).getOrElse(d.tag)
                probes += Probe(ri, fi, si, src, s.code, s.value.getOrElse(""))
            }
      case _ => ()
    }
    val probeSeq = probes.result()
    val resolved = scala.collection.mutable.Map.empty[(Int, Int, Int), Long]

    if (probeSeq.nonEmpty) {
      val dim = authSubs(auths)
      val probesDf = broadcast(probeSeq.toDF())

      // ---- step 1: per-subfield xlookup as one join
      val byKey = probeSeq.map(p => (p.rec, p.fld, p.sub) -> p).toMap
      val singles = singlesFrame(probesDf, dim).collect()
      val ambiguous = Vector.newBuilder[Probe]
      for (r <- singles) {
        val key = (r.getAs[Int]("rec"), r.getAs[Int]("fld"), r.getAs[Int]("sub"))
        r.getAs[Long]("n_matches") match {
          case 1L => resolved(key) = r.getAs[Long]("the_xref")
          case 0L =>
            val p = byKey(key)
            val tag = records(p.rec).fields(p.fld).asInstanceOf[DataField].tag
            throw new InvalidAuthValue(recordType, tag, p.code, p.value)
          case _ => ambiguous += byKey(key)
        }
      }

      // ---- step 2: per-field disambiguation (set-containment join +
      // exact-heading-equality tiebreak), only for the ambiguous pairs.
      // Probes sort by SUBFIELD INDEX: step 1's collect order is
      // nondeterministic post-shuffle, while the reference compares
      // (code, value) pairs in subfield document order
      // (resolve_ambiguous, dlx/marc/__init__.py:1967-1993).
      val ambByField = ambiguous.result().groupBy(p => (p.rec, p.fld))
        .map { case (k, ps) => k -> ps.sortBy(_.sub) }
      if (ambByField.nonEmpty) {
        // the reference's xlookup_multi collapses repeated codes via
        // dict(zip(codes, values)) — LAST value per code wins
        // (dlx/marc/__init__.py:1941-1965) — so the containment join
        // probes only the deduped pairs; the exact-heading tiebreak
        // below still compares ALL pairs in document order. The match
        // scope stays "any source-tag field of the auth": the compiled
        // Mongo shape ({tag.subfields: {$all: [$elemMatch, ...]}},
        // dlx/marc/query.py:653-674) lets each pair be satisfied by a
        // different field occurrence, exactly like this engine's own
        // FieldCond compile — so no per-occurrence scoping here.
        val dedupByField = ambByField.map { case (k, ps) =>
          k -> ps.foldLeft(scala.collection.immutable.ListMap.empty[String, Probe]) {
            (m, p) => m.updated(p.code, p)
          }.values.toVector
        }
        val pairProbes = broadcast(dedupByField.iterator.flatMap { case ((ri, fi), ps) =>
          ps.map(p => (ri, fi, p.src, p.code, p.value))
        }.toSeq.toDF("rec", "fld", "src", "code", "value"))
        val nPairs = dedupByField.map { case (k, ps) => k -> ps.size }
        // one row per (field, candidate auth) with every pair matched
        val multi = pairProbes
          .join(dim, col("src") === col("a_tag") && col("code") === col("a_code") &&
            col("value") === col("a_value"))
          .groupBy(col("rec"), col("fld"), col("a_xref"))
          .agg(countDistinct(col("code"), col("value")).as("n_hit"))
          .collect()
          .groupBy(r => (r.getAs[Int]("rec"), r.getAs[Int]("fld")))
        // exact-heading pairs for the many-candidates rule: the FIRST
        // 1XX field's ordered (code, value) list (the reference's
        // heading_field, dlx/marc/__init__.py:2049-2057, as
        // resolve_ambiguous reads it). Scoped to the candidate xrefs —
        // a bounded pull, never the dimension.
        def headingPairs(cands: Seq[Long]): Map[Long, Seq[(String, String)]] =
          auths.where(col("_id").isin(cands: _*))
            .select(col("_id").as("a_xref"), MarcContext.headingField.as("hf"))
            .where(col("hf").isNotNull)
            .select(col("a_xref"), transform(col("hf.subfields"),
              s => struct(s.getField("code").as("c"),
                coalesce(s.getField("value"), lit("")).as("v"))).as("pairs"))
            .collect()
            .iterator.map(r => r.getAs[Long]("a_xref") ->
              r.getAs[Seq[org.apache.spark.sql.Row]]("pairs")
                .map(p => (p.getString(0), p.getString(1))))
            .toMap
        for (((ri, fi), ps) <- ambByField) {
          val want = nPairs((ri, fi))
          val cands = multi.getOrElse((ri, fi), Array.empty)
            .filter(_.getAs[Long]("n_hit") == want.toLong).map(_.getAs[Long]("a_xref")).toSeq
          val pairs = ps.map(p => (p.code, p.value))
          val winner = cands match {
            case Seq(one) => Some(one)
            case Seq() => None
            case many =>
              val hp = headingPairs(many)
              val exact = many.filter(x => hp.get(x).contains(pairs))
              if (exact.length == 1) Some(exact.head) else None
          }
          winner match {
            case Some(x) => ps.foreach(p => resolved((p.rec, p.fld, p.sub)) = x)
            case None =>
              val tag = records(ri).fields(fi).asInstanceOf[DataField].tag
              throw new AmbiguousAuthValue(recordType, tag, ps.head.code, ps.head.value)
          }
        }
      }
    }

    // ---- patch the records: set xrefs, strip $0
    records.zipWithIndex.map { case (rec, ri) =>
      rec.copy(fields = rec.fields.zipWithIndex.map {
        case (d: DataField, fi) =>
          val subs = d.subfields.zipWithIndex.flatMap { case (s, si) =>
            if (s.code == "0") None
            else if (DlxConfig.isAuthorityControlled(recordType, d.tag, s.code) && s.xref.isEmpty) {
              val x = captured.get((ri, fi)).orElse(resolved.get((ri, fi, si)))
              Some(Subfield(s.code, None, x))
            } else Some(s)
          }
          d.copy(subfields = subs)
        case (f, _) => f
      })
    }
  }

  /** step-1 plan, exposed so CliSpec can pin that resolution is a join
    * against the auth dimension scan (no driver collect of auths). */
  private[graft] def singlesFrame(probesDf: DataFrame, dim: DataFrame): DataFrame =
    probesDf.join(dim,
        col("src") === col("a_tag") && col("code") === col("a_code") &&
          col("value") === col("a_value"), "left")
      .groupBy(col("rec"), col("fld"), col("sub"))
      .agg(countDistinct(col("a_xref")).as("n_matches"), min(col("a_xref")).as("the_xref"))
}
