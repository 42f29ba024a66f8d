package graft.queries

import graft.model.{AuthLookup, MarcRecord}
import graft.records.Serialization
import graft.spark.{AuthOps, DerivedColumns, MarcContext, SparkQueryCompiler}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** MARC-engine operators run through the driver's correctness gate.
  *
  * The testdata has no MARC records, so these queries first construct
  * a deterministic MARC corpus from it, entirely with Column
  * expressions (no driver-side loops):
  *
  *   auth records:  one per `part` row — _id = p_partkey, heading
  *                  150$a = p_name (the auth dimension);
  *   bib records:   one per `orders` row — _id = o_orderkey,
  *                  245$a = o_orderpriority, 245$b = o_orderstatus,
  *                  269$a = o_orderdate (yyyy-MM-dd),
  *                  650$a = xref -> min(l_partkey) of the order's
  *                  lineitems (absent if the order has none).
  *
  * Each query then exercises one SURVEY §2 operator family (query DSL
  * compilation, broadcast auth resolution, logical fields,
  * serialization, auth-use aggregation) and flattens the result so
  * DuckDB can replay the construction + operator in ANSI SQL.
  */
object MarcOps {

  private[queries] def sub(code: String, value: Column, xref: Column = lit(null).cast("long")): Column =
    struct(lit(code).as("code"), value.as("value"), xref.cast("long").as("xref"))

  private[queries] def field(tag: String, subs: Column*): Column =
    struct(lit(tag).as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
      array(subs: _*).as("subfields"))

  // The gate invokes each query independently but shares the session;
  // memoize the constructed corpus per input dir (persisted) so eight
  // MARC queries pay the construction join once.
  private val corpusCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def cached(kind: String, dir: String)(build: => DataFrame): DataFrame =
    corpusCache.getOrElseUpdate((kind, dir), {
      val df = build
      // Re-spread BEFORE persisting (round 13, guide §2.5 input
      // parallelism): the construction joins run under AQE, whose
      // small-shuffle coalescing leaves the gate-scale corpus in 1-2
      // cached partitions — and then EVERY query's map work over the
      // cache (tokenize, serialize, explode) runs on one core of 32.
      // Deterministic hash key (_id), partition count from the
      // session's parallelism — scale-adaptive, not a local constant;
      // at production scale the construction output is already
      // many-partition and this spread is a cheap no-op shuffle of the
      // same width. Results are partition-independent (every gate is
      // replayed by an engine with no notion of our partitioning).
      val n = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
      df.repartition(n, col("_id")).persist()
    })

  def marcBibs(s: SparkSession, dir: String): DataFrame =
    cached("bibs", dir)(buildMarcBibs(s, dir))

  def marcAuths(s: SparkSession, dir: String): DataFrame =
    cached("auths", dir)(buildMarcAuths(s, dir))

  /** Deterministic bib corpus from orders/lineitem/part — canonical
    * MarcRow columns built with pure expressions. */
  def buildMarcBibs(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val firstPart = lineitem(s, dir).groupBy("l_orderkey")
      .agg(min("l_partkey").as("subject_key"))
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    val joined = o
      .join(firstPart, col("o_orderkey") === col("l_orderkey"), "left")
      .join(p, col("subject_key") === col("p_partkey"), "left")
    val f245 = field("245", sub("a", col("o_orderpriority")), sub("b", col("o_orderstatus")))
    val f269 = field("269", sub("a", date_format(col("o_orderdate"), "yyyy-MM-dd")))
    val f650 = struct(lit("650").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
      array(struct(lit("a").as("code"), col("p_name").as("value"),
        col("subject_key").cast("long").as("xref"))).as("subfields"))
    joined.select(
      lit("bib").as("record_type"),
      col("o_orderkey").as("_id"),
      lit(null).cast("timestamp").as("created"),
      lit(null).cast("timestamp").as("updated"),
      lit(null).cast("string").as("created_user"),
      lit(null).cast("string").as("user"),
      lit(null).cast("string").as("basket"),
      lit("").as("leader"),
      array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
      when(col("subject_key").isNotNull, array(f245, f269, f650))
        .otherwise(array(f245, f269)).as("datafields"),
      lit(null).cast("string").as("text"),
      lit(null).cast("array<string>").as("words"),
      lit(null).cast("map<string,array<string>>").as("logical"))
  }

  /** Auth dimension from part. */
  def buildMarcAuths(s: SparkSession, dir: String): DataFrame =
    part(s, dir).select(
      lit("auth").as("record_type"),
      col("p_partkey").cast("long").as("_id"),
      lit(null).cast("timestamp").as("created"),
      lit(null).cast("timestamp").as("updated"),
      lit(null).cast("string").as("created_user"),
      lit(null).cast("string").as("user"),
      lit(null).cast("string").as("basket"),
      lit("").as("leader"),
      array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
      array(struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
        array(struct(lit("a").as("code"), col("p_name").as("value"),
          lit(null).cast("long").as("xref"))).as("subfields"))).as("datafields"),
      lit(null).cast("string").as("text"),
      lit(null).cast("array<string>").as("words"),
      lit(null).cast("map<string,array<string>>").as("logical"))

  private val oracleBibs: String =
    """bibs AS (
      |  SELECT o_orderkey AS id, o_orderpriority AS prio, o_orderstatus AS status,
      |         strftime(o_orderdate, '%Y-%m-%d') AS odate, fp.subject_key, p_name
      |  FROM orders o
      |  LEFT JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
      |    ON o_orderkey = fp.l_orderkey
      |  LEFT JOIN part ON fp.subject_key = p_partkey)""".stripMargin

  /** Flattened construction: record getters over the built corpus. */
  def q24MarcBuild(s: SparkSession, dir: String): DataFrame =
    marcBibs(s, dir).select(
      col("_id"),
      try_element_at(flatten(transform(
        filter(col("datafields"), f => f.getField("tag") === "245"),
        f => transform(filter(f.getField("subfields"), sf => sf.getField("code") === "a"),
          sf => sf.getField("value")))), lit(1)).as("title_a"),
      try_element_at(flatten(transform(
        filter(col("datafields"), f => f.getField("tag") === "269"),
        f => transform(f.getField("subfields"), sf => sf.getField("value")))), lit(1)).as("pub_date"),
      try_element_at(flatten(transform(
        filter(col("datafields"), f => f.getField("tag") === "650"),
        f => transform(f.getField("subfields"), sf => sf.getField("xref")))), lit(1)).as("subject_xref"))
      .orderBy("_id")

  /** Query DSL end-to-end: parse + compile to Column predicates over
    * the corpus (exact match with collation + date-prefix regex). */
  def q25MarcQueryDsl(s: SparkSession, dir: String): DataFrame = {
    val bibs = marcBibs(s, dir)
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    compiler.run("245__a:'1-urgent' AND 269__a:/^1996/")
      .select("_id").orderBy("_id")
  }

  /** Broadcast auth resolution: strip the materialized values, resolve
    * through the heading dimension join (Auth.lookup at scale). */
  def q26MarcAuthResolve(s: SparkSession, dir: String): DataFrame = {
    val stripped = marcBibs(s, dir).withColumn("datafields",
      transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"), f.getField("ind1").as("ind1"), f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), sf => struct(
          sf.getField("code").as("code"),
          when(sf.getField("xref").isNotNull, lit(null).cast("string"))
            .otherwise(sf.getField("value")).as("value"),
          sf.getField("xref").as("xref"))).as("subfields"))))
    import graft.spark.MarcSchema.marcRowEncoder
    // auto: broadcast-map here (dimension-sized auths), join if it grows
    val resolved = MarcContext.resolveLinkedAuto(
      stripped.as[graft.spark.MarcRow](marcRowEncoder), marcAuths(s, dir)).toDF()
    resolved.select(col("_id"),
      try_element_at(flatten(transform(
        filter(col("datafields"), f => f.getField("tag") === "650"),
        f => transform(f.getField("subfields"), sf => sf.getField("value")))), lit(1)).as("subject"))
      .where(col("subject").isNotNull)
      .orderBy("_id")
  }

  /** Logical fields as config-driven Column codegen (SURVEY §2.9):
    * subject browse counts. Uses the single-field generator — reading
    * one logical field must not pay for the whole map. */
  def q27MarcLogical(s: SparkSession, dir: String): DataFrame = {
    marcBibs(s, dir)
      .select(explode(DerivedColumns.fieldValues("bib", "subject")).as("subject"))
      .groupBy("subject").agg(count(lit(1)).as("n_bibs"))
      .orderBy("subject")
  }

  /** MRK serialization through the record model (row-wise library
    * call), DuckDB replays the exact golden format. */
  def q28MarcMrk(s: SparkSession, dir: String): DataFrame = {
    val mrkUdf = udf((id: Long, prio: String, status: String, odate: String,
        pname: String, pkey: java.lang.Long) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      var rec = MarcRecord(recordType = "bib", id = Some(id))
        .set("245", "a", prio).set("245", "b", status)
        .set("269", "a", odate)
      if (pkey != null) {
        rec = rec.setXref("650", "a", pkey.longValue)
        // materialize the heading value so serialization needs no lookup
        rec = rec.copy(fields = rec.fields.map {
          case d: graft.model.DataField if d.tag == "650" =>
            d.copy(subfields = d.subfields.map(sf => sf.copy(value = Some(pname))))
          case f => f
        })
      }
      Serialization.toMrk(rec)
    })
    val o = orders(s, dir)
    val firstPart = lineitem(s, dir).groupBy("l_orderkey").agg(min("l_partkey").as("pk"))
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    o.join(firstPart, col("o_orderkey") === col("l_orderkey"), "left")
      .join(p, col("pk") === col("p_partkey"), "left")
      .select(col("o_orderkey").as("_id"),
        mrkUdf(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"), col("p_name"), col("pk")).as("mrk"))
      .orderBy("_id")
  }

  /** Serialize -> parse roundtrip: records survive the MRK format. */
  def q29MarcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parseUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      rec.getValue("245", "a") + "|" + rec.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), parseUdf(col("mrk")).as("roundtrip"))
      .orderBy("_id")
  }

  /** XML serialize -> parse roundtrip (to_xml/from_xml under the
    * oracle; xref carried through the $0-prefix convention). */
  def q38XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rtUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      val back = Serialization.fromXml("bib", Serialization.toXml(rec), authControl = false)
      back.getValue("245", "a") + "|" + back.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), rtUdf(col("mrk")).as("xml_roundtrip"))
      .orderBy("_id")
  }

  /** JSON (JMARC) serialize -> parse roundtrip. */
  def q39JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rtUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      val back = Serialization.fromJson("bib", Serialization.toJson(rec))
      back.getValue("245", "a") + "|" + back.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), rtUdf(col("mrk")).as("json_roundtrip"))
      .orderBy("_id")
  }

  /** ISO-2709 binary MRC serialize -> parse roundtrip (to_mrc leader/
    * directory byte math + from_mrc, the format the reference left
    * unfinished). */
  def q53MrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rtUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      val back = Serialization.fromMrc("bib", Serialization.toMrc(rec))
      back.getValue("245", "a") + "|" + back.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), rtUdf(col("mrk")).as("mrc_roundtrip"))
      .orderBy("_id")
  }

  /** MARC-in-JSON (MIJ) serialize -> parse roundtrip (to_mij/from_mij,
    * stubbed upstream and completed here). */
  def q54MijRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rtUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      val back = Serialization.fromMij("bib", Serialization.toMij(rec))
      back.getValue("245", "a") + "|" + back.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), rtUdf(col("mrk")).as("mij_roundtrip"))
      .orderBy("_id")
  }

  /** to_csv -> from_csv roundtrip (RFC-4180 quoting + header
    * addressing survive, auth control off so $0 stays literal). */
  def q41CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rtUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val rec = Serialization.fromMrk("bib", mrk, authControl = false)
      val csv = graft.records.TableSerialization.toCsv(Seq(rec))
      val back = graft.records.TableSerialization.fromCsv(csv, "bib", authControl = false).head
      back.getValue("245", "a") + "|" + back.getValue("269", "a")
    })
    q28MarcMrk(s, dir)
      .select(col("_id"), rtUdf(col("mrk")).as("csv_roundtrip"))
      .orderBy("_id")
  }

  /** from_excel under the oracle — the last §2.1 source without a
    * correctness gate: each partition renders its slice of a
    * deterministic orders-derived table to REAL xlsx bytes (toXlsx),
    * parses them back through the from_excel path (fromExcelBytes →
    * Table → records, id via the 1.001 column) and emits the record
    * content. Executor-side bytes, no driver files; DuckDB replays
    * the expected content straight from orders. */
  def q99FromExcel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = orders(s, dir).where(col("o_orderkey") % 971 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .as[(Long, String, String, String)]
    src.repartition(4).mapPartitions { it =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        implicit val auth: AuthLookup = AuthLookup.Empty
        val header = Seq("1.001", "1.245$a", "1.245$b", "1.269$a")
        val data = rows.map { case (id, prio, status, odate) =>
          Seq(id.toString, prio, status, odate) }
        val bytes = graft.records.ExcelSerialization.toXlsx(header +: data)
        val recs = graft.records.ExcelSerialization
          .fromExcelBytes(bytes, "bib", authControl = false)
        recs.iterator.map { r =>
          (r.id.get, r.getValue("245", "a"), r.getValue("245", "b"),
            r.getValue("269", "a"))
        }
      }
    }.toDF("_id", "title", "status", "odate").orderBy("_id")
  }

  /** Whole-record free-text search (`Text` / bare-term queries) over a
    * corpus with commit-time text/words columns derived in-plan. */
  def q42FreeText(s: SparkSession, dir: String): DataFrame = {
    import graft.spark.MarcContext.{scrubUdf, tokenizeUdf}
    val fieldTexts = concat_ws(" ", transform(col("datafields"),
      f => concat_ws(" ", transform(f.getField("subfields"),
        sf => coalesce(sf.getField("value"), lit(""))))))
    val bibs = marcBibs(s, dir)
      .withColumn("text", concat(lit(" "), scrubUdf(fieldTexts), lit(" ")))
      .withColumn("words", tokenizeUdf(fieldTexts))
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    compiler.run("anvil").select("_id").orderBy("_id")
  }

  /** Tabular serialization through the library: each bib rendered to
    * its `place.tag$code` table cells (sorted header order), exploded
    * to (record, column, cell) rows — the to_table/to_csv operator
    * with a SQL replay. */
  /** The deterministic gate record q34/q79 serialize — mirrors the
    * corpus row construction of buildMarcBibs for one id. */
  private def gateRecord(id: Long, prio: String, status: String, odate: String,
      pname: String, pkey: java.lang.Long): MarcRecord = {
    var rec = MarcRecord(recordType = "bib", id = Some(id))
      .set("245", "a", prio).set("245", "b", status)
      .set("269", "a", odate)
    if (pkey != null) {
      rec = rec.setXref("650", "a", pkey.longValue)
      rec = rec.copy(fields = rec.fields.map {
        case d: graft.model.DataField if d.tag == "650" =>
          d.copy(subfields = d.subfields.map(sf => sf.copy(value = Some(pname))))
        case f => f
      })
    }
    rec
  }

  def q34MarcTable(s: SparkSession, dir: String): DataFrame = {
    val cellsUdf = udf((id: Long, prio: String, status: String, odate: String,
        pname: String, pkey: java.lang.Long) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val table = graft.records.TableSerialization.toTable(
        Seq(gateRecord(id, prio, status, odate, pname, pkey)))
      table.header.map(h => (h, table.get(1, h).getOrElse("")))
    })
    val o = orders(s, dir)
    val firstPart = lineitem(s, dir).groupBy("l_orderkey").agg(min("l_partkey").as("pk"))
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    o.join(firstPart, col("o_orderkey") === col("l_orderkey"), "left")
      .join(p, col("pk") === col("p_partkey"), "left")
      // fan out before the table-serializer UDF (round 14, guide §2.5):
      // the per-row Table construction dominates this gate and the join
      // output otherwise sits in ~4 coalesced partitions (measured
      // peak_tasks = 4 for 1.7 s of task time; its siblings q28/q79/q82
      // carry ≤ 0.6 s of task work and stay unfanned — the round-13
      // lesson that a fixed repartition must be amortized).
      .repartition(math.max(s.sparkContext.defaultParallelism, 1))
      .select(col("o_orderkey").as("_id"),
        posexplode(cellsUdf(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"), col("p_name"), col("pk")))
          .as(Seq("col_pos", "cell")))
      .select(col("_id"), col("col_pos"), col("cell._1").as("col_name"), col("cell._2").as("cell_value"))
      .orderBy("_id", "col_pos")
  }

  /** Unbounded text search through the DEFAULT execution path — the
    * left-semi-join plan (SCALING.md): `650__a:anvil` resolves against
    * the tag index entirely in the cluster (no driver in-list; at
    * sf0.1 the term matches thousands of distinct subject values).
    * ExplainCheck asserts the LeftSemi join in this plan. */
  def q35SemijoinText(s: SparkSession, dir: String): DataFrame = {
    val bibs = marcBibs(s, dir)
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    compiler.run("650__a:anvil").select("_id").orderBy("_id")
  }

  /** Bulk tabular export — the SET-scale to_table (one explode+window
    * job, no per-row Table objects; contrast q34's row-wise serializer
    * gate): every `place.tag$code` / indicator / $0 cell of the corpus
    * as rows. */
  def q47TableExport(s: SparkSession, dir: String): DataFrame =
    graft.spark.TableExport.cells(marcBibs(s, dir))
      .orderBy("_id", "col_name")

  /** Table.to_html under the oracle (dlx/util.py:179-183): each bib's
    * 1-record Table rendered to the `<table><tr><td>` string, replayed
    * byte-for-byte by SQL concatenation. Closes the last §2.2 sink
    * row that had no CORRECTNESS entry. */
  def q79ToHtml(s: SparkSession, dir: String): DataFrame = {
    val htmlUdf = udf((id: Long, prio: String, status: String, odate: String,
        pname: String, pkey: java.lang.Long) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      graft.records.TableSerialization.toTable(
        Seq(gateRecord(id, prio, status, odate, pname, pkey))).toHtml
    })
    val o = orders(s, dir)
    val firstPart = lineitem(s, dir).groupBy("l_orderkey").agg(min("l_partkey").as("pk"))
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    o.join(firstPart, col("o_orderkey") === col("l_orderkey"), "left")
      .join(p, col("pk") === col("p_partkey"), "left")
      .select(col("o_orderkey").as("_id"),
        htmlUdf(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"), col("p_name"), col("pk")).as("html"))
      .orderBy("_id")
  }

  /** Logical-field DSL search (`subject:/anvil$/` → LogicalRx):
    * the regex resolves against the browse index (capped in-list with
    * direct-predicate fallback, dlx/marc/query.py:194-199) and matches
    * the record's own logical map — the config-driven denormalized
    * field family under the oracle end-to-end (parse → browse-index
    * resolution → predicate). */
  def q80LogicalSearch(s: SparkSession, dir: String): DataFrame = {
    // single-field logical map (q27's rule: reading one logical field
    // must not pay for the whole map — the full-map variant costs 6×
    // here because browse-index build + final scan each materialize
    // every configured field for every record)
    val compiler = new SparkQueryCompiler(s, RealMarc.subjectField(marcBibs(s, dir), "bib"),
      RealMarc.subjectField(marcAuths(s, dir), "auth"))
    compiler.run("subject:/anvil$/").select("_id").orderBy("_id")
  }

  /** Control-field DSL search (`008:value` → CtrlEquals,
    * dlx/marc/query.py 00X handling): corpus bibs carry an 008 derived
    * from the 269$a date; the query must hit exactly the records with
    * that control value. */
  def q81CtrlQuery(s: SparkSession, dir: String): DataFrame = {
    val odate = try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === "269"),
      f => transform(f.getField("subfields"), sf => sf.getField("value")))), lit(1))
    val bibs = marcBibs(s, dir).withColumn("controlfields",
      array(struct(lit("008").as("tag"), odate.as("value"))))
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    compiler.run("008:1996-01-02").select("_id").orderBy("_id")
  }

  /** Structured Condition API (reference Condition,
    * dlx/marc/query.py:588-686): a programmatic FieldCond with two
    * (code -> Exact) pairs — $elemMatch semantics, both subfields
    * matching within ONE field instance — run without the string
    * parser. */
  def q83StructuredCond(s: SparkSession, dir: String): DataFrame = {
    import graft.query.{Cond, CondVal, QueryAst}
    val compiler = new SparkQueryCompiler(s, marcBibs(s, dir), marcAuths(s, dir))
    compiler.run(QueryAst(Seq(Cond.FieldCond("245",
      Seq("a" -> CondVal.Exact("1-urgent"), "b" -> CondVal.Exact("F"))))))
      .select("_id").orderBy("_id")
  }

  /** to_jmarcnx under the oracle (dlx/marc/__init__.py:1610-1626):
    * JMARC with every linked subfield materialized as a literal (xref
    * dropped) — the export format downstream consumers parse without
    * an auth database. Replayed byte-for-byte by SQL concatenation. */
  def q82JmarcNx(s: SparkSession, dir: String): DataFrame = {
    val nxUdf = udf((id: Long, prio: String, status: String, odate: String,
        pname: String, pkey: java.lang.Long) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      Serialization.toJmarcNx(gateRecord(id, prio, status, odate, pname, pkey))
    })
    val o = orders(s, dir)
    val firstPart = lineitem(s, dir).groupBy("l_orderkey").agg(min("l_partkey").as("pk"))
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    o.join(firstPart, col("o_orderkey") === col("l_orderkey"), "left")
      .join(p, col("pk") === col("p_partkey"), "left")
      .select(col("o_orderkey").as("_id"),
        nxUdf(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"), col("p_name"), col("pk")).as("jmarcnx"))
      .orderBy("_id")
  }

  /** Existence + negated-exact modifiers through the DSL
    * (`650__a:*` → SubfieldExists, `NOT 245__b:'F'` → negated exact
    * FieldCond — dlx/marc/query.py modifier semantics): subjects
    * present, status not F. */
  def q48ExistsNot(s: SparkSession, dir: String): DataFrame = {
    val compiler = new SparkQueryCompiler(s, marcBibs(s, dir), marcAuths(s, dir))
    compiler.run("650__a:* AND NOT 245__b:'F'").select("_id").orderBy("_id")
  }

  /** Typeahead partial lookup over the heading dimension
    * (partial_lookup, dlx/marc/__init__.py:1995-2041) as a bounded
    * TakeOrderedAndProject — deterministic (value, xref) order where
    * the reference takes arbitrary collection order. */
  def q51PartialLookup(s: SparkSession, dir: String): DataFrame =
    AuthOps.partialLookup(marcAuths(s, dir), "bib", "650", "a", "gear")
      .orderBy("value", "xref")

  /** zmerge / xmerge under the oracle (dlx/marc/__init__.py:1370-1438):
    * per record, fill-missing merge keeps the base title while
    * adopting the other record's new fields; overwrite xmerge takes
    * the other record's values everywhere. */
  def q52Merge(s: SparkSession, dir: String): DataFrame = {
    val mergeUdf = udf((prio: String, status: String, odate: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val base = MarcRecord(recordType = "bib")
        .set("245", "a", prio).set("269", "a", "1990-01-01")
      val other = MarcRecord(recordType = "bib")
        .set("245", "a", "ALT").set("246", "a", status).set("269", "a", odate)
      val z = base.zmerge(other)
      val x = base.xmerge(other, overwrite = true)
      Seq(z.getValue("245", "a"), z.getValue("246", "a"), z.getValue("269", "a"),
        x.getValue("245", "a"), x.getValue("269", "a")).mkString("|")
    })
    orders(s, dir).select(col("o_orderkey").as("_id"),
        mergeUdf(col("o_orderpriority"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd")).as("merged"))
      .orderBy("_id")
  }

  /** `Raw` escape hatch (dlx/marc/query.py:769-777): the Spark analog
    * of a raw Mongo filter is an arbitrary `Column` predicate ANDed
    * into the compiled condition — same composability, but the raw
    * leg stays optimizer-visible (pushdown/codegen) instead of being
    * an opaque document. */
  def q58RawPredicate(s: SparkSession, dir: String): DataFrame = {
    val bibs = marcBibs(s, dir)
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    val compiled = compiler.compile(graft.query.QueryParser.parse("650__a:*", "bib"))
    bibs.where(compiled && col("_id") % 7 === 0)
      .select("_id").orderBy("_id")
  }

  /** `MarcSet.from_ids` / `Marc.from_id` (dlx/marc/__init__.py:229-239):
    * id-set selection — an `isin` over the id column, which partition-
    * prunes on a bucketed store. Combined with an `id:` DSL query to
    * gate IdEquals on the same plan. */
  def q59FromIds(s: SparkSession, dir: String): DataFrame = {
    val bibs = marcBibs(s, dir)
    val ids = Seq(97L, 194L, 388L, 9999999L)
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    bibs.where(col("_id").isin(ids: _*))
      .unionByName(compiler.run("id:485", "bib"))
      .select("_id").distinct().orderBy("_id")
  }

  /** `TagOnly` value search (`245:'1-urgent'` — any subfield of the
    * tag matches the exact value under collation,
    * dlx/marc/query.py:700-767). */
  def q60TagValue(s: SparkSession, dir: String): DataFrame = {
    val compiler = new SparkQueryCompiler(s, marcBibs(s, dir), marcAuths(s, dir))
    compiler.run("245:'1-urgent'").select("_id").orderBy("_id")
  }

  /** to_str display rendering (Marc.to_str) under the oracle: the
    * tag-sorted "tag / code: value" layout replayed byte-for-byte by
    * DuckDB. */
  def q63ToStr(s: SparkSession, dir: String): DataFrame = {
    val strUdf = udf((mrk: String) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      Serialization.toStr(Serialization.fromMrk("bib", mrk, authControl = false))
    })
    q28MarcMrk(s, dir).select(col("_id"), strUdf(col("mrk")).as("str"))
      .orderBy("_id")
  }

  /** Auth-use aggregation (calculate_auth_use): per-xref counts. */
  def q30MarcAuthUse(s: SparkSession, dir: String): DataFrame =
    MarcContext.authUseCounts(marcBibs(s, dir))
      .orderBy("xref")

  /** xref search (`xref:N`): records referencing one auth. */
  def q31MarcXrefQuery(s: SparkSession, dir: String): DataFrame = {
    val bibs = marcBibs(s, dir)
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    compiler.run("xref:7").select("_id").orderBy("_id")
  }

  /** Auth.merge under the oracle (dlx/marc/__init__.py:2143-2233):
    * rewrite every xref losing→gaining across the bib table (one
    * narrow array transform, no shuffle), re-materialize the linked
    * values against the heading dimension, and emit every bib now
    * attached to the gaining auth — DuckDB replays the FK rewrite +
    * value refresh relationally. */
  def q37AuthMerge(s: SparkSession, dir: String): DataFrame = {
    val merged = AuthOps.mergeAuthXrefs(marcBibs(s, dir), losing = 7L, gaining = 11L)
    // select the attached rows FIRST (narrow predicate on the scan),
    // then refresh only those — the resolve join never sees the corpus
    val attached = merged.where(exists(col("datafields"),
      f => exists(f.getField("subfields"), sf => sf.getField("xref") === 11L)))
    val refreshed = AuthOps.refreshLinkedValues(attached, marcAuths(s, dir))
    refreshed.select(col("_id"),
        try_element_at(flatten(transform(
          filter(col("datafields"), f => f.getField("tag") === "650"),
          f => transform(f.getField("subfields"), sf => sf.getField("xref")))), lit(1)).as("subject_xref"),
        try_element_at(flatten(transform(
          filter(col("datafields"), f => f.getField("tag") === "650"),
          f => transform(f.getField("subfields"), sf => sf.getField("value")))), lit(1)).as("subject"))
      .where(col("subject_xref") === 11L)
      .orderBy("_id")
  }

  /** Enriched auth dimension for the multi-subfield lookups: heading
    * 150 $a = p_brand, $b = p_size (stringified) — deliberately
    * coarse so several parts share a heading (ambiguity) — plus an
    * extra $z = p_type on every third part (independent of the
    * heading key) so the heading-equality disambiguation branch has
    * mixed groups to work on. */
  def buildMarcAuthsMulti(s: SparkSession, dir: String): DataFrame = {
    val bVal = col("p_size").cast("string")
    val hz = struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
      array(sub("a", col("p_brand")), sub("b", bVal),
        sub("z", col("p_type"))).as("subfields"))
    val h = field("150", sub("a", col("p_brand")), sub("b", bVal))
    part(s, dir).select(
      lit("auth").as("record_type"),
      col("p_partkey").cast("long").as("_id"),
      lit(null).cast("timestamp").as("created"),
      lit(null).cast("timestamp").as("updated"),
      lit(null).cast("string").as("created_user"),
      lit(null).cast("string").as("user"),
      lit(null).cast("string").as("basket"),
      lit("").as("leader"),
      array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
      array(when(col("p_partkey") % 3 === 0, hz).otherwise(h)).as("datafields"),
      lit(null).cast("string").as("text"),
      lit(null).cast("array<string>").as("words"),
      lit(null).cast("map<string,array<string>>").as("logical"))
  }

  /** xlookup_multi + resolve_ambiguous as a set operator
    * (dlx/marc/__init__.py:1941-1993): every 37th part's
    * (brand, container) becomes a probe; each probe resolves against
    * the enriched auth dimension — unique match wins, multi-match
    * falls back to exact-heading equality (no $z), else unresolved. */
  def q66ResolveAmbiguous(s: SparkSession, dir: String): DataFrame = {
    val auths = cached("auths_multi", dir)(buildMarcAuthsMulti(s, dir))
    val probes = part(s, dir).where(col("p_partkey") % 37 === 0)
      .select(col("p_brand").as("a"), col("p_size").cast("string").as("b")).distinct()
    AuthOps.resolveAmbiguousBatch(auths, "150", Seq("a", "b"), probes)
      .orderBy("a", "b")
  }

  /** Diff under the oracle (reference Diff a/b/c/e multiset semantics,
    * dlx/marc/__init__.py Diff + tests/test_marc.py diff cases): a
    * deterministic record pair per sampled order — B retitles 245 on
    * every second pair — compared through the model's field-multiset
    * Diff inside a UDF (the per-row model surface is the point, as in
    * q34), replayed as plain CASE arithmetic. */
  def q96Diff(s: SparkSession, dir: String): DataFrame = {
    val diffUdf = udf((id: Long, prio: String, odate: String, retitle: Boolean) => {
      implicit val auth: AuthLookup = AuthLookup.Empty
      val a = MarcRecord(recordType = "bib", id = Some(id))
        .set("245", "a", prio).set("269", "a", odate)
      val b = MarcRecord(recordType = "bib", id = Some(id))
        .set("245", "a", if (retitle) "X-" + prio else prio).set("269", "a", odate)
      val d = graft.model.Diff(a, b)
      (d.a.size.toLong, d.b.size.toLong, d.c.size.toLong, d.different)
    })
    orders(s, dir).where(col("o_orderkey") % 194 === 0)
      .select(col("o_orderkey").as("_id"),
        diffUdf(col("o_orderkey"), col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderkey") % 388 === 0).as("d"))
      .select(col("_id"), col("d._1").as("n_a_only"), col("d._2").as("n_b_only"),
        col("d._3").as("n_common"), col("d._4").as("different"))
      .orderBy("_id")
  }

  /** Collation-sorted from_query (the reference's default collation is
    * strength 1 + numericOrdering:true — dlx/config.py:340 — applied
    * to sorting as well as matching in from_query,
    * dlx/marc/__init__.py:122-124): document-symbol-shaped 191$a
    * values like "A/C.7/1234" must sort with digit runs compared
    * NUMERICALLY, so "A/C.7/9" comes before "A/C.7/10". Runs the query
    * DSL end-to-end (parse -> semi-join match -> collation-key sort)
    * and emits (symbol, rank); the oracle replays the identical key in
    * DuckDB (lower + length-prefixed zero-stripped digit runs). */
  def q172CollationSortedQuery(s: SparkSession, dir: String): DataFrame = {
    val f191 = field("191", sub("a",
      concat(lit("A/C."), (col("o_orderkey") % 40).cast("string"),
        lit("/"), col("o_orderkey").cast("string"))))
    val bibs = orders(s, dir).where(col("o_orderkey") % 7 === 0).select(
      lit("bib").as("record_type"),
      col("o_orderkey").as("_id"),
      lit(null).cast("timestamp").as("created"),
      lit(null).cast("timestamp").as("updated"),
      lit(null).cast("string").as("created_user"),
      lit(null).cast("string").as("user"),
      lit(null).cast("string").as("basket"),
      lit("").as("leader"),
      array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
      array(f191).as("datafields"),
      lit(null).cast("string").as("text"),
      lit(null).cast("array<string>").as("words"),
      lit(null).cast("map<string,array<string>>").as("logical"))
    val compiler = new SparkQueryCompiler(s, bibs, marcAuths(s, dir))
    val sorted = compiler.runSorted("191__a:/^A/", "bib", "191", "a")
    val symbol = try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === "191"),
      f => transform(filter(f.getField("subfields"), sf => sf.getField("code") === "a"),
        sf => sf.getField("value")))), lit(1))
    // rank = position in the collation order (deterministic: the sort
    // key is total up to _id tiebreak) so the gate hashes the ORDER,
    // not just the row set. Two-pass ScalableRank, NOT a global
    // row_number window: an empty-partition window would funnel every
    // matched record through one task — exactly the single-partition
    // Exchange the spillable string sort key exists to avoid.
    graft.spark.ScalableRank.withGlobalRank(
        sorted.select(col("_id"), symbol.as("symbol")), "rank",
        Seq(MarcContext.sortKeyCol(col("symbol")).asc_nulls_last, col("_id").asc))
      .select("symbol", "rank").orderBy("rank")
  }

  /** Cross-engine pin for the collation sort key: a deterministic
    * string corpus spanning every branch of `Collation.sortKey`
    * (document symbols, zero-padded runs, leading/trailing zero runs,
    * upper/lower case, diacritics, digit-only, free text), keyed on
    * BOTH engines and hash-compared byte-for-byte by the gate. The
    * Scala side runs the production `dlx_sort_key` expression; the
    * oracle replays [[duckSortKeySql]] — the SAME generator the q172
    * sort oracle uses — so neither implementation can drift without
    * failing this gate (round-5 verdict: the two keys previously
    * lived in independent hand-written copies). */
  def q173SortKeyCorpus(s: SparkSession, dir: String): DataFrame = {
    val k = col("id")
    val variants: Seq[(String, Column)] = Seq(
      "symbol" -> concat(lit("A/C."), (k % 40).cast("string"), lit("/"), k.cast("string")),
      "zeropad" -> concat(lit("S/"), lpad((k % 1000).cast("string"), 6, "0"),
        lit("/Rev."), (k % 7).cast("string")),
      "zerorun" -> concat(lit("000"), (k % 13).cast("string"), lit(".000")),
      "mixedcase" -> concat(upper(substring(col("p_name"), 1, 7)), lit(" "),
        (k % 100).cast("string"), lit("x"), lpad((k % 50).cast("string"), 5, "0")),
      "accent" -> concat(lit("Café Élève "), (k % 30).cast("string"), lit(" Zürich")),
      "digits" -> k.cast("string"),
      "text" -> substring(col("p_name"), 1, 20))
    val base = part(s, dir).where(col("p_partkey") % 11 === 0)
      .select(col("p_partkey").as("id"), col("p_name"))
    variants.map { case (vn, e) =>
        base.select(col("id"), lit(vn).as("variant"), e.as("s")) }
      .reduce(_ unionByName _)
      .select(col("id"), col("variant"), col("s"),
        MarcContext.sortKeyCol(col("s")).as("k"))
      .orderBy("variant", "id")
  }

  /** DuckDB replay of `Collation.sortKey` applied to SQL expression
    * `e` — the single source for every oracle needing the collation
    * key (q172's sorted query, q173's corpus pin): strength-1
    * normalize (strip accents + lowercase), then each digit run
    * becomes a 4-digit length prefix + the run with leading zeros
    * stripped, so byte order == numeric order. */
  // NOTE: emitted as ONE line — this snippet is interpolated into
  // oracle strings whose own .stripMargin would otherwise eat the
  // first '|' of any line-leading '||' concat
  private def duckSortKeySql(e: String): String =
    s"array_to_string(list_transform(" +
      s"regexp_extract_all(lower(strip_accents($e)), '[0-9]+|[^0-9]+'), " +
      "x -> CASE WHEN regexp_matches(x, '^[0-9]') " +
      "THEN lpad(CAST(length(coalesce(nullif(ltrim(x,'0'),''),'0')) AS VARCHAR), 4, '0') " +
      "|| coalesce(nullif(ltrim(x,'0'),''),'0') " +
      "ELSE x END), '')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_sortkey_corpus" -> (q173SortKeyCorpus _),
    "q172_collation_sort" -> (q172CollationSortedQuery _),
    "q96_diff" -> (q96Diff _),
    "q66_resolve_ambiguous" -> (q66ResolveAmbiguous _),
    "q24_marc_build" -> (q24MarcBuild _),
    "q25_marc_query_dsl" -> (q25MarcQueryDsl _),
    "q26_marc_auth_resolve" -> (q26MarcAuthResolve _),
    "q27_marc_logical" -> (q27MarcLogical _),
    "q28_marc_mrk" -> (q28MarcMrk _),
    "q29_marc_roundtrip" -> (q29MarcRoundtrip _),
    "q30_marc_auth_use" -> (q30MarcAuthUse _),
    "q34_marc_table" -> (q34MarcTable _),
    "q31_marc_xref_query" -> (q31MarcXrefQuery _),
    "q35_semijoin_text" -> (q35SemijoinText _),
    "q37_auth_merge" -> (q37AuthMerge _),
    "q38_xml_roundtrip" -> (q38XmlRoundtrip _),
    "q39_json_roundtrip" -> (q39JsonRoundtrip _),
    "q41_csv_roundtrip" -> (q41CsvRoundtrip _),
    "q42_free_text" -> (q42FreeText _),
    "q99_from_excel" -> (q99FromExcel _),
    "q47_table_export" -> (q47TableExport _),
    "q48_exists_not" -> (q48ExistsNot _),
    "q51_partial_lookup" -> (q51PartialLookup _),
    "q52_merge" -> (q52Merge _),
    "q53_mrc_roundtrip" -> (q53MrcRoundtrip _),
    "q58_raw_predicate" -> (q58RawPredicate _),
    "q54_mij_roundtrip" -> (q54MijRoundtrip _),
    "q59_from_ids" -> (q59FromIds _),
    "q63_to_str" -> (q63ToStr _),
    "q60_tag_value" -> (q60TagValue _),
    "q79_to_html" -> (q79ToHtml _),
    "q80_logical_search" -> (q80LogicalSearch _),
    "q81_ctrl_query" -> (q81CtrlQuery _),
    "q82_jmarcnx" -> (q82JmarcNx _),
    "q83_structured_cond" -> (q83StructuredCond _))

  val oracle: Map[String, String] = Map(
    "q173_sortkey_corpus" ->
      s"""WITH base AS (
        |  SELECT p_partkey AS id, p_name FROM part WHERE p_partkey % 11 = 0),
        |strs AS (
        |  SELECT id, 'symbol' AS variant,
        |    'A/C.' || CAST(id % 40 AS VARCHAR) || '/' || CAST(id AS VARCHAR) AS s FROM base
        |  UNION ALL SELECT id, 'zeropad',
        |    'S/' || lpad(CAST(id % 1000 AS VARCHAR), 6, '0') || '/Rev.' || CAST(id % 7 AS VARCHAR) FROM base
        |  UNION ALL SELECT id, 'zerorun',
        |    '000' || CAST(id % 13 AS VARCHAR) || '.000' FROM base
        |  UNION ALL SELECT id, 'mixedcase',
        |    upper(substring(p_name, 1, 7)) || ' ' || CAST(id % 100 AS VARCHAR)
        |      || 'x' || lpad(CAST(id % 50 AS VARCHAR), 5, '0') FROM base
        |  UNION ALL SELECT id, 'accent',
        |    'Café Élève ' || CAST(id % 30 AS VARCHAR) || ' Zürich' FROM base
        |  UNION ALL SELECT id, 'digits', CAST(id AS VARCHAR) FROM base
        |  UNION ALL SELECT id, 'text', substring(p_name, 1, 20) FROM base)
        |SELECT id, variant, s,
        |    ${duckSortKeySql("s")} AS k
        |FROM strs ORDER BY variant, id""".stripMargin,
    "q172_collation_sort" ->
      s"""WITH syms AS (
        |  SELECT o_orderkey AS id,
        |         'A/C.' || CAST(o_orderkey % 40 AS VARCHAR) || '/' ||
        |         CAST(o_orderkey AS VARCHAR) AS symbol
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |keyed AS (
        |  SELECT id, symbol,
        |    ${duckSortKeySql("symbol")} AS k
        |  FROM syms)
        |SELECT symbol, row_number() OVER (ORDER BY k, id) AS rank FROM keyed""".stripMargin,
    "q96_diff" ->
      """SELECT o_orderkey AS _id,
        |  CAST(CASE WHEN o_orderkey % 388 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_a_only,
        |  CAST(CASE WHEN o_orderkey % 388 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_b_only,
        |  CAST(CASE WHEN o_orderkey % 388 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_common,
        |  (o_orderkey % 388 = 0) AS different
        |FROM orders WHERE o_orderkey % 194 = 0
        |ORDER BY _id""".stripMargin,
    "q66_resolve_ambiguous" ->
      """WITH probes AS (
        |  SELECT DISTINCT p_brand AS a, CAST(p_size AS VARCHAR) AS b FROM part
        |  WHERE p_partkey % 37 = 0),
        |m AS (
        |  SELECT pr.a, pr.b, p.p_partkey AS xref, (p.p_partkey % 3 = 0) AS has_z
        |  FROM probes pr JOIN part p
        |    ON p.p_brand = pr.a AND CAST(p.p_size AS VARCHAR) = pr.b)
        |SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(CASE WHEN COUNT(*) = 1 THEN MIN(xref)
        |       WHEN COUNT(*) FILTER (WHERE NOT has_z) = 1
        |            THEN MIN(xref) FILTER (WHERE NOT has_z) END AS BIGINT) AS resolved_xref
        |FROM m GROUP BY a, b ORDER BY a, b""".stripMargin,
    "q24_marc_build" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio AS title_a, odate AS pub_date,
        |CAST(subject_key AS BIGINT) AS subject_xref
        |FROM bibs ORDER BY _id""".stripMargin,
    "q25_marc_query_dsl" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id FROM bibs
        |WHERE prio = '1-URGENT' AND odate LIKE '1996%'
        |ORDER BY _id""".stripMargin,
    "q26_marc_auth_resolve" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, p_name AS subject FROM bibs
        |WHERE p_name IS NOT NULL ORDER BY _id""".stripMargin,
    "q27_marc_logical" ->
      s"""WITH $oracleBibs
        |SELECT p_name AS subject, COUNT(*) AS n_bibs FROM bibs
        |WHERE p_name IS NOT NULL GROUP BY 1 ORDER BY subject""".stripMargin,
    "q28_marc_mrk" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id,
        |'=000  ****' || chr(10) ||
        |'=001  ' || id || chr(10) ||
        |'=245  \\\\$$a' || prio || '$$b' || status || chr(10) ||
        |'=269  \\\\$$a' || odate || chr(10) ||
        |CASE WHEN subject_key IS NOT NULL
        |     THEN '=650  \\\\$$a' || p_name || '$$0' || subject_key || chr(10)
        |     ELSE '' END AS mrk
        |FROM bibs ORDER BY _id""".stripMargin,
    "q29_marc_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q34_marc_table" ->
      s"""WITH $oracleBibs
        |SELECT _id, col_pos, col_name, cell_value FROM (
        |  SELECT id AS _id, CAST(0 AS INT) AS col_pos, '1.001' AS col_name, CAST(id AS VARCHAR) AS cell_value FROM bibs
        |  UNION ALL SELECT id, 1, '1.245__', '__' FROM bibs
        |  UNION ALL SELECT id, 2, '1.245$$a', prio FROM bibs
        |  UNION ALL SELECT id, 3, '1.245$$b', status FROM bibs
        |  UNION ALL SELECT id, 4, '1.269__', '__' FROM bibs
        |  UNION ALL SELECT id, 5, '1.269$$a', odate FROM bibs
        |  UNION ALL SELECT id, 6, '1.650$$0', CAST(subject_key AS VARCHAR) FROM bibs WHERE subject_key IS NOT NULL
        |  UNION ALL SELECT id, 7, '1.650__', '__' FROM bibs WHERE subject_key IS NOT NULL
        |  UNION ALL SELECT id, 8, '1.650$$a', p_name FROM bibs WHERE subject_key IS NOT NULL
        |) t ORDER BY _id, col_pos""".stripMargin,
    "q47_table_export" ->
      s"""WITH $oracleBibs
        |SELECT _id, col_name, cell_value FROM (
        |  SELECT id AS _id, '1.001' AS col_name, CAST(id AS VARCHAR) AS cell_value FROM bibs
        |  UNION ALL SELECT id, '1.245__', '__' FROM bibs
        |  UNION ALL SELECT id, '1.245$$a', prio FROM bibs
        |  UNION ALL SELECT id, '1.245$$b', status FROM bibs
        |  UNION ALL SELECT id, '1.269__', '__' FROM bibs
        |  UNION ALL SELECT id, '1.269$$a', odate FROM bibs
        |  UNION ALL SELECT id, '1.650$$0', CAST(subject_key AS VARCHAR) FROM bibs WHERE subject_key IS NOT NULL
        |  UNION ALL SELECT id, '1.650__', '__' FROM bibs WHERE subject_key IS NOT NULL
        |  UNION ALL SELECT id, '1.650$$a', p_name FROM bibs WHERE subject_key IS NOT NULL
        |) t ORDER BY _id, col_name""".stripMargin,
    "q79_to_html" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id,
        |  '<table><tr><td>1.001</td><td>1.245__</td><td>1.245$$a</td><td>1.245$$b</td><td>1.269__</td><td>1.269$$a</td>' ||
        |  CASE WHEN subject_key IS NOT NULL
        |       THEN '<td>1.650$$0</td><td>1.650__</td><td>1.650$$a</td>' ELSE '' END ||
        |  '</tr><tr><td>' || CAST(id AS VARCHAR) || '</td><td>__</td><td>' || prio ||
        |  '</td><td>' || status || '</td><td>__</td><td>' || odate || '</td>' ||
        |  CASE WHEN subject_key IS NOT NULL
        |       THEN '<td>' || CAST(subject_key AS VARCHAR) || '</td><td>__</td><td>' || p_name || '</td>'
        |       ELSE '' END ||
        |  '</tr></table>' AS html
        |FROM bibs ORDER BY _id""".stripMargin,
    "q80_logical_search" ->
      """SELECT o_orderkey AS _id FROM orders
        |JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |  ON o_orderkey = fp.l_orderkey
        |JOIN part ON subject_key = p_partkey
        |WHERE regexp_matches(p_name, 'anvil$')
        |ORDER BY _id""".stripMargin,
    "q81_ctrl_query" ->
      """SELECT o_orderkey AS _id FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m-%d') = '1996-01-02'
        |ORDER BY _id""".stripMargin,
    "q82_jmarcnx" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id,
        |  '{"_id":' || CAST(id AS VARCHAR) ||
        |  ',"245":[{"indicators":[" "," "],"subfields":[{"code":"a","value":"' || prio ||
        |  '"},{"code":"b","value":"' || status || '"}]}]' ||
        |  ',"269":[{"indicators":[" "," "],"subfields":[{"code":"a","value":"' || odate || '"}]}]' ||
        |  CASE WHEN subject_key IS NOT NULL
        |       THEN ',"650":[{"indicators":[" "," "],"subfields":[{"code":"a","value":"' || p_name || '"}]}]'
        |       ELSE '' END ||
        |  '}' AS jmarcnx
        |FROM bibs ORDER BY _id""".stripMargin,
    "q83_structured_cond" ->
      """SELECT o_orderkey AS _id FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |ORDER BY _id""".stripMargin,
    "q30_marc_auth_use" ->
      """SELECT CAST(subject_key AS BIGINT) AS xref, COUNT(*) AS use_count
        |FROM (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |JOIN orders ON o_orderkey = fp.l_orderkey
        |GROUP BY 1 ORDER BY xref""".stripMargin,
    "q31_marc_xref_query" ->
      """SELECT o_orderkey AS _id FROM orders
        |JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |  ON o_orderkey = fp.l_orderkey
        |WHERE subject_key = 7 ORDER BY _id""".stripMargin,
    "q35_semijoin_text" ->
      """SELECT o_orderkey AS _id FROM orders
        |JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |  ON o_orderkey = fp.l_orderkey
        |JOIN part ON subject_key = p_partkey
        |WHERE list_contains(string_split(p_name, ' '), 'anvil')
        |ORDER BY _id""".stripMargin,
    "q38_xml_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS xml_roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q39_json_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS json_roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q41_csv_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS csv_roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q99_from_excel" ->
      """SELECT o_orderkey AS _id, o_orderpriority AS title,
        |       o_orderstatus AS status,
        |       strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM orders WHERE o_orderkey % 971 = 0 ORDER BY _id""".stripMargin,
    "q42_free_text" ->
      """SELECT o_orderkey AS _id FROM orders
        |JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |  ON o_orderkey = fp.l_orderkey
        |JOIN part ON subject_key = p_partkey
        |WHERE list_contains(string_split(p_name, ' '), 'anvil')
        |ORDER BY _id""".stripMargin,
    "q48_exists_not" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id FROM bibs
        |WHERE subject_key IS NOT NULL AND status <> 'F'
        |ORDER BY _id""".stripMargin,
    "q51_partial_lookup" ->
      """SELECT p_name AS value, CAST(p_partkey AS BIGINT) AS xref FROM part
        |WHERE contains(lower(p_name), 'gear')
        |ORDER BY value, xref LIMIT 25""".stripMargin,
    "q53_mrc_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS mrc_roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q58_raw_predicate" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id FROM bibs
        |WHERE subject_key IS NOT NULL AND id % 7 = 0
        |ORDER BY _id""".stripMargin,
    "q63_to_str" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id,
        |'000' || chr(10) || '   ****' || chr(10) ||
        |'001' || chr(10) || '   ' || id || chr(10) ||
        |'245' || chr(10) || '   a: ' || prio || chr(10) || '   b: ' || status || chr(10) ||
        |'269' || chr(10) || '   a: ' || odate || chr(10) ||
        |CASE WHEN subject_key IS NOT NULL
        |     THEN '650' || chr(10) || '   a: ' || p_name || chr(10)
        |     ELSE '' END AS str
        |FROM bibs ORDER BY _id""".stripMargin,
    "q59_from_ids" ->
      """SELECT o_orderkey AS _id FROM orders
        |WHERE o_orderkey IN (97, 194, 388, 9999999, 485)
        |ORDER BY _id""".stripMargin,
    "q60_tag_value" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id FROM bibs
        |WHERE prio = '1-URGENT'
        |ORDER BY _id""".stripMargin,
    "q54_mij_roundtrip" ->
      s"""WITH $oracleBibs
        |SELECT id AS _id, prio || '|' || odate AS mij_roundtrip
        |FROM bibs ORDER BY _id""".stripMargin,
    "q52_merge" ->
      """SELECT o_orderkey AS _id,
        |       o_orderpriority || '|' || o_orderstatus || '|1990-01-01|ALT|'
        |       || strftime(o_orderdate, '%Y-%m-%d') AS merged
        |FROM orders ORDER BY _id""".stripMargin,
    "q37_auth_merge" ->
      """SELECT o_orderkey AS _id, CAST(11 AS BIGINT) AS subject_xref,
        |       (SELECT p_name FROM part WHERE p_partkey = 11) AS subject
        |FROM orders
        |JOIN (SELECT l_orderkey, MIN(l_partkey) AS subject_key FROM lineitem GROUP BY 1) fp
        |  ON o_orderkey = fp.l_orderkey
        |WHERE subject_key IN (7, 11)
        |ORDER BY _id""".stripMargin)
}
