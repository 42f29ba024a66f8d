package perfbench

import graft.model.{AuthLookup, MarcRecord}
import graft.query.QueryParser
import graft.records.Serialization
import graft.spark.{BatchAuthResolve, MarcContext, MarcSchema, SparkQueryCompiler}
import graft.store.MarcStore
import org.apache.spark.sql.functions._

/** `catalog`: one cataloger's editing session plus the operator's bulk
  * import and export, over the corpus store. Every write is
  * followed by a search through a fresh, uncached compiler over the new
  * store generation, and that search must see the write. */
object CatalogWorkload {
  import CatalogOp._

  val user = "cataloger"

  /** A read-after-write search: query string and the ids it must return. */
  final case class Raw(query: String, want: Vector[Long])

  /** What one op did, for the checks and the per-layer figures. */
  final case class Effect(raw: Option[Raw], bibs: Seq[Long] = Nil, auths: Seq[Long] = Nil,
      refreshed: Seq[Long] = Nil, commits: Int = 0, records: Int = 0)

  final class Session(run: Run, val store: MarcStore, val base: String, val model: Model) {
    private val t = run.tracer
    private val spark = run.spark
    var lastSave = ""

    def freeText(word: String): Raw = Raw(word, model.freeText(word))
    def exact(h: String): Raw = Raw(s"650__a:'${h.toUpperCase}'", model.exact(h))

    private def commit(recs: Seq[MarcRecord], span: String, lookup: AuthLookup): Unit = {
      val ds = t.span("model.to_dataset") { MarcSchema.toDataset(spark, recs)(lookup) }
      t.span(span) { store.commit(ds, user) }
    }

    def write(op: CatalogOp): Effect = op match {
      case SaveBib(id, m) =>
        val title = s"${model.title(id)} $m"
        commit(Seq(run.corpus.bibRecord(id, title, model.xref(id))), "store.commit", model.lookup)
        model.saveBib(id, title)
        lastSave = m
        Effect(Some(freeText(m)), bibs = Seq(id), commits = 1, records = 1)
      case SaveBasket(first, n, m) =>
        val ids = (first until first + n).toVector
        val titles = ids.map(i => s"${model.title(i)} $m")
        commit(ids.zip(titles).map { case (i, tl) => run.corpus.bibRecord(i, tl, model.xref(i)) },
          "store.basket_commit", model.lookup)
        ids.zip(titles).foreach { case (i, tl) => model.saveBib(i, tl) }
        Effect(Some(freeText(m)), bibs = ids, commits = 1, records = n)
      case ChangeHeading(a, m, head) =>
        val h = s"${model.heading(a)} $m"
        commit(Seq(run.corpus.authRecord(a, h)),
          if (head) "auth.cascade_head" else "auth.cascade_tail", model.lookup)
        val att = model.changeHeading(a, h)
        Effect(Some(exact(h)), bibs = att, auths = Seq(a), refreshed = att,
          commits = if (att.isEmpty) 1 else 2, records = 1 + att.size)
      case Merge(g, l) =>
        t.span("auth.merge") { store.merge(g, l, user) }
        val moved = model.merge(g, l)
        Effect(Some(exact(model.heading(g))), bibs = moved, auths = Seq(g, l),
          commits = 2, records = moved.size)
      case DeleteBib(id) =>
        t.span("store.delete") { store.delete("bib", Seq(id), user) }
        model.delete(id)
        Effect(Some(freeText(lastSave)), bibs = Seq(id), commits = 1, records = 1)
      case RestoreBib(id) =>
        t.span("store.restore") { store.restore("bib", id, user) }
        model.restore(id)
        Effect(Some(freeText(lastSave)), bibs = Seq(id), commits = 1, records = 1)
      case imp: Import =>
        val resolved = imp.files.flatMap { f =>
          val text = render(f)
          val parsed = t.span(s"records.parse_${f.format}") {
            if (f.format == "xml")
              Serialization.setFromXml("bib", text, authControl = false, deleteSubfieldZero = false)(AuthLookup.Empty)
            else Serialization.setFromMrk("bib", text, authControl = false, deleteSubfieldZero = false)(AuthLookup.Empty)
          }
          t.span("auth.batch_resolve") {
            BatchAuthResolve.resolve(spark, store.read("auth").toDF(), "bib", parsed,
              zeroXref = if (f.format == "xml") BatchAuthResolve.xmlZeroXref else BatchAuthResolve.mrkZeroXref)
          }
        }
        // the import's records go to the store in one commit
        commit(resolved, "store.import_commit", AuthLookup.Empty)
        val ids = imp.files.flatMap(f => (0 until f.n).map { j =>
          model.importBib(f.firstId + j, f.titles(j), f.auths(j))
          f.firstId + j
        })
        Effect(Some(freeText(imp.marker)), bibs = ids, commits = 1, records = imp.n)
      case Export(first, n) =>
        val rows = t.span("store.export_read") {
          MarcContext.resolveLinkedAuto(
            store.read("bib").where(col("_id").between(first, first + n - 1)),
            store.read("auth").toDF()).collect()
        }
        val recs = rows.toSeq.sortBy(_._id).map(MarcSchema.fromRow)
        val mrk = t.span("records.to_mrk") { Serialization.setToMrk(recs)(AuthLookup.Empty) }
        val xml = t.span("records.to_xml") { Serialization.setToXml(recs)(AuthLookup.Empty) }
        exported = Some((first, n, mrk, xml))
        Effect(None, records = n)
    }

    private var exported: Option[(Long, Int, String, String)] = None

    /** The seeded import file: 650$a carries the current heading text,
      * plus `$0` with the auth id on the drawn share of fields. */
    def render(f: ImportFile): String = {
      def esc(v: String) = scala.xml.Utility.escape(v)
      if (f.format == "xml")
        (0 until f.n).map { j =>
          val zero = if (f.zeroXref(j)) s"""<subfield code="0">${f.auths(j)}</subfield>""" else ""
          s"""<record><controlfield tag="001">${f.firstId + j}</controlfield>""" +
            s"""<datafield tag="245" ind1=" " ind2=" "><subfield code="a">${esc(f.titles(j))}</subfield></datafield>""" +
            s"""<datafield tag="650" ind1=" " ind2=" "><subfield code="a">${esc(model.heading(f.auths(j)))}</subfield>$zero</datafield></record>"""
        }.mkString("<collection>", "", "</collection>")
      else
        (0 until f.n).map { j =>
          val zero = if (f.zeroXref(j)) "$0" + f.auths(j) else ""
          s"=LDR  ****\n=001  ${f.firstId + j}\n=245  \\\\$$a${f.titles(j)}\n" +
            s"=650  \\\\$$a${model.heading(f.auths(j))}$zero\n"
        }.mkString("\n")
    }

    /** The read-after-write search through a fresh compiler. */
    def search(q: String): Vector[Long] = {
      val (bibs, auths) = t.span("store.read") { (store.read("bib").toDF(), store.read("auth").toDF()) }
      val compiler = new SparkQueryCompiler(spark, bibs, auths)
      val ast = t.span("query.parse") { QueryParser.parse(q, "bib") }
      val df = t.span("spark.raw_plan") { compiler.run(ast) }
      t.span("spark.raw_exec") { df.select("_id").collect() }.map(_.getLong(0)).toVector.sorted
    }

    private val touchedBibs = scala.collection.mutable.LinkedHashSet.empty[Long]
    private val touchedAuths = scala.collection.mutable.LinkedHashSet.empty[Long]
    private val refreshed = scala.collection.mutable.LinkedHashSet.empty[Long]

    /** After the session: every record a write touched reads back as the
      * model says, with one history row per version, and every bib a
      * cascade refreshed carries its auth's current heading (untimed). */
    def verifyStore(): Unit = {
      val bibIds = touchedBibs.toSeq
      val live = store.read("bib").unionByName(store.read("auth"))
        .where(col("_id").isin((bibIds ++ touchedAuths): _*)).collect()
      val got = live.filter(_.record_type == "bib").map(r => r._id -> r).toMap
      val auths = live.filter(_.record_type == "auth").map(r => r._id -> r).toMap
      bibIds.foreach { id =>
        (model.title.get(id), got.get(id)) match {
          case (None, None) => ()
          case (Some(tl), Some(r)) =>
            val f245 = r.datafields.find(_.tag == "245").flatMap(_.subfields.headOption)
            val f650 = r.datafields.find(_.tag == "650").flatMap(_.subfields.headOption)
            run.check(s"bib $id reads back ${f245.map(_.value)} / ${f650.map(_.xref)}")(
              f245.exists(_.value == tl) && f650.exists(s => s.xref != null && s.xref == model.xref(id)))
          case (want, r) => run.check(s"bib $id live=${r.isDefined}, model live=${want.isDefined}")(false)
        }
      }
      refreshed.foreach { id =>
        val v = got.get(id).flatMap(_.datafields.find(_.tag == "650")).flatMap(_.subfields.headOption).map(_.value)
        run.check(s"bib $id linked value $v after cascade")(v.contains(model.heading(model.xref(id))))
      }
      touchedAuths.foreach { a =>
        val h = auths.get(a).flatMap(_.datafields.headOption).flatMap(_.subfields.headOption).map(_.value)
        run.check(s"auth $a reads back $h, model ${model.heading.get(a)}")(h == model.heading.get(a))
      }
      def versions(rt: String, ids: Seq[Long]) =
        store.readHistory(rt).where(col("_id").isin(ids: _*)).groupBy(lit(rt).as("rt"), col("_id")).count()
      val counts = versions("bib", bibIds).unionByName(versions("auth", touchedAuths.toSeq)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
      for ((rt, ids) <- Seq("bib" -> bibIds, "auth" -> touchedAuths.toSeq); id <- ids) {
        val n = counts.getOrElse((rt, id), 0)
        run.check(s"$rt $id has $n history rows, model ${model.versions(rt, id)}")(n == model.versions(rt, id))
      }
    }

    /** Per-op checks that need no store access: the export round trip. */
    def verify(e: Effect): Unit = {
      touchedBibs ++= e.bibs; touchedAuths ++= e.auths; refreshed ++= e.refreshed
      exported.foreach { case (first, n, mrk, xml) =>
        val back = Seq("mrk" -> Serialization.setFromMrk("bib", mrk, authControl = false, deleteSubfieldZero = false)(AuthLookup.Empty),
          "xml" -> Serialization.setFromXml("bib", xml, authControl = false, deleteSubfieldZero = false)(AuthLookup.Empty))
        for ((fmt, recs) <- back) {
          run.check(s"export $fmt: ${recs.size} records, expected $n")(recs.size == n)
          recs.foreach { r =>
            val id = r.id.getOrElse(-1L)
            val f650 = r.getDataField("650")
            val ok = id >= first && id < first + n && r.getDataField("245").flatMap(_.getSubfield("a"))
              .flatMap(_.value).contains(model.title(id)) &&
              f650.flatMap(_.getSubfield("a")).flatMap(_.value).contains(model.heading(model.xref(id))) &&
              f650.flatMap(_.getSubfield("0")).flatMap(_.value).contains(model.xref(id).toString)
            run.check(s"export $fmt: record $id does not round-trip: $r")(ok)
          }
        }
        exported = None
      }
    }
  }

  /** `op` is the tracer's op id: the op's spans carry it. */
  final case class Step(op: Int, kind: String, cost: Cost, raw: Option[Cost], e: Effect,
      buckets: Int, liveBytes: Long, histBytes: Long)

  /** One op, its read-after-write search and its checks. */
  def step(run: Run, s: Session, op: CatalogOp): Option[Step] = {
    run.beginOp()
    try {
      val before = StoreDisk.snapshot(s.base)
      val (e, c) = run.cost(run.tracer.span(s"op.${op.kind}") { s.write(op) })
      val (buckets, liveBytes, histBytes) = StoreDisk.diff(before, StoreDisk.snapshot(s.base))
      val raw = e.raw.map { r =>
        val (ids, rc) = run.cost(run.tracer.span("raw_search") { s.search(r.query) })
        run.check(s"${op.kind}: read-after-write `${r.query}` returned ${ids.size} ids, " +
          s"model expects ${r.want.size}")(ids == r.want)
        rc
      }
      s.verify(e)
      Some(Step(run.tracer.op, op.kind, c, raw, e, buckets, liveBytes, histBytes))
    } catch {
      case ex: Exception =>
        run.check(s"${op.kind} threw ${ex.getClass.getName}: ${ex.getMessage}")(false)
        None
    }
  }

  def run(run: Run): Outcome = {
    val base = run.dir("store")
    val model = new Model(run.corpus)
    val (store, loadMs) = run.time(run.tracer.span("store.load") { Corpus.load(run.spark, run.corpus, base) })
    val s = new Session(run, store, base, model)
    val cycles = CatalogOps.generate(run.seed, run.corpus, 50)
    // warm-up, untimed and counted in set-up: the first save and the
    // first uncached search of a JVM run about twice as slow as later ones
    val (_, warmMs) = run.time(step(run, s, CatalogOps.warmup(run.seed, run.corpus, cycles)))
    val setupS = (loadMs + warmMs) / 1000.0

    // whole cycles: at least one, and another while time remains. The
    // store's size is taken after the first, so it does not depend on
    // how many cycles the window held.
    val todo = cycles.iterator
    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    var size: Option[(Long, Long, Int)] = None
    val (gc0, gcS0) = Jvm.gc()
    val t0 = System.nanoTime()
    val deadline = t0 + run.seconds * 1000000000L
    do {
      todo.next().foreach { op =>
        run.tracer.op += 1
        steps ++= step(run, s, op)
      }
      if (size.isEmpty) {
        val snap = StoreDisk.snapshot(base)
        size = Some((Seq("bibs", "auths").map(StoreDisk.bytes(snap, _)).sum,
          Seq("bib_history", "auth_history").map(StoreDisk.bytes(snap, _)).sum, model.liveBibs + model.liveAuths))
      }
    } while (System.nanoTime() < deadline && todo.hasNext)
    val wallS = (System.nanoTime() - t0) / 1e9
    val (gc1, gcS1) = Jvm.gc()
    run.beginOp()
    s.verifyStore()

    val ops = steps.map(st => st.kind -> st.cost).toSeq
    val raws = steps.flatMap(st => st.raw.map(st.kind -> _)).toSeq
    val all = ops ++ raws
    val (liveBytes, histBytes, records) = size.get
    val heap = Jvm.liveHeapMb()
    val opCpuMs = Stats.kindMedianMean(Stats.cpu(ops))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_cpu_ms", opCpuMs, "ms"),
      ("aux_cpu_ms", Stats.kindMedianMean(Stats.cpu(raws)), "ms"),
      ("ops_per_cpu_s", steps.size / (all.map(_._2.cpuMs).sum / 1000), "1/s"),
      ("heap_live_mb", heap, "MB"),
      ("store_bytes_per_record", (liveBytes + histBytes).toDouble / records, "B"))
    val detail = Seq(
      "ops" -> steps.size.toString,
      "store_load_s" -> f"${loadMs / 1000}%.3f",
      "warmup_s" -> f"${warmMs / 1000}%.3f") ++
      Stats.wallClock(ops, raws, all) ++ Stats.byKind(ops)
    val layers = Layers.catalog(run, steps.toSeq, wallS, gc1 - gc0, gcS1 - gcS0, histBytes.toDouble / (liveBytes + histBytes))
    Outcome(e2e, Layers.complete(layers ++ Layers.overhead(run, wallS, opCpuMs)), detail)
  }
}
