package perfbench

import graft.query.QueryParser
import graft.spark.{AuthOps, SparkQueryCompiler}
import org.apache.spark.sql.DataFrame

/** `search`: one user's read-only session through a compiler with
  * cached indexes (the documented path for repeated querying), mixing
  * every search kind with typeahead lookups. The store only reads. */
object SearchWorkload {
  /** a seed no measured run uses: the warm-up's op sequence. */
  val warmupSeed = -1L
  /** rounds run before the window: the first ones in a JVM are the slowest. */
  val warmupRounds = 1

  final class Session(val compiler: SparkQueryCompiler, val auths: DataFrame)

  /** Load the corpus store and open a compiler over it. */
  def open(run: Run): Session = {
    val store = run.tracer.span("store.load") { Corpus.load(run.spark, run.corpus, run.dir("store")) }
    val compiler = new SparkQueryCompiler(run.spark, store.read("bib").toDF(), store.read("auth").toDF(),
      maxResolvedValues = SearchOps.maxResolvedValues)
    new Session(compiler, store.read("auth").toDF())
  }

  /** Materialize the compiler's cached indexes (cacheIndexes). */
  def buildIndexes(run: Run, s: Session): Unit = {
    val c = s.compiler
    c.cacheIndexes()
    run.tracer.span("spark.index_build") {
      run.tracer.span("spark.tag_index_build") { c.tagIdx.count() }
      run.tracer.span("spark.browse_index_build") { c.browseIdx.count() }
      c.headings.count()
    }
  }

  /** run one op; returns the ids (searches) or (value, xref) rows. */
  def exec(run: Run, s: Session, op: SearchOp): Either[Vector[Long], Vector[(String, Long)]] = {
    val t = run.tracer
    op match {
      case q: Search => t.span(s"search.${q.kind}") {
        val ast = t.span("query.parse") { QueryParser.parse(q.query, "bib") }
        val df = t.span("spark.plan") { s.compiler.run(ast) }
        Left(t.span("spark.exec") { df.select("_id").collect() }.map(_.getLong(0)).toVector.sorted)
      }
      case Typeahead(needle) => t.span("typeahead") {
        Right(t.span("spark.typeahead") {
          AuthOps.partialLookup(s.auths, "bib", "650", "a", needle).collect()
        }.map(r => (r.getString(0), r.getLong(1))).toVector)
      }
    }
  }

  def verify(run: Run, model: Model, op: SearchOp, got: Either[Vector[Long], Vector[(String, Long)]]): Unit =
    (op, got) match {
      case (q: Search, Left(ids)) =>
        val want = model.search(q)
        run.check(s"${q.kind} `${q.query}`: ${ids.size} ids, replay expects ${want.size}")(ids == want)
      case (Typeahead(n), Right(rows)) =>
        val want = model.typeahead(n)
        run.check(s"typeahead '$n': $rows, replay expects $want")(rows == want)
      case _ => run.check(s"$op returned $got")(false)
    }

  def run(run: Run): Outcome = {
    val model = new Model(run.corpus)
    val (session, loadMs) = run.time(open(run))
    // built once: a repeat costs seconds a run cannot spare (README.md)
    val (_, indexMs) = run.time(buildIndexes(run, session))
    val (_, warmMs) = run.time {
      // whole rounds, untimed, counted in set-up
      SearchOps.generate(warmupSeed, run.corpus, warmupRounds).foreach { op =>
        run.beginOp()
        verify(run, model, op, exec(run, session, op))
      }
    }
    val setupS = (loadMs + indexMs + warmMs) / 1000.0

    // whole rounds, so every run measures the same mix: at least one,
    // and another while time remains
    val rounds = SearchOps.generate(run.seed, run.corpus, 1000).grouped(SearchOps.roundSize)
    val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Cost)]
    val results = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (gc0, gcS0) = Jvm.gc()
    val t0 = System.nanoTime()
    val deadline = t0 + run.seconds * 1000000000L
    do rounds.next().foreach { op =>
      run.tracer.op += 1
      run.beginOp()
      val (got, c) = run.cost(exec(run, session, op))
      ops += op.kind -> c
      got.left.foreach(ids => results += ids.size)
      verify(run, model, op, got)
    } while (System.nanoTime() < deadline && rounds.hasNext)
    val (gc1, gcS1) = Jvm.gc()
    val wallS = (System.nanoTime() - t0) / 1e9
    val searches = ops.filter(_._1 != "typeahead").toSeq
    val typeaheads = ops.filter(_._1 == "typeahead").toSeq
    val storeBytes = StoreDisk.tables.map(StoreDisk.bytes(StoreDisk.snapshot(run.dir("store")), _)).sum
    val heap = Jvm.liveHeapMb()

    val opCpuMs = Stats.kindMedianMean(Stats.cpu(searches))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_cpu_ms", opCpuMs, "ms"),
      ("aux_cpu_ms", Stats.median(Stats.cpu(typeaheads).map(_._2)), "ms"),
      ("ops_per_cpu_s", ops.size / (ops.map(_._2.cpuMs).sum / 1000), "1/s"),
      ("heap_live_mb", heap, "MB"),
      ("store_bytes_per_record", storeBytes.toDouble / (model.liveBibs + model.liveAuths), "B"))
    val detail = Seq(
      "searches" -> searches.size.toString,
      "typeaheads" -> typeaheads.size.toString,
      "store_load_s" -> f"${loadMs / 1000}%.3f",
      "index_build_s" -> f"${indexMs / 1000}%.3f",
      "warmup_s" -> f"${warmMs / 1000}%.3f") ++
      Stats.wallClock(searches, typeaheads, ops.toSeq) ++ Stats.byKind(searches)
    val layers = Layers.search(run, searches.size, results.sum, wallS, gc1 - gc0, gcS1 - gcS0)
    Outcome(e2e, Layers.complete(layers ++ Layers.overhead(run, wallS, opCpuMs)), detail)
  }
}
