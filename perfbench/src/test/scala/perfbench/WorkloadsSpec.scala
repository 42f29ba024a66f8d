package perfbench

import graft.queries.RealMarc
import org.scalatest.funsuite.AnyFunSuite

/** The workload generators: deterministic per seed, the intended query
  * mix, and import files whose text-resolved headings are unambiguous.
  * The corpus is the RealMarc heading dimension (its Scala replica, no
  * Spark) with seeded titles and the generator's tiered attachment. */
class WorkloadsSpec extends AnyFunSuite {

  private val corpus: Corpus = {
    val nA = RealMarc.nAuths.toInt
    val nB = RealMarc.nBibs.toInt
    val rng = new scala.util.Random(7)
    val headings = Array.tabulate(nA)(i => RealMarc.headingOf(i.toLong))
    val titles = Array.fill(nB)(s"w${1 + rng.nextInt(2000)} w${1 + rng.nextInt(2000)}")
    val xrefs = Array.fill(nB) {
      val t = rng.nextInt(1000)
      if (t < 500) rng.nextInt(20).toLong
      else if (t < 800) 20L + rng.nextInt(580)
      else 600L + rng.nextInt(nA - 600)
    }
    new Corpus(headings, titles, xrefs)
  }

  test("one seed gives the same search and catalog op sequences; another seed does not") {
    assert(SearchOps.generate(42, corpus, 20) == SearchOps.generate(42, corpus, 20))
    assert(SearchOps.generate(42, corpus, 20) != SearchOps.generate(43, corpus, 20))
    assert(CatalogOps.generate(42, corpus, 3) == CatalogOps.generate(42, corpus, 3))
    assert(CatalogOps.generate(42, corpus, 3) != CatalogOps.generate(43, corpus, 3))
  }

  test("every search round holds each search kind once and the typeahead share") {
    val perRound = SearchOps.kinds.size + SearchOps.typeaheadsPerRound
    val ops = SearchOps.generate(9, corpus, 50)
    assert(ops.size == 50 * perRound)
    ops.grouped(perRound).foreach { round =>
      assert(round.collect { case s: Search => s.kind }.sorted == SearchOps.kinds.sorted)
      assert(round.count(_.kind == "typeahead") == SearchOps.typeaheadsPerRound)
    }
    // Zipfian headings: the 20 head auths (a few hundred bibs each) get
    // a large share of the exact-heading searches, far above 20/3000
    val exact = ops.collect { case s: Search if s.kind == "exact" => s.args(0) }
    val head = (0 until 20).map(corpus.headings(_)).toSet
    assert(exact.count(head.contains).toDouble / exact.size > 0.25)
  }

  test("subject_narrow stays under the in-list cap and subject_broad exceeds it") {
    val distinctHeadings = corpus.headings.distinct
    def resolved(pattern: String): Int = {
      val p = java.util.regex.Pattern.compile(pattern)
      distinctHeadings.count(h => p.matcher(h).find())
    }
    val ops = SearchOps.generate(11, corpus, 100).collect { case s: Search => s }
    ops.filter(_.kind == "subject_narrow").foreach(s =>
      assert(resolved(s.args(0)) <= SearchOps.maxResolvedValues, s.query))
    ops.filter(_.kind == "subject_broad").foreach(s =>
      assert(resolved(s.args(0)) > SearchOps.maxResolvedValues, s.query))
  }

  test("auth-controlled import values name unique headings of live auths") {
    val cycles = CatalogOps.generate(5, corpus, 10)
    val merged = cycles.flatten.collect { case CatalogOp.Merge(_, losing) => losing }
    val imports = cycles.flatten.collect { case i: CatalogOp.Import => i }
    assert(imports.size == 10)
    imports.foreach { imp =>
      assert(imp.files.map(_.format) == Vector("mrk", "xml"))
      imp.files.foreach { f =>
        f.auths.foreach { a =>
          assert(corpus.headingCount(corpus.headings(a.toInt)) == 1, s"auth $a heading is shared")
        }
      }
    }
    // an import never names an auth an earlier cycle merged away
    cycles.zipWithIndex.foreach { case (cycle, i) =>
      val gone = cycles.take(i).flatten.collect { case CatalogOp.Merge(_, l) => l }.toSet
      cycle.collect { case imp: CatalogOp.Import => imp }.foreach(imp =>
        assert(imp.files.flatMap(_.auths).forall(a => !gone.contains(a))))
    }
    assert(merged.distinct.size == merged.size)
    // both resolution routes occur: $0 on some fields, heading text on the rest
    val zero = imports.flatMap(_.files.flatMap(_.zeroXref))
    assert(zero.contains(true) && zero.contains(false))
  }

  test("the catalog warm-up saves a bib that no cycle op touches") {
    val cycles = CatalogOps.generate(8, corpus, 50)
    val CatalogOp.SaveBib(id, marker) = CatalogOps.warmup(8, corpus, cycles)
    assert(CatalogOps.warmup(8, corpus, cycles) == CatalogOp.SaveBib(id, marker))
    cycles.flatten.foreach {
      case CatalogOp.SaveBib(b, m) => assert(b != id && m != marker)
      case CatalogOp.SaveBasket(first, n, _) => assert(id < first || id >= first + n)
      case CatalogOp.ChangeHeading(a, _, _) => assert(corpus.xrefs(id.toInt) != a)
      case CatalogOp.Merge(g, l) => assert(!Set(g, l).contains(corpus.xrefs(id.toInt)))
      case _ => ()
    }
  }

  test("catalog cycles use every op kind in the fixed order") {
    CatalogOps.generate(3, corpus, 4).foreach(c => assert(c.map(_.kind) == CatalogOps.cycleKinds))
  }

  test("the tail statistic leaves ten samples beyond it; kind medians weigh kinds equally") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((30.0, 75.0, 40)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((20.0, 100.0, 20)))
    assert(Stats.kindMedianMean(Seq("a" -> 1.0, "a" -> 3.0, "a" -> 100.0, "b" -> 10.0)) == 6.5)
  }

  test("a saved corpus reads back unchanged") {
    val f = java.io.File.createTempFile("corpus", ".bin")
    try {
      Corpus.save(corpus, f)
      val back = Corpus.read(f)
      assert(back.headings.sameElements(corpus.headings) && back.titles.sameElements(corpus.titles) &&
        back.xrefs.sameElements(corpus.xrefs))
    } finally f.delete()
  }

  test("process CPU counts a thread that starts from zero, drops one that ends, and sees this thread work") {
    assert(Jvm.cpuBetween(Map("1" -> 5L, "2" -> 7L), Map("1" -> 9L, "3" -> 4L)) == 8L)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val before = Jvm.threadCpuNs()
    val until = mx.getCurrentThreadCpuTime + 50000000L
    var x = 0L
    while (mx.getCurrentThreadCpuTime < until) x += 1
    assert(Jvm.cpuBetween(before, Jvm.threadCpuNs()) >= 40000000L, x)
  }
}
