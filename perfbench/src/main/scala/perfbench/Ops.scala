package perfbench

import scala.util.Random

/** Zipf(s) over ranks 1..n, sampled by inverse CDF; returns rank - 1. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Words {
  def of(s: String): Seq[String] = s.split(' ').toSeq.filter(_.nonEmpty)
}

// ---- search session -------------------------------------------------------

sealed trait SearchOp { def kind: String }
/** One search: its kind and the literals drawn for it; `query` renders
  * the dlx query string, the model replays the same literals. */
final case class Search(kind: String, args: Vector[String]) extends SearchOp {
  def query: String = kind match {
    case "exact" => s"650__a:'${args(0).toUpperCase}'"
    case "tag_text" => s"245__a:${args(0)}"
    case "tag_regex" => s"245__a:/^${args(0)}/"
    case "free_text" => args(0)
    case "subject_narrow" | "subject_broad" => s"subject:/${args(0)}/"
    case "or" => s"245__a:/^${args(0)}/ OR 650__a:/\\b${args(1)}\\b/"
    case "and_not" => s"650__a:'${args(0).toUpperCase}' AND NOT 245__a:/^${args(1)}/"
  }
}
final case class Typeahead(needle: String) extends SearchOp { def kind: String = "typeahead" }

/** The read-only session: rounds of every search kind once plus
  * `typeaheadsPerRound` typeahead lookups, shuffled within the round.
  * Headings are drawn Zipfian over auth ids (the generator's head auths
  * are the low ids, so popular headings carry hundreds of bibs);
  * title terms come from uniformly drawn bibs. The shares and the Zipf
  * exponent are assumptions, not measured dlx traffic (README.md,
  * "Traffic: stated and assumed"). `subject_narrow`
  * resolves a few browse values (the in-list path) and `subject_broad`
  * more than [[maxResolvedValues]] (the over-cap fallback). */
object SearchOps {
  val kinds: Seq[String] = Seq("exact", "tag_text", "tag_regex", "free_text",
    "subject_narrow", "subject_broad", "or", "and_not")
  /** assumed: a few prefix lookups while the user types, per 8 searches */
  val typeaheadsPerRound = 5
  def roundSize: Int = kinds.size + typeaheadsPerRound
  /** assumed: the classic Zipf exponent of query-term frequency */
  val zipfS = 1.0
  /** the search compiler's in-list cap (SparkQueryCompiler maxResolvedValues). */
  val maxResolvedValues = 100

  def generate(seed: Long, c: Corpus, rounds: Int): Vector[SearchOp] = {
    val rng = new Random(seed)
    val zipf = new Zipf(c.nAuths, zipfS)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    def bib(): Int = rng.nextInt(c.nBibs)
    def heading(): String = c.headings(zipf.sample(rng))
    def digit(): String = s"w${1 + rng.nextInt(9)}"
    def one(kind: String): SearchOp = kind match {
      case "exact" => Search(kind, Vector(heading()))
      case "tag_text" => Search(kind, Vector(pick(Words.of(c.titles(bib())))))
      case "tag_regex" => Search(kind, Vector(Words.of(c.titles(bib())).head.take(3)))
      case "free_text" =>
        val b = bib()
        Search(kind, Vector(pick(Words.of(c.titles(b)) ++ Words.of(c.headings(c.xrefs(b).toInt)))))
      case "subject_narrow" => Search(kind, Vector(s"\\b${pick(Words.of(heading()))}\\b"))
      case "subject_broad" => Search(kind, Vector("^" + digit()))
      case "or" =>
        Search(kind, Vector(Words.of(c.titles(bib())).head.take(4), pick(Words.of(heading()))))
      case "and_not" => Search(kind, Vector(heading(), digit()))
      case "typeahead" =>
        val w = pick(Words.of(c.headings(rng.nextInt(c.nAuths))))
        Typeahead(w.take(2 + rng.nextInt(3)))
    }
    Vector.fill(rounds)(
      rng.shuffle(kinds ++ Seq.fill(typeaheadsPerRound)("typeahead")).map(one)).flatten
  }
}

// ---- catalog session ------------------------------------------------------

sealed trait CatalogOp { def kind: String }
object CatalogOp {
  /** Re-save one bib with a unique marker word appended to its title. */
  final case class SaveBib(id: Long, marker: String) extends CatalogOp { def kind = "save" }
  /** Re-save 100 contiguous bibs, each title gaining the basket marker. */
  final case class SaveBasket(first: Long, n: Int, marker: String) extends CatalogOp {
    def kind = "basket"
  }
  /** Append a marker word to an auth heading; the store cascades the
    * change to every attached bib. */
  final case class ChangeHeading(auth: Long, marker: String, head: Boolean) extends CatalogOp {
    def kind: String = if (head) "heading_head" else "heading_tail"
  }
  final case class Merge(gaining: Long, losing: Long) extends CatalogOp { def kind = "merge" }
  final case class DeleteBib(id: Long) extends CatalogOp { def kind = "delete" }
  final case class RestoreBib(id: Long) extends CatalogOp { def kind = "restore" }
  /** Import new bibs from one seeded MRK file and one MARCXML file,
    * committed together. 650$a is auth-controlled: resolved by `$0` on a
    * share of the fields and by unique heading text on the rest. */
  final case class Import(marker: String, files: Vector[ImportFile]) extends CatalogOp {
    def kind = "import"
    def n: Int = files.map(_.n).sum
  }
  /** Export the records of the previous import as MRK and MARCXML. */
  final case class Export(firstId: Long, n: Int) extends CatalogOp { def kind = "export" }
}

/** One import file: `n` records with ids from `firstId`. */
final case class ImportFile(format: String, firstId: Long, titles: Vector[String],
    auths: Vector[Long], zeroXref: Vector[Boolean]) {
  def n: Int = titles.size
}

/** The editing session: whole cycles of the same op kinds in a fixed
  * order (so every run measures the same mix), with targets drawn from
  * the seed. Every op is followed by a read-after-write search. */
object CatalogOps {
  import CatalogOp._

  val basketSize = 100
  /** records per import file; an import reads one MRK and one XML file */
  val importFileSize = 50
  val zeroXrefShare = 0.3
  /** Imported ids start past any id the corpus or earlier imports use. */
  val importIdBase = 10000000L
  /** The generator's tier layout: auths 0-19 are the head, 600+ the tail. */
  val headAuths = 20
  val tailFrom = 600

  val cycleKinds: Seq[String] = Seq("save", "basket", "heading_tail", "delete", "restore",
    "import", "heading_head", "export", "merge")

  /** auth ids whose heading no other auth shares: import files may name
    * them by heading text and still resolve to exactly one auth. */
  def uniqueHeadingAuths(c: Corpus): Vector[Long] =
    c.headings.indices.iterator.filter(i => c.headingCount(c.headings(i)) == 1)
      .map(_.toLong).toVector

  /** A seed's marker stem: marker words are unique per seed and op. */
  private def tag(seed: Long): String = s"s$seed".replace("-", "m")

  /** The untimed warm-up op: save one bib, drawn from the seed, that no
    * op of `cycles` touches, so the measured cycles do the same work
    * with the warm-up as without it. */
  def warmup(seed: Long, c: Corpus, cycles: Vector[Vector[CatalogOp]]): CatalogOp = {
    val ops = cycles.flatten
    val bibs = ops.flatMap {
      case SaveBib(id, _) => Seq(id)
      case SaveBasket(first, n, _) => first until first + n
      case _ => Nil
    }.toSet
    val auths = ops.flatMap {
      case ChangeHeading(a, _, _) => Seq(a)
      case Merge(g, l) => Seq(g, l)
      case _ => Nil
    }.toSet
    val free = (0 until c.nBibs).filter(i => !bibs.contains(i.toLong) && !auths.contains(c.xrefs(i)))
    SaveBib(free(new Random(seed).nextInt(free.size)).toLong, s"u${tag(seed)}x0")
  }

  def generate(seed: Long, c: Corpus, cycles: Int): Vector[Vector[CatalogOp]] = {
    val rng = new Random(seed)
    val tag = CatalogOps.tag(seed)
    var n = 0
    def marker(prefix: String): String = { n += 1; s"$prefix${tag}x$n" }
    val zipf = new Zipf(c.nAuths, SearchOps.zipfS)
    val unique = uniqueHeadingAuths(c)
    val uniqueSet = unique.toSet
    // tail auths with at least one attached bib, drawn without
    // replacement so merges and heading changes never reuse a deleted auth
    val tail = rng.shuffle((tailFrom until c.nAuths).filter(c.attachedCount(_) > 0)
      .map(_.toLong).toVector).iterator
    var nextImportId = importIdBase + (seed & 0xffffL) * 100000L
    var lastImport = (0L, 0)
    val merged = scala.collection.mutable.Set.empty[Long]
    def importOp(): Import = {
      val m = marker("i")
      val files = Vector("mrk", "xml").map { format =>
        val first = nextImportId
        nextImportId += importFileSize
        ImportFile(format, first,
          Vector.fill(importFileSize)(s"${c.titles(rng.nextInt(c.nBibs))} $m"),
          Vector.fill(importFileSize) {
            var a = zipf.sample(rng).toLong
            while (!uniqueSet.contains(a) || merged.contains(a)) a = unique(rng.nextInt(unique.size))
            a
          },
          Vector.fill(importFileSize)(rng.nextDouble() < zeroXrefShare))
      }
      lastImport = (files.head.firstId, files.map(_.n).sum)
      Import(m, files)
    }
    Vector.fill(cycles) {
      val saved = rng.nextInt(c.nBibs).toLong
      cycleKinds.toVector.map {
        case "save" => SaveBib(saved, marker("e"))
        case "basket" => SaveBasket(rng.nextInt(c.nBibs - basketSize).toLong, basketSize, marker("b"))
        case "heading_tail" => ChangeHeading(tail.next(), marker("h"), head = false)
        case "heading_head" => ChangeHeading(rng.nextInt(headAuths).toLong, marker("h"), head = true)
        case "delete" => DeleteBib(saved)
        case "restore" => RestoreBib(saved)
        case "import" => importOp()
        case "export" => Export(lastImport._1, lastImport._2)
        case "merge" =>
          val m = Merge(tail.next(), tail.next())
          merged += m.losing
          m
      }
    }
  }
}
