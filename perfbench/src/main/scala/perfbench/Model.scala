package perfbench

import java.util.regex.Pattern
import scala.collection.mutable

/** The benchmark's own in-memory replica of the store's logical
  * contents: what every search, read-back and history count must show.
  * It starts from the generator relations and applies each write the
  * way the reference semantics define it, independently of the
  * program's Spark code. */
final class Model(c: Corpus) {
  val title: mutable.LongMap[String] = mutable.LongMap.from(c.titles.indices.map(i => i.toLong -> c.titles(i)))
  val xref: mutable.LongMap[Long] = mutable.LongMap.from(c.xrefs.indices.map(i => i.toLong -> c.xrefs(i)))
  val heading: mutable.LongMap[String] = mutable.LongMap.from(c.headings.indices.map(i => i.toLong -> c.headings(i)))
  private val bibVersions = mutable.LongMap.from(c.titles.indices.map(_.toLong -> 1))
  private val authVersions = mutable.LongMap.from(c.headings.indices.map(_.toLong -> 1))
  private val deleted = mutable.LongMap.empty[(String, Long)]

  def versions(recordType: String, id: Long): Int =
    (if (recordType == "auth") authVersions else bibVersions).getOrElse(id, 0)

  def liveBibs: Int = title.size
  def liveAuths: Int = heading.size

  def attached(auth: Long): Vector[Long] =
    xref.iterator.collect { case (b, x) if x == auth => b }.toVector.sorted

  def saveBib(id: Long, newTitle: String): Unit = {
    title(id) = newTitle
    bibVersions(id) = versions("bib", id) + 1
  }

  /** Heading change: the auth and every attached bib gain a version. */
  def changeHeading(auth: Long, h: String): Vector[Long] = {
    heading(auth) = h
    authVersions(auth) = versions("auth", auth) + 1
    val att = attached(auth)
    att.foreach(b => bibVersions(b) = versions("bib", b) + 1)
    att
  }

  def merge(gaining: Long, losing: Long): Vector[Long] = {
    val moved = attached(losing)
    moved.foreach { b => xref(b) = gaining; bibVersions(b) = versions("bib", b) + 1 }
    heading.remove(losing)
    authVersions(losing) = versions("auth", losing) + 1
    moved
  }

  def delete(id: Long): Unit = {
    deleted(id) = (title(id), xref(id))
    title.remove(id); xref.remove(id)
    bibVersions(id) = versions("bib", id) + 1
  }

  def restore(id: Long): Unit = {
    val (t, x) = deleted.remove(id).get
    title(id) = t; xref(id) = x
    bibVersions(id) = versions("bib", id) + 1
  }

  def importBib(id: Long, t: String, x: Long): Unit = {
    title(id) = t; xref(id) = x; bibVersions(id) = 1
  }

  /** Linked-value lookup over the current headings: what the editor's
    * auth cache resolves a saved record's 650$a to. */
  val lookup: graft.model.AuthLookup = new graft.model.AuthLookup {
    def lookup(x: Long, code: String): Option[String] =
      if (code == "a") heading.get(x) else None
    def xlookup(sourceTag: String, code: String, value: String): Seq[Long] = Nil
  }

  // ---- replays: expected result ids, sorted --------------------------------

  private def bibsWhere(p: (Long, String, Long) => Boolean): Vector[Long] =
    title.iterator.collect { case (b, t) if p(b, t, xref(b)) => b }.toVector.sorted

  private def find(p: String)(s: String): Boolean = Pattern.compile(p).matcher(s).find()

  /** auths whose heading equals `h` under the strength-1 collation
    * (the generated headings are ASCII, so case folding suffices). */
  def headingXrefs(h: String): Set[Long] =
    heading.iterator.collect { case (a, v) if v.equalsIgnoreCase(h) => a }.toSet

  private def headingOf(x: Long): String = heading.getOrElse(x, "")

  def exact(h: String): Vector[Long] = {
    val xs = headingXrefs(h)
    bibsWhere((_, _, x) => xs.contains(x))
  }

  def tagText(word: String): Vector[Long] = bibsWhere((_, t, _) => Words.of(t).contains(word))

  /** bibs whose record words (title and resolved heading) hold `word`. */
  def freeText(word: String): Vector[Long] =
    bibsWhere((_, t, x) => Words.of(t).contains(word) || Words.of(headingOf(x)).contains(word))

  def search(op: Search): Vector[Long] = op.kind match {
    case "exact" => exact(op.args(0))
    case "tag_text" => tagText(op.args(0))
    case "tag_regex" => bibsWhere((_, t, _) => find("^" + op.args(0))(t))
    case "free_text" => freeText(op.args(0))
    case "subject_narrow" | "subject_broad" =>
      bibsWhere((_, _, x) => find(op.args(0))(headingOf(x)))
    case "or" => bibsWhere((_, t, x) =>
      find("^" + op.args(0))(t) || find(s"\\b${op.args(1)}\\b")(headingOf(x)))
    case "and_not" =>
      val xs = headingXrefs(op.args(0))
      bibsWhere((_, t, x) => xs.contains(x) && !find("^" + op.args(1))(t))
  }

  /** partial_lookup: headings containing the needle, first 25 by
    * (value, xref). */
  def typeahead(needle: String): Vector[(String, Long)] =
    heading.iterator.filter(_._2.toLowerCase.contains(needle.toLowerCase))
      .map { case (a, h) => (h, a) }.toVector.sorted.take(25)
}
