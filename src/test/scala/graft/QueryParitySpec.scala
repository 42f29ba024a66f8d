package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.query._
import graft.query.Cond._
import graft.query.CondVal._
import graft.spark.SparkQueryCompiler
import Fixtures._

/** Generative three-way parity for the query DSL: a seeded stream of
  * random condition trees evaluated by (1) the row engine — the
  * executable semantic spec, (2) the compiler's in-list predicate
  * path, and (3) the semi-join default path — each on the default
  * compiler and on the two capped ones, where every xref branch is a
  * flag join or every value in-list is over the cap. The trees are the
  * random corpus plus a smaller heading corpus, because on the random
  * corpus alone no xref branch becomes a flag join. Any divergence
  * between the Spark plans and the row engine is a bug by definition;
  * over the value cap a tree with a text leaf may raise instead. */
class QueryParitySpec extends AnyFunSuite {

  import QueryParitySpec._

  lazy val spark = SparkTestSession.spark
  lazy val bibsDf = graft.spark.MarcSchema.toDataset(spark, Seq(pb1, pb2)).toDF()
  lazy val authsDf = graft.spark.MarcSchema.toDataset(spark, Seq(auth1, auth2)).toDF()
  lazy val compiler = new SparkQueryCompiler(spark, bibsDf, authsDf)
  // every xref branch a flag join; every value in-list over the cap
  lazy val noXrefs = new SparkQueryCompiler(spark, bibsDf, authsDf, maxResolvedXrefs = 0)
  lazy val noValues = new SparkQueryCompiler(spark, bibsDf, authsDf, maxResolvedValues = 0)
  lazy val rowEngine = new RowQueryEngine(Seq(pb1, pb2), Seq(auth1, auth2))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("_id").collect().map(_.getLong(0)).toSet

  // over the value cap a text condition raises, as the reference does
  private def hasTextLeaf(c: Cond): Boolean = c match {
    case AndCond(cs) => cs.exists(hasTextLeaf)
    case OrCond(cs) => cs.exists(hasTextLeaf)
    case _: TagText | _: LogicalText => true
    case _ => false
  }

  test("random condition trees: row engine == in-list plan == semi-join plan") {
    val compilers = Seq("default" -> compiler, "maxResolvedXrefs=0" -> noXrefs,
      "maxResolvedValues=0" -> noValues)
    for ((ast, i) <- (corpus ++ headingCorpus).zip(LazyList.from(1))) {
      val expected = rowEngine.run(ast).flatMap(_.id).toSet
      for ((name, c) <- compilers;
           (route, run) <- Seq[(String, QueryAst => org.apache.spark.sql.DataFrame)](
             "in-list" -> c.runInList, "semi-join" -> c.runSemiJoin)) {
        val got =
          try Some(ids(run(ast)))
          catch { case _: InvalidQueryString if (c eq noValues) && ast.conditions.exists(hasTextLeaf) => None }
        got.foreach(g => assert(g == expected, s"[$i] $name $route diverged for $ast: spark=$g row=$expected"))
      }
    }
  }
}

/** The parity corpus: audit-stamped fixtures and a seeded stream of
  * random condition trees, shared by the specs that check a plan
  * against the row engine. */
object QueryParitySpec {
  // audit-stamped copies so date/user conditions have ground truth
  lazy val pb1 = bib1.copy(
    created = Some(java.time.Instant.parse("2020-01-10T08:00:00Z")),
    updated = Some(java.time.Instant.parse("2020-02-10T12:00:00Z")),
    user = Some("alice"), createdUser = Some("carol"))
  lazy val pb2 = bib2.copy(
    created = Some(java.time.Instant.parse("2021-06-01T00:00:00Z")),
    updated = Some(java.time.Instant.parse("2021-06-01T23:59:59Z")),
    user = Some("bob"), createdUser = None)
  private val tagPool = Seq("245", "520", "650", "710", "999")
  private val codes = Seq("a", "b", "c")
  private val values = Seq("This", "Another", "title", "is the", "Header",
    "Another header", "Description", "DESCRIPTION", "héader", "zzz", "")
  private val termPools = Seq("title", "header", "description", "another",
    "another description", "this", "repeated subfield", "zzz qqq")
  private val regexes = Seq("[Hh]eader", "^Desc", "tion$", "i.le", "e{2}", "zzz")

  private def genVal(r: scala.util.Random): CondVal = r.nextInt(4) match {
    case 0 => Exact(values(r.nextInt(values.length)))
    case 1 => TextMode(values(r.nextInt(values.length)))
    case 2 => Rx(regexes(r.nextInt(regexes.length)), ci = r.nextBoolean())
    case _ => Star
  }

  private val logicalFields = Seq("title", "subject", "author", "nope")

  private def genLeaf(r: scala.util.Random): Cond = {
    val tag = tagPool(r.nextInt(tagPool.length))
    val code = codes(r.nextInt(codes.length))
    def field = logicalFields(r.nextInt(logicalFields.length))
    r.nextInt(16) match {
      case 0 => FieldCond(tag, Seq(code -> genVal(r)),
        modifier = Seq(None, Some("not"), Some("exists"), Some("not_exists"))(r.nextInt(4)))
      case 1 => TagValue(tag, genVal(r), not = r.nextBoolean())
      case 2 => TagText(tag, if (r.nextBoolean()) Some(code) else None,
        TextQuery.fielded(termPools(r.nextInt(termPools.length))), not = r.nextBoolean())
      case 3 => TagRegex(tag, if (r.nextBoolean()) Some(code) else None,
        Rx(regexes(r.nextInt(regexes.length)), ci = r.nextBoolean()), not = r.nextBoolean())
      case 4 => SubfieldExists(tag, code, not = r.nextBoolean())
      case 5 => TagExists(tag, not = r.nextBoolean())
      case 6 => IdEquals(1L + r.nextInt(3))
      case 7 => XrefRef(1L + r.nextInt(3), not = r.nextBoolean())
      case 8 => LogicalExists(field, not = r.nextBoolean())
      case 9 => LogicalExact(field, values(r.nextInt(values.length)))
      case 10 => LogicalRx(field, Rx(regexes(r.nextInt(regexes.length)), ci = r.nextBoolean()),
        not = r.nextBoolean())
      case 11 => LogicalText(field,
        TextQuery.fielded(termPools(r.nextInt(termPools.length))), not = r.nextBoolean())
      case 12 => CtrlEquals(Seq("000", "008")(r.nextInt(2)),
        Seq("leader", "controlfield", "nope")(r.nextInt(3)))
      case 13 => DateCompare(Seq("created", "updated")(r.nextInt(2)),
        Seq(":", "<", ">")(r.nextInt(3)),
        java.time.LocalDate.parse(Seq("2020-01-10", "2020-06-15", "2021-06-01",
          "2021-06-02", "2019-01-01")(r.nextInt(5))))
      case 14 => UserMatch(Seq("user", "created_user")(r.nextInt(2)), r.nextInt(4) match {
        case 0 => Exact(Seq("alice", "bob", "carol", "nope")(r.nextInt(4)))
        case 1 => TextMode(Seq("alice", "bob", "carol", "nope")(r.nextInt(4)))
        case 2 => Rx(Seq("^a", "o", "b.b")(r.nextInt(3)), ci = r.nextBoolean())
        case _ => Star
      })
      case _ => FreeText(TextQuery.freeText(termPools(r.nextInt(termPools.length))))
    }
  }

  private val headingTerms = Seq("header", "another header", "another", "zzz")
  private val headingRegexes = Seq("[Hh]eader", "^Another", "zzz")

  /** Mostly leaves on the auth-controlled tags whose values, terms and
    * regexes hit the fixture headings, so xref branches resolve and
    * value in-lists are non-empty: the leaves that a capped compiler
    * turns into flag joins or over-cap fallbacks. */
  private def genHeadingLeaf(r: scala.util.Random): Cond = {
    val tag = Seq("650", "710")(r.nextInt(2))
    def rx = Rx(headingRegexes(r.nextInt(headingRegexes.length)), ci = r.nextBoolean())
    def cv: CondVal = r.nextInt(4) match {
      case 0 => Exact(Seq("Header", "Another header", "zzz")(r.nextInt(3)))
      case 1 => TextMode(Seq("header", "another header")(r.nextInt(2)))
      case 2 => rx
      case _ => Star
    }
    r.nextInt(5) match {
      case 0 => FieldCond(tag, Seq("a" -> cv), modifier = Seq(None, Some("not"))(r.nextInt(2)))
      case 1 => TagValue(tag, cv, not = r.nextBoolean())
      case 2 => TagRegex(tag, if (r.nextBoolean()) Some("a") else None, rx, not = r.nextBoolean())
      case 3 => TagText(tag, if (r.nextBoolean()) Some("a") else None,
        TextQuery.fielded(headingTerms(r.nextInt(headingTerms.length))), not = r.nextBoolean())
      case _ => genLeaf(r)
    }
  }

  private def genCond(r: scala.util.Random, depth: Int, leaf: scala.util.Random => Cond): Cond =
    if (depth <= 0 || r.nextInt(3) == 0) leaf(r)
    else if (r.nextBoolean()) OrCond(Seq(genCond(r, depth - 1, leaf), genCond(r, depth - 1, leaf)))
    else AndCond(Seq(genCond(r, depth - 1, leaf), genCond(r, depth - 1, leaf)))

  /** The 40 seeded condition trees the parity test runs. */
  def corpus: Seq[QueryAst] = {
    val r = new scala.util.Random(20260812L)
    Seq.fill(40)(QueryAst(Seq(genCond(r, 2, genLeaf)), "bib"))
  }

  /** 10 seeded trees over mostly heading leaves (genHeadingLeaf). */
  def headingCorpus: Seq[QueryAst] = {
    val r = new scala.util.Random(20261020L)
    Seq.fill(10)(QueryAst(Seq(genCond(r, 2, genHeadingLeaf)), "bib"))
  }
}
