package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model._
import graft.spark._
import graft.query.QueryParser
import Fixtures._

/** Spark-side semantics: canonical schema round-trip, derived index
  * DataFrames, broadcast auth resolution, query compilation parity
  * with the row engine. */
class SparkMarcSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  lazy val bibsDs = MarcSchema.toDataset(spark, Seq(bib1, bib2))
  lazy val authsDs = MarcSchema.toDataset(spark, Seq(auth1, auth2))
  lazy val compiler = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF())

  test("MarcRow round-trip preserves record content") {
    val rows = bibsDs.collect()
    assert(rows.length == 2)
    val back = MarcSchema.fromRow(rows.find(_._id == 1L).get)
    assert(back.getValue("245", "a") == "This")
    assert(back.getXref("650", "a").contains(1L))
    assert(back.getValue("650", "a") == "Header") // value materialized in row
  }

  test("record text/words computed like commit") {
    val r1 = bibsDs.collect().find(_._id == 1L).get
    assert(r1.text.startsWith(" this is the title"))
    assert(r1.words.contains("header"))
    assert(r1.words.contains("anoth"))
    assert(r1.logical("title") == Seq("This is the"))
    assert(r1.logical("_record_type") == Seq("default", "bib"))
    // duplicates kept, like reference commit (test_marc.py:123-126:
    // 'TESTING TESTING 1234' -> ['test', 'test', '1234'])
    val dup = MarcSchema.toDataset(spark, Seq(graft.model.MarcRecord(recordType = "bib", id = Some(9L))
      .set("245", "a", "TESTING TESTING 1234")))(graft.model.AuthLookup.Empty).head()
    assert(dup.text == " testing testing 1234 ")
    assert(dup.words == Seq("test", "test", "1234"))
  }

  test("authHeadings dimension") {
    val h = MarcContext.authHeadings(authsDs.toDF()).collect()
    assert(h.length == 2)
    val m = h.map(r => r.getAs[Long]("xref") -> (r.getAs[String]("tag"), r.getAs[String]("value"))).toMap
    assert(m(1L) == ("150", "Header"))
    assert(m(2L) == ("110", "Another header"))
  }

  test("tagIndex matches the reference index shape") {
    val idx = compiler.tagIdx.where(col("tag") === "520").collect()
    assert(idx.length == 2)
    val byRaw = idx.map(r => r.getAs[String]("raw")).toSet
    assert(byRaw == Set("Description", "Another description Repeated subfield"))
    val words = idx.flatMap(_.getAs[scala.collection.Seq[String]]("words")).toSet
    assert(words.contains("anoth") && words.contains("descript"))
  }

  test("browseIndex carries logical values") {
    val idx = compiler.browseIdx.where(col("field") === "title").collect()
    assert(idx.map(_.getAs[String]("value")).toSet == Set("This is the", "Another is the"))
  }

  test("query parity with row engine across the corpus") {
    val queries = Seq(
      "245__c:'title'", "245__a:'This' AND 650__a:'Header'",
      "245__a:'This' OR 245__a:'Another'", "650__a:/[Hh]eader/", "650__a:/header/i",
      "\"another description\"", "520__a:\"another description\"", "520:\"another descrip\"",
      "title:\"is the\"", "header", "Another header", "Another -header",
      "245:'is the'", "650:'Header'", "650:/eader/", "id:1",
      "xref:1", "xref:2", "NOT xref:2", "245__c:*itl*", "245:titl*", "650:head*",
      "650__a:head*", "title:*is*", "title:this*", "245__a:*", "520:*")
    val rowEngine = new graft.query.RowQueryEngine(Seq(bib1, bib2), Seq(auth1, auth2))
    for (q <- queries) {
      val expected = rowEngine.runString(q).flatMap(_.id).toSet
      val got = compiler.run(q).select("_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"query '$q': spark=$got row=$expected")
    }
  }

  test("semi-join execution path matches the in-list path") {
    val queries = Seq(
      "650__a:/[Hh]eader/", "650:/eader/", "245:titl*", "650:head*",
      "520__a:\"another description\"", "245__c:*itl*",
      "245__a:'This' AND 650__a:head*")
    for (q <- queries) {
      val inList = compiler.runInList(q).select("_id").collect().map(_.getLong(0)).toSet
      val semi = compiler.runSemiJoin(q, "bib").select("_id").collect().map(_.getLong(0)).toSet
      assert(semi == inList, s"query '$q': semi=$semi inlist=$inList")
    }
  }

  /** Run `body` against a compiler whose indexes are cached, dropping
    * the cache afterwards: a cached plan is shared by every frame with
    * the same plan, so it must not leak into the other tests. */
  private def withCached[T](c: SparkQueryCompiler)(body: SparkQueryCompiler => T): T =
    try body(c.cacheIndexes())
    finally { c.postings.unpersist(); c.browseIdx.unpersist(); c.headings.unpersist() }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("_id").collect().map(_.getLong(0)).toSet

  test("cached posting index: semi-join matches the uncached compiler and the in-list path") {
    val queries = Seq(
      "650__a:/[Hh]eader/", "650:/eader/", "245:titl*", "650:head*",
      "520__a:\"another description\"", "245__c:*itl*",
      "245__a:'This' AND 650__a:head*")
    // uncached answers first: the cache would serve any frame with the same plan
    val expected = queries.map(q => ids(compiler.runSemiJoin(q, "bib")))
    val inList = queries.map(q => ids(compiler.runInList(q)))
    val parity = new SparkQueryCompiler(spark,
      MarcSchema.toDataset(spark, Seq(QueryParitySpec.pb1, QueryParitySpec.pb2)).toDF(), authsDs.toDF())
    val parityExpected = QueryParitySpec.corpus.map(a => ids(parity.runSemiJoin(a)))
    val parityInList = QueryParitySpec.corpus.map(a => ids(parity.runInList(a)))
    withCached(new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF())) { cached =>
      for ((q, i) <- queries.zipWithIndex) {
        val got = ids(cached.runSemiJoin(q, "bib"))
        assert(got == expected(i) && got == inList(i),
          s"query '$q': cached=$got uncached=${expected(i)} inlist=${inList(i)}")
      }
    }
    withCached(parity) { cached =>
      for ((ast, i) <- QueryParitySpec.corpus.zipWithIndex) {
        val got = ids(cached.runSemiJoin(ast))
        assert(got == parityExpected(i) && got == parityInList(i),
          s"[${i + 1}] $ast: cached=$got uncached=${parityExpected(i)} inlist=${parityInList(i)}")
      }
    }
  }

  test("tag search keeps the record type when a bib and an auth share an _id") {
    // auth 7 alone carries the 680 note; bib 7 only shares its id
    val bib = MarcRecord(recordType = "bib", id = Some(7L), fields = Vector(
      DataField("245", " ", " ", Vector(Subfield("a", Some("Plain title"))))))
    val auth = MarcRecord(recordType = "auth", id = Some(7L), fields = Vector(
      DataField("150", " ", " ", Vector(Subfield("a", Some("Zebras")))),
      DataField("680", " ", " ", Vector(Subfield("a", Some("Zebra scope note"))))))
    val c = new SparkQueryCompiler(spark,
      MarcSchema.toDataset(spark, Seq(bib)).toDF(), MarcSchema.toDataset(spark, Seq(auth)).toDF())
    def check(c: SparkQueryCompiler, regime: String): Unit = {
      for (q <- Seq("680__a:zebra", "680__a:/^Zebra/", "680:scope"))
        assert(ids(c.run(q, "bib")).isEmpty, s"$regime bib '$q' matched the auth's postings")
      assert(ids(c.run("680__a:zebra", "auth")) == Set(7L), s"$regime auth search")
      assert(ids(c.run("245__a:plain", "bib")) == Set(7L), s"$regime bib search")
    }
    check(c, "uncached")
    withCached(c)(check(_, "cached"))
  }

  test("cached tag search scans the records once, under the final _id semi join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val dir = java.nio.file.Files.createTempDirectory("postings_plan").toString
    bibsDs.write.parquet(s"$dir/bib")
    authsDs.write.parquet(s"$dir/auth")
    val c = new SparkQueryCompiler(spark, spark.read.parquet(s"$dir/bib"), spark.read.parquet(s"$dir/auth"))
    withCached(c) { cached =>
      val df = cached.run("245__a:another", "bib")
      // collect the frame itself so AQE finalizes its plan
      assert(df.collect().map(_.getAs[Long]("_id")).toSet == Set(2L))
      // the final (AQE) plan; a cached frame's own plan is not a child
      val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val plan = df.queryExecution.executedPlan
      def scans(p: SparkPlan) = helper.collect(p) { case s: FileSourceScanExec => s }
      val all = scans(plan)
      assert(all.size == 1 && all.head.relation.location.rootPaths.head.toString.endsWith("/bib"),
        s"expected one scan of the bib table:\n$plan")
      val semi = helper.collect(plan) { case j: BaseJoinExec if j.joinType == LeftSemi => j }
      assert(semi.nonEmpty, s"no LeftSemi join:\n$plan")
      val top = semi.head
      assert(scans(top.left).size == 1 && top.leftKeys.flatMap(_.references.map(_.name)) == Seq("_id"),
        s"the bib scan must feed the final _id semi join:\n$plan")
      val generates = helper.collect(plan) { case g: GenerateExec => g }
      assert(generates.forall(g => scans(g).isEmpty), s"a Generate runs over the bib scan:\n$plan")
    }
  }

  test("resolveLinkedAuto picks map vs join by dimension size, same result") {
    val stripped = bibsDs.toDF().withColumn("datafields",
      transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"), f.getField("ind1").as("ind1"), f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), s => struct(
          s.getField("code").as("code"),
          when(s.getField("xref").isNotNull, lit(null).cast("string"))
            .otherwise(s.getField("value")).as("value"),
          s.getField("xref").as("xref"))).as("subfields"))))
      .as[MarcRow](MarcSchema.marcRowEncoder)
    def values(ds: org.apache.spark.sql.Dataset[MarcRow]): Map[Long, Seq[String]] =
      ds.collect().map(r => r._id ->
        r.datafields.flatMap(_.subfields.map(_.value)).toSeq).toMap
    // tiny dimension -> broadcast-map path; threshold 0 -> join path
    val viaMap = MarcContext.resolveLinkedAuto(stripped, authsDs.toDF())
    val viaJoin = MarcContext.resolveLinkedAuto(stripped, authsDs.toDF(), maxBroadcastHeadings = 0L)
    assert(values(viaMap) == values(viaJoin))
    assert(values(viaMap)(1L).contains("Header"))
  }

  test("over-cap fallback predicates match the row engine") {
    // cap of zero forces every text/regex in-list over the limit, so
    // every REGEX condition degrades to the direct predicate (the
    // reference's fallback is regex-only, dlx/marc/query.py:194-206)
    val capped = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF(),
      maxResolvedValues = 0)
    val rowEngine = new graft.query.RowQueryEngine(Seq(bib1, bib2), Seq(auth1, auth2))
    val queries = Seq(
      "650__a:/[Hh]eader/", "650:/eader/", "245:titl*", "650:head*",
      "245__c:*itl*",
      "245__a:'This' OR 650__a:head*", "NOT 650:/eader/",
      "title:*is*", "title:this*")
    for (q <- queries) {
      val expected = rowEngine.runString(q).flatMap(_.id).toSet
      val got = capped.runInList(q).select("_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"fallback query '$q': spark=$got row=$expected")
    }
  }

  test("over-cap TEXT resolution raises like the reference") {
    // text (incl. phrase) searches have NO silent fallback: the
    // reference raises InvalidQueryString (dlx/marc/query.py:313-318
    // fielded, 452-458 logical) — the capped compiler must too
    val capped = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF(),
      maxResolvedValues = 0)
    for (q <- Seq("520__a:\"another description\"", "NOT 245__a:this", "title:this"))
      intercept[graft.query.InvalidQueryString] { capped.runInList(q) }
    // zero-match text still takes the reference's match-nothing quirk
    // (an empty resolution can never be over-cap), even under NOT
    assert(capped.runInList("NOT 245__a:zzznothing").count() === 0)
  }

  test("over-cap xref sets degrade to a flag join, same answer") {
    // maxResolvedXrefs=0 forces every auth-controlled resolution
    // through the XrefFrame branch; answers must match the in-list path
    val capped = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF(),
      maxResolvedXrefs = 0)
    val default = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF())
    for (q <- Seq("650__a:'Header'", "650:'Header'", "NOT 650:'Header'",
        "650__a:/Head/", "NOT 650__a:/Head/")) {
      val got = capped.runInList(q).select("_id").collect().map(_.getLong(0)).toSet
      val want = default.runInList(q).select("_id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"flag-join query '$q': capped=$got default=$want")
    }
    // the pure-Column compile path refuses what it cannot join
    intercept[graft.query.InvalidQueryString] {
      capped.compile(graft.query.QueryParser.parse("650__a:'Header'", "bib"))
    }
  }

  test("filterFrame composite keys route the over-cap flag join (history shape)") {
    // the history surface filters on (_id, version_no) — the flag join
    // must key on the COMPOSITE tuple, or two versions of one record
    // collapse/duplicate through the left join (round-10 verdict #3;
    // q197/q198 only exercise the single-key leg)
    val twoVersions = bibsDs.toDF().withColumn("version_no", lit(1L))
      .unionByName(bibsDs.toDF().withColumn("version_no", lit(2L)))
    val capped = new SparkQueryCompiler(spark, bibsDs.toDF(), authsDs.toDF(),
      maxResolvedXrefs = 0)
    val hit = capped.filterFrame(twoVersions,
      QueryParser.parse("650:'Header'", "bib"), keys = Seq("_id", "version_no"))
    val got = hit.select("_id", "version_no").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // both bibs reference auth 1 ('Header'): each matches in BOTH versions
    assert(got == Set((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)),
      s"composite-key flag join rows: $got")
    // no flag column may leak into the output schema
    assert(!hit.columns.exists(_.startsWith("__xref_hit")))
    val not = capped.filterFrame(twoVersions,
      QueryParser.parse("NOT 650:'Header'", "bib"), keys = Seq("_id", "version_no"))
    assert(not.count() == 0L)
  }

  test("resolveLinked materializes values via broadcast join") {
    // strip materialized values first to prove the join resolves them
    val stripped = bibsDs.toDF().withColumn("datafields",
      transform(col("datafields"), f => struct(
        f.getField("tag").as("tag"), f.getField("ind1").as("ind1"), f.getField("ind2").as("ind2"),
        transform(f.getField("subfields"), s => struct(
          s.getField("code").as("code"),
          when(s.getField("xref").isNotNull, lit(null).cast("string"))
            .otherwise(s.getField("value")).as("value"),
          s.getField("xref").as("xref"))).as("subfields"))))
    val resolved = MarcContext.resolveLinked(stripped, authsDs.toDF())
    val r1 = resolved.where(col("_id") === 1L)
      .select(explode(col("datafields")).as("f")).where(col("f.tag") === "650")
      .select(explode(col("f.subfields")).as("s")).select("s.value").head().getString(0)
    assert(r1 == "Header")
  }

  test("auth merge xref rewrite + dedupe") {
    val merged = AuthOps.mergeAuthXrefs(bibsDs.toDF(), losing = 1L, gaining = 2L)
    val xrefs = merged.select(explode(col("datafields")).as("f"))
      .select(explode(col("f.subfields")).as("s"))
      .where(col("s.xref").isNotNull).select("s.xref")
      .collect().map(_.getLong(0)).toSet
    assert(xrefs == Set(2L))
  }

  test("full heading-change cascade: retag + drop + add subfields") {
    // auth 1 heading moves 150$a -> 151 with $a removed, $z added
    val cascaded = AuthOps.cascadeHeadingChange(bibsDs.toDF(), authId = 1L,
      oldHeadingTag = "150", oldCodes = Seq("a"),
      newHeadingTag = "151", newCodes = Seq("z"))
    val f = cascaded.where(col("_id") === 1L)
      .select(explode(col("datafields")).as("f"))
      .where(col("f.tag") === "651") // 650 renamed
      .select(col("f.subfields").as("subs")).head()
    val subs = f.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("subs")
    assert(subs.map(_.getString(0)) == Seq("z")) // $a dropped, $z added
    assert(subs.head.getLong(2) == 1L) // linked to the auth
    // untouched field (different xref) keeps its tag and subfields
    val tags = cascaded.where(col("_id") === 1L)
      .select(explode(col("datafields")).as("f")).select("f.tag")
      .collect().map(_.getString(0)).toSet
    assert(tags.contains("710"))
  }

  test("retag attached on heading tag change") {
    // tag move with unchanged codes: a pure retag, subfields untouched
    val retagged = AuthOps.cascadeHeadingChange(bibsDs.toDF(), authId = 1L,
      oldHeadingTag = "150", oldCodes = Seq("a"),
      newHeadingTag = "151", newCodes = Seq("a"))
    val retaggedFields = retagged.where(col("_id") === 1L)
      .select(explode(col("datafields")).as("f")).collect().map(_.getStruct(0))
    val retaggedTags = retaggedFields.map(_.getString(0)).toSet
    assert(retaggedTags.contains("651")) // 650 -> 651
    assert(!retaggedTags.contains("650"))
    assert(retaggedTags.contains("710")) // untouched (different xref)
    val origSubs = bibsDs.toDF().where(col("_id") === 1L)
      .select(explode(col("datafields")).as("f")).where(col("f.tag") === "650")
      .select(col("f.subfields")).head().get(0)
    assert(retaggedFields.find(_.getString(0) == "651").get.get(3) == origSubs)
  }

  test("cascadeHeadingChangesBulk matches the single-auth cascade") {
    import MarcSchema.marcRowEncoder
    val single = AuthOps.cascadeHeadingChange(bibsDs.toDF(), authId = 1L,
        oldHeadingTag = "150", oldCodes = Seq("a"),
        newHeadingTag = "151", newCodes = Seq("z"))
      .select(bibsDs.columns.map(col): _*).as[MarcRow]
    val bulk = AuthOps.cascadeHeadingChangesBulk(bibsDs,
      Seq(AuthOps.HeadingStructChange(1L, Some("51"), Seq("a"), Seq("z"))))
    val s = single.collect().map(r => r._id -> r.datafields).toMap
    val b = bulk.collect().map(r => r._id -> r.datafields).toMap
    assert(b == s)
  }

  test("bulk cascade plan depth is constant in the number of changed headings") {
    // the old per-auth foldLeft chained one whole-array projection per
    // changed auth — 500 changed headings meant a 500-deep plan and
    // Catalyst analysis/codegen blowup before data size mattered
    val changes = (1L to 500L)
      .map(i => AuthOps.HeadingStructChange(i, Some("51"), Nil, Nil))
    val out = AuthOps.cascadeHeadingChangesBulk(bibsDs, changes)
    val planLines = out.queryExecution.analyzed.toString.linesIterator.size
    assert(planLines < 40, s"plan depth $planLines lines — per-auth chaining returned?")
  }

  /** Commit 500 auths + 500 attached bibs, then re-head every auth
    * 150 -> 151 in one batch and check the cascade reached every bib. */
  private def bulkRetagCascade(store: graft.store.MarcStore): Unit = {
    val n = 500
    val auths = (1 to n).map(i =>
      MarcRecord(recordType = "auth", id = Some(i.toLong)).set("150", "a", s"Heading $i"))
    store.commit(MarcSchema.toDataset(spark, auths), user = "t")
    val bibs = (1 to n).map(i =>
      MarcRecord(recordType = "bib", id = Some(i.toLong))
        .set("245", "a", s"Title $i").setXref("650", "a", i.toLong))
    store.commit(MarcSchema.toDataset(spark, bibs), user = "t")
    // taxonomy migration: EVERY heading moves 150 -> 151 in one batch
    val moved = (1 to n).map(i =>
      MarcRecord(recordType = "auth", id = Some(i.toLong)).set("151", "a", s"Heading $i"))
    store.commit(MarcSchema.toDataset(spark, moved), user = "t2")
    val tagCounts = store.read("bib").toDF()
      .select(explode(col("datafields")).as("f")).groupBy("f.tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tagCounts.get("651").contains(n.toLong), s"tags after cascade: $tagCounts")
    assert(!tagCounts.contains("650"))
    val b7 = store.read("bib").where(col("_id") === 7L).head()
    assert(b7.datafields.find(_.tag == "651").get.subfields
      .find(_.code == "a").get.value == "Heading 7")
    assert(store.readHistory("bib").where(col("_id") === 7L).count() == 2L)
  }

  test("bulk heading retag: 500 changed auths cascade in one commit batch") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore_bulk").toString
    bulkRetagCascade(new graft.store.MarcStore(spark, dir))
  }

  test("bulk heading retag past the change cap: the joined cascade, same result") {
    // maxChangedAuths = 0 sends every heading change through the
    // over-cap regime (flag-join attach scan + per-record joined
    // struct changes) instead of the collected broadcast map
    val dir = java.nio.file.Files.createTempDirectory("marcstore_bulk_joined").toString
    bulkRetagCascade(new graft.store.MarcStore(spark, dir, maxChangedAuths = 0))
  }

  test("auth use counts") {
    val counts = MarcContext.authUseCounts(bibsDs.toDF()).collect()
      .map(r => r.getAs[Long]("xref") -> r.getAs[Long]("use_count")).toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L))
    assert(AuthOps.inUse(bibsDs.toDF(), 1L) == 2L)
  }

  test("store: commit, history, max id, delete, restore") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore").toString
    val store = new graft.store.MarcStore(spark, dir)
    // default auth_check requires the referenced auths first
    store.commit(authsDs, user = "tester")
    store.commit(bibsDs, user = "tester")
    assert(store.read("bib").count() == 2)
    assert(store.maxId("bib") == 2L)

    // second commit of an updated record versions history
    val updated = MarcSchema.toDataset(spark, Seq(bib1.set("245", "a", "Changed")))
    store.commit(updated, user = "tester2")
    assert(store.read("bib").count() == 2)
    val hist = store.readHistory("bib").where(col("_id") === 1L).collect()
    assert(hist.map(_.getAs[Long]("version_no")).sorted.toSeq == Seq(1L, 2L))

    // created preserved, updated stamped
    val r1 = store.read("bib").where(col("_id") === 1L).head()
    assert(r1.user == "tester2")
    assert(r1.created_user == "tester")

    // new record gets max+1
    val fresh = MarcSchema.toDataset(spark, Seq(MarcRecord(recordType = "bib")
      .set("245", "a", "Fresh")))
    store.commit(fresh, user = "t")
    assert(store.read("bib").where(col("_id") === 3L).count() == 1)

    store.delete("bib", Seq(3L))
    assert(store.read("bib").count() == 2)
    store.restore("bib", 3L, user = "t")
    assert(store.read("bib").where(col("_id") === 3L).count() == 1)

    // revert reads a specific prior version
    val v1 = store.revert("bib", 1L, 1L)
    val v1rec = MarcSchema.fromRow(v1)
    assert(v1rec.getValue("245", "a")(authLookup) == "This") // pre-update state
    intercept[IllegalArgumentException] { store.revert("bib", 1L, 99L) }
  }

  test("commit auth validation (reference auth_validate)") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore4").toString
    val store = new graft.store.MarcStore(spark, dir)
    // bibs referencing auths that don't exist yet -> invalid xref
    intercept[IllegalArgumentException] {
      store.commit(bibsDs, user = "t", authCheck = true)
    }
    store.commit(authsDs, user = "t")
    store.commit(bibsDs, user = "t", authCheck = true) // now valid
    assert(store.read("bib").count() == 2)
    // controlled subfield with a literal value (no xref) -> invalid
    val badRec = MarcSchema.toDataset(spark, Seq(
      MarcRecord(recordType = "bib", id = Some(8L), fields = Vector(
        DataField("650", " ", " ", Vector(Subfield("a", Some("literal not allowed"))))))))
    intercept[IllegalArgumentException] {
      store.commit(badRec, user = "t", authCheck = true)
    }
    // stray xref on an UNCONTROLLED subfield -> invalid (the third
    // violation class; exercises the round-14 probe's v_stray branch)
    val strayRec = MarcSchema.toDataset(spark, Seq(
      MarcRecord(recordType = "bib", id = Some(9L), fields = Vector(
        DataField("245", " ", " ", Vector(Subfield("a", Some("T"), xref = Some(1L))))))))
    intercept[IllegalArgumentException] {
      store.commit(strayRec, user = "t", authCheck = true)
    }
    // an xref-free batch (no violation candidates at all) commits via
    // the probe's skip path — outcome identical to the full validate
    val cleanRec = MarcSchema.toDataset(spark, Seq(
      MarcRecord(recordType = "bib", id = Some(10L), fields = Vector(
        DataField("245", " ", " ", Vector(Subfield("a", Some("Clean"))))))))
    store.commit(cleanRec, user = "t", authCheck = true)
    assert(store.read("bib").where(col("_id") === 10L).count() == 1)
    // a batch mixing record types is refused outright: it would land in
    // one table and be validated under one type's rules
    val bibsBefore = store.read("bib").collect().toSet
    val authsBefore = store.read("auth").collect().toSet
    val mixed = MarcSchema.toDataset(spark, Seq(
      MarcRecord(recordType = "bib", id = Some(11L)).set("245", "a", "Mixed"),
      MarcRecord(recordType = "auth", id = Some(12L)).set("150", "a", "Mixed heading")))
    intercept[IllegalArgumentException] {
      store.commit(mixed, user = "t", authCheck = true)
    }
    assert(store.read("bib").collect().toSet == bibsBefore)
    assert(store.read("auth").collect().toSet == authsBefore)
  }

  test("commit refuses a batch that repeats an _id; new records are not repeats") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore_dup").toString
    val store = new graft.store.MarcStore(spark, dir, numBuckets = 4)
    def bib(id: Long, title: String) = MarcRecord(recordType = "bib", id = Some(id)).set("245", "a", title)
    store.commit(MarcSchema.toDataset(spark, Seq(bib(5L, "v1"))), user = "t")
    val liveBefore = store.read("bib").collect().toSet
    val historyBefore = store.readHistory("bib").collect().toSet
    val repeated = MarcSchema.toDataset(spark, Seq(bib(5L, "v2"), bib(5L, "v3")))
    val e = intercept[IllegalArgumentException] {
      store.commit(repeated, user = "t")
    }
    assert(e.getMessage.contains("repeats"))
    assert(store.read("bib").collect().toSet == liveBefore)
    assert(store.readHistory("bib").collect().toSet == historyBefore)
    // two new records (_id -1) in one batch get two fresh ids
    val fresh = Seq("n1", "n2").map(t => MarcRecord(recordType = "bib").set("245", "a", t))
    store.commit(MarcSchema.toDataset(spark, fresh), user = "t")
    assert(store.read("bib").select("_id").distinct().count() == 3)
  }

  test("history queries: from_query, find_deleted, deleted_by_date (test_marc.py:1122-1146)") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore3").toString
    val store = new graft.store.MarcStore(spark, dir)
    val rec = MarcRecord(recordType = "bib").set("245", "a", "new record")
    store.commit(MarcSchema.toDataset(spark, Seq(rec)), user = "t")
    val id = store.read("bib").head()._id
    assert(store.queryHistory("bib", "245__a:'new record'")
      .select("_id").collect().map(_.getLong(0)).toSeq == Seq(id))

    store.delete("bib", Seq(id))
    assert(store.findDeleted("bib", "245__a:'new record'")
      .collect().map(_.getLong(0)).toSeq == Seq(id))
    assert(store.deletedByDate("bib",
      java.time.Instant.parse("1999-12-31T00:00:00Z"),
      java.time.Instant.parse("2999-12-31T00:00:00Z"))
      .collect().map(_.getLong(0)).toSeq == Seq(id))

    store.restore("bib", id, user = "t")
    assert(store.read("bib").where(col("_id") === id).count() == 1)
  }

  test("concurrent commits to one store path serialize, no lost rows") {
    // two store instances, two threads, disjoint batches into the SAME
    // buckets: without the store lock the _staging interleave loses one
    // writer's rows silently
    val dir = java.nio.file.Files.createTempDirectory("marcstore_mw").toString
    val a = new graft.store.MarcStore(spark, dir)
    val b = new graft.store.MarcStore(spark, dir)
    def mkBatch(ids: Range) = MarcSchema.toDataset(spark,
      ids.map(i => MarcRecord(recordType = "bib", id = Some(i.toLong))
        .set("245", "a", s"Title $i")))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(a -> (1 to 40), b -> (41 to 80)).map { case (st, ids) =>
      new Thread(() =>
        try st.commit(mkBatch(ids), user = "w")
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    assert(a.read("bib").count() == 80L, "a writer's rows were lost")
    assert(b.readHistory("bib").count() == 80L)
    assert(a.read("bib").toDF().groupBy("_id").count()
      .where(col("count") > 1).count() == 0L)
  }

  test("a held store lock makes a second writer fail loudly, not corrupt") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore_lock").toString
    val store = new graft.store.MarcStore(spark, dir, lockWaitMs = 300L)
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dir, ".graft_lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = ch.lock()
    try {
      val e = intercept[IllegalStateException] {
        store.commit(MarcSchema.toDataset(spark,
          Seq(MarcRecord(recordType = "bib", id = Some(1L)).set("245", "a", "T"))),
          user = "w")
      }
      assert(e.getMessage.contains("store lock"))
    } finally { lock.release(); ch.close() }
    // lock released: the same commit now succeeds
    store.commit(MarcSchema.toDataset(spark,
      Seq(MarcRecord(recordType = "bib", id = Some(1L)).set("245", "a", "T"))),
      user = "w")
    assert(store.read("bib").count() == 1L)
  }

  test("restore stamps the restored marker and actions audit (ref parity)") {
    // dlx/marc/__init__.py:2327-2332 (restored marker), 1301-1303 /
    // 1236 (actions list, deleting user)
    val dir = java.nio.file.Files.createTempDirectory("marcstore_restored").toString
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(authsDs, user = "t")
    store.commit(bibsDs, user = "t")
    store.delete("bib", Seq(1L), user = "deleter")
    store.restore("bib", 1L, user = "restorer")
    val h = store.readHistory("bib").where(col("_id") === 1L)
      .orderBy("version_no").select("action", "user").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(h == Seq(("commit", "t"), ("deleted", "deleter"), ("restored", "restorer")))
    val acts = store.actionsAudit("bib").where(col("_id") === 1L).head()
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("actions")
      .map(r => (r.getAs[String]("type"), r.getAs[String]("user"))).toSeq
    assert(acts == Seq(("delete", "deleter"), ("restore", "restorer")))
  }

  test("history files are append-only across commits") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore5").toString
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(authsDs, user = "t")
    store.commit(bibsDs, user = "t")
    def histFiles() = {
      val d = new java.io.File(s"$dir/bib_history")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val after1 = histFiles()
    store.commit(MarcSchema.toDataset(spark, Seq(bib1.set("245", "a", "Changed"))), user = "t2")
    val after2 = histFiles()
    assert(after1.subsetOf(after2), "history commit rewrote existing files")
    assert(after2.size > after1.size)
  }

  test("auth commit cascades heading change to attached bibs by default") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore6").toString
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(authsDs, user = "t")
    store.commit(bibsDs, user = "t")
    // change auth 1's heading value; default updateAttached must
    // refresh bib 1's materialized 650$a value and version its history
    val changed = MarcSchema.toDataset(spark, Seq(auth1.set("150", "a", "Updated Header")))
    store.commit(changed, user = "t2")
    val b1 = store.read("bib").where(col("_id") === 1L).head()
    val v650 = b1.datafields.find(_.tag == "650").get.subfields.find(_.code == "a").get.value
    assert(v650 == "Updated Header")
    assert(b1.words.contains("updat")) // derived columns recomputed
    val versions = store.readHistory("bib").where(col("_id") === 1L).count()
    assert(versions == 2L)
    // bib 2 also links auth 1 -> cascaded too
    assert(store.readHistory("bib").where(col("_id") === 2L).count() == 2L)
    val b2 = store.read("bib").where(col("_id") === 2L).head()
    assert(b2.datafields.find(_.tag == "650").get.subfields.head.value == "Updated Header")
    assertDimensionServed(store, rddsBefore, Map(1L -> "Updated Header", 2L -> "Another header"))
    // merge 2 into 1: bib 1's 710$a moves to auth 1, auth 2 is deleted
    store.merge(gaining = 1L, losing = 2L, user = "t3")
    assertDimensionServed(store, rddsBefore, Map(1L -> "Updated Header"))
  }

  /** After an auth write, the readers of the heading dimension — a
    * fresh compiler's `headings`, the typeahead, and the linked-value
    * resolution the cascade runs — all read the store's persisted copy
    * (an InMemoryRelation in their plans) and see the new headings;
    * the store keeps one dimension, not one per generation. */
  private def assertDimensionServed(store: graft.store.MarcStore, rddsBefore: Set[Int],
      want: Map[Long, String]): Unit = {
    val c = new SparkQueryCompiler(spark, store.read("bib").toDF(), store.read("auth").toDF())
    assert(readsCache(c.headings))
    assert(c.headings.select("xref", "value").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == want)
    val typeahead = AuthOps.partialLookup(store.read("auth").toDF(), "bib", "650", "a", "updated")
    assert(readsCache(typeahead))
    assert(typeahead.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("Updated Header" -> 1L))
    val (bibs, plans) = actionPlans {
      AuthOps.relink(store.read("bib"), store.read("auth").toDF()).collect()
    }
    assert(plans.exists(readsCache)) // resolveLinkedAuto's dimension probe
    val linked = bibs.flatMap(_.datafields).flatMap(_.subfields).collect {
      case s if s.xref != null => s.xref.longValue -> s.value
    }.toSet
    assert(linked.nonEmpty && linked.subsetOf(want.toSet))
    val dims = spark.sparkContext.getPersistentRDDs.count { case (id, r) =>
      !rddsBefore(id) && Option(r.name).exists(_.contains("dlx_normalize(")) }
    assert(dims == 1, s"$dims persisted heading dimensions")
  }

  private def readsCache(df: org.apache.spark.sql.DataFrame): Boolean =
    readsCache(df.queryExecution)

  private def readsCache(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
    qe.withCachedData.exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])

  /** `f`'s result and the query executions of the Dataset actions it
    * runs. Listener events arrive asynchronously, so a marker action
    * run after `f` flushes them: its event is delivered after every
    * earlier one. */
  private def actionPlans[A](f: => A): (A, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val marker = "action_plans_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) markerSeen.countDown() else seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try {
      val r = f
      spark.range(1).toDF(marker).collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally spark.listenerManager.unregister(listener)
    (result, seen.toArray(Array.empty[QueryExecution]).toSeq)
  }

  test("heading dimension: one plan whatever ran first, served from the store's cache") {
    import org.apache.spark.sql.SparkSession
    val prev = SparkSession.getActiveSession
    // a session no compiler was ever built in: nothing registered the
    // native collation functions before the store derived its dimension
    val s2 = spark.newSession()
    SparkSession.setActiveSession(s2)
    try {
      val dir = java.nio.file.Files.createTempDirectory("marcstore_dimplan").toString
      val store = new graft.store.MarcStore(s2, dir)
      store.commit(MarcSchema.toDataset(s2, Seq(auth1, auth2)), user = "t")
      // bib 1's 650$a and 710$a carry xrefs: validation reads the
      // store's dimension before any compiler exists
      store.commit(MarcSchema.toDataset(s2, Seq(bib1)), user = "t")
      val c = new SparkQueryCompiler(s2, store.read("bib").toDF(), store.read("auth").toDF())
      assert(readsCache(c.headings))
      val v = s2.range(1).select(lit("Ünïcode 10").as("v"))
      def hasUdf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
      assert(!hasUdf(c.headings))
      assert(!hasUdf(v.select(MarcContext.normalizeCol(col("v")), MarcContext.sortKeyCol(col("v")))))
      val uncached = MarcContext.authHeadings(MarcSchema.toDataset(s2, Seq(auth1, auth2)).toDF())
      assert(!readsCache(uncached))
      assert(c.headings.collect().toSet == uncached.collect().toSet)
    } finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  test("setXref on a non-auth-controlled code stores a string literal") {
    // reference Datafield.set coercion (dlx/marc/__init__.py:2551-2574):
    // 710$z is not controlled for bibs, so an int lands as Literal('z','1')
    val b = MarcRecord(recordType = "bib", id = Some(9L))
      .setXref("710", "a", 1L).setXref("710", "z", 1L)
    val f = b.fields.collectFirst { case d: DataField if d.tag == "710" => d }.get
    assert(f.getXref("a").contains(1L))
    assert(f.subfields.find(_.code == "z").get.xref.isEmpty)
    assert(f.subfields.find(_.code == "z").get.value.contains("1"))
    // explicit authControl=false forces the literal even on a controlled code
    val off = MarcRecord(recordType = "bib").setXref("650", "a", 2L, authControl = false)
    assert(off.getXref("650", "a").isEmpty)
    assert(off.getValue("650", "a") == "2")
  }

  test("deleted heading subfield cascades off attached bibs (ref test_auth_deleted_subfield)") {
    // reference tests/test_marc.py test_auth_deleted_subfield: the
    // sequence auth(110$a,$z) -> bib(710$a,$z linked) -> delete $z from
    // the heading -> commit -> re-commit bib must not error, and the
    // remaining value must still be searchable
    val dir = java.nio.file.Files.createTempDirectory("marcstore7").toString
    val store = new graft.store.MarcStore(spark, dir)
    val auth = MarcRecord(recordType = "auth", id = Some(10L), fields = Vector(
      DataField("110", " ", " ", Vector(
        Subfield("a", Some("will NOT be deleted")), Subfield("z", Some("will be deleted"))))))
    val lk: graft.model.AuthLookup = new graft.auth.AuthIndex(Seq(auth))
    store.commit(MarcSchema.toDataset(spark, Seq(auth))(lk), user = "t")
    // setXref coercion: $a linked, $z literal "10" — like the reference
    val bib = MarcRecord(recordType = "bib", id = Some(10L))
      .setXref("710", "a", 10L).setXref("710", "z", 10L)
    store.commit(MarcSchema.toDataset(spark, Seq(bib))(lk), user = "t")
    // drop $z from the heading and commit: the cascade removes code z
    // (linked or literal) from every attached field referencing auth 10
    val authDel = auth.copy(fields = auth.fields.map {
      case d: DataField if d.tag == "110" => d.deleteSubfield("z")
      case f => f
    })
    store.commit(MarcSchema.toDataset(spark, Seq(authDel))(lk), user = "t2")
    val b = MarcSchema.fromRow(store.read("bib").where(col("_id") === 10L).head())
    val f710 = b.fields.collectFirst { case d: DataField if d.tag == "710" => d }.get
    assert(f710.subfields.map(_.code) == Vector("a"))
    assert(f710.subfields.head.value.contains("will NOT be deleted"))
    // the formerly-failing step: committing the bib again works
    store.commit(MarcSchema.toDataset(spark, Seq(b.set("999", "a", "updated")))(lk), user = "t3")
    // and the remaining heading value still matches a fielded search
    val c = new SparkQueryCompiler(spark, store.read("bib").toDF(), store.read("auth").toDF())
    val hits = c.run("710:'will not be deleted'").select("_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(10L))
  }

  test("merge re-links what it rewrites: linked value, derived columns, one field per auth") {
    def auth(id: Long, heading: String) = MarcRecord(recordType = "auth", id = Some(id),
      fields = Vector(DataField("150", " ", " ", Vector(Subfield("a", Some(heading))))))
    def bib(id: Long, xrefs: Long*) = MarcRecord(recordType = "bib", id = Some(id),
      fields = DataField("245", " ", " ", Vector(Subfield("a", Some(s"Title $id")))) +:
        xrefs.map(x => DataField("650", " ", " ", Vector(Subfield("a", None, Some(x))))).toVector)
    val auths = Seq(auth(1L, "Alpha heading"), auth(2L, "Beta heading"))
    val lk: AuthLookup = new graft.auth.AuthIndex(auths)
    def store(bibs: MarcRecord*) = {
      val s = new graft.store.MarcStore(spark,
        java.nio.file.Files.createTempDirectory("marcstore_merge").toString)
      s.commit(MarcSchema.toDataset(spark, auths)(lk), user = "t")
      s.commit(MarcSchema.toDataset(spark, bibs)(lk), user = "t")
      s
    }
    val merged = store(bib(10L, 1L), bib(11L, 2L), bib(12L, 1L, 2L))
    merged.merge(gaining = 1L, losing = 2L, user = "t2")
    val got = merged.read("bib").where(col("_id") === 11L).head()
    val want = store(bib(11L, 1L)).read("bib").head()
    assert(got.datafields == want.datafields)
    assert(got.datafields(1).subfields.head.value == "Alpha heading")
    assert((got.text, got.words, got.logical) == ((want.text, want.words, want.logical)))
    // both 650s of bib 12 now link auth 1: one is left
    val b12 = merged.read("bib").where(col("_id") === 12L).head()
    assert(b12.datafields.count(_.tag == "650") == 1)
    val c = new SparkQueryCompiler(spark, merged.read("bib").toDF(), merged.read("auth").toDF())
    def ids(q: String) = c.run(q).select("_id").collect().map(_.getLong(0)).toSet
    assert(ids("alpha") == Set(10L, 11L, 12L))
    assert(ids("subject:/Alpha/") == Set(10L, 11L, 12L))
    assert(ids("beta").isEmpty)
    assert(merged.authLinkedUpdateLog.count() == 0L) // re-linking is not a cascade
  }

  test("a merge the heading-code check refuses leaves no merge_log row") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore_merge_refused").toString
    val store = new graft.store.MarcStore(spark, dir)
    // 700$g links a heading's $g: auth 2 has one, auth 1 does not
    val a1 = MarcRecord(recordType = "auth", id = Some(1L), fields = Vector(
      DataField("100", " ", " ", Vector(Subfield("a", Some("Alpha person"))))))
    val a2 = MarcRecord(recordType = "auth", id = Some(2L), fields = Vector(
      DataField("100", " ", " ", Vector(Subfield("a", Some("Beta person")), Subfield("g", Some("Qualifier"))))))
    val lk: AuthLookup = new graft.auth.AuthIndex(Seq(a1, a2))
    val b = MarcRecord(recordType = "bib", id = Some(10L), fields = Vector(
      DataField("700", " ", " ", Vector(Subfield("a", None, Some(2L)), Subfield("g", None, Some(2L))))))
    store.commit(MarcSchema.toDataset(spark, Seq(a1, a2))(lk), user = "t")
    store.commit(MarcSchema.toDataset(spark, Seq(b))(lk), user = "t")
    val e = intercept[IllegalArgumentException] { store.merge(gaining = 1L, losing = 2L) }
    assert(e.getMessage.contains("heading subfield(s) g"))
    assert(store.mergeLog.count() == 0L)
    assert(store.read("auth").count() == 2L)
    assert(store.read("bib").head().datafields.head.subfields.map(_.xref.longValue) == Seq(2L, 2L))
  }

  test("auth delete guard: in-use auths cannot be deleted") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore2").toString
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(authsDs, user = "t")
    store.commit(bibsDs, user = "t")
    intercept[IllegalArgumentException] { store.delete("auth", Seq(1L)) }
    // predicate overload hits the same guard via the semi-join path
    intercept[IllegalArgumentException] {
      store.delete("auth", col("_id") === 1L, user = "t",
        now = java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    }
  }

  test("predicate delete: doomed set never collected, history stamped") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore3").toString
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(authsDs, user = "alice")
    store.commit(bibsDs, user = "alice")
    val ts = java.sql.Timestamp.valueOf("2021-06-01 00:00:00")
    store.delete("bib", col("_id") % 2 === 0, user = "bob", now = ts)
    assert(store.read("bib").collect().map(_._id).toSet == Set(1L))
    val marker = store.readHistory("bib")
      .where(col("_id") === 2L && col("action") === "deleted").head()
    assert(marker.getAs[String]("user") == "bob")
  }

  /** Stage names of the Spark jobs `f` starts. Listener events arrive
    * asynchronously, so a marker job run after `f` flushes them: its
    * start event is delivered after every earlier job's. */
  private def jobsDuring(f: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "jobs-during-marker"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else names.add(e.stageInfos.map(_.name).mkString("; "))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    names.toArray(Array.empty[String]).toSeq
  }

  test("store reads of a new table generation start no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("marcstore_jobs").toString
    val store = new graft.store.MarcStore(spark, dir)
    // 40 auths fill 40 bucket dirs: more than Spark's 32-path threshold
    // for a parallel listing job
    val auths = (1L to 40L).map(i => MarcRecord(recordType = "auth", id = Some(i))
      .set("150", "a", s"Heading $i"))
    store.commit(MarcSchema.toDataset(spark, auths), user = "t")
    val bib = MarcRecord(recordType = "bib", id = Some(1L))
      .set("245", "a", "Title").setXref("650", "a", 1L)
    // the xref is validated against the persisted heading dimension
    store.commit(MarcSchema.toDataset(spark, Seq(bib)), user = "t")
    val fresh = new graft.store.MarcStore(spark, dir)
    val reads = jobsDuring {
      fresh.read("bib")
      fresh.read("auth")
      fresh.readHistory("bib")
    }
    assert(reads.isEmpty, s"reads started jobs: $reads")
    // a heading change invalidates the auth table: the persisted heading
    // dimension of the old generation is dropped, not re-listed
    val change = jobsDuring {
      store.commit(MarcSchema.toDataset(spark, Seq(auths.head.set("150", "a", "Renamed"))),
        user = "t")
    }
    assert(change.nonEmpty)
    assert(!change.exists(_.contains("refreshByPath")), s"refresh jobs: $change")
    assert(store.read("bib").head().datafields.exists(
      _.subfields.exists(_.value == "Renamed")))
  }

  test("connected components: empty pair set yields empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.queries.TextOps.connectedComponents(empty).count() == 0L)
  }

  test("partial lookup: unknown (tag, code) yields an empty frame") {
    val out = graft.spark.AuthOps.partialLookup(authsDs.toDF(), "bib", "999", "z", "x")
    assert(out.count() == 0L)
  }

  test("scrubPii: counts and redacts multiple emails/phones; clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "ask a.b@x.org or c%d@y.co.uk then +1-555-1234"),
      (2L, "no pii here at all"),
      (3L, "+12-000-0000 twice +1-111-2222")).toDF("id", "t")
    val out = graft.queries.TextOps.scrubPii(df, "t")
      .select("id", "n_emails", "n_phones", "scrubbed")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, "ask <EMAIL> or <EMAIL> then <PHONE>")))
    assert(out(2L) == ((0L, 0L, "no pii here at all")))
    assert(out(3L) == ((0L, 2L, "<PHONE> twice <PHONE>")))
  }

  test("resolveAmbiguousBatch: unique, exact-heading disambiguated, unresolvable") {
    import spark.implicits._
    def mkAuth(id: Long, subs: Seq[(String, String)]) =
      MarcRecord(recordType = "auth", id = Some(id), fields = Vector(
        DataField("150",
          subfields = subs.map { case (c, v) => Subfield(c, Some(v)) }.toVector)))
    val multiAuths = Seq(
      mkAuth(1L, Seq("a" -> "u", "b" -> "1")),                 // unique for (u,1)
      mkAuth(2L, Seq("a" -> "v", "b" -> "2")),                 // exact among two
      mkAuth(3L, Seq("a" -> "v", "b" -> "2", "z" -> "extra")), // extra sub -> not exact
      mkAuth(4L, Seq("a" -> "w", "b" -> "3")),                 // two exact -> unresolved
      mkAuth(5L, Seq("a" -> "w", "b" -> "3")))
    val authsDf = MarcSchema.toDataset(spark, multiAuths)(AuthLookup.Empty).toDF()
    val probes = Seq(("u", "1"), ("v", "2"), ("w", "3"), ("none", "9")).toDF("a", "b")
    val out = graft.spark.AuthOps.resolveAmbiguousBatch(authsDf, "150", Seq("a", "b"), probes)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(("u", "1")) == ((1L, Some(1L))))
    assert(out(("v", "2")) == ((2L, Some(2L))))
    assert(out(("w", "3")) == ((2L, None)))
    assert(!out.contains(("none", "9")))
  }

  test("connected components: min-label propagation over pair edges") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), separate pair 10-11, pair 20-21
    // linked to the chain via 21-4 — all one component with label 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 4L))
      .toDF("doc_a", "doc_b")
    val cc = graft.queries.TextOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 1L, 21L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("runSorted: collation sort key orders A/9 before A/10, case-blind") {
    def symBib(id: Long, sym: String) =
      MarcRecord(recordType = "bib", id = Some(id), fields = Vector(
        DataField("191", subfields = Vector(Subfield("a", Some(sym))))))
    val bibs = MarcSchema.toDataset(spark, Seq(
      symBib(1L, "A/10"), symBib(2L, "A/9"), symBib(3L, "a/100"),
      symBib(4L, "A/007"), symBib(5L, "B/1")))(AuthLookup.Empty).toDF()
    val compiler = new graft.spark.SparkQueryCompiler(spark, bibs, authsDs.toDF())
    val ids = compiler.runSorted("191__a:/./", "bib", "191", "a")
      .select("_id").collect().map(_.getLong(0)).toSeq
    // numeric order 7 < 9 < 10 < 100 (strength-1 makes a/100 collate
    // under 'a'); lexicographic would put 10 and 100 before 9
    assert(ids == Seq(4L, 2L, 1L, 3L, 5L))
  }

  test("connected components: 300-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // diameter 299 >> maxIter 12 — min-label propagation (rounds =
    // diameter) would blow the cap; alternating large-star/small-star
    // must converge regardless of diameter. Cap forced to 0 so the
    // DISTRIBUTED regime runs (the default cap would take the local
    // union-find fast path and leave the star loop untested).
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    try {
      val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val cc = graft.queries.TextOps.connectedComponents(pairs, maxIter = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(cc.length == 300 && cc.forall(_._2 == 1L))
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  test("connected components: local union-find regime == star contraction regime") {
    import spark.implicits._
    // deterministic pseudo-random multigraph with chains, stars,
    // self-pairs and duplicate edges — every structural wrinkle the
    // two regimes must agree on, label for label
    val rnd = new scala.util.Random(4242)
    val pairs = (
      (1 to 400).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      (200L to 210L).map(i => (i, i)) ++            // isolated self-pairs
      (300L until 340L).map(i => (i + 1, i))        // reversed chain
    ).toDF("doc_a", "doc_b")
    val local = graft.queries.TextOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    val dist =
      try graft.queries.TextOps.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    assert(local == dist)
    // self-pair nodes are isolated: label themselves in both regimes
    assert((200L to 210L).forall(i => local(i) == i))
  }

  test("spanDedup: first occurrence wins across and within docs; partial tail chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),       // chunks (k=2): "a b", "c d", "e" — all first
      (2L, "a b x y"),         // "a b" loses to doc 1; "x y" survives
      (3L, "c d c d"),         // both chunks lose to doc 1 idx 1
      (4L, "e"),               // partial-only doc, loses to doc 1's tail
      (5L, "p q p q p q")      // within-doc dups: only idx 0 survives
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.spanDedup(docs, chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L, "a b c d e")))
    assert(out(2L) == ((2L, 1L, "x y")))
    assert(out(3L) == ((2L, 0L, "")))
    assert(out(4L) == ((1L, 0L, "")))
    assert(out(5L) == ((3L, 1L, "p q")))
  }

  test("seqPack: boundary-overflow assignment by running start offset") {
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("t").mkString(" ")
    // one bucket, budget 5: token counts 3,4,2,1,6 -> start offsets
    // 0,3,7,9,10 -> seq_no 0,0,1,1,2
    val docs = Seq(
      (1L, words(3)), (2L, words(4)), (3L, words(2)), (4L, words(1)), (5L, words(6))
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.seqPack(docs, budget = 5L, nBuckets = 1L)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(0L) == ((2L, 7L, 1L, 2L)))
    assert(out(1L) == ((2L, 3L, 3L, 4L)))
    assert(out(2L) == ((1L, 6L, 5L, 5L)))
  }

  test("quantileThreshold: exact per-language quantile from the histogram") {
    import spark.implicits._
    val docs = ((1 to 10).map(i => (i.toLong, "en", i)) ++
      Seq((11L, "fr", 2), (12L, "fr", 4), (13L, "fr", 6))).toDF("doc_id", "lang", "n_chars")
    val out = graft.queries.TextOps.quantileThreshold(docs, q = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // en: P50 of 1..10 is the 5th value (cum 5 >= 0.5*10) -> threshold 5
    assert(out.filter(_._2 == "en").map(_._1).toSeq == (5L to 10L).toSeq)
    assert(out.filter(_._2 == "en").forall(_._4 == 5))
    // fr: first cum >= 1.5 of {2,4,6} is the 2nd value -> threshold 4
    assert(out.filter(_._2 == "fr").map(t => (t._1, t._4)).toSeq == Seq((12L, 4), (13L, 4)))
  }

  test("chunk: stride==size tiles every token exactly once; overlap repeats interior") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val tiled = graft.queries.TextOps.chunk(docs, sizeToks = 2, stride = 2)
      .orderBy("start_tok").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(tiled.toSeq == Seq((1L, 2L, "a b"), (3L, 2L, "c d"), (5L, 1L, "e")))
    // every token appears exactly once across tiles
    assert(tiled.flatMap(_._3.split(" ")).sorted.toSeq == Seq("a", "b", "c", "d", "e"))
    val overlapped = graft.queries.TextOps.chunk(docs, sizeToks = 4, stride = 2)
      .orderBy("start_tok").collect().map(_.getString(3))
    assert(overlapped.toSeq == Seq("a b c d", "c d e", "e"))
  }

  test("bm25: rare-term hits outrank common-term hits; shorter doc outranks longer at equal tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare x x x"),            // rare term: df=1
      (2L, "common x x x"),          // common term: df=3
      (3L, "common y y y y y y y"),  // same tf of common, longer doc
      (4L, "common z"),
      (5L, "x y z w")                // no query terms -> absent
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.bm25(docs, Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(5L))
    assert(out(1L) > out(2L), "idf: df=1 term must outscore df=3 term at equal tf/dl")
    assert(out(2L) > out(3L), "length norm: same tf in a longer doc must score lower")
  }

  test("asofLastBefore: strictly-before match, per-user isolation, no-match dropped") {
    import spark.implicits._
    // (event_id, user_id, ts_s, event_type)
    val ev = Seq(
      (1L, 1L, 10L, "click"),
      (2L, 1L, 20L, "click"),
      (3L, 1L, 20L, "purchase"), // same ts as click 2: event_id 2 < 3 -> matches click 2
      (4L, 1L, 30L, "purchase"), // latest click before -> 2
      (5L, 2L, 5L, "purchase"),  // user 2 has no prior click -> dropped
      (6L, 2L, 6L, "click"),     // click AFTER the purchase must not match
      (7L, 3L, 50L, "purchase")  // user 3: clicks exist only for other users -> dropped
    ).toDF("event_id", "user_id", "ts_s", "event_type")
    val out = graft.queries.Relational.asofLastBefore(ev, "click", "purchase")
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(3L -> ((2L, 20L)), 4L -> ((2L, 20L))))
  }

  test("bloomDecon: equals the exact n-gram intersection; bench docs never emitted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (10L, "alpha beta gamma delta"),   // bench (id % 10 == 0)
      (1L, "alpha beta gamma epsilon"),  // shares "alpha beta gamma" -> 1 hit
      (2L, "beta gamma delta zeta"),     // shares "beta gamma delta" -> 1 hit
      (3L, "zeta eta theta iota"),       // no shared gram -> absent
      (20L, "zeta eta theta iota")       // bench: never emitted even if dirty
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.bloomDecon(docs, col("doc_id") % 10 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    // doc 3 hits twice: doc 20 ("zeta eta theta iota") is ALSO bench,
    // and both of doc 3's 3-grams appear there; bench ids never emit
    assert(!out.contains(10L) && !out.contains(20L))
  }

  test("vocabBuild: frequency-desc rank, token tiebreak, cumulative coverage sums to 1") {
    import spark.implicits._
    val docs = Seq((1L, "b a a c b a"), (2L, "c b")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=2, total=8; tie a<b at n=3
    val out = graft.queries.TextOps.vocabBuild(docs, topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, "a", 3L, 3L, 3.0 / 8), (2L, "b", 3L, 6L, 6.0 / 8)))
    val full = graft.queries.TextOps.vocabBuild(docs, topK = 10).collect()
    assert(full.last.getDouble(4) == 1.0, "full vocab must cover the whole corpus")
  }

  test("weightedSample: zero weight never kept, cap weight always kept, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) 0L else 1000L)).toDF("doc_id", "w")
    val kept = graft.queries.TextOps.weightedSample(docs, col("w"), cap = 1000L, salt = "t")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ % 2 == 1), "weight 0 must never be sampled")
    assert(kept == (1L to 200L by 2).toSet, "weight == cap must always be sampled")
    val again = graft.queries.TextOps.weightedSample(docs, col("w"), cap = 1000L, salt = "t")
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept, "same salt must reproduce the same sample")
  }

  test("reservoirPerGroup: exact quota per group, deterministic, small group kept whole") {
    import spark.implicits._
    val docs = ((1L to 50L).map(i => (i, "en")) ++ Seq((100L, "fr"), (101L, "fr")))
      .toDF("doc_id", "lang")
    val out = graft.queries.TextOps.reservoirPerGroup(docs, "lang", k = 5, salt = "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.count(_._1 == "en") == 5, "full group sampled down to exactly k")
    assert(out.filter(_._1 == "fr").map(_._3).toSet == Set(100L, 101L),
      "group smaller than k kept whole")
    assert(out.filter(_._1 == "en").map(_._2).toSeq == (1L to 5L), "ranks are dense 1..k")
    val again = graft.queries.TextOps.reservoirPerGroup(docs, "lang", k = 5, salt = "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq, "same salt reproduces the same sample")
  }

  test("kmeansUpdate: quantized dimension means per cluster, exact member counts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.00005, 2.0)), // floor(10000.5)=10000 -> contributes 1.0
      (2L, Seq(3.0, 4.0)),
      (3L, Seq(10.0, 20.0))
    ).toDF("vec_id", "v")
    val assign = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("vec_id", "centroid_id")
    val out = graft.queries.VectorOps.kmeansUpdate(corpus, assign)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3)))).toMap
    assert(out((0L, 0L)) == ((2.0, 2L)), "mean of floor-quantized 1.00005 and 3.0 is exactly 2.0")
    assert(out((0L, 1L)) == ((3.0, 2L)))
    assert(out((1L, 0L)) == ((10.0, 1L)) && out((1L, 1L)) == ((20.0, 1L)))
  }

  test("BPE-ish pre-tokenizer splits contractions, digit runs, punct runs") {
    import spark.implicits._
    val out = graft.queries.TextOps.bpePieces(
      Seq("I don't like 42 apples!!  ok?").toDF("text"), col("text"))
    val pieces = out.select(explode(col("pieces"))).collect().map(_.getString(0)).toSeq
    assert(pieces == Seq("I", " don", "'t", " like", " 42", " apples", "!!", " ok", "?"))
  }

  test("q44 banded output: ordered distinct pairs, all above threshold") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.VectorOps.q44EmbedNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "synthetic corpus has near-dups at 0.30")
    assert(rows.forall { case (a, b, c) => a < b && c >= 0.30 })
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length,
      "band union must dedup candidate pairs")
  }

  test("Gopher rules: each rule fires on its crafted document, in precedence order") {
    import spark.implicits._
    val good = (("the cat sat of mat and dog ran with joy " * 6).trim + " end").split(" ")
    def doc(words: Seq[String]) = words.mkString(" ")
    val docs = Seq(
      (1L, doc(good.toSeq), "keep"),
      (2L, "too short", "word_count"),
      (3L, doc(Seq.fill(60)("a")), "mean_word_length"),
      (4L, doc(good.toSeq ++ Seq.fill(8)("#######")), "symbol_ratio"),
      (5L, (1 to 10).map(_ => "- alpha bravo charlie delta echo").mkString("\n"), "bullet_ellipsis"),
      (6L, doc(good.take(40).toSeq ++ Seq.fill(20)("12345")), "alpha_words"),
      (7L, doc((1 to 60).map(i => s"word$i")), "stop_words")
    ).toDF("doc_id", "text", "expected")
    val outDir = java.nio.file.Files.createTempDirectory("gopher").toString
    docs.select("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val out = graft.queries.TextOps.q106GopherRules(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected = docs.select("doc_id", "expected")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    expected.foreach { case (id, v) =>
      assert(out(id) == v, s"doc $id: expected $v got ${out(id)}")
    }
  }

  test("DSIR: docs sharing the target domain's n-grams outrank off-domain docs") {
    import spark.implicits._
    val docs = (
      (1L to 4L).map(i => (i, "alpha beta alpha beta gamma", "tgt", "en")) ++
      (5L to 8L).map(i => (i, "delta epsilon zeta delta epsilon", "other", "en")) ++
      Seq((9L, "alpha beta alpha beta gamma", "held", "en"),
          (10L, "delta epsilon zeta delta epsilon", "held", "en"))
    ).toDF("doc_id", "text", "source", "lang")
    val out = graft.queries.TextOps.dsirSelect(docs, col("source") === "tgt", topN = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getInt(4)))
    assert(out.length == 10, "topN covers the whole corpus here")
    val score = out.map(r => r._1 -> r._3).toMap
    assert(score(9L) > score(10L),
      "held-out doc written in the target's n-gram distribution must outscore the off-domain one")
    assert(score(9L) == score(1L), "identical text implies identical hashed-feature score")
    val ranks = out.map(_._4).sorted.toSeq
    assert(ranks == (1 to 10).toSeq, "ranks dense, ties broken deterministically")
  }

  test("perplexity terciles: surprisal strata map to head/middle/tail per language") {
    import spark.implicits._
    // ref LM (lang 'ref', ignored for assertions): c(aa)=27, c(bb)=3,
    // tref=30, v=2 -> nll(aa)=ln(32/28), nll(bb)=ln(8), OOV=ln(32).
    // Nine 'en' docs in three identical-text strata must split exactly
    // into the three terciles by mean surprisal.
    val ref = (1L to 3L).map(i => (i, ("aa " * 9).trim + " bb", "ref", "src0"))
    val en = (4L to 6L).map(i => (i, "aa aa aa aa", "en", "web")) ++
      (7L to 9L).map(i => (i, "bb bb bb bb", "en", "web")) ++
      (10L to 12L).map(i => (i, "zz zz zz zz", "en", "web"))
    val outDir = java.nio.file.Files.createTempDirectory("ppl").toString
    (ref ++ en).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val out = graft.queries.TextOps.q107Perplexity(spark, outDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val byId = out.map(r => r._1 -> r._4).toMap
    (4L to 6L).foreach(i => assert(byId(i) == "head", s"doc $i low-surprisal"))
    (7L to 9L).foreach(i => assert(byId(i) == "middle", s"doc $i mid-surprisal"))
    (10L to 12L).foreach(i => assert(byId(i) == "tail", s"doc $i OOV"))
    val qs = out.filter(_._2 == "en").groupBy(r => r._4).view.mapValues(_.map(_._3).distinct)
    assert(qs.values.forall(_.size == 1), "identical text => identical quantized mean NLL")
  }

  test("MMR rerank: near-duplicate of the top pick is demoted below the diverse candidate") {
    import spark.implicits._
    // query 0 = (1,1,0,0); candidates: 11 ~ (1,.01) most relevant,
    // 10 = (1,0) its near-duplicate, 12 = (0,1) equally relevant as 10
    // but orthogonal to 11. Pure relevance ranks 11,10,12; MMR (λ=1/2)
    // must demote the near-duplicate: 11,12,10.
    val rows = Seq(
      (0L, "q", Seq(1f, 1f, 0f, 0f)),
      (10L, "a", Seq(1f, 0f, 0f, 0f)),
      (11L, "b", Seq(1f, 0.01f, 0f, 0f)),
      (12L, "c", Seq(0f, 1f, 0f, 0f)))
    val dir = java.nio.file.Files.createTempDirectory("mmr").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.VectorOps.q108MmrRerank(spark, dir)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 11L), (2, 12L), (3, 10L)),
      s"MMR must pick the diverse candidate before the near-duplicate; got ${out.toSeq}")
  }

  test("BPE training: hand-computed merge sequence, overlap counting, early exhaustion") {
    import spark.implicits._
    // corpus 'aaab aaab aab': dict aaab:2 ('a a a b'), aab:1 ('a a b').
    // step1 counts (a,a) at every adjacent position: 2*2 + 1 = 5.
    // After 4 merges every word is one symbol, so a 5-merge request
    // must return only 4 rows (exhaustion, not an error).
    val docs = Seq("aaab aaab aab").toDF("text")
    val out = graft.queries.TextOps.bpeTrain(docs, nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expected = Seq(
      (1, "a a", "aa", 5L),
      (2, "a b", "ab", 2L),
      (3, "aa ab", "aaab", 2L),
      (4, "aa b", "aab", 1L))
    assert(out.toSeq == expected, s"got ${out.toSeq}")
  }

  test("BPE training at 256+ merges: lineage checkpointing keeps per-step cost flat") {
    import spark.implicits._
    // ~400 distinct deterministic 10-char words sustain well over 256
    // merges. Without the every-64-merges localCheckpoint the merge
    // loop chains one replace() per step, so analysis cost per step
    // grows linearly and the 65..256 stretch costs far more per merge
    // than the first 64; with it, per-step cost is flat. Compare the
    // two stretches of ONE 256-merge run (timing-ratio, generous 4x
    // bound — the unchecked form measures ~linear growth, well beyond).
    def word(i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bpeword_$i".getBytes("UTF-8"))
      md.take(10).map(b => ('a' + ((b & 0xff) % 26)).toChar).mkString
    }
    val docs = Seq((0 until 400).map(word).mkString(" ")).toDF("text")
    // cap forced to 0 so the DISTRIBUTED merge loop runs — the default
    // cap would take the driver-local fast path and leave the
    // checkpointed replace() chain this test exists to pin untested
    spark.conf.set("spark.graft.bpe.localDictCap", "0")
    try {
      val t0 = System.nanoTime()
      val m64 = graft.queries.TextOps.bpeMergesList(docs, 64)
      val t64 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val m256 = graft.queries.TextOps.bpeMergesList(docs, 256)
      val t256 = (System.nanoTime() - t1) / 1e9
      assert(m256.size == 256, s"corpus exhausted early at ${m256.size} merges")
      assert(m256.take(64) == m64, "merge sequence must not depend on the requested count")
      assert(t256 / t64 <= 8.0,
        f"per-step cost grew: 256 merges took $t256%.1f s vs 64 merges $t64%.1f s (ratio ${t256 / t64}%.1f > 8)")
    } finally spark.conf.unset("spark.graft.bpe.localDictCap")
  }

  test("BPE training: driver-local regime == distributed regime, merge for merge") {
    import spark.implicits._
    // deterministic multi-word corpus with repeated words, shared
    // prefixes/suffixes and count ties — the tiebreak and overlap
    // wrinkles both regimes must agree on exactly
    def word(i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bpepar_$i".getBytes("UTF-8"))
      md.take(4 + (i % 5)).map(b => ('a' + ((b & 0xff) % 6)).toChar).mkString
    }
    val docs = Seq((0 until 120).map(i => word(i % 40)).mkString(" ")).toDF("text")
    val local = graft.queries.TextOps.bpeMergesList(docs, 48)
    spark.conf.set("spark.graft.bpe.localDictCap", "0")
    val dist =
      try graft.queries.TextOps.bpeMergesList(docs, 48)
      finally spark.conf.unset("spark.graft.bpe.localDictCap")
    assert(local == dist,
      s"regimes diverged: first diff at ${local.zip(dist).indexWhere(p => p._1 != p._2)}")
  }

  test("BPE encode: learned merges tokenize each word, unseen chars stay atomic") {
    import spark.implicits._
    // merges learned from these docs: steps 1-4 fuse aaab and aab to
    // single tokens; step 5 hits the (x,y)/(z,w) tie and the pair
    // tiebreak merges 'x y' — so xy is 1 token while zw stays 2
    // atomic symbols. Merges must not cross word boundaries.
    val docs = Seq(
      (1L, "aaab aaab aab"),
      (2L, "aaab"),
      (3L, "xy zw aab")).toDF("doc_id", "text")
    val out = graft.queries.TextOps.bpeEncode(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 4L), s"got $out")
  }

  test("SemDeDup exact-first collapse: duplicate vectors share component and one keeper") {
    import spark.implicits._
    // 3 exact copies of vector A, 2 of vector B. The seeds are corpus
    // members too, so every cross-cosine (A/B vs seeds, A vs B) is
    // kept below tau=0.30: copies of A form ONE component keyed by
    // the min id with exactly one keeper; B's copies likewise.
    val rows = Seq(
      (0L, "s", Seq(1f, 0f, 0f, 0f)), // centroid seed
      (1L, "s", Seq(0f, 1f, 0f, 0f)), // centroid seed
      (10L, "a", Seq(0.2f, 0.2f, 1f, 0f)), (11L, "a", Seq(0.2f, 0.2f, 1f, 0f)),
      (12L, "a", Seq(0.2f, 0.2f, 1f, 0f)),
      (20L, "b", Seq(0f, 0f, 0.2f, -1f)), (21L, "b", Seq(0f, 0f, 0.2f, -1f)))
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.VectorOps.q104SemDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(out.size == 7, "verdict covers every vector")
    assert(Seq(10L, 11L, 12L).map(out(_)._1).distinct == Seq(10L),
      "exact copies of A collapse into the min-id component")
    assert(Seq(20L, 21L).map(out(_)._1).distinct == Seq(20L),
      "exact copies of B collapse into the min-id component")
    assert(Seq(10L, 11L, 12L).count(out(_)._2 == "keep") == 1 &&
      Seq(20L, 21L).count(out(_)._2 == "keep") == 1,
      "one keeper per duplicate group")
  }

  test("SemDeDup: one keeper per component, elected by lowest cosine-to-centroid") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.VectorOps.q104SemDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getString(4)))
    val n = graft.queries.Tables.embeddings(spark, dir).count()
    assert(rows.length == n, "verdict covers every document exactly once")
    rows.groupBy(_._4).foreach { case (compId, members) =>
      val keepers = members.filter(_._5 == "keep")
      assert(keepers.length == 1, s"component $compId elects exactly one keeper")
      val expected = members.minBy(m => (m._3, m._1))
      assert(keepers.head._1 == expected._1,
        s"component $compId keeper is the least-prototypical member (lowest cos_centroid)")
    }
    val singletons = rows.groupBy(_._4).filter(_._2.length == 1)
    assert(singletons.nonEmpty && singletons.values.forall(_.head._5 == "keep"),
      "docs with no semantic duplicate are always kept")
  }

  test("bandsFor: banded-LSH calibration meets the recall target at tau") {
    import graft.queries.VectorOps.{bandsFor, bandedRecallAt}
    assert(bandsFor(0.30) == (6, 51), "the gate near-dup knob")
    assert(bandsFor(0.40) == (7, 58), "the ANN calibration point")
    assert(bandsFor(0.90) == (21, 60), "the realistic near-dup sweep")
    // the defining property, not the point values: recall at tau is
    // >= the target, and r is maximal under the band budget (any wider
    // band would blow the budget)
    for (tau <- Seq(0.3, 0.4, 0.5, 0.7, 0.85, 0.9, 0.95)) {
      val (r, b) = bandsFor(tau)
      assert(b <= 64, s"tau=$tau: band budget exceeded")
      assert(bandedRecallAt(tau, r, b) >= 0.9, s"tau=$tau (r=$r,b=$b): recall target missed")
      if (r < 24) {
        val p = graft.queries.VectorOps.collisionProb(tau)
        assert(math.ceil(math.log(10.0) / math.pow(p, r + 1)) > 64,
          s"tau=$tau: r=$r not maximal under the budget")
      }
    }
    // monotonicity: higher tau -> wider bands (more selective buckets)
    assert(bandsFor(0.9)._1 > bandsFor(0.5)._1 && bandsFor(0.5)._1 > bandsFor(0.3)._1)
  }

  test("tau-floor contract: the weak-regime guard fires below MinPrunableSignBits") {
    import graft.queries.VectorOps
    // tau=0.30 is below the prunable floor (r=6 < 8: only b*2^r
    // buckets exist, candidates near-quadratic in reps) and the
    // calibration must SAY so — both programmatically and via the
    // logged warning counter
    assert(!VectorOps.prunableRegime(0.30), "tau=0.30 must be flagged weak")
    assert(VectorOps.prunableRegime(0.90), "tau=0.90 is the calibrated regime")
    assert(VectorOps.prunableRegime(0.50), "tau=0.50 has r>=8 sign bits")
    val before = VectorOps.weakTauWarnings.get()
    VectorOps.bandsFor(0.30)
    assert(VectorOps.weakTauWarnings.get() === before + 1,
      "bandsFor below the floor must emit the contract warning")
    val after = VectorOps.weakTauWarnings.get()
    VectorOps.bandsFor(0.90)
    assert(VectorOps.weakTauWarnings.get() === after,
      "bandsFor in the calibrated regime must not warn")
    // the floor is the regime boundary bandsFor actually computes
    assert(VectorOps.bandsFor(0.30)._1 < VectorOps.MinPrunableSignBits)
    assert(VectorOps.bandsFor(0.50)._1 >= VectorOps.MinPrunableSignBits)
  }

  test("banded LSH: planted at-threshold pairs are recalled; exact replication does not grow candidates") {
    import graft.queries.VectorOps
    // 600 deterministic background vectors + 60 planted pairs at
    // cos 0.31..0.49 — the band the single-band design provably missed
    val bg = VectorOps.plantedPairs(spark, 0L, 300, lo = -0.2, hi = 0.2, seed = "bg")
    val planted = VectorOps.plantedPairs(spark, 10000L, 60)
    val corpus = bg.unionByName(planted)
    val cand = VectorOps.bandCandidates(corpus, 0.30).cache()
    val found = cand.where(
      (org.apache.spark.sql.functions.col("ra") >= 10000L) &&
        (org.apache.spark.sql.functions.col("rb") === org.apache.spark.sql.functions.col("ra") + 1) &&
        ((org.apache.spark.sql.functions.col("ra") - 10000L) % 2 === 0)).count()
    assert(found >= 54, s"planted-pair recall $found/60 < 90%")
    // exact-first collapse: tripling the corpus with exact copies must
    // leave the rep-level candidate count unchanged
    val tripled = corpus
      .unionByName(corpus.withColumn("vec_id", org.apache.spark.sql.functions.col("vec_id") + 100000L))
      .unionByName(corpus.withColumn("vec_id", org.apache.spark.sql.functions.col("vec_id") + 200000L))
    val (_, reps) = VectorOps.repCollapse(tripled)
    val candTripled = VectorOps.bandCandidates(reps, 0.30).count()
    assert(candTripled == cand.count(),
      s"collapse failed: 3x exact replication changed rep candidates ($candTripled vs ${cand.count()})")
  }

  test("exactSweepRepPairs: kernel path equals blocked path equals ground truth") {
    import graft.queries.VectorOps
    import org.apache.spark.sql.functions.col
    // background spread across the threshold + planted pairs straddling
    // τ=0.30 on both sides — boundary pairs are exactly what the
    // float-margin kernel could get wrong without the exact re-verify
    val bg = VectorOps.plantedPairs(spark, 0L, 150, lo = -0.2, hi = 0.2, seed = "es")
    val straddle = VectorOps.plantedPairs(spark, 5000L, 40, lo = 0.25, hi = 0.35, seed = "st")
    val corpus = bg.unionByName(straddle)
    def run(cap: Long) = VectorOps.exactSweepRepPairs(corpus, 0.30, maxBroadcastReps = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val kernelPath = run(250000L)
    val blockedPath = run(1L)
    assert(kernelPath == blockedPath,
      s"paths disagree: ${kernelPath.size} vs ${blockedPath.size} pairs")
    // ground truth: every pair, exact shared arithmetic
    val rows = corpus.collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = rows.keys.toSeq.sorted
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      c = cos(rows(ids(i)), rows(ids(j))) if c >= 0.30
    } yield (ids(i), ids(j), c)).toSet
    assert(kernelPath == truth,
      s"sweep is not lossless: ${kernelPath.size} vs truth ${truth.size}")
  }

  test("verifiedRepPairs: broadcast verify-then-dedup equals dedup-first fallback equals brute force") {
    import graft.queries.VectorOps
    import org.apache.spark.sql.functions.col
    val bg = VectorOps.plantedPairs(spark, 0L, 150, lo = -0.2, hi = 0.2, seed = "vr")
    val planted = VectorOps.plantedPairs(spark, 5000L, 30)
    val corpus = bg.unionByName(planted)
    def run(cap: Long) = VectorOps.verifiedRepPairs(corpus, 0.30, maxBroadcastReps = cap)
      .select("ra", "rb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broadcastPath = run(250000L)
    val fallbackPath = run(1L)
    assert(broadcastPath == fallbackPath,
      s"paths disagree: ${broadcastPath.size} vs ${fallbackPath.size} pairs")
    // both paths must agree with brute force ON THE CANDIDATE SET's
    // verified subset: every brute-force pair >= tau that the banding
    // surfaced must be present with the same membership (recall of the
    // banding itself is probabilistic and asserted separately above)
    val rows = corpus.collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for ((ra, rb) <- broadcastPath)
      assert(cos(rows(ra), rows(rb)) >= 0.30, s"pair ($ra,$rb) below tau")
  }

  test("incrementalDedup: exact dup flagged, near-dup counts bands, new x new ignored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpusText = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, corpusText),                    // corpus
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8"),     // corpus
      (3L, corpusText),                    // new: exact dup of 1 -> both bands hit too
      (6L, "y1 y2 y3 y4 y5 y6 y7 y8"),     // new: nothing shared -> 0 hits
      (9L, "y1 y2 y3 y4 y5 y6 y7 y8")      // new: same as 6 but new x new must NOT count
    ).toDF("doc_id", "text")
    val out = graft.queries.TextOps.incrementalDedup(docs, col("doc_id") % 3 === 0)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(3L, 6L, 9L), "only the new batch is emitted")
    assert(out(3L) == ((true, 2L)), "identical text: exact dup + both bands collide")
    assert(out(6L) == ((false, 0L)) && out(9L) == ((false, 0L)),
      "new x new duplicates must not hit the corpus index")
  }
}
