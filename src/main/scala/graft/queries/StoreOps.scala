package graft.queries

import graft.spark.{MarcRow, MarcSchema}
import graft.store.{BucketTable, MarcStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** The store WRITE path under the correctness gate: q36 drives a full
  * commit → re-commit → delete lifecycle through [[MarcStore]] (the
  * reference's Marc.commit/delete semantics, dlx/marc/__init__.py:
  * 856-1310) against a scratch store, then emits the resulting history
  * + audit state so DuckDB can replay version numbering, audit-column
  * preservation, deletion markers and live-row survival in plain SQL.
  *
  * Fixed timestamps make the audit columns deterministic; ids derive
  * from o_orderkey so the oracle can reproduce the exact batches.
  */
object StoreOps {

  /** Bucket count for the gate-query scratch stores. The bucket count
    * is a table-sizing knob (SCALING.md): it should track expected
    * table size so each bucket holds tens-to-hundreds of MB. The gate
    * lifecycles hold O(1k) records, so the default 64 would be pure
    * per-file overhead; a 100 TB deployment sizes it in the thousands. */
  val gateBuckets = 16

  private val ts1 = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z"))
  private val ts2 = java.sql.Timestamp.from(java.time.Instant.parse("2020-02-01T00:00:00Z"))
  private val ts3 = java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T00:00:00Z"))
  private val ts4 = java.sql.Timestamp.from(java.time.Instant.parse("2020-04-01T00:00:00Z"))

  private def sub(code: String, value: Column): Column =
    struct(lit(code).as("code"), value.as("value"), lit(null).cast("long").as("xref"))

  private def field(tag: String, subs: Column*): Column =
    struct(lit(tag).as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
      array(subs: _*).as("subfields"))

  /** orders-derived commit batch: one bib per sampled order. */
  private[graft] def batch(s: SparkSession, dir: String, mod: Long, titlePrefix: String): DataFrame =
    orders(s, dir).where(col("o_orderkey") % mod === 0)
      .select(
        lit("bib").as("record_type"),
        col("o_orderkey").as("_id"),
        lit(null).cast("timestamp").as("created"),
        lit(null).cast("timestamp").as("updated"),
        lit(null).cast("string").as("created_user"),
        lit(null).cast("string").as("user"),
        lit(null).cast("string").as("basket"),
        lit("").as("leader"),
        array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
        array(
          field("245", sub("a", concat(lit(titlePrefix), col("o_orderpriority")))),
          field("269", sub("a", date_format(col("o_orderdate"), "yyyy-MM-dd")))).as("datafields"),
        lit(null).cast("string").as("text"),
        lit(null).cast("array<string>").as("words"),
        lit(null).cast("map<string,array<string>>").as("logical"))

  // q36/q49/q50 all read the same committed lifecycle; build it once
  // per input dir (the gate invokes each query independently but
  // shares the session).
  // caches key on (session, dir) — ADVICE r10: a dir-only key captures
  // the first session and hands a restarted session a store bound to a
  // stopped one
  private val storeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), MarcStore]

  /** commit v1 (1/97 of orders) → commit v2 (half of those, retitled)
    * → delete a quarter. */
  private def lifecycleStore(s: SparkSession, dir: String): MarcStore =
    storeCache.getOrElseUpdate((s, dir), {
      import MarcSchema.marcRowEncoder
      val base = graft.store.BucketTable.scratchDir("graft_q36")
      val store = new MarcStore(s, base, numBuckets = gateBuckets)
      store.commit(batch(s, dir, 97L, "").as[MarcRow], user = "alice", now = ts1)
      store.commit(batch(s, dir, 194L, "X-").as[MarcRow], user = "bob", now = ts2)
      // bob (the v2 committer) also deletes: the history marker now
      // records the DELETING user, as the oracle asserts. PREDICATE
      // delete — the doomed ids never round-trip through the driver
      store.delete("bib", pmod(col("_id"), lit(388L)) === 0, user = "bob", now = ts3)
      store
    })

  /** first 245$a of a history/live row. */
  private def titleCol: Column =
    try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === "245"),
      f => transform(filter(f.getField("subfields"), sf => sf.getField("code") === "a"),
        sf => sf.getField("value")))), lit(1))

  /** emit (history ⨝ live-presence) of the lifecycle store. */
  def q36StoreCommit(s: SparkSession, dir: String): DataFrame = {
    val store = lifecycleStore(s, dir)
    val live = store.read("bib").toDF().select(col("_id").as("l_id"))
    store.readHistory("bib")
      .select(col("_id"), col("version_no"), col("action"), titleCol.as("title"),
        col("user").as("mod_user"), col("created_user"),
        col("updated").cast("long").as("updated_epoch"),
        col("created").cast("long").as("created_epoch"))
      .join(live, col("_id") === col("l_id"), "left")
      .withColumn("live", col("l_id").isNotNull).drop("l_id")
      .orderBy("_id", "version_no")
  }

  /** Audit-column query DSL over the LIVE store (created/updated date
    * compare + user search, SparkQueryCompiler on a committed table —
    * dlx date/user token semantics, dlx/marc/query.py:376-412): bibs
    * last touched by bob after mid-January. */
  def q49StoreQuery(s: SparkSession, dir: String): DataFrame = {
    val store = lifecycleStore(s, dir)
    val live = store.read("bib").toDF()
    val compiler = new graft.spark.SparkQueryCompiler(s, live, store.read("auth").toDF())
    compiler.filterFrame(live, graft.query.QueryParser.parse(
        "updated>2020-01-15 AND user:bob", "bib"))
      .select("_id").orderBy("_id")
  }

  /** History query surface (History.from_query / find_deleted /
    * deleted_by_date, dlx/marc/__init__.py:2345-2368): deleted ids via
    * a search-string query over version records, their version counts,
    * and membership in a deletion-date window. */
  def q50HistoryOps(s: SparkSession, dir: String): DataFrame = {
    val store = lifecycleStore(s, dir)
    val del = store.findDeleted("bib", "245__a:*").select(col("_id").as("d_id"))
    val inWin = store.deletedByDate("bib",
        java.time.Instant.parse("2020-02-15T00:00:00Z"),
        java.time.Instant.parse("2020-03-15T00:00:00Z"))
      .select(col("_id").as("w_id"))
    val counts = store.readHistory("bib").groupBy("_id")
      .agg(count(lit(1)).as("n_versions"))
    counts.join(del, col("_id") === col("d_id"), "inner")
      .join(inWin, col("_id") === col("w_id"), "left")
      .select(col("_id"), col("n_versions"), col("w_id").isNotNull.as("in_window"))
      .orderBy("_id")
  }

  /** restore + revert under the oracle (History.restore / Marc.revert,
    * dlx/marc/__init__.py:581-590, 1349-1366, 2286-2300): a small
    * FIXED-SIZE lifecycle (commit → delete the 3 lowest ids → restore
    * 2 of them) so the job count does not scale with SF; emits the
    * live rows with their committing user, version count and the
    * version-1 title (revert-to-v1 content). */
  def q55Restore(s: SparkSession, dir: String): DataFrame = {
    import MarcSchema.marcRowEncoder
    val base = graft.store.BucketTable.scratchDir("graft_q55")
    val store = new MarcStore(s, base, numBuckets = gateBuckets)
    store.commit(batch(s, dir, 1940L, "").as[MarcRow], user = "alice", now = ts1)
    // restore/revert need three CONCRETE ids (the reference API is
    // per-id) — a bounded limit(3) collect, not a full id list
    val delIds = orders(s, dir).where(col("o_orderkey") % 1940 === 0)
      .select("o_orderkey").orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
    store.delete("bib", delIds, user = "bob", now = ts2)
    delIds.take(2).foreach(id => store.restore("bib", id, user = "carol"))
    // revert() itself: version-1 state of one restored record
    val reverted = store.revert("bib", delIds.head, 1)
    val revTitle = graft.spark.MarcSchema.fromRow(reverted)
      .getValue("245", "a")(graft.model.AuthLookup.Empty)
    val hist = store.readHistory("bib")
    val counts = hist.groupBy(col("_id").as("c_id")).agg(count(lit(1)).as("n_versions"))
    val v1 = hist.where(col("version_no") === 1)
      .select(col("_id").as("v_id"), titleCol.as("v1_title"))
    // the reference's restored marker + actions audit
    // (dlx/marc/__init__.py:2327-2332, 1301-1303): latest action and
    // the restoring user off the history rows, the delete/restore
    // event list (reference vocabulary) off actionsAudit
    val marks = hist.groupBy(col("_id").as("m_id"))
      .agg(max_by(col("action"), col("version_no")).as("last_action"),
        max(when(col("action") === "restored", col("user"))).as("restored_user"))
    val acts = store.actionsAudit("bib")
      .select(col("_id").as("a_id"),
        array_join(transform(col("actions"), a => a.getField("type")), ",").as("actions_csv"))
    store.read("bib").toDF().select(col("_id"), col("user").as("mod_user"))
      .join(counts, col("_id") === col("c_id")).drop("c_id")
      .join(v1, col("_id") === col("v_id")).drop("v_id")
      .join(marks, col("_id") === col("m_id")).drop("m_id")
      .join(acts, col("_id") === col("a_id"), "left").drop("a_id")
      .withColumn("revert_title",
        when(col("_id") === delIds.head, lit(revTitle)).otherwise(lit(null).cast("string")))
      .orderBy("_id")
  }

  /** The commit-driven heading-change cascade under the oracle
    * (update_attached_records, dlx/marc/__init__.py:1155-1232, the
    * reference's commit default): commit an auth dimension, commit
    * bibs whose 650 links one auth (xref only, value unresolved —
    * commit-time auth validation passes on the live dimension), then
    * re-commit that auth with a CHANGED heading value. The store must
    * cascade: refresh the linked value on every attached bib and
    * append a second history version for each. */
  private def marcRowCol(rt: Column, id: Column, fields: Column): Column = struct(
      rt.as("record_type"), id.as("_id"),
      lit(null).cast("timestamp").as("created"), lit(null).cast("timestamp").as("updated"),
      lit(null).cast("string").as("created_user"), lit(null).cast("string").as("user"),
      lit(null).cast("string").as("basket"), lit("").as("leader"),
      array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
      fields.as("datafields"),
      lit(null).cast("string").as("text"), lit(null).cast("array<string>").as("words"),
      lit(null).cast("map<string,array<string>>").as("logical"))

  private def authRowCol(id: Column, heading: Column) = marcRowCol(lit("auth"), id,
    array(struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
      array(struct(lit("a").as("code"), heading.as("value"),
        lit(null).cast("long").as("xref"))).as("subfields"))))

  /** q62's commit batches: auths, bibs linking auth 500, and the
    * heading change on auth 500 that cascades to them. */
  private def profAuthBatch(s: SparkSession, dir: String): DataFrame =
    part(s, dir).where(col("p_partkey") % 500 === 0)
      .select(authRowCol(col("p_partkey").cast("long"), col("p_name")).as("r")).select("r.*")

  private def profBibBatch(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).where(col("o_orderkey") % 97 === 0)
      .select(marcRowCol(lit("bib"), col("o_orderkey"),
        array(
          struct(lit("245").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
            array(struct(lit("a").as("code"), col("o_orderpriority").as("value"),
              lit(null).cast("long").as("xref"))).as("subfields")),
          struct(lit("650").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
            array(struct(lit("a").as("code"), lit(null).cast("string").as("value"),
              lit(500L).as("xref"))).as("subfields")))).as("r")).select("r.*")

  private def profChangedAuth(s: SparkSession, dir: String): DataFrame =
    part(s, dir).where(col("p_partkey") === 500)
      .select(authRowCol(lit(500L), lit("CHANGED")).as("r")).select("r.*")

  // q62 and q102 replay the IDENTICAL three-commit cascade scenario
  // (auth dimension, attached bibs, heading change on auth 500) before
  // diverging: q62 reads the cascaded state, q102 additionally merges
  // 500 into 1000. Round 13 (guide §1.2 "don't compute things you
  // throw away"): build that seed ONCE per (session, dir) under the
  // lifecycleStore discipline. q62 only READS the seed; q102 MUTATES (merge + delete), so it clones
  // the seed's directory (a plain file copy of a gate-sized store,
  // no Spark job) and merges on the clone.
  private val cascadeStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (MarcStore, String)]

  private def cascadeSeedStore(s: SparkSession, dir: String): (MarcStore, String) =
    cascadeStoreCache.getOrElseUpdate((s, dir), {
      import MarcSchema.marcRowEncoder
      val base = graft.store.BucketTable.scratchDir("graft_q62seed")
      val store = new MarcStore(s, base, numBuckets = gateBuckets)
      store.commit(profAuthBatch(s, dir).as[MarcRow], user = "alice", now = ts1)
      store.commit(profBibBatch(s, dir).as[MarcRow], user = "bob", now = ts2)
      // heading change on auth 500 -> cascade to every attached bib
      store.commit(profChangedAuth(s, dir).as[MarcRow], user = "editor", now = ts3)
      (store, base)
    })

  /** Recursive file copy for cloning a seeded gate store (driver-local
    * filesystem walk; gate stores are a few MB). The walk stream is
    * closed explicitly — Files.walk holds an open DirectoryStream per
    * its javadoc (round-13 advice: the unclosed walk leaked one fd per
    * q102 clone). */
  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val s0 = src.toString.length
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = java.nio.file.Paths.get(dst.toString + p.toString.substring(s0))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def q62Cascade(s: SparkSession, dir: String): DataFrame = {
    val store = cascadeSeedStore(s, dir)._1
    val counts = store.readHistory("bib").groupBy(col("_id").as("c_id"))
      .agg(count(lit(1)).as("n_versions"))
    val subject = try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === "650"),
      f => transform(f.getField("subfields"), sf => sf.getField("value")))), lit(1))
    store.read("bib").toDF().select(col("_id"), subject.as("subject"))
      .join(counts, col("_id") === col("c_id")).drop("c_id")
      .orderBy("_id")
  }

  /** The File module's batch ingest under the oracle: derived binary
    * contents md5'd and deduped in the cluster, blobs written from the
    * executors (Hadoop-FS backend over file://), a second import of
    * the same batch proving checksum-dedup is a no-op. DuckDB replays
    * md5/length relationally. */
  private val fileStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.files.FileStore]

  private def importedFileStore(s: SparkSession, dir: String): graft.files.FileStore =
    fileStoreCache.getOrElseUpdate((s, dir), {
      import graft.files.{FileStore, HadoopBlobStore}
      val base = graft.store.BucketTable.scratchDir("graft_q40")
      val store = new FileStore(s, base, new HadoopBlobStore(s"file://$base/blobs"),
        numBuckets = gateBuckets)
      val files = orders(s, dir).where(col("o_orderkey") % 485 === 0)
        .select(
          concat(lit("file-"), col("o_orderkey"), lit("-"), col("o_orderpriority"))
            .cast("binary").as("content"),
          concat(lit("f"), col("o_orderkey"), lit(".txt")).as("filename"),
          array(struct(lit("isbn").as("idType"),
            col("o_orderkey").cast("string").as("value"))).as("identifiers"),
          array(lit("en")).as("languages"),
          lit("text/plain").as("mimetype"),
          lit("gate").as("source"),
          lit("tester").as("user"))
      store.importBatch(files, java.time.Instant.parse("2020-01-01T00:00:00Z"))
      // identical batch again: checksum dedup must keep the table stable
      store.importBatch(files, java.time.Instant.parse("2020-02-01T00:00:00Z"))
      store
    })

  def q40FileImport(s: SparkSession, dir: String): DataFrame = {
    val store = importedFileStore(s, dir)
    store.read()
      .select(explode(col("identifiers")).as("i"), col("_id"), col("size"),
        col("timestamp").cast("long").as("ts_epoch"))
      .select(col("i.value").as("id_value"), col("_id").as("checksum"),
        col("size"), col("ts_epoch"))
      .orderBy("id_value")
  }

  /** File.commit — single-record metadata upsert (reference
    * File.commit, dlx/file/__init__.py): re-source the two
    * lexicographically-smallest checksums to 'edited' (fixed-size
    * edit set — job count independent of SF), then read the table
    * back. Only touches `source`/`updated`, which q40/q64 don't
    * project, so the shared memoized store stays valid for them. */
  def q84FileCommit(s: SparkSession, dir: String): DataFrame = {
    val store = importedFileStore(s, dir)
    val ts = java.time.Instant.parse("2020-03-01T00:00:00Z")
    store.read().select("_id").orderBy("_id").limit(2)
      .collect().map(_.getString(0))
      .foreach { id =>
        val rec = store.fromId(id).get
        if (rec.source != "edited") store.commit(rec.copy(source = "edited"), ts)
      }
    store.read()
      .select(explode(col("identifiers")).as("i"), col("_id"), col("source"))
      .select(col("i.value").as("id_value"), col("_id").as("checksum"), col("source"))
      .orderBy("id_value")
  }

  /** File.find surface at set scale (dlx/file/__init__.py:284-304 +
    * Bib.files latest-per-identifier window): newest file per
    * (identifier, language) over the imported store. */
  def q64FileFind(s: SparkSession, dir: String): DataFrame =
    importedFileStore(s, dir).latestPerIdentifierLanguage()
      .select(col("id_value"), col("_id").as("checksum"), col("language"))
      .orderBy("id_value")

  /** Dense id assignment under the oracle (_increment_ids,
    * dlx/marc/__init__.py:457-472, batch form): seed a store with
    * id-carrying records, then commit a batch whose rows all carry
    * _id = -1. assignIds must hand out EXACTLY max+1..max+n — dense,
    * gap-free, collision-free — regardless of which record gets which
    * id (the id→row pairing is partition-order dependent by design,
    * so only the id SET is compared). */
  def q97AssignIds(s: SparkSession, dir: String): DataFrame = {
    import MarcSchema.marcRowEncoder
    val base = graft.store.BucketTable.scratchDir("graft_q97")
    val store = new MarcStore(s, base, numBuckets = gateBuckets)
    store.commit(batch(s, dir, 1940L, "").as[MarcRow], user = "alice", now = ts1)
    val fresh = orders(s, dir)
      .where(col("o_orderkey") % 970 === 0 && col("o_orderkey") % 1940 =!= 0)
    store.commit(
      batch(s, dir, 970L, "new-").as[MarcRow]
        .join(fresh.select(col("o_orderkey").as("f_id")), col("_id") === col("f_id"), "left_semi")
        .withColumn("_id", lit(-1L)).as[MarcRow],
      user = "bob", now = ts2)
    store.read("bib").toDF().select(col("_id")).orderBy("_id")
  }

  /** Browse-index eviction under the oracle (the reference's
    * _index_<field> DeleteOne maintenance, dlx/marc/__init__.py:
    * 985-1013, 1253-1277): commit bibs whose logical values are partly
    * UNIQUE per record (main_title 'T-<id>') and partly SHARED across
    * the parity split (notes EVEN/ODD), delete every even record, and
    * rebuild the browse index from the live table. Unique values of
    * deleted records and the shared value whose last holder died must
    * both be evicted; the shared value with survivors stays. Recompute
    * semantics — the rebuilt index simply cannot contain a value no
    * live record carries, which is exactly the reference's
    * bibcount+authcount==0 DeleteOne outcome. */
  def q100BrowseEviction(s: SparkSession, dir: String): DataFrame = {
    import MarcSchema.marcRowEncoder
    val base = graft.store.BucketTable.scratchDir("graft_q100")
    val store = new MarcStore(s, base, numBuckets = gateBuckets)
    val raw = orders(s, dir).where(col("o_orderkey") % 1940 === 0)
      .select(
        lit("bib").as("record_type"),
        col("o_orderkey").as("_id"),
        lit(null).cast("timestamp").as("created"),
        lit(null).cast("timestamp").as("updated"),
        lit(null).cast("string").as("created_user"),
        lit(null).cast("string").as("user"),
        lit(null).cast("string").as("basket"),
        lit("").as("leader"),
        array().cast("array<struct<tag:string,value:string>>").as("controlfields"),
        array(
          field("245", sub("a", concat(lit("T-"), col("o_orderkey")))),
          field("500", sub("a",
            when(col("o_orderkey") % 3880 === 0, lit("EVEN")).otherwise(lit("ODD")))))
          .as("datafields"),
        lit(null).cast("string").as("text"),
        lit(null).cast("array<string>").as("words"),
        lit(null).cast("map<string,array<string>>").as("logical"))
    // the store derives text/words/logical from the datafields
    store.commit(raw.as[MarcRow], user = "alice", now = ts1)
    store.delete("bib", pmod(col("_id"), lit(3880L)) === 0, user = "bob", now = ts2)
    graft.spark.MarcContext.browseIndex(store.read("bib").toDF())
      .where(col("field").isin("main_title", "notes"))
      .select(col("field"), col("value"))
      .orderBy("field", "value")
  }

  /** The reference's debug audit logs under the oracle (merge_log +
    * auth_linked_update_log, dlx/marc/__init__.py:2148-2149, 1205):
    * replay the q62 cascade scenario (heading change on auth 500 with
    * every bib attached), then Auth.merge auth 500 into auth 1000.
    * The cascade must log one 'updated' row per attached bib
    * (triggered_by = 500); the merge must log the losing/gaining pair
    * and leave the losing auth deleted with every xref rewritten —
    * asserted via the merged-xref count column. */
  def q102MergeAudit(s: SparkSession, dir: String): DataFrame = {
    // clone the shared seed (q62's exact scenario), then merge on the
    // clone — the merge's bucket swaps and log appends never touch the
    // seed q62 reads
    val seedBase = cascadeSeedStore(s, dir)._2
    val base = graft.store.BucketTable.scratchDir("graft_q102")
    copyDir(java.nio.file.Paths.get(seedBase), java.nio.file.Paths.get(base))
    val store = new MarcStore(s, base, numBuckets = gateBuckets)
    store.merge(gaining = 1000L, losing = 500L, user = "editor2", now = ts4)
    val gainingRefs = store.read("bib").toDF()
      .select(sum(size(filter(flatten(transform(col("datafields"),
        f => transform(f.getField("subfields"), sf => sf.getField("xref")))),
        x => x === 1000L))).as("n"))
      .head().getLong(0)
    val ml = store.mergeLog.select(lit("merge").as("log_name"), col("record_id"),
      col("action"), lit(null).cast("long").as("triggered_by"),
      col("time").cast("long").as("time_s"), col("user").as("log_user"))
    val al = store.authLinkedUpdateLog.select(lit("cascade").as("log_name"),
      col("record_id"), col("action"), col("triggered_by"),
      col("time").cast("long").as("time_s"), lit(null).cast("string").as("log_user"))
    ml.unionByName(al)
      .withColumn("n_gaining_refs", lit(gainingRefs))
      .orderBy("log_name", "record_id")
  }

  /** File.encode_fn + the ISO 639-1 language table under the oracle
    * (dlx/file/__init__.py:252-264, dlx/util.py:185-375): encode a
    * filename per order from identifiers that exercise every char in
    * the reference's translation table (' /[]*:;' -> '__^^!#%'),
    * uppercased language suffixes, and the ISO code->name lookup.
    * DuckDB replays the translation with translate(). Map-only:
    * a pure projection, no shuffle before the output sort. */
  def q103EncodeFn(s: SparkSession, dir: String): DataFrame = {
    val encode = udf((id1: String, id2: String, bilingual: Boolean) =>
      graft.files.FileStore.encodeFn(
        Seq(id1, id2), if (bilingual) Seq("en", "fr") else Seq("en"), "pdf"))
    val named = udf((bilingual: Boolean) =>
      (if (bilingual) Seq("en", "fr") else Seq("en"))
        .map(graft.files.ISO6391.codes).mkString("|"))
    val bilingual = col("o_orderkey") % 2 === 0
    orders(s, dir).where(col("o_orderkey") % 193 === 0)
      .select(col("o_orderkey").as("record_id"),
        encode(concat(lit("S/"), col("o_orderkey").cast("string")),
          concat(lit("R:["), col("o_custkey").cast("string"), lit("]* ;x")),
          bilingual).as("fn"),
        named(bilingual).as("langs_named"))
      .orderBy("record_id")
  }

  /** Crash-point recovery gate (round-9 verdict #3): drive a commit
    * into an injected crash at EVERY stage-and-swap protocol point,
    * reopen the store (which runs the recovery sweep under the store
    * lock), and REQUIRE an all-or-nothing read after each crash: one
    * distinct `user` across the live rows (a mixed bucket set would
    * show two), unchanged row count, no dangling `_staging`. q186
    * proved restart-equivalence for streaming; this is the batch
    * store's twin. The oracle replays only the final clean commit —
    * every all-or-nothing claim is a `require`, so a torn state turns
    * the gate red via the error column. Built once per session (the
    * lifecycleStore discipline); the temp tree dies with the JVM. */
  private val crashStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), MarcStore]

  private def crashedStore(s: SparkSession, dir: String): MarcStore =
    crashStoreCache.getOrElseUpdate((s, dir), {
      import MarcSchema.marcRowEncoder
      val baseDir = graft.store.BucketTable.scratchDir("graft_q199")
      val base = baseDir.toString
      var store = new MarcStore(s, base, numBuckets = gateBuckets)
      store.commit(batch(s, dir, 97L, "").as[MarcRow], user = "alice", now = ts1)
      val n0 = store.read("bib").count()
      require(n0 > 0, "crash gate needs a non-empty base commit")
      var prevUsers = Set("alice")
      var expVersions = 1L
      val points = Seq("post_staging", "post_journal", "mid_rename", "post_rename",
        "post_history")
      for ((p, i) <- points.zipWithIndex) {
        BucketTable.failpoint = Some(p)
        val crashed =
          try {
            store.commit(batch(s, dir, 97L, s"C$i-").as[MarcRow], user = s"crash_$p",
              now = new java.sql.Timestamp(ts2.getTime + i * 1000L))
            false
          } catch { case _: BucketTable.CrashInjected => true }
        require(crashed, s"failpoint $p did not fire")
        // "reopen": a fresh store on the same path = the recovery sweep
        store = new MarcStore(s, base, numBuckets = gateBuckets)
        val users = store.read("bib").toDF().select("user").distinct()
          .collect().map(_.getString(0)).toSet
        require(users.size == 1, s"mixed bucket state after $p recovery: $users")
        require(store.read("bib").count() == n0, s"row count changed after $p recovery")
        require(users == prevUsers || users == Set(s"crash_$p"),
          s"state after $p is neither old nor new: $users")
        // version rows are all-or-nothing WITH the live swap (round-11:
        // history stages under the same commit journal; post_rename is
        // exactly the old live-swapped-history-lost window)
        if (users == Set(s"crash_$p")) expVersions += 1
        val histRows = store.readHistory("bib").count()
        require(histRows == n0 * expVersions,
          s"history rows $histRows != ${n0 * expVersions} after $p recovery " +
            "(version rows must commit atomically with the live swap)")
        require(!new java.io.File(s"$base/bibs_staging").exists(),
          s"recovery left a dangling staging dir after $p")
        require(!new java.io.File(s"$base/bib_history_staging").exists(),
          s"recovery left a dangling history staging dir after $p")
        prevUsers = users
      }
      store.commit(batch(s, dir, 97L, "F-").as[MarcRow], user = "final", now = ts4)
      store
    })

  /** q202 (round-11 verdict #6): the import CLI end-to-end under the
    * oracle — the reference's marc_import entry point
    * (dlx/scripts/marc_import). A generated MRK batch runs through
    * `cli.MarcImport` into a scratch store whose auth dimension forces
    * all three parse-time resolution mechanisms
    * (dlx/marc/__init__.py:1676-1700):
    *  - AMBIGUOUS headings: auth pairs (2k+1 = [a "Subj k"],
    *    2k+2 = [a "Subj k", x "Extra"]) make every (a, Subj k) lookup
    *    two-way ambiguous; resolve_ambiguous must pick 2k+1 by exact
    *    heading equality;
    *  - `$0` CAPTURE: fields carrying $0<xref> short-circuit the
    *    lookup entirely (the subfield value is deliberately garbage);
    *  - UNIQUE lookups: [a "Uniq k"] headings resolve by plain xlookup.
    * Record ids ride =001 so the id→xref assignment is deterministic;
    * the oracle replays the whole assignment arithmetically. The
    * resolution itself is joins against the auth dimension
    * (spark.BatchAuthResolve — CliSpec + ExplainCheck pin the plan);
    * the commit re-validates every assigned xref against the live
    * headings, so a wrong assignment fails twice. */
  private val importStoreCache =
    scala.collection.concurrent.TrieMap.empty[SparkSession, MarcStore]

  private val q202Subjects = 50
  private val q202Bibs = 150

  private def q202AuthRows(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{concat => cat}
    val pairs = s.range(0, q202Subjects)
      .select(explode(array(
        marcRowCol(lit("auth"), col("id") * 2 + 1,
          array(struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
            array(struct(lit("a").as("code"), cat(lit("Subj "), col("id")).as("value"),
              lit(null).cast("long").as("xref"))).as("subfields")))),
        marcRowCol(lit("auth"), col("id") * 2 + 2,
          array(struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
            array(
              struct(lit("a").as("code"), cat(lit("Subj "), col("id")).as("value"),
                lit(null).cast("long").as("xref")),
              struct(lit("x").as("code"), lit("Extra").as("value"),
                lit(null).cast("long").as("xref"))).as("subfields")))))).as("r"))
      .select("r.*")
    val uniques = s.range(0, q202Subjects)
      .select(marcRowCol(lit("auth"), col("id") + (2 * q202Subjects + 1),
        array(struct(lit("150").as("tag"), lit(" ").as("ind1"), lit(" ").as("ind2"),
          array(struct(lit("a").as("code"), cat(lit("Uniq "), col("id")).as("value"),
            lit(null).cast("long").as("xref"))).as("subfields")))).as("r"))
      .select("r.*")
    pairs.unionByName(uniques)
  }

  /** The generated import batch, one MRK record per bib (blank-line
    * separated), ids on =001. */
  private def q202Mrk: String =
    (0 until q202Bibs).map { i =>
      val k = i % q202Subjects
      val f650 = (i % 3) match {
        case 0 => s"=650  \\\\$$aSubj $k"
        case 1 => s"=650  \\\\$$aIgnored $i$$0${2 * k + 2}"
        case _ => s"=650  \\\\$$aUniq $k"
      }
      s"=001  ${1000 + i}\n=245  \\\\$$aT $i\n$f650"
    }.mkString("\n\n")

  /** q203 (round-12 verdict #2): the CLI's OTHER parse leg — a MARCXML
    * batch through `cli.MarcImport` into the same store, gating the
    * XML-specific semantics q202's MRK leg can't reach
    * (dlx/marc/__init__.py:1723-1785 from_xml_raw):
    *  - entity UNESCAPING (&amp; in titles must round-trip);
    *  - `$0` DIGIT-FILTERING: the reference captures
    *    ''.join(48<=ord<=57) of the $0 text, so prefixed identifiers
    *    like "(DHLAUTH)42" capture xref 42 (the round-12
    *    BatchAuthResolve fix — toLongOption missed the prefix form);
    *  - controlfield 001 → id through the XML node walk.
    * Same ambiguous/unique mix as the MRK leg (ids 2000+i so both
    * batches coexist in one store — which also gates an import commit
    * into a NON-empty bib table). */
  private def q203Xml: String =
    "<collection>" + (0 until q202Bibs).map { i =>
      val k = i % q202Subjects
      val f650 = (i % 3) match {
        case 0 => s"""<datafield tag="650" ind1=" " ind2=" ">""" +
          s"""<subfield code="a">Subj $k</subfield></datafield>"""
        case 1 => s"""<datafield tag="650" ind1=" " ind2=" ">""" +
          s"""<subfield code="a">Ignored &amp; $i</subfield>""" +
          s"""<subfield code="0">(DHLAUTH)${2 * k + 2}</subfield></datafield>"""
        case _ => s"""<datafield tag="650" ind1=" " ind2=" ">""" +
          s"""<subfield code="a">Uniq $k</subfield></datafield>"""
      }
      s"""<record><controlfield tag="001">${2000 + i}</controlfield>""" +
        s"""<datafield tag="245" ind1=" " ind2=" "><subfield code="a">T &amp; $i</subfield>""" +
        s"""</datafield>$f650</record>"""
    }.mkString + "</collection>"

  private def importedMarcStore(s: SparkSession): MarcStore =
    importStoreCache.getOrElseUpdate(s, {
      import MarcSchema.marcRowEncoder
      val baseDir = graft.store.BucketTable.scratchDir("graft_q202")
      val base = baseDir.toString
      // the CLI opens the store with default sizing — seed the auth
      // dimension through the same shape
      val store = new MarcStore(s, base)
      store.commit(q202AuthRows(s).as[MarcRow], user = "alice", now = ts1)
      val mrk = java.nio.file.Files.createTempFile("graft_q202", ".mrk")
      java.nio.file.Files.write(mrk, q202Mrk.getBytes("UTF-8"))
      graft.cli.MarcImport.main(Array(base, "bib", mrk.toString))
      java.nio.file.Files.deleteIfExists(mrk)
      val xml = java.nio.file.Files.createTempFile("graft_q203", ".xml")
      java.nio.file.Files.write(xml, q203Xml.getBytes("UTF-8"))
      graft.cli.MarcImport.main(Array(base, "bib", xml.toString))
      java.nio.file.Files.deleteIfExists(xml)
      store
    })

  private def importedBibs(s: SparkSession): DataFrame = {
    val store = importedMarcStore(s)
    val xref = try_element_at(flatten(transform(
      filter(col("datafields"), f => f.getField("tag") === "650"),
      f => transform(filter(f.getField("subfields"), sf => sf.getField("code") === "a"),
        sf => sf.getField("xref")))), lit(1))
    store.read("bib").toDF()
      .select(col("_id"), titleCol.as("title"), xref.as("xref"),
        col("user").as("mod_user"))
  }

  def q202MarcImport(s: SparkSession, dir: String): DataFrame =
    importedBibs(s).where(col("_id") < 2000).orderBy("_id")

  def q203MarcImportXml(s: SparkSession, dir: String): DataFrame =
    importedBibs(s).where(col("_id") >= 2000).orderBy("_id")

  def q199StoreCrashRecovery(s: SparkSession, dir: String): DataFrame =
    crashedStore(s, dir).read("bib").toDF()
      .select(col("_id"), col("user"), col("created_user"), titleCol.as("title"))
      .orderBy("_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_marc_import" -> (q202MarcImport _),
    "q203_marc_import_xml" -> (q203MarcImportXml _),
    "q199_store_crash_recovery" -> (q199StoreCrashRecovery _),
    "q100_browse_eviction" -> (q100BrowseEviction _),
    "q102_merge_audit" -> (q102MergeAudit _),
    "q103_encode_fn" -> (q103EncodeFn _),
    "q97_assign_ids" -> (q97AssignIds _),
    "q36_store_commit" -> (q36StoreCommit _),
    "q40_file_import" -> (q40FileImport _),
    "q64_file_find" -> (q64FileFind _),
    "q84_file_commit" -> (q84FileCommit _),
    "q49_store_query" -> (q49StoreQuery _),
    "q50_history_ops" -> (q50HistoryOps _),
    "q55_restore" -> (q55Restore _),
    "q62_cascade" -> (q62Cascade _))

  val oracle: Map[String, String] = Map(
    "q202_marc_import" ->
      """WITH b AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 150))
        |SELECT 1000 + i AS _id, 'T ' || i AS title,
        |  CAST(CASE CAST(i % 3 AS INTEGER)
        |    WHEN 0 THEN 1 + 2 * (i % 50)
        |    WHEN 1 THEN 2 + 2 * (i % 50)
        |    ELSE 101 + (i % 50) END AS BIGINT) AS xref,
        |  'marc-import' AS mod_user
        |FROM b ORDER BY _id""".stripMargin,
    "q203_marc_import_xml" ->
      """WITH b AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 150))
        |SELECT 2000 + i AS _id, 'T & ' || i AS title,
        |  CAST(CASE CAST(i % 3 AS INTEGER)
        |    WHEN 0 THEN 1 + 2 * (i % 50)
        |    WHEN 1 THEN 2 + 2 * (i % 50)
        |    ELSE 101 + (i % 50) END AS BIGINT) AS xref,
        |  'marc-import' AS mod_user
        |FROM b ORDER BY _id""".stripMargin,
    "q199_store_crash_recovery" ->
      """SELECT o_orderkey AS _id, 'final' AS "user", 'alice' AS created_user,
        |  'F-' || o_orderpriority AS title
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY _id""".stripMargin,
    "q103_encode_fn" ->
      """SELECT o_orderkey AS record_id,
        |  translate('S/' || o_orderkey, ' /[]*:;', '__^^!#%') || '&' ||
        |  translate('R:[' || o_custkey || ']* ;x', ' /[]*:;', '__^^!#%') ||
        |  '-EN' || CASE WHEN o_orderkey % 2 = 0 THEN '-FR' ELSE '' END || '.pdf' AS fn,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'English|French' ELSE 'English' END AS langs_named
        |FROM orders WHERE o_orderkey % 193 = 0
        |ORDER BY record_id""".stripMargin,
    "q102_merge_audit" ->
      """WITH cascade AS (
        |  SELECT 'cascade' AS log_name, o_orderkey AS record_id, 'updated' AS action,
        |         CAST(500 AS BIGINT) AS triggered_by,
        |         CAST(1583020800 AS BIGINT) AS time_s,
        |         CAST(NULL AS VARCHAR) AS log_user
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |m AS (
        |  SELECT 'merge' AS log_name, CAST(t.id AS BIGINT) AS record_id, t.action,
        |         CAST(NULL AS BIGINT) AS triggered_by,
        |         CAST(1585699200 AS BIGINT) AS time_s,
        |         'editor2' AS log_user
        |  FROM (VALUES (500, 'losing'), (1000, 'gaining')) AS t(id, action))
        |SELECT log_name, record_id, action, triggered_by, time_s, log_user,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 97 = 0)
        |         AS n_gaining_refs
        |FROM (SELECT * FROM cascade UNION ALL SELECT * FROM m)
        |ORDER BY log_name, record_id""".stripMargin,
    "q100_browse_eviction" ->
      """WITH s AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 1940 = 0),
        |live AS (SELECT k FROM s WHERE k % 3880 <> 0)
        |SELECT field, value FROM (
        |  SELECT 'main_title' AS field, 'T-' || CAST(k AS VARCHAR) AS value FROM live
        |  UNION ALL
        |  SELECT DISTINCT 'notes' AS field, 'ODD' AS value FROM live)
        |ORDER BY field, value""".stripMargin,
    "q97_assign_ids" ->
      """WITH seed AS (
        |  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 1940 = 0),
        |fresh AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 970 = 0 AND o_orderkey % 1940 <> 0)
        |SELECT id AS _id FROM seed
        |UNION ALL
        |SELECT (SELECT MAX(id) FROM seed) + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS _id
        |FROM fresh
        |ORDER BY _id""".stripMargin,
    "q64_file_find" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS id_value,
        |       md5('file-' || o_orderkey || '-' || o_orderpriority) AS checksum,
        |       'en' AS language
        |FROM orders WHERE o_orderkey % 485 = 0
        |ORDER BY id_value""".stripMargin,
    "q62_cascade" ->
      """SELECT o_orderkey AS _id, 'CHANGED' AS subject, CAST(2 AS BIGINT) AS n_versions
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY _id""".stripMargin,
    "q36_store_commit" ->
      """WITH s AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS prio FROM orders WHERE o_orderkey % 97 = 0),
        |h AS (
        |  SELECT id, CAST(1 AS BIGINT) AS version_no, 'commit' AS action, prio AS title,
        |         'alice' AS mod_user, 'alice' AS created_user,
        |         CAST(1577836800 AS BIGINT) AS updated_epoch,
        |         CAST(1577836800 AS BIGINT) AS created_epoch
        |  FROM s
        |  UNION ALL
        |  SELECT id, 2, 'commit', 'X-' || prio, 'bob', 'alice',
        |         CAST(1580515200 AS BIGINT), CAST(1577836800 AS BIGINT)
        |  FROM s WHERE id % 194 = 0
        |  UNION ALL
        |  SELECT id, 3, 'deleted', 'X-' || prio, 'bob', 'alice',
        |         CAST(1583020800 AS BIGINT), CAST(1577836800 AS BIGINT)
        |  FROM s WHERE id % 388 = 0)
        |SELECT id AS _id, version_no, action, title, mod_user, created_user,
        |       updated_epoch, created_epoch, (id % 388 <> 0) AS live
        |FROM h ORDER BY _id, version_no""".stripMargin,
    "q49_store_query" ->
      """SELECT o_orderkey AS _id FROM orders
        |WHERE o_orderkey % 194 = 0 AND o_orderkey % 388 <> 0
        |ORDER BY _id""".stripMargin,
    "q50_history_ops" ->
      """SELECT o_orderkey AS _id, CAST(3 AS BIGINT) AS n_versions, true AS in_window
        |FROM orders WHERE o_orderkey % 388 = 0
        |ORDER BY _id""".stripMargin,
    "q55_restore" ->
      """WITH s AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS prio FROM orders WHERE o_orderkey % 1940 = 0),
        |d AS (SELECT id FROM s ORDER BY id LIMIT 3),
        |r AS (SELECT id FROM d ORDER BY id LIMIT 2)
        |SELECT s.id AS _id,
        |       CASE WHEN s.id IN (SELECT id FROM r) THEN 'carol' ELSE 'alice' END AS mod_user,
        |       CAST(CASE WHEN s.id IN (SELECT id FROM r) THEN 3 ELSE 1 END AS BIGINT) AS n_versions,
        |       prio AS v1_title,
        |       CASE WHEN s.id IN (SELECT id FROM r) THEN 'restored' ELSE 'commit' END AS last_action,
        |       CASE WHEN s.id IN (SELECT id FROM r) THEN 'carol' ELSE NULL END AS restored_user,
        |       CASE WHEN s.id IN (SELECT id FROM r) THEN 'delete,restore' ELSE NULL END AS actions_csv,
        |       CASE WHEN s.id = (SELECT min(id) FROM s) THEN prio ELSE NULL END AS revert_title
        |FROM s
        |WHERE s.id NOT IN (SELECT id FROM d) OR s.id IN (SELECT id FROM r)
        |ORDER BY _id""".stripMargin,
    "q84_file_commit" ->
      """WITH f AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS id_value,
        |         md5('file-' || o_orderkey || '-' || o_orderpriority) AS checksum
        |  FROM orders WHERE o_orderkey % 485 = 0),
        |low AS (SELECT checksum FROM f ORDER BY checksum LIMIT 2)
        |SELECT id_value, checksum,
        |  CASE WHEN checksum IN (SELECT checksum FROM low)
        |       THEN 'edited' ELSE 'gate' END AS source
        |FROM f ORDER BY id_value""".stripMargin,
    "q40_file_import" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS id_value,
        |       md5('file-' || o_orderkey || '-' || o_orderpriority) AS checksum,
        |       CAST(length('file-' || o_orderkey || '-' || o_orderpriority) AS BIGINT) AS size,
        |       CAST(1577836800 AS BIGINT) AS ts_epoch
        |FROM orders WHERE o_orderkey % 485 = 0
        |ORDER BY id_value""".stripMargin)
}
