package graft.store

import graft.spark.{AuthOps, DerivedColumns, MarcContext, MarcRow, MarcSchema}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch storage layer: the Spark-native shape of the reference's
  * write path (Marc.commit / delete / restore / history / id counters,
  * dlx/marc/__init__.py:856-1310; SURVEY §3 EP3).
  *
  * Layout (designed for 100 TB — see SCALING.md). Each table is a
  * [[BucketTable]], which owns its read plan and its crash-safe
  * stage → journal → rename commit:
  *  - live tables are parquet partitioned by `id_bucket`
  *    (pmod(_id, numBuckets)): a commit rewrites ONLY the buckets its
  *    batch touches (staged, then swapped in by rename), so what a
  *    commit WRITES is O(touched buckets), never O(table); what it
  *    reads is not: the prev-audit join reads every live row and the
  *    version count the whole history table;
  *  - history is append-only: each commit/delete adds one row per
  *    version, staged next to the buckets and promoted under the same
  *    swap journal — no rewrite amplification; version numbers come
  *    from a read-only count over the batch's ids;
  *  - a read plan lists the table's files on the driver and carries
  *    the schema the store writes ([[StoreTables]]): building it starts
  *    no Spark job.
  *
  * One commit batch = one deterministic job:
  *   0. derive `text`/`words`/`logical` from the datafields
  *      ([[DerivedColumns]]), whatever the caller's batch carried,
  *   1. assign ids to new records (max_id + dense zipWithIndex — the
  *      batch form of the reference's $inc counter; no global window,
  *      no single-task funnel),
  *   2. auth-validate (reference defaults auth_check=True),
  *   3. rewrite the touched live buckets (the batch's row replaces
  *      the live row of each _id),
  *   4. append one history row per version,
  *   5. for auth commits whose heading changed: cascade to attached
  *      bibs (retag / drop / add / refresh values) and re-commit them,
  *      exactly the reference's update_attached_records default.
  *
  * This class keeps the record semantics: audit columns, validation,
  * versioned history rows, the cascade, merge, delete and restore.
  */
final class MarcStore(spark: SparkSession, basePath: String, numBuckets: Int = 64,
    lockWaitMs: Long = 600000L, maxChangedAuths: Int = 100000) {
  import spark.implicits._
  import MarcSchema.marcRowEncoder

  private val canonicalCols = Seq("record_type", "_id", "created", "updated",
    "created_user", "user", "basket", "leader", "controlfields", "datafields",
    "text", "words", "logical")

  private def bucketOf: Column = pmod(col("_id"), lit(numBuckets.toLong))

  private val tables = scala.collection.mutable.Map.empty[String, BucketTable]

  private def table(name: String)(make: String => BucketTable): BucketTable = synchronized {
    tables.getOrElseUpdate(name, make(s"$basePath/$name"))
  }

  /** A record type's live table, with its history table committed
    * under the same journal. An auth write swaps the heading dimension:
    * the old generation's is unpersisted before `refreshByPath`, which
    * would otherwise re-list and recache it, and the new generation's
    * registered after it (lazy: no job). */
  private def live(rt: String): BucketTable = table(s"${rt}s") { path =>
    if (rt == "auth")
      new BucketTable(spark, path, emptyLive, Some(history(rt)),
        refresh => { dropHeadings(); refresh(); liveAuthHeadings })
    else new BucketTable(spark, path, emptyLive, Some(history(rt)))
  }

  private def emptyLive: DataFrame =
    spark.emptyDataset[MarcRow].toDF().withColumn("id_bucket", lit(0L)).limit(0)

  private def history(rt: String): BucketTable = table(s"${rt}_history") { path =>
    new BucketTable(spark, path, spark.emptyDataset[MarcRow].toDF()
      .withColumn("version_no", lit(0L))
      .withColumn("action", lit(""))
      .limit(0))
  }

  /** live table with the physical id_bucket column (partition pruning
    * happens on filters against it); package-visible for the read
    * parity spec. */
  private[graft] def readRaw(recordType: String): DataFrame = live(recordType).read

  def read(recordType: String): Dataset[MarcRow] =
    readRaw(recordType).select(canonicalCols.map(col): _*).as[MarcRow]

  def readHistory(recordType: String): DataFrame = history(recordType).read

  /** max _id over live ∪ history (reference Marc.max_id,
    * dlx/marc/__init__.py:474-483). */
  def maxId(recordType: String): Long = {
    val live = read(recordType).select(col("_id"))
    val hist = readHistory(recordType).select(col("_id"))
    live.union(hist).agg(max("_id")).head().getAs[Any](0) match {
      case null => 0L
      case l: Long => l
      case other => other.toString.toLong
    }
  }

  /** ids for new records: max_id + dense per-partition assignment
    * (reference _increment_ids, dlx/marc/__init__.py:457-472, batch
    * form). zipWithIndex keeps ids dense max+1..max+n without routing
    * the batch through a single window task. */
  def assignIds(recs: Dataset[MarcRow]): Dataset[MarcRow] = {
    val first = recs.limit(1).collect()
    if (first.isEmpty) recs
    else assignIds(recs, first.head.record_type, needCount = -1L)
  }

  /** needCount: how many rows carry _id = -1 (from the commit stats
    * aggregate); -1 = unknown, probe. */
  private def assignIds(recs: Dataset[MarcRow], rt: String, needCount: Long): Dataset[MarcRow] = {
    if (needCount == 0L) return recs
    val needIds = recs.filter(col("_id") === -1L)
    if (needCount < 0L && needIds.isEmpty) return recs
    val start = maxId(rt)
    val assigned = spark.createDataset(
      needIds.rdd.zipWithIndex().map { case (r, i) => r.copy(_id = start + i + 1) })
    recs.filter(col("_id") =!= -1L).unionByName(assigned)
  }

  // The live-auth heading dimension: exactly one, the current auth
  // table generation's, persisted. The auth table's refresh hook (see
  // `live`) swaps it at every auth write; the persist is lazy, so its
  // first reader materializes it — after a heading change that is the
  // cascade's refresh collect, inside the write. Validation and merge read it here; the compiler's
  // `headings`, AuthOps.partialLookup, resolveLinkedAuto and
  // InitIndexes build the same plan over `read("auth")`, so Spark's
  // cache manager hands them this copy. The generation check covers a
  // write by another store instance on the same path.
  private var headings: Option[(Long, DataFrame)] = None

  private def liveAuthHeadings: DataFrame = synchronized {
    val gen = live("auth").generation
    headings match {
      case Some((g, df)) if g == gen => df
      case _ =>
        dropHeadings()
        val df = MarcContext.authHeadings(read("auth").toDF()).persist()
        headings = Some(gen -> df)
        df
    }
  }

  private def dropHeadings(): Unit = synchronized {
    headings.foreach(_._2.unpersist())
    headings = None
  }

  private def controlledKeysOf(rt: String): Seq[String] =
    graft.config.DlxConfig.authorityControlled(rt)
      .flatMap { case (tag, codes) => codes.keys.map(c => s"$tag|$c") }.toSeq

  /** The three violation-class EXISTENCE probes as aggregate columns
    * over the raw batch (round 14, guide §1.2 "one job answers every
    * batch question"): two of auth validation's three rules — stray
    * xref on an uncontrolled subfield, missing xref on a controlled
    * one — are per-row predicates, and the third (controlled xref must
    * resolve) only needs the auth-store join when a controlled xref
    * EXISTS in the batch. Folding the probes into the commit's stats
    * aggregate lets the (overwhelmingly common) xref-free batch skip
    * the separate validation job entirely, with bit-identical
    * outcomes: the full pipeline still runs — for its sample row —
    * whenever a probe fires. Null tags/codes make `ckey` null and the
    * coalesce drops them, exactly as authValidate's `where` does. */
  private def violationProbeCols: Seq[Column] = {
    val ck = when(col("record_type") === "auth",
      typedLit(controlledKeysOf("auth"))).otherwise(typedLit(controlledKeysOf("bib")))
    def ckey(f: Column, s: Column) =
      concat(f.getField("tag"), lit("|"), s.getField("code"))
    def anySub(name: String)(p: (Column, Column) => Column): Column =
      max(when(exists(col("datafields"), f =>
        exists(f.getField("subfields"),
          s => coalesce(p(f, s), lit(false)))), 1L).otherwise(0L)).as(name)
    Seq(
      anySub("v_stray")((f, s) =>
        s.getField("xref").isNotNull && !array_contains(ck, ckey(f, s))),
      anySub("v_missing")((f, s) =>
        s.getField("xref").isNull && array_contains(ck, ckey(f, s))),
      anySub("v_ctrl_xref")((f, s) =>
        s.getField("xref").isNotNull && array_contains(ck, ckey(f, s))))
  }

  /** Commit-time auth validation (reference auth_validate,
    * dlx/marc/__init__.py:890-904): controlled subfields must carry a
    * resolvable xref; uncontrolled subfields must not carry one. One
    * join job against the heading dimension. `allRules = false` checks
    * resolvability only — for a batch the probe already proved free of
    * stray/missing-xref violations. */
  private def authValidate(recs: Dataset[MarcRow], rt: String, allRules: Boolean): Unit = {
    val controlledKeys = controlledKeysOf(rt)
    val subs = recs.toDF()
      .select(col("_id"), explode(col("datafields")).as("f"))
      .select(col("_id"), col("f.tag").as("tag"), explode(col("f.subfields")).as("s"))
      .select(col("_id"), col("tag"), col("s.code").as("code"), col("s.xref").as("xref"))
    val isControlled = concat(col("tag"), lit("|"), col("code")).isin(controlledKeys: _*)
    def badXref = subs.where(isControlled && col("xref").isNotNull)
      .join(liveAuthHeadings.select(col("xref").as("h_xref"), col("code").as("h_code")),
        col("xref") === col("h_xref") && col("code") === col("h_code"), "left_anti")
    val violations =
      if (!allRules) badXref
      else {
        val stray = subs.where(!isControlled && col("xref").isNotNull)
        // no controlled tags for this record type (the auth config
        // here) -> nothing can reference a heading, so skip the
        // auth-store scan entirely; only the stray-xref rule can fire
        if (controlledKeys.isEmpty) stray
        else stray.unionByName(subs.where(isControlled && col("xref").isNull))
          .unionByName(badXref)
      }
    // ONE deterministic job for the (overwhelmingly common) all-valid
    // case: a full count scans exactly what an early-exit limit(1)
    // would have scanned when it finds nothing, without the limit's
    // incremental partition waves (each wave = a job launch). The
    // sample fetch for the error message only runs on the rare
    // violation path.
    if (violations.count() > 0L) {
      val r = violations.limit(1).collect().head
      throw new IllegalArgumentException(
        s"Auth validation failed for $rt ${r.getAs[Long]("_id")} " +
          s"${r.getAs[String]("tag")}$$${r.getAs[String]("code")} xref=${r.getAs[Any]("xref")}")
    }
  }

  /** Upsert a batch: keep the incoming row for each _id, keep
    * untouched rows, stamp audit columns, append history. Defaults
    * mirror the reference (dlx/marc/__init__.py:857): auth_check on,
    * update_attached on.
    *
    * The batch holds ONE record type and each existing `_id` at most
    * once (rows with `_id` -1 are new records and get fresh ids); a
    * batch that mixes record types or repeats an `_id` is refused with
    * an IllegalArgumentException before anything is written. The
    * reference commits one record at a time, so a repeat has no single
    * meaning: commit the repeats in separate batches, in order. */
  def commit(recs: Dataset[MarcRow], user: String,
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.now()),
      authCheck: Boolean = true, updateAttached: Boolean = true,
      action: String = "commit"): Unit = StoreLock.withLock(basePath, lockWaitMs) {
    recoverAllStaging() // BEFORE any plan reads the tables (r11 review)
    // derive, then pin the batch ONCE before anything reads it (so the
    // derivation stays out of the write's stages, whose generated code
    // changes with every commit's `now`): the stats
    // aggregate, validation, and the write path otherwise each
    // re-evaluate the caller's construction lineage (a MARC build is
    // typically scans + joins + struct transforms — the round-8 store
    // profile measured that re-evaluation as the single largest share
    // of commit wall). LAZY: the stats job right below computes every
    // partition and materializes the blocks as a side effect.
    val recsCk = DerivedColumns.derive(recs).localCheckpoint(false)
    // ONE job answers "empty?", "which record type?", "how many rows
    // need ids?" AND "which buckets does the batch touch?" (each was
    // its own action before). The touched set is only authoritative
    // when no row needs an id — fresh ids land in buckets this
    // aggregate cannot see, so that path falls back to a post-
    // assignment collect.
    val baseCols = Seq(
      min(col("record_type")).as("rt"),
      max(col("record_type")).as("rt_max"),
      count(when(col("_id") === -1L, lit(1))).as("need_ids"),
      size(collect_set(when(col("_id") =!= -1L, col("_id")))).as("distinct_ids"),
      collect_set(bucketOf).as("buckets")) ++
      (if (authCheck) violationProbeCols else Seq.empty)
    val stats = recsCk.toDF().agg(count(lit(1)).as("n"), baseCols: _*).head()
    if (stats.getAs[Long]("n") == 0L) return
    val rt = stats.getAs[String]("rt")
    // the batch is written to ONE table and validated under ONE record
    // type's rules, so a mixed batch is refused before anything runs
    if (rt != stats.getAs[String]("rt_max"))
      throw new IllegalArgumentException(
        s"Commit batch mixes record types ($rt, ${stats.getAs[String]("rt_max")}): " +
          "commit each record type separately")
    val needIds = stats.getAs[Long]("need_ids")
    // a repeated _id would fan the prev-audit join out into several
    // live rows with equal version numbers
    if (stats.getAs[Int]("distinct_ids") != stats.getAs[Long]("n") - needIds)
      throw new IllegalArgumentException(
        s"Commit batch repeats a $rt _id: commit each record once per batch")
    if (authCheck) {
      // probe-directed (round 14): a batch with no violation candidates
      // at all skips the validation job; a clean-but-xref-carrying
      // batch pays only the resolvability anti-join; any local
      // violation runs the full pipeline for its sample row (throws).
      if (stats.getAs[Long]("v_stray") == 1L || stats.getAs[Long]("v_missing") == 1L)
        authValidate(recsCk, rt, allRules = true)
      else if (stats.getAs[Long]("v_ctrl_xref") == 1L)
        authValidate(recsCk, rt, allRules = false)
    }
    val incomingRaw = assignIds(recsCk, rt, needIds)
    val knownTouched =
      if (needIds == 0L) Some(stats.getSeq[Long](stats.fieldIndex("buckets"))) else None
    commitPrepared(incomingRaw, user, now, rt, updateAttached, knownTouched, action)
  }

  /** Write path for a batch whose record type is known, ids are
    * assigned and validation (if any) has run — commit() proper, and
    * the cascade's re-commit entry point (which would otherwise pay a
    * full extra evaluation of the refresh pipeline just to recount the
    * batch). */
  private def commitPrepared(incomingRaw: Dataset[MarcRow], user: String,
      now: java.sql.Timestamp, rt: String, updateAttached: Boolean,
      knownTouched: Option[Seq[Long]] = None, action: String = "commit"): Unit = {
    // audit columns: preserve created/created_user from previous state
    val prev = read(rt).select(col("_id").as("p_id"), col("created").as("p_created"),
      col("created_user").as("p_created_user"))
    val incoming = incomingRaw.toDF()
      .join(prev, incomingRaw("_id") === prev("p_id"), "left")
      .withColumn("created", coalesce(col("p_created"), lit(now)))
      .withColumn("created_user", coalesce(col("p_created_user"), lit(user)))
      .withColumn("updated", lit(now))
      .withColumn("user", lit(user))
      .drop("p_id", "p_created", "p_created_user")
      .select(canonicalCols.map(col): _*)
      .as[MarcRow]
      // cut lineage: the plan must not re-read the live table after
      // the bucket overwrite below replaces its files. LAZY checkpoint:
      // the first action (the heading collect on the auth path, the
      // touched-bucket collect on the fallback path, or the staging
      // write itself — which completes before any rename) materializes
      // it — still strictly before the swap — without a dedicated pass.
      .localCheckpoint(false)

    // heading-change dimension for the attached-record cascade: OLD
    // (live heading the batch replaces) vs NEW (the batch's heading)
    // compared PER AUTH in one distributed job, read strictly before
    // the write. The driver materialization is CAPPED (round-11
    // verdict #1 — the write-path sibling of the query compiler's
    // maxResolvedXrefs): up to `maxChangedAuths` change rows collect
    // and the cascade runs the reference-shaped driver path (INSET
    // attach scan + broadcast struct-change map); past the cap — a
    // bulk re-heading, e.g. a vocabulary migration — the change frame
    // stays a DataFrame (localCheckpoint'd eagerly, still strictly
    // before the swap) and the cascade runs as joins end-to-end.
    val pendingCascade: Option[Either[Array[org.apache.spark.sql.Row], DataFrame]] =
      if (rt == "auth" && updateAttached) {
        val changes = headingChanges(incoming.toDF())
        val head = changes.limit(maxChangedAuths + 1).collect()
        if (head.length <= maxChangedAuths) Some(Left(head))
        else Some(Right(changes.localCheckpoint(true)))
      } else None

    live(rt).upsert(incoming.toDF(), bucketOf, knownTouched,
      Some(versionedHistory(incoming.toDF(), rt, action, now)))

    pendingCascade match {
      case Some(Left(rows)) if rows.nonEmpty => cascadeToAttached(rows, user, now)
      case Some(Right(changes)) => cascadeToAttachedDistributed(changes, user, now)
      case _ => ()
    }
  }

  /** Per-auth heading delta between the live rows a batch replaces and
    * the batch itself: one row per CHANGED auth —
    * (xref, new_suffix when the heading tag moved, removed codes,
    * added codes; value-only changes carry null/empty struct columns).
    * Heading = the first 1XX field's non-null-value (code, value)
    * pairs in document order, the same shape MarcContext.authHeadings
    * derives. New auths (no live row) and auths without a heading
    * field produce no row — nothing is attached to them yet. */
  private def headingChanges(incoming: DataFrame): DataFrame = {
    def headingOf(df: DataFrame): DataFrame =
      df.select(col("_id").as("xref"), MarcContext.headingField.as("hf"))
        .where(col("hf").isNotNull)
        .select(col("xref"), col("hf.tag").as("htag"),
          transform(filter(col("hf.subfields"), s => s.getField("value").isNotNull),
            s => struct(s.getField("code").as("code"), s.getField("value").as("value"))).as("pairs"))
    val old = headingOf(read("auth").toDF()
        .join(incoming.select(col("_id").as("i_id")), col("_id") === col("i_id"), "left_semi"))
      .select(col("xref"), col("htag").as("o_htag"), col("pairs").as("o_pairs"))
    val neu = headingOf(incoming)
    val newCodes = transform(col("pairs"), p => p.getField("code"))
    val oldCodes = transform(col("o_pairs"), p => p.getField("code"))
    neu.join(old, "xref")
      .where(col("htag") =!= col("o_htag") || col("pairs") =!= col("o_pairs"))
      .select(col("xref"),
        when(col("htag") =!= col("o_htag"), substring(col("htag"), 2, 10)).as("new_suffix"),
        filter(oldCodes, c => !array_contains(newCodes, c)).as("removed"),
        filter(newCodes, c => !array_contains(oldCodes, c)).as("added"))
  }

  /** Finish or roll back EVERY dangling swap under this base. Runs at
    * store open AND at the start of every write entry point (commit /
    * delete / restore / merge), under the store lock in both cases:
    * recovering only inside the swap is too late for a SAME-INSTANCE
    * retry — by then the retry's read plans (prev-audit join, survivors
    * scan, history version counts) were already built against the
    * pre-recovery file listing, so the retry could duplicate version
    * numbers and silently revert the recovered commit's rows in the
    * buckets it touches. Recovery must precede ANY plan construction of
    * a write. `<rt>_history_staging` recovers through `<rt>s`. */
  private def recoverAllStaging(): Unit = BucketTable.recoverAll(basePath) { name =>
    live(if (name.endsWith("_history")) name.stripSuffix("_history") else name.stripSuffix("s"))
  }

  // store open: finish or roll back any swap a dead writer left behind
  // (under the store lock, so an ACTIVE writer's staging is never
  // mistaken for a dangling one — its lock is held across the swap),
  // then register the heading dimension of the auth table as found
  StoreLock.withLock(basePath, lockWaitMs) { recoverAllStaging() }
  liveAuthHeadings

  // ---- attach scans, both regimes (exposed package-private for the
  // q201 plan pin in tools.ExplainCheck)

  /** Attached bibs via a driver in-list — the under-cap regime. */
  private[graft] def attachedBibsInList(changedIds: Seq[Long]): DataFrame =
    read("bib").toDF()
      .where(exists(col("datafields"), f =>
        exists(f.getField("subfields"), s => s.getField("xref").isin(changedIds: _*))))

  /** Attached bibs via a distributed flag join against the changed-auth
    * frame (`xref` column) — the over-cap regime ([[AuthOps.attachedJoined]]).
    * Never a driver materialization. */
  private[graft] def attachedBibsJoined(changes: DataFrame): DataFrame =
    AuthOps.attachedJoined(read("bib").toDF(), changes)

  /** The reference's update_attached_records default
    * (dlx/marc/__init__.py:1155-1232), UNDER-CAP regime: for every
    * committed auth whose heading changed (≤ maxChangedAuths of them,
    * collected as change rows), rewrite attached bibs — retag on
    * heading-tag change, drop/add subfields on code-set change,
    * refresh the materialized linked values — then re-commit them
    * (which appends their history versions). */
  private def cascadeToAttached(changeRows: Array[org.apache.spark.sql.Row],
      user: String, now: java.sql.Timestamp): Unit = {
    val changedIds = changeRows.map(_.getLong(0)).toSeq
    // no isEmpty pre-scan: an empty attached set costs nothing extra —
    // the re-commit's touched-bucket collect sees zero buckets and the
    // bucket swap + history append become no-ops
    // pinned once: the attach scan (bucket read + nested exists filter)
    // otherwise runs twice — for the update-log append below and again
    // for the cascade pipeline's own materialization
    val attached = attachedBibsInList(changedIds).localCheckpoint(false)
    // structural cascade for ALL changed auths in ONE keyed pass: the
    // per-auth projection fold this replaces chained a plan node per
    // changed heading (Catalyst blowup on bulk retag batches)
    val structChanges = changeRows.iterator.flatMap { r =>
      val sfx = Option(r.getString(1))
      val removed = r.getSeq[String](2)
      val added = r.getSeq[String](3)
      if (sfx.isEmpty && removed.isEmpty && added.isEmpty) None
      else Some(AuthOps.HeadingStructChange(r.getLong(0), sfx, removed, added))
    }.toSeq
    // the reference's auth_linked_update_log debug rows
    // (dlx/marc/__init__.py:1205): one row per (attached record,
    // triggering auth) pair. Appended BEFORE the re-commit so the scan
    // reads the same pre-swap files the cascade plan references.
    appendLog(authLinkedUpdateLogTable,
      attached.select(col("_id").as("record_id"),
          explode(array_distinct(flatten(transform(col("datafields"), f =>
            filter(transform(f.getField("subfields"), sf => sf.getField("xref")),
              x => x.isin(changedIds: _*)))))).as("triggered_by"))
        .distinct()
        .select(lit("bib").as("record_type"), col("record_id"),
          lit("updated").as("action"), col("triggered_by"), lit(now).as("time")))
    val restructured = AuthOps.cascadeHeadingChangesBulk(
      attached.select(canonicalCols.map(col): _*).as[MarcRow], structChanges)
    finishCascade(restructured, user, now)
  }

  /** OVER-CAP regime (round-11 verdict #1): the same cascade with the
    * change dimension kept distributed — attach scan by flag join,
    * update-log rows by join, struct changes JOINED per attached bib
    * (sorted change list per record) instead of a closure-captured
    * map. A 10⁶-auth re-heading batch runs with O(1) driver state. */
  private def cascadeToAttachedDistributed(changes: DataFrame,
      user: String, now: java.sql.Timestamp): Unit = {
    val attached = attachedBibsJoined(changes).localCheckpoint(false)
    appendLog(authLinkedUpdateLogTable,
      attached.select(col("_id").as("record_id"),
          explode(AuthOps.subfieldXrefs).as("triggered_by"))
        .join(changes.select(col("xref").as("triggered_by")), "triggered_by")
        .distinct()
        .select(lit("bib").as("record_type"), col("record_id"),
          lit("updated").as("action"), col("triggered_by"), lit(now).as("time")))
    val restructured = AuthOps.cascadeStructJoined(
      attached.select(canonicalCols.map(col): _*), changes)
    finishCascade(restructured, user, now)
  }

  /** Shared cascade tail: re-link the attached bibs against the NEW
    * heading state ([[AuthOps.relink]]), derive their text/words/logical
    * columns, and re-commit them. Ids are assigned and validation is
    * moot (only linked values changed), so they go straight to the
    * write path, pinned as commit() pins its batch: the pipeline runs
    * once, in a stage whose generated code does not change with `now`. */
  private def finishCascade(restructured: Dataset[MarcRow],
      user: String, now: java.sql.Timestamp): Unit =
    commitPrepared(DerivedColumns.derive(AuthOps.relink(restructured, read("auth").toDF()))
      .localCheckpoint(false), user, now, "bib", updateAttached = false)

  /** Append-only debug logs — the reference's `merge_log` and
    * `auth_linked_update_log` collections (dlx/marc/__init__.py:
    * 2148-2149, 1205). Plain parquet appends: no swap, O(rows
    * appended) per write, and the readers below union all appends. */
  private def appendLog(log: BucketTable, rows: DataFrame): Unit = {
    // coalesce bounds files-per-append without forcing a single-task
    // funnel: the two-row merge stamp stays one file, a bulk cascade
    // append (O(attached records)) still writes in parallel
    rows.coalesce(8).write.mode(SaveMode.Append).parquet(log.path)
    log.invalidate()
  }

  private def mergeLogTable = table("merge_log") { path =>
    new BucketTable(spark, path, Seq.empty[(String, Long, String, java.sql.Timestamp, String)]
      .toDF("record_type", "record_id", "action", "time", "user"))
  }

  private def authLinkedUpdateLogTable = table("auth_linked_update_log") { path =>
    new BucketTable(spark, path, Seq.empty[(String, Long, String, Long, java.sql.Timestamp)]
      .toDF("record_type", "record_id", "action", "triggered_by", "time"))
  }

  def mergeLog: DataFrame = mergeLogTable.read

  def authLinkedUpdateLog: DataFrame = authLinkedUpdateLogTable.read

  /** Auth.merge (dlx/marc/__init__.py:2143-2233): rewrite losing ->
    * gaining xrefs across every record type, re-link the rewritten
    * records through the cascade's tail ([[AuthOps.relink]]), stamp the
    * losing/gaining pair into merge_log, re-commit the records, then
    * delete the losing auth (the rewrite cleared every reference, so
    * the AuthInUse guard passes). A refused merge writes nothing. Only
    * records that actually reference the losing auth are re-committed
    * — O(attached), never O(table). */
  def merge(gaining: Long, losing: Long, user: String = "admin",
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.now()))
      : Unit = StoreLock.withLock(basePath, lockWaitMs) {
    recoverAllStaging() // the guards/rewrite below read both tables
    // guard BEFORE the merge_log stamp: gaining == losing would make
    // the xref rewrite a no-op, let the heading precondition pass
    // vacuously (losing's own heading carries the codes), and the
    // final guard-skipped delete would orphan every referencing
    // record's xref. Likewise a nonexistent gaining auth with a
    // reference-free losing auth would pass the (empty) code check.
    require(gaining != losing,
      s"Auth merge refused: gaining and losing are the same auth ($gaining)")
    require(!read("auth").where(col("_id") === gaining).isEmpty,
      s"Auth merge refused: gaining auth $gaining does not exist")
    // FUSED legs (round-8 store profile): one scan finds the
    // referencing records of BOTH types and the rewrite is pinned
    // once; the per-type commits below read the shared blocks. The
    // old shape ran the scan+rewrite lineage ~3x per leg (stats,
    // validate, write).
    val referencing = read("bib").toDF().unionByName(read("auth").toDF())
      .where(exists(col("datafields"), f =>
        exists(f.getField("subfields"), sf => sf.getField("xref") === losing)))
    val rewritten = AuthOps.relink(
        AuthOps.mergeAuthXrefs(referencing, losing, gaining).as[MarcRow], read("auth").toDF())
      .localCheckpoint(false)
    // Validation precondition instead of two full validate joins: live
    // records are valid by store invariant (every commit validates,
    // deletes refuse in-use auths), and the rewrite's ONLY new fact is
    // xref=gaining on subfields that were valid with xref=losing — so
    // the batch revalidates iff gaining's heading carries every code
    // now pointing at it. One tiny lookup against the cached heading
    // dimension (this job also materializes the shared checkpoint).
    val neededCodes = rewritten
      .select(explode(col("datafields")).as("f"))
      .select(explode(col("f.subfields")).as("s"))
      .where(col("s.xref") === gaining)
      .select(col("s.code")).distinct().collect().map(_.getString(0)).toSet
    val gainingCodes = liveAuthHeadings.where(col("xref") === gaining)
      .select(col("code")).collect().map(_.getString(0)).toSet
    val missing = neededCodes -- gainingCodes
    require(missing.isEmpty,
      s"Auth merge failed: gaining auth $gaining has no heading subfield(s) " +
        s"${missing.mkString(", ")} required by records referencing $losing")
    // the lock spans the whole stamp -> rewrite -> delete sequence
    // (re-entrant for the inner commits), so a concurrent writer can
    // never observe a half-merged store
    appendLog(mergeLogTable,
      Seq(("auth", losing, "losing"), ("auth", gaining, "gaining"))
        .toDF("record_type", "record_id", "action")
        .withColumn("time", lit(now)).withColumn("user", lit(user)))
    for (rt <- Seq("bib", "auth"))
      commit(rewritten.where(col("record_type") === rt), user = user, now = now, authCheck = false)
    // the in-use guard is PROVABLY satisfied here: the two re-commits
    // above rewrote every record whose any-field xref equaled `losing`
    // (the same predicate the guard's semi-join would probe), and the
    // spanning lock excludes concurrent writers — so skip the guard's
    // full bib∪auth heading explode instead of re-deriving an empty
    // set (round-8 store profile: the guard was the largest single
    // phase of the merge's delete leg)
    deleteImpl("auth", col("_id").isin(losing), user, now, checkInUse = false)
  }

  /** Delete ids; refuse when an auth is still referenced (AuthInUse
    * guard, dlx/marc/__init__.py:1243-1252). Bounded-id convenience
    * over the predicate overload — at scale, prefer
    * `delete(recordType, predicate)` so ids never round-trip through
    * the driver. */
  def delete(recordType: String, ids: Seq[Long], user: String = "admin",
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.now()))
      : Unit = delete(recordType, col("_id").isin(ids: _*), user, now)

  /** Delete BY PREDICATE — the 100 TB delete path: the doomed set
    * stays a DataFrame end-to-end (in-use guard = semi-join, history
    * marker = append of the filtered frame, bucket rewrite = anti
    * filter). The only driver materialization is the DISTINCT BUCKET
    * list, bounded by numBuckets regardless of how many records the
    * predicate matches. */
  def delete(recordType: String, predicate: Column, user: String,
      now: java.sql.Timestamp): Unit =
    deleteImpl(recordType, predicate, user, now, checkInUse = true)

  private def deleteImpl(recordType: String, predicate: Column, user: String,
      now: java.sql.Timestamp, checkInUse: Boolean): Unit =
      StoreLock.withLock(basePath, lockWaitMs) {
    recoverAllStaging() // BEFORE any plan reads the tables (r11 review)
    if (recordType == "auth" && checkInUse) {
      val doomedIds = read(recordType).toDF().where(predicate)
        .select(col("_id").as("del_id"))
      val inUse = MarcContext.authUseCounts(read("bib").toDF().unionByName(read("auth").toDF()))
        .join(doomedIds, col("xref") === col("del_id"), "left_semi")
        .count()
      require(inUse == 0, s"Auth record(s) in use: cannot delete")
    }
    // bounded by numBuckets (64), never by match count
    val buckets = read(recordType).toDF().where(predicate)
      .select(bucketOf.as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // stamp the deletion time on the history marker (reference records
    // deleted.user/time, dlx/marc/__init__.py:1288-1308). The marker
    // frame reads the live bucket files; the swap stages it (one
    // read, strictly before any rename) and promotes it under the same
    // journal as the bucket swap — the 'deleted' version row and the
    // live-row removal are all-or-nothing.
    val deleted = read(recordType).toDF().where(predicate)
      .withColumn("updated", lit(now))
      // the DELETING user, not the last committer (reference stamps
      // deleted.user, dlx/marc/__init__.py:1236,1300)
      .withColumn("user", lit(user))
    // NULL-predicate rows are NOT deleted (where() drops them from the
    // doomed set), so they must stay in the survivors: coalesce, or
    // `!NULL` would silently drop them from the rewrite
    val survivors = readRaw(recordType)
      .where(col("id_bucket").isin(buckets: _*) && !coalesce(predicate, lit(false)))
    // a bucket whose rows were all deleted has no staging dir and
    // the swap removes it outright
    live(recordType).swap(survivors, buckets,
      Some(versionedHistory(deleted, recordType, "deleted", now)))
  }

  /** Recreate the last history version of a deleted record
    * (Marc.restore, dlx/marc/__init__.py:581-590). The history row the
    * re-commit appends is stamped action='restored' with the RESTORING
    * user — the reference's `restored: {user, time}` marker plus its
    * `actions` 'restore' entry (dlx/marc/__init__.py:2327-2332), both
    * of which the row-per-version history carries in one row. */
  def restore(recordType: String, id: Long, user: String): Unit =
      StoreLock.withLock(basePath, lockWaitMs) {
    recoverAllStaging() // the history read below must see recovered files
    // lock held across read-history + re-commit (re-entrant for the
    // inner commit), so the version it restores cannot be swapped out
    // from under it
    // ONE bounded collect (the API is per-id, so the row count is 1 by
    // contract) instead of checkpoint + isEmpty + a distributed re-read
    // of the row through the commit pipeline: the commit below then
    // runs its stats/prev-join/staging plans over a LocalRelation —
    // same protocol, ~3 fewer jobs per restore (round 13, guide §5:
    // bounded driver state is the exception to "no driver data work")
    val rows = readHistory(recordType).where(col("_id") === id)
      .orderBy(col("version_no").desc).limit(1)
      .drop("version_no", "action")
      .select(canonicalCols.map(col): _*)
      .as[MarcRow].collect()
    require(rows.nonEmpty, s"History for $recordType $id not found")
    commit(spark.createDataset(rows.toIndexedSeq), user,
      authCheck = false, action = "restored")
  }

  /** Reference `actions` audit list (dlx/marc/__init__.py:1301-1303,
    * 2327-2332): per record, the delete/restore events in version
    * order, under the reference's type vocabulary. Derived view — the
    * row-per-version history IS the append-only audit log. */
  def actionsAudit(recordType: String): DataFrame =
    readHistory(recordType)
      .withColumn("type",
        when(col("action") === "deleted", lit("delete"))
          .when(col("action") === "restored", lit("restore")))
      .where(col("type").isNotNull)
      .groupBy("_id")
      .agg(sort_array(collect_list(struct(col("version_no"), col("type"),
        col("user"), col("updated").as("time")))).as("actions"))

  /** History.from_query analog (dlx/marc/__init__.py:2345-2354): run
    * a search-string query against the version records. */
  def queryHistory(recordType: String, query: String): DataFrame = {
    val hist = readHistory(recordType)
    val compiler = new graft.spark.SparkQueryCompiler(spark,
      hist.drop("version_no", "action"), read("auth").toDF())
    // filterFrame, not compile: over-cap xref resolutions degrade to a
    // distributed flag join keyed on the version-unique tuple
    compiler.filterFrame(hist, graft.query.QueryParser.parse(query, recordType),
      keys = Seq("_id", "version_no"))
  }

  /** Deleted record ids matching a query (History.find_deleted). */
  def findDeleted(recordType: String, query: String): DataFrame =
    queryHistory(recordType, query).where(col("action") === "deleted").select("_id").distinct()

  /** Deleted record ids in a time window (History.deleted_by_date). */
  def deletedByDate(recordType: String, from: java.time.Instant, to: java.time.Instant): DataFrame =
    readHistory(recordType)
      .where(col("action") === "deleted" &&
        col("updated") >= lit(java.sql.Timestamp.from(from)) &&
        col("updated") < lit(java.sql.Timestamp.from(to)))
      .select("_id").distinct()

  /** Record state at a given version (1-based, oldest first) — the
    * reference's in-memory Marc.revert (dlx/marc/__init__.py:1349-1366)
    * as a history read. */
  def revert(recordType: String, id: Long, version: Long): MarcRow = {
    val rows = readHistory(recordType)
      .where(col("_id") === id && col("version_no") === version)
      .drop("version_no", "action")
      .select(canonicalCols.map(col): _*)
      .as[MarcRow].collect()
    require(rows.nonEmpty, s"History version $version of $recordType $id does not exist")
    rows.head
  }

  /** One row per version, APPENDED — never a table rewrite. The
    * version number is prior-count + 1, computed from a read-only
    * aggregate restricted (semi-join) to the batch's ids. The frame is
    * consumed by [[BucketTable.swap]], which stages it next to the bucket
    * staging and promotes the files under the same commit journal —
    * live rows and their version rows are all-or-nothing. */
  private def versionedHistory(batch: DataFrame, recordType: String,
      action: String, now: java.sql.Timestamp): DataFrame = {
    val existing = readHistory(recordType)
    val ids = batch.select(col("_id").as("h_id")).distinct()
    val counts = existing
      .join(broadcast(ids), col("_id") === col("h_id"), "left_semi")
      .groupBy(col("_id").as("h_id")).agg(count(lit(1)).as("prev_versions"))
    batch
      .join(counts, batch("_id") === counts("h_id"), "left")
      .withColumn("version_no", coalesce(col("prev_versions"), lit(0L)) + 1)
      .withColumn("action", lit(action))
      .drop("h_id", "prev_versions")
  }
}

/** Cross-writer exclusion for one store path. The staging-dir swap
  * assumes a single writer: two concurrent writers on one path could
  * interleave `_staging` writes and lose rows silently. Every write
  * entry point (MarcStore.commit/delete/restore, FileStore.upsert)
  * therefore holds an exclusive lock for its whole read-modify-swap
  * critical section:
  *   - in-process: a per-canonical-path ReentrantLock with a bounded
  *     wait (re-entrant, so restore's inner commit nests cleanly);
  *   - cross-process: an OS file lock on `<base>/.graft_lock`
  *     (FileChannel.tryLock) acquired with bounded retry.
  * A writer that cannot acquire within `waitMs` throws
  * IllegalStateException — loud, never corrupt.
  *
  * CONTRACT for URI-scheme paths (hdfs://, s3a://, …): the OS file
  * lock tier DOES NOT EXIST there (no POSIX advisory locks on object
  * stores; HDFS has no native file locking either), so writers on a
  * URI path serialize IN-PROCESS ONLY. Two drivers writing one URI
  * store path can interleave the staging-swap protocol with no
  * fencing and lose rows silently. A deployment with more than one
  * driver per store path MUST fence externally — a coordination
  * service (ZooKeeper/etcd lease), a scheduler that serializes the
  * jobs, or a Hive/metastore-style lock — before calling any write
  * entry point. The single-driver batch contract needs nothing. To
  * make the bypass impossible to miss, the FIRST outermost
  * acquisition of each URI path logs one WARN naming the path and
  * this requirement (round-13 verdict #3). */
object StoreLock {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.store.StoreLock")
  private val warnedUriKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Number of distinct URI-scheme store paths that have taken the
    * in-process-only lock branch (test hook for the once-only WARN). */
  private[graft] def uriWarnCount: Int = warnedUriKeys.size
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def keyOf(path: String): String =
    if (path.contains("://")) path
    else try new java.io.File(path).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(path).getAbsolutePath }

  def withLock[A](basePath: String, waitMs: Long)(f: => A): A = {
    val key = keyOf(basePath)
    val jvm = jvmLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!jvm.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"Another writer holds the store lock for $key (waited $waitMs ms)")
    try {
      if (jvm.getHoldCount > 1 || key.contains("://")) {
        // URI-scheme path: no OS file-lock tier exists — say so ONCE
        // per path, loudly, instead of silently fencing nothing
        if (key.contains("://") && jvm.getHoldCount == 1 && warnedUriKeys.add(key))
          log.warn(s"store path '$key' is a URI scheme: cross-PROCESS write " +
            "locking is unavailable there (in-process serialization only). " +
            "Multiple drivers writing this path MUST be fenced externally " +
            "(coordination service or serialized scheduling) — see StoreLock's contract.")
        f
      } else {
        new java.io.File(key).mkdirs()
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(key, ".graft_lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val deadline = System.nanoTime() + waitMs * 1000000L
          var lock: java.nio.channels.FileLock = null
          var waited = false
          while (lock == null) {
            if (waited) Thread.sleep(50L)
            waited = true
            lock =
              try ch.tryLock()
              catch { case _: java.nio.channels.OverlappingFileLockException => null }
            if (lock == null && System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"Another process holds the store lock for $key (waited $waitMs ms)")
          }
          try f finally lock.release()
        } finally ch.close()
      }
    } finally jvm.unlock()
  }
}
