package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One store table directory: its read plan per write generation and
  * the crash-safe commit that replaces its `id_bucket` partitions —
  * the batch stand-in for the reference's atomic document update.
  * MarcStore's live tables (each with its history table as
  * `history`, an append-only table whose new rows commit under the
  * same journal) and FileStore's file table all commit through here.
  *
  * Reads: one DataFrame per table GENERATION, reused by every read of
  * the unchanged table until its next write. Building it lists the
  * table's files on the driver ([[StoreTables.read]]), so a fresh
  * generation costs a directory walk, not a Spark job. The generation
  * counter is JVM-wide, so every store instance on the same path sees
  * the invalidation (writes from OUTSIDE the JVM are out of scope —
  * the store is the table's writer). `empty` is the plan of a table
  * with no data file and supplies the schema the store writes.
  *
  * Writes: stage → journal → rename. The replacement buckets AND the
  * commit's history rows are both staged (`<table>_staging/
  * id_bucket=N`, `<history>_staging/`), then ONE journal
  * (`<table>_staging/_commit_journal`: a "bucket,hasData" line per
  * touched bucket, plus a trailing "history,1" line when history rows
  * were staged) is written — to a temp name, fsync'd and atomically
  * renamed into place, so a torn write can never present as a
  * complete journal — and only then do the per-bucket renames and
  * the history-file promotion start. [[recover]] — run at store open
  * (under the store lock) and before every write — has an unambiguous
  * rule: journal ABSENT or unparseable → the crash predates any
  * rename, roll BACK (drop both stagings; table and history are
  * untouched); journal PRESENT → staging is complete, roll FORWARD
  * (idempotently finish the renames — a bucket whose staged dir is
  * gone was already moved — and promote any still-staged history
  * files). A reader through a recovered store therefore sees the OLD
  * (buckets, history) pair or the NEW one, never a mix. Gated by q199,
  * StoreStress crash mode, StoreCrashSpec and FileStoreSpec at every
  * [[BucketTable.failpoint]].
  *
  * Protocol invariants:
  *  - a malformed OR entry-less journal reads as ABSENT (roll back):
  *    every writer emits at least one line, so an empty file can only
  *    be torn-write debris;
  *  - roll-forward creates the table dir before renaming staged
  *    buckets into it — a FRESH store whose very first commit crashed
  *    post-journal must recover to the new state, not fail the rename
  *    forever.
  *
  * DURABILITY BOUNDARY: the journal file itself is fsync'd (data +
  * directory entry), so crash-atomicity is EXACT for process death —
  * the journal decides roll-forward vs roll-back, and the staged
  * parquet files a roll-forward promotes were fully written before the
  * journal write began. The staged parquet FILES, however, are written
  * by Spark's normal output commit without an explicit per-file fsync
  * pass, so against OS/power loss the guarantee is the same as any
  * Spark FileOutputCommitter output: the rename-visible file set is
  * consistent, but very recent page-cache contents of staged files
  * could be lost with the journal surviving — in which case recovery
  * promotes a bucket whose parquet footer fails validation LOUDLY on
  * first read (parquet is self-checking), never silently. A
  * power-loss-paranoid deployment mounts the store on a filesystem
  * with ordered journaling (data=ordered ext4 / xfs default, which
  * flushes file data before the rename commits) or fsyncs staged
  * files out-of-band; the engine deliberately does not pay an
  * fsync-per-parquet-file pass on every commit.
  *
  * Callers hold the store lock ([[StoreLock]]) around every write and
  * recovery: the protocol assumes a single writer per table.
  *
  * @param aroundRefresh wraps the `refreshByPath` that ends every
  *   write, for a store that keeps derived frames of this table
  *   persisted (MarcStore's heading dimension over the auth table)
  */
final class BucketTable(spark: SparkSession, val path: String, empty: => DataFrame,
    history: Option[BucketTable] = None,
    aroundRefresh: (() => Unit) => Unit = refresh => refresh()) {
  import BucketTable._

  private val staging = path + "_staging"
  private var cached: Option[(Long, DataFrame)] = None

  /** The table's write generation (JVM-wide). */
  def generation: Long = BucketTable.generation(path)

  /** The current generation's read plan, with the physical `id_bucket`
    * column of a bucketed table (partition pruning happens on filters
    * against it). */
  def read: DataFrame = synchronized {
    val gen = generation
    cached match {
      case Some((g, df)) if g == gen => df
      case _ =>
        val e = empty
        val df = StoreTables.read(spark, path, e.schema).getOrElse(e)
        cached = Some((gen, df))
        df
    }
  }

  /** Start a new generation after the table's files changed. */
  def invalidate(): Unit = {
    synchronized {
      bump(path)
      cached = None
    }
    aroundRefresh(() => spark.catalog.refreshByPath(path))
  }

  /** Upsert `batch` by `_id`: each bucket the batch touches is
    * rewritten as its surviving rows (those whose `_id` the batch does
    * not carry) plus the batch's rows, so write cost is O(touched
    * buckets), never O(table). `bucketOf` computes a row's bucket;
    * `touched`, when the caller already knows the batch's buckets,
    * saves their collect. `historyRows` commit with the buckets (see
    * [[swap]]). */
  def upsert(batch: DataFrame, bucketOf: Column, touched: Option[Seq[Long]] = None,
      historyRows: Option[DataFrame] = None): Unit = {
    recover() // BEFORE the survivors plan lists the table
    val withBucket = batch.withColumn("id_bucket", bucketOf)
    val buckets = touched.getOrElse(
      withBucket.select("id_bucket").distinct().collect().map(_.getLong(0)).toSeq)
    val survivors = read
      .where(col("id_bucket").isin(buckets: _*)) // partition-pruned scan
      .join(batch.select(col("_id").as("i_id")), col("_id") === col("i_id"), "left_anti")
      .select((batch.columns.toSeq :+ "id_bucket").map(col): _*)
    swap(survivors.unionByName(withBucket), buckets, historyRows)
  }

  /** Replace the `touched` buckets with `replacement`'s rows (a bucket
    * with no row is removed) and append `historyRows` to the history
    * table, all-or-nothing. The replacement is written ONCE to the
    * staging dir and the bucket dirs swap in by rename — the read of
    * the old bucket files completes before any of them is replaced.
    * (On a rename-less object store, dynamic partition overwrite of a
    * localCheckpoint'd plan is the drop-in alternative.) */
  def swap(replacement: DataFrame, touched: Seq[Long],
      historyRows: Option[DataFrame] = None): Unit = {
    recover() // finish or roll back any dangling prior swap
    rmDir(staging)
    // history rows staged BEFORE the journal: the journal commits both
    // (reads of the prior history for version numbering complete here,
    // strictly before any rename). The two staging writes read
    // DISJOINT state (live buckets vs prior history, plus the pinned
    // batch), so they run CONCURRENTLY — a commit pays max(), not
    // sum(), of the two walls.
    val histStaged = historyRows.map { rows =>
      val hStaging = history.getOrElse(sys.error(s"$path has no history table")).staging
      rmDir(hStaging)
      scala.concurrent.Future {
        // coalesce bounds files per history append
        rows.coalesce(8).write.mode(SaveMode.Overwrite).parquet(hStaging)
      }(stagingEc)
    }
    def awaitHist(): Unit = histStaged.foreach(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    // cluster rows by bucket before the write: ONE file per touched
    // bucket instead of one per shuffle task — without this, file
    // count grows ~taskCount per commit and reads degrade
    try replacement.repartition(math.max(touched.size, 1), col("id_bucket"))
      .write.partitionBy("id_bucket").mode(SaveMode.Overwrite).parquet(staging)
    catch { case e: Throwable =>
      // never leave an in-flight history write racing the cleanup a
      // failed swap triggers — drain it (ignoring its own failure)
      try awaitHist() catch { case _: Throwable => () }
      throw e
    }
    awaitHist()
    maybeCrash("post_staging")
    val entries = touched.map(b => (b.toString, new java.io.File(s"$staging/id_bucket=$b").exists()))
    writeJournal(staging, entries.map { case (b, has) => s"$b,${if (has) 1 else 0}" } ++
      historyRows.map(_ => "history,1"))
    maybeCrash("post_journal")
    renameBuckets(entries, () => maybeCrash("mid_rename"))
    maybeCrash("post_rename") // live swapped, history not yet promoted
    if (historyRows.isDefined) history.foreach(_.promoteStaged())
    maybeCrash("post_history")
    rmDir(staging)
    invalidate()
  }

  /** Move journalled buckets from staging into the table — the swap's
    * rename loop and its roll-forward, idempotent: a staged dir that
    * is gone was already moved; an entry journalled hasData=0 means
    * the commit emptied that bucket. `afterFirst` runs once the first
    * bucket is done. */
  private def renameBuckets(entries: Seq[(String, Boolean)],
      afterFirst: () => Unit = () => ()): Unit = {
    new java.io.File(path).mkdirs() // fresh store: first swap may predate the dir
    for (((b, has), i) <- entries.zipWithIndex) {
      val src = new java.io.File(s"$staging/id_bucket=$b")
      val dst = new java.io.File(s"$path/id_bucket=$b")
      if (!has) deleteRecursively(dst)
      else if (src.exists()) {
        deleteRecursively(dst)
        require(src.renameTo(dst), s"bucket swap failed: $src -> $dst")
      }
      if (i == 0) afterFirst()
    }
  }

  /** Move the staged part files into the table — an append by file
    * promotion, idempotent under recovery re-runs (part names are
    * job-unique; a file is either still staged or already moved, never
    * both). */
  private def promoteStaged(): Unit = {
    val st = new java.io.File(staging)
    if (!st.exists()) return
    val dst = new java.io.File(path)
    dst.mkdirs()
    val fs = st.listFiles()
    if (fs != null)
      fs.iterator.filter(f => f.isFile && f.getName.endsWith(".parquet")).foreach { f =>
        val t = new java.io.File(dst, f.getName)
        deleteRecursively(t)
        require(f.renameTo(t), s"history promote failed: $f -> $t")
      }
    deleteRecursively(st)
    invalidate()
  }

  /** Roll a dangling swap forward (journal present → staging was
    * complete; finish the renames and promote staged history) or back
    * (journal absent or malformed → no rename ever started; drop both
    * stagings). Idempotent; a directory check when nothing dangles. */
  def recover(): Unit = {
    val historyStaging = history.map(_.staging)
    if (!new java.io.File(staging).exists()) {
      // an orphan history staging (no table staging → no journal → the
      // crash predates any rename) rolls back
      historyStaging.foreach(rmDir)
      return
    }
    readJournal(staging) match {
      case Some(es) =>
        renameBuckets(es.filter(_._1 != "history"))
        if (es.contains("history" -> true)) history.foreach(_.promoteStaged())
        else historyStaging.foreach(rmDir)
      case None => historyStaging.foreach(rmDir)
    }
    rmDir(staging)
    invalidate()
  }
}

object BucketTable {

  /** Fault injection for the swap protocol (StoreStress crash mode,
    * the q199 recovery gate, StoreCrashSpec, FileStoreSpec): the next
    * swap throws CrashInjected at the named point, in swap order —
    * "post_staging", "post_journal", "mid_rename" (after the first
    * bucket rename), "post_rename" (before the history promotion),
    * "post_history". One-shot. */
  @volatile var failpoint: Option[String] = None
  final class CrashInjected(point: String)
    extends RuntimeException(s"injected crash at $point")

  private def maybeCrash(point: String): Unit =
    if (failpoint.contains(point)) {
      failpoint = None // one-shot, so recovery itself runs clean
      throw new CrashInjected(point)
    }

  /** One shared daemon thread for the concurrent history-staging
    * write (a commit runs at most one; the pool exists so Spark jobs
    * submitted from it don't inherit the caller's thread state). */
  private val stagingEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "marcstore-history-staging")
        t.setDaemon(true)
        t
      }))

  /** Finish or roll back every dangling swap under `basePath`, before
    * any plan of a write reads a table. `owner` maps the name of a dir
    * that has a `_staging` sibling to the table whose [[recover]] owns
    * it: a history staging recovers through its table's, since that
    * journal decides its fate. */
  def recoverAll(basePath: String)(owner: String => BucketTable): Unit = {
    val dirs = new java.io.File(basePath).listFiles()
    if (dirs != null)
      dirs.iterator.filter(f => f.isDirectory && f.getName.endsWith("_staging"))
        .map(f => owner(f.getName.stripSuffix("_staging")))
        .toSet[BucketTable]
        .foreach(_.recover())
  }

  private val JournalName = "_commit_journal"

  /** Write `lines` as the staging dir's journal: tmp + fsync + atomic
    * rename + directory fsync, so after an OS/power crash the journal
    * either exists with full content or not at all. */
  private def writeJournal(stagingPath: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(stagingPath)
    val tmp = dir.resolve(JournalName + ".tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(lines.mkString("\n").getBytes("UTF-8")))
      ch.force(true)
    } finally ch.close()
    java.nio.file.Files.move(tmp, dir.resolve(JournalName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // persist the rename itself (directory entry) where the platform
    // allows opening a directory channel; best-effort elsewhere
    try {
      val dch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: Exception => () }
  }

  /** Parse the staging dir's journal: Some(entries) only for a
    * present, well-formed, non-empty journal; None = roll back. */
  private def readJournal(stagingPath: String): Option[Seq[(String, Boolean)]] = {
    val journal = new java.io.File(stagingPath, JournalName)
    if (!journal.exists()) return None
    try {
      val es = new String(java.nio.file.Files.readAllBytes(journal.toPath), "UTF-8")
        .split("\n").iterator.filter(_.nonEmpty)
        .map { l => val parts = l.split(","); (parts(0).trim, parts(1).trim == "1") }.toSeq
      if (es.isEmpty) None else Some(es)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private val generations = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Two spellings of one local directory (relative vs absolute,
    * trailing slash, symlink) must share a generation counter, so
    * scheme-less paths are canonicalized; URI paths (hdfs://, s3a://)
    * are already absolute and pass through untouched. */
  private def generationKey(path: String): String =
    if (path.contains("://")) path
    else try new java.io.File(path).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(path).getAbsolutePath }

  private def generation(path: String): Long = {
    val g = generations.get(generationKey(path))
    if (g == null) 0L else g.longValue
  }

  private def bump(path: String): Unit =
    generations.merge(generationKey(path), java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))

  private def rmDir(path: String): Unit = deleteRecursively(new java.io.File(path))

  /** rm -rf; shared by the stores and the gate scratch dirs. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(deleteRecursively) }
    if (f.exists()) f.delete(): Unit
  }

  /** A scratch dir removed at JVM exit (the gate-store idiom). */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook { deleteRecursively(d.toFile) }
    d.toString
  }
}
