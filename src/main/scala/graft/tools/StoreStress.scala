package graft.tools

import graft.spark.{MarcContext, MarcSchema, MarcRow}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Write-path stress: commit the full constructed MARC corpus for a
  * scale factor through MarcStore, rebuild both indexes, re-commit an
  * updated slice (history versioning at volume), and report counts +
  * wall times. */
object StoreStress {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("crash")) { crashMain(args.drop(1)); return }
    if (args.headOption.contains("contention")) {
      val fails = contentionRun(args.drop(1))
      if (fails.nonEmpty) {
        fails.foreach(f => System.err.println(s"[contention] $f")); sys.exit(1)
      }
      return
    }
    if (args.headOption.contains("contentionCrash")) {
      val fails = contentionCrashRun(args.drop(1))
      if (fails.nonEmpty) {
        fails.foreach(f => System.err.println(s"[contention-crash] $f")); sys.exit(1)
      }
      return
    }
    if (args.headOption.contains("contentionOverlap")) {
      val fails = contentionOverlapRun(args.drop(1))
      if (fails.nonEmpty) {
        fails.foreach(f => System.err.println(s"[contention-overlap] $f")); sys.exit(1)
      }
      return
    }
    if (args.headOption.contains("contentionWorker")) {
      contentionWorkerMain(args.drop(1)); return
    }
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceTeardownNoise()
    import MarcSchema.marcRowEncoder

    val base = java.nio.file.Files.createTempDirectory("storestress").toString
    val store = new graft.store.MarcStore(spark, base)
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val auths = graft.queries.MarcOps.marcAuths(spark, sfDir).as[MarcRow]
    val bibs = graft.queries.MarcOps.marcBibs(spark, sfDir).as[MarcRow]
    timed("commit auths")(store.commit(auths, user = "stress"))
    timed("commit bibs with auth_check")(store.commit(bibs, user = "stress", authCheck = true))
    println(s"bibs=${store.read("bib").count()} auths=${store.read("auth").count()} maxId=${store.maxId("bib")}")

    timed("tag index rebuild") {
      MarcContext.tagIndex(store.read("bib").toDF().unionByName(store.read("auth").toDF()))
        .write.mode("overwrite").parquet(s"$base/tag_index")
    }
    println(s"tag index entries=${spark.read.parquet(s"$base/tag_index").count()}")

    // update a slice -> history versions. O(batch) evidence: count the
    // live files rewritten and history files before/after — a touched-
    // bucket overwrite + append must leave untouched buckets' files and
    // all prior history files in place.
    def filesUnder(p: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val d = new java.io.File(p)
      if (!d.exists()) Set.empty
      else walk(d).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val liveBefore = filesUnder(s"$base/bibs")
    val histBefore = filesUnder(s"$base/bib_history")
    // 8 ids -> at most 8 of the 64 buckets rewritten
    val slice = store.read("bib").where(col("_id") <= 8).as[MarcRow]
      .map(r => r.copy(basket = "updated"))
    timed("re-commit 8 updated")(store.commit(slice, user = "stress2"))
    val liveAfter = filesUnder(s"$base/bibs")
    val histAfter = filesUnder(s"$base/bib_history")
    require(histBefore.subsetOf(histAfter), "history was rewritten, not appended")
    val untouched = (liveBefore intersect liveAfter).size
    println(s"live files untouched=$untouched/${liveBefore.size} " +
      s"(rewrote ${liveBefore.size - untouched} bucket files); " +
      s"history files appended=${histAfter.size - histBefore.size}")
    val versions = store.readHistory("bib").groupBy("_id").count()
      .where(col("count") > 1).count()
    println(s"records with 2+ history versions=$versions")

    timed("history query")(
      println(s"history q hits=${store.queryHistory("bib", "245__a:'1-urgent'").count()}"))
    spark.stop()
  }

  /** `StoreStress crash [sfDir]` — kill the swap protocol at every
    * injected point AT VOLUME (full corpus commits), reopen, and
    * verify all-or-nothing recovery: one distinct audit user, stable
    * row count, no dangling staging. The q199 gate runs the same
    * sequence under the DuckDB oracle at gate scale; this mode is the
    * volume probe. */
  def crashMain(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceTeardownNoise()
    import MarcSchema.marcRowEncoder

    val base = java.nio.file.Files.createTempDirectory("storestress_crash").toString
    var store = new graft.store.MarcStore(spark, base)
    val bibs = graft.queries.MarcOps.marcBibs(spark, sfDir).as[MarcRow]
    store.commit(bibs.map(_.copy(basket = "v0")), user = "u0", authCheck = false)
    val n0 = store.read("bib").count()
    println(s"base commit: $n0 bibs")
    var prev = Set("u0")
    var expVersions = 1L
    val points = Seq("post_staging", "post_journal", "mid_rename", "post_rename",
      "post_history")
    for ((p, i) <- points.zipWithIndex) {
      graft.store.BucketTable.failpoint = Some(p)
      val t0 = System.nanoTime()
      val crashed =
        try { store.commit(bibs.map(_.copy(basket = s"v$i")), user = s"u_$p",
          authCheck = false); false } // no auth dim in this scratch store
        catch { case _: graft.store.BucketTable.CrashInjected => true }
      require(crashed, s"failpoint $p did not fire")
      store = new graft.store.MarcStore(spark, base) // reopen = recovery sweep
      val users = store.read("bib").toDF().select("user").distinct()
        .collect().map(_.getString(0)).toSet
      val n = store.read("bib").count()
      require(users.size == 1, s"MIXED state after $p: $users")
      require(n == n0, s"row count drifted after $p: $n != $n0")
      require(users == prev || users == Set(s"u_$p"), s"state after $p neither old nor new")
      // version rows commit atomically with the live swap (r11)
      if (users == Set(s"u_$p")) expVersions += 1
      val hist = store.readHistory("bib").count()
      require(hist == n0 * expVersions,
        s"history drifted after $p: $hist != ${n0 * expVersions}")
      require(!new java.io.File(s"$base/bibs_staging").exists(), s"$p left staging")
      require(!new java.io.File(s"$base/bib_history_staging").exists(),
        s"$p left history staging")
      println(f"$p%-13s -> recovered to ${users.head}%-15s " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s incl. crash+reopen)")
      prev = users
    }
    println("ALL CRASH POINTS RECOVER ALL-OR-NOTHING (live + history)")
    spark.stop()
  }

  /** `StoreStress contention [sfDir] [out.json]` — CROSS-PROCESS
    * writer contention (r11 verdict #5): StoreLock's file-channel tier
    * (`MarcStore.StoreLock`) was only ever exercised in-JVM by specs;
    * this mode races two real JVMs. Each child commits its half of the
    * mod-97 corpus (disjoint ids, OVERLAPPING buckets — the dangerous
    * interleaving) three times to ONE store path while the other does
    * the same; the OS file lock must serialize every
    * read-modify-swap. Green means: both batches fully applied, the
    * right user on every row, history version numbers dense (1..3 per
    * id, exactly 3 rows each — an interleaved lost update would leave
    * a gap or a duplicate), and the recovery sweep at reopen finds
    * nothing to sweep. Writes a GitStamp'd report, by default
    * target/storestress/contention.json. */
  // ---- shared cross-process race harness (round-13 review: the
  // spawn/wait/debris blocks were drifting three-way copies)

  /** Spawn the contention worker JVMs: one per (worker, mode) pair on
    * the SHARED base dir; empty mode = the plain three-commit race. */
  private def spawnWorkers(base: String, sfDir: String, tag: String,
      workers: Seq[(String, String)]): Seq[(String, Process, java.io.File)] =
    workers.map { case (w, mode) =>
      val log = java.nio.file.Files.createTempFile(s"${tag}_$w", ".log").toFile
      val p = new ProcessBuilder(ChildJvm.cmd("8g",
          Seq("graft.tools.StoreStress", "contentionWorker", base, sfDir, w) ++
            (if (mode.isEmpty) Nil else Seq(mode))): _*)
        .redirectErrorStream(true)
        .redirectOutput(java.lang.ProcessBuilder.Redirect.to(log)).start()
      (w, p, log)
    }

  /** BOUNDED wait (a cross-process deadlock — the bug class these
    * gates exist to catch — must fail the gate red, not hang the
    * round-close cadence forever) + rc check + log tail on failure. */
  private def awaitWorkers(procs: Seq[(String, Process, java.io.File)], tag: String,
      fails: scala.collection.mutable.ArrayBuffer[String]): Unit =
    for ((w, p, log) <- procs) {
      val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        p.destroyForcibly()
        fails += s"$tag: worker $w HUNG past 20 min (possible cross-process deadlock)"
      }
      val rc = if (done) p.waitFor() else -1
      if (rc != 0) {
        if (done) fails += s"$tag: worker $w exited $rc"
        val lines = scala.jdk.CollectionConverters
          .ListHasAsScala(java.nio.file.Files.readAllLines(log.toPath)).asScala
        System.err.println(s"[$tag] worker $w tail:\n" +
          lines.takeRight(15).mkString("\n"))
      }
    }

  /** Dangling-staging check — MUST run before the verifying store is
    * constructed: MarcStore's open runs the recovery sweep, which
    * would silently clean exactly the debris this asserts against
    * (round-12 review — the check was vacuous after the open). */
  private def debrisCheck(base: String, tag: String, detail: String,
      fails: scala.collection.mutable.ArrayBuffer[String]): Unit =
    for (d <- Seq("bibs_staging", "bib_history_staging"))
      if (new java.io.File(s"$base/$d").exists())
        fails += s"$tag: dangling $d $detail"

  /** The parent's verifying SparkSession (reopen = recovery sweep
    * under lock happens at the MarcStore construction that follows). */
  private def verifySession(): SparkSession = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceTeardownNoise()
    spark
  }

  /** Write a contention mode's one-line JSON report — its `fields`,
    * the guard failures and the git stamp — to `out` and echo it. */
  private def writeReport(out: String, fields: String, fails: Seq[String]): Unit = {
    val json = s"{$fields," +
      s""""guard_fails":[${fails.map(f => "\"" + f.replace("\"", "'") + "\"").mkString(",")}]""" +
      s"${GitStamp.jsonField}}"
    val path = java.nio.file.Paths.get(out)
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, (json + "\n").getBytes("UTF-8"))
    println(json)
  }

  def contentionRun(args: Array[String]): Seq[String] = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("target/storestress/contention.json")
    val base = java.nio.file.Files.createTempDirectory("storestress_contention").toString
    val t0 = System.nanoTime()
    val procs = spawnWorkers(base, sfDir, "contention", Seq("A" -> "", "B" -> ""))
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    awaitWorkers(procs, "contention", fails)
    val wall = (System.nanoTime() - t0) / 1e9
    debrisCheck(base, "contention", "after both writers exited", fails)
    val spark = verifySession()
    val store = new graft.store.MarcStore(spark, base)
    val expA = graft.queries.StoreOps.batch(spark, sfDir, 97L, "")
      .where(col("_id") % 194 === 0).count()
    val expB = graft.queries.StoreOps.batch(spark, sfDir, 97L, "")
      .where(col("_id") % 194 === 97).count()
    val live = store.read("bib").toDF()
    val nA = live.where(col("_id") % 194 === 0).count()
    val nB = live.where(col("_id") % 194 === 97).count()
    if (nA != expA || nB != expB)
      fails += s"contention: live halves A=$nA/$expA B=$nB/$expB (lost update)"
    val wrongUser = live.where(
      (col("_id") % 194 === 0 && col("user") =!= "A_c2") ||
        (col("_id") % 194 === 97 && col("user") =!= "B_c2")).count()
    if (wrongUser != 0)
      fails += s"contention: $wrongUser rows don't carry their own writer's LAST commit"
    val hist = store.readHistory("bib")
    val n = expA + expB
    val histN = hist.count()
    if (histN != 3 * n) fails += s"contention: history rows $histN != ${3 * n}"
    val nonDense = hist.groupBy("_id")
      .agg(countDistinct(col("version_no")).as("nv"), max(col("version_no")).as("mx"),
        min(col("version_no")).as("mn"), count(lit(1)).as("cnt"))
      .where(col("nv") =!= 3 || col("mx") =!= 3 || col("mn") =!= 1 || col("cnt") =!= 3)
      .count()
    if (nonDense != 0)
      fails += s"contention: $nonDense ids have non-dense version numbers (interleaving corrupted history)"

    writeReport(out, f""""metric":"contention","wall_sec":$wall%.1f,"sf":"$sfDir",""" +
      f""""workers":2,"commits_per_worker":3,"rows":$n,"history_rows":$histN""", fails.toSeq)
    fails.toSeq
  }

  /** `StoreStress contentionOverlap [sfDir] [out.json]` — the
    * SAME-ID cross-process race (round-13 verdict #4; the disjoint-id
    * `contention` mode shares buckets and the journal but never a
    * record): two child JVMs each commit the SAME `_id % 194 === 0`
    * slice three times, users `<w>_c<i>`. Because every commit is one
    * whole-batch swap under the cross-process lock (reference
    * semantics anchor: `replace_one(upsert=True)` last-wins,
    * dlx/marc/__init__.py:1107, + history append 1066-1104), the
    * verifier can assert exact invariants despite the nondeterministic
    * interleaving:
    *  - last-wins: every live row carries ONE user, and it is some
    *    worker's final commit (`A_c2` or `B_c2`);
    *  - dense interleaved history: 6 commits × n ids → 6n history
    *    rows, version_no dense 1..6 per id;
    *  - the interleaving is a real serialization: each version_no maps
    *    to exactly ONE user across all ids (commits are atomic), and
    *    each worker's own commits appear in its program order
    *    c0 < c1 < c2;
    *  - clean recovery: no staging debris (checked BEFORE any store
    *    open, so the parent's recovery sweep can't make it vacuous).
    * Writes a GitStamp'd report, by default
    * target/storestress/contention_overlap.json. */
  def contentionOverlapRun(args: Array[String]): Seq[String] = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("target/storestress/contention_overlap.json")
    val base = java.nio.file.Files.createTempDirectory("storestress_overlap").toString
    val t0 = System.nanoTime()
    val procs = spawnWorkers(base, sfDir, "overlap", Seq("A" -> "same", "B" -> "same"))
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    awaitWorkers(procs, "overlap", fails)
    val wall = (System.nanoTime() - t0) / 1e9
    debrisCheck(base, "overlap", "after both writers exited", fails)
    val spark = verifySession()
    val store = new graft.store.MarcStore(spark, base)
    val n = graft.queries.StoreOps.batch(spark, sfDir, 97L, "")
      .where(col("_id") % 194 === 0).count()
    val live = store.read("bib").toDF()
    val nLive = live.count()
    if (nLive != n) fails += s"overlap: live rows $nLive != $n (both write the same slice)"
    val offSlice = live.where(col("_id") % 194 =!= 0).count()
    if (offSlice != 0) fails += s"overlap: $offSlice live rows outside the shared slice"
    // last-wins: one final user for EVERY id, and it is a final commit
    val finalUsers = live.select("user").distinct().collect().map(_.getString(0)).sorted
    if (finalUsers.length != 1 || !Set("A_c2", "B_c2").contains(finalUsers.head))
      fails += s"overlap: final users ${finalUsers.mkString(",")} — " +
        "expected every id to carry the globally-last commit (A_c2 or B_c2)"
    val hist = store.readHistory("bib")
    val histN = hist.count()
    if (histN != 6 * n) fails += s"overlap: history rows $histN != ${6 * n}"
    val nonDense = hist.groupBy("_id")
      .agg(countDistinct(col("version_no")).as("nv"), max(col("version_no")).as("mx"),
        min(col("version_no")).as("mn"), count(lit(1)).as("cnt"))
      .where(col("nv") =!= 6 || col("mx") =!= 6 || col("mn") =!= 1 || col("cnt") =!= 6)
      .count()
    if (nonDense != 0)
      fails += s"overlap: $nonDense ids have non-dense 1..6 history versions"
    // atomic interleaving: each version is ONE commit for ALL ids
    val versionUsers = hist.groupBy("version_no")
      .agg(countDistinct(col("user")).as("nu"), min(col("user")).as("u"))
      .collect().map(r => r.getAs[Number]("version_no").longValue() ->
        (r.getAs[Long]("nu"), r.getAs[String]("u"))).toMap
    for ((v, (nu, _)) <- versionUsers if nu != 1)
      fails += s"overlap: version $v carries $nu distinct users (commit not atomic across ids)"
    // each worker's commits in program order within the serialization
    val order = versionUsers.toSeq.sortBy(_._1).map(_._2._2)
    for (w <- Seq("A", "B")) {
      val seq = order.filter(_.startsWith(s"${w}_"))
      if (seq != Seq(s"${w}_c0", s"${w}_c1", s"${w}_c2"))
        fails += s"overlap: worker $w's commits appear as ${seq.mkString(",")} — program order violated"
    }
    if (finalUsers.length == 1 && order.nonEmpty && order.last != finalUsers.head)
      fails += s"overlap: live user ${finalUsers.head} != last history version's user ${order.last}"

    writeReport(out, f""""metric":"contention_overlap","wall_sec":$wall%.1f,"sf":"$sfDir",""" +
      f""""workers":2,"commits_per_worker":3,"rows":$n,"history_rows":$histN,""" +
      s""""serialization":[${order.map("\"" + _ + "\"").mkString(",")}]""", fails.toSeq)
    fails.toSeq
  }

  /** One contending writer: its own SparkSession + MarcStore on the
    * SHARED base; commits of its disjoint half of the corpus — or, in
    * `same` mode, the SHARED slice — user
    * stamped `<w>_c<i>` so the verifier can tell WHICH commit a row
    * survived from. Modes (4th arg):
    *  - (none): three clean commits (the plain contention race);
    *  - `crash:<point>`: one clean commit, then a second with the
    *    swap-protocol failpoint armed — the injected crash propagates,
    *    the worker drops a `.crashed_<w>` marker and exits 0 WITHOUT
    *    reopening the store (recovery must be the OTHER process's job);
    *  - `await:<marker>`: two clean commits, then block until the
    *    marker file appears (<= 10 min), then a third — whose
    *    pre-swap recovery sweep is the cross-process recovery under
    *    test;
    *  - `same`: three clean commits of the SAME id slice the OTHER
    *    worker writes (both take the `_id % 194 === 0` half) — the
    *    overlapping-ids race (round-13 verdict #4). */
  def contentionWorkerMain(args: Array[String]): Unit = {
    val Array(base, sfDir, w) = args.take(3)
    val mode = args.lift(3).getOrElse("")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceTeardownNoise()
    import MarcSchema.marcRowEncoder
    val rem = if (mode == "same" || w == "A") 0L else 97L
    val store = new graft.store.MarcStore(spark, base)
    def commitN(i: Int): Unit = {
      val b = graft.queries.StoreOps.batch(spark, sfDir, 97L, s"$w$i-")
        .where(col("_id") % 194 === rem)
      store.commit(b.as[MarcRow], user = s"${w}_c$i", authCheck = false,
        now = java.sql.Timestamp.from(java.time.Instant.parse(s"2021-0${i + 1}-01T00:00:00Z")))
      println(s"[worker $w] commit $i applied")
    }
    mode.split(":", 2) match {
      case Array("crash", point) =>
        commitN(0)
        graft.store.BucketTable.failpoint = Some(point)
        try { commitN(1); sys.error(s"failpoint $point did not fire") }
        catch { case _: graft.store.BucketTable.CrashInjected =>
          println(s"[worker $w] crashed at $point as injected") }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(base, s".crashed_$w"), Array.empty[Byte])
      case Array("await", marker) =>
        commitN(0); commitN(1)
        val deadline = System.nanoTime() + 600L * 1000000000L
        while (!new java.io.File(base, marker).exists()) {
          require(System.nanoTime() < deadline, s"marker $marker never appeared")
          Thread.sleep(100L)
        }
        commitN(2)
      case _ => for (i <- 0 until 3) commitN(i)
    }
    spark.stop()
  }

  /** `StoreStress contentionCrash [sfDir] [out.json]` — CROSS-PROCESS
    * crash recovery, the interaction neither the single-process crash
    * matrix nor the plain contention race exercises: worker A dies at
    * an injected swap-protocol point and worker B's NEXT commit (its
    * pre-swap recovery sweep, under the file lock) must finish or
    * undo A's commit — the parent only verifies, it never recovers
    * (the pre-open staging check proves B did the sweep). Two
    * scenarios: post_journal (B must roll A FORWARD — another process
    * completes A's crashed commit) and post_staging (B must roll A
    * BACK). Writes a GitStamp'd report, by default
    * target/storestress/contention_crash.json. */
  def contentionCrashRun(args: Array[String]): Seq[String] = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("target/storestress/contention_crash.json")
    val spark = verifySession()
    val expA = graft.queries.StoreOps.batch(spark, sfDir, 97L, "")
      .where(col("_id") % 194 === 0).count()
    val expB = graft.queries.StoreOps.batch(spark, sfDir, 97L, "")
      .where(col("_id") % 194 === 97).count()

    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for ((point, forward) <- Seq("post_journal" -> true, "post_staging" -> false)) {
      val base = java.nio.file.Files.createTempDirectory(s"contention_crash_$point").toString
      val t0 = System.nanoTime()
      val procs = spawnWorkers(base, sfDir, s"ccrash_$point",
        Seq("A" -> s"crash:$point", "B" -> "await:.crashed_A"))
      awaitWorkers(procs, point, fails)
      walls(point) = (System.nanoTime() - t0) / 1e9

      // B (not the parent, not a reopen) must have swept A's debris
      debrisCheck(base, point, "— B's recovery sweep did not run", fails)

      val store = new graft.store.MarcStore(spark, base)
      val live = store.read("bib").toDF()
      val aUser = if (forward) "A_c1" else "A_c0"
      val aBad = live.where(col("_id") % 194 === 0 && col("user") =!= aUser).count()
      val bBad = live.where(col("_id") % 194 === 97 && col("user") =!= "B_c2").count()
      val nA = live.where(col("_id") % 194 === 0).count()
      val nB = live.where(col("_id") % 194 === 97).count()
      if (nA != expA || nB != expB) fails += s"$point: live halves A=$nA/$expA B=$nB/$expB"
      if (aBad != 0) fails += s"$point: $aBad A-rows are not at $aUser " +
        s"(crashed commit must roll ${if (forward) "FORWARD" else "BACK"})"
      if (bBad != 0) fails += s"$point: $bBad B-rows are not at B_c2"
      val hist = store.readHistory("bib")
      val expVerA = if (forward) 2 else 1
      val badVer = hist.groupBy("_id")
        .agg(countDistinct(col("version_no")).as("nv"), max(col("version_no")).as("mx"))
        .withColumn("want", when(col("_id") % 194 === 0, expVerA).otherwise(3))
        .where(col("nv") =!= col("want") || col("mx") =!= col("want")).count()
      if (badVer != 0)
        fails += s"$point: $badVer ids have non-dense/wrong history versions"
      println(f"[contention-crash] $point%-13s ${walls(point)}%6.1f s  " +
        s"(A rolled ${if (forward) "forward by B" else "back by B"}, fails so far ${fails.size})")
    }

    val wallsJson = walls.map { case (k, v) =>
      f""""$k":$v%.1f""" }.mkString(",")
    writeReport(out, s""""metric":"contention_crash","sf":"$sfDir","walls":{$wallsJson},""" +
      s""""rows_a":$expA,"rows_b":$expB""", fails.toSeq)
    fails.toSeq
  }
}
