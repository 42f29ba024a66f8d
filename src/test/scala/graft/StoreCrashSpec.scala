package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark._
import graft.store.{BucketTable, MarcStore}
import Fixtures._

/** Crash-point recovery of the stage-and-swap commit protocol
  * (BucketTable.swap / recover): direction-exact — a crash
  * BEFORE the journal must roll back (old state), a crash at or after
  * the journal must roll forward (new state). The q199 gate asserts
  * all-or-nothing at volume; this pins WHICH side each window lands
  * on, at fixture scale. */
class StoreCrashSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import MarcSchema.marcRowEncoder

  private def freshBase(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_crash_spec")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def bibs(marker: String) =
    MarcSchema.toDataset(spark, Seq(bib1, bib2)).map(_.copy(basket = marker))

  private def baskets(store: MarcStore): Set[String] =
    store.read("bib").toDF().select("basket").distinct()
      .collect().map(_.getString(0)).toSet

  test("pre-journal crash rolls back; post-journal crashes roll forward") {
    val base = freshBase()
    var store = new MarcStore(spark, base, numBuckets = 4)
    store.commit(bibs("v1"), user = "u", authCheck = false)
    assert(baskets(store) === Set("v1"))
    assert(store.readHistory("bib").count() === 2)

    // journal not yet written -> recovery must ROLL BACK to v1, and the
    // staged history rows must roll back WITH the buckets
    BucketTable.failpoint = Some("post_staging")
    intercept[BucketTable.CrashInjected] {
      store.commit(bibs("v2"), user = "u", authCheck = false)
    }
    store = new MarcStore(spark, base, numBuckets = 4)
    assert(baskets(store) === Set("v1"), "pre-journal crash must leave the old table")
    assert(store.readHistory("bib").count() === 2,
      "rolled-back commit must not leave version rows")
    assert(!new java.io.File(s"$base/bib_history_staging").exists())

    // journal written -> recovery must ROLL FORWARD, even when zero,
    // one, or all of the renames already happened, INCLUDING the
    // history promotion (post_rename = the round-10 residual window:
    // live swapped, history not yet appended)
    for (((p, marker), k) <- Seq("post_journal" -> "v2", "mid_rename" -> "v3",
        "post_rename" -> "v4", "post_history" -> "v5").zipWithIndex) {
      BucketTable.failpoint = Some(p)
      intercept[BucketTable.CrashInjected] {
        store.commit(bibs(marker), user = "u", authCheck = false)
      }
      store = new MarcStore(spark, base, numBuckets = 4)
      assert(baskets(store) === Set(marker), s"$p crash must recover to the new table")
      assert(store.read("bib").count() === 2)
      assert(store.readHistory("bib").count() === 2L * (k + 2),
        s"$p: version rows must be all-or-nothing with the live swap")
      assert(store.readHistory("bib").agg(max(col("version_no"))).head().getLong(0)
        === (k + 2).toLong, s"$p: version numbering must survive recovery")
      assert(!new java.io.File(s"$base/bibs_staging").exists(), s"$p left staging behind")
      assert(!new java.io.File(s"$base/bib_history_staging").exists(),
        s"$p left history staging behind")
    }
  }

  test("a FRESH store's first-commit crash post-journal reopens and rolls forward") {
    // r11 review: the live table dir does not exist before the first
    // commit's mkdirs (which runs AFTER the journal), so roll-forward
    // renames used to fail on the missing parent and every reopen
    // rethrew — a permanently bricked store
    val base = freshBase()
    var store = new MarcStore(spark, base, numBuckets = 4)
    BucketTable.failpoint = Some("post_journal")
    intercept[BucketTable.CrashInjected] {
      store.commit(bibs("v1"), user = "u", authCheck = false)
    }
    assert(!new java.io.File(s"$base/bibs").exists(), "precondition: no live dir yet")
    store = new MarcStore(spark, base, numBuckets = 4) // must not throw
    assert(baskets(store) === Set("v1"))
    assert(store.readHistory("bib").count() === 2)
  }

  test("a SAME-INSTANCE retry after a crashed swap sees the recovered state") {
    // r11 review: recovery used to run only inside the swap — after
    // the retry's read plans (survivors, history version counts) were
    // already built against the pre-recovery listing, so a retry could
    // duplicate version numbers and revert the recovered commit's
    // rows. Write entry points now recover FIRST.
    val base = freshBase()
    val store = new MarcStore(spark, base, numBuckets = 4)
    store.commit(bibs("v1"), user = "u", authCheck = false)
    BucketTable.failpoint = Some("post_journal")
    intercept[BucketTable.CrashInjected] {
      store.commit(bibs("v2"), user = "u", authCheck = false)
    }
    // no reopen: the next write on the SAME instance must roll v2
    // forward before reading anything
    store.commit(bibs("v3"), user = "u", authCheck = false)
    assert(baskets(store) === Set("v3"))
    assert(store.read("bib").count() === 2)
    val hist = store.readHistory("bib")
    assert(hist.count() === 6, "v2's rolled-forward versions must be counted")
    assert(hist.select("_id", "version_no").distinct().count() === 6,
      "version numbers must stay unique per record")
    assert(hist.agg(max(col("version_no"))).head().getLong(0) === 3L)
  }

  test("delete crash recovery: the deleted marker and live removal are atomic") {
    val base = freshBase()
    var store = new MarcStore(spark, base, numBuckets = 4)
    store.commit(bibs("v1"), user = "u", authCheck = false)
    assert(store.read("bib").count() === 2)

    // post-rename crash: roll FORWARD — the live bucket already
    // swapped but the history marker is not yet promoted; recovery
    // must finish the promotion, so bib 1 is gone AND its 'deleted'
    // version row is present (the marker stages under the same journal)
    BucketTable.failpoint = Some("post_rename")
    intercept[BucketTable.CrashInjected] {
      store.delete("bib", Seq(1L), user = "deleter")
    }
    store = new MarcStore(spark, base, numBuckets = 4)
    assert(store.read("bib").count() === 1)
    val hist = store.readHistory("bib")
    assert(hist.count() === 3)
    assert(hist.where(col("action") === "deleted" && col("_id") === 1L).count() === 1)

    // pre-journal crash: roll BACK — bib 2 still live, NO marker row
    BucketTable.failpoint = Some("post_staging")
    intercept[BucketTable.CrashInjected] {
      store.delete("bib", Seq(2L), user = "deleter")
    }
    store = new MarcStore(spark, base, numBuckets = 4)
    assert(store.read("bib").count() === 1)
    assert(store.readHistory("bib").count() === 3,
      "rolled-back delete must not leave a deleted marker")
  }

  test("malformed journal is treated as absent: roll back, never throw") {
    // ADVICE r10: a truncated journal line ('12' with no comma) used to
    // throw ArrayIndexOutOfBounds at store open, bricking the store.
    // The journal is now written atomically (tmp + rename), so a
    // malformed one can only be pre-protocol debris — recovery must
    // roll back both stagings and open cleanly.
    val base = freshBase()
    var store = new MarcStore(spark, base, numBuckets = 4)
    store.commit(bibs("v1"), user = "u", authCheck = false)
    val staging = new java.io.File(s"$base/bibs_staging")
    staging.mkdirs()
    new java.io.File(staging, "id_bucket=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging.getPath, "_commit_journal"),
      "12".getBytes("UTF-8"))
    val hStaging = new java.io.File(s"$base/bib_history_staging")
    hStaging.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(hStaging.getPath, "part-fake.snappy.parquet"),
      Array[Byte](1, 2, 3))
    store = new MarcStore(spark, base, numBuckets = 4) // must not throw
    assert(baskets(store) === Set("v1"))
    assert(store.readHistory("bib").count() === 2)
    assert(!staging.exists(), "malformed-journal staging must roll back")
    assert(!hStaging.exists(), "history staging must roll back with it")
  }

  test("recovery is idempotent and a clean store is untouched by it") {
    val base = freshBase()
    var store = new MarcStore(spark, base, numBuckets = 4)
    store.commit(bibs("v1"), user = "u", authCheck = false)
    BucketTable.failpoint = Some("mid_rename")
    intercept[BucketTable.CrashInjected] {
      store.commit(bibs("v2"), user = "u", authCheck = false)
    }
    // two successive reopens: the second sees no staging and changes nothing
    store = new MarcStore(spark, base, numBuckets = 4)
    val after1 = store.read("bib").toDF().orderBy("_id").collect().toSeq
    store = new MarcStore(spark, base, numBuckets = 4)
    val after2 = store.read("bib").toDF().orderBy("_id").collect().toSeq
    assert(after1 === after2)
    assert(baskets(store) === Set("v2"))
    // and the recovered store commits normally afterwards
    store.commit(bibs("v3"), user = "u", authCheck = false)
    assert(baskets(store) === Set("v3"))
  }
}
