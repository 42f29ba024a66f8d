package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.files._

/** File-module semantics from the reference suite
  * (tests/test_file.py:19-202, FIXTURES.md §7). */
class FileStoreSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  def freshStore(): FileStore = {
    val dir = java.nio.file.Files.createTempDirectory("filestore").toString
    new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs"))
  }

  val testData: Array[Byte] = "test data".getBytes("UTF-8")

  test("md5 checksum is the record id (golden from reference suite)") {
    val store = freshStore()
    assert(store.md5Hex(testData) == "eb733a00c0c9d336e65691a37ab54293")
    val rec = store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("EN"),
      "application/dlx", "test", filename = "fn.ext")
    assert(rec._id == "eb733a00c0c9d336e65691a37ab54293")
    assert(rec.size == 9L)
    assert(store.fromId(rec._id).isDefined)
  }

  test("duplicate import raises FileExists; conflicts detected") {
    val store = freshStore()
    store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("EN"), "application/dlx", "test")
    intercept[FileExists] {
      store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("EN"), "application/dlx", "test")
    }
    intercept[FileExistsIdentifierConflict] {
      store.importBinary(testData, Seq(Identifier("isbn", "2")), Seq("EN"), "application/dlx", "test")
    }
    intercept[FileExistsLanguageConflict] {
      store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("FR"), "application/dlx", "test")
    }
    // overwrite bypasses the guard
    val rec = store.importBinary(testData, Seq(Identifier("isbn", "2")), Seq("FR"),
      "application/dlx", "test", overwrite = true)
    assert(rec.languages == Seq("FR"))
  }

  test("validation: empty identifiers/languages/content, bad language") {
    val store = freshStore()
    intercept[IllegalArgumentException] {
      store.importBinary(testData, Nil, Seq("EN"), "m", "s")
    }
    intercept[IllegalArgumentException] {
      store.importBinary(testData, Seq(Identifier("isbn", "1")), Nil, "m", "s")
    }
    intercept[IllegalArgumentException] {
      store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("XX"), "m", "s")
    }
    intercept[IllegalArgumentException] {
      store.importBinary(Array.empty[Byte], Seq(Identifier("isbn", "1")), Seq("EN"), "m", "s")
    }
  }

  test("encode_fn char translation (dlx/file/__init__.py:252-264)") {
    val store = freshStore()
    assert(store.encodeFn(Seq("A/RES 71:1"), Seq("en"), "pdf") == "A_RES_71#1-EN.pdf")
    assert(store.encodeFn(Seq("S[2]*x;y", "B"), Seq("en", "fr"), "txt") == "S^2^!x%y&B-EN-FR.txt")
    intercept[IllegalArgumentException] { store.encodeFn(Seq("x"), Seq("zz"), "pdf") }
  }

  test("find by identifier: case-insensitive, newest first; latest window") {
    val store = freshStore()
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val t1 = java.time.Instant.parse("2026-02-01T00:00:00Z")
    store.importBinary("v1".getBytes, Seq(Identifier("symbol", "A/1")), Seq("EN"),
      "m", "s", now = t0)
    store.importBinary("v2".getBytes, Seq(Identifier("symbol", "a/1")), Seq("EN"),
      "m", "s", now = t1)
    val found = store.findByIdentifier(Identifier("symbol", "A/1"), Some("EN"))
    assert(found.length == 2)
    assert(found.head.timestamp.toInstant == t1) // newest first
    val latest = store.latestByIdentifierLanguage(Identifier("symbol", "A/1"), "EN")
    assert(latest.map(_._id) == Some(store.md5Hex("v2".getBytes)))
    assert(store.latestPerIdentifierLanguage().count() == 2) // A/1 and a/1 spellings
    // find_by_date: created-or-updated within [from, to), to defaults now
    assert(store.findByDate(java.time.Instant.parse("1900-01-01T00:00:00Z")).length == 2)
    assert(store.findByDate(t0, Some(t1)).map(_._id) ==
      Seq(store.md5Hex("v1".getBytes))) // upper bound excludes t1
    assert(store.findByDate(java.time.Instant.parse("2030-01-01T00:00:00Z")).isEmpty)
  }

  test("row-level Seq APIs are bounded; DataFrame twins are not (r11 verdict #1)") {
    val store = freshStore()
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    for (i <- 0 until 3)
      store.importBinary(s"v$i".getBytes, Seq(Identifier("symbol", s"A/$i")), Seq("EN"),
        "m", "s", now = t0.plusSeconds(i))
    val wide = java.time.Instant.parse("1900-01-01T00:00:00Z")
    // past the bound the Seq API raises instead of collecting the table
    val e = intercept[IllegalArgumentException] { store.findByDate(wide, limit = 2) }
    assert(e.getMessage.contains("DataFrame twin"))
    // an explicit larger limit or the DF twin still reach everything
    assert(store.findByDate(wide, limit = 3).length == 3)
    assert(store.findByDateDf(wide).count() == 3)
    assert(store.findByIdentifierDf(Identifier("symbol", "A/1")).count() == 1)
    intercept[IllegalArgumentException] {
      // three files share the identifier -> over a limit of 2 it raises
      for (i <- 0 until 3)
        store.importBinary(s"w$i".getBytes, Seq(Identifier("symbol", "B/1")), Seq("EN"),
          "m", "s", now = t0.plusSeconds(10 + i))
      store.findByIdentifier(Identifier("symbol", "B/1"), limit = 2)
    }
    // latest-by-identifier stays a bounded top-1 even with many matches
    assert(store.latestByIdentifierLanguage(Identifier("symbol", "B/1"), "EN")
      .map(_._id) == Some(store.md5Hex("w2".getBytes)))
  }

  test("Bib.files linkage by 191 symbol + language") {
    import graft.model._
    implicit val noAuth: AuthLookup = AuthLookup.Empty
    val store = freshStore()
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val t1 = java.time.Instant.parse("2026-02-01T00:00:00Z")
    store.importBinary("v1".getBytes, Seq(Identifier("symbol", "A/RES/1")), Seq("EN"), "m", "s", now = t0)
    store.importBinary("v2".getBytes, Seq(Identifier("symbol", "A/RES/1")), Seq("EN"), "m", "s", now = t1)
    val bib = MarcRecord(recordType = "bib").set("191", "a", "A/RES/1")
    val all = BibFiles.files(bib, store, Some("EN"))
    assert(all.length == 2)
    val latest = BibFiles.file(bib, store, "EN")
    assert(latest.map(_._id) == Some(store.md5Hex("v2".getBytes)))
    assert(BibFiles.file(MarcRecord(recordType = "bib"), store, "EN").isEmpty)
  }

  test("hadoop blob store writes via file:// and batch import dedups") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("filestore_h").toString
    val store = new FileStore(spark, dir, new HadoopBlobStore(s"file://$dir/blobs"))
    import spark.implicits._
    val files = Seq(("c1", "1"), ("c2", "2"), ("c1", "3")).toDF("body", "idv")
      .select(col("body").cast("binary").as("content"),
        concat(lit("f"), col("idv")).as("filename"),
        array(struct(lit("isbn").as("idType"), col("idv").as("value"))).as("identifiers"),
        array(lit("en")).as("languages"),
        lit("text/plain").as("mimetype"), lit("t").as("source"), lit("u").as("user"))
    val imported = store.importBatch(files)
    // in-batch dedup: c1 appears twice -> 2 distinct checksums imported
    assert(imported.count() == 2)
    assert(store.read().count() == 2)
    // second import of same contents is a no-op
    store.importBatch(files)
    assert(store.read().count() == 2)
    // blobs exist on the hadoop fs and round-trip content
    val sum = store.md5Hex("c1".getBytes("UTF-8"))
    val blob = java.nio.file.Paths.get(s"$dir/blobs/$sum")
    assert(new String(java.nio.file.Files.readAllBytes(blob), "UTF-8") == "c1")
    assert(store.fromId(sum).get.uri.endsWith(sum))
  }

  test("commit stamps updated") {
    val store = freshStore()
    val rec = store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("EN"), "m", "s")
    store.commit(rec)
    val back = store.fromId(rec._id).get
    assert(back.updated != null)
  }

  test("an upsert crashed at a swap failpoint recovers all-or-nothing on reopen") {
    val dir = java.nio.file.Files.createTempDirectory("filestore_failpoint").toString
    def open() = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs"))
    def ids(store: FileStore) = store.read().select("_id").collect().map(_.getString(0)).toSet
    var store = open()
    store.importBinary(testData, Seq(Identifier("isbn", "0")), Seq("EN"), "m", "s")
    // a pre-journal crash rolls back to the old row set; a crash at or
    // after the journal rolls forward to the new one
    for ((point, forward) <- Seq("post_staging" -> false, "post_journal" -> true,
        "mid_rename" -> true)) {
      val before = ids(store)
      val data = s"data at $point".getBytes("UTF-8")
      graft.store.BucketTable.failpoint = Some(point)
      intercept[graft.store.BucketTable.CrashInjected] {
        store.importBinary(data, Seq(Identifier("isbn", point)), Seq("EN"), "m", "s")
      }
      store = open()
      val expected = if (forward) before + store.md5Hex(data) else before
      assert(ids(store) === expected, s"$point must recover to the ${if (forward) "new" else "old"} rows")
      assert(!new java.io.File(s"$dir/files_staging").exists(), s"$point left staging behind")
    }
  }

  test("upsert staging recovers via the commit journal (round 11)") {
    // journal present -> roll forward (finish renames), absent or
    // malformed -> roll back. Both states are hand-crafted here: the
    // failpoints cannot leave a malformed journal behind.
    val dir = java.nio.file.Files.createTempDirectory("filestore_crash").toString
    var store = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs"))
    store.importBinary(testData, Seq(Identifier("isbn", "1")), Seq("EN"),
      "application/dlx", "test", filename = "fn.ext")
    store.importBinary("other data".getBytes("UTF-8"), Seq(Identifier("isbn", "2")),
      Seq("EN"), "application/dlx", "test", filename = "fn2.ext")
    val n0 = store.read().count()

    // roll FORWARD: a staged bucket whose rename never ran — move a
    // live bucket into staging and journal it as hasData
    val table = new java.io.File(s"$dir/files")
    val staging = new java.io.File(s"$dir/files_staging")
    staging.mkdirs()
    val bucket = table.listFiles().filter(_.getName.startsWith("id_bucket=")).head
    val staged = new java.io.File(staging, bucket.getName)
    assert(bucket.renameTo(staged))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging.getPath, "_commit_journal"),
      s"${bucket.getName.stripPrefix("id_bucket=")},1".getBytes("UTF-8"))
    store = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs")) // reopen
    assert(store.read().count() === n0, "journal present must roll the staged bucket forward")
    assert(!staging.exists())

    // roll BACK: malformed journal + junk staging must vanish silently
    staging.mkdirs()
    new java.io.File(staging, "id_bucket=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging.getPath, "_commit_journal"),
      "junk".getBytes("UTF-8"))
    store = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs")) // must not throw
    assert(store.read().count() === n0)
    assert(!staging.exists())
  }
}
