package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.model._
import graft.spark._
import graft.files._
import Fixtures._

/** The stores build their own read relations (graft.store.StoreTables):
  * every store table must read exactly as `spark.read.parquet` of the
  * same directory does — same column names and types, same rows. */
class StoreTablesSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def assertSameRead(got: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      expected.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    val (g, e) = (got.collect().toSeq, expected.collect().toSeq)
    assert(g.nonEmpty, s"$what: no rows")
    assert(g.size == e.size && g.diff(e).isEmpty, s"$what: rows")
  }

  private def isEmptyPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r }.isEmpty

  // auth 3 exists to be merged into auth 1; bib 3 references it
  private val auth3 = MarcRecord(recordType = "auth", id = Some(3L),
    fields = Vector(DataField("150", " ", " ", Vector(Subfield("a", Some("Third header"))))))
  private val bib3 = MarcRecord(recordType = "bib", id = Some(3L),
    fields = Vector(
      DataField("245", " ", " ", Vector(Subfield("a", Some("Third")))),
      DataField("650", " ", " ", Vector(Subfield("a", None, Some(3L))))))

  test("store reads equal spark.read.parquet: live tables, history, logs, pruned reads") {
    val dir = java.nio.file.Files.createTempDirectory("storetables").toString
    val store = new graft.store.MarcStore(spark, dir)
    store.commit(MarcSchema.toDataset(spark, Seq(auth1, auth2, auth3)), user = "t")
    store.commit(MarcSchema.toDataset(spark, Seq(bib1, bib2, bib3)), user = "t")
    // heading change cascades to bibs 1 and 2: auth_linked_update_log
    store.commit(MarcSchema.toDataset(spark, Seq(auth1.set("150", "a", "New header"))), user = "t")
    // merge_log, and auth 3's bucket dir goes away with the losing auth
    store.merge(gaining = 1L, losing = 3L)
    // bib 2 is alone in its bucket: the delete removes the whole dir
    store.delete("bib", Seq(2L))
    assert(!new java.io.File(s"$dir/bibs/id_bucket=2").exists())
    assert(!new java.io.File(s"$dir/auths/id_bucket=3").exists())

    // a second instance builds every plan afresh from disk
    val fresh = new graft.store.MarcStore(spark, dir)
    def parquet(name: String) = spark.read.parquet(s"$dir/$name")
    assertSameRead(fresh.readRaw("bib"), parquet("bibs"), "bibs")
    assertSameRead(fresh.readRaw("auth"), parquet("auths"), "auths")
    assertSameRead(fresh.readHistory("bib"), parquet("bib_history"), "bib_history")
    assertSameRead(fresh.readHistory("auth"), parquet("auth_history"), "auth_history")
    assertSameRead(fresh.mergeLog, parquet("merge_log"), "merge_log")
    assertSameRead(fresh.authLinkedUpdateLog, parquet("auth_linked_update_log"),
      "auth_linked_update_log")
    assertSameRead(fresh.read("bib").toDF(),
      parquet("bibs").select(fresh.read("bib").columns.map(col): _*), "read(bib)")
    assert(fresh.read("bib").collect().map(_._id).toSet == Set(1L, 3L))

    // partition-pruned reads: same rows, and only the named buckets
    val buckets = Seq(1, 3)
    val pruned = fresh.readRaw("bib").where(col("id_bucket").isin(buckets: _*))
    assertSameRead(pruned, parquet("bibs").where(col("id_bucket").isin(buckets: _*)), "pruned")
    assert(pruned.select("id_bucket").distinct().collect().map(_.getInt(0)).toSet == buckets.toSet)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && !scan.contains("PartitionFilters: []"))
  }

  test("empty store and emptied table keep the empty plan") {
    val dir = java.nio.file.Files.createTempDirectory("storetables_empty").toString
    val store = new graft.store.MarcStore(spark, dir)
    for (df <- Seq(store.read("bib").toDF(), store.readHistory("bib"), store.mergeLog,
        store.authLinkedUpdateLog)) {
      assert(isEmptyPlan(df))
      assert(df.count() == 0L)
    }
    assert(store.readHistory("bib").columns.takeRight(2).toSeq == Seq("version_no", "action"))
    // delete every row: the table dir stays, with no data file in it
    store.commit(MarcSchema.toDataset(spark,
      Seq(MarcRecord(recordType = "bib", id = Some(5L)).set("245", "a", "Only"))), user = "t")
    store.delete("bib", Seq(5L))
    assert(new java.io.File(s"$dir/bibs").isDirectory)
    val emptied = new graft.store.MarcStore(spark, dir).read("bib")
    assert(isEmptyPlan(emptied.toDF()))
    assert(emptied.count() == 0L)
  }

  test("file store reads equal spark.read.parquet") {
    val dir = java.nio.file.Files.createTempDirectory("storetables_files").toString
    val store = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs"))
    assert(store.read().count() == 0L)
    store.importBinary("one".getBytes("UTF-8"), Seq(Identifier("isbn", "1")), Seq("EN"), "m", "s")
    store.importBinary("two".getBytes("UTF-8"), Seq(Identifier("isbn", "2")), Seq("FR"), "m", "s")
    val got = new FileStore(spark, dir, new LocalBlobStore(s"$dir/blobs")).read()
    assertSameRead(got, spark.read.parquet(s"$dir/files").select(got.columns.map(col): _*), "files")
    assert(got.count() == 2L)
  }
}
