package graft.cli

import graft.model.AuthLookup
import graft.records.Serialization
import graft.spark.{AuthOps, DerivedColumns, MarcContext, MarcSchema}
import graft.store.MarcStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI parity with the reference's dlx scripts (SURVEY §7 module 10).
  * Each script is a batch job over the store at `--base`; where the
  * reference chunks + bulk-writes (1000/10000 increments), Spark
  * partitioning replaces the chunking entirely.
  */
object Cli {

  private def argMap(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** getOrCreate + remember whether the session pre-existed (tests
    * share one session; a CLI must not stop a session it didn't own). */
  def obtainSession(): (SparkSession, Boolean) = {
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val s = SparkSession.builder().master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    (s, preExisting)
  }

  def release(spark: SparkSession, preExisting: Boolean): Unit =
    if (!preExisting) spark.stop()
}

/** build-text-collections analog
  * (dlx/scripts/build_text_collections.py): full tag-index rebuild as
  * one groupBy pipeline, written as parquet. */
object BuildTextCollections {
  def main(args: Array[String]): Unit = {
    val (spark, preExisting) = Cli.obtainSession()
    val base = args.headOption.getOrElse(sys.error("usage: BuildTextCollections <base>"))
    val store = new MarcStore(spark, base)
    val records = store.read("bib").toDF().unionByName(store.read("auth").toDF())
    MarcContext.tagIndex(records).write.mode("overwrite").parquet(s"$base/tag_index")
    println(s"tag index rebuilt at $base/tag_index")
    Cli.release(spark, preExisting)
  }
}

/** build-logical-fields analog (dlx/scripts/build_logical_fields.py):
  * recompute the logical map + browse index. */
object BuildLogicalFields {
  def main(args: Array[String]): Unit = {
    val (spark, preExisting) = Cli.obtainSession()
    val base = args.headOption.getOrElse(sys.error("usage: BuildLogicalFields <base>"))
    val store = new MarcStore(spark, base)
    val all = DerivedColumns.derive(store.read("bib").unionByName(store.read("auth")))
    MarcContext.browseIndex(all.toDF()).write.mode("overwrite").parquet(s"$base/browse_index")
    println(s"browse index rebuilt at $base/browse_index")
    Cli.release(spark, preExisting)
  }
}

/** init-indexes analog (dlx/scripts/init_indexes.py:14-193): where the
  * reference declares Mongo index definitions, the Spark engine's
  * "indexes" are derived DataFrames — one entry point materializes all
  * three (tag index, browse index, auth-heading dimension) to parquet
  * under the store base. An explicit full rebuild is O(table) by
  * design; incremental maintenance is the streaming module's job. */
object InitIndexes {
  def main(args: Array[String]): Unit = {
    val (spark, preExisting) = Cli.obtainSession()
    val base = args.headOption.getOrElse(sys.error("usage: InitIndexes <base>"))
    val store = new MarcStore(spark, base)
    val records = store.read("bib").unionByName(store.read("auth"))
    MarcContext.tagIndex(records.toDF()).write.mode("overwrite").parquet(s"$base/tag_index")
    MarcContext.browseIndex(DerivedColumns.derive(records).toDF())
      .write.mode("overwrite").parquet(s"$base/browse_index")
    MarcContext.authHeadings(store.read("auth").toDF())
      .write.mode("overwrite").parquet(s"$base/headings")
    println(s"indexes materialized at $base/{tag_index,browse_index,headings}")
    Cli.release(spark, preExisting)
  }
}

/** marc-import analog (dlx/scripts/marc_import.py): read .mrk/.xml
  * files into the store. Auth control runs AFTER the parse as a batch
  * join against the auth dimension ([[graft.spark.BatchAuthResolve]])
  * — the parse itself is auth-free, so the import never collects the
  * auth table to the driver (round-9 verdict #4; the old path built a
  * row-level AuthIndex from `store.read("auth").collect()`, a driver
  * OOM against a real authority file). Same per-subfield xlookup /
  * $0-capture / resolve_ambiguous semantics, same raises. */
object MarcImport {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MarcImport <base> <recordType> <file.mrk|file.xml>")
    val Array(base, recordType, path) = args.take(3)
    val (spark, preExisting) = Cli.obtainSession()
    val store = new MarcStore(spark, base)
    implicit val auth: AuthLookup = AuthLookup.Empty
    val content = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val isXml = path.endsWith(".xml")
    val parsed =
      if (isXml)
        Serialization.setFromXml(recordType, content, authControl = false,
          deleteSubfieldZero = false)
      else Serialization.setFromMrk(recordType, content, authControl = false,
        deleteSubfieldZero = false)
    // $0 capture is FORMAT-SPECIFIC in the reference (XML digit-filters
    // the node text, MRK requires digits right after $0) — pick the
    // matching rule for the resolver
    val records = graft.spark.BatchAuthResolve.resolve(
      spark, store.read("auth").toDF(), recordType, parsed,
      zeroXref = if (isXml) graft.spark.BatchAuthResolve.xmlZeroXref
        else graft.spark.BatchAuthResolve.mrkZeroXref)
    store.commit(MarcSchema.toDataset(spark, records), user = "marc-import")
    println(s"imported ${records.length} $recordType records")
    Cli.release(spark, preExisting)
  }
}

/** auth-merge analog (dlx/scripts/auth_merge.py): rewrite xrefs from
  * losing -> gaining across bibs and auths, delete the losing auth,
  * stamp the losing/gaining pair into merge_log. */
object AuthMerge {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AuthMerge <base> <gaining> <losing>")
    val Array(base, gainingS, losingS) = args.take(3)
    val (gaining, losing) = (gainingS.toLong, losingS.toLong)
    val (spark, preExisting) = Cli.obtainSession()
    val store = new MarcStore(spark, base)
    store.merge(gaining, losing, user = "auth-merge")
    println(s"merged auth $losing into $gaining")
    Cli.release(spark, preExisting)
  }
}

/** clear-incrementers analog (dlx/scripts/clear_incrementers.py): a
  * no-op in batch (ids derive from max over live ∪ history). */
/** excel_marc analog (dlx/scripts/excel_marc.py): xlsx -> records ->
  * mrc|mrk|xml on stdout or a file. With a defaults workbook, its
  * single record is zmerged into every row and the 008 is re-spliced
  * from 049$a (pos 15-17) and 041$a (pos 35-37) before set_008 —
  * the script's exact positional surgery (excel_marc.py:31-43).
  * auth_control stays off, like the script. No Spark session: this is
  * a pure serialization pass. */
object ExcelMarc {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExcelMarc <file.xlsx> <bib|auth> <mrc|mrk|xml> [out] [defaults.xlsx]")
    val (path, recordType, format) = (args(0), args(1), args(2))
    implicit val auth: AuthLookup = AuthLookup.Empty
    var records = graft.records.ExcelSerialization
      .fromExcel(path, recordType, authControl = false)
    args.lift(4).foreach { dp =>
      val defaults = graft.records.ExcelSerialization
        .fromExcel(dp, recordType, authControl = false).head
      records = records.map { r0 =>
        val r = r0.zmerge(defaults)
        val base = r.getValue("008").padTo(40, '|').mkString
        val spliced = base.substring(0, 15) +
          r.getValue("049", "a").padTo(3, '|').mkString +
          base.substring(18, 35) +
          r.getValue("041", "a").take(3).padTo(3, '|').mkString +
          base.substring(38, 40)
        r.set("008", null, spliced).set008()
      }
    }
    val rendered = format match {
      case "mrc" => Serialization.setToMrc(records)
      case "mrk" => Serialization.setToMrk(records)
      case "xml" => Serialization.setToXml(records)
      case other => sys.error(s"unknown format: $other")
    }
    args.lift(3) match {
      case Some(out) => java.nio.file.Files.write(
        java.nio.file.Paths.get(out), rendered.getBytes("UTF-8")); println(s"wrote $out")
      case None => print(rendered)
    }
  }
}

object ClearIncrementers {
  def main(args: Array[String]): Unit =
    println("no persistent id counters in the Spark engine: ids derive from max(live ∪ history)")
}
