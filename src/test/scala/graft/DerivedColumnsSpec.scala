package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.model._
import graft.spark._
import graft.text.Tokenizer

/** The Column derivation of `text`, `words` and `logical`
  * ([[DerivedColumns]]) against its row-level specification
  * (`Tokenizer`, `MarcRecord.logicalFields`): over generated records,
  * and on every path that stores a record. */
class DerivedColumnsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private val noAuth: AuthLookup = AuthLookup.Empty

  /** What the reference's commit stores for `rec`
    * (dlx/marc/__init__.py:953-956, 1321-1347). */
  private def expected(rec: MarcRecord): (String, Seq[String], Map[String, Seq[String]]) = {
    val text = rec.fields.collect { case d: DataField =>
      Tokenizer.scrub(d.subfields.map(_.resolvedValue(noAuth).getOrElse("")).mkString(" "))
    }.mkString(" ")
    (" " + text + " ", Tokenizer.tokenize(text), rec.logicalFields()(noAuth))
  }

  private def derived(r: MarcRow): (String, Seq[String], Map[String, Seq[String]]) =
    (r.text, r.words, r.logical)

  private val valueGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.const(Some("")),
    1 -> Gen.oneOf("B22", "B23").map(Some(_)),
    6 -> Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '.', ',', 'é', 'ü', 'ß'))))
      .map(cs => Some(cs.mkString)))

  // tags in and out of the logical-field config of each record type
  // (020 and 670 are in none)
  private def tagGen(recordType: String): Gen[String] =
    if (recordType == "bib")
      Gen.oneOf("020", "089", "191", "245", "269", "500", "650", "700", "710", "991", "999")
    else Gen.oneOf("100", "110", "150", "191", "450", "550", "591", "670")

  private def fieldGen(recordType: String): Gen[DataField] =
    for {
      tag <- tagGen(recordType)
      n <- Gen.chooseNum(0, 4)
      subs <- Gen.listOfN(n, for {
        c <- Gen.oneOf("a", "b", "c", "d", "g", "z")
        v <- valueGen
      } yield Subfield(c, v))
    } yield DataField(tag, " ", " ", subs.toVector)

  private def recordGen(id: Long): Gen[MarcRecord] =
    for {
      rt <- Gen.frequency(3 -> Gen.const("bib"), 1 -> Gen.const("auth"))
      n <- Gen.chooseNum(0, 6)
      fields <- Gen.listOfN(n, fieldGen(rt))
    } yield MarcRecord(recordType = rt, id = Some(id), fields = fields.toVector)

  private def df(tag: String, subs: (String, Option[String])*): DataField =
    DataField(tag, " ", " ", subs.map { case (c, v) => Subfield(c, v) }.toVector)

  /** Cases the specification singles out. */
  private val fixed: Seq[MarcRecord] = Seq(
    // an empty first $a stops the walk: no subject
    Vector(df("650", "a" -> Some(""), "a" -> Some("Second value"))),
    Vector(df("650", "a" -> Some("First"), "a" -> None, "a" -> Some("Third"))),
    Vector(df("020", "a" -> Some("no logical value"))),
    Vector.empty[DataField],
    // the first type-map entry that matches wins
    Vector(df("089", "b" -> Some("B22"))),
    Vector(df("089", "b" -> Some("B23"))),
    Vector(df("089", "b" -> Some("B23")), df("089", "b" -> Some("B22"))),
    Vector(df("089", "b" -> Some("")), df("089", "b" -> Some("B22"))),
    Vector(df("089", "a" -> Some("x")), df("089", "b" -> Some("B22"))),
    Vector(df("245", "b" -> Some("sub"), "a" -> Some("main"), "a" -> Some("more"))),
  ).zipWithIndex.map { case (fs, i) => MarcRecord(recordType = "bib", id = Some(i.toLong), fields = fs) }

  test("the Column derivation equals Tokenizer and MarcRecord.logicalFields") {
    val params = Gen.Parameters.default
    val generated = (1 to 300).map { i =>
      recordGen(1000L + i).pureApply(params, org.scalacheck.rng.Seed(i.toLong), 100)
    }
    val recs = fixed ++ generated
    assert(generated.exists(r => r.recordType == "auth"))
    assert(recs.exists(r => (r.logicalFields()(noAuth).keySet - "_record_type").isEmpty))
    assert(recs.exists(r => r.logicalFields()(noAuth)("_record_type").head == "speech"))
    assert(recs.exists(r => r.logicalFields()(noAuth)("_record_type").head == "vote"))
    val want = recs.map(r => r.id.get -> expected(r)).toMap
    import MarcSchema.marcRowEncoder
    // on the driver (a toDataset batch is a LocalRelation) and on the
    // executors (behind a shuffle)
    val local = MarcSchema.toDataset(spark, recs)(noAuth).collect()
    val shuffled = DerivedColumns.derive(
      spark.createDataset(recs.map(MarcSchema.toRow(_)(noAuth))).repartition(3)).collect()
    for (rows <- Seq(local, shuffled)) {
      assert(rows.length == recs.length)
      rows.foreach(r => assert(derived(r) == want(r._id), s"record ${r._id}"))
    }
  }

  test("a field with an intra-code gap gets the reference's logical values on every path") {
    def auth(id: Long, heading: String) = MarcRecord(recordType = "auth", id = Some(id),
      fields = Vector(DataField("150", " ", " ", Vector(Subfield("a", Some(heading))))))
    val auths = Seq(auth(1L, "Alpha heading"), auth(2L, "Beta heading"))
    val lk: AuthLookup = new graft.auth.AuthIndex(auths)
    // 500 $a "" $a "Second value": the walk stops at the empty first
    // $a, so the record has no `notes`
    val probe = MarcRecord(recordType = "bib", id = Some(10L), fields = Vector(
      df("500", "a" -> Some(""), "a" -> Some("Second value")),
      DataField("650", " ", " ", Vector(Subfield("a", None, Some(2L))))))
    val dir = java.nio.file.Files.createTempDirectory("derived_columns").toString
    val store = new graft.store.MarcStore(spark, dir)
    def stored(subject: String): Unit = {
      val row = store.read("bib").where(col("_id") === 10L).head()
      assert(derived(row) == expected(MarcSchema.fromRow(row)))
      assert(!row.logical.contains("notes"))
      assert(row.logical("subject") == Seq(subject))
      assert(row.words.contains("second"))
    }
    store.commit(MarcSchema.toDataset(spark, auths)(lk), user = "t")
    store.commit(MarcSchema.toDataset(spark, Seq(probe))(lk), user = "t")
    stored("Beta heading")
    // a heading change cascades to the probe
    store.commit(MarcSchema.toDataset(spark, Seq(auth(2L, "Gamma heading")))(lk), user = "t")
    stored("Gamma heading")
    store.merge(gaining = 1L, losing = 2L, user = "t")
    stored("Alpha heading")
    graft.cli.BuildLogicalFields.main(Array(dir))
    val browse = spark.read.parquet(s"$dir/browse_index")
    assert(browse.where(col("field") === "notes").isEmpty)
    assert(browse.where(col("field") === "subject").select("value").collect()
      .map(_.getString(0)).toSet == Set("Alpha heading"))
  }
}
