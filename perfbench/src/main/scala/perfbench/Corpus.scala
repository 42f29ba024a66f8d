package perfbench

import graft.auth.AuthIndex
import graft.model.{DataField, MarcRecord, Subfield}
import graft.queries.RealMarc
import graft.spark.{MarcRow, MarcSchema}
import graft.store.MarcStore
import org.apache.spark.sql.{Dataset, SparkSession}

/** The benchmark corpus: the RealMarc generator relations (Zipfian
  * three-token headings, tiered attachment skew) at `factor` times the
  * gate size, collected once into the JVM. The arrays are the ground
  * truth every check replays against; the store is built from them. */
final class Corpus(val headings: Array[String], val titles: Array[String],
    val xrefs: Array[Long]) {
  def nAuths: Int = headings.length
  def nBibs: Int = titles.length

  /** heading -> number of auths carrying it (the generator has rare
    * whole-heading collisions; an exact-heading search hits all of them). */
  lazy val headingCount: Map[String, Int] =
    headings.groupMapReduce(identity)(_ => 1)(_ + _)

  /** attached bibs per auth id. */
  lazy val attachedCount: Array[Int] = {
    val a = new Array[Int](nAuths)
    xrefs.foreach(x => a(x.toInt) += 1)
    a
  }

  def authRecord(id: Long, heading: String): MarcRecord =
    MarcRecord(recordType = "auth", id = Some(id),
      fields = Vector(DataField("150", " ", " ", Vector(Subfield("a", Some(heading))))))

  /** A bib as the editor saves it: 650$a linked by xref, value unset. */
  def bibRecord(id: Long, title: String, xref: Long): MarcRecord =
    MarcRecord(recordType = "bib", id = Some(id),
      fields = Vector(
        DataField("245", " ", " ", Vector(Subfield("a", Some(title)))),
        DataField("650", " ", " ", Vector(Subfield("a", None, Some(xref))))))

  lazy val authRecords: Vector[MarcRecord] =
    headings.indices.iterator.map(i => authRecord(i.toLong, headings(i))).toVector

  /** In-memory auth index over the generated auths: resolves linked
    * headings into each bib's text/words/logical columns at load. */
  lazy val authIndex: AuthIndex = new AuthIndex(authRecords)
}

object Corpus {
  /** x1, the RealMarc gate size: set-up and one catalog cycle already
    * take about a minute per run at this size (see README.md). */
  val factor = 1

  def generate(spark: SparkSession): Corpus = {
    val nA = RealMarc.nAuths * factor
    val nB = RealMarc.nBibs * factor
    val headings = new Array[String](nA.toInt)
    RealMarc.authsRelN(spark, nA).collect().foreach(r =>
      headings(r.getAs[Long]("auth_id").toInt) = r.getAs[String]("heading"))
    val titles = new Array[String](nB.toInt)
    val xrefs = new Array[Long](nB.toInt)
    RealMarc.bibsRelN(spark, nA, nB).collect().foreach { r =>
      val i = r.getAs[Long]("bib_id").toInt
      titles(i) = r.getAs[String]("title")
      xrefs(i) = r.getAs[Number]("xref").longValue
    }
    new Corpus(headings, titles, xrefs)
  }

  def authRows(spark: SparkSession, c: Corpus): Dataset[MarcRow] =
    MarcSchema.toDataset(spark, c.authRecords)(c.authIndex)

  def bibRows(spark: SparkSession, c: Corpus): Dataset[MarcRow] =
    MarcSchema.toDataset(spark,
      c.titles.indices.map(i => c.bibRecord(i.toLong, c.titles(i), c.xrefs(i))))(c.authIndex)

  /** The corpus saved by [[save]]. */
  def read(file: java.io.File): Corpus = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(file)))
    try {
      val headings = Array.fill(in.readInt())(in.readUTF())
      val n = in.readInt()
      val titles = new Array[String](n)
      val xrefs = new Array[Long](n)
      (0 until n).foreach { i => titles(i) = in.readUTF(); xrefs(i) = in.readLong() }
      new Corpus(headings, titles, xrefs)
    } finally in.close()
  }

  /** Written to a temporary file and renamed, so a run stopped midway
    * leaves no partial corpus behind. */
  def save(c: Corpus, file: java.io.File): Unit = {
    val tmp = new java.io.File(file.getPath + ".tmp")
    file.getAbsoluteFile.getParentFile.mkdirs()
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp)))
    try {
      out.writeInt(c.nAuths)
      c.headings.foreach(out.writeUTF)
      out.writeInt(c.nBibs)
      c.titles.indices.foreach { i => out.writeUTF(c.titles(i)); out.writeLong(c.xrefs(i)) }
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, file.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Load the corpus into a fresh store: auths first (bib validation
    * resolves against them), then bibs. */
  def load(spark: SparkSession, c: Corpus, dir: String): MarcStore = {
    val store = new MarcStore(spark, dir)
    store.commit(authRows(spark, c), user = "loader")
    store.commit(bibRows(spark, c), user = "loader")
    store
  }
}
