package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The read relation of a store table, built by the store instead of
  * discovered by Spark. `spark.read.parquet` on a 64-bucket table
  * runs two jobs when the plan is created: a parallel listing of the
  * bucket dirs (64 dirs exceed parallelPartitionDiscovery.threshold)
  * and a footer read to infer a schema the store already knows. Here
  * the listing is one walk on the driver (store tables live on the
  * local FS, like the renames that swap their buckets in) and the
  * schema is the one the store writes, so reading a new table
  * generation starts no Spark job. Shared by MarcStore and FileStore. */
object StoreTables {

  /** Relation over the `*.parquet` leaves under `path` with
    * `schema` as its data schema (partition columns, e.g. `id_bucket`,
    * are inferred from the leaf dirs exactly as `spark.read.parquet`
    * infers them). None when the table has no data file — never
    * written, or a delete emptied every bucket — so the caller keeps
    * its empty plan. */
  def read(spark: SparkSession, path: String, schema: StructType): Option[DataFrame] = {
    val rootDir = new java.io.File(path).getAbsoluteFile
    val root = new Path("file", null, rootDir.getPath)
    val leaves = Array.newBuilder[FileStatus]
    // Spark's listing filter: `_`- and `.`-prefixed names (_SUCCESS,
    // .crc sidecars, _temporary) are not data
    def walk(dir: java.io.File, dirPath: Path): Unit = {
      val children = dir.listFiles()
      if (children != null) children.foreach { f =>
        val name = f.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val p = new Path(dirPath, name)
          if (f.isDirectory) walk(f, p)
          else if (name.endsWith(".parquet"))
            leaves += new FileStatus(f.length, false, 1, LocalBlockSize, f.lastModified, p)
        }
      }
    }
    walk(rootDir, root)
    val files = leaves.result()
    if (files.isEmpty) None
    else {
      val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None,
        new SnapshotCache(root, files))
      val partCols = index.partitionSchema.fieldNames.toSet
      val dataSchema = StructType(nullable(schema).asInstanceOf[StructType]
        .filterNot(f => partCols.contains(f.name)))
      Some(spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        dataSchema, None, new ParquetFileFormat, Map.empty)(spark)))
    }
  }

  /** Hadoop's local-FS default block size (`fs.local.block.size`), the
    * value Spark's own listing would report for these files. */
  private val LocalBlockSize = 32L * 1024 * 1024

  /** File sources read every field as nullable, nested ones included. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Serves the index its one listing of `root`. A `refresh()` of the
    * index (e.g. `spark.catalog.refreshByPath` over a cached plan)
    * calls `invalidateAll` first, so the snapshot is dropped and the
    * index re-lists from disk, as an index over Spark's own listing
    * does. */
  private final class SnapshotCache(root: Path, files: Array[FileStatus]) extends FileStatusCache {
    @volatile private var snapshot: Option[Array[FileStatus]] = Some(files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) snapshot else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = snapshot = None
  }
}
