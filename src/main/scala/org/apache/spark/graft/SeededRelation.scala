package org.apache.spark.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** A parquet relation opened from what its caller already knows: the
  * file set and the schema. `spark.read.parquet` re-discovers both —
  * a listing (a Spark job once a read names more than
  * `parallelPartitionDiscovery.threshold` paths) and a schema-inference
  * job over a footer — on every open of a layout the engine wrote
  * itself. Here the file index is seeded with the caller's statuses,
  * partition values come from the `name=<int>` directory names, and
  * the schema from one footer read on the driver: opening runs no job.
  * The plan is the one `spark.read.parquet` builds (a V1
  * `HadoopFsRelation` scan), so partition pruning and pushed filters
  * behave as before.
  */
object SeededRelation {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The data schema of one parquet file, read from its footer on the
    * driver with Spark's own footer-to-schema step and the session's
    * parquet settings — what non-merging inference returns when this
    * file is the first one it sees.
    */
  def footerSchema(spark: SparkSession, file: Path): StructType = {
    val state = classic(spark).sessionState
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** One relation over `own` (the files under `ownRoot`) and `carried`
    * (source root → files read from it). With `partitionColumn` set,
    * every file sits in a `column=<int>` directory and that column is
    * appended to `schema` as the partition column; without it the files
    * sit directly in their root. `refresh()` (and `refreshByPath` of a
    * cached frame) re-resolves the own files through `relistOwn` and
    * never lists a carried root: those roots can hold files the caller
    * did not name.
    */
  def open(spark: SparkSession, schema: StructType,
           partitionColumn: Option[String],
           ownRoot: Path, own: Seq[FileStatus], relistOwn: () => Seq[FileStatus],
           carried: Map[Path, Seq[FileStatus]] = Map.empty): DataFrame = {
    require(!carried.contains(ownRoot), s"$ownRoot is both own and carried")
    val cache = new SeededCache(ownRoot, own, relistOwn, carried)
    val roots = ownRoot +: carried.keys.toSeq.sortBy(_.toString)
    val index = new SeededIndex(spark, roots, cache, partitionColumn)
    classic(spark).baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The index's only source of files: every root answers from here, so
    * the index never lists one itself. */
  private final class SeededCache(
      ownRoot: Path, own: Seq[FileStatus], relistOwn: () => Seq[FileStatus],
      carried: Map[Path, Seq[FileStatus]]) extends FileStatusCache {
    @volatile private var ownFiles: Array[FileStatus] = own.toArray
    private val carriedFiles = carried.map { case (r, fs) => r -> fs.toArray }

    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == ownRoot) Some(ownFiles) else carriedFiles.get(path)

    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()

    override def invalidateAll(): Unit = ownFiles = relistOwn().toArray
  }

  private final class SeededIndex(
      spark: SparkSession, roots: Seq[Path], cache: FileStatusCache,
      val partitionColumn: Option[String])
      extends InMemoryFileIndex(spark, roots, Map.empty, None, cache) {

    @volatile private var spec: PartitionSpec = _

    override def partitionSpec(): PartitionSpec = {
      if (spec == null) spec = partitionColumn.fold(PartitionSpec.emptySpec) { c =>
        PartitionSpec(StructType(Seq(StructField(c, IntegerType))),
          leafDirToChildrenFiles.keys.toSeq
            .filter(_.getName.startsWith(s"$c="))
            .sortBy(_.toString)
            .map(d => PartitionPath(
              InternalRow(d.getName.stripPrefix(s"$c=").toInt), d)))
      }
      spec
    }

    override def refresh(): Unit = { super.refresh(); spec = null }

    // the cache manager matches relations by equality: two opens that
    // read the same files are one relation, while a probe-restricted open
    // (fewer files under the same roots) must never stand in for a full one
    override def equals(o: Any): Boolean = o match {
      case i: SeededIndex => rootPaths.toSet == i.rootPaths.toSet &&
        partitionColumn == i.partitionColumn && leafFiles.keySet == i.leafFiles.keySet
      case _ => false
    }
    override def hashCode(): Int = rootPaths.toSet.hashCode
  }
}
