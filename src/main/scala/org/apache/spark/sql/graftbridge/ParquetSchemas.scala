package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side schema resolution for the parquet relations graft
  * writes itself (store relations, corpus tables).
  *
  * A schemaless `spark.read.parquet(dir)` launches a one-task Spark
  * job (`parquet at ...`) that reads a footer and converts it:
  * 50-150 ms per read on a 4-core host, several per store query.
  * Every file of a graft-written
  * relation carries the same schema, so the inference job's result is
  * one footer's conversion: done here on the driver with Spark's own
  * footer reader and converter (`readSchemaFromFooter` over a
  * `ParquetToSparkSchemaConverter` built from the session conf — the
  * per-footer step the job runs, honouring `nanosAsLong`,
  * `binaryAsString` and the TIMESTAMP_NTZ inference flag), then handed
  * to `spark.read.schema`. Partition discovery still runs on the
  * reader and appends `__bucket`/`__cell` exactly as before, so the
  * output schema is unchanged (StorePlanningSpec pins equality with
  * `spark.read.parquet(dir).schema` for every store relation and
  * corpus table).
  *
  * Not for foreign inputs: user globs and files from other writers
  * may disagree across files, where Spark's inference (and its
  * mergeSchema option) is the contract — `ParquetSource` keeps it.
  */
object ParquetSchemas {

  /** The data schema Spark's inference would produce for `path` (a
    * file or a possibly partitioned directory), from the first data
    * file in name order; None when there is no data file, or when the
    * relation carries parquet summary files (which Spark's inference
    * prefers — left to it). */
  def resolve(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    firstDataFile(p.getFileSystem(conf), p).map { f =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(session.sessionState.conf))
    }
  }

  /** `spark.read` with the schema of `root` already set, or plain
    * `spark.read` when none resolves — the caller's read then fails
    * (or infers) exactly as an unresolved read always did. */
  def reader(spark: SparkSession, root: String): DataFrameReader =
    resolve(spark, root).fold(spark.read)(spark.read.schema(_))

  /** `spark.read.parquet(path)` without the schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    reader(spark, path).parquet(path)

  private def isSummary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  /** Depth-first over name-sorted children, skipping what Spark's file
    * index skips (`_`/`.` names that are not `k=v` dirs, `._COPYING_`). */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val st = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return None }
    if (!st.isDirectory) return Some(st)
    val children = fs.listStatus(p)
    if (children.exists(c => isSummary(c.getPath.getName))) return None
    children.filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(c => if (c.isDirectory) firstDataFile(fs, c.getPath) else Some(c))
      .nextOption()
  }
}
