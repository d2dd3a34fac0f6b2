package org.apache.spark.sql.graft

import java.io.{CharArrayWriter, Closeable, FileNotFoundException}
import java.time.ZoneId

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{HadoopFSUtils, SerializableConfiguration}

/** Spark's own row decoding and rendering, run on the driver without a
  * Spark job: what a Parquet scan task and `Dataset.toJSON` do, for
  * rows that fit on the driver. Also the two conversions between a
  * DataFrame and the RDD of its internal rows that a merge job runs
  * its tasks on. Lives under org.apache.spark.sql because the reader,
  * the JSON generator, the datetime helpers and those conversions are
  * `private[sql]` / `private[spark]`.
  */
object DriverReads {

  /** The data files under `dir`, at any depth, in path order. Names
    * that Spark's file index treats as hidden (`_temporary`,
    * `_SUCCESS`, `.crc` files, …) are skipped at every level below
    * `dir`; `dir`'s own path is never tested, so a store under a
    * hidden directory still reads. An absent `dir` has no files.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    children(fs, dir)
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap(s => if (s.isDirectory) dataFiles(fs, s.getPath) else Seq(s))

  /** The entries directly under `dir`; none when it does not exist. */
  def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** The session time zone, as Spark's datetime expressions resolve it. */
  def sessionZone(spark: SparkSession): ZoneId =
    DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)

  /** `s` as microseconds since the epoch, parsed as a string → timestamp
    * cast (and so `to_timestamp(s)`) parses it in `zone`; `None` when
    * `s` is not a timestamp.
    */
  def parseTimestamp(s: String, zone: ZoneId): Option[Long] =
    DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone)

  /** The formatter `date_format(ts, pattern)` uses in the session zone. */
  def timestampFormatter(spark: SparkSession, pattern: String): TimestampFormatter =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      TimestampFormatter(pattern, sessionZone(spark), LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = false, forTimestampNTZ = false)
    }

  /** `rows` (owned, in `schema`'s order) as a DataFrame over a local
    * relation: no file is read again when it runs.
    */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The RDD Spark runs for `df`'s plan. Its rows may be reused between
    * calls to `next`: copy what is kept. An adaptive plan runs its
    * shuffle stages here; any other plan runs nothing until the RDD
    * does.
    */
  def rows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** `rows` (in `schema`'s order) as a DataFrame, computed as part of
    * the job that runs the frame.
    */
  def frame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow]): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}

/** Spark's Parquet reader for the partition directories of a table
  * whose rows have `schema`, with `partitionColumns` (string-typed
  * columns of `schema`) taken from the directory names instead of the
  * files. Built once on the driver: building broadcasts the Hadoop
  * configuration. [[foreach]] may run on many threads at once, and in
  * tasks: the reader is serializable.
  */
final class PartitionReader(spark: SparkSession, schema: StructType, partitionColumns: Seq[String])
    extends Serializable {
  require(partitionColumns.forall(c => schema(c).dataType == StringType),
    s"partition columns must be strings: ${partitionColumns.mkString(",")}")

  private val partitionSchema = StructType(partitionColumns.map(schema(_)))
  private val dataSchema = StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
  /** Shipped inside the tasks that use the reader, not broadcast, so a
    * reader used only on the driver costs no second broadcast.
    */
  private val hadoopConf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
  private val read = new ParquetFileFormat().buildReaderWithPartitionValues(
    spark, dataSchema, partitionSchema, dataSchema, Nil,
    Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf.value)

  /** The reader emits data columns then partition columns; this puts
    * each row in `schema`'s order. One per thread: a projection reuses
    * its output row.
    */
  @transient private lazy val toSchemaOrder = {
    val readOrder = (dataSchema ++ partitionSchema).map(_.name)
    ThreadLocal.withInitial(() => UnsafeProjection.create(schema.map(f =>
      BoundReference(readOrder.indexOf(f.name), f.dataType, f.nullable))))
  }

  /** The file system of `path`, under the reader's Hadoop configuration. */
  def fileSystem(path: Path): FileSystem = path.getFileSystem(hadoopConf.value)

  /** Calls `f` on every row of the data files under `dir` (see
    * [[DriverReads.dataFiles]]), whose partition columns hold
    * `partitionValues`. `f` sees one reused row: it must copy what it
    * keeps. Every file is read to its end or closed, since no task
    * completion closes it on the driver.
    */
  def foreach(dir: Path, partitionValues: Seq[String])(f: InternalRow => Unit): Unit = {
    val values = InternalRow.fromSeq(partitionValues.map(UTF8String.fromString))
    val project = toSchemaOrder.get
    DriverReads.dataFiles(fileSystem(dir), dir).foreach { file =>
      val rows = read(PartitionedFile(values, SparkPath.fromPath(file.getPath), 0, file.getLen,
        modificationTime = file.getModificationTime, fileSize = file.getLen))
      try rows.foreach(r => f(project(r)))
      finally rows match {
        case c: Closeable => c.close()
        case _ =>
      }
    }
  }
}

/** `Dataset.toJSON` for rows of `schema` already on the driver: the
  * same generator with the same options (none, plus the session time
  * zone), so the text is byte for byte what `toJSON` returns. One
  * generator per thread.
  */
final class JsonRows(spark: SparkSession, schema: StructType) {
  private val conf = spark.sessionState.conf
  private val options = SQLConf.withExistingConf(conf) {
    new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone)
  }
  private val generators = ThreadLocal.withInitial { () =>
    val out = new CharArrayWriter()
    (out, SQLConf.withExistingConf(conf)(new JacksonGenerator(schema, out, options)))
  }

  def apply(row: InternalRow): String = {
    val (out, gen) = generators.get
    gen.write(row)
    gen.flush()
    try out.toString finally out.reset()
  }
}
