package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters (Spark 4.x
  * moved Column onto ColumnNode; classic.ExpressionUtils is the sanctioned
  * internal conversion). Lives in the org.apache.spark.sql package purely
  * for access; graft code calls it via graft.functions.functions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Column → a REAL Catalyst expression tree (not the lazy
    * ColumnNodeExpression wrapper [[expression]] returns, which only
    * classic-Dataset plan construction unwraps — handed to the
    * analyzer from a FunctionBuilder it would reach codegen unresolved).
    * Children may be UnresolvedFunction — the analyzer resolves them
    * like any parsed SQL.
    */
  def columnExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a custom LogicalPlan (classic Dataset.ofRows). */
  def ofRows(s: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Deep nullability normalization (`DataType.asNullable` is
    * private[spark]): schema-compatibility checks that ignore TOP-level
    * nullability must ignore NESTED nullability too, or a struct column
    * round-tripped through SQL literals (non-null fields) fails an
    * append into its own table.
    */
  def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt.asNullable

  /** Catalyst predicate → v1 source Filter (the engine's own pushdown
    * translation; `protected[sql]`, hence bridged here). Used by the
    * SQL UPDATE command rule to reuse DELETE's range translation.
    */
  def translateFilter(predicate: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = false)
}

/** Zero-listing parquet reads for the Snapshots lake. A stock
  * `spark.read.parquet(paths…)` pays two driver-side metadata costs per
  * query: an InMemoryFileIndex LISTING of every path and a footer read
  * for SCHEMA INFERENCE. At a 100-TB snapshot (10⁵-10⁶ files) that
  * per-query O(files) metadata walk is the classic lake bottleneck the
  * open table formats solve with checkpointed metadata (Delta's
  * _delta_log checkpoint, Iceberg's manifest lists — public designs).
  * The graft manifest records schema + (file, length) per table at
  * COMMIT time, so reads plan from the manifest alone: this shim turns
  * that recorded metadata into a standard v1 parquet relation — same
  * FileSourceStrategy, same pushdown/pruning/vectorized scan — whose
  * FileIndex is a pure in-memory lookup (no RPCs, no listing).
  *
  * Lives here because [[GraftShim.ofRows]] needs the classic session;
  * the datasource classes themselves (FileIndex, HadoopFsRelation,
  * LogicalRelation, ParquetFileFormat) are the public extension surface
  * the Delta connector builds on.
  */
object GraftLakeShim {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.types.StructType

  /** FileIndex fully determined by manifest metadata — listFiles never
    * touches a filesystem for the file LIST. Lengths must be EXACT
    * (they drive split planning and footer location); modification
    * times are irrelevant to the scan and recorded as 0.
    *
    * `pruner` is the plan-time DATA-SKIPPING hook (Delta's
    * TahoeFileIndex idea, public design): given the scan's pushed data
    * filters it may return the set of file paths that MIGHT hold
    * matching rows (None = no information, keep all). Skipping is an
    * advisory accelerator under the exact filters the scan applies
    * anyway — a pruner failure falls back to the full list rather than
    * failing the plan.
    */
  private final class ManifestFileIndex(
      files: Seq[FileStatus],
      pruner: Seq[Expression] => Option[Set[String]]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val kept =
        if (dataFilters.isEmpty) files
        else try pruner(dataFilters) match {
          case Some(keep) => files.filter(f => keep.contains(f.getPath.toString))
          case None => files
        } catch { case _: Exception => files }
      Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
    }
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
  }

  /** Parquet DataFrame over an explicit (path, length) file list with a
    * known schema: zero listing, zero schema inference. An empty file
    * list yields a valid empty relation with the schema intact.
    * `pruner` (optional) wires sidecar-stats data skipping into the
    * scan's file listing — see [[ManifestFileIndex]].
    */
  def parquetByManifest(s: SparkSession, files: Seq[(String, Long)], schema: StructType,
                        pruner: Seq[Expression] => Option[Set[String]] = _ => None): DataFrame = {
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 1, 128L << 20, 0L, new Path(p))
    }
    val relation = HadoopFsRelation(
      location = new ManifestFileIndex(statuses, pruner),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(s.asInstanceOf[classic.SparkSession])
    GraftShim.ofRows(s, LogicalRelation(relation, false))
  }
}

/** Executor-side parquet row reading for the change-feed streaming
  * source. `FileFormat.buildReaderWithPartitionValues` is the engine's
  * own file→rows closure (the exact function FileSourceScanExec ships
  * to executors — vectorized reader, predicate handling, schema
  * conversion all included); it is `private[sql]`, so the call lives
  * here. The returned closure may yield ColumnarBatch objects disguised
  * as InternalRow when the vectorized reader engages (a documented
  * Spark internality FileScanRDD normalizes) — [[flattenRows]] performs
  * the same normalization for DSv2 partition readers.
  */
object GraftReadShim {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
  import org.apache.spark.sql.types.StructType

  def parquetRowReader(s: SparkSession, dataSchema: StructType,
                       tryBatch: Boolean = false):
      PartitionedFile => Iterator[InternalRow] = {
    val cs = s.asInstanceOf[classic.SparkSession]
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    // `tryBatch` engages the VECTORIZED reader when the schema supports
    // it — per-row materialization in the row-mode ParquetRecordReader
    // allocates a fresh object tree per row, which shows up as GC in
    // any hot feed; ColumnarBatch + rowIterator reuses one mutable row
    // view over the column vectors ([[flattenRows]] normalizes either
    // shape to InternalRows for DSv2 partition readers).
    val batch = tryBatch && fmt.supportBatch(cs, dataSchema)
    fmt.buildReaderWithPartitionValues(
        sparkSession = cs,
        dataSchema = dataSchema,
        partitionSchema = StructType(Nil),
        requiredSchema = dataSchema,
        filters = Nil,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> batch.toString),
        hadoopConf = cs.sessionState.newHadoopConf())
  }

  // parameter type Any, not InternalRow: the reader closure's iterator
  // LIES about its element type when the vectorized reader engages
  // (ColumnarBatch disguised as InternalRow — documented Spark
  // internality), and a lambda typed over InternalRow would checkcast
  // before the ColumnarBatch pattern could ever match
  def flattenRows(it: Iterator[_]): Iterator[InternalRow] =
    it.flatMap { (e: Any) =>
      e match {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
          import scala.jdk.CollectionConverters._
          b.rowIterator().asScala
        case r => Iterator.single(r.asInstanceOf[InternalRow])
      }
    }

  def partitionedFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(
      partitionValues = InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(path),
      start = 0L,
      length = length,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = length)
}

/** Distributed parquet writing for every lake write — the batch write
  * seam (`Snapshots.writeFiles`) and the streaming table sink
  * (`writeStream.toTable` on a graft lake table) share one per-task
  * writer, `graft.sources.PartFileWriter`, built on this bridge. Per-task
  * writers produce the SAME parquet bytes `df.write.parquet` would — the
  * engine's own `ParquetWriteSupport`/`ParquetUtils.prepareWrite`
  * factory (codec, timestamp/decimal layout, all session parquet
  * confs), obtained on the DRIVER and shipped serialized exactly as
  * FileFormatWriter ships it. Bridged here because the factory types
  * are `private[sql]`; graft code holds them as opaque Serializable.
  */
object GraftParquetWriteShim {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.OutputWriterFactory
  import org.apache.spark.sql.types.StructType

  /** Driver-side: (writer factory, job conf carrying the write schema
    * and parquet settings) — both serializable to executors. The job
    * conf matters: the parquet WriteSupport reads the row schema from
    * the task's configuration, which prepareWrite installs.
    */
  def writerSetup(spark: SparkSession, schema: StructType)
      : (java.io.Serializable, java.io.Serializable) = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = classic.sessionState.conf
    val job = Job.getInstance(classic.sessionState.newHadoopConf())
    val factory = org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .prepareWrite(sqlConf, job, schema,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetOptions(
          Map.empty[String, String], sqlConf))
    (factory, new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  /** Open a parquet writer at `dir/stem` plus the factory's own file
    * extension (codec-tagged, e.g. `.snappy.parquet`). Executor-side
    * for task files, driver-side for a schema-carrier file.
    */
  def open(factory: java.io.Serializable, conf: java.io.Serializable,
           dir: String, stem: String, schema: StructType, partitionId: Int,
           taskId: Long): GraftRowFileWriter = {
    val f = factory.asInstanceOf[OutputWriterFactory]
    val ctx = new TaskAttemptContextImpl(new Configuration(hadoopConf(conf)),
      new TaskAttemptID(new TaskID(new JobID("graftwrite", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt))
    new GraftRowFileWriter(f.newInstance(s"$dir/$stem${f.getFileExtension(ctx)}", schema, ctx))
  }

  /** Executor-side: the shipped Hadoop configuration. */
  def hadoopConf(conf: java.io.Serializable): Configuration =
    conf.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value

  /** Run `df`'s plan ONCE, as one SQL execution (the final stage is one
    * Spark job, exactly as a `df.write` would run it), handing each
    * partition's rows to `task` with the partition index and task
    * attempt id; returns the task results in partition order. The plan
    * is re-planned from `df`'s analyzed plan per call, like every
    * `df.write`, so a retried write re-runs rather than reuses it.
    */
  def runPartitions[T: scala.reflect.ClassTag](df: DataFrame)(
      task: (Int, Long, Iterator[InternalRow]) => T): Array[T] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.sparkSession.sessionState.executePlan(ds.logicalPlan)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        Iterator.single(task(i, org.apache.spark.TaskContext.get.taskAttemptId, rows))
      }.collect()
    }
  }
}

/** Thin public wrapper over the `private[sql]` OutputWriter. */
final class GraftRowFileWriter private[sql](
    w: org.apache.spark.sql.execution.datasources.OutputWriter) {
  def path: String = w.path
  def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}

/** Input-type declaration bridge. `AbstractDataType` (and therefore the
  * `inputTypes` override signature of `ImplicitCastInputTypes`) is
  * private[sql] in Spark 4.1, so the override must be written inside this
  * package; graft expressions implement the public `graftInputTypes`
  * with concrete [[org.apache.spark.sql.types.DataType]]s instead and get
  * analysis-time coercion/rejection (Catalyst inserts casts for e.g.
  * array<double> → array<float>, or fails analysis on non-arrays) rather
  * than executor-side byte-misreads.
  */
trait GraftExpectsInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  def graftInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] = graftInputTypes
}
