package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftParquetWriteShim, GraftRowFileWriter, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** One file a write task produced: leaf name, exact length (the
  * manifest's `@files` entry), row count, and the footer stats of the
  * requested columns plus `_rows` (empty when none were requested).
  */
private[graft] case class WrittenFile(name: String, bytes: Long, rows: Long,
                                      stats: Map[String, FileStats.ColStat])

/** The files one [[Snapshots.writeFiles]] call staged under `rel`. */
private[graft] case class WrittenDir(rel: String, files: Seq[WrittenFile]) {
  def entries: Seq[(String, Long)] = files.map(f => s"$rel/${f.name}" -> f.bytes)
  def rows: Long = files.map(_.rows).sum
}

/** What every task of one write needs, shipped once: the engine's
  * parquet writer factory and job conf, the target dir, a per-write
  * stem that keeps leaf names unique across writes (deletion vectors
  * key on them), and the stats columns (None: no footer read,
  * Some(empty): every eligible column).
  */
private[graft] case class PartWriterSpec(dir: String, stem: String, schema: StructType,
                                         factory: java.io.Serializable,
                                         conf: java.io.Serializable,
                                         statsCols: Option[Set[String]])

private[graft] object PartWriterSpec {
  def apply(s: SparkSession, dir: String, schema: StructType,
            statsCols: Option[Set[String]]): PartWriterSpec = {
    val (factory, conf) = GraftParquetWriteShim.writerSetup(s, schema)
    PartWriterSpec(dir, java.util.UUID.randomUUID().toString, schema, factory, conf, statsCols)
  }
}

/** The lake's per-task parquet writer, behind both [[Snapshots.writeFiles]]
  * and the streaming table sink's `DataWriter`. Its file is attempt-unique
  * (partition, write stem, task attempt) and opened LAZILY, so an empty
  * partition writes nothing; commit reads back the footer it just closed.
  */
private[graft] final class PartFileWriter(spec: PartWriterSpec, partitionId: Int, taskId: Long) {
  private var writer: GraftRowFileWriter = _
  private var path: Path = _
  private var rows = 0L
  private def conf = GraftParquetWriteShim.hadoopConf(spec.conf)

  private def open(): Unit = {
    writer = GraftParquetWriteShim.open(spec.factory, spec.conf, spec.dir,
      f"part-$partitionId%05d-${spec.stem}-$taskId", spec.schema, partitionId, taskId)
    path = new Path(writer.path)
  }

  def write(row: InternalRow): Unit = {
    if (writer == null) open()
    writer.write(row)
    rows += 1
  }

  /** Close and report the file; None when no row arrived, unless
    * `keepEmpty` asks for a rowless file that carries the schema.
    */
  def commit(keepEmpty: Boolean = false): Option[WrittenFile] = {
    if (writer == null && !keepEmpty) return None
    if (writer == null) open()
    close()
    val stats = spec.statsCols.fold(Map.empty[String, FileStats.ColStat])(
      FileStats.footerStats(conf, path, _))
    Some(WrittenFile(path.getName, path.getFileSystem(conf).getFileStatus(path).getLen, rows, stats))
  }

  /** Drop the task's own file: a failed attempt leaves nothing. */
  def abort(): Unit = {
    try close() catch { case _: Throwable => () }
    if (path != null) path.getFileSystem(conf).delete(path, false)
  }

  def close(): Unit = if (writer != null) { val w = writer; writer = null; w.close() }
}

private[graft] object PartFileWriter {

  /** Write `df` as ONE job: each task streams its partition through a
    * [[PartFileWriter]]; returns the files in partition order.
    */
  def writeAll(df: DataFrame, spec: PartWriterSpec): Seq[WrittenFile] =
    GraftParquetWriteShim.runPartitions(df) { (partitionId, taskId, rows) =>
      val w = new PartFileWriter(spec, partitionId, taskId)
      try { rows.foreach(w.write); w.commit() }
      catch { case t: Throwable => w.abort(); throw t }
    }.toSeq.flatten
}
