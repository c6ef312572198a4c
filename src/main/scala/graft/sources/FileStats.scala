package graft.sources

import java.util.Base64
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession

/** Per-file column min/max statistics harvested from parquet FOOTERS —
  * the data-skipping index the open table formats keep in their
  * manifests (Delta's per-file stats, Iceberg's manifest entries;
  * public knowledge). The reference's users lean on Postgres indexes to
  * avoid full scans (every Example.hs query carries a BETWEEN range
  * predicate, Example.hs:22-56); a lake engine's equivalent is file
  * skipping: a range predicate consults the stats and never opens
  * files whose [min,max] cannot match.
  *
  * Scale contract (100 TB): stats come from footers ALREADY WRITTEN by
  * every parquet writer — never data pages. Each lake write task reads
  * back the footer of the file it just closed and reports the stats
  * with the file ([[PartFileWriter]]), so a write costs no extra job;
  * [[harvest]] (ANALYZE over files staged without stats) reads O(files)
  * footers (a few KB each) as a distributed Spark job over the file
  * list (the Hadoop conf ships as serialized key/value pairs;
  * `SerializableConfiguration` is private[spark]). Pruning is a
  * driver-side filter over the per-file stats (same cost class as
  * Spark's own partition pruning) that feeds the reader an explicit
  * file list — skipped files cost zero IO, zero tasks.
  */
object FileStats {

  /** Stats/bloom declarations accept only top-level ATOMIC columns: a
    * struct/array/map column has no single parquet footer chunk, so a
    * harvest over it would silently record nothing — and an "analyzed"
    * column that never prunes is worse than a refusal. Nested data is
    * conservatively unpruned; predicates on nested fields stay exact
    * residuals.
    */
  private[sources] def requireAtomicCols(table: String,
      schema: org.apache.spark.sql.types.StructType, cols: Seq[String]): Unit =
    cols.foreach { c =>
      schema.fields.find(_.name == c).foreach { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType =>
            throw new IllegalArgumentException(
              s"stats/bloom column '$c' of table '$table' is " +
                s"${f.dataType.simpleString} — footer min/max stats exist only " +
                "for atomic top-level columns (nested data reads stay correct, " +
                "conservatively unpruned)")
          case _ =>
        }
      }
    }

  /** One column's stats within one file. `typ` tags how min/max strings
    * compare: "long" (int32/int64 — ints, dates-as-days,
    * timestamps-as-micros), "double" (float4/8), "string" (UTF8
    * binary, Base64-encoded at rest). min/max are None when the file
    * has no non-null value for the column (all-null chunks). `nulls`
    * is −1 when any row group left its null count unset (pruning never
    * reads it; exact metadata-only aggregates refuse it loudly).
    */
  case class ColStat(typ: String, nulls: Long, min: Option[String], max: Option[String])

  /** Pseudo-column carrying the file's ROW COUNT in the same sidecar
    * shape (min = max = rows): the extra fact that upgrades the
    * data-skipping index into a metadata-only aggregate store
    * (count/min/max answered from sidecars alone — Iceberg's
    * metadata-only queries). Harvested from the same footer read the
    * sidecar already pays; never consulted by range pruning.
    */
  val RowsCol = "_rows"

  /** fileName (leaf, not path) -> column -> stats. */
  type TableStats = Map[String, Map[String, ColStat]]

  /** Inclusive-range predicate against a stats column; None = unbounded.
    * Bound values must match the column's stats type: Int/Long for
    * "long", Float/Double for "double", String for "string".
    */
  case class ColRange(col: String, lo: Option[Any], hi: Option[Any])

  private val SidecarName = "_stats"

  /** Data part files of a (non-partitioned) table directory: everything
    * not underscore/dot-prefixed (_SUCCESS, _stats, hidden files).
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))

  // ---- footer harvest ----------------------------------------------------

  /** Read one footer and fold its row-group chunks into per-column
    * (typ, min, max, nulls) for `cols` (empty = every column). Only
    * long/double/string-comparable primitives participate — other
    * physical types (INT96, FIXED_LEN decimals) are simply absent from
    * the stats, which pruning treats as "cannot skip" (conservative,
    * never wrong). Write tasks call it on the file they just closed;
    * [[harvest]] calls it over a directory's existing files.
    */
  private[sources] def footerStats(conf: Configuration, file: Path, cols: Set[String]): Map[String, ColStat] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val acc = scala.collection.mutable.Map.empty[String, ColStat]
      reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (cols.isEmpty || cols(name)) {
            val pt = cc.getPrimitiveType
            val typ = pt.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
                pt.getLogicalTypeAnnotation match {
                  // decimal(p<=18) stores UNSCALED ints: recording them
                  // as "long" would compare unscaled footer values
                  // against SCALED predicate bounds and wrongly skip
                  // files — carry the scale and store scaled decimal
                  // strings instead (price/amount columns are exactly
                  // the range-predicate columns pruning must serve)
                  case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                    Some(s"decimal:${d.getScale}")
                  case _ => Some("long")
                }
              case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("double")
              case PrimitiveTypeName.BINARY
                  if pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                Some("string")
              // FIXED_LEN_BYTE_ARRAY decimals (precision > 18) and other
              // physical types stay absent: conservative, never wrong
              case _ => None
            }
            typ.foreach { t =>
              val st: org.apache.parquet.column.statistics.Statistics[_] = cc.getStatistics
              if (st != null) {
                val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
                val mm: Option[(String, String)] =
                  if (st.hasNonNullValue)
                    Some((encode(t, st.genericGetMin.asInstanceOf[AnyRef]),
                          encode(t, st.genericGetMax.asInstanceOf[AnyRef])))
                  else None
                val merged = acc.get(name) match {
                  case None => ColStat(t, nulls, mm.map(_._1), mm.map(_._2))
                  case Some(prev) =>
                    val lo = minOf(t, prev.min, mm.map(_._1))
                    val hi = maxOf(t, prev.max, mm.map(_._2))
                    val n = if (prev.nulls < 0 || nulls < 0) -1L else prev.nulls + nulls
                    ColStat(t, n, lo, hi)
                }
                acc(name) = merged
              }
            }
          }
        }
      }
      val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      acc(RowsCol) = ColStat("long", 0L, Some(rows.toString), Some(rows.toString))
      acc.toMap
    } finally reader.close()
  }

  private def encode(typ: String, v: AnyRef): String = typ match {
    case "string" =>
      Base64.getEncoder.encodeToString(v.asInstanceOf[Binary].toStringUsingUTF8.getBytes(StandardCharsets.UTF_8))
    case "double" => v.asInstanceOf[Number].doubleValue.toString
    case t if t.startsWith("decimal:") =>
      // footer carries the UNSCALED int; store the scaled decimal string
      java.math.BigDecimal.valueOf(v.asInstanceOf[Number].longValue,
        t.substring("decimal:".length).toInt).toPlainString
    case _ => v.asInstanceOf[Number].longValue.toString
  }

  private def cmp(typ: String, a: String, b: String): Int = typ match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case t if t.startsWith("decimal:") =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ =>
      // unsigned UTF-8 byte order, NOT String.compareTo (UTF-16 code
      // units): parquet footer min/max and Spark's binary comparisons
      // both order by unsigned bytes, and the two orders disagree for
      // supplementary-plane characters — a UTF-16 comparison here could
      // wrongly skip files that contain matching rows
      java.util.Arrays.compareUnsigned(Base64.getDecoder.decode(a), Base64.getDecoder.decode(b))
  }

  private[sources] def minOf(typ: String, a: Option[String], b: Option[String]): Option[String] = (a, b) match {
    case (Some(x), Some(y)) => Some(if (cmp(typ, x, y) <= 0) x else y)
    case _ => a.orElse(b)
  }
  private[sources] def maxOf(typ: String, a: Option[String], b: Option[String]): Option[String] = (a, b) match {
    case (Some(x), Some(y)) => Some(if (cmp(typ, x, y) >= 0) x else y)
    case _ => a.orElse(b)
  }

  /** Decode a sidecar min/max string back to its typed value. */
  private[sources] def decodeVal(typ: String, s: String): Any = typ match {
    case "long" => s.toLong
    case "double" => s.toDouble
    case t if t.startsWith("decimal:") => new java.math.BigDecimal(s)
    case _ => new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
  }

  /** Harvest footer stats for `cols` (empty = all eligible columns)
    * across every data file under `dir`, as a distributed job over the
    * file list: each task rebuilds the Hadoop conf from shipped
    * key/value pairs and reads only footers.
    */
  def harvest(s: SparkSession, dir: String, cols: Seq[String]): TableStats = {
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hconf)
    val files = dataFiles(fs, new Path(dir)).map(_.getPath.toString)
    if (files.isEmpty) return Map.empty
    val confProps = hconf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val colSet = cols.toSet
    val slices = math.min(files.size, s.sparkContext.defaultParallelism)
    s.sparkContext.parallelize(files, slices).mapPartitions { paths =>
      val conf = new Configuration(false)
      confProps.foreach { case (k, v) => conf.set(k, v) }
      paths.map { p =>
        val path = new Path(p)
        path.getName -> footerStats(conf, path, colSet)
      }
    }.collect().toMap // O(files × cols) stat tuples — manifest-sized, not data-sized
  }

  // ---- sidecar persistence ----------------------------------------------

  /** Sidecar format, one line per (file, column):
    * `file \t col \t typ \t nulls \t min \t max` with `-` for absent
    * min/max (string values are Base64, so `\t`/newlines can't occur).
    */
  def writeSidecar(fs: FileSystem, dir: Path, stats: TableStats): Unit = {
    val body = stats.toSeq.sortBy(_._1).flatMap { case (f, colStats) =>
      colStats.toSeq.sortBy(_._1).map { case (c, st) =>
        Seq(f, c, st.typ, st.nulls.toString, st.min.getOrElse("-"), st.max.getOrElse("-")).mkString("\t")
      }
    }.mkString("\n")
    writeText(fs, new Path(dir, SidecarName), body)
  }

  private def writeText(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A sidecar's non-empty lines, None when it does not exist. */
  private def readLines(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).toSeq)
      finally in.close()
    }

  def readSidecar(fs: FileSystem, dir: Path): Option[TableStats] =
    readLines(fs, new Path(dir, SidecarName)).map { lines =>
      lines.map { line =>
        val Array(f, c, typ, nulls, mn, mx) = line.split("\t", 6)
        (f, c, ColStat(typ, nulls.toLong, Some(mn).filter(_ != "-"), Some(mx).filter(_ != "-")))
      }.groupBy(_._1).map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    }

  // ---- pruning -----------------------------------------------------------

  private def boundStr(typ: String, v: Any): String = (typ, v) match {
    case ("string", s: String) => Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    case ("double", n: Number) => n.doubleValue.toString
    case ("long", n: Number) => n.longValue.toString
    // datetime externals against INT64/INT32 footer stats: the engine
    // writes TIMESTAMP_MICROS (micros since epoch) and DATE (days since
    // epoch), so a pushed `ts BETWEEN …` / `d = DATE'…'` prunes exactly
    // like an integer range. Both java.sql and java.time externals
    // appear depending on spark.sql.datetime.java8API.enabled.
    case ("long", t: java.sql.Timestamp) =>
      val i = t.toInstant
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L).toString
    case ("long", i: java.time.Instant) =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L).toString
    case ("long", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("long", d: java.time.LocalDate) => d.toEpochDay.toString
    // decimal bounds: any numeric external normalizes through
    // BigDecimal(toString); cmp compares numerically, so scale
    // differences between the bound and the stored stat are harmless
    case (t, d: java.math.BigDecimal) if t.startsWith("decimal:") => d.toPlainString
    case (t, d: scala.math.BigDecimal) if t.startsWith("decimal:") => d.bigDecimal.toPlainString
    case (t, n: Number) if t.startsWith("decimal:") =>
      new java.math.BigDecimal(n.toString).toPlainString
    case _ => throw new IllegalArgumentException(s"range bound $v does not match stats type $typ")
  }

  /** Can a file with `st` contain a row matching `r`? Missing stats →
    * yes (conservative). A BOUNDED range predicate never matches NULL,
    * so a column that is all-null in the file (min/max absent, stats
    * present) is skippable — but an UNBOUNDED range (lo=None, hi=None)
    * constrains nothing: callers use it as a touch-all marker (general-
    * predicate DML with residual-only WHERE, `WHEN NOT MATCHED BY
    * SOURCE` whole-table spans), and matchCond's row-level twin already
    * treats it as matching every row, NULLs included. Skipping an
    * all-null file under it would silently drop matching rows.
    */
  private def mightMatch(st: Option[ColStat], r: ColRange): Boolean = {
    if (r.lo.isEmpty && r.hi.isEmpty) return true
    st match {
      case None => true
      case Some(cs) =>
        (cs.min, cs.max) match {
          case (Some(mn), Some(mx)) =>
            r.lo.forall(lo => cmp(cs.typ, mx, boundStr(cs.typ, lo)) >= 0) &&
              r.hi.forall(hi => cmp(cs.typ, mn, boundStr(cs.typ, hi)) <= 0)
          case _ => false // bounded range, all-null column: provably clean
        }
    }
  }

  /** The file-skipping step: keep only files whose stats admit every
    * range. Files absent from the stats map are kept (conservative).
    */
  def prune(files: Seq[FileStatus], stats: TableStats, ranges: Seq[ColRange]): Seq[FileStatus] =
    files.filter { f =>
      val colStats = stats.get(f.getPath.getName)
      ranges.forall(r => mightMatch(colStats.flatMap(_.get(r.col)), r))
    }

  // ---- bloom point-lookup index ------------------------------------------

  /** fileName (leaf) -> column -> serialized Spark sketch BloomFilter.
    * The point-lookup complement of the min/max sidecar: min/max skips
    * RANGE queries on clustered columns, but an equality probe on a
    * column each file holds a scattered sample of (a hash-distributed
    * key, a UUID, a URL) finds every file's [min,max] spanning the
    * probe value — zero skipping. A per-file bloom answers "might this
    * file contain THIS value" and skips all but the true holders plus
    * an fpp tail (Delta's bloom filter index; public design).
    *
    * Scale contract (100 TB): building reads the indexed columns once
    * (column-pruned scan, distributed; partial blooms merge on the
    * executors, the driver collects only the final per-file filters —
    * the same bytes it is about to write as the sidecar). At the
    * default 1% fpp a filter costs ~1.2 bytes/row — ~2 MB for a
    * 128 MB parquet file, ~1.5% storage overhead — and probing is a
    * driver-side sidecar read + k hash lookups per (file, key): same
    * cost class as partition pruning, zero data IO for skipped files.
    */
  type TableBlooms = Map[String, Map[String, Array[Byte]]]

  private val BloomSidecarName = "_bloom"

  /** Equality / IN-list predicate against a bloom-indexed column. */
  case class ColIn(col: String, values: Seq[Any])

  private def bloomable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  private def serBloom(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos); baos.toByteArray
  }
  private def deserBloom(b: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** Build per-file blooms for `cols` over every data file under `dir`
    * in ONE column-pruned pass. Filters are sized from the caller's
    * per-file row counts (`rows`: leaf name -> rows, which the write
    * tasks or the caller's stats harvest already know), so two
    * partitions of the same file build mergeable (identical-geometry)
    * filters. Only integral and string columns may be indexed — the
    * probe and the build must hash identically, and Spark's sketch
    * defines that contract for longs and UTF-8 strings (integrals
    * widen to long on both sides).
    */
  def harvestBlooms(s: SparkSession, dir: String, cols: Seq[String],
                    rows: Map[String, Long], fpp: Double): TableBlooms = {
    require(cols.nonEmpty, "harvestBlooms needs at least one column")
    val hconf = s.sparkContext.hadoopConfiguration
    val fsys = new Path(dir).getFileSystem(hconf)
    if (dataFiles(fsys, new Path(dir)).isEmpty) return Map.empty
    val df = s.read.parquet(dir)
    cols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"bloom column '$c' not in $dir schema"))
      require(bloomable(f.dataType),
        s"bloom column '$c' is ${f.dataType.simpleString}; only integral and string columns are indexable")
    }
    // per-file row counts → expected insertions (geometry must agree
    // across partitions for mergeInPlace)
    val rowsB = s.sparkContext.broadcast(rows)
    val colArr = cols.toArray
    import org.apache.spark.sql.functions.{col => fcol, input_file_name}
    val merged = df
      .select(input_file_name().as("__graft_file") +: colArr.map(fcol): _*)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[String, Array[org.apache.spark.util.sketch.BloomFilter]]
        it.foreach { row =>
          val fname = new Path(row.getString(0)).getName
          val bfs = acc.getOrElseUpdate(fname, {
            val exp = math.max(64L, rowsB.value.getOrElse(fname, 1L << 20))
            Array.fill(colArr.length)(
              org.apache.spark.util.sketch.BloomFilter.create(exp, fpp))
          })
          var i = 0
          while (i < colArr.length) {
            val v = row.get(i + 1)
            if (v != null) bfs(i).put(v)
            i += 1
          }
        }
        acc.iterator.map { case (f, bfs) => (f, bfs.map(serBloom)) }
      }
      .reduceByKey { (a, b) =>
        a.zip(b).map { case (x, y) =>
          val bx = deserBloom(x); bx.mergeInPlace(deserBloom(y)); serBloom(bx) }
      }
      .collect() // O(dir files × bloom bytes) — exactly the sidecar the caller writes next
    merged.map { case (f, arr) => f -> colArr.zip(arr).toMap }.toMap
  }

  /** Sidecar format, one line per (file, column): `file \t col \t b64`. */
  def writeBloomSidecar(fs: FileSystem, dir: Path, blooms: TableBlooms): Unit = {
    val body = blooms.toSeq.sortBy(_._1).flatMap { case (f, cb) =>
      cb.toSeq.sortBy(_._1).map { case (c, b) =>
        Seq(f, c, Base64.getEncoder.encodeToString(b)).mkString("\t")
      }
    }.mkString("\n")
    writeText(fs, new Path(dir, BloomSidecarName), body)
  }

  def readBloomSidecar(fs: FileSystem, dir: Path): Option[TableBlooms] =
    readLines(fs, new Path(dir, BloomSidecarName)).map { lines =>
      lines.map { line =>
        val Array(f, c, b) = line.split("\t", 3)
        (f, c, Base64.getDecoder.decode(b))
      }.groupBy(_._1).map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    }

  /** Normalize a probe value to the type the build-side `put` hashed:
    * integrals widen to Long (the sketch's own widening), strings pass
    * through. Other types are outside the index domain → None, which
    * the prune treats as "cannot prove absence" (conservative).
    */
  private def probeVal(v: Any): Option[Any] = v match {
    case b: Byte => Some(b.toLong)
    case sh: Short => Some(sh.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case st: String => Some(st)
    case _ => None
  }

  /** Might `file` contain ANY of `eq.values`? Missing sidecar entry,
    * unindexed column, or an unprobeable value type → true
    * (conservative, never wrong). The min/max stats (when present) AND
    * the bloom both get a veto: a range miss or a bloom miss each
    * independently proves absence.
    */
  def mightContainAny(blooms: Option[Map[String, Array[Byte]]],
                      stats: Option[Map[String, ColStat]],
                      eq: ColIn): Boolean = {
    val bf = blooms.flatMap(_.get(eq.col)).map(deserBloom)
    eq.values.exists { raw =>
      probeVal(raw) match {
        case None => true // outside the long/string index domain
        case Some(v) =>
          val rangeOk = stats.flatMap(_.get(eq.col)) match {
            case None => true
            case Some(cs) => (cs.min, cs.max) match {
              case (Some(mn), Some(mx)) =>
                cmp(cs.typ, mx, boundStr(cs.typ, v)) >= 0 && cmp(cs.typ, mn, boundStr(cs.typ, v)) <= 0
              case _ => false // all-null file: an equality probe can't match
            }
          }
          rangeOk && bf.forall(_.mightContain(v))
      }
    }
  }
}
