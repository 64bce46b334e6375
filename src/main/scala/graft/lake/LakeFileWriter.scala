package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-file stats recorded once in the file's manifest entry: length,
  * row-group byte ranges (Iceberg's `split_offsets`), column bounds
  * (`lower_bounds`/`upper_bounds`), row count (`record_count`) and
  * per-column non-null counts. Built from the writer's OWN footer when the
  * file closes ([[LakeFileWriter]]), so neither the commit nor read
  * planning ever reopens a file. */
final case class FileMeta(
    len: Long, splits: Seq[(Long, Long)], bounds: Map[String, ColBound], rows: Long,
    nonNull: Map[String, Long])

object FileMeta {
  def of(footer: ParquetMetadata, len: Long): FileMeta = {
    val blocks = footer.getBlocks.asScala.toSeq
    val (bounds, nonNull) = ColumnBounds.statsFromFooter(footer)
    FileMeta(len, blocks.map(b => (b.getStartingPos, b.getCompressedSize)), bounds,
      blocks.map(_.getRowCount).sum, nonNull)
  }
}

/** One file a write task staged, returned to the driver (tiny: name,
  * partition tuple in spec order, footer stats, sums). Only files of
  * SUCCESSFUL task attempts are ever referenced: the driver publishes by
  * descriptor ([[LakeTable.publishStaged]]) and deletes the staging dir
  * wholesale afterwards, so a lost speculative attempt's files never leak
  * into the table. */
final case class StagedFile(
    rel: String, seq: Long, partition: Seq[(String, String)], meta: FileMeta,
    sums: Map[String, String], isDelete: Boolean)

/** Everything the tasks of one staging job share, built on the driver.
  * `dataParts`/`keyParts` bind the partition spec to the row schemas as
  * (source ordinal, transform, field name) — see [[LakeFileWriter.bind]];
  * empty `keyParts` = one global delete file per task. */
final case class LakeWriteSpec(
    location: String,
    stagingRel: String,
    seq: Long,
    hadoopConf: Map[String, String],
    dataSchema: StructType,
    dataParts: Seq[(Int, Transform, String)] = Nil,
    recordSums: Boolean = true,
    keySchema: StructType = new StructType(),
    keyParts: Seq[(Int, Transform, String)] = Nil)

/** The lake's ONE parquet file writer, used by every route that stages
  * lake files (imperative append/upsert/delete/compaction, the DSv2 batch
  * and delta writes, the changelog stream's staging): a write task streams
  * its rows — and, for merge-on-read commits, its delete keys — straight
  * into staged parquet through Spark's own `ParquetWriteSupport`, one file
  * per partition tuple per task. Rows stay `InternalRow`s end to end; one
  * `UnsafeProjection` per file kind drops a leading `__row_operation`
  * marker (group-based row-level rewrites prepend it; detected from the
  * first row's arity) and appends the commit-seq column (`_graft_seq`, or
  * `_graft_dseq` for delete keys). The projection carries a placeholder
  * there and the seq is written into the projected row after projection,
  * not inlined as a literal: the generated class depends on the row schema
  * only, so every commit of one shape reuses it instead of compiling anew.
  *
  * Metrics are a by-product of the write (the Iceberg writer discipline):
  * exact per-file sums fold as rows pass, and on close each file's
  * [[FileMeta]] is built from `ParquetWriter.getFooter()` plus one
  * task-side length stat — no read-back job, no footer re-read.
  *
  * Physical types are pinned (non-legacy decimals: INT32 ≤ 9 digits,
  * INT64 ≤ 18, else FIXED_LEN_BYTE_ARRAY; TIMESTAMP as INT64 micros, which
  * carries usable statistics where INT96 carries none), independent of
  * the session's parquet write settings. */
final class LakeFileWriter(spec: LakeWriteSpec, taskTag: String) {
  import LakeFileWriter._

  private val conf = {
    val c = new Configuration(false)
    spec.hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private var opened = 0
  private val data = new FileSet(
    spec.dataSchema, spec.dataParts, LakeTable.SeqCol, spec.recordSums, isDelete = false)
  private val keys = new FileSet(
    spec.keySchema, spec.keyParts, LakeTable.DseqCol, recordSums = false, isDelete = true)

  def write(row: InternalRow): Unit = data.add(row)
  def delete(key: InternalRow): Unit = keys.add(key)

  /** Close every open file and describe it; call once. */
  def close(): Seq[StagedFile] = data.close() ++ keys.close()

  def abort(): Unit = { data.abort(); keys.abort() }

  private final class FileSet(
      schema: StructType, parts: Seq[(Int, Transform, String)], seqCol: String,
      recordSums: Boolean, isDelete: Boolean) {
    private val fileConf = {
      val c = new Configuration(conf)
      // the keys ParquetWriteSupport.init asserts on, pinned so the
      // physical types never follow session settings
      c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      c.setBoolean(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, SQLConf.get.parquetFieldIdWriteEnabled)
      c.setBoolean(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        SQLConf.get.parquetAnnotateVariantLogicalType)
      ParquetWriteSupport.setSchema(LakeTable.nullableSchema(
        StructType(schema.fields :+ StructField(seqCol, LongType))), c)
      c
    }
    private val renderers = parts.map { case (idx, tr, name) =>
      name -> partitionRenderer(tr, idx, schema(idx).dataType)
    }
    private var project: UnsafeProjection = _
    private val open = mutable.LinkedHashMap.empty[Seq[(String, String)],
      (ParquetWriter[InternalRow], String, FileSums)]

    def add(row: InternalRow): Unit = {
      if (project == null) {
        val offset = row.numFields - schema.length
        require(offset >= 0, s"row has ${row.numFields} fields for schema ${schema.simpleString}")
        project = UnsafeProjection.create(
          schema.fields.indices.map(i => BoundReference(offset + i, schema(i).dataType, nullable = true)) :+
            Literal(0L, LongType))
      }
      val r = project(row)
      r.setLong(schema.length, spec.seq)
      val partition = renderers.map { case (name, render) => name -> render(r) }
      val (w, _, sums) = open.getOrElseUpdate(partition, {
        val rel = s"${spec.stagingRel}/$taskTag-$opened.parquet"
        opened += 1
        (openWriter(new Path(new Path(spec.location), rel), fileConf), rel, new FileSums(schema))
      })
      w.write(r)
      if (recordSums) sums.add(r)
    }

    def close(): Seq[StagedFile] = open.toSeq.map { case (partition, (w, rel, sums)) =>
      w.close()
      val path = new Path(new Path(spec.location), rel)
      val len = path.getFileSystem(conf).getFileStatus(path).getLen
      StagedFile(rel, spec.seq, partition, FileMeta.of(w.getFooter, len),
        if (recordSums) sums.result else Map.empty, isDelete)
    }

    def abort(): Unit = open.values.foreach(w => try w._1.close() catch { case _: Exception => })
  }
}

object LakeFileWriter {

  /** One staging job: every task streams its rows (delete keys when
    * `deletes`) through its own writer; returns the staged files of the
    * successful attempts. The attempt id rides into each staged name, so a
    * lost speculative attempt's files are never referenced. */
  def stage(rows: RDD[InternalRow], spec: LakeWriteSpec, deletes: Boolean = false): Seq[StagedFile] =
    rows.mapPartitions { it =>
      val ctx = TaskContext.get()
      val w = new LakeFileWriter(spec, s"p${ctx.partitionId()}-a${ctx.taskAttemptId()}")
      try {
        it.foreach(r => if (deletes) w.delete(r) else w.write(r))
        w.close().iterator
      } catch {
        case e: Throwable => w.abort(); throw e
      }
    }.collect().toSeq

  /** Bind a partition spec to a row schema — sources matched
    * case-insensitively, like Spark's resolution; None when a source is
    * not in the schema. */
  def bind(spec: Seq[PartitionField], schema: StructType): Option[Seq[(Int, Transform, String)]] = {
    val bound = spec.map(pf =>
      (schema.fields.indexWhere(_.name.equalsIgnoreCase(pf.source)), pf.transform, pf.name))
    if (bound.exists(_._1 < 0)) None else Some(bound)
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Honors the SAME size knobs Spark's own writer reads from the Hadoop
    * conf (`parquet.block.size` / `parquet.page.size`) — the direct
    * builder otherwise silently pins its 128 MB default and multi-row-group
    * splitting never happens. */
  private def openWriter(path: Path, conf: Configuration): ParquetWriter[InternalRow] =
    new RowWriterBuilder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(conf.getLong("parquet.block.size", ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .withPageSize(conf.getInt("parquet.page.size", ParquetWriter.DEFAULT_PAGE_SIZE))
      .build()

  private val Y = DateTimeFormatter.ofPattern("yyyy")
  private val YM = DateTimeFormatter.ofPattern("yyyy-MM")
  private val YMD = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** Row-level partition-value rendering, one function per spec field.
    * `identity` renders any atomic type through Catalyst's cast to string
    * in UTC — the directory value Spark's own writer produces under the
    * UTC session [[graft.NamedQuery]] requires. An EMPTY rendered string
    * maps to the null sentinel, like Spark's directory rendering
    * (ExternalCatalogUtils.getPartitionPathString conflates null and "" as
    * __HIVE_DEFAULT_PARTITION__), so data files and partition-scoped delete
    * files always agree byte for byte. */
  private def partitionRenderer(tr: Transform, idx: Int, dt: DataType): InternalRow => String = {
    def hive(s: String): String = if (s.isEmpty) PartitionValues.NullSentinel else s
    def temporal(fmt: DateTimeFormatter): InternalRow => String = dt match {
      case DateType => row => LocalDate.ofEpochDay(row.getInt(idx).toLong).format(fmt)
      case _ => row =>
        val micros = row.getLong(idx)
        LocalDateTime.ofInstant(Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L),
          ZoneOffset.UTC).format(fmt)
    }
    tr match {
      // bucket has no null short-circuit: the engine-side derivation
      // ([[Transform.Bucket.apply]]) hashes a null key to the seed —
      // bucket pmod(42, n), never a null partition — and every write
      // route and SPJ key-grouping must agree
      case Transform.Bucket(n) =>
        row => Transform.bucketOf(n, if (row.isNullAt(idx)) null else row.get(idx, dt), dt).toString
      case _ =>
        val render: InternalRow => String = tr match {
          case Transform.Identity =>
            val cast = Cast(BoundReference(idx, dt, nullable = true), StringType, Some("UTC"))
            row => hive(cast.eval(row).toString)
          case Transform.Year => temporal(Y)
          case Transform.Month => temporal(YM)
          case Transform.Day => temporal(YMD)
          case Transform.Truncate(w) => row =>
            // code points, like Spark's substring and Transform.valueOf —
            // String.take counts UTF-16 units and would render a different
            // prefix for supplementary characters (false pruning)
            val s = row.getUTF8String(idx).toString
            hive(if (s.codePointCount(0, s.length) <= w) s
            else s.substring(0, s.offsetByCodePoints(0, w)))
          case other => throw new IllegalStateException(s"unrenderable transform $other")
        }
        row => if (row.isNullAt(idx)) PartitionValues.NullSentinel else render(row)
    }
  }

  // ------------------------------------------------------ per-file sums

  /** Exact per-file sums of the summable schema columns
    * ([[ColumnSums.summable]]), folded row by row in the write task in
    * unbounded java BigDecimal (cannot overflow; the manifest stores plain
    * strings). */
  private[lake] final class FileSums(schema: StructType) {
    private val fields: Array[(Int, StructField)] = schema.fields.zipWithIndex.collect {
      case (f, i) if ColumnSums.summable(f.dataType) => (i, f)
    }
    private val acc = new Array[java.math.BigDecimal](fields.length)

    def add(row: InternalRow): Unit = {
      var k = 0
      while (k < fields.length) {
        val (i, f) = fields(k)
        if (!row.isNullAt(i)) {
          val v = f.dataType match {
            case ByteType => java.math.BigDecimal.valueOf(row.getByte(i).toLong)
            case ShortType => java.math.BigDecimal.valueOf(row.getShort(i).toLong)
            case IntegerType => java.math.BigDecimal.valueOf(row.getInt(i).toLong)
            case LongType => java.math.BigDecimal.valueOf(row.getLong(i))
            case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
            case other => throw new IllegalStateException(s"unsummable $other")
          }
          acc(k) = if (acc(k) == null) v else acc(k).add(v)
        }
        k += 1
      }
    }

    /** Column → sum string; all-null columns are omitted (readers key off
      * the recorded non-null count, which is 0 for them). */
    def result: Map[String, String] = fields.zipWithIndex.collect {
      case ((_, f), k) if acc(k) != null =>
        f.name -> acc(k).stripTrailingZeros.toPlainString
    }.toMap
  }
}
