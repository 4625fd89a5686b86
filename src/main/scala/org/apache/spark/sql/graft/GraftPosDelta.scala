package org.apache.spark.sql.graft

import graft.sinks.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** POSITIONAL-delete merge-on-read — K42, the Iceberg v2
  * position-delete / Delta deletion-vector shape, and the read-side
  * answer to K39's write-side trade:
  *
  *   - K39's equality deletes buy zero write amplification but force
  *     every delete-carrying snapshot onto a ROW-BASED masked scan
  *     (Spark forbids mixing columnar and row partitions in one scan,
  *     and an equality mask needs the key of every row). At 100 TB the
  *     READ bill dominates: a table ingesting CDC all day is masked
  *     all day.
  *   - Positional deletes record `(file, row_index)` at DML time —
  *     the DML's scan already knows both for free — and the masked
  *     read then only needs each row's FILE ROW INDEX, which the
  *     vectorized parquet reader generates natively (the
  *     `_tmp_metadata_row_index` column, the same machinery behind
  *     `_metadata.row_index`). Deleted rows are filtered out of the
  *     COLUMNAR batch by wrapping its vectors in an index-remapping
  *     view (no copy, no row materialization) — so a snapshot with
  *     live deletes keeps whole-stage codegen over a columnar scan.
  *
  * Spark drives DML through [[SupportsDelta]] with a METADATA-COLUMN
  * row id: the table exposes `_file STRING` / `_pos BIGINT` metadata
  * columns (resolved through `LogicalPlan.resolve`'s metadata-output
  * fallback), `rowId() = (_file, _pos)`, and the delta writer's
  * `delete()` receives exactly the pair the read path needs. UPDATE
  * arrives as delete + reinsert (`representUpdateAsDeleteAndInsert`);
  * the reinserted row lands in a NEW data file the delete cannot name,
  * so — unlike equality deletes — no data-sequence-number rule is
  * needed: a position delete applies to precisely the file it names.
  *
  * Scale posture, stated:
  *   - Delete positions load DRIVER-side at scan build, bounded by
  *     un-compacted deletes (same bound as K39; `CALL
  *     system.compact_deletes` folds them away). Clean files scan on
  *     the UNTOUCHED stock path (separate inner scan, no row-index
  *     column read); only files with live deletes pay the mask.
  *   - Commits serialize strictly against the pinned snapshot:
  *     positions do not commute with ANY concurrent rewrite (a
  *     compaction renumbers rows), so a moved table aborts the DML.
  *   - The columnar wrap is restricted to flat atomic schemas (where
  *     parquet vectorizes anyway); nested types fall back to the
  *     row-based mask, same semantics.
  *
  * Reference anchor: the reference's pandas ETL drops duplicate/bad
  * rows by dataframe index (week_1 data_ingest.py's cleanup step) —
  * this operator is that "drop by row position" semantic as a
  * lakehouse DML with O(changed rows) write cost.
  */
private[graft] class GraftPosDeltaOperation(
    cmd: RowLevelOperation.Command,
    dir: String,
    tableSchema: StructType)
  extends RowLevelOperation with SupportsDelta {

  private def spark: SparkSession = SparkSession.active
  private def manBase: String = s"$dir/manifest"

  /** The pinned snapshot: latest committed version at operation build. */
  private[graft] val snapshotVersion: Long =
    ManifestStore.versions(spark, manBase).lastOption.getOrElse(0L)
  private[graft] val snapshotRows: Seq[GraftLakeTable.ManifestRow] =
    if (snapshotVersion == 0L) Seq.empty
    else GraftLakeTable.manifestRowsFull(spark, manBase, snapshotVersion)

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(FieldReference.column(GraftPosMeta.FileCol),
      FieldReference.column(GraftPosMeta.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The DML's scan is the table's own masked scan over the pinned
    * snapshot, which serves the `_file`/`_pos` metadata columns the
    * row id projects (already-deleted rows read as absent).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftPosMeta.scanBuilder(spark, "graft-posdelta-scan", dir,
      snapshotRows, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftPosDeltaWrite(GraftPosDeltaOperation.this, dir, tableSchema, info)
    }

  override def description(): String =
    s"GraftPosDeltaOperation($cmd, $dir, v$snapshotVersion, rowId=(_file,_pos))"
}

private[graft] object GraftPosMeta {

  val FileCol = "_file"
  val PosCol = "_pos"

  /** Relative manifest paths of position-delete files. */
  private[graft] def isPosDeleteFile(rel: String): Boolean =
    rel.startsWith("posdel_")

  /** The `_file`/`_pos` metadata columns a positional-MoR table
    * exposes (Iceberg's reserved metadata column pair). NON-NULLABLE:
    * Spark's delta rewrite refuses nullable row ids, and every data
    * row genuinely has both.
    */
  def columns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "table-relative data file path"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row ordinal within the data file"
    })

  private val posDelSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** The positional-MoR scan builder over a resolved snapshot: delete
    * positions load driver-side into `file -> sorted positions`; a
    * snapshot with no delete files and no metadata-column request
    * degrades to the plain stats-pruned scan (stock vectorized path,
    * zero overhead).
    */
  def scanBuilder(spark: SparkSession, tableName: String, dir: String,
                  rows: Seq[GraftLakeTable.ManifestRow],
                  tableSchema: StructType,
                  options: CaseInsensitiveStringMap): ScanBuilder = {
    val (delRows, dataRows) = rows.partition(r => isPosDeleteFile(r.file))
    val posByFile: Map[String, Array[Long]] =
      if (delRows.isEmpty) Map.empty
      else spark.read.schema(posDelSchema)
        .parquet(delRows.map(r => GraftLakeTable.resolveFile(dir, r.file)): _*)
        .collect()
        .groupBy(_.getString(0))
        .map { case (f, rs) => (f, rs.map(_.getLong(1)).distinct.sorted) }
    new GraftPosScanBuilder(spark, tableName, dir, dataRows, posByFile,
      tableSchema, options)
  }
}

/** Pushdown-preserving builder: TWO inner stats-pruned parquet scans —
  * one over clean files (untouched stock path), one over files with
  * live delete positions (schema augmented with the parquet reader's
  * native row-index column). Column pruning and filter pushdown
  * forward to both; when the query requests `_file`/`_pos`, every
  * file needs row attribution and the whole scan runs through the
  * per-file row-based path (the DML scan's shape).
  */
private[graft] class GraftPosScanBuilder(
    spark: SparkSession,
    tableName: String,
    dir: String,
    dataRows: Seq[GraftLakeTable.ManifestRow],
    posByFile: Map[String, Array[Long]],
    tableSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownCatalystFilters {

  private val rowIdxName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
  private val augmented = tableSchema.add(StructField(rowIdxName, LongType, nullable = true))

  private val (dirtyRows, cleanRows) =
    dataRows.partition(r => posByFile.contains(r.file))

  // both inner builders carry the AUGMENTED schema so the row-index
  // column is requestable; pruning decides per-scan whether it reads
  private val cleanB =
    new GraftPrunedScanBuilder(spark, tableName, dir, cleanRows, augmented, options)
  private val dirtyB =
    new GraftPrunedScanBuilder(spark, tableName, dir, dirtyRows, augmented, options)

  private var requested: StructType =
    StructType(tableSchema.fields)
  private var pruned = false

  private def isMetaCol(name: String): Boolean =
    name == GraftPosMeta.FileCol || name == GraftPosMeta.PosCol

  private def pushPrune(): Unit = {
    val dataReq = StructType(requested.fields.filterNot(f => isMetaCol(f.name)))
    val metaReq = requested.fields.exists(f => isMetaCol(f.name))
    val withIdx = dataReq.add(StructField(rowIdxName, LongType, nullable = true))
    cleanB.pruneColumns(if (metaReq) withIdx else dataReq)
    dirtyB.pruneColumns(withIdx)
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = requiredSchema
    pruned = true
    pushPrune()
  }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val res = cleanB.pushFilters(filters)
    dirtyB.pushFilters(filters)
    res
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    cleanB.pushedFilters

  override def build(): Scan = {
    if (!pruned) pushPrune()
    val metaReq = requested.fields.exists(f => isMetaCol(f.name))
    if (dirtyRows.isEmpty && !metaReq) return cleanB.build()
    new GraftPosScan(cleanB.build(),
      if (dirtyRows.isEmpty) None else Some(dirtyB.build()),
      dir, dataRows, posByFile, requested, metaReq, rowIdxName,
      cleanB.pushedFilters.map(_.describe()).toSeq)
  }
}

/** One per-split partition of the masked/attributed scan, tagged with
  * its table-relative file and that file's sorted delete positions.
  */
private[graft] class GraftPosPartition(val delegate: FilePartition,
                                       val relFile: String,
                                       val positions: Array[Long],
                                       val fromDirty: Boolean)
  extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Pass-through partition for clean files in plain (no metadata) mode. */
private[graft] class GraftPosCleanPartition(val delegate: InputPartition)
  extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** The positional masked scan.
  *
  *   - PLAIN mode (no `_file`/`_pos` requested): clean files' partitions
  *     pass through UNTOUCHED (stock reader factory — columnar when the
  *     parquet scan says so); dirty files' partitions are re-planned
  *     per split and masked. If every partition supports columnar and
  *     the projected schema is flat-atomic, the masked partitions stay
  *     COLUMNAR: each batch's vectors are wrapped in an index-remapping
  *     view that skips deleted ordinals — no copy, whole-stage codegen
  *     consumes the batch as if the rows were never there.
  *   - META mode (`_file`/`_pos` requested — the DML scan): every
  *     partition is re-planned per split (attribution needs the file)
  *     and read row-based, joining the inner row with the constant
  *     `_file` and per-row `_pos`.
  */
private[graft] class GraftPosScan(
    cleanScan: Scan,
    dirtyScan: Option[Scan],
    dir: String,
    dataRows: Seq[GraftLakeTable.ManifestRow],
    posByFile: Map[String, Array[Long]],
    out: StructType,
    metaReq: Boolean,
    rowIdxName: String,
    pushedDesc: Seq[String] = Nil)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = out

  /** K49: manifest stats with the position deletes subtracted EXACTLY
    * (each recorded `(file, pos)` masks one real row — the one delete
    * family whose row effect is knowable at metadata cost).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftManifestStats.of(dataRows, out,
      deletedRows = posByFile.valuesIterator.map(_.length.toLong).sum)

  /** Table-relative path of a split's absolute file path (URI-scheme
    * tolerant: matched by `/<relative>` suffix against the manifest),
    * through a name-keyed index so attribution is O(splits), not
    * O(files × splits), on the driver.
    */
  private lazy val relByName: Map[String, Seq[String]] =
    dataRows.map(_.file).groupBy(rel => rel.substring(rel.lastIndexOf('/') + 1))
      .map { case (k, v) => (k, v.toSeq) }

  private def relOf(abs: String): String = {
    val name = abs.substring(abs.lastIndexOf('/') + 1)
    relByName.getOrElse(name, Seq.empty)
      .find(rel => abs.endsWith("/" + rel)).getOrElse(
        throw new IllegalStateException(s"split file $abs is not in the scanned snapshot"))
  }

  private def perSplit(scan: Scan, fromDirty: Boolean): Array[InputPartition] =
    scan.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition =>
        fp.files.map { pf =>
          val rel = relOf(pf.filePath.toString)
          new GraftPosPartition(FilePartition(fp.index, Array(pf)), rel,
            posByFile.getOrElse(rel, Array.emptyLongArray), fromDirty)
        }
      case other =>
        throw new IllegalStateException(
          s"parquet scan planned a non-file partition: ${other.getClass.getName}")
    }

  override def toBatch: Batch = new Batch {
    private val cleanBatch = cleanScan.toBatch
    private val dirtyBatch = dirtyScan.map(_.toBatch)

    // planned ONCE: Spark calls planInputPartitions and
    // createReaderFactory separately, and the columnar decision below
    // reads the same array — re-planning would re-run both inner
    // scans' split planning per query (review finding, round 11)
    private lazy val planned: Array[InputPartition] = {
      val dirty = dirtyBatch.map(_ => perSplit(dirtyScan.get, fromDirty = true))
        .getOrElse(Array.empty)
      val clean =
        if (metaReq) perSplit(cleanScan, fromDirty = false)
        else cleanBatch.planInputPartitions().map(new GraftPosCleanPartition(_): InputPartition)
      clean ++ dirty
    }

    override def planInputPartitions(): Array[InputPartition] = planned

    override def createReaderFactory(): PartitionReaderFactory = {
      val cleanF = cleanBatch.createReaderFactory()
      val dirtyF = dirtyBatch.map(_.createReaderFactory())
      // columnar only in plain mode over flat atomic projections, and
      // only when EVERY partition agrees (Spark refuses mixed modes);
      // the readers below answer uniformly from this one flag
      val flatAtomic = out.fields.forall(_.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      })
      val columnar = !metaReq && flatAtomic && planned.forall {
        case c: GraftPosCleanPartition => cleanF.supportColumnarReads(c.delegate)
        case p: GraftPosPartition => dirtyF.exists(_.supportColumnarReads(p.delegate))
        case _ => false
      }
      new GraftPosReaderFactory(cleanF, dirtyF.orNull, out,
        cleanScan.readSchema(), dirtyScan.map(_.readSchema()).orNull,
        metaReq, rowIdxName, columnar)
    }
  }

  override def description(): String =
    s"GraftPosScan(files=${dataRows.length}, dirty=${posByFile.size}, " +
      s"deletePositions=${posByFile.valuesIterator.map(_.length).sum}, " +
      s"meta=$metaReq) PushedFilters: [${pushedDesc.mkString(", ")}]"
}

/** Reader factory for [[GraftPosScan]] — one uniform columnar answer,
  * three reader shapes (pass-through, columnar remap, row-based mask).
  */
private[graft] class GraftPosReaderFactory(
    cleanF: PartitionReaderFactory,
    dirtyF: PartitionReaderFactory,
    out: StructType,
    cleanInner: StructType,
    dirtyInner: StructType,
    metaReq: Boolean,
    rowIdxName: String,
    columnar: Boolean)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** Projection: output field ordinal -> inner scan schema ordinal
    * (metadata fields map to -1/-2 sentinels, row mode only).
    */
  private def projection(inner: StructType): Array[Int] =
    out.fields.map { f =>
      if (f.name == GraftPosMeta.FileCol) -1
      else if (f.name == GraftPosMeta.PosCol) -2
      else inner.fieldIndex(f.name)
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = partition match {
    case c: GraftPosCleanPartition =>
      val proj = projection(cleanInner)
      val inner = cleanF.createColumnarReader(c.delegate)
      if (proj.sameElements(cleanInner.indices)) inner
      else new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = inner.next()
        override def get(): ColumnarBatch = {
          val b = inner.get()
          new ColumnarBatch(proj.map(b.column), b.numRows())
        }
        override def close(): Unit = inner.close()
      }
    case p: GraftPosPartition =>
      val inner = dirtyF.createColumnarReader(p.delegate)
      val idxCol = dirtyInner.fieldIndex(rowIdxName)
      val proj = projection(dirtyInner)
      val positions = p.positions
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = inner.next()
        override def get(): ColumnarBatch = {
          val b = inner.get()
          val n = b.numRows()
          val idxVec = b.column(idxCol)
          val live = new Array[Int](n)
          var i = 0; var m = 0
          while (i < n) {
            if (java.util.Arrays.binarySearch(positions, idxVec.getLong(i)) < 0) {
              live(m) = i; m += 1
            }
            i += 1
          }
          val outVecs: Array[ColumnVector] =
            if (m == n) proj.map(b.column)
            else {
              val mapping = java.util.Arrays.copyOf(live, m)
              proj.map(j => new GraftRemapVector(b.column(j), mapping): ColumnVector)
            }
          new ColumnarBatch(outVecs, m)
        }
        override def close(): Unit = inner.close()
      }
    case other =>
      throw new IllegalStateException(s"unexpected partition ${other.getClass.getName}")
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case c: GraftPosCleanPartition =>
        val inner = cleanF.createReader(c.delegate)
        val proj = projection(cleanInner)
        if (proj.sameElements(cleanInner.indices)) inner
        else {
          val p = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            out, proj.toIndexedSeq)
          new PartitionReader[InternalRow] {
            override def next(): Boolean = inner.next()
            override def get(): InternalRow = { p.project(inner.get()); p }
            override def close(): Unit = inner.close()
          }
        }
      case p: GraftPosPartition =>
        val (factory, innerSchema) =
          if (p.fromDirty) (dirtyF, dirtyInner) else (cleanF, cleanInner)
        val inner = factory.createReader(p.delegate)
        val idxCol = innerSchema.fieldIndex(rowIdxName)
        val positions = p.positions
        // joined = inner row ++ (_file, _pos); project out in `out` order
        val joinedIdx = out.fields.map { f =>
          if (f.name == GraftPosMeta.FileCol) innerSchema.length
          else if (f.name == GraftPosMeta.PosCol) innerSchema.length + 1
          else innerSchema.fieldIndex(f.name)
        }
        val joinedSchema = StructType(innerSchema.fields ++ Seq(
          StructField(GraftPosMeta.FileCol, StringType, nullable = false),
          StructField(GraftPosMeta.PosCol, LongType, nullable = false)))
        val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          out, joinedIdx.toIndexedSeq)
        val metaRow = new GenericInternalRow(2)
        metaRow.update(0, UTF8String.fromString(p.relFile))
        val joined = new JoinedRow()
        val _ = joinedSchema // schema documented above; projection is ordinal-based
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              val pos = r.getLong(idxCol)
              if (java.util.Arrays.binarySearch(positions, pos) < 0) {
                metaRow.update(1, pos)
                joined(r, metaRow)
                proj.project(joined)
                cur = proj
                return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
      case other =>
        throw new IllegalStateException(s"unexpected partition ${other.getClass.getName}")
    }
}

/** A no-copy view over a [[ColumnVector]] that remaps ordinal `i` to
  * `mapping(i)` — how deleted rows leave a columnar batch without
  * materializing rows (Iceberg's ColumnVectorWithFilter shape).
  * Restricted to flat atomic vectors by the scan's columnar guard
  * (array/map children index by element offsets, not row ids).
  */
private[graft] class GraftRemapVector(inner: ColumnVector, mapping: Array[Int])
  extends ColumnVector(inner.dataType()) {

  override def close(): Unit = ()  // the inner batch owns the buffers
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = {
    var n = 0; var i = 0
    while (i < mapping.length) { if (inner.isNullAt(mapping(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(i: Int): Boolean = inner.isNullAt(mapping(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(mapping(i))
  override def getByte(i: Int): Byte = inner.getByte(mapping(i))
  override def getShort(i: Int): Short = inner.getShort(mapping(i))
  override def getInt(i: Int): Int = inner.getInt(mapping(i))
  override def getLong(i: Int): Long = inner.getLong(mapping(i))
  override def getFloat(i: Int): Float = inner.getFloat(mapping(i))
  override def getDouble(i: Int): Double = inner.getDouble(mapping(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(mapping(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(mapping(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(mapping(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    inner.getInterval(mapping(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(mapping(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    inner.getMap(mapping(i))
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException(
      "remapped vectors are flat-atomic by the scan's columnar guard")
}

/** The positional delta write: data rows through the stock parquet
  * `FileWrite` into `data_<writer>`, deleted `(file, pos)` pairs into
  * position-delete files under `posdel_<writer>`, and ONE manifest
  * version carrying every pre-existing file by reference — strictly
  * serialized against the operation's pinned snapshot (positions never
  * commute with a concurrent rewrite).
  *
  * Delete-file placement scales with the statement (round-12 rework of
  * the driver-side ceiling): each task BUFFERS its pairs up to a spill
  * threshold ([[GraftPosDeltaWriterFactory.SpillThreshold]], 65536
  * pairs).
  * A task under the threshold ships pairs in its commit MESSAGE and
  * the driver folds every small task into ONE posdel file (targeted
  * DML: one tidy file, zero extra task IO). A task over it SPILLS to
  * its own executor-side parquet at a final path — the Iceberg shape:
  * the message then carries only the file NAME, so a broad
  * `DELETE FROM t WHERE <predicate>` matching a billion rows is
  * bounded by task memory and file IO, never by driver heap or the
  * RPC max message size. Spilled files become visible only through
  * the manifest commit (the committed tasks' reported names), so a
  * speculative attempt's duplicate file stays an unreferenced orphan
  * until VACUUM — the same manifest-gated visibility the bucket
  * router uses, with no commit-coordinator ask.
  */
private[graft] class GraftPosDeltaWrite(
    op: GraftPosDeltaOperation,
    dir: String,
    tableSchema: StructType,
    info: LogicalWriteInfo)
  extends DeltaWrite {

  private def spark: SparkSession = SparkSession.active
  private val writerId = java.util.UUID.randomUUID().toString.take(12)
  private val dataDir = s"$dir/data_$writerId"
  private val posDelDir = s"$dir/posdel_$writerId"
  private val posDelSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  private def lwi(s: StructType, qid: String): LogicalWriteInfo =
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def queryId(): String = qid
      override def schema(): StructType = s
      override def rowIdSchema(): java.util.Optional[StructType] =
        java.util.Optional.empty()
      override def metadataSchema(): java.util.Optional[StructType] =
        java.util.Optional.empty()
    }

  /** Parquet writer plumbing for the EXECUTOR-SIDE posdel spill (the
    * bucket router's committer-less shape): prepareWrite configures
    * the job conf the task-side TaskAttemptContexts carry.
    */
  private val (posFactory, posSerConf) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val f = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, posDelSchema)
    (f, new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    // a pure DELETE has an EMPTY row schema — the data sink only
    // exists when the statement lands rows (K39's conditional shape)
    private val dataInner: Option[BatchWrite] =
      if (info.schema().isEmpty) None
      else Some(ParquetTable("graft-posdelta-data", spark,
        CaseInsensitiveStringMap.empty(), Seq(dataDir), Some(info.schema()),
        classOf[ParquetFileFormat])
        .newWriteBuilder(lwi(info.schema(), info.queryId())).build().toBatch)

    // the file commit protocol coordinates its own task commits —
    // same contract as GraftDeltaWrite (one ask per partition); the
    // posdel spill writes final paths with NO ask, so one task still
    // makes exactly one coordinator ask (the data file's)
    override def useCommitCoordinator(): Boolean = false

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory =
      new GraftPosDeltaWriterFactory(
        dataInner.map(_.createBatchWriterFactory(pInfo)).orNull,
        posFactory, posSerConf, posDelDir, posDelSchema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.map(_.asInstanceOf[GraftPosDeltaCommitMessage])
      dataInner.foreach(_.commit(ms.flatMap(_.data)))
      // spilled tasks report file NAMES; small tasks' pairs fold into
      // ONE driver-written file (the targeted-DML fast path)
      val spilled = ms.flatMap(_.posDelFile)
      val pairs = ms.flatMap(m => m.deletedFiles.zip(m.deletedPos)).distinct
      val driverFile: Option[String] =
        if (pairs.isEmpty) None
        else {
          val path = s"$posDelDir/part-driver-${writerId}" +
            posFactory.getFileExtension(GraftPosDeltaWriterFactory.taskContext(
              posSerConf.value, 0))
          val w = posFactory.newInstance(path, posDelSchema,
            GraftPosDeltaWriterFactory.taskContext(posSerConf.value, 0))
          try pairs.foreach { case (f, p) =>
            val r = new GenericInternalRow(2)
            r.update(0, UTF8String.fromString(f))
            r.update(1, p)
            w.write(r)
          } finally w.close()
          Some(path)
        }
      commitManifest((spilled ++ driverFile).toSeq)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.collect { case m: GraftPosDeltaCommitMessage => m }
      dataInner.foreach(_.abort(ms.flatMap(_.data)))
      // spilled posdel files are manifest-gated (never committed), but
      // clean up the ones the messages name anyway
      val fs = new org.apache.hadoop.fs.Path(posDelDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      ms.flatMap(_.posDelFile).foreach(p =>
        try fs.delete(new org.apache.hadoop.fs.Path(p), false)
        catch { case _: Exception => () })
    }
  }

  private def commitManifest(posDelFiles: Seq[String]): Unit = {
    val manBase = s"$dir/manifest"
    val txn = spark.conf.getOption(GraftLakeTable.TxnConfKey).getOrElse("")
    val newData = GraftLakeTable.fileStats(spark, dataDir, tableSchema)
    // only COMMITTED tasks' reported posdel files register — a
    // speculative attempt's duplicate stays invisible until VACUUM
    val newDel = GraftLakeTable.fileStats(spark, posDelDir, posDelSchema,
      onlyFiles = Some(posDelFiles))
    val basedOn = ManifestStore.versions(spark, manBase).lastOption.getOrElse(0L)
    if (basedOn != op.snapshotVersion)
      throw new java.io.IOException(
        s"${op.description()}: concurrent commit moved the table to " +
          s"v$basedOn past the pinned v${op.snapshotVersion} — row " +
          "positions do not commute with concurrent writes; retry the statement")
    val current = op.snapshotRows
    val manifest = GraftLakeTable.publishRows(spark,
      current.map(_.copy(txn = "")) ++
        (newData ++ newDel).map { case (f, n, st, b) =>
          GraftLakeTable.ManifestRow(f, n, txn, st, basedOn + 1, b) })
    if (!ManifestStore.tryPublish(spark, manBase, manifest, basedOn + 1))
      throw new java.io.IOException(
        s"${op.description()}: lost the commit race at v${basedOn + 1} — " +
          "retry the statement")
  }

  override def description(): String = s"GraftPosDeltaWrite($dataDir, $posDelDir)"
}

/** Either the task's buffered `(file, pos)` pairs (small deltas) or
  * the FINAL PATH of the posdel parquet the task spilled executor-side
  * (broad deltas) — never both.
  */
private[graft] case class GraftPosDeltaCommitMessage(
    data: Option[WriterCommitMessage],
    deletedFiles: Array[String],
    deletedPos: Array[Long],
    posDelFile: Option[String] = None) extends WriterCommitMessage

private[graft] object GraftPosDeltaWriterFactory {
  /** Deleted `(file, pos)` pairs a task buffers for its commit message
    * before it spills them to its own posdel file.
    */
  val SpillThreshold = 65536

  /** A synthetic TaskAttemptContext for committer-less parquet writes
    * (the bucket router's shape) — shared by the executor spill and
    * the driver's small-delta fold.
    */
  private[graft] def taskContext(conf: org.apache.hadoop.conf.Configuration,
                                 partitionId: Int)
      : org.apache.hadoop.mapreduce.TaskAttemptContext = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      new org.apache.hadoop.conf.Configuration(conf),
      new TaskAttemptID(
        new TaskID(new JobID("graftPosDel", partitionId), TaskType.MAP,
          partitionId), 0))
  }
}

private[graft] class GraftPosDeltaWriterFactory(
    dataFactory: DataWriterFactory,
    posFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    posSerConf: org.apache.spark.util.SerializableConfiguration,
    posDelDir: String,
    posDelSchema: StructType)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private var dataWriter: DataWriter[InternalRow] = _
      private val delFiles = scala.collection.mutable.ArrayBuffer[String]()
      private val delPos = scala.collection.mutable.ArrayBuffer[Long]()
      // executor-side spill state: opened once the buffered pairs pass
      // the threshold; the file lands at its FINAL path and becomes
      // visible only through the manifest commit
      private var spillWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var spillPath: String = _

      private def writePair(file: String, pos: Long): Unit = {
        val r = new GenericInternalRow(2)
        r.update(0, UTF8String.fromString(file))
        r.update(1, pos)
        spillWriter.write(r)
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        // (_file, _pos) in rowId order — both non-nullable by contract
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        if (spillWriter != null) writePair(file, pos)
        else {
          delFiles += file
          delPos += pos
          if (delFiles.length > GraftPosDeltaWriterFactory.SpillThreshold) {
            val ctx = GraftPosDeltaWriterFactory.taskContext(
              posSerConf.value, partitionId)
            spillPath = s"$posDelDir/part-$partitionId-$taskId" +
              posFactory.getFileExtension(ctx)
            spillWriter = posFactory.newInstance(spillPath, posDelSchema, ctx)
            delFiles.zip(delPos).foreach { case (f, p) => writePair(f, p) }
            delFiles.clear(); delPos.clear()
          }
        }
      }

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delete(meta, id)
        insert(row)
      }

      override def reinsert(meta: InternalRow, row: InternalRow): Unit = insert(row)

      override def insert(row: InternalRow): Unit = {
        require(dataFactory != null,
          "pos-delta write received a data row for a statement planned without a row schema")
        if (dataWriter == null) dataWriter = dataFactory.createWriter(partitionId, taskId)
        dataWriter.write(row)
      }

      override def commit(): WriterCommitMessage = {
        if (spillWriter != null) spillWriter.close()
        GraftPosDeltaCommitMessage(
          Option(dataWriter).map(_.commit()), delFiles.toArray, delPos.toArray,
          Option(spillPath))
      }

      override def abort(): Unit = {
        if (dataWriter != null) dataWriter.abort()
        if (spillWriter != null) {
          try spillWriter.close() catch { case _: Exception => () }
          val fs = new org.apache.hadoop.fs.Path(posDelDir)
            .getFileSystem(posSerConf.value)
          try fs.delete(new org.apache.hadoop.fs.Path(spillPath), false)
          catch { case _: Exception => () }
        }
      }

      override def close(): Unit =
        if (dataWriter != null) dataWriter.close()
    }
}
