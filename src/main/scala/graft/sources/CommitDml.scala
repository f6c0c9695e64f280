package graft.sources

import java.nio.file.{Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

// Split from CommitSink.scala (r17, moves only): row-level DML —
// the group-granular copy-on-write operation and the delta
// (merge-on-read) operation with its position-delete writers.

/** Group-based (copy-on-write) row-level operation — what turns SQL
  * UPDATE and MERGE INTO (and DELETE with conditions the metadata path
  * cannot translate) into executable plans on this sink: Spark reads the
  * committed table through [[CommitScanBuilder]], computes the post-op
  * row set (updated + untouched + inserted rows), and lands it through
  * the two-phase write in GROUP-GRANULAR replace mode — the Iceberg
  * copy-on-write shape proper: the scan records exactly which committed
  * files it planned (after zone-map pruning of the pushed DML
  * condition), the write replaces ONLY those files and carries every
  * untouched file forward in the manifest, all under one atomic CAS'd
  * manifest swap against the PLANNING-time commit id — so a reader sees
  * the pre-op or post-op table (never a torn state) and a concurrent
  * commit landing mid-operation hard-fails the swap instead of being
  * silently truncated away. Zone-map pruning on the DML scan is safe BY
  * CONSTRUCTION under this contract: a pruned file is a carried file,
  * not a deleted one (the r11 whole-table-rewrite design had to decline
  * all pruning precisely because its truncate-write deleted whatever the
  * scan skipped). A one-row UPDATE on a 100 TB table now reads and
  * rewrites one file's worth of data, not 100 TB. DELETEs whose
  * predicates translate still take the cheaper metadata path
  * (`OptimizeMetadataOnlyDeleteFromTable` converts the rewritten plan
  * back to [[CommitSinkTable.deleteWhere]], itself group-granular).
  *
  * The scan and write BOTH bind to [[planning]] — the table instance's
  * one manifest, with every group resolved — the snapshot-isolation pin.
  * Streaming-epoch ledger: a group rewrite CARRIES the ledger (unlike
  * TRUNCATE, which resets it) — the table's content lineage is
  * continuous, so a re-delivered micro-batch commit must still be
  * recognized and dropped. */
class CommitRowLevelOperation(path: String, cmd: RowLevelOperation.Command,
                              /** The snapshot this operation reads AND
                                * replaces against. */
                              private[sources] val planning: CommitSink.Manifest)
    extends RowLevelOperation {
  /** Files the operation's scan actually planned (set by
    * [[CommitScan.planInputPartitions]], which always runs before the
    * write's commit). Never set ⇒ the optimizer proved the scan empty
    * (e.g. a statically-false condition): nothing was read, so nothing
    * is replaced and every file is carried. */
  private[sources] val scanned =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](null)
  override def command(): RowLevelOperation.Command = cmd

  /** PROFITABILITY GUARD for runtime group filtering (the r12 o13
    * regression): the matching-groups subquery pays one source×target
    * join per MERGE/UPDATE, which only earns its keep when the layout
    * HAS prunable group structure. The manifest's own zone maps decide:
    *
    *  - an identity-PARTITIONED table always has it (one key per file);
    *  - an unpartitioned table has it iff some recorded column's
    *    per-file ranges are pairwise DISJOINT (a range-clustered
    *    layout: matched keys land in few files). On a hash-scattered
    *    layout every file's ranges overlap and a source of k keys
    *    leaves a file unmatched with probability (1-1/N)^k ≈ 0 — the
    *    subquery would discover "all files match" at the price of a
    *    second table scan, so it is skipped and the rewrite replaces
    *    the statically-planned set (Iceberg's own
    *    stats-prove-filtering-can't-help short-circuit).
    *
    * `spark.graft.commit.runtimeGroupFilter` = always|never|auto
    * overrides the heuristic (a selective point-UPDATE on a
    * hash-scattered layout is the one case where `always` wins: the
    * matched-file set is exact regardless of layout). ≤2 files (or <2
    * non-empty stat'd files) never filter — the bounded saving cannot
    * repay the subquery. */
  private[sources] def groupFilterUseful: Boolean = {
    val mode =
      try SparkSession.active.conf.get("spark.graft.commit.runtimeGroupFilter", "auto")
      catch { case _: Throwable => "auto" }
    // a typo'd value must not silently become the heuristic — the
    // sibling deleteMode/rowLevelMode knobs hard-fail the same way
    require(mode == "always" || mode == "never" || mode == "auto",
      "graft-commit: spark.graft.commit.runtimeGroupFilter must be " +
        s"'always', 'never' or 'auto', got '$mode'")
    mode match {
      case "always" => true
      case "never"  => false
      case _ =>
        planning.partCol.isDefined || {
          planning.files.size > 2 && {
            val stats = planning.files.map(f =>
              planning.stats.get(f).map(CommitSink.FileStat.decode))
            if (stats.exists(_.isEmpty)) true // unknown layout: keep the filter
            else {
              // zero-row files carry no ranges and say nothing about layout
              val decoded = stats.flatten.filter(_.rows > 0)
              decoded.size >= 2 && {
                val cols = decoded.flatMap(_.cols.keySet).distinct
                  .filter(c => decoded.forall(_.cols.contains(c)))
                cols.exists { c =>
                  val rs = decoded.map(_.cols(c))
                  rs.map(_.kind).distinct.size == 1 && (rs.head.kind match {
                    case 'l' =>
                      val s = rs.map(r => (r.min.toLong, r.max.toLong)).sortBy(_._1)
                      s.sliding(2).forall {
                        case Seq(a, b) => a._2 < b._1
                        case _ => true
                      }
                    case _ =>
                      val s = rs.map(r => (r.min.toDouble, r.max.toDouble)).sortBy(_._1)
                      s.sliding(2).forall {
                        case Seq(a, b) => a._2 < b._1
                        case _ => true
                      }
                  })
                }
              }
            }
          }
        }
    }
  }

  /** The operation reads rows WITH their `_file` metadata column — what
    * lets Spark's runtime GROUP filtering find the matched groups: the
    * matching-rows subquery (planned over the ORIGINAL table — Spark
    * swaps RowLevelOperationTable back before building it, so it never
    * touches this operation's scanned-files holder) computes the
    * DISTINCT `_file` values the command condition matches, and this
    * operation's scan prunes to exactly those files at execution. The
    * In-set is bounded by the FILE count (the reason Iceberg keys group
    * filtering on FILE_PATH, not data columns). Withdrawn when (a) a
    * data column claims the `_file` name — the table's metadataColumns()
    * is withdrawn too, so demanding it would fail analysis (the rewrite
    * already handles the no-runtime-filter case by replacing every
    * scanned file) — or (b) the [[groupFilterUseful]] guard says the
    * subquery cannot pay for itself on this layout. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (planning.schema.fieldNames.contains(CommitSink.FILE_COL) ||
        !groupFilterUseful)
      Array.empty
    else
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(CommitSink.FILE_COL))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitScanBuilder(path, Some(planning), dmlOp = Some(this))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CommitWriteBuilder(path, info,
      rewrite = Some(CommitSink.DmlRewrite(planning,
        () => Option(scanned.get).getOrElse(Set.empty))))
  override def description(): String = s"graft-commit $cmd (group copy-on-write)"
}

/** DELTA-BASED merge-on-read row-level operations (o28) — the
  * [[SupportsDelta]] half of the DML surface, Iceberg's position-delta
  * shape: instead of rewriting every file a matched row lives in
  * (group copy-on-write), Spark hands this operation the per-row
  * CHANGES — delete(rowId), insert(row), with updates represented as
  * delete+insert — and the commit lands them as deletion vectors plus
  * appended files, leaving every existing data file untouched. A MERGE
  * that updates 100 rows of a 100 TB table writes 100 vector positions
  * and one small file of new row versions, not 100 rewritten files.
  *
  * The rowId is (`_file`, `_pos`) — the same physical coordinates the
  * o27 metadata DELETE records, so the vector machinery (union,
  * fully-deleted-file drop, read-side skip, GC liveness, changelog
  * refusal) is shared verbatim. The write requests clustering on
  * `_file` and ordering by (`_file`, `_pos`) — exactly Iceberg's
  * position-delta distribution — so each file's deletes land in one
  * task as one sorted staged vector; the commit still tolerates an
  * unhonored request by unioning partials. Scan and commit both bind
  * to [[planning]]; the manifest swap CAS's on it, so a concurrent
  * commit hard-fails the statement (the rewrite position).
  *
  * Selected per table by `spark.graft.commit.rowLevelMode=
  * merge-on-read` when eligible (no `_file`/`_pos` data columns;
  * partitioned tables included since the r14 lift — the vector
  * machinery is per-file and layout-blind, and the delta write
  * clusters inserted rows on the partition column to preserve the
  * one-key-per-file layout) — copy-on-write stays the default and
  * the fallback, matching Iceberg's write.update.mode/write.merge.mode
  * table properties (a cost knob, never a semantics change). */
class CommitDeltaRowLevelOperation(path: String, cmd: RowLevelOperation.Command,
                                   planning: CommitSink.Manifest)
    extends RowLevelOperation with SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitScanBuilder(path, Some(planning))
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(CommitSink.FILE_COL),
      Expressions.column(CommitSink.POS_COL))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new CommitDeltaWriteBuilder(path, planning, cmd)
  override def description(): String =
    s"graft-commit $cmd (merge-on-read, deletion vectors)"
}

class CommitDeltaWriteBuilder(path: String, planning: CommitSink.Manifest,
                              cmd: RowLevelOperation.Command)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new CommitDeltaWrite(path, planning, cmd)
}

class CommitDeltaWrite(path: String, planning: CommitSink.Manifest,
                       cmd: RowLevelOperation.Command)
    extends DeltaWrite with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => CSortOrder}
  /** Cluster on `_file` so each committed file's delete positions land
    * in ONE task (one staged vector per file), ordered by position so
    * the vector streams out sorted — Iceberg's position-delta layout.
    *
    * On a PARTITIONED table, UPDATE/MERGE writes also carry INSERTED
    * rows (their `_file` rowId is null), which must land one-key-per-
    * file: the partition column joins the clustering and the sort, so
    * inserts of one key colocate and arrive contiguously at the insert
    * writer's per-key roll. A pure DELETE's delta plan projects no data
    * columns, so the partition column is only referenced when it can
    * resolve. */
  private def partRefs: Seq[String] =
    if (cmd == RowLevelOperation.Command.DELETE) Seq.empty
    else planning.partCol.toSeq
  override def requiredDistribution(): Distribution =
    Distributions.clustered(
      (CommitSink.FILE_COL +: partRefs).map(c =>
        Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredOrdering(): Array[CSortOrder] =
    ((CommitSink.FILE_COL +: partRefs) :+ CommitSink.POS_COL).map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
  override def toBatch: DeltaBatchWrite = new CommitDeltaBatchWrite(path, planning)
  override def description(): String = "graft-commit delta write"
}

/** One task's delta output: staged inserted-row files plus
  * (data file, staged vector name, merged position count) triples. */
case class DeltaTaskResult(inserted: Seq[StagedFile],
                           dvs: Seq[(String, String, Long)])
    extends WriterCommitMessage

class CommitDeltaBatchWrite(path: String, planning: CommitSink.Manifest)
    extends DeltaBatchWrite {
  private val dir = Paths.get(path)
  private val nonce = CommitSink.writeNonce()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    CommitSink.io.createDirectories(CommitSink.stagingDir(dir, nonce))
    new CommitDeltaWriterFactory(path, planning.ddl, nonce,
      planning.deletes.map { case (f, e) => f -> Paths.get(path, e.dv).toString },
      planning.partCol)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val results = messages.collect { case r: DeltaTaskResult => r }.toSeq
    val staged = results.flatMap(_.inserted)
    // one staged vector per file under the requested clustering; if the
    // request was not honored, partials union below (each already merged
    // the OLD vector, so the union dedupes it)
    val byFile: Seq[(String, Seq[(String, Long)])] = results.flatMap(_.dvs)
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toSeq.sortBy(_._1)
    if (staged.isEmpty && byFile.isEmpty) {
      CommitSink.sweepStaging(dir, nonce)
      return // nothing matched, nothing inserted: no new version
    }
    val commitId = planning.commit + 1
    val rowsOf = planning.stats.map { case (f, e) =>
      f -> CommitSink.FileStat.decode(e).rows }
    val staging = CommitSink.stagingDir(dir, nonce)
    val promoted = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val newStats = scala.collection.mutable.Map.empty[String, String]
      val newFiles = staged.zipWithIndex.map { case (s, i) =>
        val fin = f"part-c$commitId%05d-$nonce-$i%05d.parquet"
        CommitSink.io.promote(staging.resolve(s.name), dir.resolve(fin))
        promoted += fin
        if (s.stats.nonEmpty) newStats += (fin -> s.stats)
        fin
      }
      val newDvs: Seq[(String, CommitSink.DvEntry)] =
        byFile.zipWithIndex.map { case ((f, parts), i) =>
          val fin = f"part-dv-c$commitId%05d-$nonce-$i%05d.bin"
          val n =
            if (parts.size == 1) {
              CommitSink.io.promote(staging.resolve(parts.head._1), dir.resolve(fin))
              parts.head._2
            } else {
              val merged = parts.flatMap(p =>
                CommitSink.readDv(staging.resolve(p._1))).distinct.sorted.toArray
              CommitSink.writeDv(dir.resolve(fin), merged)
              merged.length.toLong
            }
          promoted += fin
          f -> CommitSink.DvEntry(fin, n)
        }
      // a vector covering every physical row drops its file outright —
      // the vector stays as a TOMBSTONE so the change feed can emit the
      // drop as delete rows (o33; it dies at the next commit)
      val dead = newDvs.collect {
        case (f, e) if rowsOf.get(f).contains(e.ndel) => f
      }.toSet
      val files = planning.files.filterNot(dead) ++ newFiles
      val dvMap = (planning.deletes ++ newDvs).toMap
      CommitSink.writeManifest(dir, planning.ddl, files, commitId,
        planning.epochs, // content lineage continues: the ledger carries
        expectedPrev = planning.commit,
        partCol = planning.partCol, // DML preserves the table layout
        stats = planning.stats.view.filterKeys(files.toSet).toMap ++ newStats,
        tableId = CommitSink.carriedOrFreshTableId(Some(planning)),
        deletes = dvMap.view.filterKeys(files.toSet).toMap,
        fileSeq = planning.fileSeq ++ newFiles.map(_ -> commitId),
        eqDeletes = planning.eqDeletes,
        tombstones = dvMap.view.filterKeys(dead).toMap,
        blooms = planning.blooms, // existing files untouched: index carries
        schemaLog = planning.schemaLog)
    } catch { case e: Throwable =>
      // refused CAS / failed promote: leave no trace (the rewrite rule)
      promoted.foreach(n => CommitSink.io.deleteIfExists(dir.resolve(n)))
      CommitSink.sweepStaging(dir, nonce)
      throw e
    }
    CommitSink.sweepStaging(dir, nonce)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    CommitSink.sweepStaging(dir, nonce)
}

class CommitDeltaWriterFactory(path: String, ddl: String, nonce: String,
                               oldDvs: Map[String, String],
                               partCol: Option[String] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new CommitDeltaWriter(path, ddl, partitionId, taskId, nonce, oldDvs, partCol)
}

/** Executor-side delta writer: inserted rows stream through an ordinary
  * staged-file writer (stats collected); deleted
  * positions buffer per file and flush as one merged staged vector at
  * task commit. Buffering (not streaming against the requested sort)
  * keeps correctness independent of whether the distribution/ordering
  * request was honored — memory is this task's deleted positions, the
  * quantity a position-delete file holds anyway. */
class CommitDeltaWriter(path: String, ddl: String, partitionId: Int,
                        taskId: Long, nonce: String,
                        oldDvs: Map[String, String],
                        partCol: Option[String] = None)
    extends DeltaWriter[InternalRow] {
  private val staging = CommitSink.stagingDir(Paths.get(path), nonce)
  // inserted rows of a partitioned table go through the same per-key
  // rolling writer a partitioned append uses — each new file holds one
  // key (with its pk recorded), preserving the storage-partitioned-join
  // layout across MOR DML
  private val inserts = new CommitDataWriter(path, ddl, partitionId, taskId,
    partCol = partCol, stagingSub = nonce)
  private val dels = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    // rowId layout = rowId() order: (_file string, _pos long)
    val f = id.getUTF8String(0).toString
    dels.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer.empty) +=
      id.getLong(1)
  }
  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit =
    sys.error("unreachable: updates are represented as delete+insert")
  override def insert(row: InternalRow): Unit = inserts.write(row)
  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    inserts.write(row)

  override def commit(): WriterCommitMessage = {
    val ins = inserts.commit() match {
      case s: StagedFile => Seq(s)
      case StagedFileSet(fs) => fs
      case _ => Seq.empty
    }
    val dvs = dels.toSeq.zipWithIndex.map { case ((f, ps), i) =>
      val old = oldDvs.get(f).map(p => CommitSink.readDv(Paths.get(p)))
        .getOrElse(Array.emptyLongArray)
      // disjoint by construction: the operation's scan applied `old`,
      // so a re-deleted position cannot arrive; sort merges the two runs
      val merged = (old ++ ps).sorted
      val name = f"dv-p$partitionId%05d-t$taskId%05d-$i%05d"
      CommitSink.writeDv(staging.resolve(name), merged)
      (f, name, merged.length.toLong)
    }
    // the eagerly-opened empty insert segment adds nothing: drop it
    DeltaTaskResult(ins.filter(_.rows > 0), dvs)
  }
  override def abort(): Unit = inserts.abort()
  override def close(): Unit = ()
}
