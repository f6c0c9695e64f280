package graft.sources

import java.nio.file.{Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** o43: METADATA INSPECTION TABLES — Iceberg's `table$files` /
  * `table$history` / `table$manifests` surface (ref: Iceberg
  * MetadataTableType / SparkTable#loadMetadataTable) over the commit
  * sink's version ledger: the per-file stats, version history, and
  * manifest inventory exposed as ordinary read-only DataFrames, the
  * ops/debug read a 100 TB operator runs daily ("how many files, how
  * big, which versions, is compaction due, what do the delete vectors
  * cover") without parsing JSON by hand.
  *
  * Two surfaces, one implementation:
  *  - path: `spark.read.format("graft-commit").option("path", p)
  *    .option("metaTable", "files").load()` (composes with
  *    `versionAsOf`/`tagAsOf` — inspect a PAST version's inventory);
  *  - catalog: ``SELECT * FROM cat.ns.`t$files` `` (Iceberg's suffix
  *    convention; backquotes because `$` is not a plain-identifier
  *    character in Spark SQL).
  *
  * Scale: every row here is MANIFEST-granular — file counts, never row
  * data — so the whole table is driver-small by the same argument that
  * lets planning parse the manifest at all; the rows are computed once
  * on the driver at scan planning and shipped as one partition. The
  * facts come from [[CommitSink.parseManifestVersion]] (resolved
  * two-level roots included), [[CommitSink.listTags]]/[[CommitSink
  * .listStaged]] (_REFS.json), and the group refs' zone summaries —
  * nothing is recomputed from data files. */
private[graft] object CommitMeta {
  val Kinds: Set[String] = Set("files", "history", "manifests", "partitions")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType.fromDDL(
      "file STRING, part_key BIGINT, rows BIGINT, bytes BIGINT, " +
        "seq BIGINT, dv_deleted BIGINT, n_eq_deletes BIGINT, n_bloom_cols BIGINT")
    case "partitions" => StructType.fromDDL(
      // Iceberg's partitions metadata table: one row per partition-key
      // vector (multi-transform composites render as 'k1.k2'), the
      // skew/compaction-planning readout
      "partition STRING, n_files BIGINT, rows BIGINT, bytes BIGINT, " +
        "dv_deleted BIGINT")
    case "history" => StructType.fromDDL(
      "version BIGINT, n_files BIGINT, total_rows BIGINT, total_bytes BIGINT, " +
        "n_eq_deletes BIGINT, is_staged BOOLEAN, is_current BOOLEAN, tags STRING")
    case "manifests" => StructType.fromDDL(
      "name STRING, level STRING, n_files BIGINT, rows BIGINT, bytes BIGINT")
    case other => sys.error(
      s"graft-commit: unknown metaTable '$other' (have: ${Kinds.toSeq.sorted.mkString(", ")})")
  }

  /** Driver-side row computation (manifest-granular by design — see the
    * object scaladoc). `version` pins a past version; None reads the
    * current manifest. Values are plain String/Long/Boolean/null so the
    * one input partition serializes trivially. */
  def rowsOf(path: String, kind: String, version: Option[Long]): Array[Array[Any]] = {
    val dir = Paths.get(path)
    def resolved: Option[CommitSink.Manifest] =
      CommitSink.loadRoot(dir, version).map(CommitSink.resolveGroups(dir, _))
    kind match {
      case "files" =>
        resolved.map { m =>
          m.files.sorted.map { f =>
            val st = m.stats.get(f).map(CommitSink.FileStat.decode)
            Array[Any](f,
              st.flatMap(_.pk).map(Long.box).orNull,
              st.map(s => Long.box(s.rows)).orNull,
              st.map(s => Long.box(s.bytes)).orNull,
              Long.box(m.seqOf(f)),
              Long.box(m.deletes.get(f).map(_.ndel).getOrElse(0L)),
              Long.box(m.eqFor(f).size.toLong),
              Long.box(m.blooms.get(f).map(_.size.toLong).getOrElse(0L)))
          }.toArray
        }.getOrElse(Array.empty)
      case "partitions" =>
        resolved.map { m =>
          // a file with NO recorded stats still exists and must not
          // silently vanish from the inventory (it would undercount
          // n_files vs $files and the true manifest): it lands under an
          // explicit '(unknown)' partition with null rows/bytes —
          // unknown, not zero
          m.files.map { f =>
            val st = m.stats.get(f).map(CommitSink.FileStat.decode)
            (st.map(_.pks.mkString(".")).getOrElse("(unknown)"),
              st.map(_.rows), st.map(_.bytes),
              m.deletes.get(f).map(_.ndel).getOrElse(0L))
          }.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, fs) =>
            def sumOpt(vs: Seq[Option[Long]]): Any =
              if (vs.forall(_.isDefined)) Long.box(vs.flatten.sum) else null
            Array[Any](if (k.isEmpty) "(unpartitioned)" else k,
              Long.box(fs.size.toLong), sumOpt(fs.map(_._2)),
              sumOpt(fs.map(_._3)), Long.box(fs.map(_._4).sum))
          }.toArray
        }.getOrElse(Array.empty)
      case "history" =>
        val current = CommitSink.currentCommit(dir)
        val staged = CommitSink.listStaged(dir)
        val tagsByV = CommitSink.listTags(dir).toSeq.groupBy(_._2)
          .map { case (v, ts) => v -> ts.map(_._1).sorted.mkString(",") }
        CommitSink.listVersions(dir).map { v =>
          val m = CommitSink.parseManifestVersion(dir, v)
          val sts = m.files.flatMap(f => m.stats.get(f)).map(CommitSink.FileStat.decode)
          Array[Any](Long.box(v), Long.box(m.files.size.toLong),
            Long.box(sts.map(_.rows).sum), Long.box(sts.map(_.bytes).sum),
            Long.box(m.eqDeletes.size.toLong),
            Boolean.box(staged.contains(v)), Boolean.box(v == current),
            tagsByV.getOrElse(v, ""))
        }.toArray
      case "manifests" =>
        // ROOT parse only (never resolve): the whole point of the
        // two-level inventory is showing the group fan-out
        val rootName = version.map(CommitSink.versionFile)
          .getOrElse(CommitSink.MANIFEST)
        val rootPath = dir.resolve(rootName)
        if (!CommitSink.io.exists(rootPath)) Array.empty
        else {
          val root = CommitSink.parseManifestText(
            CommitSink.io.readString(rootPath), rootPath.toString)
          if (root.groups.isEmpty) {
            val sts = root.files.flatMap(f => root.stats.get(f))
              .map(CommitSink.FileStat.decode)
            Array(Array[Any](rootName, "root", Long.box(root.files.size.toLong),
              Long.box(sts.map(_.rows).sum), Long.box(sts.map(_.bytes).sum)))
          } else {
            val groups = root.groups.map { g =>
              val st = CommitSink.FileStat.decode(g.stat)
              Array[Any](g.name, "group", Long.box(g.nFiles.toLong),
                Long.box(st.rows), Long.box(st.bytes))
            }
            Array(Array[Any](rootName, "root",
              Long.box(root.groups.map(_.nFiles.toLong).sum),
              Long.box(groups.map(_(3).asInstanceOf[Long]).sum),
              Long.box(groups.map(_(4).asInstanceOf[Long]).sum))) ++ groups
          }
        }
      case other => schemaOf(other); Array.empty // loud via schemaOf
    }
  }
}

/** The read-only DSv2 table serving one metadata kind for one table path
  * (optionally pinned to a past version). Batch-read only: metadata
  * tables take no writes, no streaming, no time travel of their own. */
private[graft] class CommitMetaTable(path: String, kind: String,
                                     version: Option[Long] = None)
    extends Table with SupportsRead {
  CommitMeta.schemaOf(kind) // validate the kind loudly at load time
  override def name(): String = s"$path$$$kind"
  override def schema(): StructType = CommitMeta.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CommitMetaScan(path, kind, version)
    }
}

private[graft] class CommitMetaScan(path: String, kind: String,
                                    version: Option[Long])
    extends Scan with Batch {
  override def readSchema(): StructType = CommitMeta.schemaOf(kind)
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    // rows materialize HERE, at planning — a metadata scan reflects the
    // manifest as of the moment it plans, like every other planning read
    Array(CommitMetaPartition(CommitMeta.rowsOf(path, kind, version)))
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitMetaReaderFactory
  override def description(): String = s"graft-commit meta $kind $path"
}

private[graft] case class CommitMetaPartition(rows: Array[Array[Any]])
    extends InputPartition

private[graft] class CommitMetaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[CommitMetaPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow.fromSeq(
        rows(i).toSeq.map {
          case s: String => UTF8String.fromString(s)
          case o => o
        })
      override def close(): Unit = ()
    }
  }
}
