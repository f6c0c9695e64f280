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

// Split from CommitSink.scala (r17, moves only): the read path —
// scan builder (pushdown/pruning/group resolution), the batch scan
// (zone maps, blooms, key projection, SPJ reporting), the change
// feed and metadata-aggregate scans, the changelog micro-batch
// stream, and the file/vector readers.

/** Filter pushdown serves two ends. SKIPPING: the skippable subset
  * prunes whole files by their manifest-recorded ranges — the parquet
  * row-group / Iceberg data-file skipping contract, where stats are an
  * optimization and never a correctness dependency. EVALUATION: a plain
  * read (`absorbFilters`, set only by [[CommitSinkTable]]) ABSORBS the
  * filters [[CommitPredicate]] can evaluate exactly — the reader drops
  * non-matching rows right after decoding them, and Spark plans no
  * Filter (and so generates no code embedding the literal) above the
  * scan. Every other filter, and every filter of a row-level-operation,
  * change-feed or stream scan, stays residual: Spark re-evaluates it
  * above the scan.
  *
  * Column pruning (SupportsPushDownRequiredColumns) reaches the reader:
  * the parquet decoder reads ONLY requested columns' chunks, so a 2-column
  * projection of a 50-column table decodes 2 values per row. Aggregate
  * pushdown (SupportsPushDownAggregates) goes further — an unfiltered,
  * ungrouped COUNT(*)/MIN/MAX is answered ENTIRELY from the manifest's
  * per-file statistics (one row, zero data files opened): the Iceberg
  * metadata-only query. Spark attempts aggregate pushdown whenever no
  * Filter remains between the aggregate and the scan — which is the
  * case when every conjunct of a WHERE clause was absorbed — so
  * [[pushAggregation]] declines whenever any filter was pushed at all:
  * the manifest's totals know nothing of a predicate. */
class CommitScanBuilder(path: String,
                        /** The manifest this builder's decisions and its
                          * scan bind to — ONE snapshot, never re-read:
                          * the table instance's root (header + group
                          * refs; per-file entries are loaded only when
                          * the build needs them), or a row-level
                          * operation's fully-resolved planning manifest.
                          * None = never written. */
                        root: Option[CommitSink.Manifest],
                        /** The pinned version (o17) or branch head (o44)
                          * `root` came from; None for a live read. Only
                          * labels the scan and refuses to stream it. */
                        version: Option[Long] = None,
                        /** Set for copy-on-write row-level-operation
                          * (UPDATE/MERGE/DELETE-rewrite) scans: `root` is
                          * the operation's PLANNING manifest and the scan
                          * reports the file set it planned back to the
                          * operation — the group-granular replace
                          * contract. Zone-map pruning of the pushed DML
                          * condition is safe here: a pruned file is
                          * carried forward by the rewrite commit, never
                          * deleted. */
                        dmlOp: Option[CommitRowLevelOperation] = None,
                        /** Streaming-read admission knob (o20): how many
                          * COMMITS one micro-batch may consume. */
                        maxCommitsPerTrigger: Int = Int.MaxValue,
                        /** Opt-in changelog SELF-SERVICE RECOVERY: when a
                          * rewrite or generation change fires the
                          * append-only check, re-bootstrap from the
                          * current snapshot instead of refusing (see
                          * [[CommitTableMicroBatchStream]]). */
                        snapshotOnRewrite: Boolean = false,
                        /** CHANGE DATA FEED mode (o29): build a
                          * [[CommitChangesScan]] instead of a row scan.
                          * Pushdown declines wholesale — the feed's
                          * output is the change rows themselves. */
                        changeFeed: Boolean = false,
                        startingVersion: Option[Long] = None,
                        endingVersion: Option[Long] = None,
                        /** Evaluate the exact filters in the reader
                          * ([[CommitPredicate]]) instead of returning
                          * them to Spark. Set only for plain, version-
                          * pinned/tag and branch reads: a row-level
                          * operation's scan must return EVERY row of
                          * the files it plans (the copy-on-write
                          * rewrite carries the non-matching ones), and
                          * the merge-on-read scan's planning `root`
                          * looks exactly like a plain read's — so
                          * absorption is this explicit flag, never
                          * inferred. */
                        absorbFilters: Boolean = false)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}

  /** The fully-resolved manifest — forced only by paths that genuinely
    * need every per-file entry (metadata aggregation, unfiltered scans,
    * the change feed). */
  private lazy val manifest =
    root.map(CommitSink.resolveGroups(Paths.get(path), _))
  private def fullSchema: StructType = root.fold(new StructType())(_.schema)

  private var skip: Array[Filter] = Array.empty
  private var absorbed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  private var aggs: Array[AggregateFunc] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Zone-map file skipping applies to DML scans too: Spark pushes the
    // UPDATE/DELETE condition here, a file whose ranges prove no row can
    // match is never scanned — and under the GROUP-GRANULAR rewrite an
    // unscanned file is CARRIED in the manifest, never deleted, so the
    // prune is safe by construction (the r11 whole-table-truncate design
    // had to decline pruning; LakeSpec's 4-file range-partitioned UPDATE
    // now pins both no-data-loss AND the 1-rewritten/3-carried split).
    if (!changeFeed) skip = filters.filter(CommitSkip.usable)
    // Under CBO the residual Filter is what FilterEstimation prices (o50:
    // a point predicate at rows/NDV decides a broadcast); the scan's
    // statistics ignore absorbed filters, so a CBO plan keeps them all.
    if (absorbFilters && !changeFeed &&
        !org.apache.spark.sql.internal.SQLConf.get.cboEnabled)
      absorbed = filters.filter(CommitPredicate.exact(_, fullSchema))
    filters.filterNot(absorbed.contains)
  }
  override def pushedFilters(): Array[Filter] = (skip ++ absorbed).distinct

  override def pruneColumns(requiredSchema: StructType): Unit = {
    if (changeFeed) return // the feed's schema is fixed: rows + CDF columns
    // keep the manifest's field order; empty projection (COUNT(*)) is legal
    val data = fullSchema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name))
    // the _file/_pos METADATA columns (o21/o27) — appended after the
    // data columns when the plan asked for them (and no data column
    // claims the name, in which case the table never exposed the
    // metadata column); fixed order `_file` then `_pos`, mirrored by
    // the readers' stamping
    def meta(name: String, dt: DataType) =
      if (requiredSchema.fieldNames.contains(name) &&
          !fullSchema.fieldNames.contains(name))
        Array(StructField(name, dt, nullable = false))
      else Array.empty[StructField]
    required = Some(StructType(data ++
      meta(CommitSink.FILE_COL, StringType) ++
      meta(CommitSink.POS_COL, LongType)))
  }

  /** A column whose manifest stats can answer MIN/MAX soundly: integral
    * only. A double column may hold NaN values, which the recorded
    * ranges deliberately exclude (NaN sorts ABOVE everything in Spark),
    * so a stats-served MAX(double) could be wrong — declined. A file
    * with rows but no recorded range for an integral column holds only
    * NULLs there, which MIN/MAX ignore — sound. */
  private def statableLong(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        val name = r.fieldNames()(0)
        // the name gate must MATCH the writer's statKind rule: a column
        // the writer never records ranges for (separator chars in the
        // name) would read "absent stats = all NULL" and answer NULL
        name.matches("[A-Za-z0-9_]+") &&
          fullSchema.fields.find(_.name == name)
            .exists(f => f.dataType == LongType || f.dataType == IntegerType)
      case _ => false
    }

  /** COMPLETE pushdown: the manifest's totals are exact, so the scan
    * emits the final one-row answer and Spark plans no aggregate at all. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    pushAggregation(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (changeFeed) return false
    if (aggregation.groupByExpressions.nonEmpty) return false
    // an absorbed filter leaves no Filter above the scan, so Spark offers
    // the aggregate under a WHERE clause; the stats cannot apply it
    if (skip.nonEmpty || absorbed.nonEmpty) return false
    // every surviving file must carry stats, or the totals are unknown
    val m = manifest.getOrElse(return false)
    if (!m.files.forall(m.stats.contains)) return false
    val funcs = aggregation.aggregateExpressions
    // equality deletes (o32) decline wholesale: how many rows a key file
    // matches is unknowable without scanning — there is no live-rows
    // arithmetic for them (convertEqDeletes restores the metadata path)
    if (m.eqDeletes.nonEmpty) return false
    // deletion vectors (o27): COUNT stays metadata-only — live rows =
    // physical rows minus recorded vector counts (Iceberg's live-rows
    // arithmetic). MIN/MAX decline: a deleted row may hold the extremum,
    // and the recorded ranges are physical.
    val hasDvs = m.files.exists(m.deletes.contains)
    val ok = funcs.nonEmpty && funcs.forall {
      case _: CountStar => true
      case f: Min => !hasDvs && statableLong(f.column)
      case f: Max => !hasDvs && statableLong(f.column)
      case _ => false
    }
    if (ok) aggs = funcs
    ok
  }

  override def build(): Scan =
    if (changeFeed)
      new CommitChangesScan(path,
        manifest.getOrElse(
          sys.error(s"graft-commit: no committed manifest at $path")),
        startingVersion, endingVersion, maxCommitsPerTrigger, snapshotOnRewrite)
    else if (aggs.nonEmpty) new CommitMetaAggScan(path, manifest.get, aggs)
    else {
      // MANIFEST-LIST prune (r16): a filtered plain read of a two-level
      // table resolves ONLY the groups whose summary ranges may match —
      // planning work scales with matching groups, not total files. DML
      // scans resolve fully (the group-granular rewrite must CARRY every
      // unscanned file, so its planning manifest has to list them all);
      // so do unfiltered scans (they plan everything anyway).
      val m = root match {
        case Some(r) if dmlOp.isEmpty && r.unresolvedRoot && skip.nonEmpty =>
          // groups prune by zone summary AND (o45) by key projection:
          // a temporal/range predicate on the partition source column
          // maps to a key interval tested against the group's recorded
          // pk span — no per-column zone entry needed in the summary
          // leading transform only: _graft_pk records the LEADING key
          // span (multi specs project their first dimension here)
          val spec = r.partCol.map(c =>
            CommitSink.PartSpec.parseSpecs(c).head)
          CommitSink.resolveGroups(Paths.get(path), r, { g =>
            val st = CommitSink.FileStat.decode(g.stat)
            skip.forall(CommitSkip.mayMatch(_, st)) &&
              spec.forall(sp => st.cols.get(CommitSink.GROUP_PK).forall { pr =>
                skip.forall(f => CommitSink.keyIntervalOf(sp, f).forall {
                  case (lo, hi) => pr.max.toLong >= lo && pr.min.toLong <= hi
                })
              })
          })
        case _ => manifest.getOrElse(
          sys.error(s"graft-commit: no committed manifest at $path"))
      }
      // hand the scan the manifest THIS builder's pushdown decisions were
      // made against — a second disk read here could bind the scan to a
      // concurrently-swapped snapshot with a different schema
      new CommitScan(path, m,
        version, skip, required, dmlOp, maxCommitsPerTrigger, snapshotOnRewrite,
        absorbed)
    }
}

/** The CHANGE DATA FEED scan (o29) — `option("readChangeFeed", true)`:
  * rows plus `_change_type` ('insert' | 'delete') and
  * `_commit_version`, per commit, for the version range
  * [`startingVersion` (default 0), `endingVersion` (default current)].
  * Inserts come from files a commit added; deletes from deletion-
  * vector diffs on unchanged files — which is why the feed exists at
  * all: the vector representation makes a DELETE's delta expressible
  * as rows (merge-on-read updates surface as delete+insert, their
  * physical form). Rewrites refuse, like the plain changelog. The
  * same per-commit planner backs [[toMicroBatchStream]], so the batch
  * and streaming feeds are one code path. */
class CommitChangesScan(path: String, manifest: CommitSink.Manifest,
                        startingVersion: Option[Long],
                        endingVersion: Option[Long],
                        maxCommitsPerTrigger: Int,
                        snapshotOnRewrite: Boolean)
    extends Scan with Batch {
  private val dir = Paths.get(path)
  require(!manifest.schema.fieldNames
      .exists(n => n == CommitSink.CHANGE_TYPE_COL ||
        n == CommitSink.COMMIT_VERSION_COL),
    s"graft-commit: $path has a data column named " +
      s"${CommitSink.CHANGE_TYPE_COL}/${CommitSink.COMMIT_VERSION_COL} — " +
      "the change feed cannot disambiguate it from its own columns")
  override def readSchema(): StructType =
    CommitSink.cdfSchema(manifest.schema)
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    CommitSink.changePartitions(dir, path,
      startingVersion.map(_ - 1).getOrElse(-1L),
      endingVersion.getOrElse(manifest.commit),
      // r19: the feed decodes with THIS manifest's names — its ledger
      // carries renames newer than a bounded range's endingVersion
      binding = manifest)
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitChangesReaderFactory(readSchema())
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CommitTableMicroBatchStream(path, manifest, manifest.schema,
      maxCommitsPerTrigger, snapshotOnRewrite = snapshotOnRewrite, changeFeed = true,
      // startingVersion is INCLUSIVE: the first batch begins there
      startAfter = startingVersion.map(_ - 1).getOrElse(-1L))
  override def description(): String =
    s"graft-commit change feed of $path " +
      s"[${startingVersion.getOrElse(0L)}..${endingVersion.getOrElse(manifest.commit)}]"
}

/** The metadata-only aggregate scan (the Iceberg `SELECT COUNT(*)` device):
  * one input partition, one row, computed purely from the manifest's
  * per-file statistics — no committed data file is ever opened (LakeSpec
  * proves it by DELETING the data files and aggregating anyway). At
  * 100 TB this turns corpus-level row counts and key ranges — the
  * queries every pipeline health check runs first — into O(manifest)
  * driver work. */
class CommitMetaAggScan(path: String, manifest: CommitSink.Manifest,
    aggs: Array[org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc])
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames()(0)
  private def colType(name: String): DataType = manifest.schema(name).dataType

  override def readSchema(): StructType = StructType(aggs.map {
    case _: CountStar => StructField("count(*)", LongType, nullable = false)
    case f: Min => StructField(s"min(${colOf(f.column)})", colType(colOf(f.column)), nullable = true)
    case f: Max => StructField(s"max(${colOf(f.column)})", colType(colOf(f.column)), nullable = true)
    case other => sys.error(s"unreachable: $other declined at pushAggregation")
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-commit META-ONLY agg of $path " +
      s"PushedAggregates=[${aggs.mkString(", ")}] (0 data files read)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(CommitMetaAggPartition(answer()))

  /** The final row, straight from the decoded stats. */
  private def answer(): Seq[Any] = {
    val stats = manifest.files.map(f => CommitSink.FileStat.decode(manifest.stats(f)))
    aggs.toSeq.map {
      case _: CountStar =>
        // live rows: physical minus deletion-vector counts (o27)
        stats.map(_.rows).sum -
          manifest.files.flatMap(manifest.deletes.get).map(_.ndel).sum
      case f: Min =>
        val c = colOf(f.column)
        val mins = stats.flatMap(_.cols.get(c)).map(_.min.toLong)
        if (mins.isEmpty) null
        else if (colType(c) == IntegerType) mins.min.toInt else mins.min
      case f: Max =>
        val c = colOf(f.column)
        val maxs = stats.flatMap(_.cols.get(c)).map(_.max.toLong)
        if (maxs.isEmpty) null
        else if (colType(c) == IntegerType) maxs.max.toInt else maxs.max
      case other => sys.error(s"unreachable: $other")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(
        p.asInstanceOf[CommitMetaAggPartition].row)
      override def close(): Unit = ()
    }
}

case class CommitMetaAggPartition(row: Seq[Any]) extends InputPartition

/** Scan = the manifest's committed view, resolved ONCE at planning: the
  * file list and schema are pinned here, so a concurrent commit swapping
  * the manifest mid-query cannot tear the read — snapshot isolation for
  * free from the manifest design. On top of the pinned view the scan
  * implements the three scale contracts:
  *
  *  - '''o14 file skipping''': files whose recorded column ranges cannot
  *    satisfy the pushed conjunction are never planned (and never
  *    opened) — [[CommitSkip]].
  *  - '''o15 statistics''': exact row/byte totals of the SURVIVING files
  *    from the manifest ([[SupportsReportStatistics]]) — what lets the
  *    optimizer auto-broadcast a small committed table instead of
  *    assuming the V2 default "infinitely large".
  *  - '''o16 partitioning''': a `partitionBy`-written table reports
  *    KeyGroupedPartitioning with one input partition per key
  *    ([[SupportsReportPartitioning]] + [[HasPartitionKey]]), so an
  *    equi-join of two co-partitioned committed tables runs with NO
  *    exchange on either side (storage-partitioned join).
  */
class CommitScan(path: String, manifest: CommitSink.Manifest,
                 version: Option[Long] = None,
                 skip: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                 required: Option[StructType] = None,
                 dmlOp: Option[CommitRowLevelOperation] = None,
                 maxCommitsPerTrigger: Int = Int.MaxValue,
                 snapshotOnRewrite: Boolean = false,
                 /** Filters the reader evaluates (see
                   * [[CommitScanBuilder]]); Spark re-applies none. */
                 absorbed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  // o48 renames: a pre-rename file's zone-map entries (and bloom refs)
  // are keyed on its PHYSICAL names. Pruning must see CURRENT names, so
  // each file's stats are PULLED per current column through the ledger's
  // per-file map — a dead physical name (dropped column) is never asked
  // for, so it can never shadow a live one. Identity (no ledger) is the
  // common case and decodes exactly as before.
  private val currentCols: Seq[String] =
    manifest.schema.fieldNames.toSeq
  private val fwCache = scala.collection.mutable.HashMap.empty[String, Map[String, String]]
  private def fwOf(f: String): Map[String, String] =
    if (manifest.schemaLog.isEmpty) Map.empty
    else fwCache.getOrElseUpdate(f, manifest.physNames(f, currentCols))
  /** Per-file rename maps for a partition's file list (empty = none). */
  private def rnOf(fs: Seq[String]): Seq[Seq[(String, String)]] =
    if (manifest.schemaLog.isEmpty) Seq.empty else fs.map(f => fwOf(f).toSeq)
  private val fileStats: Map[String, CommitSink.FileStat] =
    manifest.stats.map { case (f, e) =>
      val st = CommitSink.FileStat.decode(e)
      val fw = fwOf(f)
      f -> (if (fw.isEmpty) st
            else st.copy(
              cols = currentCols.flatMap(c =>
                st.cols.get(fw.getOrElse(c, c)).map(c -> _)).toMap,
              ndv = currentCols.flatMap(c =>
                st.ndv.get(fw.getOrElse(c, c)).map(c -> _)).toMap,
              wid = currentCols.flatMap(c =>
                st.wid.get(fw.getOrElse(c, c)).map(c -> _)).toMap))
    }

  /** Files the pushed filters cannot rule out (all of them when no
    * filter was pushed or no stats were recorded). */
  // --- BLOOM file skipping (o38): after zone maps, equality/IN
  // predicates also test the per-(file, column) bloom sidecars the
  // maintenance op recorded. Lazy + cached per scan: sidecars load from
  // storage ONLY for files that survived zone pruning AND only when a
  // pushed filter names an indexed column — a scan with no equality
  // predicate (or a table with no index) never opens one. Pruning stays
  // advisory: surviving files are still filtered row by row (by Spark or
  // by the reader), so a false positive only costs IO.
  private val bloomCache =
    scala.collection.mutable.HashMap.empty[String, org.apache.spark.util.sketch.BloomFilter]
  private def bloomLookup(f: String)(c: String, v: Any): Boolean =
    manifest.blooms.get(f).flatMap(_.get(fwOf(f).getOrElse(c, c))) match {
      case None => true // un-indexed (file, column): never prune
      case Some(sidecar) =>
        val bf = bloomCache.getOrElseUpdate(sidecar, {
          val in = CommitSink.io.newInputStream(Paths.get(path, sidecar))
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
          finally in.close()
        })
        CommitSkip.bloomMightContain(bf, v)
    }

  // --- PARTITION-TRANSFORM pruning (o40): Iceberg's predicate
  // projection onto the partition spec. Zone maps cannot prune a point
  // lookup on a BUCKET layout (each file's key range spans everything —
  // the hash scatters on purpose), but an equality/IN predicate on the
  // bucket SOURCE column projects exactly onto the file's recorded
  // bucket id: keep only files whose pk == bucket(n, v). Range
  // predicates never project (the hash destroys order) and unknown
  // shapes keep the file — over-approximation only, like every other
  // skip here (rows are still filtered after the scan or in it).
  // possibly MULTI-transform (o46): each dimension prunes independently
  private val partSpecs: Seq[CommitSink.PartSpec] =
    manifest.partCol.toSeq.flatMap(CommitSink.PartSpec.parseSpecs)
  private val partSpecOpt: Option[CommitSink.PartSpec] =
    if (partSpecs.size == 1) partSpecs.headOption else None
  private def partMayMatch(f: String, flt: org.apache.spark.sql.sources.Filter): Boolean =
    (partSpecOpt, fileStats.get(f).flatMap(_.pk)) match {
      case (Some(spec: CommitSink.BucketSpec), Some(pk)) =>
        def asLong(v: Any): Option[Long] = v match {
          case l: Long => Some(l)
          case i: Int => Some(i.toLong)
          case s: Short => Some(s.toLong)
          case b: Byte => Some(b.toLong)
          case _ => None
        }
        flt match {
          case org.apache.spark.sql.sources.EqualTo(c, v) if c == spec.sourceCol =>
            asLong(v).forall(l => spec.keyOf(l, LongType) == pk)
          case org.apache.spark.sql.sources.In(c, vs) if c == spec.sourceCol =>
            vs.isEmpty || vs.exists(v =>
              asLong(v).forall(l => spec.keyOf(l, LongType) == pk))
          case _ => true
        }
      case (Some(spec), Some(pk)) =>
        // o45: monotone transforms (identity/truncate/days/months/years)
        // project point AND range predicates onto the recorded key —
        // prunes without a zone-map entry for the source column
        CommitSink.keyIntervalOf(spec, flt)
          .forall { case (lo, hi) => pk >= lo && pk <= hi }
      case _ if partSpecs.size > 1 =>
        // o46 multi spec: every dimension whose key the file records
        // projects independently — a (days, bucket) layout prunes a
        // date range on dim 0 AND a user point lookup on dim 1
        val ks = fileStats.get(f).map(_.pks).getOrElse(Nil)
        partSpecs.size != ks.size || partSpecs.zip(ks).forall { case (sp, k) =>
          sp match {
            case b: CommitSink.BucketSpec =>
              flt match {
                case org.apache.spark.sql.sources.EqualTo(c, v) if c == b.sourceCol =>
                  CommitSink.keyIntervalOf(b, flt)
                    .forall { case (lo, hi) => k >= lo && k <= hi }
                case org.apache.spark.sql.sources.In(c, _) if c == b.sourceCol =>
                  CommitSink.keyIntervalOf(b, flt)
                    .forall { case (lo, hi) => k >= lo && k <= hi }
                case _ => true
              }
            case mono =>
              CommitSink.keyIntervalOf(mono, flt)
                .forall { case (lo, hi) => k >= lo && k <= hi }
          }
        }
      case _ => true
    }

  private[sources] val surviving: Seq[String] = manifest.files.filter { f =>
    fileStats.get(f).forall(st => skip.forall(CommitSkip.mayMatch(_, st))) &&
      skip.forall(partMayMatch(f, _)) &&
      (manifest.blooms.isEmpty ||
        skip.forall(CommitSkip.mayMatchBloom(_, bloomLookup(f))))
  }

  // --- RUNTIME file skipping (the DPP contract, o08's device on the
  // sink side): on the probe side of a broadcast join, Spark builds the
  // dimension's key set first and hands it here BEFORE partitions are
  // planned — the In-filter prunes committed files by the same manifest
  // ranges as the static path, so a selective dimension shrinks the
  // FILES OPENED at execution time. Offered only for unpartitioned
  // tables: a KeyGroupedPartitioning's group count is already reported
  // to the planner, and pruning groups afterwards would desync the
  // partitioning contract (Iceberg sequences this through its own
  // split planning; out of scope here).
  private var runtimeSkip: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    // DML scans key runtime filtering on the _file METADATA column
    // (o21) — Iceberg's FILE_PATH device: the matching-groups subquery
    // is planned over the ORIGINAL table (Spark swaps
    // RowLevelOperationTable back before building it — verified against
    // Spark 4.1's RowLevelOperationRuntimeGroupFiltering — so it never
    // races this operation's scanned-files holder), computes the
    // DISTINCT matched _file values (bounded by the FILE count, where a
    // data-column key set could be corpus-sized), and this scan prunes
    // to exactly those files. Safe under the group-granular rewrite: a
    // pruned file is a CARRIED file. Partitioned tables stay excluded —
    // pruning KeyGrouped groups after the partitioning is reported
    // would desync the contract.
    if (dmlOp.isDefined)
      if (manifest.partCol.isEmpty &&
          readSchema().fieldNames.contains(CommitSink.FILE_COL))
        Array(Expressions.column(CommitSink.FILE_COL))
      else Array.empty
    else if (manifest.partCol.isDefined) Array.empty
    // only columns of the (possibly pruned) OUTPUT schema: Spark resolves
    // these refs against the scan's output and fails analysis on a column
    // the projection dropped. The stamped metadata columns are excluded —
    // no zone map exists for them, so a runtime filter could never prune.
    else readSchema().fields.collect {
      case f if (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType) && f.name.matches("[A-Za-z0-9_]+") &&
        !(f.name == CommitSink.POS_COL &&
          !manifest.schema.fieldNames.contains(CommitSink.POS_COL)) =>
        Expressions.column(f.name)
    }

  /** Runtime In/Eq filters on `_file` (the row-level group-filtering
    * path) prune files DIRECTLY by name — conjunction = intersection.
    * None = no file filter arrived (prune by stats only). */
  private var runtimeFiles: Option[Set[String]] = None

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtimeSkip = filters.filter(CommitSkip.usable)
    val fileSets = filters.collect {
      case org.apache.spark.sql.sources.In(c, vs) if c == CommitSink.FILE_COL =>
        vs.collect { case s: String => s }.toSet
      case org.apache.spark.sql.sources.EqualTo(c, v: String)
          if c == CommitSink.FILE_COL => Set(v)
    }
    runtimeFiles = fileSets.reduceOption(_ intersect _)
  }

  /** The runtime-pruned file set: static survivors minus files the
    * runtime key set rules out. Evaluated inside planInputPartitions —
    * Spark calls [[filter]] first. */
  private def runtimeSurviving: Seq[String] = surviving.filter { f =>
    runtimeFiles.forall(_.contains(f)) &&
      fileStats.get(f).forall(st => runtimeSkip.forall(CommitSkip.mayMatch(_, st)))
  }

  /** One (key → files) group per partition value when the table is
    * identity-partitioned AND every surviving file knows its key;
    * None falls back to per-file planning. */
  private val partGroups: Option[Seq[(Long, Seq[String])]] =
    partSpecOpt.flatMap { _ =>
      val pks = surviving.map(f => fileStats.get(f).flatMap(_.pk))
      if (surviving.nonEmpty && pks.forall(_.isDefined))
        Some(surviving.zip(pks.map(_.get))
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (k, fs) => (k, fs.map(_._1)) })
      else None
    }

  /** o46 multi-transform grouping: one planned partition per COMPOSITE
    * key when every surviving file records its full key vector —
    * per-group planning granularity without an SPJ report (the grouped
    * scan under UnknownPartitioning). None → per-file planning. */
  private val multiGroups: Option[Seq[(Seq[Long], Seq[String])]] =
    if (partSpecs.size <= 1) None
    else {
      val ks = surviving.map(f => fileStats.get(f).map(_.pks).getOrElse(Nil))
      if (surviving.nonEmpty && ks.forall(_.size == partSpecs.size))
        Some(surviving.zip(ks).groupBy(_._2).toSeq
          .sortBy(_._1.mkString("."))
          .map { case (k, fs) => (k, fs.map(_._1)) })
      else None
    }

  /** The V2 transform expression each spec reports (o46 SPJ face —
    * the write side's twin; temporal transforms ride the GENERIC
    * ApplyTransform so both sides translate through the catalog's
    * FunctionCatalog). */
  private def reportExpr(spec: CommitSink.PartSpec)
      : org.apache.spark.sql.connector.expressions.Expression = spec match {
    case CommitSink.IdentitySpec(c) => Expressions.identity(c)
    case CommitSink.BucketSpec(n, c) => Expressions.bucket(n, c)
    case CommitSink.TruncateSpec(w, c) =>
      Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
    case CommitSink.DaysSpec(c) => Expressions.apply("days", Expressions.column(c))
    case CommitSink.HoursSpec(c) => Expressions.apply("hours", Expressions.column(c))
    case CommitSink.MonthsSpec(c) => Expressions.apply("months", Expressions.column(c))
    case CommitSink.YearsSpec(c) => Expressions.apply("years", Expressions.column(c))
  }

  /** A recorded key typed as ITS transform's result (the HasPartitionKey
    * contract): bucket and the temporal ordinals are Int, truncate is
    * Long, identity follows the column type. */
  private def typedKey(spec: CommitSink.PartSpec, k: Long): Any = spec match {
    case CommitSink.IdentitySpec(c) =>
      if (manifest.schema(c).dataType == IntegerType)
        k.toInt else k
    case _: CommitSink.BucketSpec => k.toInt
    case _: CommitSink.TruncateSpec => k
    case _ => k.toInt // days/months/years ordinals (TransformFunctions)
  }

  /** Multi-transform SPJ eligibility: every source column must survive
    * the projection for the reported transforms to resolve. */
  private def multiSpjOk: Boolean =
    multiGroups.isDefined &&
      partSpecs.forall(sp => readSchema().fieldNames.contains(sp.sourceCol))

  private def abs(f: String): String = Paths.get(path, f).toString

  /** Per-file deletion-vector path ("" = none) — shipped alongside the
    * file list so the reader skips the recorded positions (o27). */
  private def dvOf(f: String): String =
    manifest.deletes.get(f).map(e => abs(e.dv)).getOrElse("")

  /** Per-file APPLICABLE equality deletes (o32). */
  private def eqOf(f: String): Seq[EqRef] = manifest.eqRefsFor(f, path)

  /** Pruned projection when Spark asked for one: the reader materializes
    * exactly these fields — plus any column an absorbed filter tests —
    * and unrequested column chunks are never read off disk. */
  override def readSchema(): StructType =
    required.getOrElse(manifest.schema)
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = partGroups match {
      case Some(groups) =>
        val spec = partSpecOpt.get
        val dt = manifest.schema(spec.sourceCol).dataType
        groups.map { case (k, fs) =>
          // the HasPartitionKey value must be typed as the REPORTED
          // partitioning expression: the column's own type for identity,
          // the bucket transform's INT result for bucket
          val keyVal: Any = spec match {
            case _: CommitSink.BucketSpec => k.toInt
            case _ => if (dt == IntegerType) k.toInt else k
          }
          CommitKeyedFilesPartition(fs.map(abs), keyVal,
            fs.map(dvOf), fs.map(eqOf), renames = rnOf(fs)): InputPartition
        }.toArray[InputPartition]
      case None => multiGroups match {
        case Some(groups) if multiSpjOk =>
          groups.map { case (ks, fs) =>
            val typed = partSpecs.zip(ks).map { case (sp, k) => typedKey(sp, k) }
            CommitKeyedFilesPartition(fs.map(abs), typed.head,
              fs.map(dvOf), fs.map(eqOf), typed.tail, rnOf(fs)): InputPartition
          }.toArray[InputPartition]
        case Some(groups) =>
          groups.map { case (_, fs) =>
            CommitFilesPartition(fs.map(abs),
              fs.map(dvOf), fs.map(eqOf), rnOf(fs)): InputPartition }.toArray[InputPartition]
        case None =>
          runtimeSurviving.map(f =>
            CommitFilesPartition(Seq(abs(f)),
              Seq(dvOf(f)), Seq(eqOf(f)), rnOf(Seq(f))): InputPartition).toArray[InputPartition]
      }
    }
    // report the files this DML scan actually planned: exactly the set
    // the group-granular rewrite replaces (everything else is carried)
    dmlOp.foreach(_.scanned.set(partGroups match {
      case Some(groups) => groups.flatMap(_._2).toSet
      case None => multiGroups.map(_.flatMap(_._2).toSet)
        .getOrElse(runtimeSurviving.toSet)
    }))
    parts
  }

  override def outputPartitioning(): Partitioning = partGroups match {
    // the transform references the source column by name — report the
    // grouping only while the column survives projection (multi specs
    // never reach here: partGroups gates on a SINGLE spec, and the
    // multi grouping plans under UnknownPartitioning below)
    case Some(groups) if readSchema().fieldNames.contains(
        partSpecOpt.get.sourceCol) =>
      partSpecOpt.get match {
        case CommitSink.IdentitySpec(c) =>
          new KeyGroupedPartitioning(Array(Expressions.identity(c)), groups.size)
        case CommitSink.BucketSpec(n, c) =>
          new KeyGroupedPartitioning(Array(Expressions.bucket(n, c)), groups.size)
        // truncate/days: grouped PLANNING (one partition per key group,
        // zone-prunable — the transforms preserve order so the source
        // column's ranges already prune), but no SPJ report: aligning
        // joins on a width/day derivation is not a join shape worth the
        // function-resolution surface (Iceberg's SPJ is bucket-first too)
        case _ => new UnknownPartitioning(groups.size)
      }
    case Some(groups) => new UnknownPartitioning(groups.size)
    case None if multiSpjOk =>
      // o46: the composite layout reports KeyGroupedPartitioning over
      // every component's transform expression — two (days, bucket)
      // tables align group-for-group and join exchange-free
      new KeyGroupedPartitioning(partSpecs.map(reportExpr).toArray,
        multiGroups.get.size)
    case None =>
      new UnknownPartitioning(multiGroups.map(_.size).getOrElse(surviving.size))
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val sts = surviving.map(fileStats.get)
      private val known = sts.forall(_.isDefined)
      /** Deletion-vector counts of the surviving files — live rows, not
        * physical rows, feed the planner (o27). */
      private val ndel =
        surviving.flatMap(manifest.deletes.get).map(_.ndel).sum
      override def sizeInBytes(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(sts.flatten.map(_.bytes).sum)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(sts.flatten.map(_.rows).sum - ndel)
        else java.util.OptionalLong.empty()
      /** o50: per-column statistics for the optimizer — distinctCount
        * from the manifest's mergeable HLL sketches, min/max from the
        * zone maps the write already recorded (free: the same ranges
        * file skipping prunes by, unioned over the survivors). Each
        * facet is reported ONLY when EVERY surviving file records it
        * (a partially-covered column would UNDERestimate, which can
        * flip a CBO decision the wrong way; no estimate is the sound
        * default). Spark's DataSourceV2Relation.transformV2Stats turns
        * these into catalyst attribute stats, so
        * `spark.sql.cbo.enabled` join/filter estimation sees real
        * cardinalities and ranges from the scan. */
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        import org.apache.spark.sql.types._
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        if (known && surviving.nonEmpty) {
          val decoded = sts.flatten
          // a zone value in the column's CATALYST representation —
          // estimation code casts by the attribute's type, so an Int
          // column must not receive a boxed Long
          def typed(dt: DataType, kind: Char, v: String): Option[Any] =
            (dt, kind) match {
              case (LongType | TimestampType | TimestampNTZType, 'l') =>
                Some(java.lang.Long.valueOf(v.toLong))
              case (IntegerType | DateType, 'l') =>
                Some(java.lang.Integer.valueOf(v.toInt))
              case (ShortType, 'l') => Some(java.lang.Short.valueOf(v.toShort))
              case (ByteType, 'l') => Some(java.lang.Byte.valueOf(v.toByte))
              case (DoubleType, 'd') => Some(java.lang.Double.valueOf(v.toDouble))
              case (FloatType, 'd') => Some(java.lang.Float.valueOf(v.toFloat))
              case _ => None // kind/type mismatch: never report
            }
          currentCols.foreach { c =>
            val ndvEst: Option[Long] =
              if (decoded.forall(_.ndv.contains(c))) {
                val u = new org.apache.datasketches.hll.Union(21)
                decoded.foreach(st => u.update(
                  org.apache.datasketches.hll.HllSketch.heapify(
                    java.util.Base64.getDecoder.decode(st.ndv(c)))))
                Some(Math.max(0L, Math.round(u.getResult.getEstimate)))
              } else None
            val range: Option[(Any, Any)] =
              if (decoded.forall(_.cols.contains(c))) {
                val rs = decoded.map(_.cols(c))
                val dt = manifest.schema.fields.find(_.name == c).map(_.dataType)
                  .getOrElse(NullType)
                rs.map(_.kind).distinct match {
                  case Seq('l') =>
                    for (mn <- typed(dt, 'l', rs.map(_.min.toLong).min.toString);
                         mx <- typed(dt, 'l', rs.map(_.max.toLong).max.toString))
                      yield (mn, mx)
                  case Seq('d') =>
                    for (mn <- typed(dt, 'd', rs.map(_.min.toDouble).min.toString);
                         mx <- typed(dt, 'd', rs.map(_.max.toDouble).max.toString))
                      yield (mn, mx)
                  case _ => None
                }
              } else None
            // r19 width facet: string avgLen/maxLen/nullCount from the
            // per-file width facts — what stops CBO row-width re-pricing
            // (every node above the scan re-estimates size as rows ×
            // width) from costing a 300-byte document column at
            // defaultSize 20. Same full-coverage rule; counts cover
            // PHYSICAL rows (deleted rows included, like sketches) —
            // an over-approximation the cost model tolerates.
            val width: Option[(Long, Long, Long)] = // (nulls, avgLen, maxLen)
              if (manifest.schema.fields.find(_.name == c).exists(_.dataType == StringType)
                  && decoded.forall(_.wid.contains(c))) {
                val ws = decoded.map(_.wid(c))
                val nulls = ws.map(_.nulls).sum
                val nonNull = Math.max(0L, decoded.map(_.rows).sum - nulls)
                val avg = if (nonNull == 0L) 0L
                          else (ws.map(_.sum).sum + nonNull - 1) / nonNull
                Some((nulls, avg, ws.map(_.max).max))
              } else None
            if (ndvEst.isDefined || range.isDefined || width.isDefined)
              out.put(Expressions.column(c),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    ndvEst.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  override def min(): java.util.Optional[Object] =
                    range.map(r => java.util.Optional.of(r._1.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    range.map(r => java.util.Optional.of(r._2.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def nullCount(): java.util.OptionalLong =
                    width.map(w => java.util.OptionalLong.of(w._1))
                      .getOrElse(java.util.OptionalLong.empty())
                  override def avgLen(): java.util.OptionalLong =
                    width.map(w => java.util.OptionalLong.of(w._2))
                      .getOrElse(java.util.OptionalLong.empty())
                  override def maxLen(): java.util.OptionalLong =
                    width.map(w => java.util.OptionalLong.of(w._3))
                      .getOrElse(java.util.OptionalLong.empty())
                })
          }
        }
        out
      }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new CommitReaderFactory(readSchema(),
      // stamp `_file`/`_pos` per row only when they are the METADATA
      // columns (a data column of either name decodes from the payload)
      stampFile = readSchema().fieldNames.contains(CommitSink.FILE_COL) &&
        !manifest.schema.fieldNames.contains(CommitSink.FILE_COL),
      stampPos = readSchema().fieldNames.contains(CommitSink.POS_COL) &&
        !manifest.schema.fieldNames.contains(CommitSink.POS_COL),
      filters = absorbed.toSeq,
      filterCols = StructType(manifest.schema.fields.filter(f =>
        absorbed.exists(_.references.contains(f.name)))))

  /** The table AS A STREAM (o20) — each commit is a micro-batch. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty,
      "graft-commit: a version-pinned table is a static fact, not a stream")
    // hand the stream the (possibly pruned) projection, not the full
    // manifest schema: if a future Spark prunes columns on streaming
    // scans, the readers must emit rows of the PLAN's schema, not full
    // width. The stream's readers apply no filter: Spark pushes none into
    // a micro-batch scan, and one absorbed here would be silently lost.
    require(absorbed.isEmpty,
      "graft-commit: a streaming scan cannot carry absorbed filters")
    new CommitTableMicroBatchStream(path, manifest, readSchema(), maxCommitsPerTrigger,
      snapshotOnRewrite = snapshotOnRewrite)
  }

  override def description(): String =
    s"graft-commit scan of $path" +
      version.map(v => s" @v$v").getOrElse("") +
      s" [files: ${surviving.size}/${manifest.files.size}, " +
      s"columns: ${readSchema().size}/${manifest.schema.size}" +
      (if (absorbed.isEmpty) "" else s", filters: ${absorbed.mkString(", ")}") +
      "]"
}

/** The CHANGELOG micro-batch stream over a committed table (o20) — the
  * Delta/Iceberg "table as a stream" device, the missing edge of the
  * connector matrix (we could stream INTO the table since o11; this
  * streams OUT OF it): the stream's offset IS the commit id, so each
  * micro-batch reads exactly the files a commit range ADDED — computed
  * as a set difference of the two immutable version manifests, which is
  * also why offsets are restart-safe with no driver-side state at all
  * (the r10 sensor-stream counter bug class cannot exist here: the
  * ledger lives on disk).
  *
  * Contract: APPEND-ONLY ranges. A commit that removed files (truncate,
  * DML rewrite, compaction) is not expressible as an incremental batch —
  * the stream fails with a clear error instead of silently replaying or
  * missing rows (Delta's position exactly; its `ignoreChanges` escape
  * hatch is deliberately not replicated — silent row re-delivery is the
  * wrong default). Snapshot expiry interplay: a consumer's next offset
  * must still have its version manifest — retain at least as many
  * versions as the slowest consumer lags, the same operational rule
  * Delta documents for its checkpoint retention. */
class CommitTableMicroBatchStream(path: String,
                                  /** The manifest the creating scan bound
                                    * to: its generation id and (r19) its
                                    * schema ledger bind the stream, and
                                    * `schema` came from it. Root fields
                                    * only — its file list is never read. */
                                  binding: CommitSink.Manifest,
                                  /** The rows each batch emits (data
                                    * columns; a change-feed stream adds
                                    * its two feed columns itself). */
                                  schema: StructType,
                                  maxCommitsPerTrigger: Int,
                                  /** Opt-in SELF-SERVICE RECOVERY
                                    * (`option("snapshotOnRewrite", true)`) —
                                    * the Iceberg
                                    * streaming-skip-overwrite-snapshots
                                    * ergonomics: when the append-only or
                                    * generation check would refuse (a
                                    * compaction/DML/truncate landed under
                                    * the checkpoint, or the table was
                                    * dropped and re-created), the stream
                                    * re-bootstraps by emitting the CURRENT
                                    * snapshot as one batch and then resumes
                                    * incremental tailing — instead of
                                    * failing for a fresh checkpoint. This
                                    * re-delivers rows by design, so it is
                                    * only correct above an IDEMPOTENT
                                    * consumer (the d32/d33 anti-join
                                    * decision write); the loud refusal
                                    * stays the default precisely because
                                    * silent re-delivery into a
                                    * non-idempotent sink duplicates rows. */
                                  snapshotOnRewrite: Boolean = false,
                                  /** CHANGE DATA FEED mode (o29): each
                                    * micro-batch emits the range's
                                    * change rows (per-commit planner
                                    * [[CommitSink.changePartitions]])
                                    * instead of its appended files —
                                    * vector commits become 'delete'
                                    * rows rather than refusals. */
                                  changeFeed: Boolean = false,
                                  /** Last commit id BEFORE the stream's
                                    * first batch (-1 = genesis). A CDF
                                    * stream's `startingVersion` option
                                    * lands here as startingVersion - 1,
                                    * so a FRESH checkpoint begins at the
                                    * requested version instead of
                                    * re-delivering the whole history;
                                    * a restored checkpoint's offset
                                    * wins, as always. */
                                  startAfter: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  private val dir = Paths.get(path)

  /** This stream's table GENERATION. An offset restored from a
    * checkpoint that names a different generation means the table was
    * dropped and re-created underneath the consumer — silently diffing
    * the NEW generation's manifests against the old offset would skip
    * (lose) every new-generation commit up to it, so the mismatch is a
    * hard error (Delta's reservoir-id check). */
  private val generation: String = binding.tableId

  /** Commit id already consumed (-1 = genesis) + the generation that
    * assigned it. */
  private case class CommitPos(commit: Long, gen: String) extends Offset {
    override def json(): String = s"$commit@$gen"
  }

  private def checkGeneration(p: CommitPos): Unit = {
    // a table with NO generation id (pre-generation manifest) has nothing
    // to check against; but once the table HAS one, an offset without a
    // generation is NOT waived — a pre-generation checkpoint on a
    // dropped-and-re-created table would silently diff the new
    // generation's manifests against the old commit id and skip the new
    // table's first commits, the exact bug class tableId detects
    if (generation.isEmpty) return
    require(p.gen.nonEmpty,
      s"graft-commit: the checkpointed offset of $path carries no table " +
        s"generation but the current table is generation $generation — " +
        "cannot prove the checkpoint belongs to this table (it may predate " +
        "a drop-and-recreate); restart the stream from a fresh checkpoint")
    require(p.gen == generation,
      s"graft-commit: the checkpointed offset of $path belongs to table " +
        s"generation ${p.gen} but the current table is generation " +
        s"$generation — the table was dropped and re-created; restart the " +
        "stream from a fresh checkpoint to read the new table")
  }

  override def initialOffset(): Offset = CommitPos(startAfter, generation)

  /** Versions that still have a manifest: admission steps only through
    * EXISTING versions (snapshot expiry may have GC'd intermediate ones
    * — the set-difference only ever needs the two ENDPOINT manifests,
    * so skipping expired ids is sound). */
  private def existingAfter(from: Long, current: Long): Seq[Long] =
    CommitSink.listVersions(dir).filter(v => v > from && v <= current)

  private def manifestAt(commit: Long): CommitSink.Manifest =
    if (commit < 0) CommitSink.Manifest(-1L, binding.ddl, Seq.empty, Seq.empty)
    else CommitSink.parseManifestVersion(dir, commit)

  private def filesAt(commit: Long): Seq[String] = manifestAt(commit).files

  /** Append-only between two manifests: no file removed AND no deletion
    * vector added/changed on a file the start already had — a DV commit
    * (merge-on-read DELETE, o27) removes ROWS without removing files,
    * which an incremental batch cannot express any more than a rewrite
    * can. A vector on a file ADDED within the range is fine: the
    * endpoint diff emits that file with its end-version vector, the net
    * content. An EQUALITY DELETE added in the range (o32, the upsert
    * write) removes rows from older files by value — same refusal (its
    * own new files are exempt by sequence, so they emit fine once the
    * consumer restarts past the upsert). */
  private def pairAppendOnly(a: CommitSink.Manifest,
                             b: CommitSink.Manifest): Boolean =
    a.files.toSet.subsetOf(b.files.toSet) &&
      a.files.forall(f => a.deletes.get(f) == b.deletes.get(f)) &&
      !eqRetracts(a, b)

  /** Does `b` add an equality delete that COVERS a file `a` already
    * listed? Those rows were (or could have been) emitted and are now
    * retracted by value — inexpressible. A new delete covering only
    * mid-range files is fine: their partitions carry the refs, so the
    * dead rows are never emitted at all. */
  private def eqRetracts(a: CommitSink.Manifest,
                         b: CommitSink.Manifest): Boolean =
    b.eqDeletes.exists(e => !a.eqDeletes.contains(e) &&
      a.files.exists(f => b.seqOf(f) < e.seq))

  /** Is per-commit replay through these versions append-only? */
  private def chainAppendOnly(versions: Seq[Long]): Boolean =
    (Seq(-1L) ++ versions).sliding(2).forall {
      case Seq(a, b) => pairAppendOnly(manifestAt(a), manifestAt(b))
      case _ => true
    }

  /** CHANGE-FEED expressibility of the same chain: vector changes are
    * fine (they ARE the feed's 'delete' rows), and so is a file drop
    * with a full-cover TOMBSTONE (o33 — the drop reads as delete rows);
    * true removal (a rewrite) is inexpressible, and so is a new
    * EQUALITY delete (its matched rows are unknown without a scan). */
  private def chainExpressible(versions: Seq[Long]): Boolean =
    (Seq(-1L) ++ versions).sliding(2).forall {
      case Seq(a, b) =>
        val (ma, mb) = (manifestAt(a), manifestAt(b))
        (ma.files.toSet -- mb.files.toSet).forall(mb.deletes.contains) &&
          ma.eqDeletes == mb.eqDeletes
      case _ => true
    }

  /** Does this offset provably belong to the current generation? */
  private def genMatches(p: CommitPos): Boolean =
    generation.isEmpty || (p.gen.nonEmpty && p.gen == generation)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CommitPos]
    if (snapshotOnRewrite && !genMatches(s))
      // dropped-and-re-created table: re-bootstrap from the current
      // snapshot in ONE batch under the new generation (stepping through
      // the new generation's history would re-deliver it commit by commit)
      return CommitPos(CommitSink.currentCommit(dir), generation)
    checkGeneration(s)
    val from = s.commit
    val current = CommitSink.currentCommit(dir)
    if (current <= from) return CommitPos(from, generation)
    val existing = existingAfter(from, current)
    if (existing.isEmpty) return CommitPos(from, generation)
    // A GENESIS consumer whose admissible history contains a rewrite (or
    // whose early manifests imply one) cannot replay per-commit — but it
    // CAN always bootstrap from the current snapshot in one batch (the
    // endpoint diff from -1 removes nothing). Without this, a
    // maxCommitsPerTrigger'd fresh stream on any rewritten-history table
    // would crash-loop on a range no fresh checkpoint can ever clear.
    if (from < 0 &&
        !(if (changeFeed) chainExpressible(existing) else chainAppendOnly(existing)))
      return CommitPos(current, generation)
    CommitPos(existing.take(math.max(maxCommitsPerTrigger, 1)).last, generation)
  }

  /** Unreachable under SupportsAdmissionControl; documented fallback. */
  override def latestOffset(): Offset =
    CommitPos(CommitSink.currentCommit(dir), generation)

  override def deserializeOffset(json: String): Offset = {
    val at = json.indexOf('@')
    if (at < 0) CommitPos(json.toLong, "")
    else CommitPos(json.substring(0, at).toLong, json.substring(at + 1))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sp = start.asInstanceOf[CommitPos]
    if (changeFeed) {
      val endCommit = end.asInstanceOf[CommitPos].commit
      // a re-bootstrap emits the current snapshot as ONE 'insert' batch
      // (vectors applied as skips — the live rows), version-stamped at
      // the snapshot's commit
      def bootstrap: Array[InputPartition] = {
        val m =
          try manifestAt(endCommit)
          catch { case _: IllegalArgumentException =>
            CommitSink.parseManifest(dir).getOrElse(manifestAt(-1L)) }
        // the snapshot's live rows = files minus vectors minus equality
        // deletes — ship the applicable key files per partition so the
        // re-bootstrap never re-inserts a replaced row
        // r19 (ADVICE): the reader decodes with the STREAM-BOUND schema —
        // a table with an un-retired RENAME needs each pre-rename file's
        // current→physical map here too, exactly like the incremental
        // changePartitions and the non-CDF part() helper; without it the
        // re-bootstrap reads the renamed column as silent NULL
        lazy val boundNames = schema.fieldNames.toSeq
        m.files.map { f =>
          CommitChangesPartition(Paths.get(path, f).toString,
            m.deletes.get(f).map(e => Paths.get(path, e.dv).toString)
              .getOrElse(""),
            "", insert = true, commitVersion = m.commit,
            eqs = m.eqRefsFor(f, path),
            renames = if (m.schemaLog.isEmpty) Nil
                      else m.physNames(f, boundNames).toSeq): InputPartition
        }.toArray
      }
      if (snapshotOnRewrite && !genMatches(sp)) return bootstrap
      checkGeneration(sp)
      // the binding's schema ledger maps a bounded batch's pre-rename
      // files back to their physical names
      try return CommitSink.changePartitions(dir, path, sp.commit, endCommit, binding)
      catch { case e: IllegalArgumentException =>
        // a rewrite or expired version inside the range: refuse
        // (default) or re-bootstrap under the flag, like the changelog
        if (snapshotOnRewrite) return bootstrap else throw e
      }
    }
    // emitted files carry the END version's deletion vectors (o27) and
    // applicable equality deletes (o32): the net content of the range —
    // and of the snapshot on a re-bootstrap. Incremental batches only
    // ever emit files ADDED in an eq-unchanged range, which no existing
    // equality delete covers (their sequence is newer); the re-bootstrap
    // emits the whole snapshot, where older files may be covered.
    def part(m: CommitSink.Manifest, fs: Seq[String]) = {
      fs.map(f => CommitFilesPartition(Seq(Paths.get(path, f).toString),
          Seq(m.deletes.get(f).map(e => Paths.get(path, e.dv).toString)
            .getOrElse("")),
          Seq(m.eqRefsFor(f, path)),
          // o48: a stream reading pre-rename files under the current
          // schema maps each file's own names, like the batch scan
          if (m.schemaLog.isEmpty) Seq.empty
          else Seq(m.physNames(f, m.schema.fieldNames.toSeq).toSeq)): InputPartition)
        .toArray
    }
    // end-offset resolution: a checkpointed end of a DROPPED generation
    // (or an expired version) has no manifest — under snapshotOnRewrite
    // the current snapshot stands in (at-least-once above an idempotent
    // consumer); without the flag the missing-version error propagates.
    // LAZY: the generation check below must fire BEFORE a missing end
    // version can — its error names the actual problem (stale
    // generation-less checkpoint), not the symptom (missing version).
    lazy val endM: CommitSink.Manifest =
      if (snapshotOnRewrite)
        try manifestAt(end.asInstanceOf[CommitPos].commit)
        catch { case _: IllegalArgumentException =>
          CommitSink.parseManifest(dir).getOrElse(manifestAt(-1L)) }
      else manifestAt(end.asInstanceOf[CommitPos].commit)
    if (snapshotOnRewrite && !genMatches(sp))
      return part(endM, endM.files) // generation change: re-bootstrap
    checkGeneration(sp)
    val from = sp.commit
    val to = end.asInstanceOf[CommitPos].commit
    // an EXPIRED from-version (the consumer lagged past retention) is a
    // recovery case too under the flag — without it, the error names the
    // missing version (the documented retention rule)
    val beforeOpt =
      if (snapshotOnRewrite)
        try Some(manifestAt(from))
        catch { case _: IllegalArgumentException => None }
      else Some(manifestAt(from))
    if (beforeOpt.isEmpty) return part(endM, endM.files)
    val beforeM = beforeOpt.get
    val before = beforeM.files.toSet
    val removed = before -- endM.files.toSet
    // a merge-on-read DELETE changed a vector on a file the start
    // already had: rows were removed without removing files — as
    // inexpressible incrementally as a rewrite (see pairAppendOnly).
    // An upsert's EQUALITY delete (o32) removes rows by value: same.
    val dvChanged = beforeM.files.filter(f =>
      beforeM.deletes.get(f) != endM.deletes.get(f))
    val eqChanged = eqRetracts(beforeM, endM)
    if (removed.nonEmpty || dvChanged.nonEmpty || eqChanged) {
      // a rewrite landed inside the range: refuse (default) or, under
      // snapshotOnRewrite, re-bootstrap — emit the END snapshot whole;
      // later ranges resume incremental tailing from `to`
      if (snapshotOnRewrite) return part(endM, endM.files)
      sys.error(s"graft-commit: commits ${from + 1}..$to of $path removed " +
        s"${removed.size} file(s) / changed ${dvChanged.size} deletion " +
        s"vector(s)${if (eqChanged) " / changed equality deletes" else ""} " +
        "(truncate/DML/compaction/merge-on-read delete/upsert) — a " +
        "changelog stream requires append-only commits; restart the " +
        "stream from a fresh checkpoint to re-read the rewritten table " +
        "(or opt in to snapshotOnRewrite above an idempotent consumer)")
    }
    part(endM, endM.files.filterNot(before))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changeFeed) new CommitChangesReaderFactory(CommitSink.cdfSchema(schema))
    else new CommitReaderFactory(schema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One applicable equality-delete file for a data file (o32): absolute
  * key-file path plus the key columns (names AND types — the reader
  * decodes the key file and the data rows' key values with no other
  * context). */
case class EqRef(path: String, cols: StructType)

/** Executor-side equality-delete evaluation (o32), shared by the row
  * reader and the change-feed reader: load each applicable key file's
  * distinct tuples once per data file, then answer "is this decoded
  * row's key deleted" per row. A NULL key (including a key column the
  * file predates) never matches — SQL equality. */
private[sources] object EqMatch {
  /** (decode-field indices into the reader's wanted schema, key-tuple
    * set) — one per distinct key signature. Values are Spark-internal
    * representations as [[ParquetPayload.FileRows]] decodes them, so
    * key-set entries and data-row probes compare by the same types. */
  type Matcher = (Array[Int], scala.collection.Set[Seq[Any]])

  def load(refs: Seq[EqRef], wanted: StructType): Seq[Matcher] =
    refs.groupBy(_.cols).toSeq.map { case (ks, grp) =>
      val idxs = ks.fields.map(kf => wanted.fieldIndex(kf.name))
      val set = scala.collection.mutable.HashSet.empty[Seq[Any]]
      grp.foreach(loadKeys(_, ks, set))
      (idxs, set: scala.collection.Set[Seq[Any]])
    }

  private def loadKeys(ref: EqRef, ks: StructType,
                       into: scala.collection.mutable.HashSet[Seq[Any]]): Unit = {
    val fr = new ParquetPayload.FileRows(Paths.get(ref.path), ks)
    try if (fr.hasColumns) {
      while (fr.next()) {
        val vals = new Array[Any](ks.length)
        var i = 0
        var hasNull = false
        while (i < ks.length && !hasNull) {
          val fi = fr.fieldIndex(i)
          val v = if (fi >= 0) fr.values(fi) else null
          if (v == null) hasNull = true else vals(i) = v
          i += 1
        }
        if (!hasNull)
          into += scala.collection.immutable.ArraySeq.unsafeWrapArray(vals)
      }
    } finally fr.close()
  }

  /** Does the CURRENT row of `fr` (its reused values array, mapped
    * through its requested-field index) key-match any matcher's set? */
  def deleted(matchers: Seq[Matcher], fr: ParquetPayload.FileRows): Boolean =
    matchers.nonEmpty && matchers.exists { case (idxs, set) =>
      val vals = new Array[Any](idxs.length)
      var i = 0
      var hasNull = false
      while (i < idxs.length && !hasNull) {
        val fi = fr.fieldIndex(idxs(i))
        val v = if (fi >= 0) fr.values(fi) else null
        if (v == null) hasNull = true else vals(i) = v
        i += 1
      }
      !hasNull && set.contains(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(vals))
    }
}

/** The pushed filters a plain-read scan ABSORBS (see
  * [[CommitScanBuilder]]): evaluated in [[ParquetFilesReader]] on the
  * decoded values, right after decoding, so Spark plans no Filter above
  * the scan — a point lookup's generated code then no longer embeds its
  * key and is compiled once, not once per key. Exact subset only:
  * `=`, `<=>`, `<`, `<=`, `>`, `>=`, IN, IS [NOT] NULL and AND of these,
  * over top-level data columns of integral, boolean, string (binary
  * collation), date, timestamp or timestamp_ntz type, with a literal of
  * the column's own family. Literals normalise through [[CommitSkip.num]]
  * — the file-skipping conversions — to Spark's internal values (days,
  * micros), the representation [[ParquetPayload.FileRows]] decodes.
  * SQL null semantics: a NULL value satisfies only IS NULL and
  * `<=> NULL`, and a NULL inside IN matches nothing. Evaluation is plain
  * closures built once per partition (the [[EqMatch]] style), never a
  * code-generated predicate, which would move the per-key compile onto
  * the executor. */
private[sources] object CommitPredicate {
  import org.apache.spark.sql.sources._

  /** A literal in its column's comparison domain: Long for integral,
    * date and timestamp columns, Boolean, UTF8String; None when the
    * (column type, literal class) pair is not absorbed. */
  private def literal(dt: DataType, v: Any): Option[Any] = {
    def integral = CommitSkip.num(v).collect { case Left(l) => l }
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType,
            _: Long | _: Int | _: Short | _: Byte) => integral
      case (DateType, _: java.sql.Date | _: java.time.LocalDate) => integral
      case (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) => integral
      case (TimestampNTZType, _: java.time.LocalDateTime) => integral
      case (BooleanType, b: Boolean) => Some(b)
      case (StringType, s: String) => Some(UTF8String.fromString(s))
      case _ => None
    }
  }

  private def absorbable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case StringType => true // the default (UTF8_BINARY) collation only
    case _ => false
  }

  /** Can the reader evaluate `f` exactly over `schema`'s data columns? */
  def exact(f: Filter, schema: StructType): Boolean = {
    def col(a: String): Option[DataType] =
      schema.fields.find(_.name == a).map(_.dataType).filter(absorbable)
    def lit(a: String, v: Any): Boolean = col(a).exists(literal(_, v).isDefined)
    f match {
      case EqualTo(a, v)            => lit(a, v)
      case EqualNullSafe(a, v)      => if (v == null) col(a).isDefined else lit(a, v)
      case GreaterThan(a, v)        => lit(a, v)
      case GreaterThanOrEqual(a, v) => lit(a, v)
      case LessThan(a, v)           => lit(a, v)
      case LessThanOrEqual(a, v)    => lit(a, v)
      case In(a, vs)                => col(a).isDefined && vs.forall(v => v == null || lit(a, v))
      case IsNull(a)                => col(a).isDefined
      case IsNotNull(a)             => col(a).isDefined
      case And(l, r)                => exact(l, schema) && exact(r, schema)
      case _                        => false
    }
  }

  /** The conjunction of `filters` (each [[exact]] over `schema`) as one
    * test of the CURRENT row of a [[ParquetPayload.FileRows]] whose
    * wanted schema starts with `schema`'s fields. */
  def compile(filters: Seq[Filter], schema: StructType)
      : ParquetPayload.FileRows => Boolean = {
    type Test = ParquetPayload.FileRows => Boolean
    /** The column's decoded value, widened into its comparison domain
      * (null = SQL null). */
    def value(a: String): ParquetPayload.FileRows => Any = {
      val i = schema.fieldIndex(a)
      val widen: Any => Any = schema(i).dataType match {
        case IntegerType | DateType => v => v.asInstanceOf[Int].toLong
        case ShortType => v => v.asInstanceOf[Short].toLong
        case ByteType => v => v.asInstanceOf[Byte].toLong
        case _ => v => v
      }
      fr => {
        val fi = fr.fieldIndex(i)
        val v = if (fi >= 0) fr.values(fi) else null
        if (v == null) null else widen(v)
      }
    }
    def cmp(a: String, v: Any)(ok: Int => Boolean): Test = {
      val get = value(a)
      val dt = schema(a).dataType
      val x = literal(dt, v).get
      val order: (Any, Any) => Int = dt match {
        case BooleanType => (l, r) =>
          java.lang.Boolean.compare(l.asInstanceOf[Boolean], r.asInstanceOf[Boolean])
        case StringType => (l, r) =>
          l.asInstanceOf[UTF8String].binaryCompare(r.asInstanceOf[UTF8String])
        case _ => (l, r) =>
          java.lang.Long.compare(l.asInstanceOf[Long], r.asInstanceOf[Long])
      }
      fr => { val y = get(fr); y != null && ok(order(y, x)) }
    }
    def test(f: Filter): Test = f match {
      case EqualNullSafe(a, null)   => test(IsNull(a))
      case EqualNullSafe(a, v)      => cmp(a, v)(_ == 0)
      case EqualTo(a, v)            => cmp(a, v)(_ == 0)
      case GreaterThan(a, v)        => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v)           => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, v)(_ <= 0)
      case In(a, vs) =>
        val get = value(a)
        val dt = schema(a).dataType
        val set: Set[Any] = vs.filter(_ != null).map(literal(dt, _).get).toSet
        fr => { val y = get(fr); y != null && set.contains(y) }
      case IsNull(a)    => val get = value(a); fr => get(fr) == null
      case IsNotNull(a) => val get = value(a); fr => get(fr) != null
      case And(l, r)    => val (p, q) = (test(l), test(r)); fr => p(fr) && q(fr)
      case other => sys.error(s"unreachable: $other is not absorbed")
    }
    val tests = filters.map(test).toArray
    if (tests.isEmpty) _ => true
    else fr => {
      var i = 0
      while (i < tests.length && tests(i)(fr)) i += 1
      i == tests.length
    }
  }
}

/** `dvs` (o27): per-file deletion-vector ABSOLUTE path, parallel to
  * `files` ("" = no vector) — the reader skips the vector's positions.
  * `eqs` (o32): per-file APPLICABLE equality deletes, parallel to
  * `files` — the reader drops rows whose key tuple appears in any. */
case class CommitFilesPartition(files: Seq[String], dvs: Seq[String] = Seq.empty,
                                eqs: Seq[Seq[EqRef]] = Seq.empty,
                                /** Per-file current→PHYSICAL column-name
                                  * pairs (o48 renames): committed files
                                  * older than a rename carry the old
                                  * name — the reader asks each file for
                                  * its own names and emits rows in
                                  * current-schema positions. Empty =
                                  * identity (the common case). */
                                renames: Seq[Seq[(String, String)]] = Seq.empty)
    extends InputPartition

/** One change-feed unit (o29): ONE data file's contribution to ONE
  * commit. `insert = true` → the file was added at [[commitVersion]]:
  * emit its live rows ('insert'), skipping `dv` and the `eqs` key sets
  * (both non-empty only on a snapshot re-bootstrap). `insert = false` →
  * the file's vector changed at [[commitVersion]]: emit exactly the
  * positions of `dv` minus `prevDv` ('delete') — the rows that commit
  * deleted. Paths absolute; "" = none. */
case class CommitChangesPartition(file: String, dv: String, prevDv: String,
                                  insert: Boolean, commitVersion: Long,
                                  eqs: Seq[EqRef] = Seq.empty,
                                  /** current→physical name pairs of this
                                    * file (o48) — see
                                    * [[CommitFilesPartition]]. */
                                  renames: Seq[(String, String)] = Nil)
    extends InputPartition

class CommitChangesReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case c: CommitChangesPartition =>
        new CommitChangesReader(c, schema)
      case other => sys.error(s"graft-commit: unexpected CDF partition $other")
    }
}

/** Change-feed reader: the data columns of one committed file,
  * position-filtered per the partition's mode, with the two CDF
  * columns stamped. */
class CommitChangesReader(p: CommitChangesPartition, schema: StructType)
    extends PartitionReader[InternalRow] {
  // schema = data fields ++ _change_type ++ _commit_version
  private val dataSchema = StructType(schema.fields.dropRight(2))
  private val toUnsafe =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
  // o48: a pre-rename file is asked for ITS names — positions unchanged
  private val fw = p.renames.toMap
  private val groups =
    new ParquetPayload.FileRows(Paths.get(p.file),
      if (fw.isEmpty) dataSchema
      else StructType(dataSchema.fields.map(df =>
        fw.get(df.name).map(n => df.copy(name = n)).getOrElse(df))))
  private val changeType =
    UTF8String.fromString(if (p.insert) "insert" else "delete")
  /** Applicable equality deletes (re-bootstrap only): key columns are
    * data columns, so the full-width CDF decode already covers them. */
  private val eqMatchers: Seq[EqMatch.Matcher] =
    EqMatch.load(p.eqs, dataSchema)
  /** keep=false: emit rows NOT in `positions` (insert mode, vector as a
    * skip list). keep=true: emit ONLY `positions` (delete mode, the
    * vector diff). */
  private val (keep, positions): (Boolean, Array[Long]) =
    if (p.insert)
      (false, if (p.dv.isEmpty) Array.emptyLongArray
              else CommitSink.readDv(Paths.get(p.dv)))
    else {
      val cur = CommitSink.readDv(Paths.get(p.dv))
      val old =
        if (p.prevDv.isEmpty) Array.emptyLongArray
        else CommitSink.readDv(Paths.get(p.prevDv))
      // sorted-merge diff: cur \ old (sized defensively at cur.length —
      // vectors only ever grow, but never trust that with an index)
      val out = new Array[Long](cur.length)
      var i = 0; var j = 0; var k = 0
      while (i < cur.length) {
        while (j < old.length && old(j) < cur(i)) j += 1
        if (j < old.length && old(j) == cur(i)) i += 1
        else { out(k) = cur(i); k += 1; i += 1 }
      }
      (true, java.util.Arrays.copyOf(out, k))
    }
  private var ptr = 0
  private var pos = 0L
  private var row: InternalRow = _
  private var closed = false
  // reused per-row staging (r20) — see ParquetFilesReader.emit
  private val outVals = new Array[Any](schema.length)
  private val outRow = new GenericInternalRow(outVals)
  private def closeOnce(): Unit =
    if (!closed) { closed = true; groups.close() }

  @scala.annotation.tailrec
  private def advance(): Boolean = {
    // delete mode emits ONLY the diff positions: once the cursor is
    // exhausted, stop — never decode the rest of a 10M-row file to
    // skip it (the read side of "a delete costs bytes-per-position")
    if (keep && ptr >= positions.length) { closeOnce(); return false }
    if (!groups.next()) { closeOnce(); false }
    else {
      val at = pos; pos += 1
      while (ptr < positions.length && positions(ptr) < at) ptr += 1
      val hit = ptr < positions.length && positions(ptr) == at
      if (hit != keep ||
          (p.insert && EqMatch.deleted(eqMatchers, groups))) advance()
      else {
        var i = 0
        while (i < dataSchema.length) {
          val fi = groups.fieldIndex(i)
          outVals(i) = if (fi >= 0) groups.values(fi) else null
          i += 1
        }
        outVals(schema.length - 2) = changeType
        outVals(schema.length - 1) = p.commitVersion
        row = toUnsafe(outRow).copy()
        true
      }
    }
  }
  override def next(): Boolean = advance()
  override def get(): InternalRow = row
  override def close(): Unit = closeOnce()
}

/** Identity-partitioned file group: all committed files of ONE partition
  * key, exposing the key through [[HasPartitionKey]] so Spark can align
  * co-partitioned scans for a storage-partitioned join. */
case class CommitKeyedFilesPartition(files: Seq[String], key: Any,
                                     dvs: Seq[String] = Seq.empty,
                                     eqs: Seq[Seq[EqRef]] = Seq.empty,
                                     /** Non-leading key values of a
                                       * MULTI-transform layout (o46) —
                                       * the composite partition key is
                                       * (key +: moreKeys), each typed
                                       * as its transform's RESULT. */
                                     moreKeys: Seq[Any] = Nil,
                                     /** Per-file rename maps (o48) — see
                                       * [[CommitFilesPartition]]. */
                                     renames: Seq[Seq[(String, String)]] = Seq.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow((key +: moreKeys).toArray[Any])
}

/** Ships the read schema itself (a fully-pruned projection — COUNT(*)
  * above a declined aggregate push — is an empty StructType), so no
  * reader re-parses it, and the scan's absorbed filters with the data
  * columns they test (`filterCols`, names and types). */
class CommitReaderFactory(schema: StructType, stampFile: Boolean = false,
                          stampPos: Boolean = false,
                          filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                          filterCols: StructType = new StructType())
    extends PartitionReaderFactory {
  private def reader(fs: Seq[String], dvs: Seq[String],
                     eqs: Seq[Seq[EqRef]],
                     renames: Seq[Seq[(String, String)]]): PartitionReader[InternalRow] =
    new ParquetFilesReader(fs, schema, stampFile, stampPos, dvs, eqs, renames,
      filters, filterCols)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case CommitFilesPartition(fs, dvs, eqs, rn)         => reader(fs, dvs, eqs, rn)
      case CommitKeyedFilesPartition(fs, _, dvs, eqs, _, rn) => reader(fs, dvs, eqs, rn)
      case other => sys.error(s"graft-commit: unexpected partition $other")
    }
}

/** Executor-side reader of the staged-file payload — the decode mirror of
  * [[CommitDataWriter]]'s InternalRow encoder, one file group per input
  * partition. Column projection reaches the chunk level: only
  * requested columns' pages are read ([[ParquetPayload.FileRows]]),
  * and a fully-pruned projection (COUNT-shaped plans) reads NO pages at
  * all — row counts come straight from the footer. `_file`/`_pos`
  * metadata columns are stamped per row. Absorbed filters
  * ([[CommitPredicate]]) drop rows after decoding, before the
  * UnsafeProjection copy; a dropped row still advances `_pos`. */
class ParquetFilesReader(files: Seq[String], schema: StructType,
                         stampFile: Boolean = false,
                         stampPos: Boolean = false,
                         /** Per-file deletion-vector paths, parallel to
                           * `files` ("" = none): the vector's positions
                           * are skipped during the sequential read
                           * (o27). Empty seq = no vectors at all. */
                         dvs: Seq[String] = Seq.empty,
                         /** Per-file APPLICABLE equality deletes (o32),
                           * parallel to `files`: each ref's key set is
                           * loaded once per file, the decode widens to
                           * cover key columns the projection dropped,
                           * and matching rows are skipped. */
                         eqs: Seq[Seq[EqRef]] = Seq.empty,
                         /** Per-file current→physical name pairs (o48):
                           * the requested fields are RENAMED to the
                           * file's own names before projection — order
                           * (and so the emitted row layout) unchanged.
                           * Eq-delete key columns never rename (ALTER
                           * refuses live keys), so only the data
                           * projection remaps. */
                         renames: Seq[Seq[(String, String)]] = Seq.empty,
                         /** Absorbed filters — only rows satisfying all
                           * of them are emitted. */
                         filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                         /** The data columns `filters` test: decoded
                           * even when the projection dropped them. */
                         filterCols: StructType = new StructType())
    extends PartitionReader[InternalRow] {
  private val queue = files.zipWithIndex.iterator
  private val fileIdx: Int =
    if (stampFile) schema.fieldNames.indexOf(CommitSink.FILE_COL) else -1
  private val posIdx: Int =
    if (stampPos) schema.fieldNames.indexOf(CommitSink.POS_COL) else -1
  /** The decoded projection: every output field except the stamped
    * metadata columns. */
  private val dataSchema: StructType =
    StructType(schema.fields.zipWithIndex.collect {
      case (f, i) if i != fileIdx && i != posIdx => f
    })
  // COPIED UnsafeRows, like every reader here: downstream buffering
  // consumers assume the binary row format
  private val toUnsafe =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
  /** Filter columns the projection dropped: decoded right after
    * dataSchema in every file, so the predicate's indices hold for the
    * whole partition. */
  private val filterExtra: Array[StructField] =
    filterCols.fields.filterNot(f => dataSchema.fieldNames.contains(f.name))
  private val keep: ParquetPayload.FileRows => Boolean =
    CommitPredicate.compile(filters, StructType(dataSchema.fields ++ filterExtra))
  private var cur: ParquetPayload.FileRows = _
  private var curFile: UTF8String = _
  private var countOnly = 0L
  /** Physical position of the NEXT row within the current file. */
  private var pos = 0L
  /** Sorted deleted positions of the current file + cursor — rows are
    * emitted in position order, so one forward pointer applies the
    * whole vector in O(rows + deletes). */
  private var dv: Array[Long] = Array.emptyLongArray
  private var dvPtr = 0
  /** Equality-delete matchers of the current file (see [[EqMatch]]). */
  private var eqMatchers: Seq[EqMatch.Matcher] = Nil
  private var row: InternalRow = _

  private def deleted(p: Long): Boolean = {
    while (dvPtr < dv.length && dv(dvPtr) < p) dvPtr += 1
    dvPtr < dv.length && dv(dvPtr) == p
  }

  @scala.annotation.tailrec
  private def advance(): Boolean = {
    if (cur == null) {
      if (!queue.hasNext) return false
      val (name, idx) = queue.next()
      val f = Paths.get(name)
      curFile = UTF8String.fromString(f.getFileName.toString)
      // widen the decode to cover filter and key columns the projection
      // dropped: fields appended AFTER dataSchema, so output-field decode
      // indices are unchanged. A key column absent from the FILE (added
      // by a later ALTER) decodes null → never matches.
      val refs = eqs.lift(idx).getOrElse(Seq.empty)
      val decoded = dataSchema.fieldNames ++ filterExtra.map(_.name)
      val extra = filterExtra.toSeq ++ refs.flatMap(_.cols.fields)
        .filterNot(kf => decoded.contains(kf.name))
        .groupBy(_.name).map(_._2.head).toSeq
      // o48: ask THIS file for its own (pre-rename) names — a pure
      // rename of the requested fields, so positions (and the emitted
      // row layout) are untouched; files at the current shape get an
      // empty map and the identity projection. The widened eq-key
      // fields remap too: a post-rename equality delete may key on a
      // renamed column and cover pre-rename files.
      val fw = renames.lift(idx).getOrElse(Nil).toMap
      def remap(fields: Array[StructField]): Array[StructField] =
        if (fw.isEmpty) fields
        else fields.map(df =>
          fw.get(df.name).map(n => df.copy(name = n)).getOrElse(df))
      val wanted = StructType(remap(dataSchema.fields) ++ remap(extra.toArray))
      cur = new ParquetPayload.FileRows(f, wanted)
      if (!cur.hasColumns) countOnly = cur.rowCount
      // matchers resolve key columns by CURRENT name; the remap is a
      // pure per-position rename, so indices into the logical schema
      // (current names) are indices into `wanted`
      eqMatchers = EqMatch.load(refs,
        StructType(dataSchema.fields ++ extra))
      pos = 0L
      dvPtr = 0
      dv = dvs.lift(idx).filter(_.nonEmpty)
        .map(p => CommitSink.readDv(Paths.get(p)))
        .getOrElse(Array.emptyLongArray)
    }
    if (!cur.hasColumns) {
      // zero decoded columns (pure COUNT / metadata-only projection):
      // emit footer-counted rows without touching any page — skipping
      // the deletion vector's positions by count alone. Reachable with
      // eq matchers or filters only when every key / filter column
      // predates the file: all keys null → nothing matches, and the
      // filters see an all-null row, so counting stays sound.
      if (countOnly > 0) {
        countOnly -= 1
        val p = pos; pos += 1
        if (deleted(p) || !keep(cur)) advance()
        else { row = emit(null, p); true }
      }
      else { cur.close(); cur = null; advance() }
    } else {
      if (!cur.next()) { cur.close(); cur = null; advance() }
      else {
        val p = pos; pos += 1
        if (deleted(p) || !keep(cur) || EqMatch.deleted(eqMatchers, cur)) advance()
        else { row = emit(cur.values, p); true }
      }
    }
  }

  // reused per-row staging (r20): the UnsafeProjection copies values
  // into its own buffer and emit() returns a .copy(), so one mutable
  // row serves every emitted record
  private val outVals = new Array[Any](schema.length)
  private val outRow = new GenericInternalRow(outVals)

  private def emit(decoded: Array[Any], p: Long): InternalRow = {
    var i = 0
    var di = 0
    while (i < schema.length) {
      if (i != fileIdx && i != posIdx) {
        val fi = if (decoded == null) -1 else cur.fieldIndex(di)
        outVals(i) = if (fi >= 0) decoded(fi) else null
        if (decoded != null) di += 1
      }
      i += 1
    }
    if (fileIdx >= 0) outVals(fileIdx) = curFile
    if (posIdx >= 0) outVals(posIdx) = p
    toUnsafe(outRow).copy()
  }

  override def next(): Boolean = advance()
  override def get(): InternalRow = row
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
