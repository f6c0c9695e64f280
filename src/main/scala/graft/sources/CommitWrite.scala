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

// Split from CommitSink.scala (r17, moves only): the write path —
// CommitWriteBuilder (options/shapes/distribution), the batch and
// epoch-committing streaming writes, and the task-side writers
// (staged files, upsert key capture, the rolling one-key-per-file
// partitioned writer).

class CommitWriteBuilder(path: String, info: LogicalWriteInfo,
                         /** Group-granular rewrite contract (row-level
                           * operations pass it directly; compact /
                           * deleteWhere hand it over as a `rewriteToken`
                           * option): replace exactly the scanned files,
                           * carry the rest, CAS against the planning
                           * commit. */
                         rewrite: Option[CommitSink.DmlRewrite] = None,
                         /** Catalog-loaded tables append under the
                           * manifest's recorded partition spec when the
                           * write carries no partitionBy option (SQL
                           * INSERT INTO has no way to pass one). */
                         inheritLayout: Boolean = false)
    extends WriteBuilder with SupportsTruncate {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => CSortOrder}

  /** The DataFrame-API handoff (see [[CommitSink.registerRewrite]]);
    * lazy so the token is consumed exactly once per write. */
  private lazy val effectiveRewrite: Option[CommitSink.DmlRewrite] =
    rewrite.orElse(
      Option(info.options.get("rewriteToken")).map(CommitSink.takeRewrite))

  private var doTruncateFlag = false
  override def truncate(): WriteBuilder = { doTruncateFlag = true; this }

  /** `option("partitionBy", col)` — identity partitioning (o16): the
    * write DECLARES a clustered-by-key distribution plus an in-task sort
    * on the key through [[RequiresDistributionAndOrdering]], Spark plans
    * the shuffle + sort, and [[CommitDataWriter]] rolls to a new staged
    * file on each key change — so every committed file holds exactly ONE
    * partition-key value, which the scan reports back as
    * KeyGroupedPartitioning: the storage-partitioned-join layout (the
    * join shuffle is paid once at write time, like o02's bucketing but
    * negotiated entirely through the DSv2 contract).
    *
    * Row-level rewrites (UPDATE/MERGE/copy-on-write DELETE) inherit the
    * table's partitioning from their PLANNING manifest: DML must
    * preserve the layout, while an explicit user overwrite may change
    * it. */
  private lazy val partCol: Option[String] =
    Option(info.options.get("partitionBy")).map(_.trim).filter(_.nonEmpty)
      .orElse(effectiveRewrite.flatMap(_.planning.partCol))
      // a catalog INSERT INTO carries no options — an APPEND inherits
      // the table's recorded layout (and with it the declared
      // clustering+sort), or the first insert into a CREATE TABLE
      // PARTITIONED BY table would land unpartitioned files and wipe
      // the spec. TRUNCATES inherit too (r17): a catalog table's
      // partition spec is table METADATA, not a per-write choice —
      // Iceberg keeps the spec across INSERT OVERWRITE — so an
      // un-optioned SQL overwrite of a PARTITIONED BY table must not
      // silently commit partCol=None and wipe SPJ/point-prune
      // guarantees for every later insert; changing the layout goes
      // through an explicit DataFrame `option("partitionBy", ...)`
      // overwrite (which wins above) or a table re-create. Path writes
      // keep the old rule: the option decides (LakeSpec o16 pins the
      // un-optioned-append refusal on the path surface).
      .orElse(if (inheritLayout) planningManifest.flatMap(_.partCol)
              else None)
      // canonical encoding: layout compatibility is a string compare
      // (commitAppend's mismatch refusal), so "bucket( 8 , k )" and
      // "bucket(8,k)" must not read as different layouts
      .map(CommitSink.PartSpec.encodeSpecs)

  /** UPSERT-BY-KEY append mode (o32): `option("upsertKeys", "k1,k2")`
    * makes this append also record the batch's distinct key tuples as an
    * EQUALITY DELETE over strictly-older files — replace-these-keys with
    * zero table reads. */
  private lazy val upsertKeys: Seq[String] =
    Option(info.options.get("upsertKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** NDV sketch collection (o50): `option("ndvColumns", "c1,c2")` makes
    * each staged file also record a mergeable HLL sketch per named
    * column — the column-stats feed for Spark's CBO
    * ([[CommitScan]] columnStats). Opt-in: the default write pays zero
    * per-row sketch work. [[CommitSink.analyzeNdv]] is the maintenance
    * twin for already-committed files. */
  private lazy val ndvColumns: Seq[String] =
    Option(info.options.get("ndvColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** PRE-SHAPED partitioned rewrite (o39, maintenance-internal): the
    * caller already planned the clustering shuffle (e.g. range on
    * (partCol, sortCols) for a per-partition sort-order rewrite), so
    * the write must NOT declare its own clustered-by-key distribution —
    * Spark would re-shuffle and destroy the secondary split. Safe
    * because the range layout still groups each key contiguously within
    * a task (the rolling writer's one-key-per-file invariant holds);
    * gated on a rewrite token so ordinary writers can never reach it. */
  private lazy val preShaped: Boolean =
    Option(info.options.get("preShaped")).exists(_.toBoolean)

  /** WRITE-AUDIT-PUBLISH staging (o41): `option("stageOnly", true)`
    * lands this write as an auditable version manifest WITHOUT moving
    * main — [[CommitSink.publishStaged]] fast-forwards to it after the
    * audit passes. Append and truncate shapes only. */
  private lazy val stageOnly: Boolean =
    Option(info.options.get("stageOnly")).exists(_.toBoolean)

  /** BRANCH write (o44): `option("branch", name)` plans against and
    * commits onto the named branch's head — main's manifest never
    * moves. Append and truncate shapes only (DML/upsert/streaming stay
    * main-lineage; a branch workflow replays them after publish). */
  private lazy val branch: Option[String] =
    Option(info.options.get("branch")).map(_.trim).filter(_.nonEmpty)

  /** The manifest this write plans against: the branch head when the
    * write targets a branch, else main's current manifest. */
  private def planningManifest: Option[CommitSink.Manifest] = {
    val dir = Paths.get(path)
    CommitSink.loadRoot(dir, branch.map(CommitSink.branchHead(dir, _)))
      .map(CommitSink.resolveGroups(dir, _))
  }

  override def build(): Write = {
    val schema = info.schema()
    ParquetPayload.requireChoice(Option(info.options.get("payload")))
    val bad = schema.fields.filterNot(f => ParquetPayload.supported(f.dataType))
    require(bad.isEmpty, "graft-commit (parquet payload) supports " +
      "long/int/smallint/tinyint/double/float/string/boolean/date/" +
      "timestamp/timestamp_ntz/decimal(<=38) columns; unsupported: " +
      bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    partCol.toSeq.flatMap(CommitSink.PartSpec.parseSpecs).foreach { spec =>
      val c = spec.sourceCol
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"graft-commit: partitionBy column '$c' is not in the written schema"))
      require(spec.sourceOk(f.dataType),
        s"graft-commit: partitionBy column '$c' must be ${spec.sourceRule}, " +
          s"got ${f.dataType.simpleString}")
    }
    if (upsertKeys.nonEmpty) {
      require(!doTruncateFlag && effectiveRewrite.isEmpty,
        "graft-commit: upsertKeys is an APPEND-mode option — a truncate " +
          "or rewrite replaces content outright and records no deletes")
      upsertKeys.foreach { k =>
        val f = schema.fields.find(_.name == k).getOrElse(
          sys.error(s"graft-commit: upsertKeys column '$k' is not in the written schema"))
        require(k.matches("[A-Za-z0-9_]+") && !k.startsWith("_graft_"),
          s"graft-commit: upsertKeys column '$k' — key names must match " +
            "[A-Za-z0-9_]+ and may not use the reserved _graft_ prefix")
        val keyable = f.dataType match {
          case LongType | IntegerType | ShortType | ByteType | StringType |
               BooleanType | DateType | TimestampType | TimestampNTZType => true
          case _ => false // float/double/decimal keys: equality footguns
        }
        require(keyable,
          s"graft-commit: upsertKeys column '$k' has non-keyable type ${f.dataType.simpleString}")
      }
    }
    // a rewrite is its own commit mode: truncate() may also have been
    // called on the builder (DataFrame overwrite), but the rewrite's
    // replace-scanned/carry-rest semantics win
    val doTruncate = doTruncateFlag && effectiveRewrite.isEmpty
    val rw = effectiveRewrite
    val upsert = upsertKeys
    require(!preShaped || (effectiveRewrite.isDefined && partCol.isDefined),
      "graft-commit: preShaped is the internal device of partitioned " +
        "cluster rewrites — it requires a rewrite token and partitionBy")
    require(!stageOnly || effectiveRewrite.isEmpty,
      "graft-commit: stageOnly stages an APPEND or TRUNCATE for audit; " +
        "rewrites/DML commit against their planning snapshot directly")
    require(!stageOnly || upsertKeys.isEmpty,
      "graft-commit: stageOnly with upsertKeys is unsupported — an " +
        "equality delete's visibility must match its data files'")
    require(branch.isEmpty || effectiveRewrite.isEmpty,
      "graft-commit: branch writes take APPEND or TRUNCATE shapes; " +
        "DML rewrites commit against main's planning snapshot")
    require(branch.isEmpty || !stageOnly,
      "graft-commit: branch and stageOnly are mutually exclusive — a " +
        "branch IS the audit lineage (publish fast-forwards main)")
    require(branch.isEmpty || upsertKeys.isEmpty,
      "graft-commit: upsertKeys on a branch is unsupported — replay the " +
        "upsert after publish (equality-delete sequencing is main-lineage)")
    val shapedByCaller = preShaped
    val staged = stageOnly
    val branchTarget = branch
    // what the write clusters + sorts on, per spec:
    //  - identity: clustered + sorted on the key itself (o16);
    //  - bucket: clustered + sorted on bucket(n, col), resolved through
    //    the catalog's FunctionCatalog — bucket tables are catalog
    //    tables, exactly Iceberg's arrangement; maintenance rewrites on
    //    a PATH pre-shape instead (see compact);
    //  - truncate/days: RANGE-distributed + sorted on IDENTITY of the
    //    source column. Both transforms are MONOTONE, so value-ordered
    //    tasks keep every transformed key contiguous (the rolling
    //    writer's one-key-per-file invariant holds with no function
    //    resolution anywhere), and the ORDERED distribution keeps a
    //    key's rows in one task (± a sampled range boundary — a band
    //    may land as two files, which the grouped scan handles), where
    //    hash-clustering on the raw value would scatter one day across
    //    every task and explode the file count.
    def partDistribution(spec: CommitSink.PartSpec): Distribution = spec match {
      case CommitSink.IdentitySpec(c) =>
        Distributions.clustered(Array(Expressions.identity(c)))
      case CommitSink.BucketSpec(n, c) =>
        Distributions.clustered(Array(Expressions.bucket(n, c)))
      case CommitSink.TruncateSpec(_, c) =>
        Distributions.ordered(Array(
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)))
      case CommitSink.DaysSpec(c) =>
        Distributions.ordered(Array(
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)))
      case CommitSink.HoursSpec(c) =>
        Distributions.ordered(Array(
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)))
      case CommitSink.MonthsSpec(c) =>
        Distributions.ordered(Array(
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)))
      case CommitSink.YearsSpec(c) =>
        Distributions.ordered(Array(
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)))
    }
    def partOrdering(spec: CommitSink.PartSpec): Array[CSortOrder] = spec match {
      case CommitSink.IdentitySpec(c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      case CommitSink.BucketSpec(n, c) =>
        Array(Expressions.sort(Expressions.bucket(n, c), SortDirection.ASCENDING))
      case CommitSink.TruncateSpec(_, c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      case CommitSink.DaysSpec(c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      case CommitSink.HoursSpec(c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      case CommitSink.MonthsSpec(c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      case CommitSink.YearsSpec(c) =>
        Array(Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
    }
    //  - MULTI-transform specs (o46, e.g. days(ts),bucket(8,u)): a
    //    CLUSTERED distribution over every component's transform
    //    expression plus an in-task sort on all of them — each component
    //    resolves through the catalog's FunctionCatalog
    //    ([[TransformFunctions]]), so multi layouts are catalog-table
    //    territory exactly like single bucket. An ordered distribution
    //    cannot serve here: range-partitioning leads on the RAW first
    //    column (near-unique timestamps), which would interleave the
    //    second transform's keys within each task and explode the
    //    rolling writer's file count.
    // the GENERIC apply(...) form, not Expressions.days/months/years:
    // those build the dedicated DaysTransform/... classes, which
    // V2ExpressionUtils.toCatalyst does NOT resolve ("days(ts) is not
    // currently supported") — only identity/bucket/generic ApplyTransform
    // route through the FunctionCatalog, so the temporal components ride
    // the generic form and bind to [[TransformFunctions]]
    def transformExpr(spec: CommitSink.PartSpec)
        : org.apache.spark.sql.connector.expressions.Expression = spec match {
      case CommitSink.IdentitySpec(c) => Expressions.identity(c)
      case CommitSink.BucketSpec(n, c) => Expressions.bucket(n, c)
      case CommitSink.TruncateSpec(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      case CommitSink.DaysSpec(c) =>
        Expressions.apply("days", Expressions.column(c))
      case CommitSink.HoursSpec(c) =>
        Expressions.apply("hours", Expressions.column(c))
      case CommitSink.MonthsSpec(c) =>
        Expressions.apply("months", Expressions.column(c))
      case CommitSink.YearsSpec(c) =>
        Expressions.apply("years", Expressions.column(c))
    }
    def multiDistribution(specs: Seq[CommitSink.PartSpec]): Distribution =
      if (specs.size == 1) partDistribution(specs.head)
      else Distributions.clustered(specs.map(transformExpr).toArray)
    def multiOrdering(specs: Seq[CommitSink.PartSpec]): Array[CSortOrder] =
      if (specs.size == 1) partOrdering(specs.head)
      else specs.map(sp =>
        Expressions.sort(transformExpr(sp), SortDirection.ASCENDING)).toArray
    new Write with RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution =
        partCol.filterNot(_ => shapedByCaller)
          .map(c => multiDistribution(CommitSink.PartSpec.parseSpecs(c)))
          .getOrElse(Distributions.unspecified())
      override def requiredOrdering(): Array[CSortOrder] =
        partCol.filterNot(_ => shapedByCaller)
          .map(c => multiOrdering(CommitSink.PartSpec.parseSpecs(c)))
          .getOrElse(Array.empty[CSortOrder])
      override def toBatch: BatchWrite =
        new CommitBatchWrite(path, schema, doTruncate, partCol, rw, upsert,
          stage = staged, branch = branchTarget, ndvCols = ndvColumns)
      override def toStreaming: streaming.StreamingWrite = {
        require(partCol.isEmpty,
          "graft-commit: partitionBy is a batch-write layout decision; " +
            "the streaming sink does not support it")
        require(branchTarget.isEmpty,
          "graft-commit: the streaming sink writes main — branch a batch " +
            "workflow, or publish and point the stream at main")
        new CommitStreamingWrite(path, schema, upsert, ndvColumns)
      }
    }
  }
}
/** The STREAMING write contract — epoch-based two-phase commit, the
  * second half of the connector write surface next to [[CommitBatchWrite]]
  * (and the sink-side twin of [[SensorMicroBatchStream]]'s read path):
  * each micro-batch (epoch) stages task files exactly like a batch write,
  * and the driver's `commit(epochId, …)` promotes them under ONE manifest
  * swap that also RECORDS the epoch. That record is what buys
  * exactly-once: after a failure, Structured Streaming re-runs the last
  * un-checkpointed batch and re-delivers its commit — an epoch already in
  * the manifest is dropped (its re-staged files deleted, nothing
  * promoted), so re-delivery is a no-op instead of a duplicate. This is
  * precisely the idempotent-sink contract a foreachBatch MERGE implements
  * by hand (w08) and the reference's consumer lacks entirely
  * (consumer_to_file.py:185-186 re-inserts everything on restart). */
class CommitStreamingWrite(path: String, schema: StructType,
                           /** o32: per-trigger upsert-by-key — each
                             * epoch's commit also records the batch's
                             * key file as an equality delete over
                             * strictly-older files: the TRUE zero-read
                             * CDC apply (the delta path must still scan
                             * for positions every trigger). */
                           upsertKeys: Seq[String] = Seq.empty,
                           /** r19: `ndvColumns` applies per-epoch like
                             * any append — each trigger's files carry
                             * their own mergeable sketches. */
                           ndvCols: Seq[String] = Seq.empty)
    extends streaming.StreamingWrite {
  private val dir = Paths.get(path)
  /** This query's identity: names its private staging subdirectory AND
    * makes its promoted epoch-file names attempt-unique. */
  private val nonce = CommitSink.writeNonce()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    CommitSink.io.createDirectories(CommitSink.stagingDir(dir, nonce))
    // Initialize an EMPTY manifest for a never-written target so that a
    // stream committing zero epochs (empty source) still leaves a
    // readable table — readCommitted sees commit 0 with no files and
    // returns an empty frame of this write's schema. CAS on "no manifest
    // yet" (expectedPrev = -1): if a concurrent writer commits in the
    // window after our exists-check, the swap must NOT clobber its
    // files — the CAS failure is caught and the existing manifest wins.
    if (!CommitSink.io.exists(dir.resolve("_MANIFEST.json")))
      try CommitSink.writeManifest(dir, schema.toDDL, Seq.empty, 0L,
        expectedPrev = -1L, tableId = CommitSink.carriedOrFreshTableId(None))
      catch { case _: IllegalArgumentException => () }
    new CommitStreamingWriterFactory(path, schema.toDDL, nonce, upsertKeys,
      ndvCols)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val eqStaged: Seq[(String, Long)] = messages.collect {
      case UpsertTaskResult(_, n, k) if n.nonEmpty => (n, k)
    }.toSeq
    val staged = messages.map {
      case UpsertTaskResult(d, _, _) => d
      case m => m
    }.collect { case s: StagedFile => s }
    // ONE manifest read per commit; writeManifest's CAS does the second,
    // freshest-possible read just before the swap
    val manifest = CommitSink.parseManifest(dir)
    if (manifest.exists(_.epochs.contains(epochId))) {
      // re-delivered epoch (restart replay): drop the re-staged output —
      // promoting it would double-write rows AND re-apply the epoch's
      // equality delete the manifest already has
      (staged.map(_.name) ++ eqStaged.map(_._1)).foreach(n =>
        CommitSink.io.deleteIfExists(CommitSink.stagingDir(dir, nonce).resolve(n)))
    } else {
      val prev = manifest.map(_.commit).getOrElse(-1L)
      val carriedDdl = manifest.map(_.ddl).getOrElse(schema.toDDL)
      val carried = manifest.map(_.files).getOrElse(Seq.empty)
      // Appending under a DIFFERENT column set would carry forward files
      // that re-read as silent nulls under the new DDL — refuse instead
      // (names + types; nullability does not change the payload).
      require(carried.isEmpty || manifest.forall(m => CommitSink.sameColumns(m.schema, schema)),
        s"graft-commit: streaming append schema mismatch at $path — manifest " +
          s"has [$carriedDdl] but this query writes [${schema.toDDL}]; " +
          "truncate via a batch overwrite first or match the schema")
      // a partitioned table's one-key-per-file layout would be broken by
      // an unpartitioned streaming append — refuse like a schema mismatch
      require(carried.isEmpty || manifest.flatMap(_.partCol).isEmpty,
        s"graft-commit: $path is partitioned by " +
          s"${manifest.flatMap(_.partCol).getOrElse("?")}; the streaming sink " +
          "writes unpartitioned files — truncate via a batch overwrite first")
      // attempt-unique names (same rationale as the batch commit): two
      // racing writers can never promote onto the same committed file.
      // Promotion runs INSIDE the cleanup scope — a partial promotion
      // (ATOMIC_MOVE failure mid-loop) deletes the promoted-so-far
      // names, same contract as a refused manifest swap.
      val promoted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val promotedEq = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      try {
        staged.zipWithIndex.foreach { case (s, i) =>
          val fin = f"part-e$epochId%05d-$nonce-$i%05d.parquet"
          CommitSink.io.promote(CommitSink.stagingDir(dir, nonce).resolve(s.name), dir.resolve(fin))
          promoted += (fin -> s.stats)
        }
        eqStaged.zipWithIndex.foreach { case ((n, k), i) =>
          val fin = f"part-eq-e$epochId%05d-$nonce-$i%05d.parquet"
          CommitSink.io.promote(CommitSink.stagingDir(dir, nonce).resolve(n), dir.resolve(fin))
          promotedEq += (fin -> k)
        }
        val stats = manifest.map(_.stats).getOrElse(Map.empty) ++
          promoted.filter(_._2.nonEmpty).toMap
        CommitSink.writeManifest(dir, schema.toDDL,
          carried ++ promoted.map(_._1),
          prev + 1, manifest.map(_.epochs).getOrElse(Seq.empty) :+ epochId,
          expectedPrev = prev, stats = stats,
          tableId = CommitSink.carriedOrFreshTableId(manifest),
          // an epoch append never touches existing rows: vectors carry
          deletes = manifest.map(_.deletes).getOrElse(Map.empty),
          // this epoch's files join at the new sequence; its key file
          // (upsert mode) covers everything strictly older (o32)
          fileSeq = manifest.map(_.fileSeq).getOrElse(Map.empty) ++
            promoted.map(_._1 -> (prev + 1)),
          eqDeletes = manifest.map(_.eqDeletes).getOrElse(Seq.empty) ++
            promotedEq.map { case (n, k) =>
              CommitSink.EqDelete(n, prev + 1, k, upsertKeys.mkString(";")) },
          blooms = manifest.map(_.blooms).getOrElse(Map.empty),
          schemaLog = manifest.map(_.schemaLog).getOrElse(Seq.empty))
      } catch { case e: Throwable =>
        // a refused epoch commit (e.g. a batch DML raced this trigger)
        // must leave no trace — same contract as the batch commit
        promoted.foreach(p => CommitSink.io.deleteIfExists(dir.resolve(p._1)))
        promotedEq.foreach(p => CommitSink.io.deleteIfExists(dir.resolve(p._1)))
        CommitSink.sweepStaging(dir, nonce)
        throw e
      }
    }
    CommitSink.sweepStaging(dir, nonce)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    CommitSink.sweepStaging(dir, nonce)
}

class CommitStreamingWriterFactory(path: String, ddl: String, nonce: String,
                                   upsertKeys: Seq[String] = Seq.empty,
                                   ndvCols: Seq[String] = Seq.empty)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    if (upsertKeys.isEmpty)
      new CommitDataWriter(path, ddl, partitionId, taskId, epochId,
        stagingSub = nonce, ndvCols = ndvCols)
    else new UpsertDataWriter(path, ddl, upsertKeys, partitionId, taskId,
      epochId, nonce, None, ndvCols)
}

class CommitBatchWrite(path: String, schema: StructType, truncate: Boolean,
                       partCol: Option[String] = None,
                       rewrite: Option[CommitSink.DmlRewrite] = None,
                       upsertKeys: Seq[String] = Seq.empty,
                       /** WAP staging (o41): land the version manifest,
                         * skip the swap — see CommitSink.publishStaged. */
                       stage: Boolean = false,
                       /** Branch commit (o44): plan against and advance
                         * the named branch head — main never moves. */
                       branch: Option[String] = None,
                       /** Columns this write records NDV sketches for
                         * (o50, `ndvColumns`). */
                       ndvCols: Seq[String] = Seq.empty)
    extends BatchWrite {
  private val dir = Paths.get(path)

  /** The manifest this commit composes with: the branch head for branch
    * commits, else main's current manifest. */
  private def planningManifest: Option[CommitSink.Manifest] =
    CommitSink.loadRoot(dir, branch.map(CommitSink.branchHead(dir, _)))
      .map(CommitSink.resolveGroups(dir, _))
  /** This write's identity: names its private staging subdirectory AND
    * makes its promoted file names attempt-unique. */
  private val nonce = CommitSink.writeNonce()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    CommitSink.io.createDirectories(CommitSink.stagingDir(dir, nonce))
    // ship the schema as DDL text — StructType itself is serializable,
    // but the DDL is also exactly what the manifest records
    new CommitWriterFactory(path, schema.toDDL, partCol, nonce,
      upsertKeys, ndvCols)
  }

  /** How many times an APPEND re-reads + re-swaps after losing the CAS
    * race. Appends compose (carried ∪ promoted is order-independent), so
    * retrying is always safe; truncates and rewrites are NOT retried —
    * their content was computed against a snapshot the race invalidated,
    * so the whole statement must re-run. */
  private val APPEND_CAS_RETRIES = 5

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // unwrap upsert messages: data files commit like any append, the
    // staged key files become this commit's equality delete (o32)
    val eqStaged: Seq[(String, Long)] = messages.collect {
      case UpsertTaskResult(_, n, k) if n.nonEmpty => (n, k)
    }.toSeq
    val staged = messages.map {
      case UpsertTaskResult(d, _, _) => d
      case m => m
    }.flatMap {
      case s: StagedFile => Seq(s)
      case StagedFileSet(fs) => fs
      case _ => Seq.empty
    }.toSeq
    // phase 2: promote each task-committed staging file to its final
    // name. Only files named by a commit message are promoted — output of
    // failed/speculative attempts stays in staging and is swept at the
    // end. Names carry a per-write nonce, so a racing writer that loses
    // the CAS below can never have renamed onto a committed file — and a
    // lost race leaves only unreferenced garbage, which the failure
    // handler below (and any later sweep) removes.
    val plannedId = rewrite.map(_.planning.commit + 1)
      .getOrElse(CommitSink.currentCommit(dir) + 1)
    // promotion runs INSIDE the cleanup scope: an ATOMIC_MOVE failing
    // partway must delete the already-promoted names and sweep staging,
    // exactly like a refused manifest swap — otherwise the partial
    // promotion leaves unreferenced garbage only abort()/orphan GC
    // would ever reclaim
    val promoted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val promotedEq = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      staged.zipWithIndex.foreach { case (s, i) =>
        val fin = f"part-c$plannedId%05d-$nonce-$i%05d.parquet"
        CommitSink.io.promote(CommitSink.stagingDir(dir, nonce).resolve(s.name), dir.resolve(fin))
        promoted += (fin -> s.stats)
      }
      val newStats = promoted.filter(_._2.nonEmpty).toMap
      // promote the upsert key files alongside (same failure contract:
      // a refused swap deletes them via promotedEq below)
      val newEq = eqStaged.zipWithIndex.map { case ((n, k), i) =>
        val fin = f"part-eq-c$plannedId%05d-$nonce-$i%05d.parquet"
        CommitSink.io.promote(CommitSink.stagingDir(dir, nonce).resolve(n), dir.resolve(fin))
        promotedEq += fin
        (fin, k)
      }
      rewrite match {
        case Some(rw) => commitRewrite(rw, promoted.map(_._1).toSeq, newStats)
        case None if truncate => commitTruncate(promoted.map(_._1).toSeq, newStats)
        case None => commitAppend(promoted.map(_._1).toSeq, newStats, newEq)
      }
    } catch { case e: Throwable =>
      // a refused/failed commit must leave no trace: the manifest was
      // never swapped, so the promoted files are invisible garbage —
      // remove them so the target is byte-identical to before the write
      promoted.foreach(p => CommitSink.io.deleteIfExists(dir.resolve(p._1)))
      promotedEq.foreach(n => CommitSink.io.deleteIfExists(dir.resolve(n)))
      CommitSink.sweepStaging(dir, nonce)
      throw e
    }
    CommitSink.sweepStaging(dir, nonce)
  }

  /** Group-granular replace (row-level DML / compaction / metadata
    * delete): replace exactly the files the operation's scan planned,
    * carry every other file of the PLANNING manifest forward verbatim,
    * and CAS against the planning commit — a commit that landed while
    * the rewrite job ran fails the swap loudly. */
  private def commitRewrite(rw: CommitSink.DmlRewrite, newFiles: Seq[String],
                            newStats: Map[String, String]): Unit = {
    val planning = rw.planning
    val scanned = rw.scanned()
    val carried = planning.files.filterNot(scanned)
    require(carried.isEmpty || CommitSink.sameColumns(planning.schema, schema),
      s"graft-commit: rewrite schema mismatch at $path — carried files have " +
        s"[${planning.ddl}] but this rewrite writes [${schema.toDDL}]")
    // carried files keep their recorded stats verbatim; a group rewrite
    // CARRIES the epoch ledger (content lineage is continuous — see the
    // row-level operation scaladoc)
    val stats = planning.stats.view.filterKeys(carried.toSet).toMap ++ newStats
    CommitSink.writeManifest(dir, schema.toDDL, carried ++ newFiles,
      planning.commit + 1, planning.epochs, expectedPrev = planning.commit,
      partCol = partCol, stats = stats,
      tableId = CommitSink.carriedOrFreshTableId(Some(planning)),
      // carried files keep their deletion vectors; a REPLACED file's
      // vector dies with it — the rewrite's scan already applied it,
      // so the new files hold only surviving rows (compaction's
      // materialize-the-deletes path falls out of this line)
      deletes = planning.deletes.view.filterKeys(carried.toSet).toMap,
      // rewritten files land ABOVE every existing equality delete's
      // sequence (the scan applied those deletes too); entries no
      // carried file is still covered by retire centrally (o32)
      fileSeq = planning.fileSeq ++ newFiles.map(_ -> (planning.commit + 1)),
      eqDeletes = planning.eqDeletes,
      // carried files keep their blooms; a replaced file's index dies
      // with it (the new files are un-indexed until the next build)
      blooms = planning.blooms,
      // carried files may predate renames/drops — the ledger rides with
      // them (writeManifest retires it once the last old file is gone)
      schemaLog = planning.schemaLog)
    // replaced files are NOT swept: the planning version's immutable
    // manifest references every one of them (time travel); snapshot
    // expiry GC's them when their last referencing version is dropped
  }

  /** Whole-table overwrite: new version is exactly the promoted set; the
    * streaming-epoch ledger resets (a truncate is a new content lineage).
    *
    * No commit-time file sweep: every previous-version file is
    * referenced by its immutable version manifest (time travel), and a
    * data file referenced by NO manifest is either a crash leftover
    * (this writer's failure handler already deletes a refused commit's
    * promoted files) or — since appends became concurrent — another
    * writer's promoted-but-not-yet-committed output, which a sweep here
    * would DELETE out from under its CAS-retry. Unreferenced leftovers
    * are [[CommitSink.expireVersions]]'s job, the maintenance operation
    * whose coordination contract is documented. */
  private def commitTruncate(newFiles: Seq[String],
                             newStats: Map[String, String]): Unit = {
    val manifest = planningManifest
    val prev = manifest.map(_.commit).getOrElse(-1L)
    // branch commits allocate in the disjoint high range — main's
    // prev+1 can never collide with a branch version file
    val next = branch.fold(prev + 1)(_ => CommitSink.nextBranchVersionId(dir))
    // a truncate is a fresh content lineage: sequences restart and any
    // equality deletes die with the content they scoped (o32 default)
    CommitSink.writeManifest(dir, schema.toDDL, newFiles, next,
      Seq.empty, expectedPrev = prev, partCol = partCol, stats = newStats,
      tableId = CommitSink.carriedOrFreshTableId(manifest),
      fileSeq = newFiles.map(_ -> next).toMap, stageOnly = stage,
      branch = branch)
  }

  /** Append: carried ∪ promoted under a CAS on the read manifest — and
    * because appends compose, a LOST race is retried: re-read the
    * manifest, re-run the compatibility checks against the new current
    * version, and re-swap carrying the interleaved writer's files. The
    * promoted files are already at their final (nonce-unique) names, so
    * a retry only rebuilds the manifest — no file is touched twice. */
  private def commitAppend(newFiles: Seq[String],
                           newStats: Map[String, String],
                           newEq: Seq[(String, Long)] = Seq.empty): Unit = {
    val upsertCols = upsertKeys.mkString(";")
    var attempt = 0
    while (true) {
      val manifest = planningManifest
      val prev = manifest.map(_.commit).getOrElse(-1L)
      // branch commits allocate in the disjoint high range (the CAS
      // stays against the branch head); main keeps contiguous prev+1
      val next = branch.fold(prev + 1)(_ => CommitSink.nextBranchVersionId(dir))
      val carriedDdl = manifest.map(_.ddl).getOrElse(schema.toDDL)
      val carried = manifest.map(_.files).getOrElse(Seq.empty)
      // Appending under a DIFFERENT column set would re-read carried files
      // as silent nulls under the new DDL — refuse BEFORE swapping
      // anything (names + types; nullability does not change the payload).
      require(carried.isEmpty || manifest.forall(m => CommitSink.sameColumns(m.schema, schema)),
        s"graft-commit: append schema mismatch at $path — manifest has " +
          s"[$carriedDdl] but this write has [${schema.toDDL}]; use " +
          "overwrite (truncate) to replace the table under a new schema")
      // A partitioned table's layout guarantee (one key per file) holds only
      // if every version's files were written under the SAME partition
      // column — an append under a different (or no) partitioning would mix
      // layouts, so refuse it like a schema mismatch.
      val carriedPartCol = manifest.flatMap(_.partCol)
      require(carried.isEmpty || carriedPartCol == partCol,
        s"graft-commit: partition-layout mismatch at $path — manifest has " +
          s"partitionBy=$carriedPartCol but this write has partitionBy=$partCol; " +
          "use overwrite (truncate) to change the table layout")
      val stats = manifest.map(_.stats).getOrElse(Map.empty) ++ newStats
      try {
        CommitSink.writeManifest(dir, schema.toDDL, carried ++ newFiles,
          next, manifest.map(_.epochs).getOrElse(Seq.empty),
          expectedPrev = prev, partCol = partCol, stats = stats,
          tableId = CommitSink.carriedOrFreshTableId(manifest),
          // an append never touches existing rows: vectors carry verbatim
          deletes = manifest.map(_.deletes).getOrElse(Map.empty),
          // new files join at THIS commit's sequence — what scopes any
          // same-commit (or future) equality delete off them (o32)
          fileSeq = manifest.map(_.fileSeq).getOrElse(Map.empty) ++
            newFiles.map(_ -> next),
          eqDeletes = manifest.map(_.eqDeletes).getOrElse(Seq.empty) ++
            newEq.map { case (n, k) => CommitSink.EqDelete(n, next, k, upsertCols) },
          blooms = manifest.map(_.blooms).getOrElse(Map.empty),
          schemaLog = manifest.map(_.schemaLog).getOrElse(Seq.empty),
          stageOnly = stage, branch = branch)
        return
      } catch { case e: CommitSink.ConcurrentCommitException =>
        attempt += 1
        if (attempt > APPEND_CAS_RETRIES) throw e
        // another writer won the race: loop — re-read THEIR manifest and
        // append on top of it
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // a failed job publishes NOTHING: the manifest was never touched, so
    // the previous version is still the table; just remove the debris
    CommitSink.sweepStaging(dir, nonce)
}

class CommitWriterFactory(path: String, ddl: String,
                          partCol: Option[String] = None,
                          nonce: String = "",
                          upsertKeys: Seq[String] = Seq.empty,
                          ndvCols: Seq[String] = Seq.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (upsertKeys.isEmpty)
      new CommitDataWriter(path, ddl, partitionId, taskId, partCol = partCol,
        stagingSub = nonce, ndvCols = ndvCols)
    else new UpsertDataWriter(path, ddl, upsertKeys, partitionId, taskId,
      -1L, nonce, partCol, ndvCols)
}

/** o32 UPSERT task writer: delegates data rows to the ordinary staged
  * writer AND collects the batch's DISTINCT key tuples, staging them as
  * one parquet key file per task at commit — the write that makes
  * "replace these keys" a ZERO-READ operation (the commit records the
  * key file as an equality delete scoped to strictly-older files; the
  * task never opens a committed byte). The caller's batch is expected
  * key-unique: two same-key rows in ONE batch both land (they share the
  * commit's sequence, so neither covers the other) — dedup the batch
  * first, exactly like a foreachBatch MERGE source. A NULL key never
  * equality-matches anything: the row lands, no key is recorded. */
class UpsertDataWriter(path: String, ddl: String, keys: Seq[String],
                       partitionId: Int, taskId: Long, epochId: Long,
                       nonce: String, partCol: Option[String],
                       /** r19 (ADVICE): `ndvColumns` reaches the upsert
                         * write's data files too — previously silently
                         * dropped on this path. */
                       ndvCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val delegate = new CommitDataWriter(path, ddl, partitionId, taskId,
    epochId, partCol, nonce, ndvCols)
  private val schema = StructType.fromDDL(ddl)
  private val keyIdx = keys.map(schema.fieldIndex).toArray
  private val keySchema = StructType(keys.map(k => schema(schema.fieldIndex(k))))
  private val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
  private var fieldOffset = -1

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) fieldOffset = row.numFields - schema.length
    delegate.write(row)
    var k = 0
    var hasNull = false
    val vals = new Array[Any](keyIdx.length)
    while (k < keyIdx.length && !hasNull) {
      val j = keyIdx(k) + fieldOffset
      if (row.isNullAt(j)) hasNull = true
      else vals(k) = schema(keyIdx(k)).dataType match {
        // copy strings: the incoming row's buffer is reused per row
        case StringType => row.getUTF8String(j).copy()
        case LongType | TimestampType | TimestampNTZType => row.getLong(j)
        case IntegerType | DateType => row.getInt(j)
        case ShortType   => row.getShort(j)
        case ByteType    => row.getByte(j)
        case BooleanType => row.getBoolean(j)
        case t => sys.error(s"unreachable: $t validated at build()")
      }
      k += 1
    }
    if (!hasNull) seen += vals.toSeq
  }

  override def commit(): WriterCommitMessage = {
    val dataMsg = delegate.commit()
    if (seen.isEmpty) return UpsertTaskResult(dataMsg, "", 0L)
    val name = s"attempt-eq-e$epochId-p$partitionId-t$taskId.parquet"
    val file = CommitSink.stagingDir(Paths.get(path), nonce).resolve(name)
    val msg = ParquetPayload.message(keySchema)
    val (w, _) = ParquetPayload.rowWriter(file, msg, keySchema)
    try seen.foreach { vals =>
      w.write(new GenericInternalRow(vals.toArray))
    } finally w.close()
    UpsertTaskResult(dataMsg, name, seen.size.toLong)
  }
  // this attempt's staged key file is swept with the staging dir; the
  // delegate removes its own data segments
  override def abort(): Unit = delegate.abort()
  override def close(): Unit = ()
}

/** Executor-side writer: streams rows to a task-private parquet staging
  * file ([[ParquetPayload.InternalRowWriteSupport]]). The (epoch,
  * partitionId, taskId) triple makes the name
  * unique per ATTEMPT, so a speculative retry (or a replayed epoch) can
  * never clobber another attempt's staging output.
  *
  * While writing, the writer also collects the per-file statistics the
  * manifest records (o14/o15): row count, byte size, and min/max per
  * numeric column — the zone-map index, built during the write's one
  * pass exactly like a parquet footer. Under `partCol` (o16) the task's
  * input arrives clustered AND sorted by the partition key (the write
  * declared RequiresDistributionAndOrdering), so the writer simply rolls
  * to a fresh staged file on each key change — every committed file
  * holds one key, recorded as `pk` in its stats. */
class CommitDataWriter(path: String, ddl: String, partitionId: Int, taskId: Long,
                       epochId: Long = -1L, partCol: Option[String] = None,
                       stagingSub: String = "",
                       /** Columns to record per-file NDV sketches for
                         * (o50, the `ndvColumns` write option) — empty
                         * (default) adds zero per-row work. */
                       ndvCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val schema = StructType.fromDDL(ddl)
  private val staging = CommitSink.stagingDir(Paths.get(path), stagingSub)
  private val msgType = ParquetPayload.message(schema)

  // --- statistics collection (reset per staged segment) -------------------
  // stats are recorded only for clean [A-Za-z0-9_] column names — the
  // encoding's separator chars must never appear in a recorded name.
  // The 'l' family covers every integral-representation type (ints of
  // all widths, DATE days, TIMESTAMP/NTZ micros), 'd' the fractional
  // ones (double, float widened exactly) — so zone maps prune
  // date/timestamp range scans too.
  private val statKind: Array[Char] = schema.fields.map { f =>
    if (!f.name.matches("[A-Za-z0-9_]+")) ' '
    else f.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType => 'l'
      case DoubleType | FloatType => 'd'
      // 's': width facts only (r19) — null count + UTF-8 byte lengths
      // for CBO avgLen/maxLen/nullCount; strings record no range
      case StringType => 's'
      case _ => ' '
    }
  }
  private val seen = new Array[Boolean](schema.length)
  // physical accessor per column, precomputed once (r20) — the per-row
  // stat/sketch loops used to pattern-match DataType per field per row:
  // 0 getLong · 1 getInt · 2 getShort · 3 getByte · 4 getDouble ·
  // 5 getFloat · 6 string · -1 none
  private val statAcc: Array[Int] = schema.fields.map(_.dataType match {
    case LongType | TimestampType | TimestampNTZType => 0
    case IntegerType | DateType => 1
    case ShortType => 2
    case ByteType => 3
    case DoubleType => 4
    case FloatType => 5
    case StringType => 6
    case _ => -1
  })
  // --- NDV sketches (o50, opt-in): one DataSketches HLL per requested
  // column per staged segment — mergeable across files (the manifest
  // stores the compact form; CommitScan unions survivors at planning).
  // lgK=12 matches Spark's hll_sketch_agg default (≈1.6% rel. error,
  // ≤ ~2.5 KB compact), small enough for manifest residence and exact
  // enough for CBO join-cardinality estimates.
  private val NDV_LGK = 12
  private val ndvIdx: Array[Int] = ndvCols.map { c =>
    val i = schema.fieldIndex(c)
    require(c.matches("[A-Za-z0-9_]+"),
      s"graft-commit: ndvColumns name '$c' must match [A-Za-z0-9_]+")
    val ok = schema(i).dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType | StringType => true
      case _ => false
    }
    require(ok, s"graft-commit: ndvColumns '$c' has non-sketchable type " +
      s"${schema(i).dataType.simpleString} (integral, temporal and string only)")
    i
  }.toArray
  private val ndvSketch =
    new Array[org.apache.datasketches.hll.HllSketch](schema.length)
  private def noteNdv(row: InternalRow): Unit = {
    var k = 0
    while (k < ndvIdx.length) {
      val i = ndvIdx(k)
      val j = i + fieldOffset
      if (!row.isNullAt(j)) {
        if (ndvSketch(i) == null)
          ndvSketch(i) = new org.apache.datasketches.hll.HllSketch(NDV_LGK)
        (statAcc(i): @annotation.switch) match {
          case 0 => ndvSketch(i).update(row.getLong(j))
          case 1 => ndvSketch(i).update(row.getInt(j).toLong)
          case 2 => ndvSketch(i).update(row.getShort(j).toLong)
          case 3 => ndvSketch(i).update(row.getByte(j).toLong)
          case 6 => ndvSketch(i).update(row.getUTF8String(j).toString)
          case _ => ()
        }
      }
      k += 1
    }
  }
  /** Columns whose segment saw a NaN: no range recorded (see noteD). */
  private val nanPoisoned = new Array[Boolean](schema.length)
  private val minL = new Array[Long](schema.length)
  private val maxL = new Array[Long](schema.length)
  private val minD = new Array[Double](schema.length)
  private val maxD = new Array[Double](schema.length)
  // r19 string width facts ('s' columns): nulls / total UTF-8 bytes /
  // longest cell per staged segment — see FileStat.wid
  private val widNulls = new Array[Long](schema.length)
  private val widSum = new Array[Long](schema.length)
  private val widMax = new Array[Long](schema.length)
  private def resetStats(): Unit = {
    java.util.Arrays.fill(seen, false)
    java.util.Arrays.fill(nanPoisoned, false)
    java.util.Arrays.fill(ndvSketch.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(widNulls, 0L)
    java.util.Arrays.fill(widSum, 0L)
    java.util.Arrays.fill(widMax, 0L)
  }
  private def noteL(i: Int, v: Long): Unit =
    if (!seen(i)) { seen(i) = true; minL(i) = v; maxL(i) = v }
    else { if (v < minL(i)) minL(i) = v; if (v > maxL(i)) maxL(i) = v }
  private def noteD(i: Int, v: Double): Unit =
    // A NaN POISONS the column's range for this segment: Spark SQL's
    // total order puts NaN ABOVE every value (`value > 95.0` is TRUE
    // for a NaN row), so a NaN-free recorded range would let
    // `GreaterThan` prune a file whose NaN rows actually match — a
    // silently-missing row on reads and, worse, an un-deleted row on
    // the metadata DELETE path. A poisoned column records NO range
    // (absent stats = never prune), which is sound at the cost of
    // pruning only on NaN-containing files.
    if (v.isNaN) nanPoisoned(i) = true
    else if (!nanPoisoned(i)) {
      if (!seen(i)) { seen(i) = true; minD(i) = v; maxD(i) = v }
      else { if (v < minD(i)) minD(i) = v; if (v > maxD(i)) maxD(i) = v }
    }
  private def noteS(i: Int, utf8bytes: Int): Unit = {
    widSum(i) += utf8bytes
    if (utf8bytes > widMax(i)) widMax(i) = utf8bytes
  }
  /** Range notes — one pass over the row's stat-eligible fields. */
  private def noteRow(row: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      val j = i + fieldOffset
      if (statKind(i) != ' ') {
        if (row.isNullAt(j)) { if (statKind(i) == 's') widNulls(i) += 1 }
        else (statAcc(i): @annotation.switch) match {
          case 0 => noteL(i, row.getLong(j))
          case 1 => noteL(i, row.getInt(j).toLong)
          case 2 => noteL(i, row.getShort(j).toLong)
          case 3 => noteL(i, row.getByte(j).toLong)
          case 4 => noteD(i, row.getDouble(j))
          case 5 => noteD(i, row.getFloat(j).toDouble) // exact widening
          case 6 => noteS(i, row.getUTF8String(j).numBytes)
          case _ => ()
        }
      }
      i += 1
    }
  }

  private def encodeStats(bytes: Long, pk: Option[Long],
                          pkRest: Seq[Long] = Nil): String =
    CommitSink.FileStat(rows, bytes, pk,
      schema.fields.iterator.zipWithIndex.collect {
        case (f, i) if seen(i) && statKind(i) == 'l' =>
          f.name -> CommitSink.ColRange('l', minL(i).toString, maxL(i).toString)
        case (f, i) if seen(i) && !nanPoisoned(i) && statKind(i) == 'd' =>
          f.name -> CommitSink.ColRange('d', minD(i).toString, maxD(i).toString)
      }.toMap, pkRest,
      ndv = schema.fields.iterator.zipWithIndex.collect {
        case (f, i) if ndvSketch(i) != null =>
          f.name -> java.util.Base64.getEncoder
            .encodeToString(ndvSketch(i).toCompactByteArray)
      }.toMap,
      // width facts for every clean-named string column — recorded even
      // for an all-null or empty segment (0/0/0 merges neutrally and
      // keeps the scan's full-coverage rule satisfiable)
      wid = schema.fields.iterator.zipWithIndex.collect {
        case (f, i) if statKind(i) == 's' =>
          f.name -> CommitSink.ColWidth(widNulls(i), widSum(i), widMax(i))
      }.toMap).encode

  // --- staged segments -----------------------------------------------------
  // possibly MULTI-transform (o46): the rolling key is the composite of
  // every component's keyOf; single specs keep the r16 behavior exactly
  private val partSpecs: Seq[CommitSink.PartSpec] =
    partCol.toSeq.flatMap(CommitSink.PartSpec.parseSpecs)
  private val partSpec: Option[CommitSink.PartSpec] = partSpecs.headOption
  private val partIdxs: Array[Int] =
    partSpecs.map(sp => schema.fieldIndex(sp.sourceCol)).toArray
  private val partIdx: Int = if (partIdxs.isEmpty) -1 else partIdxs(0)
  private var segOrdinal = 0
  private var name: String = _
  private var file: Path = _
  // r20: rows stream straight into parquet's page writers (see
  // ParquetPayload.InternalRowWriteSupport) — no per-row Group boxing
  private var pw: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var pwSupport: ParquetPayload.InternalRowWriteSupport = _
  private var rows = 0L
  private var curKeys: Array[Long] = null
  private def curKey: Long = curKeys(0)
  private var done = List.empty[StagedFile]

  private def segActive: Boolean = pw != null

  private def openSegment(): Unit = {
    name = if (partIdx < 0) s"attempt-e$epochId-p$partitionId-t$taskId.parquet"
           else f"attempt-e$epochId-p$partitionId-t$taskId-s$segOrdinal%04d.parquet"
    segOrdinal += 1
    file = staging.resolve(name)
    val (w, sup) = ParquetPayload.rowWriter(file, msgType, schema)
    pw = w; pwSupport = sup
    // eager opens precede offset resolution (fieldOffset -1 → 0);
    // write() re-sets the support once the first row resolves it
    pwSupport.fieldOffset = math.max(fieldOffset, 0)
    rows = 0L
    resetStats()
  }

  private def closeSegment(): Unit = {
    pw.close(); pw = null
    done ::= StagedFile(name, rows,
      encodeStats(CommitSink.io.size(file),
        if (partIdx < 0) None else Some(curKey),
        if (partIdx < 0) Nil else curKeys.toSeq.drop(1)))
  }

  // unpartitioned tasks stage ONE file, opened eagerly so an empty task
  // still commits a (zero-row) file — the pre-partitioning behavior
  if (partIdx < 0) openSegment()

  /** Leading fields to skip, resolved from the first row. Normal writes
    * have rows matching the declared schema (offset 0). The GROUP-BASED
    * row-level path (ReplaceData) prepends an internal `__row_operation`
    * INT column to the write query but — when the operation declares no
    * metadata attributes — executes with the projection-less
    * DataWritingSparkTask, so the marker column reaches the writer
    * (ReplaceDataExec.writingTask only projects when a metadata
    * projection exists). The declared schema stays authoritative; rows
    * are read at `i + fieldOffset`. */
  private var fieldOffset = -1

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset = row.numFields - schema.length
      require(fieldOffset == 0 || fieldOffset == 1,
        s"graft-commit: row has ${row.numFields} fields for ${schema.length}-column schema")
      if (fieldOffset == 1) {
        // an offset assumes the extra field is the PREPENDED operation
        // marker; verify field 0 actually reads as a plausible op code
        // (RowDeltaUtils: 1..6) so a future plan shape that APPENDS the
        // extra column fails loudly instead of committing shifted data
        val op = row.getInt(0)
        require(op >= 1 && op <= 6,
          s"graft-commit: leading field $op is not a row-operation marker; " +
            "refusing to skip it (unknown row layout)")
      }
      if (pwSupport != null) pwSupport.fieldOffset = fieldOffset
    }
    if (partIdx >= 0) {
      // identity records the key itself; transforms record the
      // TRANSFORMED key (bucket id / band / day / month ordinal) — what
      // the write's declared clustering + sort grouped the input by.
      // Multi specs (o46) roll on the COMPOSITE: any component change
      // is a segment boundary (the in-task sort covers every component,
      // so a composite key can never reappear later in the task).
      val ks = new Array[Long](partSpecs.size)
      var d = 0
      while (d < partSpecs.size) {
        val pi = partIdxs(d) + fieldOffset
        require(!row.isNullAt(pi),
          s"graft-commit: NULL partition key in column " +
            s"'${partSpecs(d).sourceCol}' — partitioning requires non-null keys")
        val dt = schema(partIdxs(d)).dataType
        val raw = dt match {
          // timestamps are physically micros longs; dates are day ints
          case LongType | TimestampType | TimestampNTZType => row.getLong(pi)
          case _ => row.getInt(pi).toLong
        }
        ks(d) = partSpecs(d).keyOf(raw, dt)
        d += 1
      }
      if (!segActive || !java.util.Arrays.equals(ks, curKeys)) {
        if (segActive) closeSegment()
        curKeys = ks
        openSegment()
      }
    }
    if (ndvIdx.nonEmpty) noteNdv(row)
    pw.write(row)
    noteRow(row)
    rows += 1
  }

  /** Phase 1: make the staging file(s) durable and hand their names to
    * the driver. NOT visible to readers until the driver's manifest swap.
    * Unpartitioned tasks return their single [[StagedFile]] (the original
    * contract); partitioned tasks return the per-key [[StagedFileSet]]. */
  override def commit(): WriterCommitMessage =
    if (partIdx < 0) { closeSegment(); done.head }
    else { if (segActive) closeSegment(); StagedFileSet(done.reverse) }

  /** Task abort: this attempt's output must leave no trace — the open
    * segment AND every segment it already closed. */
  override def abort(): Unit = {
    if (segActive) {
      pw.close()
      CommitSink.io.deleteIfExists(file)
    }
    done.foreach(s => CommitSink.io.deleteIfExists(staging.resolve(s.name)))
  }
  override def close(): Unit = ()
}

// --- the DSv2 batch READ over the committed snapshot ----------------------
