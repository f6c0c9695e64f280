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

// Split from CommitSink.scala (r17, moves only): the DSv2 table +
// provider faces — CommitSinkProvider (path options: versionAsOf /
// tagAsOf / branch / metaTable / readChangeFeed) and CommitSinkTable
// (capabilities, schema, partitioning, DML/metadata surfaces).

class CommitSinkProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = CommitSink.NAME
  // getTable receives the ORIGINAL-case properties map while inferSchema
  // gets a CaseInsensitiveStringMap — a case-insensitive lookup here keeps
  // the two consistent (Spark options are conventionally case-insensitive;
  // a case-sensitive get would silently read the CURRENT version while
  // inferSchema pinned the old schema)
  private def versionOf(options: util.Map[String, String]): Option[Long] = {
    // one pin per read: naming a version/tag AND a wall time would be
    // ambiguous when they disagree — refuse instead of silently
    // preferring one
    require(!(options.asScala.exists(kv =>
        kv._1.equalsIgnoreCase("versionAsOf") || kv._1.equalsIgnoreCase("tagAsOf")) &&
      options.asScala.exists(_._1.equalsIgnoreCase("timestampAsOf"))),
      "graft-commit: timestampAsOf and versionAsOf/tagAsOf are mutually " +
        "exclusive — a read pins one point in history")
    options.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("versionAsOf") => v.trim.toLong
    }.orElse(options.asScala.collectFirst {
      // o41: a TAG resolves to its pinned version — same read-only
      // semantics as versionAsOf, by name
      case (k, v) if k.equalsIgnoreCase("tagAsOf") =>
        val p = Option(options.asScala.collectFirst {
          case (pk, pv) if pk.equalsIgnoreCase("path") => pv }.orNull)
          .getOrElse(sys.error("graft-commit: tagAsOf needs a path"))
        CommitSink.tagVersion(Paths.get(p), v.trim)
    }).orElse(options.asScala.collectFirst {
      // o49: a WALL TIME resolves to the newest main version committed
      // at or before it — ISO-8601 or epoch millis
      case (k, v) if k.equalsIgnoreCase("timestampAsOf") =>
        val p = Option(options.asScala.collectFirst {
          case (pk, pv) if pk.equalsIgnoreCase("path") => pv }.orNull)
          .getOrElse(sys.error("graft-commit: timestampAsOf needs a path"))
        CommitSink.versionAtTimestamp(Paths.get(p),
          CommitSink.timestampAsOfMicros(v))
    })
  }
  private def cdfOf(options: util.Map[String, String]): Boolean =
    options.asScala.exists {
      case (k, v) => k.equalsIgnoreCase("readChangeFeed") && v.trim.toBoolean
    }
  // o43: metadata inspection tables — option("metaTable", "files" |
  // "history" | "manifests") turns the read into the manifest-granular
  // inventory surface (composes with versionAsOf/tagAsOf above)
  private def metaOf(options: util.Map[String, String]): Option[String] =
    options.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("metaTable") => v.trim.toLowerCase
    }
  // o44: branch binding — reads follow the head, batch writes advance it
  private def branchOf(options: util.Map[String, String]): Option[String] =
    options.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("branch") => v.trim
    }.filter(_.nonEmpty)
  // reads resolve against the committed manifest's schema (also what
  // `spark.read.format("graft-commit")` binds to); a never-written
  // target is empty — the write path accepts the incoming query's
  // schema regardless (ACCEPT_ANY_SCHEMA) and records it in the manifest
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metaOf(options) match {
      case Some(kind) => CommitMeta.schemaOf(kind)
      case None => inferDataSchema(options)
    }
  /** The table [[inferDataSchema]] loaded, with the options it was
    * loaded for (keys lower-cased): [[getTable]] hands this instance to
    * the plan when the options match, so a path read loads its manifest
    * once and its schema and scan bind to the same commit. */
  private var inferred: Option[(Map[String, String], CommitSinkTable)] = None
  private def optionKey(options: util.Map[String, String]): Map[String, String] =
    options.asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
  // the table resolves which manifest describes the read; a path-less
  // read binds no columns here and fails in getTable()
  private def inferDataSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path")).fold(new StructType()) { p =>
      val t = new CommitSinkTable(p, version = versionOf(options),
        changeFeed = cdfOf(options), branch = branchOf(options))
      inferred = Some(optionKey(options) -> t)
      t.schema()
    }
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path"))
      .getOrElse(sys.error("graft-commit: option 'path' is required"))
    metaOf(properties) match {
      case Some(kind) =>
        // metaTable composes with versionAsOf/tagAsOf AND branch: the
        // inventory of a past version or of a branch head
        new CommitMetaTable(path, kind, version = versionOf(properties)
          .orElse(branchOf(properties).map(b =>
            CommitSink.branchHead(Paths.get(path), b))))
      case None =>
        val branch = branchOf(properties)
        require(branch.isEmpty || versionOf(properties).isEmpty,
          "graft-commit: branch and versionAsOf/tagAsOf are mutually " +
            "exclusive — a branch read already follows the branch head")
        val reused = inferred.collect {
          case (key, t) if key == optionKey(properties) => t
        }
        inferred = None
        // a rewrite's write (compact / deleteWhere hand over a
        // `rewriteToken`) describes the manifest its commit CASes
        // against, so its table takes that manifest instead of
        // re-reading the root
        val planned = optionKey(properties).get("rewritetoken")
          .flatMap(CommitSink.rewritePlanning)
        reused.getOrElse(new CommitSinkTable(path, version = versionOf(properties),
          changeFeed = cdfOf(properties), branch = branch, planned = planned))
    }
  }
}

class CommitSinkTable(path: String,
                      /** The PATH-based provider keeps ACCEPT_ANY_SCHEMA
                        * (a fresh target takes the incoming query's
                        * schema, the write-side commit enforces column
                        * compatibility on append). CATALOG-loaded tables
                        * drop it: their schema is the manifest's, and
                        * Spark refuses to align UPDATE/MERGE assignments
                        * against an any-schema table
                        * (skipSchemaResolution) — the capability would
                        * silently disable row-level SQL. */
                      acceptAnySchema: Boolean = true,
                      /** Time-travel pin (o17): when set, reads resolve
                        * against the immutable `_MANIFEST-v<n>.json` of
                        * that commit and every write/DML surface is
                        * withdrawn — a past version is a read-only fact. */
                      version: Option[Long] = None,
                      /** CHANGE DATA FEED mode (o29,
                        * `option("readChangeFeed", true)`): the table
                        * reads as its change rows (+ _change_type /
                        * _commit_version), batch and streaming; every
                        * write/DML surface is withdrawn. */
                      changeFeed: Boolean = false,
                      /** BRANCH binding (o44, `option("branch", n)`):
                        * reads resolve the branch HEAD as of this table
                        * instance's [[root]] (a later head is the next
                        * load's) and batch writes advance it; DML,
                        * streaming, and the change feed stay
                        * main-lineage. */
                      branch: Option[String] = None,
                      /** The root this instance describes when a caller
                        * already holds it (a rewrite's planning
                        * manifest); None loads it from storage. */
                      planned: Option[CommitSink.Manifest] = None) extends Table
    with SupportsWrite
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.{coalesce => fnCoalesce, col, lit, not}
  import org.apache.spark.sql.{sources => sf}

  override def name(): String =
    s"graft_commit($path${version.map(v => s"@v$v").getOrElse("")})"

  /** `_file` — the committed data file a row was read from (o21), the
    * Iceberg FILE_PATH device: lineage/debugging on its own, and the
    * attribute the row-level operation's RUNTIME GROUP FILTERING keys
    * on — a MERGE's matched _file set is bounded by the FILE count, so
    * the DPP In-filter stays manifest-sized where data-column keys
    * could be corpus-sized. Withdrawn when a (nonstandard) data column
    * already claims the name — data columns win. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    if (changeFeed)
      return Array.empty // the feed's columns are real output, not metadata
    val names = schema().fieldNames
    val file: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
      if (names.contains(CommitSink.FILE_COL)) Array.empty
      else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = CommitSink.FILE_COL
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "committed data file (manifest-relative name) this row was read from"
      })
    // `_pos` (o27): physical row position within `_file` — the row id
    // merge-on-read deletion vectors record. Withdrawn independently
    // when a data column claims the name, like `_file`.
    val pos: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
      if (names.contains(CommitSink.POS_COL)) Array.empty
      else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = CommitSink.POS_COL
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical row position within _file (0-based, storage order; " +
            "stamped before deletion vectors are applied)"
      })
    file ++ pos
  }

  /** The version this instance reads: the pin, else the branch head
    * (resolved once, with [[root]]), else None — the live manifest. */
  private lazy val readVersion: Option[Long] =
    version.orElse(branch.map(CommitSink.branchHead(Paths.get(path), _)))

  /** The ONE root manifest (header + group refs; schema and partition
    * spec live there) this table instance describes AND reads, loaded
    * once on first use; None if never written. schema(), partitioning(),
    * metadataColumns(), every scan, the merge-on-read eligibility check
    * and the DML planning manifests all take this value, so an analysed
    * plan and the scan it builds can never straddle a commit: a
    * DataFrame keeps reading the version it was analysed against, and a
    * new `spark.table`/`spark.sql`/`load()` loads a new instance. Writes
    * re-read the live manifest for their compare-and-swap commit. */
  private lazy val root: Option[CommitSink.Manifest] =
    planned.orElse(CommitSink.loadRoot(Paths.get(path), readVersion))

  /** [[root]] with every per-file entry loaded: what a DML statement
    * plans, carries and CAS-checks against. */
  private def resolvedRoot: CommitSink.Manifest =
    CommitSink.resolveGroups(Paths.get(path), root.getOrElse(
      sys.error(s"graft-commit: no committed manifest at $path")))

  /** The committed version's schema when one exists (the catalog /
    * row-level-operation path needs real columns to resolve against);
    * empty for a never-written target (the write-only provider path —
    * ACCEPT_ANY_SCHEMA makes the incoming query's schema bind). */
  override def schema(): StructType = {
    val base = root.fold(new StructType())(_.schema)
    if (changeFeed) CommitSink.cdfSchema(base) else base
  }

  /** The recorded partition spec as V2 transforms (identity or bucket —
    * [[CommitSink.PartSpec]]), so catalog consumers (DESCRIBE, SHOW
    * CREATE) see the layout — of the pinned version or branch head when
    * the table is pinned, like [[schema]]. The SPJ contract itself rides
    * on the SCAN's reported KeyGroupedPartitioning, not on this. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    if (changeFeed) Array.empty
    else root.flatMap(_.partCol).toSeq
      .flatMap(CommitSink.PartSpec.parseSpecs).map(spec =>
      spec match {
        case CommitSink.IdentitySpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        case CommitSink.BucketSpec(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
        case CommitSink.TruncateSpec(w, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.apply("truncate",
            org.apache.spark.sql.connector.expressions.Expressions.literal(w),
            org.apache.spark.sql.connector.expressions.Expressions.column(c))
        case CommitSink.DaysSpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.days(c)
        case CommitSink.HoursSpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.hours(c)
        case CommitSink.MonthsSpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.months(c)
        case CommitSink.YearsSpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.years(c)
      }).toArray

  override def capabilities(): util.Set[TableCapability] = {
    if (changeFeed) {
      require(version.isEmpty,
        "graft-commit: readChangeFeed and versionAsOf are mutually " +
          "exclusive — bound the feed with startingVersion/endingVersion")
      return util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    }
    if (version.isDefined) return util.EnumSet.of(TableCapability.BATCH_READ)
    if (branch.isDefined) {
      // a branch is read-write but BATCH-only: streams and the change
      // feed follow main's lineage (CommitWriteBuilder enforces the
      // write shapes)
      val caps = util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
      if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      return caps
    }
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"graft-commit: version-pinned table ${name()} is read-only")
    require(!changeFeed,
      s"graft-commit: a change-feed read of ${name()} is read-only")
    // a CATALOG table's partition spec is part of its identity: INSERT
    // INTO (which carries no options) appends under the recorded layout.
    // PATH writes keep the explicit-option contract (an un-optioned
    // append to a partitioned table is refused, LakeSpec o16).
    new CommitWriteBuilder(path, info, inheritLayout = !acceptAnySchema)
  }

  /** The READ half: one input partition per committed file — or per
    * partition-key file GROUP when the table was written `partitionBy`
    * (o16) — rows decoded by [[ParquetFilesReader]], the mirror of
    * [[CommitDataWriter]]'s staging encoder. Required by SQL row-level
    * DELETE too: Spark 4 plans `DELETE FROM t WHERE c` by first building
    * the table's scan relation (the condition is normalized against it)
    * and only then handing the translated predicates to [[deleteWhere]]. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def versionOpt(key: String): Option[Long] =
      Option(options.get(key)).map { v =>
        try v.trim.toLong catch {
          case _: NumberFormatException => sys.error(
            s"graft-commit: option $key must be a version number, got '$v'")
        }
      }
    new CommitScanBuilder(path, root, readVersion,
      // plain, version/tag and branch reads evaluate exact filters in the
      // reader; DML scans are built by the row-level operations instead
      absorbFilters = true,
      maxCommitsPerTrigger =
        Option(options.get("maxCommitsPerTrigger")).map { v =>
          val n = try v.trim.toInt catch {
            case _: NumberFormatException => sys.error(
              s"graft-commit: option maxCommitsPerTrigger must be a positive " +
                s"integer, got '$v'")
          }
          require(n >= 1,
            s"graft-commit: option maxCommitsPerTrigger must be >= 1, got $n")
          n
        }.getOrElse(Int.MaxValue),
      snapshotOnRewrite = options.getBoolean("snapshotOnRewrite", false),
      changeFeed = changeFeed || options.getBoolean("readChangeFeed", false),
      // r18: the feed's bounds also resolve by WALL TIME through the
      // o49 commit clock (Delta's starting/endingTimestamp):
      // startingTimestamp → first main version committed ≥ t (changes
      // SINCE t), endingTimestamp → newest ≤ t. One form per bound.
      startingVersion = {
        val ts = Option(options.get("startingTimestamp"))
        require(ts.isEmpty || options.get("startingVersion") == null,
          "graft-commit: startingVersion and startingTimestamp are " +
            "mutually exclusive — pick one form per bound")
        versionOpt("startingVersion").orElse(ts.map(v =>
          CommitSink.versionAtOrAfterTimestamp(Paths.get(path),
            CommitSink.timestampAsOfMicros(v))))
      },
      endingVersion = {
        val ts = Option(options.get("endingTimestamp"))
        require(ts.isEmpty || options.get("endingVersion") == null,
          "graft-commit: endingVersion and endingTimestamp are " +
            "mutually exclusive — pick one form per bound")
        versionOpt("endingVersion").orElse(ts.map(v =>
          CommitSink.versionAtTimestamp(Paths.get(path),
            CommitSink.timestampAsOfMicros(v))))
      })
  }

  /** SQL UPDATE / MERGE INTO (o13) — and the fallback for DELETEs whose
    * condition the metadata path can't translate: the group-based
    * [[CommitRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"graft-commit: version-pinned table ${name()} is read-only")
    require(!changeFeed,
      s"graft-commit: a change-feed read of ${name()} is read-only")
    require(branch.isEmpty,
      s"graft-commit: row-level DML on a branch binding of ${name()} is " +
        "unsupported — it would plan against main; append/truncate the " +
        "branch, or publish it first")

    () => {
      // o28: `spark.graft.commit.rowLevelMode=merge-on-read` selects the
      // DELTA-based operation (deletion vectors + appended files) for
      // eligible tables — no `_file`/`_pos` data columns (the rowId
      // needs the metadata columns). Partitioned tables are eligible
      // too (since r14): the vector machinery is per-file and
      // layout-blind, and the delta write preserves the one-key-per-file
      // layout by clustering
      // inserted rows on the partition column (the insert writer rolls
      // per key exactly like a partitioned append). Ineligible tables
      // fall back to group copy-on-write: the MODE is a cost knob, the
      // RESULT is identical (Iceberg's write.update.mode/
      // write.merge.mode position).
      val mode =
        try SparkSession.active.conf
          .get("spark.graft.commit.rowLevelMode", "copy-on-write")
        catch { case _: Throwable => "copy-on-write" }
      require(mode == "copy-on-write" || mode == "merge-on-read",
        "graft-commit: spark.graft.commit.rowLevelMode must be " +
          s"'copy-on-write' or 'merge-on-read', got '$mode'")
      val eligible = mode == "merge-on-read" &&
        root.exists { m =>
          val names = m.schema.fieldNames
          !names.contains(CommitSink.FILE_COL) &&
            !names.contains(CommitSink.POS_COL) &&
            // bucket layouts fall back to group copy-on-write: the delta
            // write clusters INSERTED rows via identity(partCol), which a
            // transform spec cannot express on this path — the mode is a
            // cost knob, the result is identical (see the fallback note)
            m.partCol.map(CommitSink.PartSpec.parse)
              .forall(_.isInstanceOf[CommitSink.IdentitySpec])
        }
      if (eligible)
        new CommitDeltaRowLevelOperation(path, info.command(), resolvedRoot)
      else new CommitRowLevelOperation(path, info.command(), resolvedRoot)
    }
  }

  // --- row-level DELETE (o12): copy-on-write under the manifest swap ----
  //
  // `DELETE FROM graft_commit.ns.t WHERE <cond>` arrives here as pushed
  // V1 filters (the SupportsDelete bridge translates the V2 predicates).
  // The delete is Iceberg-style copy-on-write: read ONLY the manifest's
  // committed files, keep the rows the condition does NOT select (NULL
  // condition keeps the row — SQL DELETE semantics), and land the
  // survivors as a NEW table version through the ordinary truncate
  // write — task-isolated staging, atomic manifest swap, CAS against
  // concurrent writers. Readers see the old version or the new one,
  // never a partial delete. Like TRUNCATE, a DELETE starts a new table
  // version and resets the streaming-epoch ledger (documented there).

  private def filterToColumn(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sf.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sf.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sf.LessThan(a, v)           => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sf.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sf.IsNull(a)                => Some(col(a).isNull)
    case sf.IsNotNull(a)             => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sf.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sf.StringContains(a, v)     => Some(col(a).contains(v))
    case sf.AlwaysTrue()             => Some(lit(true))
    case sf.AlwaysFalse()            => Some(lit(false))
    case sf.And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case sf.Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case sf.Not(c) => filterToColumn(c).map(not)
    case _ => None
  }

  override def canDeleteWhere(filters: Array[sf.Filter]): Boolean =
    version.isEmpty && !changeFeed && branch.isEmpty &&
      filters.forall(filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[sf.Filter]): Unit = {
    val spark = SparkSession.active
    // the table's ONE manifest: the rows read, the carried set, and the
    // commit CAS all bind to it (a commit landing after the table loaded
    // hard-fails the swap)
    val m = resolvedRoot
    // DELETE MODE (o27): `spark.graft.commit.deleteMode=merge-on-read`
    // records deletion vectors instead of rewriting files — Iceberg's
    // write.delete.mode knob. Requires the _file/_pos metadata columns
    // (withdrawn when data columns claim the names); ineligible tables
    // fall back to copy-on-write — the MODE is a cost knob, the RESULT
    // is identical.
    val deleteMode =
      try spark.conf.get("spark.graft.commit.deleteMode", "copy-on-write")
      catch { case _: Throwable => "copy-on-write" }
    require(deleteMode == "copy-on-write" || deleteMode == "merge-on-read",
      s"graft-commit: spark.graft.commit.deleteMode must be 'copy-on-write' " +
        s"or 'merge-on-read', got '$deleteMode'")
    val morEligible = {
      val names = m.schema.fieldNames
      !names.contains(CommitSink.FILE_COL) && !names.contains(CommitSink.POS_COL)
    }
    if (deleteMode == "merge-on-read" && morEligible) {
      val cond = filters.flatMap(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
      CommitSink.deleteToVectors(spark, path, m, cond)
      return
    }
    // GROUP-GRANULAR delete: a file whose recorded ranges PROVE no row
    // satisfies the delete condition is untouched by the delete — carry
    // it forward verbatim instead of rewriting it (mayMatch == false
    // means zero matching rows, so skipping the rewrite loses nothing)
    val stats = m.stats.map { case (f, e) => f -> CommitSink.FileStat.decode(e) }
    val usable = filters.filter(CommitSkip.usable)
    val scanned = m.files.filter { f =>
      stats.get(f).forall(st => usable.forall(CommitSkip.mayMatch(_, st)))
    }
    if (scanned.isEmpty) return // provably nothing to delete: no-op
    // the pushed filters are implicitly conjunctive
    val cond = filters.flatMap(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
    val token = CommitSink.registerRewrite(
      CommitSink.DmlRewrite(m, () => scanned.toSet))
    try {
      val survivors = CommitSink.readManifestFiles(spark, path, m.copy(files = scanned))
        // DELETE removes rows where the condition is TRUE; a NULL
        // condition keeps the row
        .filter(not(fnCoalesce(cond, lit(false))))
      // DML preserves the table's partition layout. MULTI-transform
      // layouts (o46) pre-shape the composite shuffle here — this is a
      // PATH write with no FunctionCatalog to resolve the clustered
      // distribution through (the compact device)
      val specs = m.partCol.toSeq.flatMap(CommitSink.PartSpec.parseSpecs)
      val (shaped, pre) =
        if (specs.size > 1) {
          val ks = specs.map(CommitSink.keyColOf(_, m.schema))
          (survivors.repartition(ks: _*).sortWithinPartitions(ks: _*), true)
        } else (survivors, false)
      val w0 = shaped.write.format(CommitSink.NAME).option("path", path)
        .option("rewriteToken", token)
      val w = if (pre) w0.option("preShaped", "true") else w0
      m.partCol.fold(w)(c => w.option("partitionBy", c))
        .mode("overwrite").save()
    } finally CommitSink.dropRewrite(token) // reclaim on pre-build failure
  }
}
