package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal TableCatalog over [[CommitSink]] tables — the piece that
  * lets SQL statements (most importantly `DELETE FROM`, o12) address a
  * manifest-committed table by NAME instead of by path:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_commit",
  *                  "graft.sources.CommitCatalog")
  *   spark.conf.set("spark.sql.catalog.graft_commit.root", "/data/tables")
  *   spark.sql("DELETE FROM graft_commit.default.events WHERE ...")
  * }}}
  *
  * Identifier → path mapping is the obvious one: `root/ns.../name`, a
  * table existing iff its `_MANIFEST.json` does (the manifest, not the
  * directory, defines the table — the same object-store-safe position
  * as the sink itself). CREATE TABLE lands an empty commit-0 manifest
  * through the same CAS'd writer every other path uses; DROP delegates
  * to the shared recursive delete. ALTER TABLE ADD COLUMNS is the one
  * supported evolution (o31, a metadata-only commit — see
  * [[alterTable]]); RENAME and every other ALTER stay a
  * truncate-rewrite, the copy-on-write discipline o12's DELETE follows.
  */
class CommitCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
      .getOrElse(sys.error("graft-commit catalog: option 'root' is required " +
        s"(spark.sql.catalog.$name.root=<dir>)"))
  }

  override def name(): String = catalogName

  /** Identifier segments become path segments, so they must never BE
    * path syntax: backquoted SQL identifiers can carry '/' or '..',
    * which would resolve (and, via dropTable, recursively DELETE)
    * outside the catalog root. Reject anything but a plain name. */
  private def checkSegment(s: String): String = {
    require(s.matches("[A-Za-z0-9_.-]+") && s != "." && s != "..",
      s"graft-commit catalog: invalid identifier segment '$s' — segments " +
        "must match [A-Za-z0-9_.-]+ and may not be '.' or '..'")
    s
  }

  private def pathFor(ident: Identifier): Path =
    Paths.get((root +: (ident.namespace().toSeq :+ ident.name())
      .map(checkSegment)).mkString("/"))

  override def tableExists(ident: Identifier): Boolean =
    Files.exists(pathFor(ident).resolve("_MANIFEST.json"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = Paths.get((root +: namespace.toSeq.map(checkSegment)).mkString("/"))
    if (!Files.isDirectory(d)) Array.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("_MANIFEST.json")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // o43: Iceberg's metadata-table suffix — ``SELECT * FROM
    // cat.ns.`t$files` `` (also $history / $manifests; backquoted, `$`
    // is not a plain-identifier character). The suffix resolves the
    // BASE table's path and serves the manifest-granular inventory.
    val dollar = ident.name().lastIndexOf('$')
    if (dollar > 0 &&
        CommitMeta.Kinds.contains(ident.name().substring(dollar + 1))) {
      val base = Identifier.of(ident.namespace(),
        ident.name().substring(0, dollar))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new CommitMetaTable(pathFor(base).toString,
        ident.name().substring(dollar + 1))
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // catalog tables pin the manifest schema (no ACCEPT_ANY_SCHEMA):
    // required for UPDATE/MERGE assignment alignment — see the
    // CommitSinkTable scaladoc
    new CommitSinkTable(pathFor(ident).toString, acceptAnySchema = false)
  }

  /** Time travel (o17): `SELECT ... FROM cat.ns.t VERSION AS OF n` loads
    * the immutable manifest of commit n — a read-only table whose file
    * list no later commit can change. The version string must be the
    * commit number (timestamp-based travel would need a commit-time
    * column in the manifest; deliberately out of scope). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // a commit number, (o41) a TAG name resolving to its pinned version
    // — `SELECT ... VERSION AS OF 'audit-2026'` — or (o44) a BRANCH
    // name resolving to its current head (read-only here; writable
    // branch access is the path surface's option("branch", ...))
    val v = try version.trim.toLong catch {
      case _: NumberFormatException =>
        val p = pathFor(ident)
        CommitSink.listBranches(p).get(version.trim).map(_._1)
          .getOrElse(CommitSink.tagVersion(p, version.trim))
    }
    new CommitSinkTable(pathFor(ident).toString, acceptAnySchema = false,
      version = Some(v))
  }

  /** Time travel by TIMESTAMP (o49): `SELECT ... FROM cat.ns.t
    * TIMESTAMP AS OF t` — Spark hands epoch MICROS; the newest main
    * version committed at or before it resolves
    * ([[CommitSink.versionAtTimestamp]]). Pre-table timestamps refuse. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = pathFor(ident)
    new CommitSinkTable(p.toString, acceptAnySchema = false,
      version = Some(CommitSink.versionAtTimestamp(p, timestamp)))
  }

  /** The partition spec string a CREATE TABLE transform list encodes —
    * the two transforms [[CommitSink.PartSpec]] supports:
    * `PARTITIONED BY (col)` (identity, o16) and
    * `PARTITIONED BY (bucket(n, col))` (Iceberg's bucket transform,
    * o40 — resolved at write/scan time through this catalog's
    * [[FunctionCatalog]] face). */
  private def partSpecOf(partitions: Array[Transform]): Option[String] = {
    // MULTI-transform specs since r17 (o46): `PARTITIONED BY (days(ts),
    // bucket(8, user_id))` — the standard time x key fact layout; the
    // components join into one canonical comma-separated spec string
    if (partitions.isEmpty) return None
    val encoded = partitions.toSeq.map { t =>
      def oneRef(args: Seq[org.apache.spark.sql.connector.expressions.Expression]): String = {
        val refs = args.collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference => r
        }
        require(refs.length == 1 && refs.head.fieldNames.length == 1,
          s"graft-commit: partition transform must reference one top-level column, got $t")
        refs.head.fieldNames.head
      }
      def intLit: Option[Long] = t.arguments.collectFirst {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.value().isInstanceOf[Int] || lit.value().isInstanceOf[Long] =>
          lit.value() match { case i: Int => i.toLong; case l: Long => l }
      }
      t.name() match {
        case "identity" => CommitSink.IdentitySpec(oneRef(t.arguments.toSeq)).encode
        case "bucket" =>
          val n = intLit.getOrElse(sys.error(
            s"graft-commit: bucket transform needs an int bucket count, got $t"))
          CommitSink.PartSpec.parse(
            CommitSink.BucketSpec(n.toInt, oneRef(t.arguments.toSeq)).encode).encode
        case "truncate" =>
          val w = intLit.getOrElse(sys.error(
            s"graft-commit: truncate transform needs an int width, got $t"))
          CommitSink.PartSpec.parse(
            CommitSink.TruncateSpec(w, oneRef(t.arguments.toSeq)).encode).encode
        case "days" =>
          CommitSink.DaysSpec(oneRef(t.arguments.toSeq)).encode
        case "hours" =>
          CommitSink.HoursSpec(oneRef(t.arguments.toSeq)).encode
        case "months" =>
          CommitSink.MonthsSpec(oneRef(t.arguments.toSeq)).encode
        case "years" =>
          CommitSink.YearsSpec(oneRef(t.arguments.toSeq)).encode
        case other => sys.error(
          s"graft-commit: unsupported partition transform '$other' — " +
            "identity, bucket(n, col), truncate(w, col), days(col), " +
            "hours(col), months(col) and years(col) only")
      }
    }
    // parseSpecs re-validates (distinct source columns) and canonicalizes
    Some(CommitSink.PartSpec.encodeSpecs(encoded.mkString(",")))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partCol = partSpecOf(partitions)
    partCol.toSeq.flatMap(CommitSink.PartSpec.parseSpecs).foreach { spec =>
      val f = schema.fields.find(_.name == spec.sourceCol).getOrElse(
        sys.error(s"graft-commit: partition column '${spec.sourceCol}' is " +
          "not in the table schema"))
      require(spec.sourceOk(f.dataType),
        s"graft-commit: partition column '${spec.sourceCol}' must be " +
          s"${spec.sourceRule}, got ${f.dataType.simpleString}")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // TBLPROPERTIES ('payload'=v) may only name the one staged-file
    // format; validate the declared schema against it NOW so CREATE
    // fails fast, not the first INSERT
    ParquetPayload.requireChoice(Option(properties.get("payload")))
    val bad = schema.fields.filterNot(f => ParquetPayload.supported(f.dataType))
    require(bad.isEmpty, "graft-commit: unsupported column " +
      s"types: ${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
    val p = pathFor(ident)
    Files.createDirectories(p)
    // commit 0 with no files, CAS'd on "no manifest yet" so a racing
    // writer's commit is never clobbered; a fresh generation id is minted
    try CommitSink.writeManifest(p, schema.toDDL, Seq.empty, 0L, expectedPrev = -1L,
      partCol = partCol,
      tableId = java.util.UUID.randomUUID().toString)
    catch { case _: IllegalArgumentException =>
      throw new TableAlreadyExistsException(ident)
    }
    new CommitSinkTable(p.toString, acceptAnySchema = false)
  }

  // the modern analyzer path goes through the Column[] variant; route it
  // to the StructType implementation above (CatalogV2Util is
  // private[sql], so convert the portable subset by hand)
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable))),
      partitions, properties)

  /** Lakehouse SCHEMA EVOLUTION (o31) — `ALTER TABLE t ADD COLUMNS (c T)`:
    * a METADATA-ONLY commit that widens the manifest DDL and carries
    * every file, stat, vector and epoch verbatim. Old files simply lack
    * the column and read as NULL — the payload reader's
    * absent-field rule and Spark's native schema-on-read both already do
    * this, and the zone-map rule "no recorded range = never prune / MIN
    * and MAX see only NULLs there" keeps file skipping and metadata-only
    * aggregation sound with zero special cases (the same semantics
    * Iceberg's add-column gets from field-id projection). Time travel to
    * a pre-ALTER version reads with the OLD schema (version manifests
    * are immutable). Only ADD COLUMN is supported: it is the evolution
    * appends need (the storage twin of the CDC path's in-flight schema
    * evolution, consumer_to_file.py:155-168); renames/drops/retypes
    * would change what EXISTING bytes mean and stay a truncate-rewrite.
    *
    * New columns must be nullable (existing rows have no value to give
    * them), top-level, and appended at the END — a position clause would
    * desync the payload's by-name decoding for no semantic gain. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = pathFor(ident)
    val m = CommitSink.parseManifest(p).getOrElse(throw new NoSuchTableException(ident))
    val cur = m.schema
    // the commit this ALTER will land as — what seq-stamps its ledger
    // entries (files with fileSeq < evoSeq predate the evolution)
    val evoSeq = m.commit + 1
    // NAMES COMMITTED BYTES MAY STILL CARRY, beyond the current schema:
    // dropped columns' values, and renamed columns' OLD names (chain
    // intermediates included — every live RenameEvt.oldName is a name
    // some pre-rename file physically holds). ADD COLUMN reusing any of
    // them would silently RESURRECT foreign values through by-name
    // projection (r17 ADVICE) — Iceberg reads NULL there because a
    // re-add mints a fresh field id; here the honest answer is refusal
    // until the old files are rewritten (the ledger auto-retires then).
    def carriedNames(log: Seq[CommitSink.SchemaEvt]): Set[String] =
      log.collect {
        case CommitSink.DropEvt(n, _) => n
        case CommitSink.RenameEvt(o, _, _) => o
      }.toSet
    val (widened, newLog, newPartCol) =
      changes.foldLeft((cur, m.schemaLog, m.partCol)) {
        case ((sch, log, pc), ch) => ch match {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft-commit: ALTER ADD COLUMN supports top-level columns only, " +
            s"got ${add.fieldNames().mkString(".")}")
        val name = add.fieldNames()(0)
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"graft-commit: column '$name' already exists in ${ident.name()}")
        require(!carriedNames(log).exists(_.equalsIgnoreCase(name)),
          s"graft-commit: cannot ADD COLUMN '$name' — committed files may " +
            "still carry a dropped/renamed column of that name, and a " +
            "by-name re-add would resurrect its old values; rewrite the " +
            "old files first (compact), which retires the ledger entry")
        require(add.isNullable,
          s"graft-commit: ALTER ADD COLUMN '$name' must be nullable — " +
            "existing rows read the new column as NULL")
        require(add.position() == null,
          "graft-commit: ALTER ADD COLUMN FIRST/AFTER is unsupported — " +
            "new columns append at the end")
        require(ParquetPayload.supported(add.dataType()),
          "graft-commit: unsupported ALTER column " +
            s"type ${add.dataType().simpleString} for '$name'")
        (sch.add(org.apache.spark.sql.types.StructField(name, add.dataType())),
          log, pc)
      case del: TableChange.DeleteColumn =>
        // DROP COLUMN (r17): metadata-only, like ADD — the DDL narrows
        // and every reader projects BY NAME against the current schema,
        // so committed files simply stop being asked for the field
        // (parquet chunk projection skips it). Files, stats, vectors,
        // epochs carry verbatim; leftover zone/bloom entries for the
        // dropped name are unreachable (no post-ALTER filter can name
        // the column) and
        // die with their files on rewrite. Time travel keeps each
        // version's own shape — `VERSION AS OF` a pre-DROP commit still
        // reads the column. Refused when the column is load-bearing:
        // the partition spec's source, or a live equality delete's key
        // (its apply anti-join must decode the column from every
        // covered file). r18: the drop lands a TOMBSTONE in the schema
        // ledger, so a later ADD cannot silently reuse the name while
        // committed files still carry the old values.
        require(del.fieldNames().length == 1,
          "graft-commit: ALTER DROP COLUMN supports top-level columns only, " +
            s"got ${del.fieldNames().mkString(".")}")
        val name = del.fieldNames()(0)
        require(sch.fieldNames.contains(name),
          s"graft-commit: no column '$name' in ${ident.name()} to drop")
        require(sch.length > 1,
          s"graft-commit: cannot drop '$name' — it is the table's only column")
        pc.toSeq.flatMap(CommitSink.PartSpec.parseSpecs).foreach(sp =>
          require(sp.sourceCol != name,
            s"graft-commit: cannot drop '$name' — it is the partition " +
              s"spec's source column (${sp.encode}); evolve the " +
              "partitioning first"))
        m.eqDeletes.foreach(e =>
          require(!e.colNames.contains(name),
            s"graft-commit: cannot drop '$name' — live equality deletes " +
              "key on it; convertEqDeletes first"))
        (StructType(sch.fields.filterNot(_.name == name)),
          log :+ CommitSink.DropEvt(name, evoSeq), pc)
      case ren: TableChange.RenameColumn =>
        // RENAME COLUMN (o48, r18) — the third leg of metadata-only
        // schema evolution: ONE manifest commit, zero byte rewrites.
        // Committed files keep their old physical name; the ledger's
        // RenameEvt (keyed on this commit's seq) tells every reader to
        // ask a file with fileSeq < seq for the OLD name — the graft
        // analog of Iceberg's field-id projection ([[CommitSink
        // .physNamesFor]]; chains and name reuse resolve newest-first).
        // Zone maps and bloom refs remap through the same ledger at
        // scan planning, so pruning keeps working on renamed columns.
        // A PARTITION SPEC SOURCE renames too (r19): the spec string
        // rewrites its reference in the same commit — transform keys
        // are computed VALUES (per-file pk/pkr entries carry no name),
        // so pruning, grouped planning, SPJ and `$partitions` survive
        // unchanged (Iceberg parity: specs bind field ids, so a rename
        // never invalidates them). Refusals: a live equality delete's
        // key (its key FILES are committed bytes naming the old
        // column), and a target name the schema already holds.
        require(ren.fieldNames().length == 1,
          "graft-commit: ALTER RENAME COLUMN supports top-level columns " +
            s"only, got ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(sch.fieldNames.contains(from),
          s"graft-commit: no column '$from' in ${ident.name()} to rename")
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"graft-commit: cannot rename '$from' to '$to' — the column " +
            "already exists")
        require(to.matches("[A-Za-z0-9_]+"),
          s"graft-commit: renamed column '$to' must match [A-Za-z0-9_]+ " +
            "(the manifest stats/ledger separator-safe alphabet)")
        m.eqDeletes.foreach(e =>
          require(!e.colNames.contains(from),
            s"graft-commit: cannot rename '$from' — live equality deletes " +
              "key on it; convertEqDeletes first"))
        (StructType(sch.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)),
          log :+ CommitSink.RenameEvt(from, to, evoSeq),
          pc.map(s => CommitSink.PartSpec.parseSpecs(s)
            .map(sp => if (sp.sourceCol == from)
              CommitSink.PartSpec.withSource(sp, to) else sp)
            .map(_.encode).mkString(",")))
      case other => throw new UnsupportedOperationException(
        s"graft-commit: unsupported ALTER ($other) — only ADD COLUMN, " +
          "DROP COLUMN and RENAME COLUMN; retypes are a truncate-rewrite " +
          "on this sink")
    }}
    // one metadata-only commit, CAS'd on the manifest this ALTER read —
    // a concurrent writer landing mid-ALTER fails the swap loudly
    CommitSink.writeManifest(p, widened.toDDL, m.files, m.commit + 1,
      m.epochs, expectedPrev = m.commit, partCol = newPartCol,
      stats = m.stats, tableId = CommitSink.carriedOrFreshTableId(Some(m)),
      deletes = m.deletes,
      fileSeq = m.fileSeq, eqDeletes = m.eqDeletes, blooms = m.blooms,
      schemaLog = newLog)
    new CommitSinkTable(p.toString, acceptAnySchema = false)
  }

  // --- FunctionCatalog (o40) -----------------------------------------
  // One function: the canonical `bucket` transform ([[BucketFunction]]).
  // This is the piece that lets Spark resolve a bucket-partitioned
  // write's clustered distribution and translate a bucketed scan's
  // KeyGroupedPartitioning into the TransformExpression the
  // storage-partitioned join aligns on — the same FunctionCatalog wiring
  // Iceberg's Spark integration ships. Served under every namespace:
  // Spark looks transforms up with an empty namespace.
  // r17 widens the served set to the temporal transforms + truncate
  // ([[TransformFunctions]]): single-transform temporal layouts resolve
  // nothing (ordered distribution on the raw column), but a
  // MULTI-transform spec's clustered distribution resolves every
  // component here — Iceberg's SparkFunctions arrangement.
  private val functions: Map[String,
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction] = Map(
    "bucket" -> BucketFunction.unbound,
    "days" -> TransformFunctions.days,
    "hours" -> TransformFunctions.hours,
    "months" -> TransformFunctions.months,
    "years" -> TransformFunctions.years,
    "truncate" -> TransformFunctions.truncate)
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    functions.keys.toArray.sorted.map(Identifier.of(namespace, _))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    functions.getOrElse(ident.name().toLowerCase,
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { graft.Tables.deleteRecursively(pathFor(ident).toString); true }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft-commit: RENAME unsupported")
}
