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

/** The WRITE half of the DataSource V2 contract — the connector surface
  * the read-side family (o05 scan, o06 aggregate pushdown, o07
  * limit/TopN, o08 runtime filtering, o10 micro-batch read) doesn't
  * touch: a sink with a real two-phase distributed commit protocol, the
  * shape every transactional lakehouse sink (Iceberg/Delta-style)
  * implements — in BOTH the batch form ([[CommitBatchWrite]], o09) and
  * the epoch-committing streaming form ([[CommitStreamingWrite]], o11,
  * whose manifest-recorded epochs make re-delivered micro-batch commits
  * idempotent: the exactly-once sink contract).
  *
  * Why this is the scale-correct write shape (vs the reference's
  * row-at-a-time `insert_dicts` sink, consumer_to_file.py:224, which has
  * no commit boundary at all — a crashed consumer leaves half-applied
  * work visible):
  *
  *   - '''Task isolation.''' Each [[CommitDataWriter]] streams its
  *     partition to a PRIVATE staging file; nothing a running (or
  *     failed, or speculative) task writes is visible to any reader.
  *   - '''Two-phase commit.''' A task that finishes hands back a
  *     [[StagedFile]] commit message (phase 1); only the DRIVER's
  *     `BatchWrite.commit` — which runs once, after every task
  *     succeeded — publishes them (phase 2). Spark's output-commit
  *     coordinator guarantees at most one attempt per partition commits,
  *     so speculative duplicates can never double-publish.
  *   - '''Manifest as the atomicity point.''' Readers
  *     ([[CommitSink.readCommitted]]) see ONLY files listed in the
  *     `_MANIFEST.json`, which is swapped into place with one atomic
  *     rename. A crash before the swap leaves the previous table version
  *     fully intact; stray staged/renamed files are invisible garbage,
  *     never phantom rows. This is exactly the design that stays correct
  *     on object stores where directory listing is not transactional —
  *     the manifest, not the filesystem, defines the table.
  *   - '''Abort cleanup.''' Task abort deletes the task's own staging
  *     file; job abort sweeps the staging directory. A failed write
  *     leaves no state change at all (Round10Spec plants a failing
  *     partition and proves it).
  *
  * Staged files carry ONE payload format, parquet ([[ParquetPayload]]):
  * columnar chunks, snappy, chunk-level projection, and the full
  * declared-type surface (long / int / smallint / tinyint / double /
  * float / string / boolean / date / timestamp / timestamp_ntz /
  * decimal) — the encoder that can hold the CDC path's TYPE_MAPPING
  * schemas (the reference's ClickHouse DDL stores real
  * Date/DateTime/Decimal columns, consumer_to_file.py:145-150). Doubles
  * round-trip bit-exactly (±Inf, −0.0, denormals; NaN stays NaN). Driver-side
  * re-reads go through Spark's native vectorized parquet scan. The
  * schema is validated at write resolution with a clear error, like
  * TypeMapping's declared ingest path. The original JSON-lines payload
  * is retired: a manifest that lists files under it is refused at parse
  * ([[parseManifestText]]), and a `payload` option or table property
  * naming anything but parquet is refused ([[ParquetPayload.requireChoice]]).
  */
object CommitSink {
  val NAME = "graft-commit"
  private[sources] val MANIFEST = "_MANIFEST.json"
  private val STAGING = "_staging"

  /** The storage binding (r14 IO seam): every staged-file, vector,
    * key-file and manifest byte goes through this — see [[CommitIO]].
    * Two bindings exist: local NIO (default) and the Hadoop
    * `FileSystem` path ([[HadoopCommitIO]], r15 — the S3A code
    * surface). Selected per JVM by `-Dgraft.commit.io=hadoop` (the
    * whole test battery runs under either binding), or per scope via
    * [[withIo]] (the o34 registry entry). Volatile: executor threads
    * in this single-JVM deployment read it at task execution time. */
  @volatile private[graft] var io: CommitIO =
    if (sys.props.get("graft.commit.io").contains("hadoop")) new HadoopCommitIO
    else NioCommitIO

  private val ioSwapLock = new Object
  /** Run `body` with `binding` as the storage seam, restoring the
    * previous binding after. The SWAP is serialized, and every Spark
    * action `body` triggers must complete inside it (materialize before
    * returning — a lazy DataFrame would execute under the restored
    * binding). Single-JVM device: on a real cluster the binding is the
    * JVM-wide `-Dgraft.commit.io` choice, not a scope. */
  private[graft] def withIo[A](binding: CommitIO)(body: => A): A =
    ioSwapLock.synchronized {
      val prev = io
      io = binding
      try body finally io = prev
    }

  /** Thrown by the manifest CAS when another writer's commit landed
    * between this writer's planning read and its swap. Subclasses
    * IllegalArgumentException so pre-existing callers that treated the
    * CAS refusal as an argument violation keep working; new callers (the
    * append retry loop) catch THIS type to retry safely. */
  private[graft] class ConcurrentCommitException(msg: String)
      extends IllegalArgumentException(msg)

  /** Per-path commit mutex: makes the CAS check + manifest swap one
    * atomic step for writers in THIS JVM (local mode — the whole
    * deployment). On a real object store this is the conditional-put /
    * atomic-rename primitive the store provides; the lock models it so
    * two local threads can never both pass the check. */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: Path): Object =
    commitLocks.computeIfAbsent(dir.toAbsolutePath.normalize.toString,
      _ => new Object)

  /** A planned GROUP-GRANULAR rewrite: the manifest the rewrite's read
    * side was planned against, plus the files that read actually scanned
    * (everything else is carried forward verbatim). Threading this from
    * planning into [[CommitBatchWrite]] is what makes (a) a one-row
    * UPDATE rewrite one file instead of the whole table, and (b) the
    * commit CAS compare against the PLANNING-time commit id — a commit
    * landing while the rewrite job runs now hard-fails instead of being
    * silently overwritten by the truncate. */
  private[graft] case class DmlRewrite(planning: Manifest,
                                       scanned: () => Set[String])

  /** Driver-side handoff of a [[DmlRewrite]] into a DataFrame-API write
    * (compact / deleteWhere go through `df.write.format(...)`, which can
    * only carry string options): register → pass the token as an option →
    * the write builder takes (removes) it. Same-JVM only, like the sink. */
  private val pendingRewrites =
    new java.util.concurrent.ConcurrentHashMap[String, DmlRewrite]()
  private[graft] def registerRewrite(r: DmlRewrite): String = {
    val t = java.util.UUID.randomUUID().toString
    pendingRewrites.put(t, r)
    t
  }
  /** The planning manifest of a registered, not yet taken rewrite: the
    * root the table instance its write loads describes. */
  private[graft] def rewritePlanning(token: String): Option[Manifest] =
    Option(pendingRewrites.get(token)).map(_.planning)
  private[graft] def takeRewrite(token: String): DmlRewrite =
    Option(pendingRewrites.remove(token)).getOrElse(
      sys.error(s"graft-commit: unknown or already-consumed rewrite token $token"))

  /** Failure-path cleanup for a registered token: a write that dies at
    * analysis/validation BEFORE the builder's lazy takeRewrite runs
    * would otherwise leak the entry (holding the full planning manifest)
    * in a long-lived driver. Idempotent — a token the write already
    * consumed is simply gone. */
  private[graft] def dropRewrite(token: String): Unit =
    pendingRewrites.remove(token)

  /** True when `e` (or anything in its cause chain — Spark wraps writer
    * commit failures) is the manifest CAS refusing a concurrent commit. */
  private def isConcurrentCommit(e: Throwable): Boolean =
    e != null &&
      (e.isInstanceOf[ConcurrentCommitException] || isConcurrentCommit(e.getCause))

  /** MAINTENANCE retry loop (r16): a compaction/clustering rewrite that
    * loses its manifest CAS to a concurrent append/upsert RE-PLANS
    * against the NEW manifest and runs again — the loser must never
    * drop the concurrent commit's files from the rewrite (it cannot:
    * the CAS hard-fails the stale swap; this loop just turns that
    * failure into the retry a maintenance daemon would do by hand).
    * Appends already retry inside commitAppend; DML rewrites
    * deliberately do NOT retry (a racing commit may have changed the
    * rows the WHERE clause matches — re-running user DML is the
    * caller's decision, not the sink's; Iceberg's position there too).
    * Bounded: maintenance under a hot write stream should back off, not
    * spin. */
  private def retryMaintenance[A](what: String, attempts: Int = 5)(body: => A): A = {
    var i = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if isConcurrentCommit(e) && i < attempts - 1 =>
          i += 1 // re-plan from the new manifest on the next pass
      }
    }
    sys.error(s"graft-commit: $what retry loop exited impossibly")
  }

  /** Attempt-unique fragment for PROMOTED data-file names. Promotion
    * happens before the manifest CAS, and two racing writers compute the
    * same next commit id — with deterministic names the loser's
    * ATOMIC_MOVE could replace the winner's already-committed file. A
    * per-write nonce makes that structurally impossible: no two write
    * attempts ever promote onto the same final name. */
  private[sources] def writeNonce(): String =
    java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong() >>> 16)

  /** Wall clock stamping each commit's `committs` (o49, TIMESTAMP AS OF).
    * Swappable so tests and oracle entries inject deterministic commit
    * times — wall-time nondeterminism must never reach an oracle-checked
    * readout. Restore after use: `withClock` scopes it safely. */
  @volatile private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Run `body` under a fixed-sequence test clock, restoring the real
    * clock after. The clock is GLOBAL (manifest writes are already
    * serialized per path under lockFor) — scope one fixture at a time. */
  private[graft] def withClock[A](times: () => Long)(body: => A): A = {
    val prev = clock
    clock = times
    try body finally clock = prev
  }

  /** Immutable per-version manifest copy (`_MANIFEST-v<commit>.json`),
    * written by every successful commit next to the mutable current
    * pointer — the time-travel device (o17): `VERSION AS OF n` reads the
    * version file, which no later commit ever rewrites. The Iceberg
    * analog is the snapshot list; expiry (GC of old versions and the
    * data files only they reference) is the operational knob a 100 TB
    * deployment adds on top. */
  private[sources] def versionFile(commit: Long): String = s"_MANIFEST-v$commit.json"

  /** Per-column numeric range recorded at write time. `kind` is 'l'
    * (long/int) or 'd' (double); min/max are the type's `toString`
    * (shortest-round-trip for doubles, so decode is bit-exact). */
  private[graft] case class ColRange(kind: Char, min: String, max: String)

  /** Per-file statistics carried in the manifest — the zone-map /
    * file-skipping index (o14) and the size/row statistics (o15), both
    * collected DURING the write (no extra pass): the same footer-stats
    * design parquet uses per row-group and Iceberg per data file. `pk`
    * is the file's single partition-key value when the table is written
    * `partitionBy` a column (o16) — identity-partitioned files carry
    * exactly one key by construction. */
  private[graft] case class FileStat(rows: Long, bytes: Long,
                                       pk: Option[Long],
                                       cols: Map[String, ColRange],
                                       /** Partition keys of the NON-
                                         * leading transforms in a multi
                                         * spec (o46), in spec order —
                                         * empty for single-transform
                                         * layouts, so the r16 format is
                                         * byte-identical there. */
                                       pkRest: Seq[Long] = Nil,
                                       /** Per-column NDV sketches (o50):
                                         * column → base64 compact
                                         * DataSketches HLL, mergeable
                                         * across files — what feeds
                                         * Spark's CBO distinctCount
                                         * ([[CommitScan]] columnStats).
                                         * Recorded by the `ndvColumns`
                                         * write option or the
                                         * [[CommitSink.analyzeNdv]]
                                         * maintenance pass; empty (the
                                         * default) keeps the r17
                                         * encoding byte-identical. */
                                       ndv: Map[String, String] = Map.empty,
                                       /** Per-STRING-column width facts
                                         * (r19): null count, total UTF-8
                                         * bytes, max length — mergeable
                                         * like rows/bytes. Feeds CBO
                                         * `avgLen`/`maxLen`/`nullCount`
                                         * so row-width re-pricing stops
                                         * costing every string at
                                         * defaultSize 20 (which
                                         * mis-sizes broadcast decisions
                                         * on wide-text corpora — the
                                         * `documents` shape). Collected
                                         * unconditionally: one O(1) note
                                         * per string cell. */
                                       wid: Map[String, ColWidth] = Map.empty) {
    /** Every recorded key, leading first ([[pks]].size == spec arity). */
    def pks: Seq[Long] = pk.toSeq ++ pkRest
    def encode: String = {
      val head = s"$rows:$bytes" + pk.map(v => s":pk=$v").getOrElse("") +
        (if (pkRest.nonEmpty) s":pkr=${pkRest.mkString(".")}" else "")
      (head +: (cols.toSeq.sortBy(_._1).map { case (c, r) =>
        s"$c:${r.kind}:${r.min}:${r.max}" } ++
        // 'h' marks an HLL sketch entry (base64 never contains the
        // ':'/';'/'|' separators); column names share the zone-map
        // alphabet rule
        ndv.toSeq.sortBy(_._1).map { case (c, b) => s"$c:h:$b" } ++
        // 'w' marks a width entry; same alphabet rule
        wid.toSeq.sortBy(_._1).map { case (c, w) =>
          s"$c:w:${w.nulls}:${w.sum}:${w.max}" }))
        .mkString(";")
    }
  }

  /** String-column width facts of one file (r19): `nulls` NULL cells,
    * `sum` total UTF-8 bytes over non-null cells, `max` longest cell. */
  private[graft] case class ColWidth(nulls: Long, sum: Long, max: Long)

  private[graft] object FileStat {
    def decode(s: String): FileStat = {
      val segs = s.split(";")
      val head = segs(0).split(":")
      val pk = head.lift(2).filter(_.startsWith("pk=")).map(_.drop(3).toLong)
      val pkRest = head.find(_.startsWith("pkr="))
        .map(_.drop(4).split("\\.").map(_.toLong).toSeq).getOrElse(Nil)
      val entries = segs.iterator.drop(1).map(_.split(":")).toSeq
      val cols = entries.collect {
        case p if p(1) != "h" && p(1) != "w" =>
          p(0) -> ColRange(p(1).charAt(0), p(2), p(3))
      }.toMap
      val ndv = entries.collect {
        case p if p(1) == "h" => p(0) -> p(2)
      }.toMap
      val wid = entries.collect {
        case p if p(1) == "w" =>
          p(0) -> ColWidth(p(2).toLong, p(3).toLong, p(4).toLong)
      }.toMap
      FileStat(head(0).toLong, head(1).toLong, pk, cols, pkRest, ndv, wid)
    }
  }

  /** The table's partition SPEC — the manifest's `partcol` string,
    * parsed. Two transforms (the Iceberg pair this format supports):
    *
    *  - `col` — IDENTITY (o16): one file per key value; `pk` records
    *    the key itself.
    *  - `bucket(N,col)` — BUCKET (o40, [[BucketFunction]]): one file
    *    per bucket id per task; `pk` records the BUCKET id (0..N-1).
    *    The scale-correct layout for high-cardinality keys — the file
    *    count is bounded by N, and two `bucket(N, k)` tables still
    *    join exchange-free through the storage-partitioned join.
    *
    * Everything downstream branches through this one parse: the
    * writer's declared distribution/ordering, the per-row recorded key,
    * the scan's KeyGroupedPartitioning report, evolution validation,
    * and the maintenance rewrites' pre-shaping. */
  private[graft] sealed trait PartSpec {
    /** The real schema column the transform reads. */
    def sourceCol: String
    /** The manifest encoding (also the `partitionBy` option grammar). */
    def encode: String
    /** The recorded per-row partition key, from the column's RAW
      * physical long (int/long value; micros for timestamps; days for
      * dates — `dt` disambiguates the time encodings). */
    def keyOf(raw: Long, dt: DataType): Long
    /** Legal source column types (validated at create/evolve/write). */
    def sourceOk(dt: DataType): Boolean =
      dt == LongType || dt == IntegerType
    def sourceRule: String = "BIGINT or INT"
  }
  private[graft] final case class IdentitySpec(sourceCol: String) extends PartSpec {
    def encode: String = sourceCol
    def keyOf(raw: Long, dt: DataType): Long = raw
  }
  private[graft] final case class BucketSpec(n: Int, sourceCol: String) extends PartSpec {
    def encode: String = s"bucket($n,$sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long = BucketFunction.bucketId(n, raw).toLong
  }
  /** Iceberg's width truncation: key = floor(v / w) · w — files hold
    * CONTIGUOUS value bands, so zone maps keep doing the range/point
    * pruning (unlike bucket, the transform preserves order). */
  private[graft] final case class TruncateSpec(w: Long, sourceCol: String) extends PartSpec {
    def encode: String = s"truncate($w,$sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long = Math.floorDiv(raw, w) * w
  }
  /** Iceberg's days transform: key = epoch day of a DATE/TIMESTAMP
    * column — the time-series layout (one key per day, files contiguous
    * in time, a date-range scan plans day groups). */
  private[graft] final case class DaysSpec(sourceCol: String) extends PartSpec {
    def encode: String = s"days($sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long = dt match {
      case DateType => raw // already epoch days
      case _ => Math.floorDiv(raw, 86400000000L) // micros → epoch days
    }
    override def sourceOk(dt: DataType): Boolean =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    override def sourceRule: String = "DATE or TIMESTAMP"
  }
  /** Iceberg's months transform (o45): key = months since 1970-01
    * (`(year-1970)*12 + month-1` — the spec's ordinal, so hash parity
    * with Iceberg's partition values holds). Monotone, like days. */
  private[graft] final case class MonthsSpec(sourceCol: String) extends PartSpec {
    def encode: String = s"months($sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long = {
      val epochDay = dt match {
        case DateType => raw
        case _ => Math.floorDiv(raw, 86400000000L)
      }
      val d = java.time.LocalDate.ofEpochDay(epochDay)
      (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
    }
    override def sourceOk(dt: DataType): Boolean =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    override def sourceRule: String = "DATE or TIMESTAMP"
  }
  /** Iceberg's hours transform (o51, r18 — the last member of the
    * temporal family): key = hours since epoch, `floorDiv(micros, 3600s)`.
    * Monotone like days, so predicate projection and the ordered write
    * distribution come for free; TIMESTAMP-only (an hour of a DATE is
    * meaningless — Iceberg's rule too). The high-frequency-ingest
    * layout: a day of events is 24 keys instead of one, so a
    * minutes-wide dashboard scan plans one file instead of a day's. */
  private[graft] final case class HoursSpec(sourceCol: String) extends PartSpec {
    def encode: String = s"hours($sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long =
      Math.floorDiv(raw, 3600000000L) // micros → epoch hours
    override def sourceOk(dt: DataType): Boolean =
      dt == TimestampType || dt == TimestampNTZType
    override def sourceRule: String = "TIMESTAMP"
  }
  /** Iceberg's years transform (o45): key = years since 1970. */
  private[graft] final case class YearsSpec(sourceCol: String) extends PartSpec {
    def encode: String = s"years($sourceCol)"
    def keyOf(raw: Long, dt: DataType): Long = {
      val epochDay = dt match {
        case DateType => raw
        case _ => Math.floorDiv(raw, 86400000000L)
      }
      (java.time.LocalDate.ofEpochDay(epochDay).getYear - 1970).toLong
    }
    override def sourceOk(dt: DataType): Boolean =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    override def sourceRule: String = "DATE or TIMESTAMP"
  }
  private[graft] object PartSpec {
    private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)""".r
    private val TruncRe = """truncate\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)""".r
    private val DaysRe = """days\(\s*([A-Za-z0-9_]+)\s*\)""".r
    private val HoursRe = """hours\(\s*([A-Za-z0-9_]+)\s*\)""".r
    private val MonthsRe = """months\(\s*([A-Za-z0-9_]+)\s*\)""".r
    private val YearsRe = """years\(\s*([A-Za-z0-9_]+)\s*\)""".r
    def parse(s: String): PartSpec = s.trim match {
      case BucketRe(n, c) =>
        require(n.toLong >= 1 && n.toLong <= 1000000,
          s"graft-commit: bucket(n, col) needs 1 <= n <= 1e6, got $n")
        BucketSpec(n.toInt, c)
      case TruncRe(w, c) =>
        require(w.toLong >= 1,
          s"graft-commit: truncate(w, col) needs w >= 1, got $w")
        TruncateSpec(w.toLong, c)
      case DaysRe(c) => DaysSpec(c)
      case HoursRe(c) => HoursSpec(c)
      case MonthsRe(c) => MonthsSpec(c)
      case YearsRe(c) => YearsSpec(c)
      case c =>
        require(c.matches("[A-Za-z0-9_]+"),
          s"graft-commit: partition spec '$c' is neither a plain column " +
            "name nor bucket(n, col) / truncate(w, col) / days(col) / " +
            "hours(col) / months(col) / years(col)")
        IdentitySpec(c)
    }

    /** MULTI-transform spec (o46): comma-separated single transforms,
      * e.g. `days(ts),bucket(8,user_id)` — the standard time × key
      * fact-table layout. Top-level commas split components (commas
      * inside `bucket(8,k)` parens don't); components must name
      * DISTINCT source columns (one column under two transforms would
      * make the per-dimension predicate projection ambiguous). */
    def parseSpecs(s: String): Seq[PartSpec] = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1; cur.append('(')
        case ')' => depth -= 1; cur.append(')')
        case ',' if depth == 0 => parts += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      parts += cur.toString
      val specs = parts.toSeq.map(_.trim).filter(_.nonEmpty).map(parse)
      require(specs.nonEmpty, s"graft-commit: empty partition spec '$s'")
      require(specs.map(_.sourceCol).distinct.size == specs.size,
        s"graft-commit: multi-transform spec '$s' names a source column twice")
      specs
    }

    /** Canonical encoding of a (possibly multi) spec string. */
    def encodeSpecs(s: String): String =
      parseSpecs(s).map(_.encode).mkString(",")

    /** The same transform reading a RENAMED source column (r19) — the
      * partition-spec rewrite that makes RENAME of a spec source a
      * legal metadata commit (Iceberg's behavior: specs reference
      * field ids, so a rename never invalidates them; here the rename
      * commit rewrites the reference in the same swap). Transform
      * PARAMETERS (bucket count, truncate width) and every recorded
      * per-file key are computed VALUES — only the name changes. */
    def withSource(sp: PartSpec, c: String): PartSpec = sp match {
      case IdentitySpec(_) => IdentitySpec(c)
      case BucketSpec(n, _) => BucketSpec(n, c)
      case TruncateSpec(w, _) => TruncateSpec(w, c)
      case DaysSpec(_) => DaysSpec(c)
      case HoursSpec(_) => HoursSpec(c)
      case MonthsSpec(_) => MonthsSpec(c)
      case YearsSpec(_) => YearsSpec(c)
    }
  }

  /** Synthetic column name carrying a GROUP manifest's partition-key
    * range in its summary stat (o45): `min(pk)..max(pk)` over the
    * group's files, recorded only when every file has a key. What lets
    * a temporal/range predicate prune whole group manifests by KEY
    * PROJECTION alone — no zone-map column needed in the summary. */
  private[graft] val GROUP_PK = "_graft_pk"

  /** o45: PREDICATE PROJECTION onto the partition spec — translate a
    * pushed filter on the transform's SOURCE column into a conservative
    * closed key interval `[lo, hi]` (Iceberg's Projections.inclusive).
    * Monotone transforms (identity / truncate / days / months / years)
    * project point AND range shapes: `keyOf` is non-decreasing, so
    * `v > x ⇒ key(v) >= key(x)` and `v < x ⇒ key(v) <= key(x)`. Bucket
    * projects equality/IN only — as the id interval here (conservative;
    * [[CommitScan]] keeps its exact per-value test), never ranges (the
    * hash destroys order). None = no projection: the filter never
    * prunes on the key, the residual evaluation still applies it. */
  private[graft] def keyIntervalOf(spec: PartSpec,
      flt: org.apache.spark.sql.sources.Filter): Option[(Long, Long)] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    def raw(v: Any): Option[(Long, DataType)] = v match {
      case l: Long => Some((l, LongType))
      case i: Int => Some((i.toLong, IntegerType))
      case s: Short => Some((s.toLong, IntegerType))
      case b: Byte => Some((b.toLong, IntegerType))
      case d: java.sql.Date => Some((d.toLocalDate.toEpochDay, DateType))
      case d: java.time.LocalDate => Some((d.toEpochDay, DateType))
      case t: java.sql.Timestamp =>
        Some((DateTimeUtils.fromJavaTimestamp(t), TimestampType))
      case i: java.time.Instant =>
        Some((DateTimeUtils.instantToMicros(i), TimestampType))
      case l: java.time.LocalDateTime =>
        Some((DateTimeUtils.localDateTimeToMicros(l), TimestampNTZType))
      case _ => None
    }
    def key(v: Any): Option[Long] = raw(v).map { case (r, dt) => spec.keyOf(r, dt) }
    val monotone = spec match {
      case _: BucketSpec => false
      case _ => true
    }
    flt match {
      case EqualTo(c, v) if c == spec.sourceCol => key(v).map(k => (k, k))
      case In(c, vs) if c == spec.sourceCol && vs.nonEmpty =>
        val ks = vs.toSeq.map(key)
        if (ks.exists(_.isEmpty)) None
        else Some((ks.flatten.min, ks.flatten.max))
      case GreaterThan(c, v) if monotone && c == spec.sourceCol =>
        key(v).map(k => (k, Long.MaxValue))
      case GreaterThanOrEqual(c, v) if monotone && c == spec.sourceCol =>
        key(v).map(k => (k, Long.MaxValue))
      case LessThan(c, v) if monotone && c == spec.sourceCol =>
        key(v).map(k => (Long.MinValue, k))
      case LessThanOrEqual(c, v) if monotone && c == spec.sourceCol =>
        key(v).map(k => (Long.MinValue, k))
      case And(a, b) =>
        (keyIntervalOf(spec, a), keyIntervalOf(spec, b)) match {
          case (Some((l1, h1)), Some((l2, h2))) =>
            Some((math.max(l1, l2), math.min(h1, h2)))
          case (x, None) => x
          case (None, y) => y
        }
      case _ => None
    }
  }

  /** Name of the `_file` metadata column (o21). */
  private[graft] val FILE_COL = "_file"

  /** Name of the `_pos` metadata column (o27): a row's PHYSICAL position
    * within its committed data file (0-based, in the file's parquet row
    * order), stable across reads because the payload reader emits rows
    * sequentially. The position
    * is what merge-on-read DELETE records: (file, pos) identifies a row
    * without touching its data (Iceberg's position-delete / Delta's
    * deletion-vector row id). Stamped BEFORE deletion vectors are
    * applied — a surviving row keeps its physical position, so a later
    * delete's positions compose with the earlier vector by union. */
  private[graft] val POS_COL = "_pos"

  /** One deletion vector: the DV file (manifest-relative, `part-dv-*` so
    * the GC listers see it) holding the sorted deleted positions of one
    * data file, plus the position count (for stats arithmetic without
    * opening the vector). */
  private[graft] case class DvEntry(dv: String, ndel: Long)

  /** One EQUALITY-DELETE file (o32) — Iceberg v2's second delete form:
    * a parquet-payload file of `nkeys` DISTINCT key tuples over columns
    * `cols` (';'-joined data-column names; their types come from the
    * table DDL). It deletes every row of any data file whose recorded
    * sequence is strictly BELOW `seq` whose key tuple appears in the
    * file — which is what lets a streaming upsert commit "replace these
    * keys" with ZERO reads: the new rows land at seq == the delete's
    * seq, so they are exempt by the strict inequality, while every
    * older file is covered. Position deletes (DvEntry) name rows the
    * writer had to FIND; equality deletes name rows by VALUE and defer
    * the finding to readers (or to [[convertEqDeletes]], the
    * maintenance op that turns them into vectors). */
  private[graft] case class EqDelete(file: String, seq: Long,
                                     nkeys: Long, cols: String) {
    def colNames: Seq[String] = cols.split(";").toSeq
  }

  /** One SCHEMA-EVOLUTION ledger entry (r18) — the manifest's record of
    * a metadata-only DROP or RENAME at commit `seq`. The ledger is what
    * keeps by-name projection honest across evolution, the graft analog
    * of Iceberg's field ids:
    *
    *  - [[RenameEvt]]: files committed BEFORE the rename (fileSeq <
    *    seq) physically carry the OLD name — every reader maps the
    *    current name back through the ledger per file
    *    ([[physNamesFor]]), so a rename is one manifest commit and
    *    zero byte rewrites.
    *  - [[DropEvt]]: files committed before the drop still carry the
    *    column's VALUES; ALTER ADD COLUMN refuses to reuse the name
    *    while any such file is listed (r17 ADVICE: a by-name re-add
    *    would silently resurrect the old values — Iceberg reads NULL
    *    there because a re-add mints a fresh field id).
    *
    * Entries RETIRE centrally in [[writeManifest]] (like equality
    * deletes) once no listed file predates them — a fully-rewritten or
    * truncated table carries no ledger. Version manifests are
    * immutable, so time travel sees each version's own ledger. */
  private[graft] sealed trait SchemaEvt {
    def seq: Long
    def encode: String
  }
  private[graft] case class DropEvt(name: String, seq: Long) extends SchemaEvt {
    def encode: String = s"drop|$name|$seq"
  }
  private[graft] case class RenameEvt(oldName: String, newName: String,
                                      seq: Long) extends SchemaEvt {
    def encode: String = s"rename|$oldName|$newName|$seq"
  }
  private[graft] object SchemaEvt {
    def decode(s: String): SchemaEvt = s.split("\\|") match {
      case Array("drop", n, q) => DropEvt(n, q.toLong)
      case Array("rename", o, n, q) => RenameEvt(o, n, q.toLong)
      case _ => sys.error(s"graft-commit: bad schemalog entry '$s'")
    }
  }

  /** The per-file name mapping a rename ledger implies: current name →
    * PHYSICAL (in-file) name for a file added at `fileSeq`. Renames
    * strictly newer than the file are walked newest-first — a chain
    * a→b→c maps current c back to a for a file that predates both.
    * Names untouched by the ledger map to themselves (identity — the
    * overwhelmingly common case returns an empty map). */
  private[graft] def physNamesFor(log: Seq[SchemaEvt], fileSeq: Long,
                                  current: Seq[String]): Map[String, String] = {
    val renames = log.collect {
      case r: RenameEvt if r.seq > fileSeq => r
    }.sortBy(-_.seq)
    if (renames.isEmpty) Map.empty
    else current.flatMap { c =>
      var n = c
      renames.foreach(r => if (r.newName == n) n = r.oldName)
      if (n == c) None else Some(c -> n)
    }.toMap
  }

  // --- CHANGE DATA FEED (o29) ------------------------------------------
  // `option("readChangeFeed", true)`: rows + Delta's CDF columns. What
  // makes it possible here is the deletion-vector representation — a
  // vector commit's delta IS expressible as rows (the newly-deleted
  // positions of an unchanged file), so the changelog's "rows removed"
  // refusal becomes real CDC output: inserts from added files, deletes
  // from vector diffs, per commit. Merge-on-read updates surface as
  // delete+insert pairs (their physical representation — the Iceberg
  // CDC position). Rewrites (compaction/COW DML/truncate) stay
  // inexpressible and refuse, exactly like the plain changelog.
  private[graft] val CHANGE_TYPE_COL = "_change_type"
  private[graft] val COMMIT_VERSION_COL = "_commit_version"

  private[graft] def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Array(
      StructField(CHANGE_TYPE_COL, StringType, nullable = false),
      StructField(COMMIT_VERSION_COL, LongType, nullable = false)))

  /** Per-commit change partitions for the range (fromExclusive, to] —
    * shared by the batch CDF scan and the streaming CDF source. Every
    * commit in the range must still have its version manifest (per-
    * commit attribution needs per-commit diffs; an expired intermediate
    * version is the documented retention error). A pair that REMOVED a
    * file refuses: manifests alone cannot distinguish a rewrite (whose
    * net change is inexpressible) from a full-vector file drop. */
  private[graft] def changePartitions(dir: Path, path: String,
                                      fromExclusive: Long, to: Long,
                                      /** The BINDING manifest: the feed
                                        * decodes with its data schema, and
                                        * its commit + schema ledger feed
                                        * the ledger note below. */
                                      binding: Manifest)
      : Array[InputPartition] = {
    if (to <= fromExclusive) return Array.empty
    val first = if (fromExclusive < 0) 0L else fromExclusive
    val have = listVersions(dir).toSet
    // a `to` beyond the newest commit is a caller error (an endingVersion
    // typo), not a retention problem — name it before the missing-manifest
    // check would mislabel every absent version as 'expired'
    require(have.nonEmpty && to <= have.max,
      s"graft-commit: change feed endingVersion $to of $path does not " +
        s"exist yet (newest commit: ${if (have.isEmpty) -1L else have.max})")
    val missing = (first to to).filterNot(have)
    require(missing.isEmpty,
      s"graft-commit: change feed needs every version in " +
        s"[$first, $to] of $path, but ${missing.mkString(",")} " +
        "expired — per-commit change attribution requires retaining at " +
        "least as many versions as the feed lags (the changelog retention rule)")
    // parse each in-range version ONCE (the loop needs prev/cur pairs,
    // and the rename ledger below needs the whole range up front)
    val manifests: Map[Long, Manifest] =
      ((fromExclusive max -1L) to to).map { v =>
        v -> (if (v < 0) Manifest(-1L, binding.ddl, Seq.empty, Seq.empty)
              else parseManifestVersion(dir, v))
      }.toMap
    def at(v: Long): Manifest = manifests(v max -1L)
    var prev = at(fromExclusive)
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // o48: the UNION of every in-range version's schema ledger — a file
    // emitted for commit v may predate a rename that landed anywhere in
    // the range, and the feed decodes with the BINDING schema's current
    // names; the per-file map bridges both. LinkedHashSet: dedupe while
    // keeping ledger order.
    val ledger = scala.collection.mutable.LinkedHashSet.empty[SchemaEvt]
    manifests.toSeq.sortBy(_._1).foreach { case (_, m) => ledger ++= m.schemaLog }
    // r19 (ADVICE): the feed decodes with the BINDING schema's names, so
    // a rename committed AFTER `to` but at-or-before the binding commit
    // must also be in the ledger — the range union alone misses it, and
    // physNamesFor would return identity, reading the renamed column of
    // every pre-rename file as silent NULL in a bounded historical read.
    // Union the binding manifest's ledger, plus any still-existing
    // intermediate versions in (to, binding): an entry RETIRES from the
    // binding log once no listed file predates it, but the historical
    // in-range files this read opens still do. Renames NEWER than the
    // binding never apply (the binding ddl predates them, so their
    // newName keys cannot match — and must not: a post-binding name
    // reuse would mis-map the binding's own column).
    if (binding.commit > to) {
      val staged = listStaged(dir)
      listVersions(dir)
        .filter(v => v > to && v < binding.commit && v < BRANCH_BASE &&
          !staged.contains(v))
        .foreach { v =>
          // best-effort: an intermediate version expiring mid-plan is
          // not a range-retention violation
          try ledger ++= parseManifestVersion(dir, v).schemaLog
          catch { case _: IllegalArgumentException => () }
        }
    }
    ledger ++= binding.schemaLog
    // the binding DATA schema's column names (the reader appends the two
    // feed columns itself)
    val dataCols = binding.schema.fieldNames.toSeq
    def rnOf(m: Manifest, f: String): Seq[(String, String)] =
      if (ledger.isEmpty) Nil
      else physNamesFor(ledger.toSeq, m.seqOf(f), dataCols).toSeq
    ((fromExclusive + 1) max 0L to to).foreach { v =>
      val cur = at(v)
      val removed = prev.files.toSet -- cur.files.toSet
      // a removed file WITH a tombstone vector entry is a fully-covering
      // MOR delete (o33) — expressible: the data file still exists (the
      // previous version references it; the feed's retention rule keeps
      // that version), and the tombstone names every newly-dead position
      val trulyRemoved = removed.filterNot(cur.deletes.contains)
      require(trulyRemoved.isEmpty,
        s"graft-commit: commit $v of $path removed ${trulyRemoved.size} " +
          "file(s) (truncate/copy-on-write DML/compaction) — a change " +
          "feed can only express appends and deletion-vector commits; " +
          "restart from a fresh checkpoint past the rewrite")
      require(prev.eqDeletes == cur.eqDeletes,
        s"graft-commit: commit $v of $path changed its equality deletes " +
          "(an upsert-by-key write) — the rows such a delete matches are " +
          "unknown without a scan, so the change feed cannot express it; " +
          "convertEqDeletes turns them into expressible vectors")
      def abs(f: String) = Paths.get(path, f).toString
      cur.files.filterNot(prev.files.contains).foreach { f =>
        parts += CommitChangesPartition(abs(f),
          cur.deletes.get(f).map(e => abs(e.dv)).getOrElse(""), "",
          insert = true, commitVersion = v, renames = rnOf(cur, f))
      }
      prev.files.filter(f => prev.deletes.get(f) != cur.deletes.get(f))
        .foreach { f =>
          parts += CommitChangesPartition(abs(f),
            cur.deletes.get(f).map(e => abs(e.dv)).getOrElse(""),
            prev.deletes.get(f).map(e => abs(e.dv)).getOrElse(""),
            insert = false, commitVersion = v, renames = rnOf(prev, f))
        }
      prev = cur
    }
    parts.toArray
  }

  /** CHANGE FEED WITH REWRITE FALLBACK (o33) — closes the feed's last
    * gap: per commit, an expressible pair replays through the ordinary
    * CDF scan (cheap: vectors/appends read only their own diff), while a
    * commit the scan must refuse — a COW DML / compaction / full
    * truncate (files removed) or an upsert (equality delete added) —
    * falls back to a GROUP-GRANULAR SNAPSHOT DIFF: the pre-image of the
    * files the commit touched EXCEPT ALL their post-image is the
    * commit's 'delete' rows, the reverse its 'insert' rows (how Delta
    * replays a non-CDF rewrite). "Touched" is removed ∪ added ∪
    * vector-changed ∪ newly-equality-covered — at 100 TB a one-group COW
    * UPDATE diffs ONE group, never the table. Retention rule unchanged:
    * every version in [startingVersion-1, endingVersion] must still
    * exist. Both views read through [[readManifestFiles]], so vectors
    * and equality deletes are applied exactly as each version saw them. */
  def changeFeedWithRewrites(spark: SparkSession, dir: String,
                             startingVersion: Long,
                             endingVersion: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val d = Paths.get(dir)
    val curM = parseManifest(d).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    val to = endingVersion.getOrElse(curM.commit)
    val from = math.max(startingVersion, 0L)
    // an empty range (a caught-up poller passing lastSeen+1) is a valid
    // no-change answer, not an error — mirror the plain CDF scan, which
    // plans zero partitions for it
    if (from > to)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        cdfSchema(curM.schema))
    val have = listVersions(d).toSet
    require(have.nonEmpty && to <= have.max,
      s"graft-commit: change feed endingVersion $to of $dir does not exist " +
        s"yet (newest commit: ${if (have.isEmpty) -1L else have.max})")
    // the first commit's expressibility/diff reads at(from-1), so the
    // retention rule really covers [from-1, to] — name that version when
    // it is the one that expired instead of failing inside parseManifest
    val needed = (math.max(from - 1, 0L) to to)
    val missing = needed.filterNot(have)
    require(missing.isEmpty,
      s"graft-commit: change feed needs every version in " +
        s"[${needed.head}, $to] of $dir (startingVersion-1 included: the " +
        s"first commit diffs against it), but ${missing.mkString(",")} " +
        "expired (the retention rule)")
    def at(v: Long): Manifest =
      if (v < 0) Manifest(-1L, curM.ddl, Seq.empty, Seq.empty)
      else parseManifestVersion(d, v)
    def isExpressible(v: Long): Boolean = {
      val (prev, cur) = (at(v - 1), at(v))
      val removed = prev.files.toSet -- cur.files.toSet
      removed.forall(cur.deletes.contains) && prev.eqDeletes == cur.eqDeletes
    }
    /** One inexpressible commit's delta as a group-granular snapshot
      * diff: pre-image of exactly the touched files EXCEPT ALL their
      * post-image = 'delete' rows, the reverse = 'insert' rows. */
    def diffOf(v: Long): org.apache.spark.sql.DataFrame = {
      val (prev, cur) = (at(v - 1), at(v))
      require(sameColumns(prev.schema, cur.schema),
        s"graft-commit: commit $v of $dir rewrote the table under a new " +
          "schema — no diff is expressible; restart past it")
      val removed = prev.files.toSet -- cur.files.toSet
      val added = cur.files.filterNot(prev.files.toSet)
      val dvChanged = prev.files.filter(f =>
        cur.files.contains(f) && prev.deletes.get(f) != cur.deletes.get(f))
      val eqCovered = cur.eqDeletes.filterNot(prev.eqDeletes.contains)
        .flatMap(e => prev.files.filter(f => cur.seqOf(f) < e.seq))
      val oldSide = (removed.toSeq ++ dvChanged ++ eqCovered).distinct
      val newSide = (added ++ dvChanged ++ eqCovered).distinct
      val oldView = readManifestFiles(spark, dir,
        prev.copy(files = prev.files.filter(oldSide.contains)))
      val newView = readManifestFiles(spark, dir,
        cur.copy(files = cur.files.filter(newSide.contains)))
      oldView.exceptAll(newView)
        .withColumn(CHANGE_TYPE_COL, lit("delete"))
        .withColumn(COMMIT_VERSION_COL, lit(v))
        .unionByName(newView.exceptAll(oldView)
          .withColumn(CHANGE_TYPE_COL, lit("insert"))
          .withColumn(COMMIT_VERSION_COL, lit(v)))
    }
    // group CONSECUTIVE expressible commits into one ranged CDF scan —
    // the per-commit partitions come out identical (the scan's planner
    // is per-commit anyway), but a 1000-commit history plans a handful
    // of scans instead of a thousand
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    (from to to).foreach { v =>
      val ok = isExpressible(v)
      runs.lastOption match {
        case Some((s, e, true)) if ok && e == v - 1 =>
          runs(runs.length - 1) = (s, v, true)
        case _ => runs += ((v, v, ok))
      }
    }
    val frames = runs.toSeq.flatMap { case (s, e, ok) =>
      if (ok)
        Seq(spark.read.format(NAME).option("path", dir)
          .option("readChangeFeed", true)
          .option("startingVersion", s).option("endingVersion", e).load())
      else (s to e).map(diffOf)
    }
    // allowMissingColumns: an ALTER inside the range widens later
    // commits' rows; earlier ones read the added column as NULL
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // --- deletion-vector file format -------------------------------------
  // DENSITY-ADAPTIVE, chosen per vector at write time (the roaring-
  // bitmap idea — Delta's DV / Iceberg v3 Puffin — reduced to its two
  // extreme containers, which is all a position set over one file's
  // row space needs):
  //   GDV1: magic, count, `count` sorted int64 positions — 8 B/delete,
  //         optimal for the SELECTIVE deletes merge-on-read exists for,
  //         and byte-inspectable.
  //   GDV2: magic, count, word count, then a bitset over [0, maxPos] —
  //         1 BIT/row, taking over exactly when a vector grows dense
  //         (> 1/64 of its file's positions), so a wide DELETE's
  //         vector is bounded by rows/8 bytes instead of deletes*8.
  // The choice is strictly by encoded size; both decode through
  // [[readDv]] to the same sorted position array, so every consumer
  // (readers, merges, diffs, GC) is format-blind.
  private val DV_MAGIC = 0x47445631 // "GDV1"
  private val DV_MAGIC_BITMAP = 0x47445632 // "GDV2"

  private[graft] def writeDv(file: Path, positions: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      CommitSink.io.newOutputStream(file)))
    try {
      // word count as a Long: a position at or above 2^37 would wrap the
      // Int form ((p >>> 6).toInt + 1) into a negative/garbage count and
      // corrupt the bitmap container — unreachable at realistic per-file
      // row counts, but the positional container handles any Long
      // position, so oversized vectors simply fall through to it
      val nWords: Long =
        if (positions.isEmpty) 0L else (positions.last >>> 6) + 1L
      if (positions.nonEmpty && nWords <= Int.MaxValue.toLong &&
          nWords * 8 < positions.length.toLong * 8) {
        out.writeInt(DV_MAGIC_BITMAP)
        out.writeInt(positions.length)
        out.writeInt(nWords.toInt)
        val words = new Array[Long](nWords.toInt)
        positions.foreach(p => words((p >>> 6).toInt) |= 1L << (p & 63))
        words.foreach(out.writeLong)
      } else {
        out.writeInt(DV_MAGIC)
        out.writeInt(positions.length)
        positions.foreach(out.writeLong)
      }
    } finally out.close()
  }

  private[graft] def readDv(file: Path): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      CommitSink.io.newInputStream(file)))
    try in.readInt() match {
      case DV_MAGIC =>
        val n = in.readInt()
        val out = new Array[Long](n)
        var i = 0
        while (i < n) { out(i) = in.readLong(); i += 1 }
        out
      case DV_MAGIC_BITMAP =>
        val n = in.readInt()
        val nWords = in.readInt()
        val out = new Array[Long](n)
        var k = 0
        var w = 0
        while (w < nWords) {
          var bits = in.readLong()
          while (bits != 0L) {
            out(k) = w.toLong * 64 + java.lang.Long.numberOfTrailingZeros(bits)
            k += 1
            bits &= bits - 1
          }
          w += 1
        }
        require(k == n,
          s"graft-commit: corrupt bitmap deletion vector $file ($k of $n positions)")
        out
      case other => sys.error(
        s"graft-commit: $file is not a deletion-vector file (magic $other)")
    } finally in.close()
  }

  /** Read the committed snapshot: ONLY the manifest's file list, with the
    * manifest's schema. A target that has never seen any write (no
    * manifest at all) fails with a clear error; a committed-but-empty
    * target (zero files — e.g. a stream whose every epoch was empty)
    * reads as an empty frame of the manifest's schema. Streaming writes
    * create an empty manifest at factory creation precisely so that a
    * zero-epoch stream's target is readable. */
  def readCommitted(spark: SparkSession, dir: String): DataFrame =
    readManifestFiles(spark, dir, parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir")))

  /** Spark-native read of a manifest's committed files through Spark's
    * vectorized parquet scan. Shared by every
    * driver-side re-read: readCommitted, time travel, compaction, and
    * the metadata-DELETE rewrite. */
  private[graft] def readManifestFiles(spark: SparkSession, dir: String,
                                       m: Manifest): DataFrame = {
    val schema = m.schema
    if (m.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      import spark.implicits._
      import org.apache.spark.sql.functions.{broadcast, col}
      val dvs = m.files.flatMap(f => m.deletes.get(f).map(f -> _))
      val needsMeta = dvs.nonEmpty || m.eqDeletes.nonEmpty
      // helper names must not collide with data columns: withColumn
      // would silently REPLACE (and then drop) a data column named
      // `_graft_src_file`/`_graft_src_pos` — uniquify instead, the same
      // rule the scan applies by withdrawing _file/_pos on collision.
      // Both filters need the native scan's `_metadata` device, which
      // only resolves on the BASE relation — stamp per base read,
      // before any rename projection or join.
      def fresh(b: String): String =
        Iterator.from(0).map(i => if (i == 0) b else s"$b$i")
          .find(n => !schema.fieldNames.contains(n)).get
      val srcFile = fresh("_graft_src_file")
      val srcPos = fresh("_graft_src_pos")
      // o48 renames: files group by their current→physical name map —
      // each group reads under ITS physical schema and projects back to
      // current names (metadata stamped first, on the base relation).
      // No ledger (the common case) = one group with the identity map,
      // exactly the old single read.
      val groups: Seq[(Map[String, String], Seq[String])] =
        if (m.schemaLog.isEmpty) Seq(Map.empty[String, String] -> m.files)
        else m.files.groupBy(f => m.physNames(f, schema.fieldNames.toSeq))
          .toSeq.sortBy(_._2.headOption.getOrElse(""))
      def readGroup(fw: Map[String, String], fs: Seq[String]): DataFrame = {
        val paths = fs.map(f => Paths.get(dir, f).toString)
        val phys = StructType(schema.fields.map(f =>
          fw.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
        val b = spark.read.schema(phys).parquet(paths: _*)
        val stamped =
          if (!needsMeta) b
          else b.withColumn(srcFile, col("_metadata.file_name"))
            .withColumn(srcPos, col("_metadata.row_index"))
        if (fw.isEmpty) stamped
        else stamped.select(schema.fieldNames.toSeq.map(n =>
          col(fw.getOrElse(n, n)).as(n)) ++
          (if (needsMeta) Seq(col(srcFile), col(srcPos)) else Nil): _*)
      }
      val base = groups.map { case (fw, fs) => readGroup(fw, fs) }
        .reduce(_ union _)
      if (!needsMeta) base
      else {
        var out = base
        // merge-on-read vectors (o27): anti-join away the deleted
        // (file, position) pairs. The vectors are read on EXECUTORS (the
        // pair list shipped is file-count-sized, the positions dataset is
        // deleted-row-sized and distributed); Spark's file-name +
        // row-index metadata matches the sink readers' position contract.
        if (dvs.nonEmpty) {
          val pairs = dvs.map { case (f, e) => (f, Paths.get(dir, e.dv).toString) }
          val deleted = spark.createDataset(pairs)
            .flatMap { case (f, dv) => readDv(Paths.get(dv)).map(p => (f, p)) }
            .toDF("_graft_del_file", "_graft_del_pos")
          out = out.join(deleted,
            out(srcFile) === deleted("_graft_del_file") &&
              out(srcPos) === deleted("_graft_del_pos"),
            "left_anti")
        }
        // equality deletes (o32): anti-join each key file's tuples
        // against rows of STRICTLY-OLDER data files — key equality is
        // SQL equality (a NULL key matches nothing), and the sequence
        // comparison scopes every delete to the files it was committed
        // above. Key sets are batch-sized: broadcast.
        if (m.eqDeletes.nonEmpty) {
          val srcSeq = fresh("_graft_src_seq")
          val seqDf = broadcast(
            m.files.map(f => (f, m.seqOf(f))).toDF(srcFile, srcSeq))
          out = out.join(seqDf, srcFile)
          m.eqDeletes.groupBy(_.cols).foreach { case (_, group) =>
            val keyCols = group.head.colNames
            val keySchema = StructType(keyCols.map(c => schema(schema.fieldIndex(c))))
            val delFile = fresh("_graft_eqdel_file")
            val delSeq = fresh("_graft_eqdel_seq")
            // rename key columns BY NAME (the USING join reorders
            // columns, so a positional rename would mislabel them)
            val del = keyCols.foldLeft(
              spark.read.schema(keySchema)
                .parquet(group.map(e => Paths.get(dir, e.file).toString): _*)
                .withColumn(delFile, col("_metadata.file_name"))
                .join(broadcast(group.map(e => (e.file, e.seq)).toDF(delFile, delSeq)),
                  delFile)) {
              (d, c) => d.withColumnRenamed(c, "_graft_k_" + c)
            }
            val cond = keyCols.map(c => out(c) === del("_graft_k_" + c))
              .reduce(_ && _) && del(delSeq) > out(srcSeq)
            out = out.join(broadcast(del), cond, "left_anti")
          }
          out = out.drop(srcSeq)
        }
        out.drop(srcFile, srcPos)
      }
    }
  }

  /** File compaction — the OPTIMIZE command (o19): rewrite the current
    * version's many small files as `numFiles` larger ones, landed as ONE
    * new version under the ordinary truncate write (task-isolated
    * staging, CAS'd manifest swap — readers see the pre- or post-compact
    * table, never both). Values are untouched; the previous version
    * stays time-travel readable until [[expireVersions]]. A partitioned
    * table keeps its layout (the partitionBy write re-clusters, one key
    * per file — numFiles then means "at most one file per key per
    * task"). Small-file compaction is THE steady-state maintenance of a
    * streaming-ingested table: epoch commits land one file per task per
    * trigger, and a day of 1-minute triggers is 1440× too many files. */
  /** Catalyst (codegen'd) form of a transform's keyOf — the pre-shaping
    * device for path-based maintenance on transformed layouts (no
    * FunctionCatalog there). Must agree with [[PartSpec.keyOf]]
    * BIT-EXACTLY, or compact/deleteWhere pre-shaping groups rows on
    * different keys than the writer rolls on and keys scatter across
    * file segments near period boundaries (r17 ADVICE). keyOf floors
    * the stored micros in UTC, so the catalyst form must too:
    *  - TIMESTAMP (LTZ) stores UTC-instant micros — `unix_micros` reads
    *    them back exactly; session-timezone functions (to_date / year /
    *    month) would shift near boundaries under a non-UTC session.
    *    Calendar transforms view the instant through
    *    `convert_timezone('UTC', c)` (LTZ → UTC wall clock, NTZ out).
    *  - TIMESTAMP_NTZ and DATE are timezone-free: wall-clock
    *    year/month/hour and the NTZ→DATE cast are already exact.
    *  - Integer division is exact floorDiv (CASE-adjusted `DIV`, the
    *    Math.floorDiv twin), never `FLOOR(x / w)` — double division
    *    loses exactness past 2^53. */
  private[graft] def keyColOf(spec: PartSpec,
      schema: StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    def dtOf(c: String): DataType =
      schema.fields.find(_.name == c).map(_.dataType).getOrElse(LongType)
    // exact integer floorDiv over a SQL expression producing a long
    def fdiv(x: String, d: Long): String =
      s"CAST((($x) DIV $d) - (CASE WHEN ($x) % $d < 0 THEN 1 ELSE 0 END) AS BIGINT)"
    // tz-free wall-clock view: NTZ/DATE pass through, LTZ converts to
    // its UTC wall clock (what the stored micros mean)
    def wall(c: String): String =
      if (dtOf(c) == TimestampType) s"convert_timezone('UTC', $c)" else c
    def epochDays(c: String): String = dtOf(c) match {
      case DateType => s"datediff($c, DATE'1970-01-01')"
      case TimestampType => fdiv(s"unix_micros($c)", 86400000000L)
      case _ => s"datediff(CAST($c AS DATE), DATE'1970-01-01')" // NTZ: wall date
    }
    spec match {
      case IdentitySpec(c) => col(c)
      case BucketSpec(n, c) => BucketFunction.bucketCol(n, col(c))
      case TruncateSpec(w, c) => expr(s"${fdiv(c, w)} * $w")
      case DaysSpec(c) => expr(epochDays(c))
      case HoursSpec(c) =>
        if (dtOf(c) == TimestampType) expr(fdiv(s"unix_micros($c)", 3600000000L))
        else expr(s"${epochDays(c)} * 24 + hour($c)") // NTZ wall clock
      case MonthsSpec(c) =>
        expr(s"(year(${wall(c)}) - 1970) * 12 + month(${wall(c)}) - 1")
      case YearsSpec(c) => expr(s"year(${wall(c)}) - 1970")
    }
  }

  def compact(spark: SparkSession, dir: String, numFiles: Int): Unit =
      retryMaintenance(s"compact($dir)") {
    // pin ONE manifest: the rows read below and the commit CAS both bind
    // to it, so a commit landing while the compaction job runs hard-fails
    // the swap instead of having its rows silently truncated away —
    // and retryMaintenance re-plans from the NEW manifest (the
    // concurrent writer's files join the next compaction pass)
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    val df = readManifestFiles(spark, dir, m)
    // an identity-partitioned table is NOT pre-repartitioned: the
    // partitionBy write already declares (and plans) its own
    // clustered+sorted shuffle, and one file per key per task is the
    // compacted form of that layout. A BUCKET layout pre-shapes here
    // instead (repartition on the bucket id + contiguous sort, the o39
    // preShaped device): path-based maintenance writes have no
    // FunctionCatalog to resolve the bucket transform through, and the
    // pre-shape is the same shuffle the catalog write would plan.
    val specs = m.partCol.toSeq.flatMap(PartSpec.parseSpecs)
    val shaped = specs match {
      case Seq() => df.repartition(numFiles)
      case Seq(BucketSpec(n, c)) =>
        val b = BucketFunction.bucketCol(n, org.apache.spark.sql.functions.col(c))
        df.repartition(numFiles, b).sortWithinPartitions(b)
      // single identity/truncate/days: the partitionBy write plans its
      // own clustering (monotone transforms keep keys contiguous)
      case Seq(_) => df
      case multi =>
        // MULTI spec (o46): pre-shape the composite shuffle in catalyst
        // form — the path-based rewrite has no FunctionCatalog to
        // resolve the clustered distribution through (the same reason
        // single bucket pre-shapes); hash on all key columns + in-task
        // sort keeps every composite key contiguous for the rolling
        // writer, so the compacted table holds one file per LIVE
        // composite key
        val ks = multi.map(keyColOf(_, m.schema))
        df.repartition(numFiles, ks: _*).sortWithinPartitions(ks: _*)
    }
    val spec = if (specs.size == 1) specs.headOption else None
    // compaction "scans" every pinned file — the rewrite replaces all of
    // them, carrying none, exactly the old truncate shape but CAS'd
    // against the PLANNING commit rather than a commit-time re-read
    val token = registerRewrite(DmlRewrite(m, () => m.files.toSet))
    try {
      val w0 = shaped.write.format(NAME).option("path", dir)
        .option("rewriteToken", token)
      val w = if (spec.exists(_.isInstanceOf[BucketSpec]) || specs.size > 1)
        w0.option("preShaped", "true") else w0
      m.partCol.fold(w)(c => w.option("partitionBy", c)).mode("overwrite").save()
    } finally dropRewrite(token) // no-op on success; reclaims on early failure
  }

  /** Targeted DELETE maintenance — Iceberg's
    * rewrite_position_delete_files / binpack-with-delete-threshold
    * analog, the operational knob between "pay a position skip on
    * every read" and "compact the whole table": rewrite ONLY the files
    * whose deletion vector covers at least `minDeleteRatio` of their
    * physical rows (materializing those deletes — the rewrite's scan
    * applies the vectors, commitRewrite drops them with the replaced
    * files), carrying every other file — vectors included — untouched.
    * Runs under the ordinary group-granular rewrite contract: CAS'd
    * against the planning manifest, old version time-travel readable
    * until expiry. Returns the rewritten file names. At 100 TB this is
    * the steady-state MOR maintenance loop: vectors accumulate from
    * the CDC-upsert stream, and only the files where dead rows
    * actually dominate pay a rewrite. */
  def compactDeletes(spark: SparkSession, dir: String,
                     minDeleteRatio: Double): Seq[String] =
      retryMaintenance(s"compactDeletes($dir)") {
    require(minDeleteRatio > 0 && minDeleteRatio <= 1,
      s"minDeleteRatio must be in (0, 1], got $minDeleteRatio")
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    val rowsOf = m.stats.map { case (f, e) => f -> FileStat.decode(e).rows }
    val picked = m.files.filter { f =>
      m.deletes.get(f).exists(e => rowsOf.get(f)
        .exists(r => r > 0 && e.ndel.toDouble / r >= minDeleteRatio))
    }
    if (picked.isEmpty) return Seq.empty // no vector dense enough: no-op
    val token = registerRewrite(DmlRewrite(m, () => picked.toSet))
    try {
      // the read applies the picked files' vectors, so the rewritten
      // files hold exactly the live rows
      val live = readManifestFiles(spark, dir, m.copy(files = picked))
      // bucket AND multi-transform layouts pre-shape (see compact): no
      // FunctionCatalog on a path-based maintenance write. r17 ADVICE:
      // this used single-spec PartSpec.parse, which THREW on a
      // multi-transform spec string — vector-dense multi layouts could
      // not run their steady-state MOR maintenance at all.
      val specs = m.partCol.toSeq.flatMap(PartSpec.parseSpecs)
      val (shaped, pre) = specs match {
        case Seq(BucketSpec(n, c)) =>
          val b = BucketFunction.bucketCol(n, org.apache.spark.sql.functions.col(c))
          (live.repartition(math.max(1, picked.size), b).sortWithinPartitions(b), true)
        case multi if multi.size > 1 =>
          val ks = multi.map(keyColOf(_, m.schema))
          (live.repartition(math.max(1, picked.size), ks: _*)
            .sortWithinPartitions(ks: _*), true)
        case _ => (live, false)
      }
      val w0 = shaped.write.format(NAME).option("path", dir)
        .option("rewriteToken", token)
      val w = if (pre) w0.option("preShaped", "true") else w0
      m.partCol.fold(w)(c => w.option("partitionBy", c)).mode("overwrite").save()
    } finally dropRewrite(token)
    picked
  }

  /** CLUSTERING rewrite — Iceberg's `rewriteDataFiles` with a sort
    * order / `ALTER TABLE ... WRITE ORDERED BY` (o35), and with
    * `zOrder = true` the multi-dimensional variant (o36, Delta's
    * `OPTIMIZE ... ZORDER BY`): rewrite the selected files so each new
    * file covers a NARROW, pairwise-disjoint slice of the clustering
    * key space, turning the manifest's zone maps from decorative
    * (hash-scattered layout: every file's range spans everything, no
    * range predicate ever prunes) into the second 100× after partition
    * pruning — a selective range scan plans files proportional to
    * selectivity (the o14 contract), and the disjoint layout is also
    * exactly what arms the DML matching-groups subquery (see
    * hasPrunableLayout).
    *
    *  - Lexicographic (`zOrder = false`): range-repartition on `cols`
    *    and sort within files — one clustering shuffle, the sorted-
    *    write shape q68 derives keys for.
    *  - Z-order (`zOrder = true`, 2-4 numeric dims): each dim is
    *    normalized to a 16-bit coordinate by its (min, max) — one agg
    *    pass — and the coordinates' bits INTERLEAVE into a single
    *    LONG z-value the range-repartition clusters on. Every file
    *    then covers a bounded box in EVERY dimension (a 2ᵏ-file
    *    layout halves each dim's per-file span per bit), so
    *    multi-dimensional box predicates prune without favoring the
    *    leading column the way a lexicographic sort does. The z-value
    *    is a static expression tree of shift/and/or — whole-stage
    *    codegen, no UDF — and is DROPPED before the write (a helper
    *    column must not land in the table).
    *
    * `only` targets a subset (Iceberg's file-filter): selected files
    * rewrite, every other file — vectors included — is CARRIED
    * verbatim under the group-granular rewrite contract, CAS'd on the
    * planning manifest. The scan applies the selected files' deletion
    * vectors and equality deletes, so clustering doubles as MOR
    * materialization for exactly the touched files (the compact
    * precedent).
    *
    * On an identity-PARTITIONED table (o39, r15 — Iceberg's
    * `ALTER ... WRITE ORDERED BY` within the partition spec): `cols`
    * are the SECONDARY sort columns, and the rewrite range-partitions
    * on (key, cols) with the write told the shuffle already happened
    * (the `preShaped` internal option) — a large key splits into
    * several files, each one key (SPJ grouping intact) with a TIGHT
    * zone slice of the sort columns, so range scans prune WITHIN a
    * partition. Z-order stays unpartitioned-only. Values are
    * untouched — the old version stays time-travel readable until
    * [[expireVersions]]. Returns the rewritten file names. */
  def compactAndCluster(spark: SparkSession, dir: String, numFiles: Int,
                        cols: Seq[String], zOrder: Boolean = false,
                        only: Option[Set[String]] = None): Seq[String] =
      retryMaintenance(s"compactAndCluster($dir)") {
    import org.apache.spark.sql.functions.{col, floor, greatest, least, lit,
      max, min, shiftleft, shiftright}
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(cols.nonEmpty, "compactAndCluster needs at least one column")
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    require(m.partCol.isEmpty || !zOrder,
      s"graft-commit: z-order within a partitioned layout is " +
        s"not supported; cluster ${m.partCol.get}-partitioned $dir with " +
        "sort columns instead")
    // identity: the key is constant within a file, so sorting on it is a
    // spec error. Bucket/truncate/days: the SOURCE column is a
    // legitimate sort key — a bucket holds many key values in hash
    // order, a band/day holds its whole raw-value range, and ordering
    // by the key within each group is exactly what makes key ranges
    // prunable (pre-r17 this match was Identity/Bucket-only and a
    // truncate/days layout hit a MatchError instead of compacting).
    val clusterSpecs = m.partCol.toSeq.flatMap(PartSpec.parseSpecs)
    clusterSpecs.foreach {
      case IdentitySpec(pc) => require(!cols.contains(pc),
        s"graft-commit: '$pc' is the partition column — every file already " +
          "holds one key; name the SECONDARY sort column(s)")
      case _ => ()
    }
    only.foreach(s => require(s.subsetOf(m.files.toSet),
      s"graft-commit: unknown files selected: ${(s -- m.files).mkString(",")}"))
    val picked = only.fold(m.files)(s => m.files.filter(s)) match {
      case Seq() => return Seq.empty // nothing selected: no-op, no version
      case fs => fs
    }
    val df = readManifestFiles(spark, dir, m.copy(files = picked))
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"graft-commit: clustering column(s) ${missing.mkString(",")} not in " +
        s"table schema [${df.columns.mkString(",")}]")
    val shaped =
      if (clusterSpecs.size > 1) {
        // MULTI-transform SORT-ORDER rewrite (r18, the one o46 refusal
        // left): range-partition on the composite TRANSFORMED keys
        // (keyColOf — the exact catalyst twins of keyOf) followed by the
        // secondary sort columns. Leading on the keys, not the raw
        // sources, is load-bearing: a raw near-unique timestamp as the
        // first range key would interleave the second transform's keys
        // within each task and explode the rolling writer's file count.
        // Each composite key stays contiguous (one key per file — the
        // SPJ grouping survives) and each file covers a tight,
        // per-key-disjoint slice of the sort columns.
        val ks = clusterSpecs.map(keyColOf(_, m.schema))
        val all = ks ++ cols.map(col)
        df.repartitionByRange(numFiles, all: _*).sortWithinPartitions(all: _*)
      } else if (m.partCol.isDefined) {
        // per-partition SORT-ORDER rewrite (o39 — Iceberg's
        // `ALTER ... WRITE ORDERED BY` within the partition spec): range
        // on (key, sortCols) splits a big key into several files, each
        // covering a TIGHT slice of the sort columns, while every key
        // stays contiguous within its task — the rolling writer still
        // lands one key per file, so the SPJ grouping survives and the
        // secondary zone ranges become prunable within each partition.
        // The write is told the shuffle already happened (preShaped).
        // For a bucket layout the leading range/sort key is the BUCKET
        // ID expression (the manifest's partcol is a transform, not a
        // column) — same contiguity guarantee, per bucket id.
        val pcExpr = PartSpec.parse(m.partCol.get) match {
          case IdentitySpec(c) => col(c)
          case BucketSpec(n, c) => BucketFunction.bucketCol(n, col(c))
          // monotone transforms: range/sort on the SOURCE column keeps
          // every transformed key contiguous (and sub-sorted)
          case TruncateSpec(_, c) => col(c)
          case DaysSpec(c) => col(c)
          case HoursSpec(c) => col(c)
          case MonthsSpec(c) => col(c)
          case YearsSpec(c) => col(c)
        }
        df.repartitionByRange(numFiles, pcExpr +: cols.map(col): _*)
          .sortWithinPartitions(pcExpr +: cols.map(col): _*)
      } else if (!zOrder)
        df.repartitionByRange(numFiles, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      else {
        require(cols.size >= 2 && cols.size <= 4,
          s"z-order interleaves 2-4 dimensions, got ${cols.size}")
        // refuse non-numeric dimensions up front (mirroring
        // buildBloomIndex's type check): a string/boolean dimension
        // would otherwise surface as an opaque cast/NPE failure at the
        // bounds aggregation below
        cols.foreach { c =>
          val dt = df.schema(df.schema.fieldIndex(c)).dataType
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"graft-commit: z-order dimension '$c' has non-numeric type " +
              s"${dt.simpleString} — z-values interleave normalized " +
              "numeric coordinates (use the lexicographic mode for " +
              "string/boolean clustering)")
        }
        val k = cols.size
        // bits per dim capped so k*bits stays under the sign bit — a
        // negative z-value would invert the range ordering at k = 4
        val bits = math.min(16, 62 / k)
        val buckets = (1L << bits) - 1
        // one pass for the normalization bounds
        val aggCols = cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
        // an all-NULL dimension has no bounds to normalize — refuse
        // clearly instead of NPE-ing on getDouble
        cols.indices.foreach(i => require(!bounds.isNullAt(2 * i),
          s"graft-commit: z-order dimension '${cols(i)}' is all-NULL — " +
            "no bounds to normalize"))
        // bounds layout: (min, max) pairs in column order
        def coord(i: Int): org.apache.spark.sql.Column = {
          val (mn, mx) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
          val span = mx - mn
          if (span <= 0) lit(0L) // constant column: one bucket
          else least(greatest(
            floor((col(cols(i)).cast("double") - lit(mn)) / lit(span)
              * (buckets + 1).toDouble).cast("long"), lit(0L)), lit(buckets))
        }
        val zv = (0 until bits).flatMap(b => (0 until k).map(d =>
            shiftleft(shiftright(coord(d), b).bitwiseAND(lit(1L)), b * k + d)))
          .reduce(_.bitwiseOR(_))
        // EXACT z-cells, not z-range quantiles: range-partitioning the
        // z-value (or even a snapped bin id) samples its boundaries,
        // and a boundary that slips even one sliver past a z-CELL edge
        // widens the file's zone to the FULL span of the dimension
        // that bit split — min/max zone maps are poisoned by ANY
        // straddle, and bins adjacent in z are NOT adjacent in space
        // (a {(y0,x1),(y1,x0)} merge spans both dims). So the bin id
        // slices z-space linearly into numFiles equal cells — a
        // deterministic expression — and each bin routes to ITS OWN
        // task through hash partitioning on a per-bin PREIMAGE value
        // solved on the driver (pmod(murmur3(v_b), n) == b), giving
        // exactly one z-cell per file with no sampling anywhere. The
        // trade is Delta/Iceberg's: cells are equal Z-VOLUME, not
        // equal rows (skewed data skews file sizes; the lexicographic
        // mode is the equal-rows clustering).
        val cell = math.max(1L, (1L << (bits * k)) / numFiles)
        val preimage: Map[Long, Long] = (0 until numFiles).map { b =>
          var v = 0L
          while ((((org.apache.spark.unsafe.hash.Murmur3_x86_32
              .hashLong(v, 42) % numFiles) + numFiles) % numFiles) != b)
            v += 1
          b.toLong -> v
        }.toMap
        val route = org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.map(preimage.toSeq.sortBy(_._1)
            .flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*),
          // bins past the last cell (rounding) fold into the top file;
          // `div`, not `/`: Column./ is double division and a k=4
          // z-value exceeds the double mantissa
          least(org.apache.spark.sql.functions.expr(
            s"_graft_zvalue div $cell"), lit(numFiles - 1L)))
        val zc = "_graft_zvalue"
        df.withColumn(zc, zv)
          .repartition(numFiles, route)
          .sortWithinPartitions(col(zc))
          .drop(zc) // projection only: the partitioning stays
      }
    val token = registerRewrite(DmlRewrite(m, () => picked.toSet))
    try {
      val w = shaped.write.format(NAME).option("path", dir)
        .option("rewriteToken", token)
      m.partCol.fold(w)(pc =>
          w.option("partitionBy", pc).option("preShaped", "true"))
        .mode("overwrite").save()
    } finally dropRewrite(token)
    picked
  }

  /** PARTITION EVOLUTION (o37) — Iceberg's partition-spec evolution,
    * the metadata half the clustering rewrite composes with: change the
    * table's partition spec — an identity column or, since o40, a
    * `bucket(n,col)` transform ([[PartSpec]]) — or add one to an
    * unpartitioned table, or drop it, WITHOUT touching a single data
    * file. One
    * metadata-only commit: every file, zone range, deletion vector,
    * key file, sequence and epoch carries verbatim; only `partcol`
    * changes, and every carried file's recorded PARTITION KEY is
    * STRIPPED — the old keys are values of the OLD column, and a stale
    * key under the new column would group files WRONGLY (the one
    * correctness hazard of evolution; everything else degrades, this
    * would lie). The degradation contract after the commit:
    *
    *  - reads stay correct on every path (per-file planning; zone maps
    *    never depended on the layout);
    *  - storage-partitioned-join reporting turns OFF — the scan's
    *    KeyGroupedPartitioning requires every surviving file to know
    *    its key, which is now false by construction — and turns back
    *    ON once maintenance migrates the files;
    *  - appends must use the NEW layout (the ordinary layout-mismatch
    *    refusal, now judging against the evolved column), so the table
    *    converges file by file;
    *  - [[compact]] IS the migration op: it rewrites the current
    *    version under the manifest's (new) partition column — one key
    *    per file, keys recorded — restoring SPJ and per-key pruning in
    *    one maintenance pass (exactly Iceberg's rewriteDataFiles-after-
    *    spec-change story);
    *  - time travel keeps each version's own layout (version manifests
    *    are immutable).
    *
    * At 100 TB this is the operational answer to "we partitioned on
    * the wrong key": queries keep running during the (possibly long)
    * migration window instead of a stop-the-world re-land. */
  def evolvePartitioning(spark: SparkSession, dir: String,
                         newCol: Option[String]): Unit = {
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    require(newCol != m.partCol,
      s"graft-commit: table $dir is already partitioned as " +
        s"${m.partCol.fold("(unpartitioned)")(c => s"'$c'")} — evolution " +
        "must change the layout")
    newCol.toSeq.flatMap(PartSpec.parseSpecs).foreach { spec =>
      val c = spec.sourceCol
      val schema = m.schema
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"graft-commit: partition column '$c' is not in the " +
          s"table schema [${schema.fieldNames.mkString(",")}]"))
      require(spec.sourceOk(f.dataType),
        s"graft-commit: partition column '$c' must be ${spec.sourceRule}, " +
          s"got ${f.dataType.simpleString} (the partition key rule)")
    }
    // strip stale partition keys; rows/bytes/ranges carry verbatim
    val stats = m.stats.map { case (f, e) =>
      f -> FileStat.decode(e).copy(pk = None, pkRest = Nil).encode
    }
    writeManifest(Paths.get(dir), m.ddl, m.files, m.commit + 1,
      m.epochs, expectedPrev = m.commit,
      partCol = newCol.map(PartSpec.encodeSpecs),
      stats = stats, tableId = carriedOrFreshTableId(Some(m)),
      deletes = m.deletes,
      fileSeq = m.fileSeq, eqDeletes = m.eqDeletes, blooms = m.blooms,
      schemaLog = m.schemaLog)
  }

  /** BLOOM FILE INDEX (o38) — Delta's bloom-filter-index / Iceberg-
    * parquet-footer-bloom shape as a maintenance op: one distributed
    * pass over the committed files builds a per-(file, column) bloom
    * sidecar, recorded in a METADATA-ONLY commit. The index answers the
    * predicate zone maps structurally cannot: EQUALITY/IN on a
    * hash-scattered, high-cardinality column (every file's [min, max]
    * spans everything, so a point lookup otherwise opens all of them).
    * At 100 TB this is the "find one document id without clustering on
    * it" path: ~KBs of sidecar per file per column, loaded at PLANNING
    * only for files that already survived zone pruning and only when a
    * pushed filter names an indexed column.
    *
    * Contracts: over-approximation only (a false positive costs one
    * file's IO; pruning is advisory because every filter stays
    * residual); blooms are built over PHYSICAL rows (deleted rows
    * included — never a wrong skip); new files appended after the build
    * are un-indexed and never prune (re-run the build to cover them —
    * entries merge per (file, column)); a rewritten file's blooms die
    * with it (writeManifest filters to listed files); sidecars are
    * GC-protected exactly like deletion vectors (manifestRefs). The
    * one scan is Spark's native vectorized parquet read.
    * `expectedItemsPerFile` sizes the sidecars (~ -n·ln(fpp)/ln²2 bits);
    * the fpp degrades gracefully past it, it never breaks. Returns the
    * indexed file names. */
  def buildBloomIndex(spark: SparkSession, dir: String, cols: Seq[String],
                      fpp: Double = 0.01,
                      expectedItemsPerFile: Long = 1000000L): Seq[String] = {
    import org.apache.spark.util.sketch.BloomFilter
    require(cols.nonEmpty, "buildBloomIndex needs at least one column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    require(expectedItemsPerFile >= 1, "expectedItemsPerFile must be >= 1")
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    val schema = m.schema
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"graft-commit: bloom column '$c' is not in the table " +
          s"schema [${schema.fieldNames.mkString(",")}]"))
      val ok = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | StringType => true
        case _ => false // float/double/decimal point-equality: footguns
      }
      require(ok, s"graft-commit: bloom column '$c' has non-indexable " +
        s"type ${f.dataType.simpleString} (integral and string only)")
      // the manifest encodes bloom entries as "file|column|sidecar" —
      // restrict names to the same separator-safe alphabet the zone-map
      // stats recording enforces, so a backticked name containing '|'
      // or '"' can never mis-split on parse
      require(c.matches("[A-Za-z0-9_]+"),
        s"graft-commit: bloom column name '$c' must match [A-Za-z0-9_]+")
    }
    if (m.files.isEmpty) return Seq.empty
    val nFields = cols.size
    val (xfpp, xexp) = (fpp, expectedItemsPerFile)
    // r19: pre-rename files read (and key their sidecars) under their
    // PHYSICAL names — the same per-file grouping as analyzeNdv, and
    // the key [[CommitScan]]'s bloomLookup resolves the current name
    // back to. Without it a post-rename build would read old files'
    // renamed column as all-NULL and record an empty (never-matching)
    // bloom under a name the lookup can find — a useless sidecar at
    // best, and keyed under the CURRENT name it would sit unreachable.
    val bloomGroups: Seq[(Map[String, String], Seq[String])] =
      if (m.schemaLog.isEmpty) Seq(Map.empty[String, String] -> m.files)
      else m.files.groupBy(f => m.physNames(f, schema.fieldNames.toSeq)).toSeq
    val fileFw: Map[String, Map[String, String]] =
      bloomGroups.flatMap { case (fw, fs) => fs.map(_ -> fw) }.toMap
    // one distributed pass, all columns at once: per-file blooms merge
    // associatively, so the shape is a plain aggregateByKey — no
    // collect of row data, only (files × cols) sketches come back
    val built: Map[String, Array[Array[Byte]]] = bloomGroups.map { case (fw, fs) =>
      val read = StructType(cols.map { c =>
        val f = schema(schema.fieldIndex(c))
        fw.get(c).map(n => f.copy(name = n)).getOrElse(f)
      })
      val paths = fs.map(f => Paths.get(dir, f).toString)
      spark.read.schema(read).parquet(paths: _*)
        .select(org.apache.spark.sql.functions.col("_metadata.file_name") +:
          cols.map(c => org.apache.spark.sql.functions.col(fw.getOrElse(c, c))): _*)
        .toDF(("_graft_f" +: cols): _*)
    }.reduce(_ union _)
      .rdd.map(r => r.getString(0) -> r)
      .aggregateByKey(null: Array[BloomFilter])(
        (acc0, r) => {
          val acc = if (acc0 != null) acc0
            else Array.fill(nFields)(BloomFilter.create(xexp, xfpp))
          var i = 0
          while (i < nFields) {
            r.get(i + 1) match {
              case null      => ()
              case l: Long   => acc(i).putLong(l)
              case x: Int    => acc(i).putLong(x.toLong)
              case x: Short  => acc(i).putLong(x.toLong)
              case x: Byte   => acc(i).putLong(x.toLong)
              case s: String => acc(i).putString(s)
              case other => sys.error(s"unexpected bloom value type: $other")
            }
            i += 1
          }
          acc
        },
        (a, b) =>
          if (a == null) b else if (b == null) a
          else { a.indices.foreach(i => a(i).mergeInPlace(b(i))); a })
      .mapValues(_.map { bf =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
      }).collect().toMap
    val commitId = m.commit + 1
    val nonce = java.util.UUID.randomUUID().toString.takeRight(12)
    val promoted = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    try {
      var i = 0
      built.toSeq.sortBy(_._1).foreach { case (f, perCol) =>
        val fw = fileFw.getOrElse(f, Map.empty)
        cols.zip(perCol).foreach { case (c, bytes) =>
          val fin = f"part-bloom-c$commitId%05d-$nonce-$i%05d.bin"
          i += 1
          val out = io.newOutputStream(Paths.get(dir, fin))
          try out.write(bytes) finally out.close()
          // keyed under the file's PHYSICAL column name (r19) — what
          // bloomLookup resolves the current name to per file
          promoted += ((f, fw.getOrElse(c, c), fin))
        }
      }
      // merge per (file, column): a rebuild replaces that pair's entry
      val merged = (m.blooms.toSeq.flatMap { case (f, cm) =>
        cm.toSeq.map { case (c, b) => (f, c, b) }
      } ++ promoted).groupBy(_._1).map { case (f, es) =>
        f -> es.map(e => e._2 -> e._3).toMap
      }
      writeManifest(Paths.get(dir), m.ddl, m.files, commitId,
        m.epochs, expectedPrev = m.commit, partCol = m.partCol,
        stats = m.stats, tableId = carriedOrFreshTableId(Some(m)),
        deletes = m.deletes,
        fileSeq = m.fileSeq, eqDeletes = m.eqDeletes, blooms = merged,
        schemaLog = m.schemaLog)
    } catch { case e: Throwable =>
      // refused CAS / failed write: leave no trace (the rewrite rule)
      promoted.foreach(p => io.deleteIfExists(Paths.get(dir, p._3)))
      throw e
    }
    built.keys.toSeq.sorted
  }

  /** NDV ANALYZE (o50) — the maintenance twin of the `ndvColumns` write
    * option (Iceberg's compute_table_stats / ANALYZE TABLE shape): one
    * DISTRIBUTED pass over the committed files builds a per-(file,
    * column) HLL sketch — grouped by Spark's `_metadata.file_name`, so
    * the pass is a single scan regardless of file count — recorded into
    * the per-file stats by a METADATA-ONLY commit. Sketches are
    * DataSketches HLL (mergeable): [[CommitScan]] unions the SURVIVING
    * files' sketches at planning and reports per-column distinctCount
    * through `SupportsReportStatistics.columnStats`, which is what lets
    * Spark's CBO reorder a multi-table join at 100 TB where size alone
    * misleads (a huge low-cardinality dimension vs a small
    * high-cardinality one). Sketches cover PHYSICAL rows (deleted rows
    * included, like blooms) — an over-approximation a cost model
    * tolerates by construction. New files appended later are
    * un-sketched and suppress the column's report until re-analyzed
    * (never a wrong estimate). Returns the analyzed file names. */
  def analyzeNdv(spark: SparkSession, dir: String, cols: Seq[String],
                 lgK: Int = 12): Seq[String] = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, unix_date, unix_micros}
    require(cols.nonEmpty, "analyzeNdv needs at least one column")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    val schema = m.schema
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"graft-commit: analyzeNdv column '$c' is not in the " +
          s"table schema [${schema.fieldNames.mkString(",")}]"))
      val ok = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             TimestampType | TimestampNTZType | StringType => true
        case _ => false
      }
      require(ok, s"graft-commit: analyzeNdv column '$c' has " +
        s"non-sketchable type ${f.dataType.simpleString}")
      require(c.matches("[A-Za-z0-9_]+"),
        s"graft-commit: analyzeNdv column '$c' must match [A-Za-z0-9_]+")
    }
    // files with recorded stats only (the manifest entry the sketches
    // merge into); renamed old files read under their physical names,
    // grouped like readManifestFiles
    val targets = m.files.filter(m.stats.contains)
    if (targets.isEmpty) return Seq.empty
    val groups: Seq[(Map[String, String], Seq[String])] =
      if (m.schemaLog.isEmpty) Seq(Map.empty[String, String] -> targets)
      else targets.groupBy(f => m.physNames(f, schema.fieldNames.toSeq)).toSeq
    // r19 (ADVICE): hll_sketch_agg accepts INT/BIGINT/STRING/BINARY only,
    // and the write-path sketches feed raw physical longs (micros, epoch
    // days, widened short/byte) — so each column is cast to EXACTLY the
    // value the writer updates with, which both unblocks temporal columns
    // and keeps the two sketch sources mergeable. TimestampNTZ relies on
    // the UTC session below: cast(ntz AS timestamp) under UTC is the
    // identity on the physical micros.
    def sketchInput(logical: String, physical: String)
        : org.apache.spark.sql.Column = {
      val c = col(physical)
      schema.fields.find(_.name == logical).get.dataType match {
        case StringType => c
        case TimestampType => unix_micros(c)
        case TimestampNTZType => unix_micros(c.cast(TimestampType))
        case DateType => unix_date(c).cast(LongType)
        case LongType => c
        case _ => c.cast(LongType) // int/short/byte, widened like the writer
      }
    }
    val utc = graft.Tables.isolated(spark, "spark.sql.session.timeZone" -> "UTC")
    val perGroup = groups.map { case (fw, fs) =>
      val phys = StructType(schema.fields.map(f =>
        fw.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
      val paths = fs.map(f => Paths.get(dir, f).toString)
      utc.read.schema(phys).parquet(paths: _*)
        .groupBy(col("_metadata.file_name").as("_graft_f"))
        .agg(hll_sketch_agg(sketchInput(cols.head, fw.getOrElse(cols.head, cols.head)), lgK)
            .as(cols.head),
          cols.tail.map(c =>
            hll_sketch_agg(sketchInput(c, fw.getOrElse(c, c)), lgK).as(c)): _*)
    }
    // r19: a pre-rename file's sketch must be recorded under its
    // PHYSICAL column name — that is the key the scan's per-file remap
    // ([[CommitScan]] fileStats) resolves the current name back to;
    // keyed by the current name it would silently miss and suppress
    // the column's report
    val fileFw: Map[String, Map[String, String]] =
      groups.flatMap { case (fw, fs) => fs.map(_ -> fw) }.toMap
    // one row per file (file-count-sized; sketches are ≤ KBs each)
    val sketched: Map[String, Seq[(String, String)]] =
      perGroup.reduce(_ union _).collect().map { r =>
        val f = r.getString(0)
        f -> cols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(i + 1)).map(b => c ->
            java.util.Base64.getEncoder.encodeToString(b.asInstanceOf[Array[Byte]]))
        }
      }.toMap
    val merged = m.stats.map { case (f, e) =>
      sketched.get(f).filter(_ => targets.contains(f)) match {
        case Some(entries) =>
          val st = FileStat.decode(e)
          val fw = fileFw.getOrElse(f, Map.empty)
          f -> st.copy(ndv = st.ndv ++ entries.map { case (c, b) =>
            fw.getOrElse(c, c) -> b }).encode
        case None => f -> e
      }
    }
    // metadata-only commit, CAS'd on the manifest the pass planned over
    writeManifest(Paths.get(dir), m.ddl, m.files, m.commit + 1,
      m.epochs, expectedPrev = m.commit, partCol = m.partCol,
      stats = merged, tableId = carriedOrFreshTableId(Some(m)),
      deletes = m.deletes,
      fileSeq = m.fileSeq, eqDeletes = m.eqDeletes, blooms = m.blooms,
      schemaLog = m.schemaLog)
    targets.sorted
  }

  /** Merge-on-read DELETE (o27) — the Iceberg v2 position-delete /
    * Delta deletion-vector write mode, the flip side of the
    * group-granular copy-on-write rewrite: instead of rewriting every
    * file that holds a matching row (one row matched in a 1 GB file =
    * 1 GB rewritten), record the matched rows' (file, position) pairs
    * as per-file DELETION VECTORS and commit a new version whose data
    * files are UNCHANGED. A one-row DELETE on a 100 TB table writes
    * ~20 bytes. The trade is Iceberg's own: reads pay a per-file
    * position skip until compaction (or any rewrite of the file)
    * materializes the deletes — which is exactly what [[compact]]
    * does, since its scan applies the vectors and its rewrite drops
    * them.
    *
    * Mechanics, all existing machinery: the matched positions come
    * from an ordinary DSv2 scan with the `_file`/`_pos` metadata
    * columns (so the pushed condition zone-prunes candidate files, and
    * already-deleted rows are never re-matched); each file's vector is
    * written EXECUTOR-side into the write's private staging dir (the
    * driver sees only file-count-sized names); promotion + a CAS'd
    * manifest swap against the PLANNING commit land the new version
    * atomically (a commit interleaving hard-fails the swap — statement
    * retry, the rewrite position). A vector that comes to cover EVERY
    * row of its file drops the file from the manifest outright.
    * Vectors compose: a second delete unions with the first file's
    * vector (disjoint by construction — the scan applied the old one).
    */
  private[graft] def deleteToVectors(spark: SparkSession, path: String,
                                       planning: Manifest,
                                       cond: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, collect_list, lit, sort_array}
    import spark.implicits._
    val dir = Paths.get(path)
    val nonce = writeNonce()
    val staging = stagingDir(dir, nonce)
    CommitSink.io.createDirectories(staging)
    try {
      // the DSv2 scan: applies existing vectors, stamps PHYSICAL
      // positions, zone-prunes the pushed condition. PINNED to the
      // planning manifest via its immutable version file — the scan and
      // the commit CAS below provably bind to one snapshot (an unpinned
      // read here could scan a concurrently-swapped manifest, and the
      // CAS failure would then be the only thing standing between a
      // stale caller and mismatched positions)
      val matched = spark.read.format(NAME).option("path", path)
        .option("versionAsOf", planning.commit).load()
        .filter(coalesce(cond, lit(false))) // DELETE: NULL keeps the row
        .select(col(FILE_COL).as("f"), col(POS_COL).as("p"))
      commitPositionsAsVectors(spark, path, planning, matched,
        nonce, staging, dropEq = false)
    } finally sweepStaging(dir, nonce)
  }

  /** Stage per-file merged deletion vectors for `matched` (f, p) rows and
    * land them as ONE CAS'd commit — shared by [[deleteToVectors]] (cond
    * scan: positions disjoint from existing vectors by construction) and
    * [[convertEqDeletes]] (native scan: positions may duplicate existing
    * vector entries, hence the distinct merge). `dropEq = true` retires
    * every equality delete in the new manifest — the positions now carry
    * them. Returns the files that received (new or merged) vectors. */
  private def commitPositionsAsVectors(spark: SparkSession, path: String,
                                       planning: Manifest,
                                       matched: org.apache.spark.sql.DataFrame,
                                       nonce: String, staging: Path,
                                       dropEq: Boolean): Seq[String] = {
    import org.apache.spark.sql.functions.{collect_list, sort_array}
    import spark.implicits._
    val dir = Paths.get(path)
    val oldDvs: Map[String, String] =
      planning.deletes.map { case (f, e) => f -> Paths.get(path, e.dv).toString }
    val stagingStr = staging.toString
    val staged: Map[String, (String, Long)] = matched
      .groupBy($"f").agg(sort_array(collect_list($"p")).as("ps"))
      .as[(String, Seq[Long])]
      .mapPartitions { it =>
        it.map { case (f, ps) =>
          val old = oldDvs.get(f).map(p => readDv(Paths.get(p)))
            .getOrElse(Array.empty[Long])
          val merged = (old ++ ps).distinct.sorted
          val name = s"dv-$f"
          writeDv(Paths.get(stagingStr, name), merged)
          (f, name, merged.length.toLong)
        }
      }.collect().map { case (f, n, c) => f -> (n, c) }.toMap
    if (staged.isEmpty && !dropEq) return Seq.empty // nothing matched: no new version
    val commitId = planning.commit + 1
    val rowsOf = planning.stats.map { case (f, e) => f -> FileStat.decode(e).rows }
    // a file whose vector covers every physical row is DROPPED from the
    // manifest (the classic point: MOR must not keep reading a file
    // that contributes nothing); its bytes stay for older versions
    val dead = staged.collect {
      case (f, (_, n)) if rowsOf.get(f).contains(n) => f
    }.toSet
    val files = planning.files.filterNot(dead)
    val promoted = scala.collection.mutable.ArrayBuffer.empty[(String, DvEntry)]
    try {
      // dead (fully-covered) files' vectors promote too: they become the
      // commit's TOMBSTONES (o33) — the change feed reads them against
      // the previous version's data file
      staged.toSeq.sortBy(_._1).zipWithIndex
        .foreach { case ((f, (name, n)), i) =>
          val fin = f"part-dv-c$commitId%05d-$nonce-$i%05d.bin"
          CommitSink.io.promote(staging.resolve(name), dir.resolve(fin))
          promoted += (f -> DvEntry(fin, n))
        }
      // a dead (fully-covered) file's vector lands as a TOMBSTONE: the
      // file leaves the list, the vector entry stays so the change feed
      // can emit the drop as delete rows (o33) — it dies at the next
      // commit, which never carries it
      val dvMap = (planning.deletes ++ promoted).toMap
      writeManifest(dir, planning.ddl, files, commitId,
        planning.epochs, // content lineage continues: the ledger carries
        expectedPrev = planning.commit,
        partCol = planning.partCol,
        stats = planning.stats.view.filterKeys(files.toSet).toMap,
        tableId = carriedOrFreshTableId(Some(planning)),
        deletes = dvMap.view.filterKeys(files.toSet).toMap,
        fileSeq = planning.fileSeq,
        eqDeletes = if (dropEq) Seq.empty else planning.eqDeletes,
        tombstones = dvMap.view.filterKeys(dead).toMap,
        blooms = planning.blooms, // writeManifest drops dead files' entries
        schemaLog = planning.schemaLog)
      staged.keys.toSeq.sorted
    } catch { case e: Throwable =>
      // refused CAS / failed promote: leave no trace (the rewrite rule)
      promoted.foreach(p => CommitSink.io.deleteIfExists(dir.resolve(p._2.dv)))
      throw e
    }
  }

  /** EQUALITY→POSITION conversion — the o32 maintenance op (Iceberg's
    * convert-equality-deletes rewrite): scan ONLY the files some key
    * file still covers, locate the matching rows ONCE, record them as
    * ordinary deletion vectors, and retire every key file — restoring
    * everything equality deletes suspend (metadata-only COUNT, the
    * change feed, per-read key probes). The scan is Spark's native
    * vectorized parquet read with `_metadata` row indexes (NOT the DSv2
    * scan, which would apply the very deletes being converted), reading
    * ONLY the key columns. Returns the files that actually received
    * positions (a covered file where no key matched is scanned but not
    * returned). */
  def convertEqDeletes(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val m = parseManifest(Paths.get(dir)).getOrElse(
      sys.error(s"graft-commit: no committed manifest at $dir"))
    if (m.eqDeletes.isEmpty) return Seq.empty
    val schema = m.schema
    val affected = m.files.filter(f => m.eqDeletes.exists(_.seq > m.seqOf(f)))
    val seqDf = broadcast(affected.map(f => (f, m.seqOf(f)))
      .toDF("_graft_src_file", "_graft_src_seq"))
    val matched = m.eqDeletes.groupBy(_.cols).map { case (_, group) =>
      val keyCols = group.head.colNames
      val keySchema = StructType(keyCols.map(c => schema(schema.fieldIndex(c))))
      // rename key columns BY NAME — the USING join reorders columns
      val del = keyCols.foldLeft(
        spark.read.schema(keySchema)
          .parquet(group.map(e => Paths.get(dir, e.file).toString): _*)
          .withColumn("_graft_del_file", col("_metadata.file_name"))
          .join(broadcast(group.map(e => (e.file, e.seq))
            .toDF("_graft_del_file", "_graft_del_seq")), "_graft_del_file")) {
        (d, c) => d.withColumnRenamed(c, "_graft_k_" + c)
      }
      // helper names are reserved (_graft_ prefix, key names are plain
      // [A-Za-z0-9_]+ data columns — but "f"/"p" ARE legal key names, so
      // the stamps use _graft_ names and alias to (f, p) only at the end)
      val data = spark.read.schema(keySchema)
        .parquet(affected.map(f => Paths.get(dir, f).toString): _*)
        .withColumn("_graft_src_file", col("_metadata.file_name"))
        .withColumn("_graft_src_pos", col("_metadata.row_index"))
        .join(seqDf, "_graft_src_file")
      data.join(broadcast(del),
          keyCols.map(c => data(c) === del("_graft_k_" + c)).reduce(_ && _) &&
            del("_graft_del_seq") > data("_graft_src_seq"),
          "left_semi")
        .select($"_graft_src_file".as("f"), $"_graft_src_pos".as("p"))
    }.reduce(_ unionByName _).distinct()
    val nonce = writeNonce()
    val staging = stagingDir(Paths.get(dir), nonce)
    CommitSink.io.createDirectories(staging)
    try commitPositionsAsVectors(spark, dir, m, matched, nonce, staging,
      dropEq = true)
    finally sweepStaging(Paths.get(dir), nonce)
  }

  /** Snapshot expiry — the VACUUM command (o19), the GC half of time
    * travel: drop every version manifest except the newest `keepLast`,
    * then delete the data files ONLY those dropped versions referenced
    * (and no retained version still does). Files referenced by NO
    * manifest at all are deliberately NOT touched: since appends became
    * concurrent, such a file may be another writer's
    * promoted-but-not-yet-committed output — deleting it would corrupt
    * that writer's CAS-retry. Never-referenced leftovers (crashed
    * writers) are [[removeOrphanFiles]]' job, behind a
    * modification-time grace window — exactly Iceberg's
    * expireSnapshots / removeOrphanFiles split. Returns (expired
    * versions, deleted data files). */
  def expireVersions(dir: String, keepLast: Int): (Seq[Long], Seq[String]) =
    expireCore(dir, keepLast, keepByAge = _ => false)

  /** AGE-based snapshot expiry (r18, composing the o49 commit clock
    * with GC — Iceberg's `expire_snapshots(older_than)`): drop main
    * versions whose recorded commit wall time (`committs`) is strictly
    * BEFORE `olderThanMillis`, keeping at least `keepLast` newest main
    * versions regardless — and, as always, the current version, tagged
    * versions, branch heads and open stages (the retention roots).
    * Pre-o49 versions record no commit time and count as old (they
    * predate the clock by construction). This is the operational
    * retention policy a 100 TB deployment actually states ("keep 7
    * days"), where a count says nothing about time under a bursty
    * commit rate. */
  def expireVersionsOlderThan(dir: String, olderThanMillis: Long,
                              keepLast: Int = 1): (Seq[Long], Seq[String]) = {
    val d = Paths.get(dir)
    expireCore(dir, keepLast, keepByAge = v => {
      val txt = io.readString(d.resolve(versionFile(v)))
      "\"committs\":(-?[0-9]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(-1L) >= olderThanMillis
    })
  }

  private def expireCore(dir: String, keepLast: Int,
                         keepByAge: Long => Boolean): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "expiry must keep at least the current version")
    val d = Paths.get(dir)
    val versions = listVersions(d)
    if (versions.isEmpty) return (Seq.empty, Seq.empty) // nothing to expire
    val current = currentCommit(d)
    // never expire the current version, whatever keepLast says (guarded
    // on existence: a pre-versioning current manifest has no version
    // file, but its files are still protected via the union below) —
    // nor any TAGGED version (o41: tags are retention roots, Iceberg's
    // ref-aware expiry), nor a BRANCH HEAD (o44: a branch is a live
    // writable lineage — its head must stay readable until the branch
    // is published or dropped), nor an OPEN STAGE (o41: the audit copy)
    val refRoots = listTags(d).values.toSet ++
      listBranches(d).values.map(_._1) ++ listStaged(d)
    // keepLast counts MAIN history: branch versions (the high range) are
    // protected only while a ref points at them — a pile of abandoned
    // branch versions must not shield main's tail from expiry
    val mainVersions = versions.filter(_ < BRANCH_BASE)
    val keep = (mainVersions.takeRight(keepLast) ++ versions.filter(_ == current)
      ++ versions.filter(refRoots.contains)
      ++ mainVersions.filter(keepByAge)).distinct
    val drop = versions.filterNot(keep.contains)
    val live: Set[String] =
      keep.flatMap(v => manifestRefs(parseManifestVersion(d, v))).toSet ++
        parseManifest(d).toSeq.flatMap(manifestRefs)
    // enumerate the dropped versions' files BEFORE deleting their
    // manifests — the manifest is the only record of what they held
    val droppedReferenced =
      drop.flatMap(v => manifestRefs(parseManifestVersion(d, v))).toSet
    drop.foreach(v => CommitSink.io.deleteIfExists(d.resolve(versionFile(v))))
    val removed = droppedReferenced.filterNot(live.contains).toSeq.sorted
    removed.foreach(n => CommitSink.io.deleteIfExists(d.resolve(n)))
    (drop, removed)
  }

  // --- refs + write-audit-publish (o41) --------------------------------

  private val REFS = "_REFS.json"

  /** Named TAGS over the version ledger (Iceberg refs): `name → commit`.
    * A tag is an immutable, human-named pin on a version — and a
    * RETENTION ROOT: [[expireVersions]] never drops a tagged version,
    * however old (Iceberg's ref-aware snapshot expiry). Stored in one
    * `_REFS.json` swapped atomically under the table's commit lock. */
  private[graft] def listTags(dir: Path): Map[String, Long] = {
    val rf = dir.resolve(REFS)
    if (!io.exists(rf)) Map.empty
    else "\"tags\":\\[([^\\]]*)\\]".r.findFirstMatchIn(io.readString(rf))
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val bar = e.lastIndexOf('|')
        e.substring(0, bar) -> e.substring(bar + 1).toLong
      }.toMap
  }

  /** Versions currently STAGED (written, never published): what makes an
    * open stage visible to ordinary writers — an append planning the
    * same commit id must refuse instead of clobbering the audit copy. */
  private[graft] def listStaged(dir: Path): Set[Long] = {
    val rf = dir.resolve(REFS)
    if (!io.exists(rf)) Set.empty
    else "\"staged\":\\[([^\\]]*)\\]".r.findFirstMatchIn(io.readString(rf))
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** Named BRANCHES over the version ledger (o44, Iceberg's writable
    * refs): `name → (head version, base version)`. A branch is a
    * WRITABLE pointer — commits with `option("branch", name)` advance
    * the head (main's `_MANIFEST.json` untouched) — plus a RETENTION
    * ROOT like a tag. `base` is main's commit at creation (or at the
    * last fast-forward publish): the divergence witness — publish
    * fast-forwards main to the head iff main still sits at base. */
  private[graft] def listBranches(dir: Path): Map[String, (Long, Long)] = {
    val rf = dir.resolve(REFS)
    if (!io.exists(rf)) Map.empty
    else "\"branches\":\\[([^\\]]*)\\]".r.findFirstMatchIn(io.readString(rf))
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val p = e.split("\\|")
        p(0) -> (p(1).toLong, p(2).toLong)
      }.toMap
  }

  private def writeRefs(dir: Path, tags: Map[String, Long],
                        staged: Set[Long],
                        branches: Map[String, (Long, Long)]): Unit = {
    val body = s"""{"tags":[${tags.toSeq.sortBy(_._1)
      .map { case (n, v) => s""""$n|$v"""" }.mkString(",")}],""" +
      s""""staged":[${staged.toSeq.sorted.mkString(",")}],""" +
      s""""branches":[${branches.toSeq.sortBy(_._1)
        .map { case (n, (h, b)) => s""""$n|$h|$b"""" }.mkString(",")}]}"""
    val tmp = dir.resolve(REFS + ".tmp")
    io.writeString(tmp, body)
    io.atomicReplace(tmp, dir.resolve(REFS))
  }

  private def writeTags(dir: Path, tags: Map[String, Long]): Unit =
    writeRefs(dir, tags, listStaged(dir), listBranches(dir))

  /** Register/unregister a staged version — callers hold the commit lock. */
  private def setStaged(dir: Path, v: Long, on: Boolean): Unit = {
    val cur = listStaged(dir)
    writeRefs(dir, listTags(dir), if (on) cur + v else cur - v,
      listBranches(dir))
  }

  /** Create branch `name` forking from `fromVersion` (which must exist;
    * main's current commit is the usual fork point). The branch head
    * starts at the fork, and `base` records it as the divergence
    * witness for [[publishBranch]]. Names share the tag grammar and
    * must not collide with tags (one `FOR VERSION AS OF`-style
    * namespace, like Iceberg refs). */
  def createBranch(dir: String, name: String, fromVersion: Long): Unit = {
    val d = Paths.get(dir)
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"graft-commit: branch name '$name' must match [A-Za-z0-9_.-]+")
    require(io.exists(d.resolve(versionFile(fromVersion))),
      s"graft-commit: cannot branch from version $fromVersion at $dir — no " +
        s"such version (have: ${listVersions(d).mkString(", ")})")
    lockFor(d).synchronized {
      val branches = listBranches(d)
      require(!branches.contains(name) && !listTags(d).contains(name),
        s"graft-commit: ref '$name' already exists at $dir — branch and " +
          "tag names share one namespace and never silently move")
      writeRefs(d, listTags(d), listStaged(d),
        branches + (name -> (fromVersion, fromVersion)))
    }
  }

  /** The branch's current head version; loud on an unknown name. */
  private[graft] def branchHead(dir: Path, name: String): Long =
    listBranches(dir).getOrElse(name, sys.error(
      s"graft-commit: no branch '$name' at $dir (have: " +
        s"${listBranches(dir).keys.toSeq.sorted.mkString(", ")})"))._1

  /** Advance branch `name` head `from → to` — the branch commit's CAS,
    * called by [[writeManifest]] under the commit lock after the new
    * version file landed. */
  private def advanceBranch(dir: Path, name: String, from: Long, to: Long): Unit = {
    val branches = listBranches(dir)
    val (head, base) = branches.getOrElse(name, sys.error(
      s"graft-commit: no branch '$name' at $dir"))
    if (head != from) throw new ConcurrentCommitException(
      s"graft-commit: concurrent writer on branch '$name' at $dir — head is " +
        s"$head but this writer planned on top of $from")
    writeRefs(dir, listTags(dir), listStaged(dir),
      branches + (name -> (to, base)))
  }

  /** Drop branch `name`: its head stops being a retention root (versions
    * only it pinned become expirable — the data files stay until
    * [[expireVersions]] reclaims them). */
  def dropBranch(dir: String, name: String): Boolean = {
    val d = Paths.get(dir)
    lockFor(d).synchronized {
      val branches = listBranches(d)
      if (!branches.contains(name)) false
      else {
        writeRefs(d, listTags(d), listStaged(d), branches - name)
        true
      }
    }
  }

  /** PUBLISH a branch: re-land the branch head's CONTENT as main's next
    * contiguous commit. Fast-forward ONLY: refuses when main moved past
    * the branch's base — a commit landed on main after the fork, so the
    * branch's content was planned against a stale snapshot and a forced
    * publish would silently drop the concurrent commit's files (the
    * truncate bug in ref clothing). Recovery is re-branching from the
    * new main and replaying, never a force.
    *
    * The publish is a real [[writeManifest]] commit (not a raw swap):
    * main's ledger stays contiguous from 0 — the change feed's
    * per-commit walk and the changelog's `v <= current` admission never
    * meet a high-range branch id — and the branch-landed files' add
    * sequences are rewritten to the PUBLISH commit (they join main's
    * eq-delete ordering here; their branch-range seqs would otherwise
    * sit above every future upsert and never be covered). The branch
    * stays, re-based at the published main commit; its old high-range
    * versions become ordinary expirable history. */
  def publishBranch(dir: String, name: String): Unit = {
    val d = Paths.get(dir)
    lockFor(d).synchronized {
      val branches = listBranches(d)
      val (head, base) = branches.getOrElse(name, sys.error(
        s"graft-commit: no branch '$name' at $dir (have: " +
          s"${branches.keys.toSeq.sorted.mkString(", ")})"))
      val cur = currentCommit(d)
      if (cur != base) throw new ConcurrentCommitException(
        s"graft-commit: cannot fast-forward $dir to branch '$name' (head " +
          s"$head) — main is at $cur but the branch forked from $base; a " +
          "commit landed on main after the fork. Re-branch from the new " +
          "main and replay (a forced publish would drop main's commit)")
      val published =
        if (head == base) head // an unadvanced branch publishes as a no-op
        else {
          val bm = parseManifestVersion(d, head)
          writeManifest(d, bm.ddl, bm.files, cur + 1, bm.epochs,
            expectedPrev = cur, partCol = bm.partCol, stats = bm.stats,
            tableId = bm.tableId, deletes = bm.deletes,
            fileSeq = bm.fileSeq.map { case (f, s) =>
              f -> (if (s >= BRANCH_BASE) cur + 1 else s) },
            eqDeletes = bm.eqDeletes, blooms = bm.blooms,
            schemaLog = bm.schemaLog)
          cur + 1
        }
      writeRefs(d, listTags(d), listStaged(d),
        listBranches(d) + (name -> (published, published)))
    }
  }

  /** Create tag `name` → `version`. The version must exist (committed or
    * staged); duplicate names refuse — a tag never silently moves. */
  def createTag(dir: String, name: String, version: Long): Unit = {
    val d = Paths.get(dir)
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"graft-commit: tag name '$name' must match [A-Za-z0-9_.-]+")
    require(io.exists(d.resolve(versionFile(version))),
      s"graft-commit: cannot tag version $version at $dir — no such version " +
        s"(have: ${listVersions(d).mkString(", ")})")
    lockFor(d).synchronized {
      val tags = listTags(d)
      require(!tags.contains(name),
        s"graft-commit: tag '$name' already exists (→ ${tags(name)}); " +
          "drop it first — tags never silently move")
      // tags and branches share one namespace (o44): VERSION AS OF
      // resolves either by name, so a collision would be ambiguous
      require(!listBranches(d).contains(name),
        s"graft-commit: '$name' is a BRANCH at $dir — tag and branch " +
          "names share one namespace")
      writeTags(d, tags + (name -> version))
    }
  }

  /** Drop tag `name` (its version becomes expirable again). */
  def dropTag(dir: String, name: String): Boolean = {
    val d = Paths.get(dir)
    lockFor(d).synchronized {
      val tags = listTags(d)
      if (!tags.contains(name)) false
      else { writeTags(d, tags - name); true }
    }
  }

  /** Resolve a tag to its version; loud on an unknown name. */
  private[graft] def tagVersion(dir: Path, name: String): Long =
    listTags(dir).getOrElse(name, sys.error(
      s"graft-commit: no tag '$name' at $dir (have: " +
        s"${listTags(dir).keys.toSeq.sorted.mkString(", ")})"))

  /** PUBLISH a staged version (o41, Iceberg's write-audit-publish
    * fast-forward): a write landed with `option("stageOnly", true)` is
    * a full immutable version manifest that main never pointed at —
    * auditors read it via `versionAsOf` (or a tag), and this swap makes
    * it current. Fast-forward ONLY: the staged commit was planned on
    * top of `version - 1`, so main must still be there — if another
    * commit landed meanwhile the publish refuses (re-stage on the new
    * main; cherry-picking a stale audit would silently drop the
    * concurrent commit's files, the exact truncate bug the CAS
    * architecture exists to prevent). */
  def publishStaged(dir: String, version: Long): Unit = {
    val d = Paths.get(dir)
    lockFor(d).synchronized {
      require(io.exists(d.resolve(versionFile(version))),
        s"graft-commit: no staged version $version at $dir (have: " +
          s"${listVersions(d).mkString(", ")})")
      val cur = currentCommit(d)
      require(cur < version,
        s"graft-commit: version $version is already published at $dir (current: $cur)")
      if (cur != version - 1) throw new ConcurrentCommitException(
        s"graft-commit: cannot fast-forward $dir to staged version $version — " +
          s"main is at $cur, not ${version - 1}; a commit landed after the " +
          "stage. Re-stage against the new main (audited content may be stale)")
      val body = io.readString(d.resolve(versionFile(version)))
      val tmp = d.resolve(MANIFEST + ".tmp")
      io.writeString(tmp, body)
      io.atomicReplace(tmp, d.resolve(MANIFEST))
      setStaged(d, version, on = false) // the stage is now ordinary history
    }
  }

  /** Abandon a staged (never-published) version: delete its manifest and
    * every file ONLY it references — the audit-failed cleanup. */
  def dropStagedVersion(dir: String, version: Long): Seq[String] = {
    val d = Paths.get(dir)
    lockFor(d).synchronized {
      require(version > currentCommit(d),
        s"graft-commit: version $version at $dir is published — use " +
          "expireVersions for committed history")
      require(io.exists(d.resolve(versionFile(version))),
        s"graft-commit: no staged version $version at $dir")
      val dead = manifestRefs(parseManifestVersion(d, version)).toSet
      io.deleteIfExists(d.resolve(versionFile(version)))
      val live = listVersions(d).flatMap(v =>
        manifestRefs(parseManifestVersion(d, v))).toSet ++
        parseManifest(d).toSeq.flatMap(manifestRefs)
      val removed = dead.filterNot(live.contains).toSeq.sorted
      removed.foreach(n => io.deleteIfExists(d.resolve(n)))
      setStaged(d, version, on = false)
      removed
    }
  }

  /** Orphan-file cleanup — the second half of the GC pair (Iceberg's
    * removeOrphanFiles): delete data files referenced by NO manifest
    * (current or any retained version) whose last modification is older
    * than `graceMs`. The grace window is the writer-safety device: a
    * concurrent append promotes its files to final names BEFORE its
    * manifest CAS, so a too-eager orphan sweep would delete an in-flight
    * writer's output — any grace comfortably above a commit's
    * promote-to-swap window (default 1h, Iceberg defaults to 3 DAYS) is
    * safe. Returns the deleted file names. */
  def removeOrphanFiles(dir: String, graceMs: Long = 3600L * 1000): Seq[String] = {
    val d = Paths.get(dir)
    val live: Set[String] =
      listVersions(d).flatMap(v => manifestRefs(parseManifestVersion(d, v))).toSet ++
        parseManifest(d).toSeq.flatMap(manifestRefs)
    val cutoff = System.currentTimeMillis() - graceMs
    val removed = listDataFiles(d)
      .filterNot(live.contains)
      .filter(n => CommitSink.io.lastModifiedMs(d.resolve(n)) < cutoff)
      .sorted
    removed.foreach(n => CommitSink.io.deleteIfExists(d.resolve(n)))
    removed
  }

  /** Every on-disk name a manifest keeps alive: its data files plus
    * their deletion vectors — GC liveness must protect both (an expired
    * DV under a live version would silently RESURRECT its deleted
    * rows). */
  private[graft] def manifestRefs(m: Manifest): Seq[String] =
    // ALL vector entries, including full-cover tombstones whose data
    // file was dropped (the change feed reads them against the PREVIOUS
    // version's data file — alive exactly as long as both versions are)
    m.files ++ m.deletes.values.map(_.dv).toSeq ++
      m.eqDeletes.map(_.file) ++ // key files are as live as the vectors (o32)
      m.blooms.values.flatMap(_.values) ++ // bloom sidecars too (o38)
      m.groups.map(_.name) // group manifests live exactly as long as their version (r16)

  /** Committed-style data files (`part-*`, deletion vectors included —
    * their names share the prefix) currently on disk — shared by the
    * truncate sweep and snapshot expiry, the two places that decide
    * deletions (one lister, two liveness rules kept explicitly local). */
  private[sources] def listDataFiles(dir: Path): Seq[String] =
    io.list(dir).filter(_.startsWith("part-"))

  /** Time-travel read (o17): the table as of commit `version`, from its
    * immutable version manifest. */
  def readCommittedVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    readManifestFiles(spark, dir, parseManifestVersion(Paths.get(dir), version))

  /** One fully-parsed manifest: the (commit, ddl, files, epochs, partcol,
    * per-file stats) view a commit or scan needs, read and regex-parsed
    * ONCE (the per-field helpers below each re-read the file; a commit
    * that called all of them did five reads whose non-atomicity also
    * widened the concurrent-writer window the CAS closes). `stats` keeps
    * the ENCODED per-file strings — commits carry them forward verbatim,
    * only the scan decodes. */
  private[graft] case class Manifest(commit: Long, ddl: String,
                                       files: Seq[String], epochs: Seq[Long],
                                       partCol: Option[String] = None,
                                       stats: Map[String, String] = Map.empty,
                                       /** Table GENERATION identity, minted at
                                         * the first commit to a fresh target
                                         * and carried by every later commit:
                                         * what lets a changelog stream detect
                                         * "dropped and re-created under my
                                         * checkpoint" instead of silently
                                         * skipping the new generation's rows
                                         * (Delta's reservoir id). */
                                       tableId: String = "",
                                       /** Merge-on-read DELETEs (o27): data
                                         * file → its deletion vector. A
                                         * listed file's rows at positions in
                                         * the vector are DELETED — every
                                         * read path applies the vector, every
                                         * rewrite of the file drops it (the
                                         * rewrite's scan already applied it).
                                         * Absent ⇒ no deletes. */
                                       deletes: Map[String, DvEntry] = Map.empty,
                                       /** Per-file ADD sequence (o32):
                                         * the commit id at which each
                                         * listed file joined the table.
                                         * Absent ⇒ 0 (legacy files).
                                         * Only consulted by equality-
                                         * delete applicability — an
                                         * [[EqDelete]] covers file f iff
                                         * fileSeq(f) < its seq. */
                                       fileSeq: Map[String, Long] = Map.empty,
                                       /** Equality deletes (o32), newest
                                         * last. Dropped automatically
                                         * when no listed file is still
                                         * covered (see writeManifest). */
                                       eqDeletes: Seq[EqDelete] = Seq.empty,
                                       /** Bloom file index (o38): data
                                         * file → column → bloom sidecar
                                         * name. Built by
                                         * [[buildBloomIndex]]; lets an
                                         * equality/IN predicate prune
                                         * files zone ranges cannot (a
                                         * hash-scattered high-cardinality
                                         * column). Over-approximating by
                                         * construction — a missing entry
                                         * or un-indexed file never
                                         * prunes. Dies with its file on
                                         * rewrite (writeManifest filters
                                         * to listed files). */
                                       blooms: Map[String, Map[String, String]] =
                                         Map.empty,
                                       /** TWO-LEVEL manifest (r16,
                                         * Iceberg's manifest-list): when
                                         * a version lists more files
                                         * than the group size, per-file
                                         * entries live in per-GROUP
                                         * manifest files and the root
                                         * carries only these refs, each
                                         * with a zone-range SUMMARY —
                                         * planning prunes whole groups
                                         * before parsing one per-file
                                         * entry. Non-empty `groups`
                                         * with EMPTY `files` = an
                                         * unresolved root (resolve via
                                         * [[resolveGroups]]); resolved
                                         * manifests keep the refs for
                                         * GC liveness. */
                                       groups: Seq[GroupRef] = Seq.empty,
                                       /** SCHEMA-EVOLUTION ledger (r18):
                                         * drop tombstones + rename
                                         * mappings, seq-stamped — see
                                         * [[SchemaEvt]]. Auto-retired
                                         * by writeManifest once no
                                         * listed file predates an
                                         * entry. */
                                       schemaLog: Seq[SchemaEvt] = Seq.empty,
                                       /** Commit WALL TIME, epoch millis
                                         * (o49): what `TIMESTAMP AS OF`
                                         * resolves against. -1 in
                                         * pre-o49 manifests (those
                                         * versions are unreachable by
                                         * timestamp travel — refuse,
                                         * never guess). Stamped from
                                         * [[CommitSink.clock]] so tests
                                         * and oracle entries can inject
                                         * deterministic times. */
                                       commitTs: Long = -1L) {
    /** `ddl` parsed once per manifest, not once per planning lookup. */
    lazy val schema: StructType = StructType.fromDDL(ddl)
    /** The recorded add-sequence of a listed file (0 = legacy/unknown). */
    def seqOf(f: String): Long = fileSeq.getOrElse(f, 0L)
    /** Equality deletes covering file `f`: strictly newer than its add. */
    def eqFor(f: String): Seq[EqDelete] = eqDeletes.filter(_.seq > seqOf(f))
    /** [[eqFor]] as reader refs under table `dir`, key columns typed from
      * this schema (readers widen any projection to cover them). */
    def eqRefsFor(f: String, dir: String): Seq[EqRef] = eqFor(f).map(e =>
      EqRef(Paths.get(dir, e.file).toString, StructType(e.colNames.map(schema(_)))))
    /** True for a two-level root whose per-file entries are not loaded. */
    def unresolvedRoot: Boolean = groups.nonEmpty && files.isEmpty
    /** Current-name → physical-name map of file `f` (empty = identity). */
    def physNames(f: String, current: Seq[String]): Map[String, String] =
      physNamesFor(schemaLog, seqOf(f), current)
  }

  /** One group-manifest reference in a two-level root: the group file's
    * name, its file count, and a [[FileStat]]-encoded SUMMARY (summed
    * rows/bytes; per-column UNION ranges recorded only when EVERY file
    * in the group records the column — the same "no range ⇒ never
    * prune" conservatism as file-level skipping, lifted a level). */
  private[graft] case class GroupRef(name: String, nFiles: Int, stat: String)

  private[sources] def parseManifestText(txt: String, where: String): Manifest = {
    val commit = "\"commit\":(-?[0-9]+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(-1L)
    val ddl = "\"schema\":\"((?:[^\"\\\\]|\\\\.)*)\"".r.findFirstMatchIn(txt)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse(sys.error(s"graft-commit: manifest missing schema: $where"))
    val files = "\"files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val epochs = "\"epochs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    val partCol = "\"partcol\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
    val tableId = "\"tableid\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val stats = "\"filestats\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val bar = e.indexOf('|')
        e.substring(0, bar) -> e.substring(bar + 1)
      }.toMap
    val deletes = "\"deletevectors\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val p = e.split("\\|")
        p(0) -> DvEntry(p(1), p(2).toLong)
      }.toMap
    val fileSeq = "\"fileseq\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val bar = e.lastIndexOf('|')
        e.substring(0, bar) -> e.substring(bar + 1).toLong
      }.toMap
    val eqDeletes = "\"eqdeletes\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val p = e.split("\\|")
        EqDelete(p(0), p(1).toLong, p(2).toLong, p(3))
      }.toSeq
    val blooms = "\"blooms\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val p = e.split("\\|")
        (p(0), p(1), p(2))
      }.groupBy(_._1).map { case (f, es) =>
        f -> es.map(e => e._2 -> e._3).toMap
      }
    val groups = "\"groups\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map { e =>
        val a = e.indexOf('|'); val b = e.indexOf('|', a + 1)
        GroupRef(e.substring(0, a), e.substring(a + 1, b).toInt, e.substring(b + 1))
      }.toSeq
    val schemaLog = "\"schemalog\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      .map(SchemaEvt.decode).toSeq
    val commitTs = "\"committs\":(-?[0-9]+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(-1L)
    // the retired JSON-lines payload: manifests written before the
    // payload field were JSON-lines too. Refuse one that lists files
    // rather than decode its lines as parquet.
    val payload = "\"payload\":\"([a-z]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
    require(payload.contains("parquet") || (files.isEmpty && groups.isEmpty),
      s"graft-commit: $where lists files in the retired JSON-lines payload " +
        s"(payload: ${payload.getOrElse("absent")}) — this build reads " +
        "parquet tables only")
    Manifest(commit, ddl, files, epochs, partCol, stats, tableId,
      deletes, fileSeq, eqDeletes, blooms, groups, schemaLog, commitTs)
  }

  /** Resolve a two-level root's per-file entries — all groups, or the
    * subset `keep` admits (the manifest-list PRUNE: a group whose
    * summary ranges provably cannot match the pushed conjunction is
    * never even PARSED — planning work scales with matching groups,
    * not total files). A resolved (or single-level) manifest passes
    * through untouched. */
  private[graft] def resolveGroups(dir: Path, root: Manifest,
      keep: GroupRef => Boolean = _ => true): Manifest = {
    if (!root.unresolvedRoot) return root
    val kept = root.groups.filter(keep)
    val files = Vector.newBuilder[String]
    val stats = Map.newBuilder[String, String]
    val deletes = Map.newBuilder[String, DvEntry]
    val fileSeq = Map.newBuilder[String, Long]
    val blooms = scala.collection.mutable.Map.empty[String, Map[String, String]]
    kept.foreach { g =>
      val txt = io.readString(dir.resolve(g.name))
      def arr(key: String): Seq[String] =
        (s""""$key":\\[([^\\]]*)\\]""").r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq
      files ++= arr("files")
      stats ++= arr("filestats").map { e =>
        val bar = e.indexOf('|')
        e.substring(0, bar) -> e.substring(bar + 1)
      }
      deletes ++= arr("deletevectors").map { e =>
        val p = e.split("\\|"); p(0) -> DvEntry(p(1), p(2).toLong)
      }
      fileSeq ++= arr("fileseq").map { e =>
        val bar = e.lastIndexOf('|')
        e.substring(0, bar) -> e.substring(bar + 1).toLong
      }
      arr("blooms").map { e =>
        val p = e.split("\\|"); (p(0), p(1), p(2))
      }.groupBy(_._1).foreach { case (f, es) =>
        blooms(f) = blooms.getOrElse(f, Map.empty) ++
          es.map(e => e._2 -> e._3).toMap
      }
    }
    root.copy(files = files.result(), stats = stats.result(),
      // root-level tombstone vectors (files long dropped) stay alongside
      // the groups' per-file entries
      deletes = root.deletes ++ deletes.result(),
      fileSeq = fileSeq.result(), blooms = blooms.toMap)
  }

  /** The ROOT manifest (header fields + group refs; a two-level table's
    * per-file entries stay unloaded — [[resolveGroups]] loads them) of
    * `version`'s immutable `_MANIFEST-v<n>.json`, or of the live
    * `_MANIFEST.json` when None. One read. A version that never
    * committed fails loudly; a never-written live target is None. */
  private[graft] def loadRoot(dir: Path, version: Option[Long] = None): Option[Manifest] = {
    val mf = dir.resolve(version.fold(MANIFEST)(versionFile))
    val present = io.exists(mf)
    require(present || version.isEmpty,
      s"graft-commit: no version ${version.get} at $dir (have: " +
        listVersions(dir).mkString(", ") + ")")
    if (present) Some(parseManifestText(io.readString(mf), mf.toString)) else None
  }

  private[graft] def parseManifest(dir: Path): Option[Manifest] =
    loadRoot(dir).map(resolveGroups(dir, _))

  /** The immutable manifest of a PAST version (time travel, o17). */
  private[graft] def parseManifestVersion(dir: Path, version: Long): Manifest =
    resolveGroups(dir, loadRoot(dir, Some(version)).get)

  /** TIMESTAMP AS OF resolution (o49): the newest MAIN-lineage
    * committed version whose recorded commit wall time (`committs`,
    * epoch millis — see [[clock]]) is ≤ `tMicros` (epoch micros,
    * Spark's TableCatalog time-travel unit). Iceberg's
    * snapshot-at-timestamp rule exactly:
    *
    *  - staged (WAP) versions and branch-range ids are not main
    *    history — excluded;
    *  - a timestamp BEFORE the first commit refuses loudly (silently
    *    reading v0 would misattribute data to a time it didn't exist);
    *  - pre-o49 versions carry no committs and are unreachable by
    *    timestamp — refuse rather than guess.
    *
    * Root-parse only (one regex per version file, never a group
    * resolve): main's committs is monotone, so this is a scan of
    * manifest headers, planning-cheap at any version count this side
    * of expiry. */
  private[graft] def versionAtTimestamp(dir: Path, tMicros: Long): Long = {
    val stamped = mainCommitTimes(dir)
    val eligible = stamped.filter { case (_, ts) =>
      ts >= 0 && ts * 1000L <= tMicros
    }
    require(eligible.nonEmpty, {
      val earliest = stamped.collect { case (_, ts) if ts >= 0 => ts }
        .minOption.map(java.time.Instant.ofEpochMilli(_).toString)
        .getOrElse("(no version records a commit time)")
      s"graft-commit: no version of $dir committed at or before " +
        s"${java.time.Instant.ofEpochMilli(Math.floorDiv(tMicros, 1000L))} — " +
        s"earliest commit: $earliest"
    })
    eligible.maxBy(_._1)._1
  }

  /** The FIRST main version committed at or after `tMicros` — the
    * change feed's `startingTimestamp` resolution (Delta's rule:
    * "changes since t" begin at the first commit ≥ t; a timestamp past
    * the newest commit refuses, there is nothing to stream). Same
    * main-lineage/root-parse discipline as [[versionAtTimestamp]]. */
  private[graft] def versionAtOrAfterTimestamp(dir: Path, tMicros: Long): Long = {
    val eligible = mainCommitTimes(dir).collect {
      case (v, ts) if ts >= 0 && ts * 1000L >= tMicros => v
    }
    require(eligible.nonEmpty,
      s"graft-commit: no version of $dir committed at or after " +
        s"${java.time.Instant.ofEpochMilli(Math.floorDiv(tMicros, 1000L))} — " +
        "nothing to stream from that starting timestamp")
    eligible.min
  }

  /** (version, `committs`) of every MAIN-lineage version — staged (WAP)
    * and branch-range ids excluded; -1 where a pre-o49 version records
    * no commit time. One regex per version file, never a full parse.
    * Refuses a table with no main version at all. */
  private def mainCommitTimes(dir: Path): Seq[(Long, Long)] = {
    val staged = listStaged(dir).toSet
    val candidates = listVersions(dir)
      .filter(v => v < BRANCH_BASE && !staged.contains(v))
    require(candidates.nonEmpty,
      s"graft-commit: no committed versions at $dir to time-travel into")
    candidates.map { v =>
      v -> "\"committs\":(-?[0-9]+)".r
        .findFirstMatchIn(io.readString(dir.resolve(versionFile(v))))
        .map(_.group(1).toLong).getOrElse(-1L)
    }
  }

  /** `timestampAsOf` option value → epoch micros: a bare integer is
    * epoch MILLIS; a date-only string is midnight UTC (Delta accepts
    * date strings — r19 ADVICE); anything else parses as an ISO-8601
    * timestamp (offset-carrying, else UTC — commit times are wall-clock
    * UTC). An unparseable value names the accepted forms instead of
    * propagating a raw DateTimeParseException. */
  private[graft] def timestampAsOfMicros(s: String): Long = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val t = s.trim
    if (t.matches("-?[0-9]+")) t.toLong * 1000L
    else {
      val iso = t.replace(' ', 'T')
      val instant =
        try java.time.OffsetDateTime.parse(iso).toInstant
        catch { case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(iso).toInstant(java.time.ZoneOffset.UTC)
          catch { case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.parse(t).atStartOfDay
              .toInstant(java.time.ZoneOffset.UTC)
            catch { case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"graft-commit: cannot parse timestamp '$s' — accepted " +
                  "forms: epoch millis (1755388800000), ISO-8601 date " +
                  "(2026-08-16), ISO-8601 timestamp (2026-08-16 12:00:00 " +
                  "or 2026-08-16T12:00:00+02:00)") } } }
      DateTimeUtils.instantToMicros(instant)
    }
  }

  private[graft] def listVersions(dir: Path): Seq[Long] =
    if (!io.isDirectory(dir)) Seq.empty
    else io.list(dir)
      .flatMap(n => "_MANIFEST-v(-?[0-9]+)\\.json".r
        .findFirstMatchIn(n).map(_.group(1).toLong))
      .sorted

  /** Branch commits live in a DISJOINT id range (o44): main's lineage
    * stays contiguous from 0 (what the change feed's per-commit walk,
    * the changelog's admission filter `v <= current`, and
    * [[publishStaged]]'s `version - 1` fast-forward all rely on), while
    * branch versions take ids ≥ 1e9 — main's `prev + 1` can never
    * collide with a branch's version file. Publish re-lands the branch
    * head AS a main commit (see [[publishBranch]]), so the main ledger
    * never contains a high-range id. */
  private[graft] val BRANCH_BASE = 1000000000L

  /** The next unused id in the branch range. */
  private[sources] def nextBranchVersionId(dir: Path): Long =
    ((listVersions(dir).filter(_ >= BRANCH_BASE) :+ (BRANCH_BASE - 1)) ++
      listBranches(dir).values.map(_._1).filter(_ >= BRANCH_BASE)).max + 1

  /** Column-wise schema equivalence for the append guard: names + types,
    * ignoring nullability and metadata — a nullable `id BIGINT` appends
    * fine onto files written as non-null `id BIGINT NOT NULL` (every
    * field is stored optional), so comparing raw DDL strings would refuse
    * valid appends. */
  private[sources] def sameColumns(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    cols(a) == cols(b)
  }

  /** Write-and-swap the manifest under the per-path commit lock: the
    * swap is atomic for READERS, and the `expectedPrev` CAS makes
    * concurrent WRITERS safe — a writer whose planning read is stale
    * fails with [[ConcurrentCommitException]] instead of silently
    * dropping the interleaved commit's files. Appends RETRY on that
    * failure (re-read, re-carry, re-swap — see CommitBatchWrite);
    * truncates and group rewrites propagate it, because their content
    * was computed against the invalidated snapshot and the statement
    * must re-run. `expectedPrev` is the commit id of the manifest the
    * caller based its read-modify on: the PLANNING manifest for
    * rewrites, the fresh commit-time read for appends/truncates. Pass
    * the sentinel [[SKIP_CAS]] only from fixture/test code that owns
    * the path exclusively. */
  private[graft] val SKIP_CAS: Long = Long.MinValue

  private[graft] def writeManifest(dir: Path, ddl: String, files: Seq[String],
                                     commitId: Long,
                                     epochs: Seq[Long] = Seq.empty,
                                     expectedPrev: Long = SKIP_CAS,
                                     partCol: Option[String] = None,
                                     stats: Map[String, String] = Map.empty,
                                     tableId: String = "",
                                     deletes: Map[String, DvEntry] = Map.empty,
                                     fileSeq: Map[String, Long] = Map.empty,
                                     eqDeletes: Seq[EqDelete] = Seq.empty,
                                     /** Full-cover TOMBSTONES (o33): a
                                       * vector that covers EVERY row of
                                       * its file drops the file, and the
                                       * vector entry lands here instead
                                       * — listed under deletevectors
                                       * without its file, so the change
                                       * feed can emit the drop as
                                       * delete rows instead of refusing.
                                       * Invisible to every reader (they
                                       * look vectors up BY listed file)
                                       * and dies at the next commit
                                       * (callers never carry it). */
                                     tombstones: Map[String, DvEntry] = Map.empty,
                                     /** Bloom file index (o38): carried
                                       * by content-preserving commits,
                                       * auto-filtered to listed files so
                                       * a rewritten file's blooms die
                                       * with it. */
                                     blooms: Map[String, Map[String, String]] =
                                       Map.empty,
                                     /** WRITE-AUDIT-PUBLISH staging
                                       * (o41, Iceberg's WAP): land the
                                       * immutable version manifest but
                                       * do NOT swap `_MANIFEST.json` —
                                       * main readers are unaffected
                                       * until [[publishStaged]]
                                       * fast-forwards to it. The staged
                                       * version is auditable via the
                                       * ordinary versionAsOf read. */
                                     stageOnly: Boolean = false,
                                     /** BRANCH commit (o44): CAS against
                                       * the branch head instead of main,
                                       * land the version file, advance
                                       * the branch pointer — main's
                                       * `_MANIFEST.json` is untouched. */
                                     branch: Option[String] = None,
                                     /** SCHEMA-EVOLUTION ledger (r18):
                                       * carried verbatim by every
                                       * content-preserving commit;
                                       * entries retire here once no
                                       * listed file predates them (the
                                       * liveEq device) — a truncate or
                                       * full rewrite clears the ledger
                                       * automatically. */
                                     schemaLog: Seq[SchemaEvt] = Seq.empty): Unit =
    lockFor(dir).synchronized {
      require(branch.isEmpty || !stageOnly,
        "graft-commit: a write cannot target a branch AND stage (WAP " +
          "stages are main-lineage audit copies; branches have their own)")
      // check + swap under the per-path lock: two same-JVM writers can
      // never both pass the check (the object-store analog is a
      // conditional put on the manifest key)
      if (expectedPrev != SKIP_CAS && branch.isEmpty) {
        val cur = currentCommit(dir)
        if (cur != expectedPrev) throw new ConcurrentCommitException(
          s"graft-commit: concurrent writer detected at $dir — manifest is at " +
            s"commit $cur but this writer planned commit $commitId on top of " +
            s"$expectedPrev; aborting instead of silently dropping its files")
      }
      branch.foreach { b =>
        // branch CAS half 1: the head must still be the planning head
        // (advanceBranch re-checks before the pointer moves — half 2)
        val head = branchHead(dir, b)
        if (expectedPrev != SKIP_CAS && head != expectedPrev)
          throw new ConcurrentCommitException(
            s"graft-commit: concurrent writer on branch '$b' at $dir — head " +
              s"is $head but this writer planned commit $commitId on top of " +
              s"$expectedPrev")
        // version ids are GLOBAL across main/stages/branches: the
        // version-file existence check is the id CAS (same as stageOnly)
        if (io.exists(dir.resolve(versionFile(commitId))))
          throw new ConcurrentCommitException(
            s"graft-commit: version $commitId already exists at $dir — a " +
              s"concurrent writer landed it first (branch '$b' commit)")
      }
      // two staged writers compute the same next id and neither swaps —
      // the version-file existence check is their CAS
      if (stageOnly && io.exists(dir.resolve(versionFile(commitId))))
        throw new ConcurrentCommitException(
          s"graft-commit: staged version $commitId already exists at $dir — " +
            "a concurrent writer staged it first")
      // an OPEN STAGE holds its version id: an ordinary commit planning
      // the same id must refuse (publish or drop the stage first) —
      // silently overwriting the audit copy would be the truncate bug
      // in ref clothing. Registered staged ids only: unregistered
      // version-file debris from a crashed swap stays self-healing.
      if (!stageOnly && expectedPrev != SKIP_CAS &&
          listStaged(dir).contains(commitId))
        throw new ConcurrentCommitException(
          s"graft-commit: version $commitId at $dir is an OPEN STAGE " +
            "(write-audit-publish) — ordinary commits are held until the " +
            "audit pipeline decides. Recovery: publish it with " +
            s"CommitSink.publishStaged(\"$dir\", $commitId) or discard it " +
            s"with CommitSink.dropStagedVersion(\"$dir\", $commitId); a " +
            "crashed/forgotten audit run is the usual cause of seeing this " +
            "repeatedly")
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      // the four per-file entry arrays over one file slice: stats,
      // vectors (listed files only — a dropped/rewritten file's vector
      // must not survive it), non-zero add-sequences, bloom refs
      def entriesOf(fs: Seq[String]): (Seq[String], Seq[String], Seq[String], Seq[String]) = (
        fs.flatMap(f => stats.get(f).map(e => s""""$f|$e"""")),
        fs.flatMap(f => deletes.get(f).map(e => s""""$f|${e.dv}|${e.ndel}"""")),
        fs.flatMap(f => fileSeq.get(f).filter(_ != 0L).map(s => s""""$f|$s"""")),
        fs.flatMap(f => blooms.get(f).toSeq.flatMap(_.toSeq.sortBy(_._1)
          .map { case (c, b) => s""""$f|$c|$b"""" })))
      val sortedFiles = files.sorted
      // full-cover tombstones (o33) always live at the ROOT (their data
      // files are not listed anywhere)
      val tombBody = tombstones.toSeq.sortBy(_._1)
        .filterNot(t => files.contains(t._1))
        .map { case (f, e) => s""""$f|${e.dv}|${e.ndel}"""" }
      // an equality delete survives only while it still COVERS some
      // listed file (seq(f) < its seq) — a rewrite/compaction that
      // replaced every covered file (its scan applied the delete)
      // retires the entry here, centrally, so no caller can leak a
      // dead key file into eternity. Table-level: root, both layouts.
      val liveEq = eqDeletes.filter(e =>
        files.exists(f => fileSeq.getOrElse(f, 0L) < e.seq))
      val eqBody = liveEq.sortBy(e => (e.seq, e.file))
        .map(e => s""""${e.file}|${e.seq}|${e.nkeys}|${e.cols}"""")
      // schema-evolution entries retire by the same rule: an entry only
      // matters to files that PREDATE it (their bytes carry the old
      // name / the dropped values) — once every such file is rewritten
      // or truncated away, the ledger entry is dead weight and the
      // drop-tombstone's ADD refusal must lift
      val liveLog = schemaLog.filter(e =>
        files.exists(f => fileSeq.getOrElse(f, 0L) < e.seq))
      val logBody = liveLog.sortBy(_.seq).map(e => s""""${e.encode}"""")
      def header: String =
        s"""{"commit":$commitId,"epochs":[${epochs.sorted.mkString(",")}],""" +
          s""""committs":${clock()},""" +
          // constant, for older builds: they read an absent field as JSON-lines
          """"payload":"parquet",""" +
          (if (logBody.nonEmpty) s""""schemalog":[${logBody.mkString(",")}],""" else "") +
          (if (tableId.nonEmpty) s""""tableid":"${esc(tableId)}",""" else "") +
          partCol.map(c => s""""partcol":"${esc(c)}",""").getOrElse("")
      val groupSize = Integer.getInteger("graft.manifest.group.size", 4096).intValue
      require(groupSize >= 1, s"graft.manifest.group.size must be >= 1, got $groupSize")
      val writtenGroups = scala.collection.mutable.ArrayBuffer.empty[String]
      // group files are written DURING body construction (the refs map),
      // so an I/O failure midway (disk full, permission flip) must sweep
      // the ones already landed here, in the same scope — they are named
      // _MANIFEST-g* (removeOrphanFiles only sweeps part-*) and no
      // version references them, so nothing else would ever reclaim them
      val body = try { if (sortedFiles.size <= groupSize) {
        // SINGLE-LEVEL: per-file entries inline (small tables — the
        // overwhelmingly common case, byte-identical to the r15 format)
        val (statsBody, dvFiles, seqBody, bloomBody) = entriesOf(sortedFiles)
        val dvBody = dvFiles ++ tombBody
        header +
          (if (dvBody.nonEmpty) s""""deletevectors":[${dvBody.mkString(",")}],""" else "") +
          (if (seqBody.nonEmpty) s""""fileseq":[${seqBody.mkString(",")}],""" else "") +
          (if (eqBody.nonEmpty) s""""eqdeletes":[${eqBody.mkString(",")}],""" else "") +
          (if (bloomBody.nonEmpty) s""""blooms":[${bloomBody.mkString(",")}],""" else "") +
          s""""schema":"${esc(ddl)}",""" +
          s""""files":[${sortedFiles.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""filestats":[${statsBody.mkString(",")}]}"""
      } else {
        // TWO-LEVEL (r16, Iceberg's manifest-list): per-file entries land
        // in per-group manifest files; the root lists each group ONCE
        // with a zone-range summary, so a selective scan's planning
        // parses only the groups its predicate cannot rule out. Group
        // files are immutable and commit-scoped (name carries the commit
        // id + a write nonce) — they live and die with their version.
        val nonce = writeNonce()
        val refs = sortedFiles.grouped(groupSize).zipWithIndex.map { case (gf, i) =>
          val name = f"_MANIFEST-g$commitId%05d-$nonce-$i%05d.json"
          val (sB, dB, qB, bB) = entriesOf(gf)
          io.writeString(dir.resolve(name),
            s"""{"files":[${gf.map("\"" + _ + "\"").mkString(",")}],""" +
              s""""filestats":[${sB.mkString(",")}],""" +
              s""""deletevectors":[${dB.mkString(",")}],""" +
              s""""fileseq":[${qB.mkString(",")}],""" +
              s""""blooms":[${bB.mkString(",")}]}""")
          writtenGroups += name
          // summary stat: summed rows/bytes, per-column UNION ranges only
          // for columns EVERY file in the group records (else the column
          // is omitted and the group never prunes on it)
          val decoded = gf.map(f => stats.get(f).map(FileStat.decode))
          val gStat =
            if (decoded.exists(_.isEmpty)) FileStat(0L, 0L, None, Map.empty)
            else {
              val ds = decoded.flatten
              val common = ds.map(_.cols.keySet).reduce(_ intersect _)
              val cols = common.flatMap { c =>
                val rs = ds.map(_.cols(c))
                rs.map(_.kind).distinct match {
                  case Seq('l') => Some(c -> ColRange('l',
                    rs.map(_.min.toLong).min.toString,
                    rs.map(_.max.toLong).max.toString))
                  case Seq('d') => Some(c -> ColRange('d',
                    rs.map(_.min.toDouble).min.toString,
                    rs.map(_.max.toDouble).max.toString))
                  case _ => None
                }
              }.toMap
              // o45: the group's partition-key span (when every file has
              // one) — what key-projected predicates prune groups by
              val pks = ds.flatMap(_.pk)
              val colsPk = if (pks.size == ds.size && pks.nonEmpty)
                cols + (GROUP_PK -> ColRange('l',
                  pks.min.toString, pks.max.toString))
              else cols
              FileStat(ds.map(_.rows).sum, ds.map(_.bytes).sum, None, colsPk)
            }
          s""""$name|${gf.size}|${gStat.encode}""""
        }.toSeq
        header +
          (if (tombBody.nonEmpty) s""""deletevectors":[${tombBody.mkString(",")}],""" else "") +
          (if (eqBody.nonEmpty) s""""eqdeletes":[${eqBody.mkString(",")}],""" else "") +
          s""""groups":[${refs.mkString(",")}],""" +
          s""""schema":"${esc(ddl)}",""" +
          s""""files":[],"filestats":[]}"""
      } } catch { case e: Throwable =>
        writtenGroups.foreach(n => io.deleteIfExists(dir.resolve(n)))
        throw e
      }
      // the immutable per-version copy lands BEFORE the swap: any manifest a
      // reader can see as current always has its time-travel twin (a crash
      // between the two writes loses only the never-visible new version)
      try {
        io.writeString(dir.resolve(versionFile(commitId)), body)
        // staged (o41): the version is auditable but not current — no
        // swap; register the open stage so ordinary writers refuse its id
        if (stageOnly) setStaged(dir, commitId, on = true)
        // branch (o44): the version file IS the content; the commit is
        // the branch-pointer advance (its own CAS) — main never moves
        branch.foreach(b => advanceBranch(dir, b,
          if (expectedPrev == SKIP_CAS) branchHead(dir, b) else expectedPrev,
          commitId))
        if (!stageOnly && branch.isEmpty) {
          val tmp = dir.resolve(MANIFEST + ".tmp")
          io.writeString(tmp, body)
          // the atomic swap IS the commit: readers either see the old
          // manifest or the new one, never a torn state
          io.atomicReplace(tmp, dir.resolve(MANIFEST))
        }
      } catch { case e: Throwable =>
        // a failed swap must not leave a PHANTOM version: the commit never
        // became current, its data files will be deleted by the caller's
        // failure handler, and listVersions/time travel must not expose a
        // version whose files are gone. Safe to delete: the CAS above
        // proves no successful commit ever used this id. Group manifests
        // written for this never-visible version go with it.
        io.deleteIfExists(dir.resolve(versionFile(commitId)))
        writtenGroups.foreach(n => io.deleteIfExists(dir.resolve(n)))
        throw e
      }
    }

  private[sources] def currentCommit(dir: Path): Long = {
    val mf = dir.resolve(MANIFEST)
    if (!CommitSink.io.exists(mf))
      -1L
    else
      "\"commit\":(-?[0-9]+)".r.findFirstMatchIn(CommitSink.io.readString(mf))
        .map(_.group(1).toLong).getOrElse(-1L)
  }

  /** Streaming epochs already folded into the manifest — the idempotence
    * ledger a re-delivered micro-batch commit is checked against. */
  private[graft] def committedEpochs(dir: Path): Seq[Long] = {
    val mf = dir.resolve(MANIFEST)
    if (!CommitSink.io.exists(mf)) Seq.empty
    else "\"epochs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(CommitSink.io.readString(mf))
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
  }

  /** The table's generation id: carried from the existing manifest, or
    * minted at the generation's FIRST commit. */
  private[sources] def carriedOrFreshTableId(manifest: Option[Manifest]): String =
    manifest.map(_.tableId).filter(_.nonEmpty)
      .getOrElse(java.util.UUID.randomUUID().toString)

  /** Staging is WRITE-PRIVATE: each write (batch commit attempt or
    * streaming epoch) stages under `_staging/<nonce>/`, so a concurrent
    * writer's commit-time sweep can never delete another writer's
    * in-flight task files (two appenders to one path are now supported —
    * see the append CAS-retry). */
  private[sources] def stagingDir(dir: Path, sub: String): Path =
    dir.resolve(STAGING).resolve(sub)

  private[sources] def sweepStaging(dir: Path, sub: String): Unit = {
    val st = stagingDir(dir, sub)
    if (io.exists(st)) {
      io.list(st).foreach(n => io.deleteIfExists(st.resolve(n)))
      io.deleteIfExists(st)
    }
    // drop the shared parent too once the LAST writer's sweep empties it
    // (non-empty = another write is in flight: leave it, ignore the race)
    try io.deleteIfExists(dir.resolve(STAGING))
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }
}

/** File-skipping predicate evaluation over the manifest's per-file column
  * ranges (o14) — the zone-map device: a file whose recorded [min, max]
  * provably cannot satisfy the scan's pushed conjunction is never opened.
  * Pruning is ADVISORY ONLY: a file that survives is still read row by
  * row — by Spark above the scan for a residual filter, by the reader for
  * an absorbed one ([[CommitPredicate]]) — so a missed prune can only
  * cost IO, never a wrong row.
  * Conservatism rules: a column with no recorded range never prunes; a
  * filter value whose numeric family differs from the recorded kind never
  * prunes (comparing longs as doubles rounds above 2^53 — at corpus scale
  * that rounding could mis-prune, so it is simply not trusted); NaN never
  * prunes (NaN is excluded from recorded ranges and has its own ordering
  * in SQL). */
private[graft] object CommitSkip {
  import org.apache.spark.sql.sources._
  import CommitSink.{ColRange, FileStat}

  /** Integral and fractional filter values, each kept in its own family.
    * Date/timestamp values translate to the writer's recorded
    * representation (days / micros — the InternalRow encoding the
    * parquet payload stores), so time-range predicates prune files: the
    * first filter every time-partitioned 100 TB scan pushes. The
    * plain-read scan's absorbed predicates normalise their literals
    * here too ([[CommitPredicate]]). */
  private[sources] def num(v: Any): Option[Either[Long, Double]] = v match {
    case l: Long   => Some(Left(l))
    case i: Int    => Some(Left(i.toLong))
    case s: Short  => Some(Left(s.toLong))
    case b: Byte   => Some(Left(b.toLong))
    case d: Double => if (d.isNaN) None else Some(Right(d))
    case f: Float  => if (f.isNaN) None else Some(Right(f.toDouble))
    case d: java.sql.Date =>
      Some(Left(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
    case d: java.time.LocalDate => Some(Left(d.toEpochDay))
    case t: java.sql.Timestamp =>
      Some(Left(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case i: java.time.Instant =>
      Some(Left(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
    case t: java.time.LocalDateTime =>
      Some(Left(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)))
    case _ => None
  }

  /** Can this filter shape contribute to file skipping at all? String
    * equality/IN is usable since o38 — zone maps pass it through
    * (mayMatch's range check matches numeric kinds only), but the bloom
    * index prunes on it. */
  private def pointable(v: Any): Boolean =
    num(v).isDefined || v.isInstanceOf[String]
  def usable(f: Filter): Boolean = f match {
    case EqualTo(_, v)            => pointable(v)
    case GreaterThan(_, v)        => num(v).isDefined
    case GreaterThanOrEqual(_, v) => num(v).isDefined
    case LessThan(_, v)           => num(v).isDefined
    case LessThanOrEqual(_, v)    => num(v).isDefined
    case In(_, vs)                => vs.nonEmpty && vs.forall(pointable)
    case And(l, r)                => usable(l) && usable(r)
    case Or(l, r)                 => usable(l) && usable(r)
    case _ => false
  }

  /** True unless the file's ranges PROVE no row can match — every
    * unknown (missing stats, family mismatch) says "may match". */
  def mayMatch(f: Filter, st: FileStat): Boolean = {
    def check(col: String, v: Any)(p: (Long, Long, Long) => Boolean)(
        q: (Double, Double, Double) => Boolean): Boolean =
      (st.cols.get(col), num(v)) match {
        case (Some(ColRange('l', mn, mx)), Some(Left(x)))  => p(mn.toLong, mx.toLong, x)
        case (Some(ColRange('d', mn, mx)), Some(Right(x))) => q(mn.toDouble, mx.toDouble, x)
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(l, st) && mayMatch(r, st)
      case Or(l, r)  => mayMatch(l, st) || mayMatch(r, st)
      case EqualTo(a, v) =>
        check(a, v)((mn, mx, x) => mn <= x && x <= mx)((mn, mx, x) => mn <= x && x <= mx)
      case GreaterThan(a, v)        => check(a, v)((_, mx, x) => mx > x)((_, mx, x) => mx > x)
      case GreaterThanOrEqual(a, v) => check(a, v)((_, mx, x) => mx >= x)((_, mx, x) => mx >= x)
      case LessThan(a, v)           => check(a, v)((mn, _, x) => mn < x)((mn, _, x) => mn < x)
      case LessThanOrEqual(a, v)    => check(a, v)((mn, _, x) => mn <= x)((mn, _, x) => mn <= x)
      case In(a, vs) => vs.exists(v =>
        check(a, v)((mn, mx, x) => mn <= x && x <= mx)((mn, mx, x) => mn <= x && x <= mx))
      case _ => true
    }
  }

  /** Bloom refinement of [[mayMatch]] (o38): the same conservative
    * recursion, but EQUALITY/IN tests go to the per-file bloom via
    * `lookup` instead of a range check. Only the two point-predicate
    * shapes consult the bloom — range predicates are the zone maps'
    * job, and everything else never prunes. */
  def mayMatchBloom(f: Filter, lookup: (String, Any) => Boolean): Boolean =
    f match {
      case And(l, r)     => mayMatchBloom(l, lookup) && mayMatchBloom(r, lookup)
      case Or(l, r)      => mayMatchBloom(l, lookup) || mayMatchBloom(r, lookup)
      case EqualTo(a, v) => lookup(a, v)
      case In(a, vs)     => vs.isEmpty || vs.exists(lookup(a, _))
      case _             => true
    }

  /** Membership test matching [[CommitSink.buildBloomIndex]]'s put side
    * exactly: integral values widen to putLong/mightContainLong, strings
    * hash as UTF-8; anything else never prunes. */
  def bloomMightContain(bf: org.apache.spark.util.sketch.BloomFilter,
                        v: Any): Boolean = v match {
    case l: Long   => bf.mightContainLong(l)
    case i: Int    => bf.mightContainLong(i.toLong)
    case s: Short  => bf.mightContainLong(s.toLong)
    case b: Byte   => bf.mightContainLong(b.toLong)
    case s: String => bf.mightContainString(s)
    case u: org.apache.spark.unsafe.types.UTF8String =>
      bf.mightContainString(u.toString)
    case _ => true
  }
}

/** Commit message: one staged file a task produced (phase 1 of the 2PC).
  * `stats` is the encoded [[CommitSink.FileStat]] collected during the
  * write (empty only from pre-stats senders — decoded consumers treat
  * empty as "no stats, never prune"). */
case class StagedFile(name: String, rows: Long, stats: String = "")
    extends WriterCommitMessage

/** Commit message of a PARTITIONED task: one staged file per partition-key
  * run the (cluster + sort)-distributed task wrote. */
case class StagedFileSet(files: Seq[StagedFile]) extends WriterCommitMessage

/** Commit message of an UPSERT task (o32): the ordinary staged-data
  * message plus the task's staged equality-delete key file (`eqName`
  * empty when the task saw no non-null keys). */
case class UpsertTaskResult(data: WriterCommitMessage, eqName: String,
                            nkeys: Long) extends WriterCommitMessage

