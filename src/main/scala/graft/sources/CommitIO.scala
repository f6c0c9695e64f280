package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** The commit sink's STORAGE SEAM (r14): every byte the lakehouse reads
  * or writes — staged data files, deletion vectors, equality-delete key
  * files, manifests — goes through this trait, so binding the sink to an
  * object store or Hadoop `FileSystem` is ONE new implementation instead
  * of a rewrite of CommitSink/ParquetPayload. The operations are chosen
  * to map 1:1 onto object-store primitives:
  *
  *  - `readString`/`writeString`/streams → GET/PUT
  *  - `atomicReplace` → the conditional-put/rename the manifest swap
  *    needs (paired with the commit-id CAS in [[CommitSink.writeManifest]])
  *  - `promote` → copy-then-delete or single-object rename (staged names
  *    are nonce-unique, so non-atomic promotion is still safe — nothing
  *    references a final name until the manifest swap)
  *  - `list` → prefix listing (names only — callers never need handles)
  *
  * Executor-side consumers (vector writers, payload decoders) reach the
  * binding through [[CommitSink.io]]; the trait is Serializable so a
  * future non-object binding can be shipped in task closures.
  *
  * Local NIO ([[NioCommitIO]]) is the only binding today — the
  * single-host deployment every test and bench runs — but the seam is
  * what keeps "manifest-defines-the-table on non-transactional object
  * stores" an implementation away rather than a redesign. */
private[graft] trait CommitIO extends Serializable {
  // parquet-java file handles (payload encode/decode)
  def inputFile(p: Path): org.apache.parquet.io.InputFile
  def outputFile(p: Path): org.apache.parquet.io.OutputFile
  // byte streams (deletion vectors, bloom sidecars)
  def newInputStream(p: Path): java.io.InputStream
  def newOutputStream(p: Path): java.io.OutputStream
  // whole-object text (manifests)
  def readString(p: Path): String
  def writeString(p: Path, s: String): Unit
  /** Atomic replace of `target` with `tmp`: readers see the old or the
    * new object, never a torn one — the manifest-swap primitive. */
  def atomicReplace(tmp: Path, target: Path): Unit
  /** Staged → final-name promotion. Final names are nonce-unique and
    * unreferenced until the manifest swap, so atomicity is not load-
    * bearing here — but the local binding gets it for free. */
  def promote(src: Path, dst: Path): Unit
  def exists(p: Path): Boolean
  def isDirectory(p: Path): Boolean
  def deleteIfExists(p: Path): Boolean
  def createDirectories(p: Path): Unit
  /** Child NAMES of a directory/prefix (not paths, not handles). */
  def list(p: Path): Seq[String]
  def size(p: Path): Long
  def lastModifiedMs(p: Path): Long
}

private[graft] object CommitIO {
  import org.apache.hadoop.conf.Configuration
  /** Hadoop's default XML, parsed once per JVM (by the first copy) —
    * parquet-java otherwise builds and parses a fresh Configuration per
    * reader and writer. */
  private val parsedDefaults = new Configuration()
  /** A private copy per handle, cloning the parsed properties; callers
    * set keys on theirs. Like a fresh Configuration, it carries no
    * session or `spark.hadoop.*` settings. */
  def hadoopConf(): Configuration = new Configuration(parsedDefaults)
}

/** The local-filesystem binding — plain `java.nio` + parquet-java's
  * Local{Input,Output}File. */
private[graft] object NioCommitIO extends CommitIO {
  override def inputFile(p: Path): org.apache.parquet.io.InputFile =
    new org.apache.parquet.io.LocalInputFile(p)
  override def outputFile(p: Path): org.apache.parquet.io.OutputFile =
    new org.apache.parquet.io.LocalOutputFile(p)
  override def newInputStream(p: Path): java.io.InputStream =
    Files.newInputStream(p)
  override def newOutputStream(p: Path): java.io.OutputStream =
    Files.newOutputStream(p)
  override def readString(p: Path): String = Files.readString(p)
  override def writeString(p: Path, s: String): Unit = {
    Files.writeString(p, s); ()
  }
  override def atomicReplace(tmp: Path, target: Path): Unit = {
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  override def promote(src: Path, dst: Path): Unit = {
    // no-clobber must hold even under a race: POSIX rename(2) — what
    // ATOMIC_MOVE maps to — silently REPLACES an existing target, and
    // an exists-then-move check is TOCTOU. link(2) is atomic
    // fail-if-exists, so createLink(dst, src) + delete(src) IS an
    // atomic no-clobber rename (same filesystem by construction —
    // staging lives under the table directory; promotes are always
    // plain files). A collision means a nonce/logic error and must
    // surface (the r15 contract spec pins this for both bindings).
    // A crash BETWEEN the link and the delete leaves src behind in
    // staging with dst already live; that is abort/orphan territory —
    // sweepStaging reclaims it by nonce, and a re-promote of the same
    // name surfaces as FileAlreadyExistsException (correct: the promote
    // already happened).
    try {
      Files.createLink(dst, src)
      Files.deleteIfExists(src); ()
    } catch { case _: UnsupportedOperationException =>
      // filesystems without hard links (some overlay/NFS/bind mounts):
      // fall back to exists-check + ATOMIC_MOVE — the residual TOCTOU is
      // benign because staged names carry a per-write nonce, so no two
      // writers ever promote the same name (the Hadoop binding makes the
      // identical argument for its rename contract)
      if (Files.exists(dst))
        throw new java.nio.file.FileAlreadyExistsException(dst.toString)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE); ()
    }
  }
  override def exists(p: Path): Boolean = Files.exists(p)
  override def isDirectory(p: Path): Boolean = Files.isDirectory(p)
  override def deleteIfExists(p: Path): Boolean = Files.deleteIfExists(p)
  override def createDirectories(p: Path): Unit = {
    Files.createDirectories(p); ()
  }
  override def list(p: Path): Seq[String] = {
    // the stream holds a directory fd until closed — a long-lived driver
    // lists on every plan/sweep, so the explicit close is load-bearing
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }
  override def size(p: Path): Long = Files.size(p)
  override def lastModifiedMs(p: Path): Long =
    Files.getLastModifiedTime(p).toMillis
}

/** The Hadoop `FileSystem` binding (r15) — the seam's SECOND
  * implementation, proving "one new implementation, not a rewrite":
  * every operation goes through the real `org.apache.hadoop.fs` API
  * (the exact surface S3A/ABFS/GCS connectors implement), and parquet
  * handles are `HadoopInputFile`/`HadoopOutputFile` — the same classes
  * Iceberg/Delta hand parquet-java on an object store. In this sandbox
  * the FileSystem resolves `file://` to [[org.apache.hadoop.fs
  * .RawLocalFileSystem]] (raw, not the checksummed LocalFileSystem —
  * `.crc` sidecars would pollute prefix listings the manifest GC
  * reasons over); on a cluster the same code binds to `s3a://`/
  * `hdfs://` purely by URI scheme and `fs.*.impl` conf.
  *
  * Contract notes (CommitIOContractSpec property-tests both bindings):
  *  - `atomicReplace` first tries a direct rename (POSIX rename
  *    replaces atomically; HDFS rename-with-overwrite is atomic
  *    server-side). Only if the FileSystem refuses an existing target
  *    does it fall back to delete+rename — the transient window shows
  *    a MISSING manifest (an error surface readers already handle),
  *    never a torn one. On a real object store this op is the
  *    conditional PUT paired with [[CommitSink.writeManifest]]'s CAS.
  *  - `promote` is rename-no-clobber: final names are nonce-unique, so
  *    an existing destination means a logic error, and the binding
  *    refuses it the way NIO's ATOMIC_MOVE does.
  *
  * Stateless and Serializable: the Configuration and FileSystem are
  * `@transient lazy`, rebuilt after deserialization in task closures. */
private[graft] class HadoopCommitIO extends CommitIO {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  @transient private lazy val conf: Configuration = {
    val c = CommitIO.hadoopConf()
    // raw local: no .crc sidecars (they'd show up in list() and confuse
    // the GC's name-prefix liveness rules); private instance so the
    // impl override can't leak into Spark's own cached local FS
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
  @transient private lazy val fs: FileSystem =
    FileSystem.get(java.net.URI.create("file:///"), conf)

  private def hp(p: Path): HPath =
    new HPath(p.toAbsolutePath.normalize.toUri)

  override def inputFile(p: Path): org.apache.parquet.io.InputFile =
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp(p), conf)
  override def outputFile(p: Path): org.apache.parquet.io.OutputFile =
    org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(hp(p), conf)
  override def newInputStream(p: Path): java.io.InputStream = fs.open(hp(p))
  override def newOutputStream(p: Path): java.io.OutputStream =
    fs.create(hp(p), true)
  override def readString(p: Path): String = {
    val in = fs.open(hp(p))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def writeString(p: Path, s: String): Unit = {
    val out = fs.create(hp(p), true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
  override def atomicReplace(tmp: Path, target: Path): Unit = {
    val (s, d) = (hp(tmp), hp(target))
    if (!fs.rename(s, d)) {
      // the FileSystem refused (e.g. an impl that won't replace): fall
      // back to delete+rename — see the class doc for the visibility
      // contract of this window
      fs.delete(d, false)
      require(fs.rename(s, d), s"hadoop-io: rename $s -> $d failed")
    }
  }
  override def promote(src: Path, dst: Path): Unit = {
    val (s, d) = (hp(src), hp(dst))
    // On HDFS this whole op is atomic no-clobber (rename fails
    // server-side on an existing target). On RawLocalFileSystem the
    // underlying rename(2) replaces, so the exists check is BEST-EFFORT
    // (TOCTOU under a same-destination race) — a diagnostic, not the
    // safety: final names are nonce-unique, so two writers never race
    // one destination in the first place (NioCommitIO holds the strict
    // contract via link(2); see its promote note).
    if (fs.exists(d))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"hadoop-io: promote target $d already exists")
    require(fs.rename(s, d), s"hadoop-io: rename $s -> $d failed")
  }
  override def exists(p: Path): Boolean = fs.exists(hp(p))
  override def isDirectory(p: Path): Boolean =
    try fs.getFileStatus(hp(p)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  override def deleteIfExists(p: Path): Boolean =
    try fs.delete(hp(p), false)
    catch {
      // contract parity with NIO: a non-recursive delete of a non-empty
      // directory surfaces as DirectoryNotEmptyException — callers (the
      // staging sweep's shared-parent race) catch exactly that type
      case e: java.io.IOException
          if (try fs.getFileStatus(hp(p)).isDirectory
              catch { case _: java.io.FileNotFoundException => false }) &&
            fs.listStatus(hp(p)).nonEmpty =>
        val d = new java.nio.file.DirectoryNotEmptyException(p.toString)
        d.initCause(e)
        throw d
    }
  override def createDirectories(p: Path): Unit = {
    fs.mkdirs(hp(p)); ()
  }
  override def list(p: Path): Seq[String] =
    fs.listStatus(hp(p)).toSeq.map(_.getPath.getName)
  override def size(p: Path): Long = fs.getFileStatus(hp(p)).getLen
  override def lastModifiedMs(p: Path): Long =
    fs.getFileStatus(hp(p)).getModificationTime
}
