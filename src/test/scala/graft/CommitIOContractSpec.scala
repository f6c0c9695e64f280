package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import sources.{CommitIO, CommitSink, HadoopCommitIO, NioCommitIO, ParquetPayload}

/** The [[CommitIO]] contract, property-tested against BOTH bindings —
  * the r15 proof that the storage seam has one behavior regardless of
  * implementation. Every test runs once per binding:
  *
  *  - whole-object text and stream roundtrips, list-after-put (a name
  *    written is a name listed — the manifest GC's liveness sweeps
  *    reason over exactly this), size/exists/isDirectory agreement;
  *  - `promote` is rename-NO-CLOBBER: the staged→final move refuses an
  *    existing destination (final names are nonce-unique; a collision
  *    is a logic error the binding must surface, not absorb);
  *  - `atomicReplace` + the manifest CAS = conditional replace: racing
  *    writers through [[CommitSink.writeManifest]]'s check-and-swap all
  *    land, every commit id appears exactly once, and a concurrent
  *    reader never observes a TORN manifest (old or new, possibly
  *    absent during the hadoop fallback window — never a prefix);
  *  - the parquet payload's handles share one parsed Hadoop
  *    configuration per JVM: threads opening `FileRows` and writing
  *    through `rowWriter` at once decode exactly what one thread does.
  */
class CommitIOContractSpec extends AnyFunSuite {

  private val bindings: Seq[(String, CommitIO)] =
    Seq("nio" -> NioCommitIO, "hadoop" -> new HadoopCommitIO)

  private def freshDir(tag: String): java.nio.file.Path = {
    val d = s"/tmp/graft_io_spec/$tag"
    Tables.deleteRecursively(d)
    Files.createDirectories(Paths.get(d))
    Paths.get(d)
  }

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("x", DoubleType)))

  private def payloadRows(seed: Int): Seq[InternalRow] = (0 until 400).map { i =>
    InternalRow(seed * 1000L + i,
      if (i % 7 == 0) null else UTF8String.fromString(s"v$seed-$i"), i * 0.5)
  }

  private def writePayload(p: Path, rows: Seq[InternalRow]): Unit = {
    val (w, _) = ParquetPayload.rowWriter(p,
      ParquetPayload.message(payloadSchema), payloadSchema)
    try rows.foreach(w.write) finally w.close()
  }

  private def readPayload(p: Path): Seq[Seq[Any]] = {
    val fr = new ParquetPayload.FileRows(p, payloadSchema)
    try {
      val out = Vector.newBuilder[Seq[Any]]
      while (fr.next()) out += payloadSchema.indices.map { i =>
        val fi = fr.fieldIndex(i)
        if (fi >= 0) fr.values(fi) else null
      }
      out.result()
    } finally fr.close()
  }

  for ((name, io) <- bindings) {

    test(s"[$name] text/stream roundtrips, list-after-put, size/exists/isDirectory") {
      val d = freshDir(s"rt_$name")
      val f = d.resolve("obj.txt")
      val payload = "line1\nline2 é中\n" // multi-byte: the seam is bytes, not chars
      io.writeString(f, payload)
      assert(io.readString(f) == payload)
      assert(io.exists(f) && !io.isDirectory(f) && io.isDirectory(d))
      assert(io.size(f) == payload.getBytes("UTF-8").length)
      assert(io.lastModifiedMs(f) > 0L)
      // list-after-put: names only, every written name present
      io.writeString(d.resolve("b.bin"), "x")
      io.createDirectories(d.resolve("sub"))
      assert(io.list(d).toSet == Set("obj.txt", "b.bin", "sub"))
      // byte-stream roundtrip (the vector files' path)
      val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
      val out = io.newOutputStream(d.resolve("v.bin"))
      try out.write(bytes) finally out.close()
      val in = io.newInputStream(d.resolve("v.bin"))
      val got = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(got, bytes))
      // delete semantics: true when present, false when already gone
      assert(io.deleteIfExists(d.resolve("b.bin")))
      assert(!io.deleteIfExists(d.resolve("b.bin")))
      // a NON-EMPTY directory refuses with the NIO exception type — the
      // staging sweep's shared-parent race catches exactly this (the
      // hadoop binding translates RawLocalFileSystem's plain IOException)
      io.writeString(d.resolve("sub").resolve("child"), "c")
      intercept[java.nio.file.DirectoryNotEmptyException] {
        io.deleteIfExists(d.resolve("sub"))
      }
      assert(io.deleteIfExists(d.resolve("sub").resolve("child")))
      assert(io.deleteIfExists(d.resolve("sub")), "empty dir deletes fine")
      assert(io.list(d).toSet == Set("obj.txt", "v.bin"))
    }

    test(s"[$name] promote moves and refuses to clobber; atomicReplace replaces") {
      val d = freshDir(s"mv_$name")
      io.writeString(d.resolve("staged"), "S")
      io.promote(d.resolve("staged"), d.resolve("final"))
      assert(!io.exists(d.resolve("staged")) && io.readString(d.resolve("final")) == "S")
      // no-clobber: a second staged file must NOT silently replace final
      io.writeString(d.resolve("staged2"), "T")
      intercept[Exception] { io.promote(d.resolve("staged2"), d.resolve("final")) }
      assert(io.readString(d.resolve("final")) == "S", "clobber refused")
      assert(io.exists(d.resolve("staged2")), "refused promote leaves the source")
      // atomicReplace: onto an existing target and onto a missing one
      io.writeString(d.resolve("tmp1"), "NEW")
      io.atomicReplace(d.resolve("tmp1"), d.resolve("final"))
      assert(io.readString(d.resolve("final")) == "NEW" && !io.exists(d.resolve("tmp1")))
      io.writeString(d.resolve("tmp2"), "FRESH")
      io.atomicReplace(d.resolve("tmp2"), d.resolve("brandnew"))
      assert(io.readString(d.resolve("brandnew")) == "FRESH")
    }

    test(s"[$name] conditional replace under racing writers: every CAS winner is serial") {
      val d = freshDir(s"cas_$name")
      CommitSink.withIo(io) {
        // seed commit 0
        CommitSink.writeManifest(d, "id BIGINT", Seq.empty, 0L)
        val threads = 8
        val perThread = 5
        val pool = Executors.newFixedThreadPool(threads + 1)
        val start = new CountDownLatch(1)
        val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
        // a racing READER: every observed manifest must parse whole
        val reader = pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            var i = 0
            while (i < 2000 && torn.get() == null) {
              try {
                val m = CommitSink.parseManifest(d)
                m.foreach(v => require(v.commit >= 0L))
              } catch {
                case _: java.io.FileNotFoundException |
                     _: java.nio.file.NoSuchFileException => () // hadoop window
                case e: Throwable => torn.set(s"torn read: $e")
              }
              i += 1
            }
          }
        })
        val writers = (1 to threads).map { _ =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              var landed = 0
              while (landed < perThread) {
                val cur = CommitSink.parseManifest(d).fold(-1L)(_.commit)
                try {
                  CommitSink.writeManifest(d, "id BIGINT", Seq.empty, cur + 1,
                    expectedPrev = cur)
                  landed += 1
                } catch { case _: IllegalArgumentException => () } // lost the CAS: retry
              }
            }
          })
        }
        start.countDown()
        writers.foreach(_.get(120, TimeUnit.SECONDS))
        reader.get(120, TimeUnit.SECONDS)
        pool.shutdown()
        assert(torn.get() == null, s"reader observed: ${torn.get()}")
        // all 40 commits landed serially: the final id is exact and the
        // version trail is gapless (each winner observed its predecessor)
        assert(CommitSink.parseManifest(d).get.commit == threads.toLong * perThread)
        assert(CommitSink.listVersions(d) == (0L to threads.toLong * perThread))
      }
    }

    test(s"[$name] concurrent FileRows opens and rowWriter writes decode like one thread") {
      val d = freshDir(s"payload_$name")
      CommitSink.withIo(io) {
        val shared = d.resolve("shared.parquet")
        writePayload(shared, payloadRows(0))
        val expected = readPayload(shared)
        assert(expected == payloadRows(0).map(_.toSeq(payloadSchema)))
        val threads = 4
        val pool = Executors.newFixedThreadPool(threads)
        val start = new CountDownLatch(1)
        try {
          // each thread writes its own file while the others read the
          // shared one, then reads its own file back
          val futures = (1 to threads).map { t =>
            pool.submit(new Callable[(Seq[Seq[Seq[Any]]], Path, Seq[Seq[Any]])] {
              def call(): (Seq[Seq[Seq[Any]]], Path, Seq[Seq[Any]]) = {
                start.await()
                val own = d.resolve(s"t$t.parquet")
                val sharedReads = (0 until 3).map(_ => readPayload(shared))
                writePayload(own, payloadRows(t))
                (sharedReads, own, readPayload(own))
              }
            })
          }
          start.countDown()
          futures.zipWithIndex.foreach { case (f, i) =>
            val (sharedReads, own, ownRead) = f.get(120, TimeUnit.SECONDS)
            sharedReads.foreach(r => assert(r == expected))
            assert(ownRead == readPayload(own), s"thread ${i + 1}'s own file")
            assert(ownRead == payloadRows(i + 1).map(_.toSeq(payloadSchema)))
          }
        } finally pool.shutdown()
      }
    }
  }

  test("the battery-level binding switch: -Dgraft.commit.io selects hadoop JVM-wide") {
    // this JVM runs whatever the flag said — assert the selection logic,
    // not the flag (the full battery under hadoop runs via
    // `sbt -Dgraft.commit.io=hadoop test`)
    val expectHadoop = sys.props.get("graft.commit.io").contains("hadoop")
    assert(CommitSink.io.isInstanceOf[HadoopCommitIO] == expectHadoop)
  }
}
