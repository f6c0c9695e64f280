package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.types._
import graft.cdc.{Apply, SchemaEvolution}

/** Pure-logic property tests (scalacheck, no Spark session): PK-candidate
  * precedence, schema-evolution algebra, epoch heuristic arithmetic.
  * The Spark-execution properties (random CDC streams vs an in-memory
  * model) live in CdcSpec.
  */
object PropertySpec extends Properties("graft") {

  private val ident: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)

  property("pkCandidate picks by fixed precedence, else first column") =
    forAll(Gen.nonEmptyListOf(ident)) { cols =>
      val got = Apply.pkCandidate(cols)
      val preferred = Apply.pkCandidates.filter(cols.contains)
      if (preferred.nonEmpty) got == preferred.head
      else got == cols.head
    }

  private val fieldGen: Gen[StructField] = for {
    n <- ident
    t <- Gen.oneOf(LongType, DoubleType, StringType, BooleanType, TimestampType)
  } yield StructField(n, t)

  private val schemaGen: Gen[StructType] =
    Gen.listOf(fieldGen).map(fs =>
      StructType(fs.groupBy(_.name).map(_._2.head).toSeq))

  property("widen keeps base fields, appends only new names, is idempotent") =
    forAll(schemaGen, schemaGen) { (a, b) =>
      val w = SchemaEvolution.widen(a, b)
      val keepsBase = w.fields.take(a.fields.length).sameElements(a.fields)
      val hasAll = (a.fieldNames ++ b.fieldNames).toSet == w.fieldNames.toSet
      val noRetype = a.fields.forall(f => w(f.name).dataType == f.dataType)
      val idempotent = SchemaEvolution.widen(w, b) == w
      keepsBase && hasAll && noRetype && idempotent
    }

  property("widen is associative on field sets") =
    forAll(schemaGen, schemaGen, schemaGen) { (a, b, c) =>
      SchemaEvolution.widen(SchemaEvolution.widen(a, b), c).fieldNames.toSet ==
        SchemaEvolution.widen(a, SchemaEvolution.widen(b, c)).fieldNames.toSet
    }

  property("epoch heuristic: >1e12 becomes floor(v/1000), else unchanged") =
    forAll(Gen.chooseNum(0L, 4e12.toLong)) { v =>
      // the rule as data (mirrors the Column expression; CdcSpec checks
      // the Column version on the boundary values)
      val expected = if (v > 1e12) v / 1000 else v
      val viaRule = if (v.toDouble > 1e12) math.floor(v.toDouble / 1000).toLong else v
      viaRule == expected || math.abs(viaRule - expected) <= 1 // double precision at 4e12: exact
    }

  property("inferType: bool before int precedence, collections to string") =
    forAll(Gen.oneOf[Any](true, 1L, 2.5, "s", Map("a" -> 1), Seq(1, 2))) { v =>
      val t = SchemaEvolution.inferType(v)
      v match {
        case _: Boolean => t == BooleanType
        case _: Long => t == LongType
        case _: Double => t == DoubleType
        case _: String => t == StringType
        case _ => t == StringType
      }
    }

  property("TypeMapping: total (never throws), case/args/modifier-insensitive on the base") =
    forAll(
      Gen.oneOf(graft.cdc.TypeMapping.mapping.keys.toSeq),
      Gen.oneOf("", "(255)", "(10,2)", " unsigned", " UNSIGNED ZEROFILL", "('a','b')"),
      Gen.oneOf(identity[String] _, (s: String) => s.toUpperCase)) { (base, suffix, casing) =>
      val t = graft.cdc.TypeMapping.toSparkType(casing(base) + suffix)
      // decimal takes its declared (p,s); every other base ignores args
      if (base == "decimal")
        t.isInstanceOf[DecimalType]
      else t == graft.cdc.TypeMapping.mapping(base)
    }

  property("TypeMapping: unknown bases take the reference's null fallback (String)") =
    forAll(Gen.identifier) { s =>
      val known = graft.cdc.TypeMapping.mapping.contains(s.toLowerCase) ||
        s.toLowerCase == "numeric"
      known || graft.cdc.TypeMapping.toSparkType(s) == StringType
    }

  // --- CommitSink manifest (hand-rolled JSON) round-trip ------------------

  private val fileName: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('-', '.', '_')))
      .map("part-" + _.mkString)

  property("CommitSink manifest round-trips arbitrary DDL text and file lists") =
    forAll(Gen.asciiPrintableStr, Gen.listOf(fileName), Gen.choose(0L, 1000L),
      Gen.listOf(Gen.choose(0L, 50L))) { (ddl, files, commit, epochs) =>
      // ddl here is ADVERSARIAL text (quotes, backslashes, braces) — the
      // escaping, not DDL validity, is what the property pins
      val dir = java.nio.file.Files.createTempDirectory("mf_prop")
      try {
        graft.sources.CommitSink.writeManifest(dir, ddl, files.distinct,
          commit, epochs.distinct)
        val got = graft.sources.CommitSink.parseManifest(dir).get
        got.ddl == ddl &&
          got.files == files.distinct.sorted &&
          graft.sources.CommitSink.committedEpochs(dir) == epochs.distinct.sorted
      } finally {
        // writeManifest also lands the immutable _MANIFEST-v<n>.json
        // time-travel copy — recursive delete, not a file-by-file list
        graft.Tables.deleteRecursively(dir.toString)
      }
    }

  // --- d31's FastSS blocking theorem --------------------------------------

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def neighborhood(t: String): Set[String] =
    Set(t) ++ t.indices.map(i => t.substring(0, i) + t.substring(i + 1))

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)

  // --- o14 zone maps: FileStat codec + skipping SOUNDNESS -----------------

  private val statColName: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
      .map(_.mkString).suchThat(_.nonEmpty)

  private val longRange: Gen[(Long, Long)] = for {
    a <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
    b <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
  } yield (math.min(a, b), math.max(a, b))

  // adversarial but NaN-free (the writer excludes NaN from ranges)
  private val dblVal: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-1e300, 1e300), Gen.oneOf(0.0, -0.0, Double.MinPositiveValue,
      Double.PositiveInfinity, Double.NegativeInfinity, 1e-310 /* denormal */))

  property("FileStat encode/decode round-trips rows, bytes, pk, and ranges") =
    forAll(Gen.chooseNum(0L, Long.MaxValue / 2), Gen.chooseNum(0L, Long.MaxValue / 2),
      Gen.option(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)),
      Gen.mapOf(for {
        c <- statColName
        kind <- Gen.oneOf('l', 'd')
        r <- if (kind == 'l') longRange.map { case (a, b) => (a.toString, b.toString) }
             else for { x <- dblVal; y <- dblVal } yield
               (math.min(x, y).toString, math.max(x, y).toString)
      } yield c -> graft.sources.CommitSink.ColRange(kind, r._1, r._2))) {
      (rows, bytes, pk, cols) =>
        val st = graft.sources.CommitSink.FileStat(rows, bytes, pk, cols)
        graft.sources.CommitSink.FileStat.decode(st.encode) == st
    }

  // The safety property of file skipping: if CommitSkip prunes a file,
  // then NO row of that file satisfies the filter. Rows are generated,
  // stats are computed exactly as CommitDataWriter computes them, and
  // the filter is evaluated with SQL semantics on every row.
  private val filterGen: Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val col = Gen.oneOf("lv", "dv")
    val value: String => Gen[Any] = {
      case "lv" => Gen.chooseNum(-1000L, 1000L)
      case _    => Gen.chooseNum(-100.0, 100.0)
    }
    lazy val leaf: Gen[Filter] = for {
      c <- col
      v <- value(c)
      f <- Gen.oneOf[Any => Filter](
        EqualTo(c, _), GreaterThan(c, _), GreaterThanOrEqual(c, _),
        LessThan(c, _), LessThanOrEqual(c, _))
    } yield f(v)
    val inG: Gen[Filter] = for {
      c <- col
      vs <- Gen.nonEmptyListOf(value(c))
    } yield In(c, vs.toArray)
    def tree(depth: Int): Gen[Filter] =
      if (depth == 0) Gen.oneOf(leaf, inG)
      else Gen.frequency(
        3 -> leaf, 1 -> inG,
        1 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield And(l, r)),
        1 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield Or(l, r)))
    tree(2)
  }

  private def evalFilter(f: org.apache.spark.sql.sources.Filter,
                         lv: Long, dv: Double): Boolean = {
    import org.apache.spark.sql.sources._
    def cmp(a: String, v: Any): Int = (a, v) match {
      case ("lv", x: Long) => java.lang.Long.compare(lv, x)
      // IEEE comparison, not Double.compare's total order: Spark (and the
      // skipper's range checks) treat -0.0 == 0.0; inputs are NaN-free
      case ("dv", x: Double) => if (dv == x) 0 else if (dv < x) -1 else 1
      case _ => sys.error(s"unexpected $a=$v")
    }
    f match {
      case EqualTo(a, v)            => cmp(a, v) == 0
      case GreaterThan(a, v)        => cmp(a, v) > 0
      case GreaterThanOrEqual(a, v) => cmp(a, v) >= 0
      case LessThan(a, v)           => cmp(a, v) < 0
      case LessThanOrEqual(a, v)    => cmp(a, v) <= 0
      case In(a, vs)                => vs.exists(v => cmp(a, v) == 0)
      case And(l, r)                => evalFilter(l, lv, dv) && evalFilter(r, lv, dv)
      case Or(l, r)                 => evalFilter(l, lv, dv) || evalFilter(r, lv, dv)
      case other => sys.error(s"unexpected $other")
    }
  }

  property("file skipping is SOUND: a pruned file has no matching row") =
    forAll(Gen.nonEmptyListOf(for {
      l <- Gen.chooseNum(-1000L, 1000L)
      d <- Gen.chooseNum(-100.0, 100.0)
    } yield (l, d)), filterGen) { (rows, f) =>
      // stats exactly as the writer records them
      val st = graft.sources.CommitSink.FileStat(rows.length.toLong, 1L, None, Map(
        "lv" -> graft.sources.CommitSink.ColRange('l',
          rows.map(_._1).min.toString, rows.map(_._1).max.toString),
        "dv" -> graft.sources.CommitSink.ColRange('d',
          rows.map(_._2).min.toString, rows.map(_._2).max.toString)))
      val pruned = graft.sources.CommitSkip.usable(f) &&
        !graft.sources.CommitSkip.mayMatch(f, st)
      // soundness: pruned ⇒ no row matches (completeness is NOT claimed —
      // conservative non-prunes are always allowed)
      !pruned || rows.forall { case (l, d) => !evalFilter(f, l, d) }
    }

  property("FastSS completeness: lev(u,v) <= 1 implies the 1-deletion neighborhoods intersect") =
    forAll(word, word) { (u, v) =>
      // the direction d31's candidate generation RELIES on (soundness is
      // restored by the levenshtein verify); a tiny alphabet makes close
      // pairs common enough to exercise the implication densely
      lev(u, v) > 1 || (neighborhood(u) & neighborhood(v)).nonEmpty
    }

  property("FastSS blocking + verify == direct lev<=1 pair set") =
    forAll(Gen.listOf(word)) { ws =>
      val vocab = ws.distinct
      val direct = (for {
        a <- vocab; b <- vocab if a < b && lev(a, b) <= 1
      } yield (a, b)).toSet
      val blocked = (for {
        a <- vocab; b <- vocab
        if a < b && (neighborhood(a) & neighborhood(b)).nonEmpty && lev(a, b) <= 1
      } yield (a, b)).toSet
      direct == blocked
    }

  // --- CommitSink staged-file format: writer → reader round-trip ----------

  private val adversarialString: Gen[String] = {
    // BMP minus surrogates, weighted toward escape-prone chars: quotes,
    // backslashes, \n\r\t, raw control chars
    val ch = Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t'),
      1 -> Gen.choose(0x00.toChar, 0x1F.toChar),
      2 -> Gen.choose(0x20.toChar, 0xD7FF.toChar))
    Gen.listOf(ch).map(_.mkString)
  }

  private val adversarialDouble: Gen[Double] = Gen.frequency(
    2 -> Gen.choose(-1e12, 1e12),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
      Double.MaxValue, 8.48798316416e-313 /* a denormal */))

  private val rowGen: Gen[(Option[Long], Option[Int], Option[Double],
      Option[Boolean], Option[String])] =
    for {
      l <- Gen.option(Gen.choose(Long.MinValue, Long.MaxValue))
      i <- Gen.option(Gen.choose(Int.MinValue, Int.MaxValue))
      d <- Gen.option(adversarialDouble)
      b <- Gen.option(Gen.oneOf(true, false))
      s <- Gen.option(adversarialString)
    } yield (l, i, d, b, s)

  property("CommitSink staged-file format round-trips adversarial rows bit-exactly") =
    forAll(Gen.listOf(rowGen)) { rows =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val dir = java.nio.file.Files.createTempDirectory("cs_rt")
      try {
        java.nio.file.Files.createDirectories(dir.resolve("_staging"))
        val schema = StructType(Seq(
          StructField("l", LongType), StructField("i", IntegerType),
          StructField("d", DoubleType), StructField("b", BooleanType),
          StructField("s", StringType)))
        val w = new graft.sources.CommitDataWriter(dir.toString, schema.toDDL, 0, 0L)
        rows.foreach { case (l, i, d, b, s) =>
          w.write(new GenericInternalRow(Array[Any](
            l.orNull, i.orNull, d.orNull, b.orNull,
            s.map(UTF8String.fromString).orNull)))
        }
        val staged = w.commit().asInstanceOf[graft.sources.StagedFile]
        // the parquet writer and the DSv2 scan's reader, end to end
        val r = new graft.sources.ParquetFilesReader(
          Seq(dir.resolve("_staging").resolve(staged.name).toString), schema)
        val got = Iterator.continually(
          if (r.next()) Some(r.get()) else None).takeWhile(_.isDefined).flatten.toList
        r.close()
        got.length == rows.length && got.zip(rows).forall { case (row, (l, i, d, b, s)) =>
          def n[T](idx: Int, v: Option[T])(read: => T): Boolean =
            if (v.isEmpty) row.isNullAt(idx) else !row.isNullAt(idx) && read == v.get
          n(0, l)(row.getLong(0)) && n(1, i)(row.getInt(1)) &&
            // doubles by BIT pattern: -0.0, denormals, infinities must
            // survive; doubleToLongBits canonicalizes NaN payloads
            d.forall(dv => !row.isNullAt(2) &&
              java.lang.Double.doubleToLongBits(row.getDouble(2)) ==
                java.lang.Double.doubleToLongBits(dv)) &&
            (d.nonEmpty || row.isNullAt(2)) &&
            n(3, b)(row.getBoolean(3)) &&
            n(4, s)(row.getUTF8String(4).toString)
        }
      } finally {
        graft.Tables.deleteRecursively(dir.toString)
      }
    }

  // --- o10's admission-control tiling across restarts ---------------------

  property("SensorMicroBatchStream: admitted windows tile [0, rows) exactly once across restarts") =
    forAll(Gen.choose(1L, 500L), Gen.nonEmptyListOf(Gen.choose(1L, 100L)),
      Gen.choose(1, 5)) { (rows, batchSizes, nRestarts) =>
      // drive the SupportsAdmissionControl contract the way the engine
      // does: per trigger, latestOffset(committedStart, limit) admits a
      // window [start, end); a RESTART constructs a FRESH stream object
      // (driver memory gone) and hands back only the committed offset.
      // The r10-advice bug — a restarted counter regressing below the
      // committed start — would produce an overlapping or backwards
      // window and fail the tiling check.
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      import org.apache.spark.sql.types.StructType
      def fresh(batch: Long) = new graft.sources.SensorMicroBatchStream(
        rows, 2, new StructType(),
        Array.empty[org.apache.spark.sql.sources.Filter], batch)
      var stream = fresh(batchSizes.head)
      var committed = 0L
      var batches = List.empty[(Long, Long)]
      var sizes = batchSizes
      var restartsLeft = nRestarts
      var guard = 0
      while (committed < rows && guard < 2000) {
        guard += 1
        val end = stream.latestOffset(graft.sources.SensorOffset(committed),
          ReadLimit.allAvailable()).asInstanceOf[graft.sources.SensorOffset].pos
        if (end != committed) batches ::= (committed, end)
        committed = math.max(committed, end)
        // maybe crash-and-restart with a different rate limit
        if (restartsLeft > 0 && guard % 3 == 0) {
          restartsLeft -= 1
          sizes = if (sizes.tail.nonEmpty) sizes.tail else batchSizes
          stream = fresh(sizes.head)
        }
      }
      val ordered = batches.reverse
      val tiles = ordered.zip((0L, 0L) :: ordered).forall {
        case ((lo, hi), (_, prevHi)) => lo == prevHi && hi > lo && hi <= rows
      }
      tiles && committed == rows
    }
}
