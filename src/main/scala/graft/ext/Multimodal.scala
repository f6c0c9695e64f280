package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column handling: media payloads are opaque `binary` columns
  * with typed metadata; decode / feature-extraction runs as a partition-
  * local typed transformation (`mapPartitions` over a `Dataset`) — the
  * Scala-engine analog of a Pandas-UDF-over-`mapInPandas` stage: batch
  * shape per partition, no shuffle, schema declared up front.
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * environment): [[StubDecoder.decode]] derives deterministic pseudo-
  * features from the bytes. Everything around it — the binary column
  * plumbing, metadata schema, partitioning, the typed batch interface —
  * is real and oracle-/test-covered. Swapping in a real decoder changes
  * one function.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** A media record: opaque payload + typed metadata. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
                         n_bytes: Long)

  /** Extracted features (what a real decoder would emit). */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           n_chunks: Long, checksum: Long, brightness: Double)

  /** Build a media table from `documents`: the text bytes act as the
    * opaque payload (UTF-8), with a kind derived from the source. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id".as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3 + 1).cast("int")).as("kind"),
      encode($"text", "UTF-8").as("payload"),
      octet_length(encode($"text", "UTF-8")).cast("long").as("n_bytes"))
  }

  /** The stubbed decoder: deterministic features from raw bytes. A real
    * implementation would decode image frames / audio samples here; the
    * interface (bytes in, fixed-schema features out, partition-local) is
    * the production one. */
  object StubDecoder {
    val ChunkSize = 256L
    def decode(r: MediaRecord): MediaFeatures = {
      var sum = 0L
      var i = 0
      while (i < r.payload.length) { sum += (r.payload(i) & 0xff).toLong * (i + 1); i += 1 }
      MediaFeatures(
        media_id = r.media_id,
        kind = r.kind,
        n_bytes = r.n_bytes,
        n_chunks = (r.n_bytes + ChunkSize - 1) / ChunkSize,
        checksum = sum % 1000000007L,
        brightness = if (r.payload.isEmpty) 0.0
                     else (sum % 256).toDouble / 255.0)
    }
  }

  /** The mapPartitions feature-extraction stage (batched, partition-local —
    * the shape a real decode stage needs: one decoder instance per
    * partition, streaming through records). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (codec handles, buffers)
      it.map(StubDecoder.decode)
    }
  }

  /** Metadata + chunking query — the part of the pipeline that stays in
    * pure column expressions (and therefore has a DuckDB oracle). */
  def m01MediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).select(
      $"media_id", $"kind", $"n_bytes",
      // integer div: Column./ on longs yields double in Spark
      expr(s"(n_bytes + ${StubDecoder.ChunkSize - 1}) div ${StubDecoder.ChunkSize}").as("n_chunks"),
      // slice the binary BEFORE hexing: hex() of a multi-KB payload only
      // to keep 16 chars was the single hottest expression in the bench
      upper(hex(substring($"payload", 1, 8))).as("head_hex"))
  }

  /** Feature extraction through the typed mapPartitions stage, then a
    * relational aggregation over its output: proves the decode stage
    * composes with the rest of the engine. Oracle replicates the stub's
    * arithmetic in SQL. */
  def m02MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir).as[MediaRecord]
    extractFeatures(media).toDF()
      .groupBy($"kind")
      .agg(count(lit(1)).as("n_media"),
           sum($"n_chunks").as("total_chunks"),
           (sum($"checksum") % 1000000007L).as("checksum_agg"))
  }

  /** Per-record frame sampling (what a video pipeline's every-k-th-frame
    * stage does): fixed-size frames over the payload, keep every
    * `SampleEvery`-th, positional checksum per kept frame. */
  case class FrameFeatures(media_id: Long, kind: String, n_frames: Long, fsum: Long)

  object FrameSampler {
    val FrameSize = 256
    val SampleEvery = 4
    val P = 1000000007L
    def sample(r: MediaRecord): FrameFeatures = {
      var f = 0; var nFrames = 0L; var total = 0L
      while (f * FrameSize < r.payload.length) {
        if (f % SampleEvery == 0) {
          nFrames += 1
          var j = 0
          while (j < FrameSize && f * FrameSize + j < r.payload.length) {
            total = (total + (r.payload(f * FrameSize + j) & 0xff).toLong * (j + 1)) % P
            j += 1
          }
        }
        f += 1
      }
      FrameFeatures(r.media_id, r.kind, nFrames, total)
    }
  }

  /** Frame-sampling through the typed partition-local stage, then a
    * relational rollup — the multimodal plumbing for every-k-th-frame
    * extraction (decode itself stays stubbed; the batch shape, schema and
    * sampling arithmetic are real and oracle-replicated). */
  def m03FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir).as[MediaRecord]
    media.mapPartitions(_.map(FrameSampler.sample)).toDF()
      .groupBy($"kind")
      .agg(count(lit(1)).as("n_media"),
           sum($"n_frames").as("total_frames"),
           (sum($"fsum") % FrameSampler.P).as("checksum_agg"))
  }

  /** Content-defined chunking (the storage-dedup primitive: boundaries
    * follow CONTENT, so an insertion only reshapes neighboring chunks,
    * unlike fixed-size framing). Gear-style rule over a 3-byte window:
    * position i ends a chunk when (31·b(i) + 17·b(i−1) + 7·b(i−2)) is
    * divisible by 64 — ~1/64 of positions, expected chunk ≈ 64 bytes. */
  case class CdcChunks(media_id: Long, kind: String, n_bytes: Long,
                       n_chunks: Long, boundary_sum: Long)

  object CdcChunker {
    val P = 1000000007L
    def chunk(r: MediaRecord): CdcChunks = {
      var nChunks = 0L
      var boundarySum = 0L
      var i = 2
      while (i < r.payload.length) {
        val h = 31L * (r.payload(i) & 0xff) +
                17L * (r.payload(i - 1) & 0xff) +
                 7L * (r.payload(i - 2) & 0xff)
        if (h % 64 == 0) { nChunks += 1; boundarySum = (boundarySum + i + 1) % P }
        i += 1
      }
      // the tail after the last boundary is a chunk too (any non-empty doc)
      CdcChunks(r.media_id, r.kind, r.n_bytes,
                nChunks + (if (r.payload.nonEmpty) 1 else 0), boundarySum)
    }
  }

  /** Content-defined chunking through the typed partition-local stage
    * (the imperative byte scan IS the production shape — a rolling hash
    * can't be a Catalyst expression); the oracle replays the 3-byte rule
    * with LAG windows over unnested bytes. */
  def m04CdcChunking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir).as[MediaRecord]
    media.mapPartitions(_.map(CdcChunker.chunk)).toDF()
      .groupBy($"kind")
      .agg(count(lit(1)).as("n_media"),
           sum($"n_chunks").as("total_chunks"),
           (sum($"boundary_sum") % CdcChunker.P).as("boundary_checksum"),
           (sum($"n_bytes").cast("double") / sum($"n_chunks")).as("avg_chunk_bytes"))
  }

  /** Binary-payload exact dedup (d01 for media blobs): md5 over the raw
    * bytes, planted +1e6 copies of every %10==0 blob, duplicate groups
    * reported with their canonical (min) id and reclaimable bytes. One
    * map-side hash + one groupBy — the same shape that dedups a 100 TB
    * image store. */
  def m05BinaryDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = mediaTable(spark, dir).select($"media_id", $"payload", $"n_bytes")
    val withCopies = m.unionByName(
      m.filter($"media_id" % 10 === 0)
        .select(($"media_id" + 1000000L).as("media_id"), $"payload", $"n_bytes"))
    withCopies.groupBy(md5($"payload").as("content_hash"))
      .agg(min($"media_id").as("canonical_id"),
           count(lit(1)).as("n_copies"),
           sum($"n_bytes").as("total_bytes"))
      .filter($"n_copies" > 1)
  }

  /** Fixed-64-byte-block dedup across blobs — the storage-dedup mode m04's
    * content-defined chunking exists to beat: exact blob copies dedup
    * block-for-block, but a ONE-byte prefix shift (planted on every 10th
    * ≡5 blob) realigns every fixed block so none dedup — the shift
    * robustness CDC boundaries provide and fixed blocks don't. Output is
    * the corpus storage report: blob/block counts, unique blocks, the
    * reclaimable ratio, and the per-class accounting that shows exact
    * copies fully reclaimed vs shifted copies not at all. Blocks hash
    * map-side; the only shuffles are the hash-group and the scalar
    * rollup. (Payloads are UTF-8 text here, so byte blocks ≡ char blocks
    * — same device as the m04 oracle's ord(substring) byte replay.) */
  def m06BlockDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 64
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat(lit("x"), $"text").as("text")))
    val blocks = corpus
      .select($"doc_id", $"text", length($"text").cast("long").as("len"))
      .withColumn("b", explode(sequence(lit(0L), expr(s"(len + ${B - 1}) div $B") - 1)))
      .select($"doc_id",
        md5(expr(s"substring(text, CAST(b * $B + 1 AS INT), $B)")).as("h"))
    def clsOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(id >= 2000000L, "shifted_copy")
        .when(id >= 1000000L, "exact_copy")
        .otherwise("original")
    // r19: the per-hash "first blob wins" bookkeeping as a HASH
    // aggregation (per-h class counts + the min doc_id, whose class owns
    // the unique block — ties share a doc_id, hence a class, exactly as
    // the old row_number tie-break) instead of a window: the full sort
    // of every block row by h and the second corpus-wide cls shuffle are
    // gone; what shuffles after the h-agg is one row per distinct block.
    // n_blobs needs no block rows at all — every doc emits ≥ 1 block, so
    // the per-class blob count is a doc-level count over the corpus.
    val perH = blocks.groupBy($"h").agg(
      min($"doc_id").as("min_doc"),
      count(when($"doc_id" < 1000000L, 1)).as("n_orig"),
      count(when($"doc_id" >= 1000000L && $"doc_id" < 2000000L, 1)).as("n_exact"),
      count(when($"doc_id" >= 2000000L, 1)).as("n_shift"))
    val rolled = perH
      .select(clsOf($"min_doc").as("first_cls"), explode(array(
        struct(lit("original").as("cls"), $"n_orig".as("cnt")),
        struct(lit("exact_copy").as("cls"), $"n_exact".as("cnt")),
        struct(lit("shifted_copy").as("cls"), $"n_shift".as("cnt")))).as("e"))
      .select($"first_cls", $"e.cls".as("cls"), $"e.cnt".as("cnt"))
      .filter($"cnt" > 0)
      .groupBy($"cls")
      .agg(sum($"cnt").as("total_blocks"),
        sum(when($"first_cls" === $"cls", 1L).otherwise(0L)).as("unique_blocks"))
    val blobs = corpus.filter($"text".isNotNull)
      .select(clsOf($"doc_id").as("cls"))
      .groupBy($"cls").agg(count(lit(1)).as("n_blobs"))
    blobs.join(rolled, "cls")
      .select($"cls", $"n_blobs", $"total_blocks", $"unique_blocks",
        (($"total_blocks" - $"unique_blocks").cast("double") / $"total_blocks")
          .as("reclaim_ratio"))
  }

  /** m07: perceptual-hash near-dup — the media-dedup mode the exact
    * (m05), fixed-block (m06) and content-defined (m04) forms all miss:
    * a RE-ENCODED copy (here: one byte changed mid-payload, the stub for
    * "same image, different compression") shares no md5 and shifts every
    * downstream block, but its PERCEPTUAL fingerprint barely moves. The
    * stub "decode" samples 32 strided bytes as pixels (deterministic —
    * the codec-free stand-in the real decoder would replace, interface
    * unchanged); the aHash bit b is `pixel_b·32 > Σpixels`
    * (integer-exact mean threshold), and pairing is the d23 pigeonhole
    * device: 4×8-bit bands, hamming ≤ 3 verify in one `bit_count`.
    * Planted exact copies pair at hamming 0; the one-byte re-encodes
    * pair at small hamming; unrelated payloads sit near hamming 16.
    * All integer arithmetic — oracle-exact. */
  def m07PhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          expr("""concat(substr(text, 1, length(text) div 2 - 1), 'z',
                         substr(text, length(text) div 2 + 1))""").as("text")))
    val pixels = expr(
      """transform(sequence(0, 31),
                   i -> ascii(substr(text, 1 + cast((i * length(text)) div 32 as int), 1)))""")
    // cached: 4 band projections + both verify sides read the fingerprint
    val packed = corpus
      .select($"doc_id", pixels.as("px"))
      .withColumn("total", aggregate($"px", lit(0L), (acc, x) => acc + x))
      .withColumn("phash",
        (0 until 32).map(b =>
          when(element_at($"px", b + 1) * 32 > $"total", 1L << b).otherwise(0L))
          .reduce(_ + _))
      .select($"doc_id", $"phash").cache()
    val bands = Dedup.explodeBands(packed, Seq($"doc_id"), (0 until 4).map(b =>
      shiftright($"phash", 8 * b).bitwiseAND(lit(255L))))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id1"), $"y.doc_id".as("id2")).distinct()
    cand
      .join(packed.select($"doc_id".as("id1"), $"phash".as("h1")), "id1")
      .join(packed.select($"doc_id".as("id2"), $"phash".as("h2")), "id2")
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter($"hamming" <= 3)
      .select($"id1", $"id2", $"h1", $"h2", $"hamming")
  }

  /** m08: the SCALE form of [[m07PhashNearDup]] — a full 64-pixel aHash
    * (64 strided sample bytes instead of 32) banded 4×16 bits. The band
    * key space is what makes pigeonhole pairing survive corpus growth:
    * m07's 8-bit bands have 256 possible keys, so every band bucket
    * holds N/256 docs and the self-join trends to Θ(N²/256) candidates
    * per band no matter the content; 16-bit bands give 65,536 keys/band
    * — 256× fewer per-bucket collisions — with the same hamming≤3
    * completeness (3 flips cannot touch all 4 bands). Bits 62/63 make
    * the packed hash NEGATIVE; that is deliberate and oracle-exact:
    * xor / bit_count / arithmetic-shift-then-mask are two's-complement
    * identical in Spark and DuckDB (band masks never cover shift fill
    * bits since 4×16 tiles the long exactly). Still all integer
    * arithmetic — oracle-exact, not rows-only. */
  def m08PhashNearDupWide(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          expr("""concat(substr(text, 1, length(text) div 2 - 1), 'z',
                         substr(text, length(text) div 2 + 1))""").as("text")))
    val pixels = expr(
      """transform(sequence(0, 63),
                   i -> ascii(substr(text, 1 + cast((i * length(text)) div 64 as int), 1)))""")
    val packed = corpus
      .select($"doc_id", pixels.as("px"))
      .withColumn("total", aggregate($"px", lit(0L), (acc, x) => acc + x))
      .withColumn("phash",
        (0 until 64).map(b =>
          when(element_at($"px", b + 1) * 64 > $"total", lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select($"doc_id", $"phash").cache()
    val bands = Dedup.explodeBands(packed, Seq($"doc_id"), (0 until 4).map(b =>
      shiftright($"phash", 16 * b).bitwiseAND(lit(65535L))))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id1"), $"y.doc_id".as("id2")).distinct()
    (cand
      .join(packed.select($"doc_id".as("id1"), $"phash".as("h1")), "id1")
      .join(packed.select($"doc_id".as("id2"), $"phash".as("h2")), "id2")
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter($"hamming" <= 3)
      .select($"id1", $"id2", $"h1", $"h2", $"hamming"),
      // pair-sized result materializes; the fingerprint cache is released
      Seq(packed))
  }

  /** Per-frame perceptual fingerprints over fixed 256-byte frames: the
    * m08 64-pixel aHash strided WITHIN each frame (≥64-byte tail frames
    * kept). One row per (doc_id, frame index, packed 64-bit hash) —
    * shared by the position-locked vote (m09) and the offset-invariant
    * constellation match (m10). */
  private[graft] def frameHashes(corpus: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus
      .select($"doc_id", $"text", length($"text").cast("long").as("len"))
      .withColumn("f", explode(sequence(lit(0L), expr("(len - 1) div 256"))))
      .withColumn("flen", least(lit(256L), $"len" - $"f" * 256))
      .filter($"flen" >= 64)
      .withColumn("px", expr(
        """transform(sequence(0, 63),
             i -> ascii(substr(text,
                    cast(f * 256 + 1 + (i * flen) div 64 as int), 1)))"""))
      .withColumn("total", aggregate($"px", lit(0L), (acc, x) => acc + x))
      .withColumn("fhash",
        (0 until 64).map(b =>
          when(element_at($"px", b + 1) * 64 > $"total", lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select($"doc_id", $"f", $"fhash")
  }

  /** m09: VIDEO near-dup — per-frame perceptual fingerprints, majority
    * vote across the frame sequence. A whole-payload hash (m07/m08) sees
    * one blob; a video is a SEQUENCE, and the realistic duplicate keeps
    * most frames intact while some differ (here: a planted trailing-
    * metadata append — every frame before the tail is byte-identical,
    * the tail frame shifts). Mechanics: fixed 256-byte frames (≥64-byte
    * tail kept), each frame aHashed with the m08 64-pixel device strided
    * WITHIN the frame; candidates come from a pigeonhole band join keyed
    * by (frame_index, band, 16-bit key) — only same-position frames ever
    * join, so the candidate volume is per-frame-corpus-sized, never
    * pairs-of-videos; the verify counts common frame positions within
    * hamming ≤ 3 and keeps pairs whose matched share clears half of the
    * LONGER video. Exact copies score 1.0; trailer variants (F-1)/F;
    * unrelated payloads never clear the vote. All integer until the one
    * final division — oracle-exact. */
  def m09VideoNearDup(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat($"text", lit(" trail-meta-0123456789abcdef")).as("text")))
    val frames = frameHashes(corpus).cache()
    val nf = frames.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    val bands = Dedup.explodeBands(frames, Seq($"doc_id", $"f"),
      (0 until 4).map(b => shiftright($"fhash", 16 * b).bitwiseAND(lit(65535L))))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.f") === col("y.f") && col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
    (cand
      .join(frames.select($"doc_id".as("id1"), $"f", $"fhash".as("h1")), Seq("id1"))
      .join(frames.select($"doc_id".as("id2"), $"f", $"fhash".as("h2")), Seq("id2", "f"))
      .groupBy($"id1", $"id2")
      .agg(sum(when(expr("bit_count(h1 ^ h2)") <= 3, 1L).otherwise(0L)).as("n_matched"))
      .join(nf.select($"doc_id".as("id1"), $"nf".as("nf1")), "id1")
      .join(nf.select($"doc_id".as("id2"), $"nf".as("nf2")), "id2")
      .withColumn("match_frac",
        $"n_matched".cast("double") / greatest($"nf1", $"nf2"))
      .filter($"match_frac" >= 0.5)
      .select($"id1", $"id2", $"nf1", $"nf2", $"n_matched", $"match_frac"),
      // pair-sized vote report materializes; the frame cache is released
      Seq(frames))
  }

  /** Band keys present in more than this many distinct docs are dropped
    * as boilerplate before m10's any-offset band join (the d30 device:
    * caps any key's join fan-out; the planted lead-in "silence" frame is
    * exactly such a key). */
  val MaxKeyDocs = 25

  /** m10: AUDIO near-dup with offset-invariant matching — the Wang 2003
    * (Shazam) constellation device. m09's vote joins frames at the SAME
    * position, so a copy that is merely time-shifted (a prepended
    * lead-in / trimmed intro — here: exactly one 256-byte frame of
    * planted "silence") shares every content frame yet matches at zero
    * positions. The fix is not to relax the hash but to relax the JOIN:
    * candidates pair frames with equal (band, 16-bit key) at ANY
    * position pair, then a true copy reveals itself as many verified
    * matches at ONE consistent offset delta while chance collisions
    * scatter across deltas. Mechanics: band keys in >[[MaxKeyDocs]]
    * docs are dropped first (silence/boilerplate — also what bounds any
    * key's fan-out at corpus scale, the d30 cap device); surviving
    * key-equal frame pairs verify on full-hash hamming ≤ 3; votes
    * group by (pair, delta = f1 - f2); the winning delta is the
    * lexicographic max of (n_aligned, -delta) — deterministic
    * tie-break toward the smaller delta; pairs keep when the aligned
    * count clears half the SHORTER side (integer comparison, the one
    * division happens after). Planted exact copies align at delta 0
    * with share 1.0; the shifted copies at delta -1 with share 1.0 —
    * both invisible to m09's positional vote. All integer until the
    * final division — oracle-exact. */
  def m10AudioOffsetMatch(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    val frames = frameHashes(m10Corpus(spark, dir)).cache()
    // pair/delta-sized match report materializes; frame cache released
    (m10OffsetMatch(frames), Seq(frames))
  }

  /** The m10 fixture corpus: documents plus planted exact copies (every
    * 10th doc) and 256-byte-shifted copies (every 10th+5 doc, one whole
    * frame of prefix padding → alignment at delta -1). */
  private[graft] def m10Corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    base
      .unionByName(base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat(lit("x" * 256), $"text").as("text")))
  }

  /** The m10 downstream, a pure function of the frame-fingerprint table —
    * factored out so the spill path is EXECUTABLE: Round11Spec feeds it
    * the same frames re-read from parquet (the 100 TB materialized-index
    * form, README §"Corpus-sized caches") and proves row-identical
    * output. The in-memory `.cache()` in [[m10AudioOffsetMatch]] is an
    * optimization of re-read, never a correctness dependency. */
  private[graft] def m10OffsetMatch(frames: DataFrame): DataFrame = {
    import frames.sparkSession.implicits._
    val nf = frames.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    // band rows CARRY the full hash (8 bytes/row) so the hamming verify
    // runs inside the band join's output — no join-back of the frame
    // table, and the (id1, f1, id2, f2) distinct dedupes the already-
    // verified (much smaller) set. Verify-then-distinct commutes with
    // distinct-then-verify: hamming is a pure function of the pair.
    val bands = Dedup.explodeBands(frames, Seq($"doc_id", $"f", $"fhash"),
      (0 until 4).map(b => shiftright($"fhash", 16 * b).bitwiseAND(lit(65535L))))
    // the excluded-key set is tiny (only keys shared by >MaxKeyDocs docs)
    // — broadcast the anti join so the band table is shuffled once (for
    // the self-join), not twice
    val common = bands.groupBy($"band", $"bkey")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" > MaxKeyDocs)
      .select($"band", $"bkey")
    val rare = bands.join(broadcast(common), Seq("band", "bkey"), "left_anti")
    val votes = rare.as("x").join(rare.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("x.f").as("f1"),
        col("y.doc_id").as("id2"), col("y.f").as("f2"),
        col("x.fhash").as("h1"), col("y.fhash").as("h2"))
      .filter(expr("bit_count(h1 ^ h2)") <= 3)
      .select($"id1", $"f1", $"id2", $"f2").distinct()
      .groupBy($"id1", $"id2", ($"f1" - $"f2").as("delta"))
      .agg(count(lit(1)).as("n_aligned"))
    votes
      .groupBy($"id1", $"id2")
      .agg(max(struct($"n_aligned", (-$"delta").as("nd"))).as("b"))
      .select($"id1", $"id2", $"b.n_aligned".as("n_aligned"),
        (-$"b.nd").as("best_delta"))
      .join(nf.select($"doc_id".as("id1"), $"nf".as("nf1")), "id1")
      .join(nf.select($"doc_id".as("id2"), $"nf".as("nf2")), "id2")
      .filter($"n_aligned" * 2 >= least($"nf1", $"nf2"))
      .select($"id1", $"id2", $"nf1", $"nf2", $"best_delta", $"n_aligned",
        ($"n_aligned".cast("double") / least($"nf1", $"nf2")).as("align_frac"))
  }

  val queries: Map[String, Q] = Map(
    "m10_audio_offset_match" -> m10AudioOffsetMatch _,
    "m09_video_neardup" -> m09VideoNearDup _,
    "m08_phash_neardup_wide" -> m08PhashNearDupWide _,
    // m07 (8-bit-band aHash) demoted to spec-only in r9: 256-key
    // pigeonhole banding is the teaching form (Θ(N²/256) candidates) and
    // was the slowest non-streaming bench entry for it; m08 is the
    // graded wide form. Round7Spec still pins m07's planted recall.
    "m06_block_dedup" -> m06BlockDedup _,
    "m01_media_meta"     -> m01MediaMeta _,
    "m02_media_features" -> m02MediaFeatures _,
    "m03_frame_sample"   -> m03FrameSample _,
    "m04_cdc_chunking"   -> m04CdcChunking _,
    "m05_binary_dedup"   -> m05BinaryDedup _,
  )

  private val kindSql =
    "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]"

  val oracles: Map[String, String] = Map(
    // per-frame aHash + ANY-offset pigeonhole bands (boilerplate keys
    // dropped) + offset-delta vote; QUALIFY row_number replays the
    // (n_aligned DESC, delta ASC) lexicographic argmax of the Spark
    // max(struct(n_aligned, -delta)) device
    "m10_audio_offset_match" -> {
      val packSql = (0 until 64).map(b =>
        s"(CASE WHEN px[${b + 1}] * 64 > total THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000, repeat('x', 256) || text
            FROM documents WHERE doc_id % 10 = 5),
          lens AS (SELECT doc_id, text, length(text) AS len FROM corpus),
          fr AS (
            SELECT doc_id, text, len,
                   unnest(range(0, (len - 1) // 256 + 1)) AS f
            FROM lens),
          fl AS (
            SELECT doc_id, text, f, LEAST(256, len - f * 256) AS flen
            FROM fr WHERE LEAST(256, len - f * 256) >= 64),
          pix AS (
            SELECT doc_id, f,
                   list_transform(range(0, 64),
                     i -> ascii(substr(text,
                            CAST(f * 256 + 1 + (i * flen) // 64 AS INT), 1))) AS px
            FROM fl),
          fp AS (
            SELECT doc_id, f, CAST($packSql AS BIGINT) AS fhash
            FROM (SELECT doc_id, f, px,
                         list_reduce(list_prepend(0, px), (a, b) -> a + b) AS total
                  FROM pix)),
          nf AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY 1),
          bands AS (
            ${(0 until 4).map(b =>
              s"SELECT doc_id, f, $b AS band, (fhash >> ${16 * b}) & 65535 AS bkey FROM fp")
              .mkString("\n            UNION ALL\n            ")}),
          common AS (
            SELECT band, bkey FROM bands
            GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) > $MaxKeyDocs),
          rare AS (
            SELECT b.* FROM bands b
            WHERE NOT EXISTS (SELECT 1 FROM common c
                              WHERE c.band = b.band AND c.bkey = b.bkey)),
          cand AS (
            SELECT DISTINCT x.doc_id AS id1, x.f AS f1,
                            y.doc_id AS id2, y.f AS f2
            FROM rare x JOIN rare y
              ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
          votes AS (
            SELECT c.id1, c.id2, c.f1 - c.f2 AS delta, COUNT(*) AS n_aligned
            FROM cand c
            JOIN fp a ON a.doc_id = c.id1 AND a.f = c.f1
            JOIN fp b ON b.doc_id = c.id2 AND b.f = c.f2
            WHERE bit_count(xor(a.fhash, b.fhash)) <= 3
            GROUP BY 1, 2, 3),
          best AS (
            SELECT id1, id2, n_aligned, delta
            FROM votes
            QUALIFY ROW_NUMBER() OVER (PARTITION BY id1, id2
                                       ORDER BY n_aligned DESC, delta ASC) = 1)
          SELECT b.id1, b.id2, n1.nf AS nf1, n2.nf AS nf2,
                 b.delta AS best_delta, CAST(b.n_aligned AS BIGINT) AS n_aligned,
                 CAST(b.n_aligned AS DOUBLE) / LEAST(n1.nf, n2.nf) AS align_frac
          FROM best b
          JOIN nf n1 ON n1.doc_id = b.id1
          JOIN nf n2 ON n2.doc_id = b.id2
          WHERE b.n_aligned * 2 >= LEAST(n1.nf, n2.nf)"""
    },
    // per-frame aHash + same-position pigeonhole bands + majority vote
    "m09_video_neardup" -> {
      val packSql = (0 until 64).map(b =>
        s"(CASE WHEN px[${b + 1}] * 64 > total THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000, text || ' trail-meta-0123456789abcdef'
            FROM documents WHERE doc_id % 10 = 5),
          lens AS (SELECT doc_id, text, length(text) AS len FROM corpus),
          fr AS (
            SELECT doc_id, text, len,
                   unnest(range(0, (len - 1) // 256 + 1)) AS f
            FROM lens),
          fl AS (
            SELECT doc_id, text, f, LEAST(256, len - f * 256) AS flen
            FROM fr WHERE LEAST(256, len - f * 256) >= 64),
          pix AS (
            SELECT doc_id, f,
                   list_transform(range(0, 64),
                     i -> ascii(substr(text,
                            CAST(f * 256 + 1 + (i * flen) // 64 AS INT), 1))) AS px
            FROM fl),
          fp AS (
            SELECT doc_id, f, CAST($packSql AS BIGINT) AS fhash
            FROM (SELECT doc_id, f, px,
                         list_reduce(list_prepend(0, px), (a, b) -> a + b) AS total
                  FROM pix)),
          nf AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY 1),
          bands AS (
            ${(0 until 4).map(b =>
              s"SELECT doc_id, f, $b AS band, (fhash >> ${16 * b}) & 65535 AS bkey FROM fp")
              .mkString("\n            UNION ALL\n            ")}),
          cand AS (
            SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            FROM bands x JOIN bands y
              ON x.f = y.f AND x.band = y.band AND x.bkey = y.bkey
             AND x.doc_id < y.doc_id),
          vote AS (
            SELECT c.id1, c.id2,
                   CAST(SUM(CASE WHEN bit_count(xor(a.fhash, b.fhash)) <= 3
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
            FROM cand c
            JOIN fp a ON a.doc_id = c.id1
            JOIN fp b ON b.doc_id = c.id2 AND b.f = a.f
            GROUP BY 1, 2)
          SELECT v.id1, v.id2, n1.nf AS nf1, n2.nf AS nf2, v.n_matched,
                 CAST(v.n_matched AS DOUBLE) / GREATEST(n1.nf, n2.nf) AS match_frac
          FROM vote v
          JOIN nf n1 ON n1.doc_id = v.id1
          JOIN nf n2 ON n2.doc_id = v.id2
          WHERE CAST(v.n_matched AS DOUBLE) / GREATEST(n1.nf, n2.nf) >= 0.5"""
    },
    // the 64-pixel / 4×16-bit-band wide form; the ${1L << 63} term
    // renders as the INT64_MIN literal, which DuckDB parses as BIGINT,
    // and partial sums of distinct powers of two never overflow (bits
    // 0..62 sum to at most INT64_MAX; adding the negative bit-63 term
    // stays in range)
    "m08_phash_neardup_wide" -> {
      val packSql = (0 until 64).map(b =>
        s"(CASE WHEN px[${b + 1}] * 64 > total THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000,
                   substr(text, 1, length(text) // 2 - 1) || 'z' ||
                   substr(text, length(text) // 2 + 1)
            FROM documents WHERE doc_id % 10 = 5),
          pix AS (
            SELECT doc_id,
                   list_transform(range(0, 64),
                     i -> ascii(substr(text,
                            1 + CAST((i * length(text)) // 64 AS INT), 1))) AS px
            FROM corpus),
          fp AS (
            SELECT doc_id, CAST($packSql AS BIGINT) AS phash
            FROM (SELECT doc_id, px,
                         list_reduce(list_prepend(0, px), (a, b) -> a + b) AS total
                  FROM pix)),
          bands AS (
            ${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, (phash >> ${16 * b}) & 65535 AS bkey FROM fp")
              .mkString("\n            UNION ALL\n            ")}),
          cand AS (
            SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
          SELECT c.id1, c.id2, a.phash AS h1, b.phash AS h2,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM cand c
          JOIN fp a ON a.doc_id = c.id1
          JOIN fp b ON b.doc_id = c.id2
          WHERE bit_count(xor(a.phash, b.phash)) <= 3"""
    },
    "m06_block_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, 'x' || text FROM documents WHERE doc_id % 10 = 5),
         idx AS (
           SELECT doc_id, text, length(text) AS len,
                  unnest(range(0, (length(text) + 63) // 64)) AS b
           FROM corpus),
         blocks AS (
           SELECT doc_id, md5(substring(text, CAST(b * 64 + 1 AS INT), 64)) AS h
           FROM idx),
         flagged AS (
           SELECT doc_id, h,
                  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
                  CASE WHEN doc_id >= 2000000 THEN 'shifted_copy'
                       WHEN doc_id >= 1000000 THEN 'exact_copy'
                       ELSE 'original' END AS cls
           FROM blocks)
         SELECT cls, COUNT(DISTINCT doc_id) AS n_blobs,
                COUNT(*) AS total_blocks,
                CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS unique_blocks,
                CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*) AS reclaim_ratio
         FROM flagged GROUP BY 1""",
    // md5 of the UTF-8 payload bytes == md5 of the source text (ASCII
    // corpus; same device the d01 oracle uses)
    "m05_binary_dedup" ->
      """WITH media AS (
           SELECT doc_id AS media_id, md5(text) AS h,
                  octet_length(encode(text)) AS n_bytes
           FROM documents
           UNION ALL
           SELECT doc_id + 1000000, md5(text), octet_length(encode(text))
           FROM documents WHERE doc_id % 10 = 0)
         SELECT h AS content_hash, MIN(media_id) AS canonical_id,
                COUNT(*) AS n_copies, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
         FROM media GROUP BY h HAVING COUNT(*) > 1""",
    "m01_media_meta" ->
      s"""SELECT doc_id AS media_id, $kindSql AS kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks,
          -- first 8 bytes hexed = first 16 hex chars (ASCII corpus)
          upper(hex(encode(substring(text, 1, 8)))) AS head_hex
          FROM documents""",
    "m02_media_features" ->
      s"""WITH bytes AS (
            -- ord() walks text code points, which equals the UTF-8 byte
            -- value ONLY for ASCII; the Spark stub sums real bytes. The
            -- corpus is ASCII (documented assumption, ADVICE r1).
            SELECT doc_id,
                   unnest(range(1, octet_length(encode(text)) + 1)) AS i,
                   unnest(list_transform(range(1, octet_length(encode(text)) + 1),
                          j -> ord(substring(text, j, 1)))) AS byte_val
            FROM documents),
          sums AS (
            SELECT doc_id, SUM(byte_val * i) % 1000000007 AS checksum
            FROM bytes GROUP BY doc_id),
          per_doc AS (
            -- LEFT JOIN: zero-length payloads keep a row (checksum 0),
            -- matching the Spark mapPartitions stage which emits every record
            SELECT d.doc_id, $kindSql AS kind,
                   octet_length(encode(d.text)) AS n_bytes,
                   COALESCE(s.checksum, 0) AS checksum
            FROM documents d LEFT JOIN sums s USING (doc_id))
          SELECT kind, COUNT(*) AS n_media,
                 CAST(SUM((n_bytes + 255) // 256) AS BIGINT) AS total_chunks,
                 CAST(SUM(checksum) % 1000000007 AS BIGINT) AS checksum_agg
          FROM per_doc GROUP BY kind""",
    // same ASCII-corpus assumption as m02 (ord == UTF-8 byte); SQL i is
    // the 1-based byte position = the Scala scan's index+1, and the LAG
    // pair aligns the 3-byte window exactly
    "m04_cdc_chunking" ->
      s"""WITH bytes AS (
            SELECT doc_id,
                   unnest(range(1, octet_length(encode(text)) + 1)) AS i,
                   unnest(list_transform(range(1, octet_length(encode(text)) + 1),
                          j -> ord(substring(text, j, 1)))) AS byte_val
            FROM documents),
          lagged AS (
            SELECT doc_id, i, byte_val,
                   LAG(byte_val, 1) OVER w AS b1,
                   LAG(byte_val, 2) OVER w AS b2
            FROM bytes
            WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
          bnd AS (
            SELECT doc_id, COUNT(*) AS nb,
                   CAST(SUM(i) % ${CdcChunker.P} AS BIGINT) AS bsum
            FROM lagged
            WHERE b2 IS NOT NULL
              AND (31 * byte_val + 17 * b1 + 7 * b2) % 64 = 0
            GROUP BY doc_id),
          per_doc AS (
            SELECT d.doc_id, $kindSql AS kind,
                   octet_length(encode(d.text)) AS n_bytes,
                   COALESCE(b.nb, 0)
                     + CASE WHEN octet_length(encode(d.text)) > 0 THEN 1 ELSE 0 END
                     AS n_chunks,
                   COALESCE(b.bsum, 0) AS boundary_sum
            FROM documents d LEFT JOIN bnd b USING (doc_id))
          SELECT kind, COUNT(*) AS n_media,
                 CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
                 CAST(SUM(boundary_sum) % ${CdcChunker.P} AS BIGINT) AS boundary_checksum,
                 CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_chunks) AS avg_chunk_bytes
          FROM per_doc GROUP BY kind""",
    "m03_frame_sample" ->
      s"""WITH bytes AS (
            -- same ASCII-corpus assumption as m02 (ord == UTF-8 byte)
            SELECT doc_id,
                   unnest(range(1, octet_length(encode(text)) + 1)) AS i,
                   unnest(list_transform(range(1, octet_length(encode(text)) + 1),
                          j -> ord(substring(text, j, 1)))) AS byte_val
            FROM documents),
          framed AS (
            SELECT doc_id, (i - 1) // 256 AS f,
                   (i - 1) % 256 + 1 AS pos_in_frame, byte_val
            FROM bytes WHERE ((i - 1) // 256) % 4 = 0),
          per_doc AS (
            SELECT doc_id, COUNT(DISTINCT f) AS n_frames,
                   SUM(byte_val * pos_in_frame) % 1000000007 AS fsum
            FROM framed GROUP BY doc_id)
          SELECT $kindSql AS kind, COUNT(*) AS n_media,
                 CAST(SUM(COALESCE(n_frames, 0)) AS BIGINT) AS total_frames,
                 CAST(SUM(COALESCE(fsum, 0)) % 1000000007 AS BIGINT) AS checksum_agg
          FROM documents d LEFT JOIN per_doc USING (doc_id)
          GROUP BY 1""",
  )
}
