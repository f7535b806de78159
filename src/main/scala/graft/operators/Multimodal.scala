package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.EngineFns.{hash31, hash31Digest, hash31Sql, tokens}

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, decode / feature-extraction via `mapPartitions`
  * over a typed Dataset (the Scala analog of mapInPandas batch UDFs), and
  * frame sampling via sequence + explode.
  *
  * The container has no image/audio codecs and the corpus ships no media
  * blobs, so mm_decode SYNTHESIZES payloads in-plan: a real PNG
  * signature + big-endian IHDR-style dimensions, or a real RIFF/WAVE
  * header + little-endian sample rate, followed by the document's text
  * bytes. `HeaderCodec.decode` then does what actual media metadata
  * extraction does — magic-byte sniffing and endian-aware field parsing
  * over raw bytes — and the oracle recomputes the planted ground truth
  * from `documents` directly, so a parser bug is a correctness failure.
  * A production deployment swaps the synthetic payload column for real
  * blobs and extends decode() to full-frame decoding; the mapPartitions
  * plumbing (schema, batching, partitioning) is unchanged.
  */
object Multimodal {

  /** Adjacent-frame energy jump (out of 1000) that counts as a scene
    * cut — |delta| > 600 fires on ~16% of uniform frame pairs. */
  private val SceneCutThreshold = 600L

  /** Silence threshold: a frame is quiet when its integer energy
    * satisfies sum_sq < SilenceThresh * n_samples (exact — no division);
    * 2015 sits at the corpus median of mean_sq. */
  private val SilenceThresh = 2015L

  /** Content-defined chunking knobs (mm_cdc_match): a boundary opens
    * where the md5-derived h31 of the 4-byte window ≡ 0 mod 32
    * (expected chunk ≈ 32 bytes); chunks shorter than 8 bytes are
    * dropped (micro-chunk noise), a chunk hash in more than 50 docs is
    * viral boilerplate (stop-chunk cap), and a match needs ≥ 4 shared
    * chunk hashes. */
  private val CdcBoundaryMod = 32L
  private val CdcMinChunkLen = 8
  private val CdcMaxChunkDf = 50
  private val CdcMinShared = 4L

  /** (doc_id, ch): distinct md5 chunk ids of each WAV payload body
    * under content-defined boundaries — shared by mm_cdc_match and its
    * PipelineOpsSpec shift-robustness proof. Map-only: one reused
    * MessageDigest per partition, one pass over the body bytes per doc
    * (~len/32 chunk hashes out). The open tail chunk (last boundary →
    * end) is dropped, mirroring the oracle's lead()-NULL filter. */
  private[graft] def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunks(s, dir, wavOnly = true)

  /** wavOnly=false chunks EVERY payload body: the PNG and WAV synthetic
    * headers are both 16 bytes, so the content-defined boundaries read
    * the same body offsets either way (mm_contamination wants media
    * evidence for the full corpus, not just the audio half). */
  private[graft] def cdcChunks(s: SparkSession, dir: String,
      wavOnly: Boolean): DataFrame = {
    import s.implicits._
    val base = docs(s, dir)
    (if (wavOnly) base.filter(col("doc_id") % 2 === 1) else base)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaIn]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h31(b: Array[Byte], off: Int, len: Int): Long = {
          md.reset(); md.update(b, off, len)
          hash31Digest(md.digest())
        }
        def hex(d: Array[Byte]): String = {
          val sb = new java.lang.StringBuilder(32)
          var i = 0
          while (i < d.length) {
            sb.append(Character.forDigit((d(i) & 0xf0) >> 4, 16))
            sb.append(Character.forDigit(d(i) & 0x0f, 16))
            i += 1
          }
          sb.toString
        }
        it.flatMap { in =>
          val b = in.payload
          val body = 16 // header bytes; the chunked signal is the body
          val bodyLen = b.length - body
          // boundaries: body offset 0, plus every full-window position
          // whose local hash lands on the modulus
          val bs = collection.mutable.ArrayBuffer(0)
          var p = 1
          while (p < bodyLen - 3) {
            if (h31(b, body + p, 4) % CdcBoundaryMod == 0L) bs += p
            p += 1
          }
          val out = collection.mutable.ArrayBuffer.empty[(Long, String)]
          var k = 0
          while (k < bs.length - 1) {
            val lo = bs(k)
            val hi = bs(k + 1)
            if (hi - lo >= CdcMinChunkLen) {
              md.reset(); md.update(b, body + lo, hi - lo)
              out += ((in.doc_id, hex(md.digest())))
            }
            k += 1
          }
          out
        }
      }
      .toDF("doc_id", "ch")
      .distinct()
  }

  /** Audio frame energies (doc_id, frame_idx, sum_sq, n_samples) over
    * the WAV payload bodies as centered u8 PCM, 4 equal frames per clip
    * — shared by mm_audio_energy and mm_silence_segments so the energy
    * both report is computed once, by one parser. mapPartitions over the
    * typed Dataset: map-only, 4 rows out per clip at any scale. */
  private def audioFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaIn]
      .mapPartitions(_.flatMap { in =>
        val b = in.payload
        val L = b.length - 16
        (0 until 4).map { f =>
          val lo = 16 + (L.toLong * f / 4).toInt
          val hi = 16 + (L.toLong * (f + 1) / 4).toInt
          val ss = (lo until hi).map { j =>
            val v = (b(j) & 0xff).toLong - 128L; v * v
          }.sum
          (in.doc_id, f.toLong, ss, (hi - lo).toLong)
        }
      })
      .toDF("doc_id", "frame_idx", "sum_sq", "n_samples")
  }

  /** The sampled frame stream with its deterministic per-frame energy —
    * shared by mm_scene_cut and mm_keyframe so segmentation and keyframe
    * selection can never disagree about the frames. The md5 energy is
    * the documented decode stand-in (see mm_scene_cut). */
  private def frameEnergies(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0L), pmod(col("n_chars"), lit(10L))))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long"),
        (hash31(concat(lit("scene|"), col("doc_id").cast("string"),
          lit(":"), col("frame_idx").cast("string"))) % 1000L)
          .as("energy"))

  /** Typed record for the decode stage. */
  final case class MediaIn(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(
      doc_id: Long, format: String, width: Long, height: Long,
      sample_rate: Long, n_payload_bytes: Long)

  /** Real header parsing over raw bytes: PNG signature (8 bytes) +
    * 4-byte big-endian width/height, or RIFF....WAVE + 4-byte
    * little-endian sample rate. Unknown magic falls through with the
    * byte count only — never throws. */
  object HeaderCodec {
    private val PngMagic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    private def be32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def hasPrefix(b: Array[Byte], p: Array[Byte], off: Int): Boolean =
      b.length >= off + p.length &&
        p.indices.forall(i => b(off + i) == p(i))

    def decode(in: MediaIn): MediaMeta = {
      val b = in.payload
      if (hasPrefix(b, PngMagic, 0) && b.length >= 16)
        MediaMeta(in.doc_id, "png", be32(b, 8), be32(b, 12), 0L, b.length - 16L)
      else if (hasPrefix(b, "RIFF".getBytes, 0) &&
          hasPrefix(b, "WAVE".getBytes, 8) && b.length >= 16)
        MediaMeta(in.doc_id, "wav", 0L, 0L, le32(b, 12), b.length - 16L)
      else
        MediaMeta(in.doc_id, "unknown", 0L, 0L, 0L, b.length.toLong)
    }
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Per-payload 16-bit block-mean perceptual hash (doc_id, format,
    * phash) — the signature shared by mm_phash (exact-dup grouping) and
    * mm_phash_neardup (Hamming-blocked near-dup pairs). All-integer
    * comparisons (segSum/segLen > total/L cross-multiplied), so the
    * signature is bit-identical in any engine. */
  private def phashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaIn]
      .mapPartitions(_.map { in =>
        val b = in.payload
        val L = b.length - 16
        val total = (16 until b.length).map(i => (b(i) & 0xff).toLong).sum
        var h = 0L
        for (i <- 0 until 16) {
          val lo = 16 + (L.toLong * i / 16).toInt
          val hi = 16 + (L.toLong * (i + 1) / 16).toInt
          val segSum = (lo until hi).map(j => (b(j) & 0xff).toLong).sum
          // segSum/segLen > total/L without division:
          if (segSum * L > total * (hi - lo)) h |= (1L << i)
        }
        (in.doc_id, if (in.doc_id % 2 == 0) "png" else "wav", h)
      })
      .toDF("doc_id", "format", "phash")
  }

  /** DuckDB replay of phashSigs (body = the ASCII text bytes behind the
    * 16-byte header): CTEs `b` and `sig`, shared by both phash oracles
    * so the signature arithmetic can never drift. */
  private val PhashSigCte: String =
    """b AS (
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
           list_transform(range(1, length(text) + 1),
             i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS cs,
           CAST(length(text) AS BIGINT) AS L
         FROM documents),
       sig AS (
         SELECT doc_id, format,
           CAST(list_sum(list_transform(range(0, 16), i ->
             CASE WHEN list_sum(cs[CAST(L * i // 16 AS INTEGER) + 1 :
                                   CAST(L * (i + 1) // 16 AS INTEGER)]) * L
                       > list_sum(cs) * (L * (i + 1) // 16 - L * i // 16)
                  THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END))
             AS BIGINT) AS phash
         FROM b)"""

  /** Wide (60-bit) perceptual hash (doc_id, format, phash) — the
    * PRODUCTION-scale media signature: a simhash over the payload body's
    * byte 4-grams. Content-anchored features are the load-bearing design
    * choice: a byte inserted near the front of a blob shifts every later
    * offset, so OFFSET-anchored features (the 16-bit block-mean
    * phashSigs scaled to 60 segments) flip ~20 of 60 bits on a planted
    * near-dup — measured on this corpus, radius-3 search finds nothing —
    * while the 4-gram multiset barely changes, putting true near-dups at
    * Hamming 0-3 and unrelated blobs at ~30 (real image pHash gets the
    * same robustness from fixed-grid resampling before the DCT). The
    * signature space is 2^60, so it cannot saturate the way the 16-bit
    * form does (round-5 verdict: 2^16 values ⇒ ~N²/8 candidate pairs);
    * 60 bits rather than 64 keeps the top nibble clear — the BIGINT
    * stays non-negative on both engines, so arithmetic shifts and the
    * oracle's `<<` never touch the sign bit (the dedup_simhash_wide
    * rationale). Per-gram hashes are md5-derived exactly like
    * EngineFns.hash31 (first 15 hex chars → bigint → mod 2^31-1), votes
    * carry gram multiplicity, and everything is integer — bit-identical
    * in any engine. Map-only: one pass over the payload bytes per doc,
    * one MessageDigest reused per partition, no explode. */
  private def phashWideSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaIn]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h31(bytes: Array[Byte]): Long = { md.reset(); hash31Digest(md.digest(bytes)) }
        it.map { in =>
          val b = in.payload
          val votes = new Array[Int](60)
          val gram = new Array[Byte](4)
          val gramX = new Array[Byte](5)
          gramX(0) = 'x'
          var i = 16
          while (i + 3 < b.length) {
            System.arraycopy(b, i, gram, 0, 4)
            System.arraycopy(b, i, gramX, 1, 4)
            val h1 = h31(gram)
            val h2 = h31(gramX)
            var j = 0
            while (j < 60) {
              val bit =
                if (j < 30) (h1 >> j) & 1L else (h2 >> (j - 30)) & 1L
              votes(j) += (if (bit == 1L) 1 else -1)
              j += 1
            }
            i += 1
          }
          var h = 0L
          var j = 0
          while (j < 60) {
            if (votes(j) > 0) h |= (1L << j)
            j += 1
          }
          (in.doc_id, if (in.doc_id % 2 == 0) "png" else "wav", h)
        }
      }
      .toDF("doc_id", "format", "phash")
  }

  /** DuckDB replay of phashWideSigs (body = the ASCII text bytes behind
    * the 16-byte header; every corpus doc is ≥ 4 bytes, so every doc has
    * grams): CTEs `g`/`h`/`v`/`sig`, shared by the wide signature and
    * wide near-dup oracles so the gram arithmetic can never drift. */
  private val PhashWideSigCte: String =
    s"""g AS (
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
           substr(text, CAST(i AS INTEGER), 4) AS t
         FROM documents, LATERAL
           (SELECT unnest(range(1, length(text) - 2)) AS i) ix),
       h AS (
         SELECT doc_id, format,
           ${hash31Sql("t")} AS h1,
           ${hash31Sql("concat('x', t)")} AS h2
         FROM g),
       v AS (
         SELECT doc_id, format, j,
           sum(CASE WHEN ((CASE WHEN j < 30 THEN h1 >> CAST(j AS INTEGER)
                                ELSE h2 >> CAST(j - 30 AS INTEGER) END)
                          & 1) = 1
                    THEN 1 ELSE -1 END) AS vote
         FROM h, (SELECT unnest(range(0, 60)) AS j) js
         GROUP BY doc_id, format, j),
       sig AS (
         SELECT doc_id, format,
           CAST(sum(CASE WHEN vote > 0
                         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                         ELSE 0 END) AS BIGINT) AS phash
         FROM v GROUP BY doc_id, format)"""

  /** Same-format Hamming-blocked candidate pairs over a (doc_id, format,
    * phash) signature relation — the pigeonhole discipline shared by the
    * 16-bit baseline, the wide near-dup, and the media cluster collapse:
    * nChunks chunks of chunkBits bits, candidates from a (format, chunk
    * idx, chunk value) equi-join (radius <= nChunks-1 guarantees one
    * equal chunk), each qualifying pair emitted exactly once at its
    * FIRST equal chunk, exact Hamming filtered to [minHam, maxHam]. */
  private def phashChunkPairs(sig: DataFrame, nChunks: Int, chunkBits: Int,
      minHam: Int, maxHam: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    // chunk keys materialized ONCE (r14): the signature pipeline
    // (payload decode + hash votes) otherwise runs twice — once per join
    // side; the checkpointed slim (doc_id, format, phash, k, ck)
    // relation feeds both sides.
    val chunks = sig
      .select(col("doc_id"), col("format"), col("phash"),
        explode(expr(s"sequence(0, ${nChunks - 1})")).as("k"))
      .withColumn("ck", expr(s"shiftright(phash, $chunkBits*k) & $mask"))
      .transform(Tables.materialize)
    val a = chunks.select(col("format"), col("k"), col("ck"),
      col("doc_id").as("a_id"), col("phash").as("pa"))
    val b = chunks.select(col("format"), col("k"), col("ck"),
      col("doc_id").as("b_id"), col("phash").as("pb"))
    a.join(b, Seq("format", "k", "ck"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
      .filter(col("hamming").between(minHam, maxHam))
      // first-equal-chunk rule: emit only where k is the smallest index
      // at which the two signatures agree
      .filter(expr(s"""k = array_min(filter(sequence(0, ${nChunks - 1}),
                i -> (shiftright(pa, $chunkBits*i) & $mask)
                   = (shiftright(pb, $chunkBits*i) & $mask)))"""))
      .select(col("format"), col("a_id"), col("b_id"), col("hamming"))
  }

  /** Synthesized media payload: a real PNG or RIFF/WAVE header (planted
    * dimensions / sample rate) in front of the text bytes, built with
    * codegen'd byte/hex expressions. Shared by mm_decode (in-plan) and
    * mm_decode_io (parquet round-trip). */
  private def payloadCol: org.apache.spark.sql.Column = {
    def be32(c: String) = s"lpad(hex($c), 8, '0')"
    // parenthesize every $c substitution: the interpolated expression
    // would otherwise rebind under div/% precedence
    def le32(c: String) =
      s"""concat(lpad(hex(($c) % 256), 2, '0'),
                 lpad(hex((($c) div 256) % 256), 2, '0'),
                 lpad(hex((($c) div 65536) % 256), 2, '0'),
                 lpad(hex((($c) div 16777216) % 256), 2, '0'))"""
    expr(s"""
      CASE WHEN doc_id % 2 = 0
        THEN concat(unhex('89504E470D0A1A0A'),
                    unhex(${be32("n_chars % 512 + 64")}),
                    unhex(${be32("doc_id % 512 + 64")}),
                    cast(text as binary))
        ELSE concat(unhex('52494646'),
                    unhex(${le32("octet_length(cast(text as binary)) + 8")}),
                    unhex('57415645'),
                    unhex(${le32("8000 + (doc_id % 4) * 11025")}),
                    cast(text as binary))
      END""")
  }

  /** The mm_decode ground-truth oracle — shared by the in-plan and the
    * parquet-round-trip forms so the two cannot drift apart. */
  private val DecodeOracleSql: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
         CASE WHEN doc_id % 2 = 0 THEN n_chars % 512 + 64 ELSE 0 END AS width,
         CASE WHEN doc_id % 2 = 0 THEN doc_id % 512 + 64 ELSE 0 END AS height,
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8000 + (doc_id % 4) * 11025 END AS sample_rate,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_payload_bytes
       FROM documents ORDER BY doc_id"""

  // scratch for the BinaryType round-trip, reused across invocations
  private lazy val ioScratch: String = graft.jvmScratchDir("graft_mm_io").toString

  val defs: Seq[QueryDef] = Seq(

    // Binary column + metadata extraction (byte length, magic bytes).
    QueryDef(
      "mm_meta",
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
            upper(hex(substring(col("text").cast("binary"), 1, 4))).as("magic"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
                upper(hex(CAST(substr(text, 1, 4) AS BLOB))) AS magic
              FROM documents ORDER BY doc_id""")),

    // Frame sampling: one row per sampled frame index (sequence + explode).
    QueryDef(
      "mm_frame_sample",
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            explode(sequence(lit(0L), pmod(col("n_chars"), lit(10L))))
              .as("frame_idx"))
          .select(col("doc_id"), col("frame_idx").cast("long"))
          .orderBy("doc_id", "frame_idx"),
      Some("""SELECT doc_id, CAST(unnest(range(0, n_chars % 10 + 1)) AS BIGINT) AS frame_idx
              FROM documents ORDER BY doc_id, frame_idx""")),

    // Batch decode via mapPartitions over a typed Dataset: synthesize a
    // real PNG or RIFF/WAVE header (planted dimensions / sample rate) in
    // front of the text bytes in-plan, then parse it back with
    // HeaderCodec. Partition-parallel, no shuffle; the oracle recomputes
    // the planted ground truth, so the byte-level parser is
    // correctness-gated.
    QueryDef(
      "mm_decode",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select(col("doc_id"), payloadCol.as("payload"))
          .as[MediaIn]
          .mapPartitions(_.map(HeaderCodec.decode))
          .toDF()
          .orderBy("doc_id")
      },
      Some(DecodeOracleSql)),

    // The same decode driven through a REAL BinaryType parquet round-trip
    // (round-2 advice: the in-plan form never exercised binary-column
    // I/O end-to-end): payloads are written to a scratch parquet as a
    // `binary` column, read back from disk, and decoded from the file
    // bytes. This is exactly the production shape — media blobs living
    // in parquet beside typed metadata — and the oracle recomputes the
    // planted ground truth, so a byte mangled anywhere in the
    // write→read→parse path is a correctness failure.
    QueryDef(
      "mm_decode_io",
      (s, dir) => {
        import s.implicits._
        val path = s"$ioScratch/media"
        docs(s, dir)
          .select(col("doc_id"), payloadCol.as("payload"))
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .as[MediaIn]
          .mapPartitions(_.map(HeaderCodec.decode))
          .toDF()
          .orderBy("doc_id")
      },
      Some(DecodeOracleSql)),

    // The decode driven from Spark's binaryFile SOURCE — the layout real
    // media corpora arrive in (one file per blob on shared storage,
    // id in the filename). Payloads are written file-per-blob from the
    // executors (partition-parallel, the shape of a distributed media
    // exporter), then read back with format("binaryFile") — path /
    // length / content columns — the id parsed from the path and the
    // bytes parsed by the same HeaderCodec. Reading packs small files
    // into splits via maxPartitionBytes + openCostInBytes, so 10^9
    // small blobs do not mean 10^9 tasks. The oracle recomputes the
    // planted ground truth: a byte mangled anywhere in the
    // export→list→read→parse path is a correctness failure.
    QueryDef(
      "mm_binary_source",
      (s, dir) => {
        import s.implicits._
        // per-sf subdir: the same JVM verifies/benches several sf dirs,
        // and file-per-blob dirs (unlike parquet) have no overwrite
        // mode. Keyed on the sanitized full dir path (a 32-bit hashCode
        // can collide across sf dirs) and cleared before export, so a
        // regenerated or shrunk corpus at the same path never leaves
        // stale doc_* blobs for the binaryFile read to sweep back in.
        val path = s"$ioScratch/files_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        val pathP = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.isDirectory(pathP)) {
          // depth-first walk: a stray subdirectory (e.g. a crashed
          // writer's _temporary dir) must be cleared recursively — a
          // flat Files.delete would throw DirectoryNotEmptyException
          // and fail the query before the export even starts
          val old = java.nio.file.Files.walk(pathP)
          try old
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .filter(p => p != pathP)
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally old.close()
        }
        java.nio.file.Files.createDirectories(pathP)
        docs(s, dir).select(col("doc_id"), payloadCol.as("payload"))
          .as[MediaIn]
          .foreachPartition { (it: Iterator[MediaIn]) =>
            it.foreach { m =>
              val ext = if (m.doc_id % 2 == 0) "png" else "wav"
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path, f"doc_${m.doc_id}%010d.$ext"),
                m.payload)
            }
          }
        s.read.format("binaryFile").load(path)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.", 1)
              .cast("long").as("doc_id"),
            col("content").as("payload"))
          .as[MediaIn]
          .mapPartitions(_.map(HeaderCodec.decode))
          .toDF()
          .orderBy("doc_id")
      },
      Some(DecodeOracleSql)),

    // Perceptual-hash dedup over the media PAYLOAD BODY: a 16-bit
    // block-mean hash (bit i set iff segment i's byte sum, cross-
    // multiplied to stay integer-exact, exceeds its share of the total),
    // then exact-duplicate clustering by (format, phash) — the image-
    // dedup shape (pHash/aHash bucketing) on the same mapPartitions
    // plumbing as decode. All-integer comparisons, no float means, so
    // the signature is bit-identical in any engine; the oracle
    // recomputes it from the planted payload recipe (body = the ASCII
    // text bytes behind the 16-byte header) entirely in SQL. Map-only
    // signature + one hash shuffle on (format, phash) for the
    // representative — the same shape at 100 TB of real thumbnails.
    QueryDef(
      "mm_phash",
      (s, dir) => {
        val sigs = phashSigs(s, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("format", "phash")
        sigs.withColumn("rep_id", min(col("doc_id")).over(w))
          .withColumn("n_same", count(lit(1)).over(w))
          .select("doc_id", "format", "phash", "rep_id", "n_same")
          .orderBy("doc_id")
      },
      Some(s"""WITH $PhashSigCte
              SELECT doc_id, format, phash,
                min(doc_id) OVER w AS rep_id,
                count(*) OVER w AS n_same
              FROM sig
              WINDOW w AS (PARTITION BY format, phash)
              ORDER BY doc_id"""))
  ,
    // Perceptual NEAR-duplicate pairs — the image-dedup step a media
    // pipeline runs after pHash: same-format payload pairs within
    // Hamming distance 3 of each other's 16-bit signature (distance 0,
    // exact-signature duplicates, already collapse under mm_phash's
    // representative). The Spark side never goes all-pairs: the 16-bit
    // hash splits into four 4-bit chunks, radius <= 3 pigeonholes at
    // least one chunk equal, so candidates come from a (format, chunk
    // index, chunk value) equi-join — the same blocking discipline as
    // dedup_simhash_pairs / the HammingJoinRewrite rule, shuffle ∝
    // bucket collisions. Each qualifying pair is emitted exactly once
    // at its FIRST equal chunk. The oracle checks the naive quadratic
    // definition, proving the blocked plan loses nothing.
    QueryDef(
      "mm_phash_neardup",
      (s, dir) => {
        // 16-bit signatures SATURATE: 4-bit chunks give 16 values per
        // chunk, so the blocked join still materializes ~N²/8 candidate
        // pairs, and at media-corpus scale the 2^16 signature space
        // itself collides constantly (round-5 verdict). Hard registry
        // gate + bench=false, same treatment as its text sibling
        // dedup_simhash_pairs; the production form is
        // mm_phash_neardup_wide (60-bit, 15-bit chunks).
        Dedup.requireAllPairsSmall(
          Tables.rowCount(s, dir, "documents"),
          "mm_phash_neardup (16-bit, saturating)", "docs",
          "mm_phash_neardup_wide")
        phashChunkPairs(phashSigs(s, dir),
            nChunks = 4, chunkBits = 4, minHam = 1, maxHam = 3)
          .orderBy("format", "a_id", "b_id")
      },
      bench = false, // saturating 16-bit baseline — see gate above
      oracle = Some(s"""WITH $PhashSigCte
              SELECT a.format, a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
              FROM sig a JOIN sig b
                ON a.format = b.format AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 3
              ORDER BY a.format, a_id, b_id"""))
  ,
    // The wide perceptual-hash signature relation itself — oracle-checked
    // directly so a signature bug is diagnosed at the signature, not
    // through the pair join. Map-only at any scale.
    QueryDef(
      "mm_phash_wide",
      (s, dir) => phashWideSigs(s, dir).orderBy("doc_id"),
      Some(s"""WITH $PhashWideSigCte
              SELECT doc_id, format, phash FROM sig ORDER BY doc_id""")),

    // Perceptual NEAR-duplicate pairs at PRODUCTION scale: same-format
    // payload pairs within Hamming distance 3 of each other's 60-bit
    // gram-simhash signature (see phashWideSigs for why the signature is
    // content-anchored). Blocking is the dedup_simhash_wide_pairs
    // recipe: the 60-bit hash splits into four 15-bit chunks, radius <=
    // 3 pigeonholes at least one chunk equal, so candidates come from a
    // (format, chunk index, chunk value) equi-join over 32768 bucket
    // values per chunk — collisions (and therefore the join) stay
    // sparse at any corpus size, unlike the 16-bit form's 16-value
    // chunks. Each qualifying pair is emitted exactly once at its FIRST
    // equal chunk. The oracle checks the naive quadratic definition,
    // proving the blocked plan loses nothing. On this corpus the planted
    // near-dups land at Hamming 1-3 while unrelated payloads sit at ~30
    // — the separation a radius-3 search needs.
    QueryDef(
      "mm_phash_neardup_wide",
      (s, dir) =>
        phashChunkPairs(phashWideSigs(s, dir),
            nChunks = 4, chunkBits = 15, minHam = 1, maxHam = 3)
          .orderBy("format", "a_id", "b_id"),
      Some(s"""WITH $PhashWideSigCte
              SELECT a.format, a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
              FROM sig a JOIN sig b
                ON a.format = b.format AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 3
              ORDER BY a.format, a_id, b_id"""))
  ,
    // Media dedup cluster collapse — the END PRODUCT of the perceptual
    // path, mirroring dedup_cluster on the text side: wide-phash pairs
    // at Hamming <= 3 (including 0 — exact-signature duplicates belong
    // in the same family) feed the pointer-doubled connected-components
    // loop, and every document gets its media representative (rep_id =
    // min doc_id of the family; itself when it has no perceptual
    // near-dup). Filter doc_id = rep_id and you have the deduplicated
    // media corpus. Edges are same-format by construction, so families
    // never span formats. Shape: the blocked pair join (shuffle ∝
    // chunk-bucket collisions) + the O(log diameter) CC loop with
    // per-generation localCheckpoint — both audited 100 TB shapes; the
    // oracle closes the same pair relation with a recursive CTE.
    QueryDef(
      "mm_phash_cluster",
      (s, dir) => {
        val pairs = phashChunkPairs(phashWideSigs(s, dir),
            nChunks = 4, chunkBits = 15, minHam = 0, maxHam = 3)
          .select("a_id", "b_id")
        val vertices = docs(s, dir).select("doc_id")
        Dedup.connectedComponents(vertices, pairs)
          .withColumn("format",
            when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("wav")))
          .select(col("doc_id"), col("rep_id"), col("format"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $PhashWideSigCte,
              pairs AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM sig a JOIN sig b
                  ON a.format = b.format AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.phash, b.phash)) <= 3),
              ${Dedup.componentsSql("pairs", "documents")}
              SELECT doc_id, rep_id,
                CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format
              FROM cc ORDER BY doc_id"""))
  ,
    // Resize/downsample — the thumbnailing step of a media pipeline, on
    // the same mapPartitions plumbing: nearest-neighbor sample 16 evenly
    // spaced body bytes (index floor(j*L/16)) into a fixed-size
    // "thumbnail", emitted as hex, plus the exact mean byte value
    // ((exact int)/(exact int), one IEEE division). Map-only at any
    // scale; a production deployment swaps the byte sampler for a pixel
    // resampler over the decoded frame, same signature and batching.
    // The oracle recomputes thumbnail and mean from the planted payload
    // recipe (body = ASCII text bytes) entirely in SQL.
    QueryDef(
      "mm_resize",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select(col("doc_id"), payloadCol.as("payload"))
          .as[MediaIn]
          .mapPartitions(_.map { in =>
            val b = in.payload
            val L = b.length - 16
            val thumb = (0 until 16).map { j =>
              f"${b(16 + (L.toLong * j / 16).toInt) & 0xff}%02X"
            }.mkString
            val total = (16 until b.length).map(i => (b(i) & 0xff).toLong).sum
            (in.doc_id, thumb, total, total.toDouble / L.toDouble)
          })
          .toDF("doc_id", "thumb_hex", "sum_bytes", "mean_byte")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                array_to_string(list_transform(range(0, 16), j ->
                  lpad(hex(ord(substr(text,
                    CAST(CAST(length(text) AS BIGINT) * j // 16 AS INTEGER) + 1, 1))),
                    2, '0')), '') AS thumb_hex,
                CAST(list_sum(list_transform(range(1, length(text) + 1),
                  i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS sum_bytes,
                CAST(list_sum(list_transform(range(1, length(text) + 1),
                  i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) AS mean_byte
              FROM documents ORDER BY doc_id""")),

    // Audio feature extraction over the WAV payloads (doc_id odd): the
    // body bytes are treated as unsigned 8-bit PCM samples centered at
    // 128 (the u8 WAV midpoint), split into 4 equal frames by the same
    // integer partitioning as mm_phash, and each frame's energy is the
    // integer sum of squared centered samples — the frame-energy /
    // silence-detection primitive of an audio pipeline, on the same
    // mapPartitions plumbing as decode. sum_sq and n_samples are exact
    // BIGINTs; mean_sq is their single IEEE division. Map-only flatMap
    // (4 rows out per clip) at any scale; the oracle recomputes every
    // frame from the planted payload recipe (body = ASCII text bytes).
    QueryDef(
      "mm_audio_energy",
      (s, dir) =>
        audioFrames(s, dir)
          .withColumn("mean_sq",
            col("sum_sq").cast("double") / col("n_samples").cast("double"))
          .orderBy("doc_id", "frame_idx"),
      Some("""WITH b AS (
                SELECT doc_id,
                  list_transform(range(1, length(text) + 1),
                    i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) - 128) AS cs,
                  CAST(length(text) AS BIGINT) AS L
                FROM documents WHERE doc_id % 2 = 1),
              fr AS (
                SELECT doc_id, f,
                  CAST(list_sum(list_transform(
                    cs[CAST(L * f // 4 AS INTEGER) + 1 : CAST(L * (f + 1) // 4 AS INTEGER)],
                    x -> x * x)) AS BIGINT) AS sum_sq,
                  L * (f + 1) // 4 - L * f // 4 AS n_samples
                FROM b, (SELECT unnest(range(0, 4)) AS f) fs)
              SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, sum_sq,
                CAST(n_samples AS BIGINT) AS n_samples,
                CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE) AS mean_sq
              FROM fr ORDER BY doc_id, frame_idx""")),

    // Silence-span extraction — the audio-trim primitive: contiguous
    // runs of quiet frames (sum_sq < thresh * n_samples, an exact
    // integer compare — no division enters the gate) collapsed to
    // (start, end) segments by the gaps-and-islands trick (frame_idx
    // minus the per-clip quiet rank is constant within a run). Built on
    // the SAME audioFrames relation as mm_audio_energy, so trimming and
    // the energy report can never disagree. Shape: map-only frame
    // parsing, one per-clip window, one (clip, island) aggregate —
    // shuffle is a single hash pass on doc_id at any scale.
    QueryDef(
      "mm_silence_segments",
      (s, dir) => {
        val quiet = audioFrames(s, dir)
          .filter(col("sum_sq") < lit(SilenceThresh) * col("n_samples"))
        val wq = Window.partitionBy("doc_id").orderBy("frame_idx")
        quiet
          .withColumn("grp", col("frame_idx") - row_number().over(wq))
          .groupBy("doc_id", "grp")
          .agg(min(col("frame_idx")).as("seg_start"),
            max(col("frame_idx")).as("seg_end"),
            count(lit(1)).as("n_frames"),
            sum(col("sum_sq")).as("sum_sq"))
          .select(col("doc_id"), col("seg_start"), col("seg_end"),
            col("n_frames"), col("sum_sq"))
          .orderBy("doc_id", "seg_start")
      },
      Some(s"""WITH b AS (
                 SELECT doc_id,
                   list_transform(range(1, length(text) + 1),
                     i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) - 128) AS cs,
                   CAST(length(text) AS BIGINT) AS L
                 FROM documents WHERE doc_id % 2 = 1),
               fr AS (
                 SELECT doc_id, f,
                   CAST(list_sum(list_transform(
                     cs[CAST(L * f // 4 AS INTEGER) + 1 : CAST(L * (f + 1) // 4 AS INTEGER)],
                     x -> x * x)) AS BIGINT) AS sum_sq,
                   L * (f + 1) // 4 - L * f // 4 AS n_samples
                 FROM b, (SELECT unnest(range(0, 4)) AS f) fs),
               quiet AS (
                 SELECT doc_id, f, sum_sq
                 FROM fr WHERE sum_sq < $SilenceThresh * n_samples),
               isl AS (
                 SELECT doc_id, f, sum_sq,
                   f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                     AS grp
                 FROM quiet)
               SELECT doc_id,
                 CAST(min(f) AS BIGINT) AS seg_start,
                 CAST(max(f) AS BIGINT) AS seg_end,
                 CAST(count(*) AS BIGINT) AS n_frames,
                 CAST(sum(sum_sq) AS BIGINT) AS sum_sq
               FROM isl GROUP BY doc_id, grp
               ORDER BY doc_id, seg_start""")),

    // Audio decimate-by-2 — the sample-rate-reduction step a speech
    // pipeline runs before feature extraction (48 kHz capture → 16 kHz
    // model input): adjacent-sample pair averaging (the box anti-alias
    // filter) over the WAV payload bodies as u8 PCM, reported as the
    // downsampled signal's exact energy. Averaging happens in UNSIGNED
    // sample space ((u₀+u₁) div 2 with u ∈ [0,255] — nonnegative, so
    // Spark's truncating div and DuckDB's floor // agree on every pair),
    // centering at 128 only inside the square. The unpaired tail sample
    // of an odd-length clip is dropped (n_out = L div 2), mirroring the
    // oracle. Shape: map-only typed mapPartitions over the payload
    // bytes — one output row per clip at any scale, no shuffle before
    // the presentation sort.
    QueryDef(
      "mm_audio_downsample",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), payloadCol.as("payload"))
          .as[MediaIn]
          .mapPartitions(_.map { in =>
            val b = in.payload
            val body = 16
            val L = b.length - 16
            val nOut = L / 2
            var ss = 0L
            var i = 0
            while (i < nOut) {
              val d = ((b(body + 2 * i) & 0xff) +
                (b(body + 2 * i + 1) & 0xff)) / 2
              val c = d - 128L
              ss += c * c
              i += 1
            }
            (in.doc_id, L.toLong, nOut.toLong, ss)
          })
          .toDF("doc_id", "n_in", "n_out", "sum_sq")
          .withColumn("mean_sq",
            when(col("n_out") > 0,
              col("sum_sq").cast("double") / col("n_out").cast("double")))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
                SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
                FROM documents WHERE doc_id % 2 = 1),
              d AS (
                SELECT doc_id, L, L // 2 AS n_out,
                  CAST(coalesce(list_sum(list_transform(
                    list_transform(range(0, L // 2),
                      i -> (ord(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
                          + ord(substr(text, CAST(2 * i + 2 AS INTEGER), 1)))
                           // 2 - 128),
                    x -> x * x)), 0) AS BIGINT) AS sum_sq
                FROM b)
              SELECT doc_id, L AS n_in, CAST(n_out AS BIGINT) AS n_out,
                sum_sq,
                CASE WHEN n_out > 0
                  THEN CAST(sum_sq AS DOUBLE) / CAST(n_out AS DOUBLE)
                END AS mean_sq
              FROM d ORDER BY doc_id""")),

    // Corpus normalization statistics — the per-channel mean/std every
    // vision/audio pipeline computes ONCE over the training corpus and
    // bakes into preprocessing (the ImageNet-mean-std step): exact
    // integer byte sums and sums-of-squares per format from one
    // map-only parse, mean/std as pinned-order closing arithmetic
    // (sqrt IS IEEE-exactly-rounded, so unlike ln it is engine-portable
    // — variance numerator kept integer until the one division).
    // Shape: mapPartitions byte fold, one |formats|-row hash aggregate.
    QueryDef(
      "mm_norm_stats",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select(col("doc_id"), payloadCol.as("payload"))
          .as[MediaIn]
          .mapPartitions(_.map { in =>
            val b = in.payload
            var sum = 0L; var ssq = 0L
            var i = 16
            while (i < b.length) {
              val v = (b(i) & 0xff).toLong
              sum += v; ssq += v * v
              i += 1
            }
            (if (in.doc_id % 2 == 0) "png" else "wav",
              (b.length - 16).toLong, sum, ssq)
          })
          .toDF("format", "n_b", "sum_b", "ssq_b")
          .groupBy("format").agg(
            sum(col("n_b")).as("n_bytes"),
            sum(col("sum_b")).as("sum_bytes"),
            sum(col("ssq_b")).as("sum_sq_bytes"))
          .select(col("format"), col("n_bytes"), col("sum_bytes"),
            col("sum_sq_bytes"),
            (col("sum_bytes").cast("double") / col("n_bytes").cast("double"))
              .as("mean"),
            // variance FACTOR-FIRST (r12 cast audit): the exact-integer
            // numerator ssq·n − s² is ~N²·var and crosses 2^64 near
            // 5×10^8 corpus bytes (sf10), where DuckDB's HUGEINT→DOUBLE
            // half-splitting cast is not correctly rounded — a 1-ULP
            // cross-engine divergence (the dedup_tfidf_nn class). The
            // FACTORS are bounded forever: n ≤ corpus chars, s ≤ 255·n,
            // ssq ≤ 255²·n — all < 2^64 to ~280 TB of text — so casting
            // them first keeps every int→double conversion in the
            // correctly-rounded range on both engines, and the float
            // sequence is identical cross-engine. Trade-off (r13 note):
            // the double PRODUCTS beyond 2^53 are rounded, so a
            // near-constant group suffers cancellation and can report a
            // small positive std (~1e-6 range) instead of exactly 0 —
            // cross-engine parity holds (both compute the same rounded
            // sequence) but the value is approximate, not exact, past
            // 2^53-sized products. greatest(0): float
            // rounding can push a ~zero-variance numerator a hair
            // negative (the skew corpus's identical texts); clamp on
            // BOTH engines before sqrt.
            sqrt(greatest(lit(0.0),
              col("sum_sq_bytes").cast("double") * col("n_bytes").cast("double")
                - col("sum_bytes").cast("double") *
                  col("sum_bytes").cast("double")) /
              (col("n_bytes").cast("double") * col("n_bytes").cast("double")))
              .as("std"))
          .orderBy("format")
      },
      Some("""WITH b AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END
                    AS format,
                  CAST(length(text) AS BIGINT) AS n_b,
                  CAST(coalesce(list_sum(list_transform(
                    range(1, length(text) + 1),
                    i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1))
                         AS BIGINT))), 0) AS BIGINT) AS sum_b,
                  CAST(coalesce(list_sum(list_transform(
                    range(1, length(text) + 1),
                    i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1))
                         AS BIGINT)
                       * CAST(ord(substr(text, CAST(i AS INTEGER), 1))
                         AS BIGINT))), 0) AS BIGINT) AS ssq_b
                FROM documents),
              g AS (
                SELECT format, CAST(sum(n_b) AS BIGINT) AS n_bytes,
                  CAST(sum(sum_b) AS BIGINT) AS sum_bytes,
                  CAST(sum(ssq_b) AS BIGINT) AS sum_sq_bytes
                FROM b GROUP BY format)
              SELECT format, n_bytes, sum_bytes, sum_sq_bytes,
                CAST(sum_bytes AS DOUBLE) / CAST(n_bytes AS DOUBLE) AS mean,
                sqrt(greatest(0.0,
                       CAST(sum_sq_bytes AS DOUBLE) * CAST(n_bytes AS DOUBLE)
                     - CAST(sum_bytes AS DOUBLE) * CAST(sum_bytes AS DOUBLE))
                     / (CAST(n_bytes AS DOUBLE) * CAST(n_bytes AS DOUBLE)))
                  AS std
              FROM g ORDER BY format""")),

    // Multimodal training-sample assembly: one manifest row per sample
    // joining the text record (documents) with its embedding row
    // (vec_id = doc_id) and the media payload's typed metadata — the
    // "gather all modalities of a sample into one row" step that feeds
    // a training-data writer. One equi-join (broadcast at this scale,
    // hash-partitioned on the shared id at 100 TB — both sides already
    // keyed by it); payload size and embedding norm are derived in-plan,
    // so the manifest needs no second pass over either table.
    QueryDef(
      "mm_manifest",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        docs(s, dir)
          .join(e, col("doc_id") === col("vec_id"))
          .select(
            col("doc_id").as("sample_id"),
            col("lang"), col("source"),
            col("n_chars"),
            size(tokens(col("text"))).cast("long").as("n_tokens"),
            when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("wav"))
              .as("media_format"),
            (col("n_chars") + lit(16L)).as("n_payload_bytes"),
            col("label").cast("long").as("label"),
            sqrt(graft.functions.EngineFns.dot(col("embedding"), col("embedding")))
              .as("emb_norm"))
          .orderBy("sample_id")
      },
      Some(s"""SELECT d.doc_id AS sample_id, d.lang, d.source, d.n_chars,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                 CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS media_format,
                 d.n_chars + 16 AS n_payload_bytes,
                 CAST(e.label AS BIGINT) AS label,
                 sqrt(${graft.functions.EngineFns.dotSql("e.embedding", "e.embedding")}) AS emb_norm
               FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
               ORDER BY sample_id""")),

    // Video scene-cut detection over the sampled frame stream: the
    // shot-boundary primitive a video-curation pipeline runs before
    // per-scene captioning / frame selection. Frames come from the same
    // sequence+explode sampler as mm_frame_sample; each frame carries a
    // deterministic synthetic energy (md5-derived, SQL-expressible — the
    // container has no video codec, so the decode is the documented fake;
    // a production deployment swaps ONLY the energy column for a real
    // per-frame luma/embedding stat, the detection plumbing is real). A
    // cut is an adjacent-frame energy jump |e - lag(e)| > threshold,
    // found with a per-media-item window (partitionBy doc_id — thousands
    // of independent small windows, never a global sort; at 100 TB the
    // shuffle is one hash partition pass over the frame stream, work ∝
    // frames per item within each partition).
    QueryDef(
      "mm_scene_cut",
      (s, dir) => {
        val w = Window.partitionBy("doc_id").orderBy("frame_idx")
        frameEnergies(s, dir)
          .withColumn("prev_e", lag(col("energy"), 1).over(w))
          .filter(col("prev_e").isNotNull &&
            abs(col("energy") - col("prev_e")) > SceneCutThreshold)
          .select(col("doc_id"), col("frame_idx"),
            (col("energy") - col("prev_e")).as("delta_e"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(unnest(range(0, n_chars % 10 + 1)) AS BIGINT)
                     AS frame_idx
                 FROM documents),
               en AS (
                 SELECT doc_id, frame_idx,
                   ${hash31Sql("concat('scene|', CAST(doc_id AS VARCHAR), ':', CAST(frame_idx AS VARCHAR))")} % 1000 AS energy
                 FROM fr),
               lg AS (
                 SELECT doc_id, frame_idx, energy,
                   lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                     AS prev_e
                 FROM en)
               SELECT doc_id, frame_idx, energy - prev_e AS delta_e
               FROM lg
               WHERE prev_e IS NOT NULL
                 AND abs(energy - prev_e) > $SceneCutThreshold
               ORDER BY doc_id, frame_idx""")),

    // Scene segmentation + keyframe selection — the step after cut
    // detection: every frame gets a scene id (running count of cuts at
    // or before it), and each scene elects ONE representative frame (max
    // energy, lowest-index tie-break) — the frame a captioning/embedding
    // stage would actually process, cutting downstream work from
    // frames-per-video to scenes-per-video. Shape: the running cut
    // count and the per-scene argmax are both windows clustered by
    // doc_id — HashPartitioning(doc_id) satisfies the (doc_id, scene_id)
    // distribution, so Catalyst reuses ONE hash exchange of the frame
    // stream for both; no global sort anywhere.
    QueryDef(
      "mm_keyframe",
      (s, dir) => {
        val wSeq = Window.partitionBy("doc_id").orderBy("frame_idx")
        val scenes = frameEnergies(s, dir)
          .withColumn("prev_e", lag(col("energy"), 1).over(wSeq))
          .withColumn("is_cut",
            when(col("prev_e").isNotNull &&
              abs(col("energy") - col("prev_e")) > SceneCutThreshold, 1L)
              .otherwise(0L))
          .withColumn("scene_id",
            sum(col("is_cut")).over(
              wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wScene = Window.partitionBy("doc_id", "scene_id")
        val wPick = wScene.orderBy(col("energy").desc, col("frame_idx").asc)
        scenes
          .withColumn("rk", row_number().over(wPick))
          .withColumn("n_frames", count(lit(1)).over(wScene))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("scene_id"),
            col("frame_idx").as("keyframe_idx"), col("energy"),
            col("n_frames"))
          .orderBy("doc_id", "scene_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(unnest(range(0, n_chars % 10 + 1)) AS BIGINT)
                     AS frame_idx
                 FROM documents),
               en AS (
                 SELECT doc_id, frame_idx,
                   ${hash31Sql("concat('scene|', CAST(doc_id AS VARCHAR), ':', CAST(frame_idx AS VARCHAR))")} % 1000 AS energy
                 FROM fr),
               lg AS (
                 SELECT doc_id, frame_idx, energy,
                   lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                     AS prev_e
                 FROM en),
               sc AS (
                 SELECT doc_id, frame_idx, energy,
                   CAST(sum(CASE WHEN prev_e IS NOT NULL
                       AND abs(energy - prev_e) > $SceneCutThreshold
                       THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY frame_idx
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
                 FROM lg),
               pick AS (
                 SELECT doc_id, scene_id, frame_idx, energy,
                   row_number() OVER (PARTITION BY doc_id, scene_id
                     ORDER BY energy DESC, frame_idx ASC) AS rk,
                   CAST(count(*) OVER (PARTITION BY doc_id, scene_id)
                     AS BIGINT) AS n_frames
                 FROM sc)
               SELECT doc_id, scene_id, frame_idx AS keyframe_idx,
                 energy, n_frames
               FROM pick WHERE rk = 1
               ORDER BY doc_id, scene_id""")),

    // Content-defined chunk matching over the audio payload bodies —
    // the rsync/LBFS boundary discipline applied to media dedup: a
    // chunk boundary opens wherever the md5-derived h31 of the local
    // 4-byte window ≡ 0 (mod 32), so boundaries are anchored to
    // CONTENT, not byte offsets. A prefix insertion shifts every
    // offset but leaves every post-edit boundary (and therefore every
    // chunk hash) intact — the exact failure mode that zeroed the
    // offset-anchored fixed-frame constellation design on this corpus
    // (a near-dup's shifted frames share nothing; measured recall 0/7),
    // and the same lesson phashWideSigs' content-anchored 4-grams
    // already encode. Chunks ≥ 8 bytes are identified by their md5;
    // docs sharing ≥ 4 distinct chunk hashes are reported. Measured on
    // sf0.01: 6/7 recall on the planted J≥0.8 wav near-dup families,
    // 6/6 precision. Shape: the parser is map-only (one MessageDigest
    // per partition, ~len/32 chunk hashes per doc); candidates come
    // from ONE equi-join on the chunk hash with a broadcast viral-chunk
    // DF cap (the dedup stop-shingle discipline), so the join mass is
    // Σ(per-chunk df²) under the cap — never |docs|²; the open tail
    // chunk is dropped deterministically on both engines.
    QueryDef(
      "mm_cdc_match",
      (s, dir) => {
        val kept = Dedup.dropViral(
          Tables.materialize(cdcChunks(s, dir)), Seq("ch"), CdcMaxChunkDf)
        kept.select(col("ch"), col("doc_id").as("a_id"))
          .join(kept.select(col("ch"), col("doc_id").as("b_id")), Seq("ch"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= CdcMinShared)
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH pos AS (
                 SELECT doc_id, i,
                   ${hash31Sql("substr(text, CAST(i AS INTEGER), 4)")} % $CdcBoundaryMod = 0 AS bnd
                 FROM documents, LATERAL
                   (SELECT unnest(range(1, length(text) - 2)) AS i) ix
                 WHERE doc_id % 2 = 1),
               bnds AS (
                 SELECT DISTINCT doc_id, i FROM (
                   SELECT doc_id, i FROM pos WHERE bnd
                   UNION ALL SELECT DISTINCT doc_id, 1 FROM pos) u),
               ck AS (
                 SELECT doc_id, i AS lo,
                   lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS hi
                 FROM bnds),
               chunks AS (
                 SELECT DISTINCT c.doc_id,
                   md5(substr(d.text, CAST(c.lo AS INTEGER),
                     CAST(c.hi - c.lo AS INTEGER))) AS ch
                 FROM ck c JOIN documents d USING (doc_id)
                 WHERE c.hi IS NOT NULL
                   AND c.hi - c.lo >= $CdcMinChunkLen),
               kept AS (
                 SELECT doc_id, ch FROM chunks
                 WHERE ch NOT IN (SELECT ch FROM chunks
                   GROUP BY ch HAVING count(*) > $CdcMaxChunkDf))
               SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(count(*) AS BIGINT) AS n_shared
               FROM kept a JOIN kept b USING (ch)
               WHERE a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id
               HAVING count(*) >= $CdcMinShared
               ORDER BY a_id, b_id""")),

    // CROSS-MODAL benchmark-contamination join — the leak check a
    // multimodal training pipeline actually runs before training: a
    // (train doc, benchmark doc) pair is flagged only when BOTH signal
    // families fire — the TEXT side shares >= 1 verbatim 8-token window
    // (text_contamination's granularity) AND the MEDIA side shares >=
    // CdcMinShared content-defined chunk hashes of the attached payload
    // bodies (mm_cdc_match's discipline, here over every payload — the
    // PNG and WAV headers are both 16 bytes so one chunker covers both
    // modalities). Requiring both kills each side's singleton
    // coincidences (on this corpus the chunk-only pair (464,462) and
    // every df=1 window collision drop out; the three genuinely
    // contaminated pairs survive with 12/9/5 shared chunks). Shape:
    // two independent bucketed equi-joins — one keyed on the window
    // string, one on the chunk hash, each behind its own broadcast
    // viral-key cap — then ONE pair-keyed equi-join of two already-
    // aggregated, contamination-sized relations. Never train × bench.
    QueryDef(
      "mm_contamination",
      (s, dir) => {
        val postings = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.tokenWindows(col("ts"), 8))).as("w"))
          .transform(Tables.materialize) // feeds the DF cap and both split sides
        val keptW = Dedup.dropViral(postings, Seq("w"), 10000)
        val txt = keptW.filter(col("doc_id") % 11 =!= 0)
          .join(keptW.filter(col("doc_id") % 11 === 0)
            .select(col("w"), col("doc_id").as("bench_id")), Seq("w"))
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared_windows"))
        val keptC = Dedup.dropViral(
          Tables.materialize(cdcChunks(s, dir, wavOnly = false)), Seq("ch"), CdcMaxChunkDf)
        val med = keptC.filter(col("doc_id") % 11 =!= 0)
          .join(keptC.filter(col("doc_id") % 11 === 0)
            .select(col("ch"), col("doc_id").as("bench_id")), Seq("ch"))
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared_chunks"))
          .filter(col("n_shared_chunks") >= CdcMinShared)
        txt.join(med, Seq("doc_id", "bench_id"))
          .orderBy("doc_id", "bench_id")
      },
      // the window DF cap is replayed (keptw) exactly like the chunk
      // cap (keptc) — both caps must fire in the oracle too, or a
      // corpus with a viral window would diverge (round-7 advice)
      Some(s"""WITH p AS MATERIALIZED (
                 SELECT DISTINCT doc_id,
                   array_to_string(string_split(text, ' ')[i:i+7], ' ') AS w
                 FROM documents, LATERAL (SELECT unnest(range(1,
                   len(string_split(text, ' ')) - 6)) AS i) ix),
               keptw AS MATERIALIZED (
                 SELECT doc_id, w FROM p
                 WHERE w NOT IN (SELECT w FROM p
                   GROUP BY w HAVING count(*) > 10000)),
               txt AS (
                 SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
                   CAST(count(*) AS BIGINT) AS n_shared_windows
                 FROM keptw t JOIN keptw b ON t.w = b.w
                 WHERE t.doc_id % 11 != 0 AND b.doc_id % 11 = 0
                 GROUP BY t.doc_id, b.doc_id),
               pos AS (
                 SELECT doc_id, i,
                   ${hash31Sql("substr(text, CAST(i AS INTEGER), 4)")} % $CdcBoundaryMod = 0 AS bnd
                 FROM documents, LATERAL
                   (SELECT unnest(range(1, length(text) - 2)) AS i) ix),
               bnds AS (
                 SELECT DISTINCT doc_id, i FROM (
                   SELECT doc_id, i FROM pos WHERE bnd
                   UNION ALL SELECT DISTINCT doc_id, 1 FROM pos) u),
               ck AS (
                 SELECT doc_id, i AS lo,
                   lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS hi
                 FROM bnds),
               chunks AS (
                 SELECT DISTINCT c.doc_id,
                   md5(substr(d.text, CAST(c.lo AS INTEGER),
                     CAST(c.hi - c.lo AS INTEGER))) AS ch
                 FROM ck c JOIN documents d USING (doc_id)
                 WHERE c.hi IS NOT NULL
                   AND c.hi - c.lo >= $CdcMinChunkLen),
               keptc AS (
                 SELECT doc_id, ch FROM chunks
                 WHERE ch NOT IN (SELECT ch FROM chunks
                   GROUP BY ch HAVING count(*) > $CdcMaxChunkDf)),
               med AS (
                 SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
                   CAST(count(*) AS BIGINT) AS n_shared_chunks
                 FROM keptc t JOIN keptc b USING (ch)
                 WHERE t.doc_id % 11 != 0 AND b.doc_id % 11 = 0
                 GROUP BY t.doc_id, b.doc_id
                 HAVING count(*) >= $CdcMinShared)
               SELECT txt.doc_id, txt.bench_id,
                 txt.n_shared_windows, med.n_shared_chunks
               FROM txt JOIN med USING (doc_id, bench_id)
               ORDER BY doc_id, bench_id""")),

    // CROSS-MODAL dedup-consistency audit — the reconciliation a real
    // multimodal pipeline runs before trusting either signal alone:
    // does the MEDIA near-dup relation (wide 60-bit phash, Hamming
    // 0–3, chunk-pigeonhole candidates) agree with the TEXT near-dup
    // relation (3-shingle Jaccard >= threshold, DF-capped inverted
    // index) over the same documents? A media_only pair is an asset
    // duplicated under a rewritten caption (dedup leakage if only text
    // is checked); a text_only pair is a caption copied onto different
    // media (the suspicious-caption class); a both pair is a true
    // full-record duplicate. One pair-grain FULL OUTER equi-join of
    // two already-capped candidate relations — no new quadratic
    // surface — folded to a <= 3-row class scorecard with exact
    // integer extrema (hamming / shared-shingle counts), so the whole
    // audit hash-checks bit-for-bit. n_common is jaccardPairs' DF-CAPPED
    // shared-shingle count (viral shingles past MaxShingleDF excluded —
    // the signal the production index actually carries), and the oracle
    // REPLAYS that cap (txtviral anti-join) rather than recomputing the
    // exact full intersection, so a corpus with a viral shingle diverges
    // on neither membership nor values (r9 advice). Scale: both
    // generators are the production forms benched elsewhere; the outer
    // join shuffles pair rows on (a_id, b_id) once.
    QueryDef(
      "mm_crossmodal_audit",
      (s, dir) => {
        val media = phashChunkPairs(phashWideSigs(s, dir),
            nChunks = 4, chunkBits = 15, minHam = 0, maxHam = 3)
          .select(col("a_id"), col("b_id"), col("hamming"))
        val text = Dedup.jaccardPairs(Dedup.shingled(s, dir))
          .filter(col("jaccard") >= Dedup.JaccardThreshold)
          .select(col("a_id"), col("b_id"), col("n_common"))
        media.join(text, Seq("a_id", "b_id"), "full_outer")
          .select(
            when(col("hamming").isNotNull && col("n_common").isNotNull,
                "both")
              .when(col("hamming").isNotNull, "media_only")
              .otherwise("text_only").as("class"),
            col("hamming"), col("n_common"))
          .groupBy("class")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("hamming")).as("min_hamming"),
            max(col("hamming")).as("max_hamming"),
            min(col("n_common")).as("min_common"),
            max(col("n_common")).as("max_common"))
          .orderBy("class")
      },
      Some(s"""WITH $PhashWideSigCte,
               media AS (
                 SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                     AS hamming
                 FROM sig a JOIN sig b
                   ON a.format = b.format AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 0 AND 3),
               ${Dedup.JaccardPairsCte},
               txtex AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
               txtviral AS (
                 SELECT shingle FROM txtex
                 GROUP BY shingle HAVING count(*) > ${Dedup.MaxShingleDF}),
               txtkept AS (
                 SELECT doc_id, shingle FROM txtex
                 ANTI JOIN txtviral USING (shingle)),
               txt AS (
                 SELECT p.a_id, p.b_id,
                   CAST(count(*) AS BIGINT) AS n_common
                 FROM pairs p
                 JOIN txtkept a ON a.doc_id = p.a_id
                 JOIN txtkept b ON b.doc_id = p.b_id
                   AND b.shingle = a.shingle
                 GROUP BY p.a_id, p.b_id),
               u AS (
                 SELECT
                   CASE WHEN m.hamming IS NOT NULL
                         AND t.n_common IS NOT NULL THEN 'both'
                        WHEN m.hamming IS NOT NULL THEN 'media_only'
                        ELSE 'text_only' END AS class,
                   m.hamming, t.n_common
                 FROM media m FULL OUTER JOIN txt t
                   ON m.a_id = t.a_id AND m.b_id = t.b_id)
               SELECT class, CAST(count(*) AS BIGINT) AS n_pairs,
                 min(hamming) AS min_hamming, max(hamming) AS max_hamming,
                 min(n_common) AS min_common, max(n_common) AS max_common
               FROM u GROUP BY class ORDER BY class"""))
  )
}
