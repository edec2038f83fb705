package graft.engine.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MeasuredCheckpoint
import graft.engine.Tables

/** Multimodal-column surface: image/audio/video as opaque `binary`
  * columns with typed metadata, and decode / feature-extract / resize /
  * frame-sample operators (builder north star; SURVEY.md §2.2 family).
  *
  * ALL THREE kinds run REAL codecs built on the JDK (no external
  * dependency): images are PNG-encoded/decoded map-side with
  * `javax.imageio` (lossless 8-bit grayscale — `ImageIO.read` walks
  * the raster); audio is PCM WAV encoded/decoded with
  * `javax.sound.sampled` (8-bit unsigned mono — samples store payload
  * bytes verbatim, lossless); video is a Motion-PNG container
  * ("GVID": length-prefixed true PNG frames — the MJPEG idea; mp4 is
  * unavailable in this environment, so the DECLARED video format is
  * this custom-but-genuine one, and every frame decode is a real
  * `ImageIO.read`). Geometry/checksums therefore stay deterministic
  * and oracle-checkable for every kind. The Spark-side plumbing is
  * identical for all three kinds and is real and tested: a typed
  * Dataset,
  * iterator-batched `mapPartitions` (the JVM analogue of `mapInPandas`:
  * one partition = one batch through the codec, no per-row UDF
  * dispatch), explicit output schema, and shuffle-free decode (the
  * codec runs map-side on whatever partitioning the source has).
  *
  * Payloads are synthesized from `documents.text` bytes (the only blob
  * source in the driver's testdata); `kind` cycles image/audio/video
  * by doc_id.
  *
  * Scale notes (100 TB): media bytes never shuffle — encode/decode/
  * resize/sample are all map-side; only the small extracted-feature
  * rows flow into joins/aggregations. Partition sizing is governed by
  * `spark.sql.files.maxPartitionBytes` against the blob column.
  */
object Multimodal {

  case class Media(media_id: Long, kind: String, bytes: Array[Byte])
  case class Decoded(media_id: Long, kind: String, width: Int, height: Int,
                     n_bytes: Int, checksum: Long)

  object MediaCodec {
    // in-memory ImageIO streams: with the default useCache=true every
    // encode/decode call backs its stream with a fresh TEMP FILE —
    // tens of thousands of disk-file creations per corpus pass, pure
    // I/O overhead for byte-array payloads that fit in memory anyway.
    // NOTE this setter is JVM-GLOBAL (all ImageIO users in the
    // process lose disk-backed streams once this object loads); on an
    // executor JVM that is the desired steady state, but an embedding
    // host application that relies on ImageIO's temp-file cache for
    // huge images should set it back around its own calls.
    ImageIO.setUseCache(false)
    private val P = 1000003L
    private val W = 16

    /** REAL image encode (javax.imageio): payload bytes → 8-bit
      * grayscale PNG, one byte per pixel, row-major, width 16,
      * zero-padded final row. Lossless, so the decoded raster
      * reproduces the payload exactly. */
    def encodePng(payload: Array[Byte]): Array[Byte] = {
      val h = math.max(1, (payload.length + W - 1) / W)
      val img = new BufferedImage(W, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < payload.length) {
        raster.setSample(i % W, i / W, 0, payload(i) & 0xff); i += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** REAL image decode (javax.imageio): PNG bytes → (width, height,
      * checksum = Σ pixel % P). Zero padding contributes nothing, so
      * the checksum equals the payload byte sum — the same invariant
      * the stub path uses, keeping both oracle-checkable. */
    def decodeImage(bytes: Array[Byte]): (Int, Int, Long) = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      var c = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { c = (c + raster.getSample(x, y, 0)) % P; x += 1 }
        y += 1
      }
      (w, h, c)
    }

    /** 64-bit AVERAGE-HASH of a decoded grayscale raster — the image
      * near-dup fingerprint (aHash): the 16×H image is partitioned
      * into an 8×8 block grid (block (r,c) covers rows
      * [⌊rH/8⌋, ⌊(r+1)H/8⌋) × cols [2c, 2c+2)); bit r·8+c is set iff
      * the block's mean exceeds the raster mean. Means compare as
      * EXACT integer cross-products (blockSum·N > totalSum·blockN) —
      * no floats, so any two JVMs (and any decode path reproducing
      * the same raster) agree bit-for-bit. Identical payloads hash
      * identically; a local edit flips only the touched blocks'
      * bits (plus any block whose mean straddles the shifted raster
      * mean) — the locality PhashSpec pins. */
    def phashImage(bytes: Array[Byte]): Long = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val blockSum = Array.ofDim[Long](8, 8)
      val blockN = Array.ofDim[Long](8, 8)
      var total = 0L
      var y = 0
      while (y < h) {
        val r = math.min(7, y * 8 / h)
        var x = 0
        while (x < w) {
          val c = math.min(7, x / 2)
          val v = raster.getSample(x, y, 0)
          blockSum(r)(c) += v; blockN(r)(c) += 1; total += v
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var bits = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (blockN(r)(c) > 0 && blockSum(r)(c) * n > total * blockN(r)(c))
            bits |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      bits
    }

    /** REAL audio encode (javax.sound.sampled, in the JDK): payload
      * bytes → PCM WAV, 8-bit unsigned mono @8 kHz — one sample per
      * payload byte, stored verbatim (no quantization), so the codec
      * is lossless and the decoded sample sum equals the payload byte
      * sum, keeping the oracle's geometry/checksum invariants. */
    private val wavFmt = new AudioFormat(
      AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false)

    def encodeWav(payload: Array[Byte]): Array[Byte] = {
      val ais = new AudioInputStream(
        new ByteArrayInputStream(payload), wavFmt, payload.length.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** REAL audio decode: WAV bytes → (width=16, height=⌈samples/16⌉,
      * n_samples, checksum = Σ sample % P) — the same virtual-frame
      * geometry the byte-stub used, now computed from genuinely
      * decoded PCM samples. */
    def decodeWav(bytes: Array[Byte]): (Int, Int, Int, Long) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val buf = new Array[Byte](4096)
      var c = 0L
      var n = 0
      var read = ais.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) { c = (c + (buf(i) & 0xff)) % P; i += 1 }
        n += read
        read = ais.read(buf)
      }
      (W, (n + W - 1) / W, n, c)
    }

    /** REAL video encode: Motion-PNG (MJPEG-style) container — magic
      * "GVID", big-endian frame count, then length-prefixed PNG frames
      * of 128 payload bytes each (16×8 grayscale; short final frame
      * keeps its own geometry — 128 amortizes ImageIO's per-stream
      * overhead while keeping frames plural per clip). The environment
      * ships no mp4 codec, so the declared video format is this
      * custom-but-genuine one: every frame is a true PNG stream
      * decoded through javax.imageio. */
    private[multimodal] val FRAME = 128

    def encodeVideo(payload: Array[Byte]): Array[Byte] = {
      val frames = payload.grouped(FRAME).toArray
      val bos = new ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeBytes("GVID")
      out.writeInt(frames.length)
      frames.foreach { f =>
        val png = encodePng(f)
        out.writeInt(png.length)
        out.write(png)
      }
      out.flush()
      bos.toByteArray
    }

    /** REAL video decode: walks the container, ImageIO-decodes every
      * frame (or every `stride`-th frame — frame sampling IS a decode
      * stride), returns (width=16, Σ frame heights, Σ frame pixels,
      * n frames decoded, checksum = Σ pixel % P). Zero padding in the
      * final short frame contributes nothing, so a full-stride decode
      * checksum equals the payload byte sum — the same oracle-checkable
      * invariant as the image/audio codecs. */
    def decodeVideo(bytes: Array[Byte], stride: Int = 1): (Int, Int, Int, Int, Long) = {
      val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GVID", "not a GVID stream")
      val nFrames = in.readInt()
      var (h, px, decoded, c) = (0, 0, 0, 0L)
      var i = 0
      while (i < nFrames) {
        val len = in.readInt()
        val png = new Array[Byte](len)
        in.readFully(png)
        if (i % stride == 0) {
          val (fw, fh, fc) = decodeImage(png)
          require(fw == W)
          h += fh; px += fw * fh; decoded += 1
          c = (c + fc) % P
        }
        i += 1
      }
      (W, h, px, decoded, c)
    }

    /** Every-k-th-byte decimation of the raw payload: a real pixel
      * subsample for images (pixels ARE payload bytes), a real
      * sample-rate reduction for PCM audio, a real per-frame content
      * reduction for Motion-PNG video. Output length ceil(n/k). */
    def decimate(bytes: Array[Byte], k: Int): Array[Byte] =
      bytes.indices.collect { case i if i % k == 0 => bytes(i) }.toArray
  }

  /** Pre-codec payload rows: (media_id, kind, payload, n_bytes, container).
    *
    * Fanned ([[graft.engine.Fan]]) BEFORE the codec kernels: over the
    * one-partition fixture scan the encode pass (the dominant
    * multimodal CPU) would run on one core, and every cached-checkpoint
    * consumer (decode, sniff, phash, frame sample) would inherit that
    * single partition. */
  private def payloads(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      // null boundary (the null-text dedup discipline): a NULL text
      // has no media payload — cast("binary") yields NULL and the
      // typed Array[Byte] codec rows NPE/NOT_NULL-abort on it. Every
      // multimodal oracle gates on the same text IS NOT NULL.
      .filter(col("text").isNotNull)
    graft.engine.Fan.docs(base, d).select(
      col("doc_id").as("media_id"),
      element_at(lit(Array("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      octet_length(col("text")).as("n_bytes"),
      col("lang").as("container"))
  }

  /** The media table: (media_id, kind, bytes, meta struct). Every row
    * carries a genuine encoded stream — PNG (image), PCM WAV (audio),
    * Motion-PNG GVID (video) — all encoded map-side with JDK codecs.
    * meta.n_bytes is the pre-encode payload size.
    *
    * Memoized per (session, sfDir) as a measured checkpoint: THREE
    * declared consumers (decode stats, mime sniff, and any dedup join
    * over the fingerprints) each re-ran the full corpus encode pass
    * otherwise — the codec CPU is the dominant cost of every
    * multimodal query, and it amortizes exactly like the token-set
    * builds in TextOps. (~4 MB of encoded bytes at bench SF; at 100 TB
    * the durable form is a Sinks materialization, per SessionCache.) */
  private val mediaCache = new graft.engine.SessionCache[DataFrame]
  def mediaTable(s: SparkSession, d: String): DataFrame =
    mediaCache.get(s, d)(MeasuredCheckpoint(mediaTableBuild(s, d)))

  private def mediaTableBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    payloads(s, d).as[(Long, String, Array[Byte], Int, String)]
      .mapPartitions(_.map { case (id, kind, payload, nb, lang) =>
        val bytes = kind match {
          case "image" => MediaCodec.encodePng(payload)
          case "audio" => MediaCodec.encodeWav(payload)
          case _ => MediaCodec.encodeVideo(payload)
        }
        (id, kind, bytes, nb, lang)
      })
      .toDF("media_id", "kind", "bytes", "n_bytes", "container")
      .select(col("media_id"), col("kind"), col("bytes"),
        struct(col("n_bytes"), col("container")).as("meta"))
  }

  /** Distributed decode: one `mapPartitions` pass, batch = partition.
    * Images run the real PNG decode (n_bytes = decoded pixel count,
    * 16·ceil(payload/16) with the zero-padded tail); audio the real
    * WAV decode (n_bytes = decoded sample count = payload length —
    * PCM is lossless); video the real Motion-PNG decode (n_bytes =
    * Σ frame pixel counts, padded like the image raster). */
  def decode(s: SparkSession, d: String): Dataset[Decoded] = {
    import s.implicits._
    mediaTable(s, d).select("media_id", "kind", "bytes").as[Media]
      .mapPartitions { batch => // iterator-batched, mapInPandas-shaped
        batch.map { m =>
          m.kind match {
            case "image" =>
              val (w, h, c) = MediaCodec.decodeImage(m.bytes)
              Decoded(m.media_id, m.kind, w, h, w * h, c)
            case "audio" =>
              val (w, h, n, c) = MediaCodec.decodeWav(m.bytes)
              Decoded(m.media_id, m.kind, w, h, n, c)
            case _ =>
              val (w, h, px, _, c) = MediaCodec.decodeVideo(m.bytes)
              Decoded(m.media_id, m.kind, w, h, px, c)
          }
        }
      }
  }

  /** Resample + re-decode — the full codec round trip for every kind:
    * decimate the payload, re-encode with the kind's real codec,
    * re-decode through the library. */
  def resized(s: SparkSession, d: String, k: Int = 4): Dataset[Decoded] = {
    import s.implicits._
    payloads(s, d).select("media_id", "kind", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, payload) =>
        val rs = MediaCodec.decimate(payload, k)
        kind match {
          case "image" =>
            val (w, h, c) = MediaCodec.decodeImage(MediaCodec.encodePng(rs))
            Decoded(id, kind, w, h, w * h, c)
          case "audio" =>
            val (w, h, n, c) = MediaCodec.decodeWav(MediaCodec.encodeWav(rs))
            Decoded(id, kind, w, h, n, c)
          case _ =>
            val (w, h, px, _, c) = MediaCodec.decodeVideo(MediaCodec.encodeVideo(rs))
            Decoded(id, kind, w, h, px, c)
        }
      })
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-kind stats of the distributed decode; the oracle reproduces
    // the codec geometry from octet_length (image n_bytes is the
    // padded raster size 16·ceil(nb/16); checksum is spec-tested, not
    // oracled — DuckDB can't fold blob bytes)
    "multimodal_decode_stats" -> ((s, d) =>
      decode(s, d).groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(col("height").cast("long")).as("sum_h"),
          max("width").as("max_w"),
          sum(col("n_bytes").cast("long")).as("sum_bytes"))
        .orderBy("kind")),

    // frame sampling: every 2nd Motion-PNG frame per video, GENUINELY
    // decoded (the stride-2 decode walks the container and
    // ImageIO-reads only sampled frames — frame sampling IS a decode
    // stride). Built from the pre-codec payload table filtered FIRST:
    // filtering after mediaTable's typed map would PNG/WAV-encode
    // every non-video row only to discard it (Catalyst can't push a
    // filter below a deserialized map).
    "multimodal_frame_sample" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).filter(col("kind") === "video")
        .select(col("media_id"), col("kind"), col("payload").as("bytes")).as[Media]
        .mapPartitions(_.map { m =>
          val (_, _, _, nSampled, _) =
            MediaCodec.decodeVideo(MediaCodec.encodeVideo(m.bytes), stride = 2)
          (m.media_id, nSampled)
        })
        .toDF("media_id", "n_frames")
        .orderBy("media_id")
    }),

    // image near-dup fingerprints: aHash over the genuinely decoded
    // PNG raster, one map-side pass (encode→decode→hash per image,
    // bytes never shuffle — only the 8-byte hash does). NO DuckDB
    // oracle (it can't decode PNG): the hash math and its locality
    // contract are pinned in PhashSpec; the declared surface is the
    // per-image fingerprint table an image-dedup join runs on.
    // declared RESIZE path: 4× decimation of every payload followed
    // by the kind's FULL codec round trip (re-encode with the real
    // PNG/WAV/Motion-PNG codec, re-decode through the library), with
    // the per-kind geometry audit as output. The oracle reproduces
    // the post-resize geometry from octet_length arithmetic
    // (decimated length ⌈nb/4⌉ → raster/sample/frame shapes); the
    // checksums stay spec-territory (DuckDB can't fold blob bytes).
    // Scale shape: one mapPartitions codec pass, bytes never shuffle
    // — only the per-kind partial aggregates do.
    "multimodal_resize_stats" -> ((s, d) =>
      resized(s, d, 4).groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(col("height").cast("long")).as("sum_h"),
          max("width").as("max_w"),
          sum(col("n_bytes").cast("long")).as("sum_bytes"))
        .orderBy("kind")),

    "multimodal_phash" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).filter(col("kind") === "image")
        .select(col("media_id"), col("kind"), col("payload").as("bytes")).as[Media]
        .mapPartitions(_.map { m =>
          (m.media_id, MediaCodec.phashImage(MediaCodec.encodePng(m.bytes)))
        })
        .toDF("media_id", "phash")
        .orderBy("media_id")
    }),

    // content-type SNIFFING over the real encoded streams — the
    // ingest-time format audit a 100 TB media pipeline runs before
    // trusting any declared kind column: the leading bytes of every
    // media row match against the three container signatures (PNG
    // \x89PNG\r\n\x1a\n; RIFF····WAVE; GVID) and the sniffed kind is
    // audited per declared kind. Pure per-row Catalyst substring
    // compares on the binary column — bytes never shuffle, only the
    // per-kind audit aggregates do. The oracle reproduces the per-kind
    // counts from the doc_id%3 kind assignment and asserts the match
    // verdict; a codec writing the wrong magic (or a sniffer misreading
    // it) flips all_match and hash-mismatches.
    "mime_sniff_audit" -> ((s, d) => {
      val sniffed = mediaTable(s, d).withColumn("sniffed",
        when(hex(substring(col("bytes"), 1, 8)) === "89504E470D0A1A0A", "image")
          .when(substring(col("bytes"), 1, 4).cast("string") === "RIFF" &&
            substring(col("bytes"), 9, 4).cast("string") === "WAVE", "audio")
          .when(substring(col("bytes"), 1, 4).cast("string") === "GVID", "video")
          .otherwise("unknown"))
      sniffed.groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(when(col("sniffed") === col("kind"), 1L).otherwise(0L)).as("n_match"))
        .select(col("kind"), col("n"), col("n_match"),
          (col("n") === col("n_match")).as("all_match"))
        .orderBy("kind")
    }),

    // the phash DUP-DETECTION contract as an ORACLE-CHECKED query
    // (round-5 verdict, Next-round #7): the hash VALUES are
    // engine-specific (DuckDB can't decode PNG), but "byte-identical
    // payloads get equal hashes" is exact SQL over payload equality.
    // Deterministic duplicates are synthesized (every 30th doc_id
    // re-enters under id+1e6, mirrored in the oracle) so the contract
    // is never vacuously green on a dup-free fixture; naturally
    // occurring exact dups are covered by the same group-by. Payload
    // equality groups on the source TEXT (payload bytes are its UTF-8
    // encoding, so text equality IS payload equality) — the verdict
    // column goes false, and the row hash-mismatches, if any
    // payload-equal group ever sees more than one distinct phash.
    "phash_dup_contract" -> ((s, d) => {
      import s.implicits._
      val imgs = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0 && col("text").isNotNull)
        .select(col("doc_id").as("media_id"), col("text"))
      val dups = imgs.filter(col("media_id") % 30 === 0)
        .select((col("media_id") + 1000000L).as("media_id"), col("text"))
      imgs.unionAll(dups).as[(Long, String)]
        .mapPartitions(_.map { case (_, t) =>
          (t, MediaCodec.phashImage(MediaCodec.encodePng(t.getBytes("UTF-8"))))
        })
        .toDF("text", "phash")
        .groupBy("text")
        .agg(count(lit(1)).as("n"), countDistinct(col("phash")).as("n_hashes"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_rows"),
          max(col("n_hashes")).as("max_h"))
        .select(col("n_groups"), col("n_dup_groups"), col("dup_rows"),
          // vacuously consistent on an empty corpus (MAX over zero
          // groups is NULL) — the oracle's verdict is constant TRUE
          coalesce(col("max_h") === 1, lit(true)).as("hash_consistent"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "mime_sniff_audit" ->
      """WITH m AS (SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind FROM documents)
        |SELECT kind, COUNT(*) AS n, COUNT(*) AS n_match, TRUE AS all_match
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    "phash_dup_contract" ->
      """WITH img AS (SELECT doc_id AS media_id, text
        |  FROM documents WHERE doc_id % 3 = 0),
        |all_rows AS (SELECT media_id, text FROM img
        |  UNION ALL SELECT media_id + 1000000, text FROM img
        |  WHERE media_id % 30 = 0),
        |g AS (SELECT text, COUNT(*) AS n FROM all_rows GROUP BY text)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_rows,
        |  TRUE AS hash_consistent
        |FROM g""".stripMargin,

    "multimodal_decode_stats" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS nb
        |  FROM documents)
        |SELECT kind, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN kind = 'image' THEN GREATEST((nb + 15) // 16, 1)
        |    ELSE (nb + 15) // 16 END) AS BIGINT) AS sum_h,
        |  16 AS max_w,
        |  CAST(SUM(CASE WHEN kind = 'image' THEN 16 * GREATEST((nb + 15) // 16, 1)
        |    WHEN kind = 'video' THEN 16 * ((nb + 15) // 16)
        |    ELSE nb END) AS BIGINT) AS sum_bytes
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    "multimodal_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, CAST(((nb + 127) // 128 + 1) // 2 AS INTEGER) AS n_frames
        |FROM m ORDER BY media_id""".stripMargin,

    "multimodal_resize_stats" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  (octet_length(encode(text)) + 3) // 4 AS ln
        |  FROM documents),
        |v AS (SELECT kind, ln,
        |  CASE WHEN kind = 'image' THEN GREATEST((ln + 15) // 16, 1)
        |       WHEN kind = 'audio' THEN (ln + 15) // 16
        |       ELSE CASE WHEN ln = 0 THEN 0 ELSE
        |         ((ln + 127) // 128 - 1) * 8 +
        |         CASE WHEN ln % 128 = 0 THEN 8
        |              ELSE (ln % 128 + 15) // 16 END END
        |  END AS sum_h FROM m)
        |SELECT kind, COUNT(*) AS n, CAST(SUM(sum_h) AS BIGINT) AS sum_h,
        |  16 AS max_w,
        |  CAST(SUM(CASE WHEN kind = 'audio' THEN ln ELSE 16 * sum_h END)
        |    AS BIGINT) AS sum_bytes
        |FROM v GROUP BY kind ORDER BY kind""".stripMargin,
  // every multimodal query reads payloads() = text-IS-NOT-NULL
  // documents — gate every oracle mechanically on the same boundary
  // (hand-splicing the WHERE into each string invites the
  // over-fitted-oracle gap a forgotten gate reopens)
  ).view.mapValues(Tables.gateDocumentsSql).toMap
}
