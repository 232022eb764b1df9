package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, the layout a 100 TB media pipeline
  * uses (payload bytes stay columnar parquet; metadata is pushdown-able
  * scalar columns next to them).
  *
  * The *header* decode is REAL: [[encodeMedia]] wraps each image row's
  * payload in an actual PNG or JPEG/JFIF container (signature, IHDR
  * chunk / APP0+SOF0 segments, big-endian dimension fields) and each
  * video row in an ANIMATED GIF89a container (logical screen
  * descriptor, one graphic-control-extension + image-descriptor block
  * per frame, trailer), and the decoders parse width/height/channels/
  * n_frames back out of those bytes — [[decodeRecord]] with
  * spec-compliant PNG chunk / JPEG marker / GIF block walks in the
  * typed pipeline, [[decodeHeaderMeta]] as the declarative codegen'd
  * twin (fixed JFIF layout; the typed scan is the general one, and the
  * spec asserts the two agree byte-for-byte). Only container-less
  * payloads (the audio stand-ins) fall back to the clearly-marked
  * [[stubDecode]] — full pixel/sample decode needs codecs this
  * environment doesn't ship. A production build swaps [[stubDecode]]
  * for a codec call; nothing else changes.
  */
object MultimodalOps {

  /** A media row: opaque payload + routing metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Typed decode result (the "image header" a codec would emit). */
  final case class DecodedMeta(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Long,
      height: Long,
      channels: Long,
      n_frames: Long,
  )

  /** STUB decode — deterministic fake in place of an image/audio codec
    * (none available in this environment). Dimensions are pure functions
    * of the byte length so results are reproducible and oracle-able.
    */
  def stubDecode(r: MediaRecord): DecodedMeta = {
    val n = r.payload.length.toLong
    DecodedMeta(
      doc_id = r.doc_id,
      media_type = r.media_type,
      n_bytes = n,
      width = 64L + n % 512L,
      height = 64L + (n * 31L) % 512L,
      channels = 3L,
      n_frames = n % 16L + 1L,
    )
  }

  /** Documents → media frame: payload = UTF-8 bytes standing in for
    * encoded media; media_type round-robins images/audio/video so the
    * type-dispatch plumbing is exercised.
    */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"),
      ).as("media_type"),
      col("text").cast("binary").as("payload"),
    )

  /** Documents → media frame with REAL containers: image rows alternate
    * between a PNG wrapper (8-byte signature + IHDR chunk) and a
    * JPEG/JFIF wrapper (SOI + APP0 + SOF0), whose header fields encode
    * the deterministic stand-in dimensions width = 64 + n mod 512 and
    * height = 64 + 31·n mod 512 (n = pre-wrap text byte length) as
    * genuine big-endian bytes; video rows get an ANIMATED GIF89a
    * container — header, logical screen descriptor (dims as real
    * little-endian u16s), then n mod 16 + 1 complete frame blocks
    * (graphic-control extension + image descriptor + a 1-byte stand-in
    * LZW stream each) and the trailer — so the frame COUNT is carried
    * by actual image-descriptor bytes, not a formula. The text bytes
    * follow each container as the stand-in coded stream. Audio rows
    * stay raw, keeping the unknown-format fallback path exercised.
    * Entirely Column algebra — headers are built with
    * concat/unhex/lpad/hex/repeat, all codegen'd, so encoding runs at
    * scan speed.
    */
  def encodeMedia(docs: DataFrame): DataFrame = {
    val media = asMedia(docs)
    val n = octet_length(col("payload")).cast("long")
    // value → fixed-width big-endian byte string.
    def be(value: org.apache.spark.sql.Column, bytes: Int) =
      unhex(lpad(hex(value), bytes * 2, "0"))
    // PNG: signature, IHDR length (13) + type, w/h BE32, bit depth 8,
    // color type 2 (truecolor → 3 channels), compression/filter/
    // interlace 0, zeroed CRC (the header parse reads fields, not CRCs).
    val pngHeader = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be(lit(64L) + pmod(n, lit(512L)), 4),
      be(lit(64L) + pmod(n * 31L, lit(512L)), 4),
      unhex(lit("080200000000000000")),
    )
    // JPEG: SOI, 16-byte JFIF APP0, SOF0 (len 17, precision 8,
    // h/w BE16, 3 components with standard sampling/quant ids).
    val jpegHeader = concat(
      unhex(lit("FFD8FFE000104A46494600010100000100010000")),
      unhex(lit("FFC0001108")),
      be(lit(64L) + pmod(n * 31L, lit(512L)), 2),
      be(lit(64L) + pmod(n, lit(512L)), 2),
      unhex(lit("03011100021101031101")),
    )
    // GIF uses little-endian u16 dimension fields — byte-swap the hex.
    def le16(value: org.apache.spark.sql.Column) = {
      val h4 = lpad(hex(value), 4, "0")
      concat(substring(h4, 3, 2), substring(h4, 1, 2))
    }
    val wLe = le16(lit(64L) + pmod(n, lit(512L)))
    val hLe = le16(lit(64L) + pmod(n * 31L, lit(512L)))
    // One complete 22-byte frame block: graphic-control extension
    // (introducer F9, size 4, delay 10ms LE, terminator), image
    // descriptor (2C, origin 0,0, full-screen dims, no local color
    // table), LZW minimum code size + one 1-byte data sub-block +
    // stream terminator. All frames identical per row → repeat() builds
    // the variable frame count declaratively.
    val gifFrameHex = concat(
      lit("21F904000A000000"), lit("2C00000000"), wLe, hLe, lit("0008010000"))
    val gifHeader = unhex(concat(
      lit("474946383961"), wLe, hLe, lit("000000"),
      call_function("repeat", gifFrameHex, (pmod(n, lit(16L)) + 1L).cast("int")),
      lit("3B"),
    ))
    media.select(
      col("doc_id"),
      col("media_type"),
      when(
        col("media_type") === "image",
        when(pmod(floor(col("doc_id") / 3).cast("long"), lit(2L)) === 0L, concat(pngHeader, col("payload")))
          .otherwise(concat(jpegHeader, col("payload"))),
      ).when(col("media_type") === "video", concat(gifHeader, col("payload")))
        .otherwise(col("payload")).as("payload"),
    )
  }

  /** PNG signature per the spec §5.2. */
  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** PNG color type → sample channels (spec §11.2.2). */
  private def pngChannels(colorType: Int): Long = colorType match {
    case 0 => 1L // greyscale
    case 2 => 3L // truecolor
    case 3 => 1L // palette index
    case 4 => 2L // grey + alpha
    case 6 => 4L // truecolor + alpha
    case _ => 0L
  }

  /** REAL header decode of one media record: spec-compliant PNG chunk
    * walk (any chunk order before IHDR-bearing position; IHDR is
    * mandated first but the walk doesn't assume it), JPEG marker scan
    * (skips arbitrary APPn/COM segments, handles fill bytes, accepts
    * every SOF0-SOF15 frame marker except DHT/JPG/DAC), and a GIF87a/
    * 89a block walk (logical screen descriptor, optional global/local
    * color tables, extension and image-descriptor blocks with their
    * data sub-block chains) that COUNTS image descriptors — so
    * `n_frames` for animated GIFs is read from real container
    * structure. Unknown formats fall back to [[stubDecode]].
    */
  def decodeRecord(r: MediaRecord): DecodedMeta = {
    val b = r.payload
    def png: Option[DecodedMeta] = {
      if (b.length < 8 || !b.take(8).sameElements(PngSig)) return None
      var pos = 8
      while (pos + 8 <= b.length) {
        val len = be32(b, pos)
        val ctype = new String(b, pos + 4, 4, "US-ASCII")
        if (ctype == "IHDR" && pos + 8 + 13 <= b.length) {
          return Some(DecodedMeta(
            r.doc_id, r.media_type, b.length.toLong,
            width = be32(b, pos + 8),
            height = be32(b, pos + 12),
            channels = pngChannels(b(pos + 17) & 0xff),
            n_frames = 1L,
          ))
        }
        // len is an untrusted unsigned be32: a corrupt length that can't
        // fit in the remaining bytes would make the Int-narrowed advance
        // wrap (pos moving backwards → infinite loop on a malformed
        // payload). The Long comparison rejects it, so pos is strictly
        // increasing and in-bounds.
        if (len > b.length - pos - 12L) return None
        pos += 8 + len.toInt + 4 // length + type + data + CRC
      }
      None
    }
    def jpeg: Option[DecodedMeta] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
      var pos = 2
      while (pos + 1 < b.length) {
        if ((b(pos) & 0xff) != 0xff) return None // desynchronized
        var m = b(pos + 1) & 0xff
        while (m == 0xff && pos + 2 < b.length) { pos += 1; m = b(pos + 1) & 0xff } // fill bytes
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof && pos + 9 < b.length) {
          return Some(DecodedMeta(
            r.doc_id, r.media_type, b.length.toLong,
            width = be16(b, pos + 7).toLong,
            height = be16(b, pos + 5).toLong,
            channels = (b(pos + 9) & 0xff).toLong,
            n_frames = 1L,
          ))
        } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          pos += 2 // standalone marker, no length field
        } else if (m == 0xd9 || pos + 3 >= b.length) {
          return None // EOI / truncated before any SOF
        } else {
          pos += 2 + be16(b, pos + 2) // segment with length field
        }
      }
      None
    }
    def gif: Option[DecodedMeta] = {
      if (b.length < 14) return None
      val sig = new String(b, 0, 6, "US-ASCII")
      if (sig != "GIF87a" && sig != "GIF89a") return None
      def le16(off: Int): Long = (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)
      // Data sub-block chain: (size, bytes)* until a 0 terminator.
      // Returns -1 on truncation so the walk can bail to the fallback
      // instead of reading out of bounds.
      def skipSubBlocks(start: Int): Int = {
        var pos = start
        while (pos < b.length) {
          val sz = b(pos) & 0xff
          pos += 1
          if (sz == 0) return pos
          pos += sz
        }
        -1
      }
      val packed = b(10) & 0xff
      var pos = 13
      if ((packed & 0x80) != 0) pos += 3 * (1 << ((packed & 7) + 1)) // global color table
      var frames = 0L
      while (pos < b.length) {
        (b(pos) & 0xff) match {
          case 0x3b => // trailer — bytes past it are the stand-in stream
            return Some(DecodedMeta(
              r.doc_id, r.media_type, b.length.toLong,
              width = le16(6), height = le16(8),
              channels = 3L, // palette indices resolve to RGB
              n_frames = frames,
            ))
          case 0x21 => // extension: introducer + label, then sub-blocks
            pos = skipSubBlocks(pos + 2)
            if (pos < 0) return None
          case 0x2c => // image descriptor
            if (pos + 10 > b.length) return None
            val ipacked = b(pos + 9) & 0xff
            pos += 10
            if ((ipacked & 0x80) != 0) pos += 3 * (1 << ((ipacked & 7) + 1)) // local color table
            pos += 1 // LZW minimum code size
            pos = skipSubBlocks(pos)
            if (pos < 0) return None
            frames += 1
          case _ => return None // desynchronized
        }
      }
      None // ran off the end without a trailer
    }
    png.orElse(jpeg).orElse(gif).getOrElse(stubDecode(r))
  }

  /** The typed per-partition decode pipeline (the Scala analogue of a
    * pandas-batch UDF): one iterator pass per partition, no driver
    * collect, codec state could be opened once per partition here.
    */
  def decodeAll(spark: SparkSession, media: DataFrame): Dataset[DecodedMeta] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it => it.map(decodeRecord) }
  }

  /** Declarative codegen'd twin of [[decodeRecord]] for [[encodeMedia]]
    * payloads: parses the PNG IHDR / JPEG SOF0 dimension fields straight
    * out of the payload BYTES with substring+hex+conv Column algebra.
    * The JPEG branch assumes the fixed 18-byte JFIF APP0 emitted by
    * [[encodeMedia]] (a declarative marker *scan* isn't expressible as
    * a fixed projection); the typed scan is the general parser and
    * MultimodalSpec asserts the two agree on the whole corpus. Rows
    * that are neither PNG nor JPEG get the stub formulas (documented
    * deterministic fake — no codecs in this environment).
    */
  def decodeHeaderMeta(media: DataFrame): DataFrame = {
    val p = col("payload")
    val n = octet_length(p).cast("long")
    def beN(start: Int, len: Int) = conv(hex(substring(p, start, len)), 16, 10).cast("long")
    val isPng = octet_length(p) >= 33 && substring(p, 1, 8) === unhex(lit("89504E470D0A1A0A"))
    val isJfif = octet_length(p) >= 39 && substring(p, 1, 4) === unhex(lit("FFD8FFE0")) &&
      substring(p, 21, 2) === unhex(lit("FFC0"))
    val isGif = octet_length(p) >= 14 && substring(p, 1, 6) === unhex(lit("474946383961"))
    val pngColor = beN(26, 1)
    // Frame count = occurrences of the complete 22-byte frame block
    // (GCE + image descriptor carrying THIS row's dims, read back out
    // of the logical-screen-descriptor bytes + stand-in LZW stream) in
    // the payload's hex — a count of real image descriptors, like the
    // typed walk's. The block contains 0xF9/0x2C sequences that cannot
    // occur in the appended UTF-8 stand-in stream, so the count is
    // exact for encodeMedia's layout (the general parser is the typed
    // one; the spec asserts agreement).
    val hx = hex(p)
    val gifFrameHex = concat(
      lit("21F904000A000000"), lit("2C00000000"),
      hex(substring(p, 7, 2)), hex(substring(p, 9, 2)), lit("0008010000"))
    val gifFrames =
      ((length(hx) - length(replace(hx, gifFrameHex, lit("")))) / length(gifFrameHex)).cast("long")
    val (w, h) = headerDims(p)
    media.select(
      col("doc_id"),
      col("media_type"),
      n.as("n_bytes"),
      w.as("width"),
      h.as("height"),
      when(
        isPng,
        when(pngColor === 0L, 1L).when(pngColor === 2L, 3L).when(pngColor === 3L, 1L)
          .when(pngColor === 4L, 2L).when(pngColor === 6L, 4L).otherwise(0L),
      ).when(isJfif, beN(30, 1))
        .otherwise(lit(3L)).as("channels"),
      when(isPng || isJfif, lit(1L)).when(isGif, gifFrames)
        .otherwise(pmod(n, lit(16L)) + 1L).as("n_frames"),
    )
  }

  /** Declarative twin of [[stubDecode]] (identical arithmetic as Column
    * algebra) — pins the stub's semantics in the differential spec; the
    * registry queries use [[decodeHeaderMeta]], which parses real
    * container bytes and only falls back to these formulas for
    * container-less payloads.
    */
  def decodeMeta(media: DataFrame): DataFrame = {
    val n = octet_length(col("payload")).cast("long")
    media.select(
      col("doc_id"),
      col("media_type"),
      n.as("n_bytes"),
      (lit(64L) + pmod(n, lit(512L))).as("width"),
      (lit(64L) + pmod(n * 31L, lit(512L))).as("height"),
      lit(3L).as("channels"),
      (pmod(n, lit(16L)) + 1L).as("n_frames"),
    )
  }

  /** The decode stage's CONTENT face: strip each payload's real
    * container wrapping (parsed from the bytes — PNG signature → the
    * 33-byte signature+IHDR header, JFIF SOI/APP0/SOF0 → 39 bytes,
    * GIF89a → 14 bytes of header/LSD/trailer plus 22 per counted frame
    * block) and return the decoded stream that remains, as a string
    * column. Container-less payloads pass through whole. This is what
    * a codec's output feeds downstream: two copies of the same media
    * re-encoded into different containers yield IDENTICAL content
    * here, which is exactly the invariance [[nearDupPairs]] builds on.
    * A header length misread by even one byte shifts every content
    * character and scrambles the fingerprint — so the oracle's
    * independent content prediction hash-checks the parse.
    */
  /** Frame count of a stand-in GIF payload, read from the REAL frame
    * blocks — the [[decodeHeaderMeta]] counting idiom over the same
    * byte layout (0 for non-GIF payloads' hex never matching).
    */
  private def gifFrameCount(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hx = hex(p)
    val gifFrameHex = concat(
      lit("21F904000A000000"), lit("2C00000000"),
      hex(substring(p, 7, 2)), hex(substring(p, 9, 2)), lit("0008010000"))
    ((length(hx) - length(replace(hx, gifFrameHex, lit("")))) / length(gifFrameHex)).cast("int")
  }

  /** Container header length parsed from the payload bytes — the strip
    * offset [[decodeContent]] and [[videoContent]] share.
    */
  private def containerHdrLen(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val isPng = octet_length(p) >= 33 && substring(p, 1, 8) === unhex(lit("89504E470D0A1A0A"))
    val isJfif = octet_length(p) >= 39 && substring(p, 1, 4) === unhex(lit("FFD8FFE0")) &&
      substring(p, 21, 2) === unhex(lit("FFC0"))
    val isGif = octet_length(p) >= 14 && substring(p, 1, 6) === unhex(lit("474946383961"))
    when(isPng, lit(33))
      .when(isJfif, lit(39))
      .when(isGif, lit(14) + gifFrameCount(p) * 22)
      .otherwise(lit(0))
  }

  def decodeContent(media: DataFrame): DataFrame = {
    val p = col("payload")
    val hdrLen = containerHdrLen(p)
    media.select(
      col("doc_id"),
      col("media_type"),
      p.substr(hdrLen + 1, octet_length(p) - hdrLen).cast("string").as("content"),
    )
  }

  /** (width, height) parsed from the container header bytes — the
    * dimension half of [[decodeHeaderMeta]], shared with
    * [[curationMeta]] so the persisted curation artifact and the meta
    * face read the same fields from the same offsets.
    */
  private def headerDims(
      p: org.apache.spark.sql.Column,
  ): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val n = octet_length(p).cast("long")
    def beN(start: Int, len: Int) = conv(hex(substring(p, start, len)), 16, 10).cast("long")
    def leN16(start: Int) =
      conv(concat(hex(substring(p, start + 1, 1)), hex(substring(p, start, 1))), 16, 10).cast("long")
    val isPng = octet_length(p) >= 33 && substring(p, 1, 8) === unhex(lit("89504E470D0A1A0A"))
    val isJfif = octet_length(p) >= 39 && substring(p, 1, 4) === unhex(lit("FFD8FFE0")) &&
      substring(p, 21, 2) === unhex(lit("FFC0"))
    val isGif = octet_length(p) >= 14 && substring(p, 1, 6) === unhex(lit("474946383961"))
    (
      when(isPng, beN(17, 4)).when(isJfif, beN(28, 2)).when(isGif, leN16(7))
        .otherwise(lit(64L) + pmod(n, lit(512L))),
      when(isPng, beN(21, 4)).when(isJfif, beN(26, 2)).when(isGif, leN16(9))
        .otherwise(lit(64L) + pmod(n * 31L, lit(512L))),
    )
  }

  /** `(doc_id, has_signal)` for video rows: true iff the per-frame
    * slices are non-empty — floor(contentLen / n_frames) > 0, the exact
    * degenerate cut [[videoFrameFingerprints]] applies — read straight
    * from the container bytes in ONE projection (the frame-count parse
    * CSE-folds across its three references) instead of re-running the
    * per-frame fingerprint pass just to take distinct doc_ids.
    */
  private def frameSignal(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = gifFrameCount(p)
    val hdrLen = containerHdrLen(p)
    val contentLen = length(p.substr(hdrLen + 1, octet_length(p) - hdrLen).cast("string"))
    f > 0 && floor(contentLen / f) > 0
  }

  /** ONE decoded scan carrying everything a per-item verdict needs —
    * the payload digest, the header-parsed dimensions, the payload
    * size, and video's per-frame signal flag — so exact-hash, header
    * meta, and the content floor derive from a single pass over the
    * payload bytes instead of three. `has_signal` is the video frame
    * floor (constant true for the other modalities, whose floors read
    * width×height or n_bytes instead).
    */
  private[graft] def mediaMeta(media: DataFrame, mediaType: String): DataFrame = {
    val p = col("payload")
    val (w, h) = headerDims(p)
    val signal = if (mediaType == "video") frameSignal(p) else lit(true)
    media
      .filter(col("media_type") === mediaType)
      .select(
        col("doc_id"),
        md5(p).as("payload_md5"),
        w.as("width"),
        h.as("height"),
        octet_length(p).cast("long").as("n_bytes"),
        signal.as("has_signal"),
      )
  }

  /** [[mediaMeta]] plus the exact-dup keeper (min doc_id per payload
    * digest — one window, hash-partitioned on the digest; the same
    * shuffle the old exact-dup groupBy paid) — the row the persisted
    * `_meta` artifact stores.
    */
  private[graft] def curationMeta(media: DataFrame, mediaType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    mediaMeta(media, mediaType)
      .withColumn(
        "ex_keeper",
        min(col("doc_id")).over(Window.partitionBy("payload_md5")))
  }

  /** The verdict tail every curation face shares — corpus-scan and
    * index-served alike: first-failing-stage priority over the
    * [[curationMeta]] columns plus the cluster assignment, `dup_of`
    * naming the keeper for either dup reason. `floorReject`/`floorLabel`
    * carry the modality floor (too_small / no_content / too_short).
    */
  private[graft] def curationVerdict(
      meta: DataFrame,
      clusters: DataFrame,
      floorReject: org.apache.spark.sql.Column,
      floorLabel: String,
  ): DataFrame = {
    val isExact = col("ex_keeper") =!= col("doc_id")
    val isNear = col("component").isNotNull && col("component") =!= col("doc_id")
    meta
      .join(clusters, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(isExact, lit("exact_dup"))
          .when(isNear, lit("near_dup"))
          .when(floorReject, lit(floorLabel))
          .otherwise(lit("keep")).as("status"),
        when(isExact, col("ex_keeper")).when(isNear, col("component")).as("dup_of"),
      )
      .orderBy("doc_id")
  }

  /** The three modality floors, named once — shared by the corpus-scan
    * pipelines and [[MediaIndexOps.curationFromIndex]]'s read faces so
    * both faces state the identical verdict rule.
    */
  private[graft] def imageFloor(minPixels: Long): (org.apache.spark.sql.Column, String) =
    (col("width") * col("height") < minPixels, "too_small")
  private[graft] val videoFloor: (org.apache.spark.sql.Column, String) =
    (!col("has_signal"), "no_content")
  private[graft] def audioFloor(regions: Int): (org.apache.spark.sql.Column, String) =
    (col("n_bytes") < regions, "too_short")

  /** Video rows → `(doc_id, n_frames, content)`: the frame count comes
    * from the REAL image-descriptor blocks in the container bytes (not
    * a formula), content is the decoded stream after the container
    * strip. The per-frame face of the decode stage.
    */
  private[graft] def videoContent(media: DataFrame): DataFrame = {
    val p = col("payload")
    val hdrLen = containerHdrLen(p)
    media
      .filter(col("media_type") === "video")
      .select(
        col("doc_id"),
        gifFrameCount(p).cast("long").as("n_frames"),
        p.substr(hdrLen + 1, octet_length(p) - hdrLen).cast("string").as("content"),
      )
  }

  /** Perceptual (near-dup) image dedup — the pass [[MultimodalOps]]'
    * exact content-hash dedup cannot do: re-encoded copies (same image,
    * different container) and lightly-edited copies hash to DIFFERENT
    * payload bytes, but their decoded content streams are identical or
    * close, so their [[graft.expressions.DHash]] gradient fingerprints
    * sit within a small hamming distance. Candidate generation is
    * exact pigeonhole banding (the SimHash-pairs discipline): the
    * `regions−1`-bit fingerprint splits into `blockBands` chunks, and
    * any pair within `maxHamming` bit flips must agree on ≥1 whole
    * chunk (requires blockBands > maxHamming) — so candidates come
    * from a pure equi-join on (chunk_idx, chunk_bits), never an
    * all-pairs comparison, at any corpus scale. Returns the verified
    * pairs (doc_a, doc_b, hamming ≤ maxHamming) over image rows.
    */
  def nearDupPairs(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = nearDupPairs(media, regions, blockBands, maxHamming, mediaType = "image")

  /** [[nearDupPairs]] for any single-stream modality: `image` rows
    * fingerprint the container-stripped content, `audio` rows the raw
    * stand-in sample stream [[decodeContent]] passes through whole (the
    * dHash gradient over the decoded stream stands in for a
    * chromaprint-style acoustic fingerprint — the banding/verify
    * machinery is the real thing either way). Video is per-frame —
    * [[nearDupPairsVideo]].
    */
  def nearDupPairs(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      mediaType: String,
  ): DataFrame = {
    val bits = regions - 1
    Banding.requirePigeonhole(blockBands, maxHamming)
    // Fingerprints are computed ONCE (decode + one content pass per
    // row) and materialized; the chunk self-join reads stored
    // fingerprints instead of re-decoding the corpus twice.
    val fp = decodeContent(media)
      .filter(col("media_type") === mediaType)
      .select(col("doc_id"), graft.expressions.DHash(col("content"), regions).as("dhash"))
      .localCheckpoint()
    val chunks = Banding.chunkRows(fp, "dhash", bits, blockBands)
    Banding
      .hammingSelfPairs(chunks, "dhash", maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** [[nearDupPairs]] with the SECOND fingerprint family — the
    * Walsh–Hadamard hash ([[graft.expressions.WHash]]): each bit is
    * the sign of one WHT coefficient of the region-sum vector, so the
    * fingerprint encodes GLOBAL frequency structure where dHash
    * encodes local gradients. A production pipeline runs both and
    * unions (or intersects) the verified pairs: the two families miss
    * DIFFERENT near-dups — gradient-preserving global edits slip past
    * dHash, structure-preserving local noise slips past wHash. Same
    * banding discipline: `bits` fingerprint bits, pigeonhole chunks,
    * equi-join candidates, inline hamming verify — never all-pairs.
    */
  def nearDupPairsWHash(
      media: DataFrame,
      regions: Int,
      bits: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    Banding.requirePigeonhole(blockBands, maxHamming)
    val fp = decodeContent(media)
      .filter(col("media_type") === "image")
      .select(
        col("doc_id"),
        graft.expressions.WHash(col("content"), regions, bits).as("whash"),
      )
      .localCheckpoint()
    val chunks = Banding.chunkRows(fp, "whash", bits, blockBands)
    Banding
      .hammingSelfPairs(chunks, "whash", maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** TWO-FAMILY consensus dedup — the precision pattern a real media
    * pipeline runs: the dHash banding proposes pairs (local-gradient
    * family, discriminative), and every pair is then re-verified by
    * the SECOND family ([[graft.expressions.WHash]], global frequency
    * structure) — `confirmed` marks agreement. On template-generated
    * corpora the standalone wHash banding floods (measured at sf0.1:
    * 21k pairs at hamming 0 — coarse structure is shared), which is
    * exactly why the second family verifies on the FIRST family's
    * candidates instead of banding on its own: output size is bounded
    * by the dHash pair set, and the extra cost is two narrow joins
    * against the once-computed fingerprint frame.
    */
  def nearDupConsensus(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      whashBudget: Int,
      mediaType: String = "image",
  ): DataFrame = {
    val bits = regions - 1
    val pairs = nearDupPairs(media, regions, blockBands, maxHamming, mediaType)
    val wfp = decodeContent(media)
      .filter(col("media_type") === mediaType)
      .select(
        col("doc_id"),
        graft.expressions.WHash(col("content"), regions, bits).as("whash"),
      )
      .localCheckpoint()
    confirmPairs(pairs, wfp, whashBudget)
  }

  /** [[nearDupConsensus]] for VIDEO: the dHash family proposes pairs
    * per frame (min pairwise-frame hamming, [[nearDupPairsVideo]]); the
    * Walsh–Hadamard family re-verifies each pair as a WHOLE-ITEM
    * judgment — one WHash over the full stripped stream per video,
    * because global frequency structure is a property of the item, not
    * of a 1/16th slice. Same bound as every consensus face: output
    * never exceeds the dHash pair set.
    */
  def nearDupConsensusVideo(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      whashBudget: Int,
  ): DataFrame = {
    val pairs = nearDupPairsVideo(media, regions, blockBands, maxHamming)
    val wfp = videoContent(media)
      .select(
        col("doc_id"),
        graft.expressions.WHash(col("content"), regions, regions - 1).as("whash"),
      )
      .localCheckpoint()
    confirmPairs(pairs, wfp, whashBudget)
  }

  /** The consensus tail every two-family face shares: pick up both
    * sides' WHash from the one-row-per-doc fingerprint frame and emit
    * the confirmation verdict.
    */
  private[operators] def confirmPairs(
      pairs: DataFrame,
      wfp: DataFrame,
      whashBudget: Int,
  ): DataFrame = {
    val wh = bit_count(col("w_a").bitwiseXOR(col("w_b")))
    pairs
      .join(wfp.select(col("doc_id").as("doc_a"), col("whash").as("w_a")), "doc_a")
      .join(wfp.select(col("doc_id").as("doc_b"), col("whash").as("w_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("hamming"),
        wh.as("whash_hamming"),
        (wh <= whashBudget).as("confirmed"),
      )
      .orderBy("doc_a", "doc_b")
  }

  /** Per-frame perceptual fingerprints for video rows,
    * `(doc_id, frame_idx, dhash)`: frame k's decoded content is the
    * k-th of n_frames equal floor(L/F)-char slices of the
    * container-stripped stream — the deterministic stand-in for a
    * codec's frame decode (codecs don't ship in this environment); the
    * Spark-side shape (frame explode → one fingerprint per frame, all
    * row-local column algebra) is the real pipeline. The frame count is
    * parsed from the real container blocks ([[videoContent]]). Videos
    * with decoded content SHORTER than their frame count (flen = 0)
    * are dropped entirely — their slices would be empty, every such
    * video would fingerprint to dhash 0 and all of them would pair at
    * hamming 0, flooding every downstream face with content-free
    * matches. The oracle applies the identical `fl > 0` cut.
    *
    * `withWhash = true` additionally carries the WHOLE-ITEM
    * Walsh–Hadamard fingerprint ([[graft.expressions.WHash]] over the
    * full stripped stream, repeated on each frame row) — the second
    * fingerprint family is a global-structure judgment on the item,
    * not a per-frame one, and computing it here keeps the consensus
    * index build a single decode pass.
    */
  def videoFrameFingerprints(
      media: DataFrame,
      regions: Int,
      withWhash: Boolean = false,
  ): DataFrame = {
    val v = videoContent(media).filter(col("n_frames") > 0)
    val whashCols =
      if (withWhash)
        Seq(graft.expressions.WHash(col("content"), regions, regions - 1).as("whash"))
      else Seq.empty[org.apache.spark.sql.Column]
    // ONE decode pass per video: DHashFrames emits every frame's dHash
    // from a single walk of the content stream (bit-identical to
    // DHash-over-substr per frame, which paid an O(frame_idx) seek into
    // the variable-width stream plus a UTF-16 decode PER FRAME — O(F²)
    // per video). The degenerate cut (flen = 0 → empty array) rides
    // INSIDE the explode exactly as before: no Filter operator
    // re-evaluates the frame-count parse outside the projection where
    // codegen's subexpression elimination can fold it.
    v.select(
      Seq(
        col("doc_id"),
        posexplode(graft.expressions.DHashFrames(col("content"), col("n_frames"), regions))
          .as(Seq("frame_idx", "dhash")),
      ) ++ whashCols: _*,
    ).select(
      (Seq(col("doc_id"), col("frame_idx"), col("dhash")) ++
        whashCols.map(_ => col("whash"))): _*,
    )
  }

  /** Video near-dup pairs: per-frame pigeonhole banding with the inline
    * hamming verify, scored by the MIN pairwise-frame hamming — the
    * standard video-dedup reduction (two videos match when any frame of
    * one sits within `maxHamming` of any frame of the other). The min
    * over VERIFIED collisions is exact, not approximate: if the true
    * closest frame pair is within `maxHamming`, pigeonhole guarantees
    * that very pair collides on ≥1 chunk, so it is among the verified
    * rows [[Banding.hammingPairs]] reduces to one per pair and no
    * smaller value exists. Candidates remain a pure banded equi-join —
    * frames never all-pairs across the corpus.
    */
  def nearDupPairsVideo(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    val bits = regions - 1
    Banding.requirePigeonhole(blockBands, maxHamming)
    val fp = videoFrameFingerprints(media, regions).localCheckpoint()
    val chunks = Banding.chunkRows(fp, "dhash", bits, blockBands)
    Banding
      .hammingSelfPairs(chunks, "dhash", maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-frame rows with the frame-to-frame fingerprint delta and a
    * 0-based scene id — shared core of [[sceneCuts]] / [[keyframes]].
    * Consecutive frames whose dHash hamming distance stays within
    * `sameSceneHamming` (the near-dup budget) belong to one scene; a
    * larger jump — or the first frame — opens a new one. Both windows
    * share the (doc_id, frame_idx) partitioning/ordering, so the plan
    * pays ONE hash partition by doc_id; frames are bounded per item,
    * so per-video window state is O(frames), never corpus-wide.
    */
  private def sceneFrames(
      media: DataFrame,
      regions: Int,
      sameSceneHamming: Int,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    videoFrameFingerprints(media, regions)
      .withColumn("prev", lag(col("dhash"), 1).over(w))
      .withColumn(
        "delta",
        when(col("prev").isNotNull, bit_count(col("dhash").bitwiseXOR(col("prev")))))
      .withColumn("is_cut", col("prev").isNull || col("delta") > sameSceneHamming)
      .withColumn(
        "scene_id",
        sum(when(col("is_cut"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
  }

  /** Scene-change detection over the per-frame fingerprints — the
    * pass a video pipeline runs before frame sampling (sample per
    * SCENE, not per fixed stride, or captioning sees 16 copies of one
    * shot). Emits every frame with its delta to the previous frame
    * (NULL for frame 0) and its 0-based scene id.
    */
  def sceneCuts(media: DataFrame, regions: Int, sameSceneHamming: Int): DataFrame =
    sceneFrames(media, regions, sameSceneHamming)
      .select(col("doc_id"), col("frame_idx"), col("delta"), col("scene_id"))
      .orderBy("doc_id", "frame_idx")

  /** Keyframe selection: one representative frame per scene (the
    * scene's FIRST frame — the cut frame itself) plus the scene
    * length, the sampling plan downstream captioning/embedding
    * actually wants. One aggregation on (doc_id, scene_id) over
    * [[sceneCuts]]'s frame rows.
    */
  def keyframes(media: DataFrame, regions: Int, sameSceneHamming: Int): DataFrame =
    sceneFrames(media, regions, sameSceneHamming)
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(
        min(col("frame_idx")).as("keyframe_idx"),
        count(lit(1)).as("n_frames"),
      )
      .orderBy("doc_id", "scene_id")

  /** CROSS-MODAL content-reuse detection: known IMAGES matched against
    * VIDEO FRAMES — the frame-level screen a media pipeline runs at
    * upload time (does any frame of this video reproduce an image we
    * hold — a blocklist entry, a copyrighted still, a training-set
    * member?). Same banded discipline as every near-dup face: image
    * fingerprints and per-frame video fingerprints join on pigeonhole
    * chunks (never all-pairs), hamming verifies inline, and the pair
    * score is the MIN over frames per (image, video) — exact by the
    * pigeonhole argument. Image and video doc_ids are disjoint
    * modalities of the corpus, so no self-pair predicate is needed.
    * In this corpus the true positives are single-frame videos whose
    * decoded stream near-duplicates an image's (frame slicing makes
    * multi-frame content proportionally different).
    */
  def frameMatchPairs(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    val bits = regions - 1
    Banding.requirePigeonhole(blockBands, maxHamming)
    val img = decodeContent(media)
      .filter(col("media_type") === "image")
      .select(col("doc_id"), graft.expressions.DHash(col("content"), regions).as("dhash"))
      .localCheckpoint()
    val vid = videoFrameFingerprints(media, regions).localCheckpoint()
    Banding
      .hammingPairs(
        Banding.chunkRows(img, "dhash", bits, blockBands),
        Banding.chunkRows(vid, "dhash", bits, blockBands),
        "dhash", maxHamming, "image_id", "video_id")
      .orderBy("image_id", "video_id")
  }

  /** Resize planning: aspect-preserving fit of each decoded image into
    * a `target`×`target` box, never upscaling. The geometry (scale
    * factor, output dims) is the real pipeline logic; the pixel
    * resampling it parameterizes lives behind the stubbed codec.
    * floor(dim · scale) with scale = min(1, target/w, target/h) — all
    * exact double arithmetic.
    */
  def planResize(media: DataFrame, target: Int): DataFrame = {
    val meta = decodeHeaderMeta(media).filter(col("media_type") === "image")
    val scale = least(
      lit(1.0),
      lit(target.toDouble) / col("width"),
      lit(target.toDouble) / col("height"),
    )
    meta.select(
      col("doc_id"),
      col("width"),
      col("height"),
      scale.as("scale"),
      floor(col("width") * scale).cast("long").as("out_width"),
      floor(col("height") * scale).cast("long").as("out_height"),
    )
  }

  /** STUB feature extractor: a deterministic 8-dim "embedding" derived
    * from the payload's portable hash — stands in for an image/audio
    * encoder model (none available here). The Spark-side shape is the
    * real thing: media rows in, fixed-width `array<double>` out, ready
    * for the [[SimilarityOps]] ANN operators. e_j = ((h·(j+1)) mod 1009
    * + 1) / 1010 keeps every value an exact positive double both engines
    * reproduce (never a zero vector → cosine is always defined).
    */
  def stubEmbed(media: DataFrame, dims: Int = 8): DataFrame = {
    import graft.expressions.PolyHash
    val h = PolyHash(col("payload").cast("string"))
    // array(...) with h referenced once per dimension in ONE projection:
    // codegen subexpression elimination computes the payload hash once
    // per row. (A transform lambda would inline and re-fold it per
    // dimension — the HOF recompute trap, see graft.expressions.)
    media.select(
      col("doc_id"),
      col("media_type"),
      array(
        (0 until dims).map(j => (h * (j + 1) % 1009L + 1L).cast("double") / 1010.0): _*,
      ).as("embedding"),
    )
  }

  /** The composed IMAGE curation pass — the mm twin of
    * `TextOps.curationPipeline`, the decision every media-training
    * pipeline makes per item, as one operator face: each image is
    * rejected by the FIRST failing stage in cost order — `exact_dup`
    * (byte-identical payload, cheapest: one hash aggregation — keeper =
    * min doc_id), `near_dup` (perceptual cluster member that is not the
    * cluster keeper — the banded dHash + label-prop machinery),
    * `too_small` (real header-parsed width × height under `minPixels` —
    * the resolution floor an image-training recipe states), else
    * `keep`. `dup_of` carries the keeper for either dup reason. All
    * key-partitioned joins over the already-scale-shaped parts; the
    * verdict join adds nothing corpus-wide.
    */
  def curationPipeline(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
      minPixels: Long,
  ): DataFrame = {
    val (floor, label) = imageFloor(minPixels)
    curationVerdict(
      curationMeta(media, "image"),
      DedupOps.connectedComponents(nearDupPairs(media, regions, blockBands, maxHamming)),
      floor, label)
  }

  /** The VIDEO curation pass — [[curationPipeline]]'s per-frame
    * sibling: exact byte dedup first (cheapest), then perceptual
    * near-dup clusters over the MIN pairwise-frame hamming pairs
    * ([[nearDupPairsVideo]] — keeper = component id), then the
    * content floor: videos whose decoded stream is shorter than their
    * frame count carry no per-frame signal ([[videoFrameFingerprints]]
    * drops them), so they reject as `no_content` rather than silently
    * passing; else `keep`. Same first-failing-stage priority and
    * `dup_of` contract as the image face.
    */
  def curationPipelineVideo(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    val (floor, label) = videoFloor
    curationVerdict(
      curationMeta(media, "video"),
      DedupOps.connectedComponents(nearDupPairsVideo(media, regions, blockBands, maxHamming)),
      floor, label)
  }

  /** The AUDIO curation pass — completes the per-modality triplet:
    * exact byte dedup, perceptual near-dup clusters over the
    * single-stream audio fingerprints, and the signal floor — streams
    * shorter than one sample per fingerprint region carry mostly-empty
    * region sums whose gradient encodes occupancy rather than content
    * (the documented short-content hazard of the dHash family), so
    * they reject as `too_short` instead of polluting the keep set.
    */
  def curationPipelineAudio(
      media: DataFrame,
      regions: Int,
      blockBands: Int,
      maxHamming: Int,
  ): DataFrame = {
    val (floor, label) = audioFloor(regions)
    curationVerdict(
      curationMeta(media, "audio"),
      DedupOps.connectedComponents(nearDupPairs(media, regions, blockBands, maxHamming, "audio")),
      floor, label)
  }

  /** Sign bucket over the CENTERED stub-embedding space: bit d is
    * whether dim d exceeds 0.5 — [[SimilarityOps.signBucket]]'s
    * hyperplane family shifted to the orthant center, because
    * [[stubEmbed]]'s values are strictly positive ((0,1) uniform-ish)
    * and raw sign-LSH would hash every vector into one bucket.
    */
  def centeredSignBucket(vec: org.apache.spark.sql.Column, probeDims: Seq[Int]): org.apache.spark.sql.Column =
    probeDims.foldLeft(lit(0L)) { (acc, d) =>
      acc * 2 + when(element_at(vec, d + 1) > 0.5, 1L).otherwise(0L)
    }

  /** CROSS-MODAL text↔media screen — "which documents duplicate/describe
    * media we hold": every document's TEXT-side embedding is matched
    * against the embeddings of a HELD media set (the image blocklist,
    * doc_id % blockMod = 0) in the shared [[stubEmbed]] space. The
    * `dd_contamination_semantic` shape pointed across modalities: the
    * held side is small by construction, so its band rows BROADCAST
    * (carrying their unit vectors — candidates verify by exact fold-dot
    * inline in the same join) and the corpus side never shuffles; the
    * hit rollup is broadcast back onto the document list the same way.
    * Self-pairs (a document vs its own media item) are excluded — they
    * share bytes by construction. Stub-space honesty: [[stubEmbed]] is a
    * hash of the payload, so matches are exact-content collisions
    * (cosine 1) and the threshold sits just under it; a production
    * build swaps the encoder and the same plan finds paraphrase-level
    * matches. Returns the total per-document verdict (clean rows at 0).
    */
  def textMediaScreen(
      docs: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
      blockMod: Int = 10,
      heldType: String = "image",
  ): DataFrame = textMediaScreenAgainst(docs, docs, threshold, bands, blockMod, heldType)

  /** Band rows of one side of the screen: one row per (band, vector)
    * with the bucket key and the unit vector riding along so candidates
    * verify by exact fold-dot inline in the bucket join.
    */
  private def withBands(
      emb: DataFrame,
      bands: Seq[Seq[Int]],
      idOut: String,
      uOut: String,
  ): DataFrame =
    emb.select(
      col("doc_id").as(idOut),
      SimilarityOps.unitNorm(col("embedding")).as(uOut),
      posexplode(array(bands.map(d => centeredSignBucket(col("embedding"), d)): _*))
        .as(Seq("band_idx", "bucket")),
    )

  /** The held blocklist's band rows (`media_id`, `mu`, band_idx,
    * bucket) — the standing read-only side of the screen, built once
    * and broadcast into every probe. `heldType` picks the held
    * modality: a blocklist is modality-agnostic in the shared
    * embedding space, so image stills, audio streams, and videos all
    * screen through the identical plan.
    */
  private[graft] def heldBandRows(
      heldDocs: DataFrame,
      bands: Seq[Seq[Int]],
      blockMod: Int,
      heldType: String,
  ): DataFrame =
    withBands(
      stubEmbed(asMedia(heldDocs))
        .filter(
          col("media_type") === heldType && pmod(col("doc_id"), lit(blockMod.toLong)) === 0L),
      bands, "media_id", "mu")

  /** The per-probe screen over a PRE-BUILT held band frame — the tail
    * the batch face runs once and the streaming face runs per
    * micro-batch without re-deriving the blocklist.
    */
  private def screenWithHeld(
      held: DataFrame,
      docs: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
  ): DataFrame = {
    val text = withBands(
      stubEmbed(docs.select(
        col("doc_id"),
        lit("text").as("media_type"),
        col("text").cast("binary").as("payload"))),
      bands, "doc_id", "u")
    val hits = text
      .join(broadcast(held), Seq("band_idx", "bucket"))
      .filter(col("doc_id") =!= col("media_id"))
      .select(col("doc_id"), col("media_id"), SimilarityOps.dot(col("u"), col("mu")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"), max(col("cosine")).as("max_cos"))
    docs.select(col("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_media_matches"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cosine"),
        (coalesce(col("hits"), lit(0L)) > 0).as("flagged"),
      )
      .orderBy("doc_id")
  }

  /** [[textMediaScreen]] with the HELD side and the probed documents as
    * separate frames — the shape the streaming face needs (the held
    * blocklist is the standing corpus; each micro-batch probes only its
    * own documents).
    */
  def textMediaScreenAgainst(
      heldDocs: DataFrame,
      docs: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
      blockMod: Int = 10,
      heldType: String = "image",
  ): DataFrame =
    screenWithHeld(heldBandRows(heldDocs, bands, blockMod, heldType), docs, threshold, bands)

  /** The STREAMING face of the text↔media screen: every micro-batch of
    * arriving documents is screened against the standing held-media
    * blocklist ([[textMediaScreenAgainst]]) and its per-document
    * verdicts handed to `onVerdicts`. The held side's embeddings, unit
    * vectors, and band rows are MATERIALIZED ONCE before the stream
    * starts (it is a standing read-only corpus — re-deriving it per
    * micro-batch would decode the blocklist on every trigger) and the
    * precomputed frame broadcasts into each batch's bucket join.
    * READ-ONLY on the held side (a screen flags, it does not ingest),
    * so batches are independent and a replay re-emits identical
    * verdicts — idempotent by construction, no ledger needed; the batch
    * twin is spec-asserted bit-identical.
    */
  def streamingTextMediaScreen(
      heldDocs: DataFrame,
      docs: DataFrame,
      threshold: Double,
      bands: Seq[Seq[Int]],
      blockMod: Int,
      checkpoint: String,
      onVerdicts: (DataFrame, Long) => Unit,
      heldType: String = "image",
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val held = heldBandRows(heldDocs, bands, blockMod, heldType).localCheckpoint()
    IndexCatalog.stream(docs, checkpoint)((batch, id) =>
      onVerdicts(screenWithHeld(held, batch, threshold, bands), id))
  }

  /** Frame sampling: every `step`-th frame index of each video payload,
    * exploded to one row per sampled frame (the shape a frame-extract
    * stage consumes; partition count scales with input, not frames).
    */
  def sampleFrames(media: DataFrame, step: Int): DataFrame =
    decodeHeaderMeta(media)
      .filter(col("media_type") === "video")
      .select(
        col("doc_id"),
        col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1L, lit(step.toLong))).as("frame_idx"),
      )
      .orderBy("doc_id", "frame_idx")
}
