package graft.operators

import graft.{SharedArtifacts, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads are opaque `binary` columns
  * with a typed metadata struct travelling alongside. The decode step is a
  * STUB (no image/audio codecs in this container) — deliberately
  * deterministic so the surrounding Spark plumbing (schema, batch shape,
  * partition-preserving mapPartitions) is real and testable.
  *
  * Scale notes: payloads never leave their partition (no shuffle in the
  * decode path); metadata extraction is pure projection, so Parquet scans
  * prune to exactly the columns touched.
  */
object Multimodal {

  /** Opaque media record: id + raw payload bytes + source tag. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], source: String)

  /** Typed decode output. Width/height/n_frames come from the stub codec. */
  case class MediaFeatures(
      doc_id: Long,
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      frame_hashes: Seq[String])

  /** Documents re-cast as opaque binary payloads (stand-in for real blobs). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("source"))
      .as[MediaRecord]
  }

  /** Media ingest from a blob store layout — the shape real media lands
    * in a lake: one file per object, `<source>/<doc_id>.bin`. Spark's
    * built-in `binaryFile` source reads (path, modificationTime, length,
    * content) with the payload never parsed driver-side; doc_id comes
    * from the filename stem and source from the parent directory, both
    * as codegen'd path projections. `pathGlobFilter` prunes at FILE
    * LISTING time (a per-source glob never opens other sources'
    * blobs), and `spark.sql.files.maxPartitionBytes` sizes partitions —
    * blobs stay partition-local end to end, same as [[mediaTable]].
    */
  def mediaFromBinaryFiles(s: SparkSession, dir: String,
      glob: Option[String] = None): Dataset[MediaRecord] = {
    import s.implicits._
    val reader = s.read.format("binaryFile")
    glob.foreach(g => reader.option("pathGlobFilter", g))
    reader.load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
        col("content").as("payload"),
        regexp_extract(col("path"), "([^/]+)/[^/]+$", 1).as("source"))
      .as[MediaRecord]
  }

  /** STUB decode: a deterministic fake codec. Real plumbing, fake pixels.
    * Runs partition-locally via mapPartitions — the shape a real decoder
    * (batched JNI / native call) would use; swap `decodeOne` for the codec.
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition "codec" init would happen here (once, not per record)
      it.map(decodeOne)
    }
  }

  /** Batched decode: groups records into fixed-size batches inside each
    * partition — the call shape a vectorized codec (JNI / Arrow batch
    * API) needs, mirroring what `mapInPandas` gives Python users — then
    * decodes each batch. Same results as [[decodeFeatures]]
    * (spec-checked); payloads still never leave their partition.
    */
  def decodeFeaturesBatched(
      media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real codec would decode the whole `batch` in one native call
        batch.map(decodeOne)
      }
    }
  }

  /** ---- STUB: deterministic fake decode (no codecs in container). ---- */
  private def decodeOne(m: MediaRecord): MediaFeatures = {
    val len = m.payload.length
    val nFrames = math.max(1, len / 100)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = (0 until math.min(nFrames, 3)).map { f =>
      val start = f * (len / math.max(nFrames, 1))
      val end = math.min(len, start + 16)
      md.reset()
      md.digest(java.util.Arrays.copyOfRange(m.payload, start, end))
        .map(b => f"$b%02x").mkString
    }
    MediaFeatures(m.doc_id, len, 16 + len % 640, 16 + len % 480, nFrames, hashes)
  }

  /** Oracle-checked metadata extraction over the binary payload: byte
    * length, header hash, 3 deterministic "frame sample" chunk hashes,
    * and ENDIAN-AWARE fixed-offset header fields (pure SQL arithmetic so
    * DuckDB reproduces it exactly).
    *
    * The header fields are the real media-metadata capability: every
    * container format (PNG IHDR, WAV fmt, MP4 boxes) stores dimensions /
    * sample rates as fixed-offset integers, so width-at-offset-N parses
    * as a declarative byte expression fused into the scan — no codec, no
    * UDF, nothing leaves codegen. Payload bytes here are ASCII, so
    * byte(i) == ascii(char i) in both engines; on true binary the same
    * shape uses substring-on-binary + conv(hex). `magic_u32_be` reads
    * bytes 1-4 big-endian, `version_u16_le` bytes 5-6 little-endian.
    */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val chunks = (0 until 3).map(i =>
      md5(expr(s"substring(text, CAST(1 + $i * (length(text) div 4) AS INT), 16)")).as(s"chunk$i"))
    def byteAt(i: Int) = ascii(substring(col("text"), i, 1)).cast("long")
    val magic = (((byteAt(1) * 256 + byteAt(2)) * 256 + byteAt(3)) * 256 + byteAt(4))
      .as("magic_u32_be")
    val version = (byteAt(5) + byteAt(6) * 256).as("version_u16_le")
    Tables.documents(s, dir)
      .select(Seq(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        md5(substring(col("text"), 1, 32)).as("header_hash"),
        magic, version) ++ chunks: _*)
      .orderBy("doc_id")
  }

  // -------------------------------------------- real container headers
  /** Real container-format header parsing over TRUE binary payloads —
    * the capability `qMultimodalMeta` approximates on ASCII stand-ins.
    * Each document row synthesizes a VALID header — PNG signature+IHDR
    * (big-endian dims) for even doc_ids, RIFF/WAVE fmt (little-endian
    * rates) for odd — as one binary column, then the parse side reads it
    * back with pure byte arithmetic: magic comparison, u32-BE width and
    * height at the IHDR offsets, u16/u32-LE channels, sample rate and
    * bit depth at the fmt offsets. Both directions are hex-string
    * expressions fused into codegen (`unhex`/`hex` + `conv`), mirrored
    * exactly in DuckDB (`from_hex`/`hex` + CAST('0x…')) — so the oracle
    * proves the PARSER, and the decode stub boundary shrinks to pixels
    * only: container metadata needs no codec at any scale.
    */
  def qMediaHeader(s: SparkSession, dir: String): DataFrame = {
    // ---- synth side: hex-built valid headers from table data
    def hByte(c: Column)  = lpad(hex(c.bitwiseAND(lit(255L))), 2, "0")
    def hU16le(c: Column) = concat(hByte(c), hByte(shiftright(c, 8)))
    def hU32le(c: Column) = concat(hByte(c), hByte(shiftright(c, 8)),
      hByte(shiftright(c, 16)), hByte(shiftright(c, 24)))
    def hU32be(c: Column) = lpad(hex(c), 8, "0")
    val width  = lit(16L) + col("doc_id") % 624
    val height = lit(16L) + col("doc_id") % 464
    val chans  = lit(1L) + col("doc_id") % 2
    val rate   = lit(8000L) + (col("doc_id") % 5) * 8000L
    val bits   = lit(8L) + (col("doc_id") % 2) * 8L
    val pngHex = concat(lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      hU32be(width), hU32be(height), lit("08"), lit("02"), lit("000000"))
    val wavHex = concat(lit("52494646"), hU32le(lit(36L)), lit("57415645"),
      lit("666D7420"), hU32le(lit(16L)), hU16le(lit(1L)), hU16le(chans),
      hU32le(rate), hU32le((rate * chans * bits / 8L).cast("long")),
      hU16le((chans * bits / 8L).cast("long")), hU16le(bits))
    val synth = Tables.documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("wav")).as("kind"),
      unhex(when(col("doc_id") % 2 === 0, pngHex).otherwise(wavHex)).as("payload"))
    // ---- parse side: the shared fixed-offset parsers over the binary
    val parsed = synth.withColumn("hx", hex(col("payload")))
    val isPng = col("kind") === "png"
    parsed.select(
      col("doc_id"), col("kind"),
      when(isPng, pngMagicOk(col("hx"))).otherwise(wavMagicOk(col("hx")))
        .cast("long").as("magic_ok"),
      when(isPng, pngWidth(col("hx"))).as("width"),
      when(isPng, pngHeight(col("hx"))).as("height"),
      when(!isPng, wavChannels(col("hx"))).as("channels"),
      when(!isPng, wavSampleRate(col("hx"))).as("sample_rate"),
      when(isPng, pngBitDepth(col("hx"))).otherwise(wavBitsPerSample(col("hx")))
        .as("depth_bits"))
      .orderBy("doc_id")
  }

  /** Fixed-offset field parsers over `hex(payload)` of a binary column —
    * reused by [[qMediaHeader]] (oracle-proved) and spec-checked against
    * the JDK's REAL encoders (ImageIO PNG, javax.sound WAV). Offsets are
    * the container specs': PNG signature 1-8, IHDR data at 17 (width,
    * height u32-BE, bit depth byte 25); canonical RIFF/WAVE fmt chunk
    * fields at 23 (channels u16-LE), 25 (sample rate u32-LE), 35 (bits
    * per sample u16-LE).
    */
  private def hexAt(hx: Column, i: Int, n: Int): Column =
    substring(hx, (i - 1) * 2 + 1, n * 2)
  private def u32be(hx: Column, i: Int): Column = conv(hexAt(hx, i, 4), 16, 10).cast("long")
  private def byteAt(hx: Column, i: Int): Column = conv(hexAt(hx, i, 1), 16, 10).cast("long")
  private def u16le(hx: Column, i: Int): Column = byteAt(hx, i) + byteAt(hx, i + 1) * 256
  private def u32le(hx: Column, i: Int): Column = u16le(hx, i) + u16le(hx, i + 2) * 65536
  private[graft] def pngMagicOk(hx: Column): Column = hexAt(hx, 1, 8) === "89504E470D0A1A0A"
  private[graft] def pngWidth(hx: Column): Column = u32be(hx, 17)
  private[graft] def pngHeight(hx: Column): Column = u32be(hx, 21)
  private[graft] def pngBitDepth(hx: Column): Column = byteAt(hx, 25)
  private[graft] def wavMagicOk(hx: Column): Column =
    hexAt(hx, 1, 4) === "52494646" && hexAt(hx, 9, 4) === "57415645"
  private[graft] def wavChannels(hx: Column): Column = u16le(hx, 23)
  private[graft] def wavSampleRate(hx: Column): Column = u32le(hx, 25)
  private[graft] def wavBitsPerSample(hx: Column): Column = u16le(hx, 35)

  val oracleMediaHeader: String = {
    def hByte(c: String)  = s"lpad(to_hex(($c) & 255), 2, '0')"
    def hU16le(c: String) = s"${hByte(c)} || ${hByte(s"($c) >> 8")}"
    def hU32le(c: String) = s"${hByte(c)} || ${hByte(s"($c) >> 8")} || ${hByte(s"($c) >> 16")} || ${hByte(s"($c) >> 24")}"
    def hU32be(c: String) = s"lpad(to_hex($c), 8, '0')"
    def hexAt(i: Int, n: Int) = s"substr(hx, ${(i - 1) * 2 + 1}, ${n * 2})"
    def u32be(i: Int)  = s"CAST(('0x' || ${hexAt(i, 4)}) AS UBIGINT)::BIGINT"
    def byteAt(i: Int) = s"CAST(('0x' || ${hexAt(i, 1)}) AS UBIGINT)::BIGINT"
    def u16le(i: Int)  = s"(${byteAt(i)} + ${byteAt(i + 1)} * 256)"
    def u32le(i: Int)  = s"(${u16le(i)} + ${u16le(i + 2)} * 65536)"
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS kind,
       |    CASE WHEN doc_id % 2 = 0 THEN
       |      '89504E470D0A1A0A' || '0000000D' || '49484452' ||
       |      ${hU32be("16 + doc_id % 624")} || ${hU32be("16 + doc_id % 464")} ||
       |      '08' || '02' || '000000'
       |    ELSE
       |      '52494646' || ${hU32le("36")} || '57415645' || '666D7420' ||
       |      ${hU32le("16")} || ${hU16le("1")} || ${hU16le("1 + doc_id % 2")} ||
       |      ${hU32le("8000 + (doc_id % 5) * 8000")} ||
       |      ${hU32le("(8000 + (doc_id % 5) * 8000) * (1 + doc_id % 2) * (8 + (doc_id % 2) * 8) // 8")} ||
       |      ${hU16le("(1 + doc_id % 2) * (8 + (doc_id % 2) * 8) // 8")} ||
       |      ${hU16le("8 + (doc_id % 2) * 8")}
       |    END AS payload_hex
       |  FROM documents),
       |parsed AS (SELECT doc_id, kind, hex(from_hex(payload_hex)) AS hx FROM synth)
       |SELECT doc_id, kind,
       |  CAST(CASE WHEN kind = 'png' THEN ${hexAt(1, 8)} = '89504E470D0A1A0A'
       |       ELSE ${hexAt(1, 4)} = '52494646' AND ${hexAt(9, 4)} = '57415645' END AS BIGINT) AS magic_ok,
       |  CASE WHEN kind = 'png' THEN ${u32be(17)} END AS width,
       |  CASE WHEN kind = 'png' THEN ${u32be(21)} END AS height,
       |  CASE WHEN kind = 'wav' THEN ${u16le(23)} END AS channels,
       |  CASE WHEN kind = 'wav' THEN ${u32le(25)} END AS sample_rate,
       |  CASE WHEN kind = 'png' THEN ${byteAt(25)} ELSE ${u16le(35)} END AS depth_bits
       |FROM parsed ORDER BY doc_id""".stripMargin
  }

  val oracleMultimodalMeta: String = {
    val chunks = (0 until 3).map(i =>
      s"md5(substring(text, 1 + $i * (length(text) // 4), 16)) AS chunk$i").mkString(", ")
    def byteAt(i: Int) = s"CAST(ascii(substring(text, $i, 1)) AS BIGINT)"
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |  md5(substring(text, 1, 32)) AS header_hash,
       |  (((${byteAt(1)} * 256 + ${byteAt(2)}) * 256 + ${byteAt(3)}) * 256 + ${byteAt(4)}) AS magic_u32_be,
       |  (${byteAt(5)} + ${byteAt(6)} * 256) AS version_u16_le,
       |  $chunks
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- frame sample

  /** Packed-container geometry for `q_media_frames`: a 12-byte header
    * (magic "GRFV", u32-BE frame count, u32-BE frame size) followed by
    * FRAME_BYTES-sized frames. */
  private val FRAME_BYTES  = 16
  private val FRAME_STRIDE = 2

  /** Frame SAMPLING from a packed media container (`q_media_frames`):
    * every doc row synthesizes a valid container (deterministic per-frame
    * bytes from md5(doc:frame)), then the sampling side — which sees only
    * the binary column — reads the frame count from the header and
    * slices out every [[FRAME_STRIDE]]-th frame with pure offset
    * arithmetic, fingerprinting each sampled frame. This is the video
    * pre-processing plumbing (sample k-th frames for feature extraction)
    * with the codec stubbed out: at 100 TB the slicing is a per-row
    * projection — no decode, no shuffle, frames never leave their
    * partition — and only the sampled slices flow to the (expensive)
    * decode stage downstream.
    */
  def qMediaFrames(s: SparkSession, dir: String): DataFrame = {
    def hU32be(c: Column) = lpad(hex(c), 8, "0")
    val nFrames = (lit(4L) + col("doc_id") % 5).cast("int")
    val framesHex = array_join(
      transform(sequence(lit(0), nFrames - 1),
        f => substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          f.cast("string")).cast("binary")), 1, FRAME_BYTES * 2)), "")
    val containerHex = concat(lit("47524656"), hU32be(nFrames.cast("long")),
      hU32be(lit(FRAME_BYTES.toLong)), framesHex)
    val synth = Tables.documents(s, dir)
      .select(col("doc_id"), unhex(containerHex).as("payload"))
    // ---- sampling side: header fields + offset slicing over the binary.
    // Spark's hex() is UPPERCASE, DuckDB's to_hex/md5 lowercase — the
    // fingerprint hashes the hex STRING, so normalize to lowercase.
    val parsed = synth.select(col("doc_id"), lower(hex(col("payload"))).as("hx"))
      .select(col("doc_id"), col("hx"),
        conv(substring(col("hx"), 9, 8), 16, 10).cast("int").as("nf"),
        conv(substring(col("hx"), 17, 8), 16, 10).cast("int").as("fsize"))
    parsed
      .select(col("doc_id"), col("hx"), col("fsize"),
        explode(sequence(lit(0), col("nf") - 1, lit(FRAME_STRIDE))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(hx, (12 + frame_idx * fsize) * 2 + 1, fsize * 2)").as("frame_hex"))
      .select(col("doc_id"), col("frame_idx"),
        graft.functions.HashFns.h60(col("frame_hex")).as("frame_fp"),
        conv(substring(col("frame_hex"), 1, 2), 16, 10).cast("long").as("first_byte"))
      .orderBy("doc_id", "frame_idx")
  }

  val oracleMediaFrames: String = {
    val fb = FRAME_BYTES
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    '47524656' || lpad(to_hex(4 + doc_id % 5), 8, '0') || lpad(to_hex($fb), 8, '0') ||
       |    array_to_string(list_transform(generate_series(0, CAST(4 + doc_id % 5 AS INT) - 1),
       |      f -> substr(md5(doc_id || ':' || f), 1, ${fb * 2})), '') AS hx
       |  FROM documents),
       |parsed AS (
       |  SELECT doc_id, hx,
       |    CAST(('0x' || substr(hx, 9, 8)) AS UBIGINT)::INT AS nf,
       |    CAST(('0x' || substr(hx, 17, 8)) AS UBIGINT)::INT AS fsize
       |  FROM synth),
       |sampled AS (
       |  SELECT doc_id, hx, fsize, unnest(generate_series(0, nf - 1, $FRAME_STRIDE)) AS frame_idx
       |  FROM parsed),
       |frames AS (
       |  SELECT doc_id, frame_idx,
       |    substr(hx, (12 + frame_idx * fsize) * 2 + 1, fsize * 2) AS frame_hex
       |  FROM sampled)
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(CAST(('0x' || substr(md5(frame_hex), 1, 15)) AS UBIGINT) AS BIGINT) AS frame_fp,
       |  CAST(('0x' || substr(frame_hex, 1, 2)) AS UBIGINT)::BIGINT AS first_byte
       |FROM frames ORDER BY doc_id, frame_idx""".stripMargin
  }

  // ----------------------------------------------------- perceptual near-dup

  /** dHash geometry: a 7×9 "pixel" grid sampled from the payload (the
    * decode stub: pixel = byte value at a deterministic stride-7 offset;
    * a real codec would downscale the decoded image to the same grid),
    * 7×8 = 56 horizontal-gradient bits packed into one BIGINT. */
  private[graft] val PH_ROWS = 7
  private[graft] val PH_COLS = 9
  /** LSH bands over the 56-bit hash (14 bits each): pairs within
    * hamming ≤ bands−1 = 3 are GUARANTEED a shared band (pigeonhole);
    * beyond that recall is the standard banded-LSH trade-off. */
  private[graft] val PH_BANDS = 4
  /** Pair-report hamming ceiling. */
  private[graft] val PH_T = 8
  /** Unrolled min-label rounds in the media-clusters oracle. */
  private[graft] val MC_ORACLE_ROUNDS = 8

  /** The 56-bit dHash of a text payload as a STATIC codegen expression
    * tree (a sum of 56 `when(px>px', 2^i)` terms over fixed offsets) —
    * deliberately NOT a higher-order-function fold: HOF lambdas run
    * interpreted, and an aliased dh gets inlined by CollapseProject into
    * every band expression + the Generate's inferred filter, multiplying
    * the interpreted fold up to 8× per doc (measured 6.8 s at sf0.1;
    * the static tree with whole-stage codegen + subexpression
    * elimination runs the 63 shared pixel reads once). The oracle's
    * list_reduce computes the identical bit pattern. */
  private[graft] def dhash(text: Column): Column = {
    val len = length(text)
    def px(flat: Int) =
      ascii(text.substr((lit(1) + (lit(flat) * 7) % (len - 1)).cast("int"), lit(1)))
        .cast("long")
    (0 until PH_ROWS * 8).map { i =>
      val (r, c) = (i / 8, i % 8)
      when(px(r * PH_COLS + c) > px(r * PH_COLS + c + 1), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Perceptual-hash near-dup pairs (`q_media_phash`) — the multimodal
    * dedup rung: media near-dup detection runs on PERCEPTUAL hashes of
    * decoded content (dHash: downscale → horizontal gradient bits),
    * not on byte digests, so re-encodes and small edits still collide.
    * The decode is the charter's deterministic stub (strided byte
    * sampling stands in for downscaled pixels); everything around it —
    * the gradient hash, 14-bit LSH banding, candidate equality join,
    * exact hamming verify — is the real production shape.
    *
    * Scale shape: the hash is one bounded per-row fold (112 byte reads),
    * candidates come ONLY from band-equality joins (4 rows per doc —
    * never pairs²), the verify is one bit_count over the 8-byte hashes,
    * and band-duplicate candidates collapse by the (a, b) key before
    * scoring. Exact recall for hamming ≤ PH_BANDS−1, banded-LSH recall
    * above (documented; the oracle implements the SAME banding).
    */
  def qMediaPhash(s: SparkSession, dir: String): DataFrame =
    phashPairsShared(s, dir)

  /** Process-wide count of pair-scan executions — the observability
    * hook MediaShareSpec uses to prove the banded pair census runs
    * ONCE per (session, dir) across `q_media_phash` and
    * `q_media_clusters` (the dedup-verdict memo discipline). */
  private[graft] val phashRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The banded pair census over `dir`, a [[SharedArtifacts]] entry read
    * by every media consumer. Cached and counted, not checkpointed: the
    * analyzed plan keeps the `documents` scan for the consumers' lineage. */
  private[graft] def phashPairsShared(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts(s, "phash_pairs", dir, "documents") {
      phashRuns.incrementAndGet()
      val p = phashPairs(Tables.documents(s, dir)).cache()
      p.count() // materialize eagerly so every consumer reads, never builds
      p
    }

  private[graft] def phashPairs(docs: DataFrame): DataFrame = {
    // cached: a hard barrier (the band explode's two self-join sides and
    // the verify both read dh; without it CollapseProject re-inlines the
    // hash into every consumer)
    val h = docs
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), dhash(col("text")).as("dh"))
      .cache()
    // band value = (dh >> 14·band) mod 2^14 — static shifts, exact ints
    val banded = h.select(col("doc_id"), col("dh"),
        posexplode(array((0 until PH_BANDS).map(b =>
          pmod(shiftrightunsigned(col("dh"), b * 14), lit(16384L))): _*))
          .as(Seq("band", "bval")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.dh").as("dha"), col("y.dh").as("dhb"))
      .distinct()
    cand
      .withColumn("ham", bit_count(col("dha").bitwiseXOR(col("dhb"))).cast("long"))
      .filter(col("ham") <= PH_T)
      .select(col("doc_a"), col("doc_b"), col("ham"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle CTE prefix: dHash -> bands -> candidate pairs (the
    * `h`, `banded`, `cand` frames both phash oracles read). */
  private val phashCandCtes: String =
    s"""h AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(0::BIGINT, generate_series(${PH_ROWS * 8 - 1}, 0, -1)),
       |    (acc, i) -> acc * 2 + CASE WHEN
       |      ascii(substr(text, (1 + (((i // 8) * $PH_COLS + (i % 8)) * 7) % (length(text) - 1))::INT, 1)) >
       |      ascii(substr(text, (1 + (((i // 8) * $PH_COLS + (i % 8) + 1) * 7) % (length(text) - 1))::INT, 1))
       |      THEN 1 ELSE 0 END) AS dh
       |  FROM documents WHERE length(text) >= 2),
       |banded AS (
       |  SELECT doc_id, dh, band, (dh >> (band * 14)) % 16384 AS bval
       |  FROM h, unnest(generate_series(0, ${PH_BANDS - 1})) t(band)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.dh AS dha, y.dh AS dhb
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)""".stripMargin

  val oracleMediaPhash: String =
    s"""WITH $phashCandCtes
       |SELECT doc_a, doc_b, CAST(bit_count(xor(dha, dhb)) AS BIGINT) AS ham
       |FROM cand WHERE bit_count(xor(dha, dhb)) <= $PH_T
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup media CLUSTERS (`q_media_clusters`) — the verdict step the
    * pair list ([[qMediaPhash]]) feeds: connected components of the
    * banded-hamming pair graph, the media twin of `q_dedup_clusters`.
    * Components via `Dedup.ccLabels` (min-label propagation with the
    * pointer-doubling shortcut, per-round localCheckpoint, converged —
    * not round-capped); the oracle unrolls plain min-label propagation
    * ${Multimodal.MC_ORACLE_ROUNDS} rounds, enough for any pair-graph
    * diameter the banding can produce at oracle scale (exact copies
    * form cliques — diameter 1; near-dup chains are ham-bounded).
    * Output: one row per component keyed by its min doc_id keeper.
    */
  def qMediaClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = phashPairsShared(s, dir)
      .select("doc_a", "doc_b")
    graft.operators.Dedup.ccLabels(pairs)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
  }

  val oracleMediaClusters: String = {
    // every round references l(i-1) TWICE — without MATERIALIZED DuckDB
    // inlines CTEs per reference and the unrolled chain recomputes the
    // dHash fold 2^rounds times (OOM at sf1; caught by the 10x battery)
    val props = (1 to MC_ORACLE_ROUNDS).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.id, least(l.label, coalesce(min(x.label), l.label)) AS label
         |  FROM l${i - 1} l
         |  LEFT JOIN edges e ON e.src = l.id
         |  LEFT JOIN l${i - 1} x ON x.id = e.dst
         |  GROUP BY l.id, l.label)""".stripMargin
    }.mkString(",\n")
    s"""WITH $phashCandCtes,
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM cand
       |  WHERE bit_count(xor(dha, dhb)) <= $PH_T),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
       |$props
       |SELECT label AS cluster_id, count(*) AS n_members
       |FROM l$MC_ORACLE_ROUNDS GROUP BY label
       |UNION ALL
       |-- convergence sentinel (r11 ADVICE): the unroll is round-capped
       |-- while the Spark side (ccLabels) iterates to convergence; a
       |-- pair-graph diameter beyond the cap would silently leave oracle
       |-- labels unconverged and MIScompare. If the last two rounds
       |-- differ anywhere, emit an impossible cluster_id=-1 row so the
       |-- too-deep graph fails LOUDLY as an extra oracle row instead.
       |SELECT CAST(-1 AS BIGINT) AS cluster_id, count(*) AS n_members
       |FROM l$MC_ORACLE_ROUNDS a
       |JOIN l${MC_ORACLE_ROUNDS - 1} b ON a.id = b.id AND a.label <> b.label
       |HAVING count(*) > 0
       |ORDER BY cluster_id""".stripMargin
  }

  // --------------------------------------------------------- resize stage

  /** Thumbnail grid side (8×8 = 64 "pixels"). */
  private[graft] val TH_N = 64
  /** Sampling stride (coprime to typical payload lengths so the grid
    * walks the whole payload instead of a prefix). */
  private[graft] val TH_STRIDE = 11

  /** Fixed-grid thumbnail (`q_media_thumbnail`) — the RESIZE stage of a
    * media pipeline as deterministic plumbing: the payload byte stream
    * downsampled onto an 8×8 grid by stride arithmetic (a real codec
    * box-filters decoded pixels onto the same grid; the stub samples
    * bytes), emitted as the grid's h60 fingerprint plus a mean/min/max
    * "luma" summary — the shape a downstream near-dup or quality gate
    * consumes. A pure per-row STATIC codegen projection (the dHash
    * lesson: no HOF fold), no shuffle except the output sort.
    */
  def qMediaThumbnail(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text"))
    def px(i: Int) =
      ascii(col("text").substr((lit(1) + (lit(i) * TH_STRIDE) % (len - 1)).cast("int"), lit(1)))
        .cast("long")
    val pixels = (0 until TH_N).map(px)
    val grid = concat_ws(",", pixels.map(_.cast("string")): _*)
    Tables.documents(s, dir)
      .filter(len >= 2)
      .select(col("doc_id"),
        graft.functions.HashFns.h60(grid).as("thumb_fp"),
        round(pixels.reduce(_ + _).cast("double") / TH_N, 4).as("mean_luma"),
        least(pixels: _*).as("min_luma"),
        greatest(pixels: _*).as("max_luma"))
      .orderBy("doc_id")
  }

  val oracleMediaThumbnail: String = {
    val px = (0 until TH_N).map(i =>
      s"ascii(substr(text, (1 + ($i * $TH_STRIDE) % (length(text) - 1))::INT, 1))")
    // single-node forms (concat_ws / list_sum / least / greatest with 64
    // args) — a 64-deep binary || or + chain trips DuckDB's binder
    // recursion limit
    val grid = s"concat_ws(',', ${px.mkString(", ")})"
    s"""SELECT doc_id,
       |  ${graft.functions.HashFns.h60Sql(grid)} AS thumb_fp,
       |  round(list_sum([${px.mkString(", ")}]) / ${TH_N}.0, 4) AS mean_luma,
       |  CAST(least(${px.mkString(", ")}) AS BIGINT) AS min_luma,
       |  CAST(greatest(${px.mkString(", ")}) AS BIGINT) AS max_luma
       |FROM documents WHERE length(text) >= 2
       |ORDER BY doc_id""".stripMargin
  }
}
