package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata structs alongside.
  *
  * IMAGE decode/resize are REAL: `imageIoDecode` / `imageIoResize` parse
  * and re-encode actual PNG/JPEG payloads with the JDK's `javax.imageio`
  * (ships with the JRE — no native deps), plugged into the same
  * `mapPartitions` seam (`decodePartitioned` / `resizePartitioned`) the
  * stubs use. AUDIO header metadata is REAL too: `audioHeader` parses
  * WAV/AIFF/AU containers with `javax.sound.sampled` (also JRE-shipped,
  * no native deps). The deterministic stubs (`stubDecode`,
  * `fakeImageMeta`, …) remain as the codec-free fallback and as the
  * stand-in for the VIDEO modality, whose codecs genuinely do not ship
  * with the JVM. Everything around the codec — schema shape,
  * per-partition batching, binary column flow — is identical between
  * stub and real paths.
  *
  * Scale notes: binary payloads dominate row size, so decode operators
  * must never shuffle the binary column — filter/extract first, carry
  * only metadata + features downstream. `decodePartitioned` keeps the
  * payload within the input partition and emits only the (small) struct.
  */
object MultimodalOps {

  // ImageIO defaults to DISK-backed image streams: every
  // createImageInputStream/read spools the payload to a temp FILE under
  // java.io.tmpdir (through a global cache-dir lock) before decoding.
  // For byte-array payloads that's pure per-row file churn — measured
  // as m03's in-sweep inflation with 32 executor threads hammering the
  // same tmpdir, and at cluster scale it would put a disk write in
  // every decode. All inputs here are in-memory byte arrays, so force
  // the memory-backed stream once, JVM-wide.
  javax.imageio.ImageIO.setUseCache(false)

  val ImageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Expression-level decode STUB: deterministic fake metadata from byte
    * length (a real decoder parses the header bytes here).
    */
  def fakeImageMeta(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = length(bin)
    struct(
      (n % 640).cast("int").as("width"),
      (n % 480).cast("int").as("height"),
      lit(3).as("channels"),
      when(n % 2 === 0, "png").otherwise("jpeg").as("format"))
  }

  /** Partition-batched decode seam: iterates each partition once, invoking
    * `decodeOne` per payload (swap in a real codec; batch-amortize any
    * native handle across the partition). Output schema = input schema
    * minus the binary column, plus the metadata struct.
    */
  def decodePartitioned(df: DataFrame, binCol: String,
      decodeOne: Array[Byte] => (Int, Int, Int, String) = stubDecode): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    val outSchema = StructType(
      inSchema.fields.patch(binIdx, Nil, 1).toSeq :+ StructField("meta", ImageMetaType))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      // per-partition setup cost (decoder init) amortized here
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val (w, h, c, f) = decodeOne(bytes)
        val kept = row.toSeq.patch(binIdx, Nil, 1)
        Row.fromSeq(kept :+ Row(w, h, c, f))
      }
    }
  }

  /** Deterministic stand-in for a real image decoder. */
  def stubDecode(bytes: Array[Byte]): (Int, Int, Int, String) = {
    val n = if (bytes == null) 0 else bytes.length
    (n % 640, n % 480, 3, if (n % 2 == 0) "png" else "jpeg")
  }

  /** Resize seam (decode → scale → re-encode, STUBBED): a real codec
    * plugs into `resizeOne` exactly like `decodeOne` above; the stub
    * emits a deterministic `outW×outH`-byte payload sampled evenly from
    * the source bytes so tests can assert the plumbing — output schema,
    * payload sizing, partition-locality — without codecs. The binary
    * column is REPLACED in place (old payload never outlives the
    * partition iterator) and, as with every multimodal op, never
    * shuffles.
    */
  def resizePartitioned(df: DataFrame, binCol: String, outW: Int, outH: Int,
      resizeOne: (Array[Byte], Int, Int) => Array[Byte] = stubResize): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(inSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        Row.fromSeq(row.toSeq.updated(binIdx, resizeOne(bytes, outW, outH)))
      }
    }
  }

  /** Deterministic stand-in for decode+scale+encode: even-stride sampling
    * of the source bytes into a w×h payload ("nearest-neighbor" over the
    * raw stream).
    */
  def stubResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val n = if (bytes == null) 0 else bytes.length
    val out = new Array[Byte](w * h)
    if (n > 0) {
      var i = 0
      while (i < out.length) { out(i) = bytes((i.toLong * n / out.length).toInt); i += 1 }
    }
    out
  }

  /** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP
    * readers ship with the JRE): parses the actual header + pixel data
    * and reports true dimensions, band count and container format.
    * Returns `(0, 0, 0, "unknown")` for null/empty/undecodable payloads
    * so the seam stays total. Plug into [[decodePartitioned]].
    */
  def imageIoDecode(bytes: Array[Byte]): (Int, Int, Int, String) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0, "unknown")
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return (0, 0, 0, "unknown")
      val r = readers.next()
      try {
        r.setInput(iis)
        val fmt = r.getFormatName.toLowerCase
        val img = r.read(0)
        (img.getWidth, img.getHeight, img.getRaster.getNumBands, fmt)
      } finally r.dispose()
    } finally if (iis != null) iis.close()
  }

  /** Header-only metadata parse: width/height/bands come from the format
    * header without decoding a single pixel block (`ImageReader.getWidth`
    * reads the PNG IHDR / JPEG SOF marker). This is the metadata-extract
    * operator a 100 TB image corpus wants — pixel decode costs ~100× the
    * header parse and [[imageIoDecode]] pays it for answers the header
    * already holds. Falls back to a full decode only when the reader
    * can't state a band count from the header.
    */
  def imageIoHeader(bytes: Array[Byte]): (Int, Int, Int, String) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0, "unknown")
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return (0, 0, 0, "unknown")
      val r = readers.next()
      try {
        r.setInput(iis)
        val fmt = r.getFormatName.toLowerCase
        val (w, h) = (r.getWidth(0), r.getHeight(0))
        val types = r.getImageTypes(0)
        val bands =
          if (types.hasNext) types.next().getNumBands
          else r.read(0).getRaster.getNumBands
        (w, h, bands, fmt)
      } finally r.dispose()
    } finally if (iis != null) iis.close()
  }

  /** REAL resize via `java.awt` + `javax.imageio`: decode → bilinear
    * scale → re-encode as PNG. Falls back to [[stubResize]] when the
    * payload is not a decodable image. Plug into [[resizePartitioned]].
    */
  def imageIoResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val src =
      if (bytes == null || bytes.isEmpty) null
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (src == null) return stubResize(bytes, w, h)
    val dst = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", bos)
    bos.toByteArray
  }

  /** Deterministic REAL-image fixture: a w×h image whose pixel (x,y) is a
    * pure function of (seed, x, y), encoded with the JDK's own PNG/JPEG
    * encoder — the payloads are genuine decodable images, so conformance
    * queries can assert the decoded dimensions by construction.
    */
  def syntheticImage(seed: Long, w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = seed * 1315423911L + x * 2654435761L + y * 40503L
        img.setRGB(x, y, (v & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Memoized [[syntheticImage]] for fixture generation over a BOUNDED
    * seed set (m03 draws from 32 distinct (seed,w,h,format) combos):
    * per-executor cache so the encoder runs once per distinct payload,
    * not once per row. Fixture plumbing only — never cache unbounded
    * production payloads like this.
    */
  private val synthCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, String), Array[Byte]]
  def syntheticImageCached(seed: Long, w: Int, h: Int, format: String): Array[Byte] =
    synthCache.computeIfAbsent((seed, w, h, format),
      k => syntheticImage(k._1, k._2, k._3, k._4))

  /** 64-bit average perceptual hash (aHash) over REAL decoded pixels:
    * decode with `javax.imageio` (JRE-shipped, no native deps), bilinear
    * downscale to 8×8 grayscale, threshold each cell at the mean. The
    * standard cheap image near-dup key — stable across codec (PNG vs
    * JPEG of the same content), resolution, and mild recompression,
    * which is exactly what byte-level hashing (m01's content_hash)
    * cannot see. Undecodable/empty payloads hash to 0.
    *
    * Deterministic for a given JDK's decode+scale pipeline, engine-
    * specific across implementations → the conformance entry is
    * rows-only; the AccuracySpec gate pins the perceptual properties
    * (codec invariance, scale invariance, separation of distinct
    * content).
    */
  def aHash64(bytes: Array[Byte]): Long = {
    val src =
      if (bytes == null || bytes.isEmpty) null
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (src == null) return 0L
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = small.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, 8, 8, null)
    } finally g.dispose()
    val r = small.getRaster
    val px = new Array[Int](64)
    var i = 0
    var sum = 0L
    while (i < 64) {
      px(i) = r.getSample(i % 8, i / 8, 0)
      sum += px(i)
      i += 1
    }
    val mean = sum / 64.0
    var hash = 0L
    i = 0
    while (i < 64) {
      if (px(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Compute an `ahash` LONG column per partition, REPLACING the
    * binary payload column in the output schema (like
    * [[decodePartitioned]], the payload is consumed at this seam and
    * projected away — what follows a perceptual hash is hash-space
    * work, and carrying the bytes further would put them in the next
    * shuffle; keep a separate select of `binCol` upstream if you need
    * them). Decoder init amortizes per partition; payload bytes never
    * shuffle.
    */
  def aHashPartitioned(df: DataFrame, binCol: String): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    val outSchema = StructType(
      inSchema.fields.patch(binIdx, Nil, 1).toSeq :+
        StructField("ahash", LongType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        Row.fromSeq(row.toSeq.patch(binIdx, Nil, 1) :+ aHash64(bytes))
      }
    }
  }

  /** Smooth synthetic content for the perceptual-hash fixtures: linear
    * per-channel ramps whose slopes derive from the seed. Perceptual
    * hashing is DESIGNED for structured content — [[syntheticImage]]'s
    * per-pixel noise downsamples to near-uniform cell means, the one
    * regime where threshold bits are unstable by construction.
    */
  def syntheticGradientImage(seed: Long, w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val a = (seed % 5 + 1).toInt
    val b = (seed % 3 + 1).toInt
    val flip = seed % 2 == 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = x * 255 / math.max(1, w - 1)
        val gy = y * 255 / math.max(1, h - 1)
        val r0 = math.min(255, (gx * a) % 256)
        val g0 = math.min(255, (gy * b) % 256)
        val b0 = if (flip) 255 - gx else gy
        img.setRGB(x, y, (r0 << 16) | (g0 << 8) | b0)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private val gradCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, String), Array[Byte]]
  def syntheticGradientImageCached(seed: Long, w: Int, h: Int,
      format: String): Array[Byte] =
    gradCache.computeIfAbsent((seed, w, h, format),
      k => syntheticGradientImage(k._1, k._2, k._3, k._4))

  val AudioMetaType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("frames", LongType, nullable = false),
    StructField("container", StringType, nullable = false)))

  /** REAL audio container metadata via the JDK's `javax.sound.sampled`
    * (WAV/AIFF/AU parsers ship with the JRE — the same no-native-deps
    * argument as `imageIoHeader`): reads sample rate, channel count,
    * sample width and frame count from the container HEADER without
    * touching the sample data — the metadata-extract operator an audio
    * corpus wants; decoding PCM costs orders of magnitude more than the
    * 44-byte RIFF header. Returns zeros/"unknown" for null/empty/
    * unparseable payloads so the seam stays total. Compressed codecs
    * (mp3/ogg/aac) have no JRE parser and fall through to "unknown" —
    * the honest boundary, like video.
    */
  def audioHeader(bytes: Array[Byte]): (Int, Int, Int, Long, String) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0, 0L, "unknown")
    // RIFF/WAVE fast path: a direct chunk walk over the 44-byte-ish
    // header. AudioSystem.getAudioFileFormat costs ~ms per call — every
    // registered provider (AIFF, AU, …) probes the stream and signals
    // mismatch with a thrown UnsupportedAudioFileException before the
    // WAV reader matches — which the round-6 10× probe measured at 18×
    // scale-up on a pure per-row operator. The manual parse reads the
    // same fields the provider would; non-RIFF containers still take
    // the provider path.
    wavHeader(bytes).getOrElse {
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val f = aff.getFormat
        // AudioSystem reports NOT_SPECIFIED (-1) for e.g. AU's legal
        // unknown-data-size header; the seam's contract is zeros for
        // anything unknown, never negatives
        (math.max(0, f.getSampleRate.toInt), math.max(0, f.getChannels),
          math.max(0, f.getSampleSizeInBits),
          math.max(0L, aff.getFrameLength.toLong), aff.getType.getExtension)
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException =>
          (0, 0, 0, 0L, "unknown")
      }
    }
  }

  /** Direct RIFF/WAVE header walk (PCM "fmt " + "data" chunks): the
    * zero-allocation per-row path for WAV corpora. None for anything
    * that is not a well-formed RIFF/WAVE — caller falls back to the
    * provider machinery.
    */
  private def wavHeader(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    def tag(i: Int, s: String): Boolean =
      b.length >= i + 4 && b(i) == s(0).toByte && b(i + 1) == s(1).toByte &&
        b(i + 2) == s(2).toByte && b(i + 3) == s(3).toByte
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12
    var sampleRate = 0; var channels = 0; var bits = 0; var blockAlign = 0
    var dataLen = -1L
    var ok = true
    while (ok && pos + 8 <= b.length && (dataLen < 0 || sampleRate == 0)) {
      val sz = u32(pos + 4)
      if (tag(pos, "fmt ") && pos + 24 <= b.length) {
        channels = u16(pos + 10)
        sampleRate = u32(pos + 12).toInt
        blockAlign = u16(pos + 20)
        bits = u16(pos + 22)
      } else if (tag(pos, "data")) dataLen = sz
      // advance in LONG arithmetic: a corrupt/adversarial size field up
      // to 0xFFFFFFFF must neither stall the walk (sz.toInt = -8 would
      // add 0) nor drive pos negative — a malformed payload bails to
      // the provider path, it never hangs or throws out of the seam
      val next = pos.toLong + 8L + sz + (sz & 1L) // chunks are word-aligned
      if (next <= pos || next > Int.MaxValue) ok = false else pos = next.toInt
    }
    // no `if (!ok) return None` here: a bailed walk that already parsed
    // both "fmt " and "data" (e.g. a huge final data chunk overflowing
    // the advance) still yields a complete header; an INCOMPLETE bail
    // fails the field validation below and falls to the provider path
    if (sampleRate <= 0 || channels <= 0 || bits <= 0 || blockAlign <= 0 || dataLen < 0) None
    else Some((sampleRate, channels, bits, dataLen / blockAlign, "wav"))
  }

  /** Partition-batched audio metadata seam — the audio twin of
    * [[decodePartitioned]]: binary stays inside its input partition,
    * only the small metadata struct flows on. Output schema = input
    * minus the binary column, plus `meta: AudioMetaType`.
    */
  def audioMetaPartitioned(df: DataFrame, binCol: String,
      parseOne: Array[Byte] => (Int, Int, Int, Long, String) = audioHeader): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    val outSchema = StructType(
      inSchema.fields.patch(binIdx, Nil, 1).toSeq :+ StructField("meta", AudioMetaType))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val (sr, ch, bits, frames, container) = parseOne(bytes)
        val kept = row.toSeq.patch(binIdx, Nil, 1)
        Row.fromSeq(kept :+ Row(sr, ch, bits, frames, container))
      }
    }
  }

  /** Deterministic REAL-audio fixture: `nFrames` of 16-bit little-endian
    * PCM whose samples are a pure function of (seed, index), wrapped in
    * a genuine WAV container by the JDK's own writer — so conformance
    * queries can assert the parsed header fields BY CONSTRUCTION,
    * exactly like [[syntheticImage]] does for PNG/JPEG.
    */
  def syntheticWav(seed: Long, sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nFrames * fmt.getFrameSize)
    var i = 0
    while (i < data.length) {
      data(i) = ((seed * 1315423911L + i * 2654435761L) >>> 7).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Memoized [[syntheticWav]] over a bounded seed set (m04 draws from 32
    * distinct combos) — fixture plumbing, same contract as
    * [[syntheticImageCached]].
    */
  private val wavCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Byte]]
  def syntheticWavCached(seed: Long, sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] =
    wavCache.computeIfAbsent((seed, sampleRate, channels, nFrames),
      k => syntheticWav(k._1, k._2, k._3, k._4))

  // ------------------------------------------------------------------
  // Audio CONTENT fingerprint (m11) — the modality-parity piece: image
  // has aHash (m07), video has frame hashes (m06); this is the audio
  // twin. A spectral band-energy hash in the lineage of
  // Haitsma & Kalker 2002 ("A Highly Robust Audio Fingerprinting
  // System") / chromaprint, reduced to the at-rest-key form this
  // engine needs: decode PCM, frame-FFT, accumulate energy into 32
  // log-spaced bands over 300-3000 Hz (the fingerprinting literature's
  // perceptually-relevant range), threshold each band's WHOLE-RECORDING
  // energy at the band mean → one 32-bit key per payload. Properties
  // (AccuracySpec-gated like m07): volume-invariant (a gain multiplies
  // every band, comparisons unchanged), resample-invariant (bands are
  // fixed in Hz, not bins), and distinct tonal content lands in
  // distinct bands. The key feeds the existing [[DedupOps.hammingPairs]]
  // machinery; payload bytes never leave their input partition.
  // ------------------------------------------------------------------

  /** Decoded mono PCM as doubles in [-1, 1), channels averaged, via the
    * JRE's own audio stack. Accepts the real-world WAV mix (the r11
    * verdict's stretch item — a 16-bit-only gate silently fingerprinted
    * everything else to 0): signed/unsigned PCM at 8/16/24/32 bits in
    * either endianness, 32/64-bit float PCM, and µ-law/A-law telephony
    * encodings (converted to 16-bit PCM by `AudioSystem`'s own codec —
    * the documented JRE conversion path). Null for anything outside
    * that — the same honest boundary as [[audioHeader]] (no mp3/ogg
    * codec ships with the JDK). AccuracySpec pins one fixture per
    * format class: the same tone must fingerprint identically through
    * every decode path.
    */
  def decodeWavPcmMono(bytes: Array[Byte]): (Int, Array[Double]) = {
    if (bytes == null || bytes.isEmpty) return null
    try {
      import javax.sound.sampled.AudioFormat.{Encoding => E}
      var ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      var f = ais.getFormat
      if (f.getEncoding == E.ULAW || f.getEncoding == E.ALAW) {
        // telephony companding: let the JRE's codec expand to 16-bit PCM
        val target = new javax.sound.sampled.AudioFormat(
          E.PCM_SIGNED, f.getSampleRate, 16, f.getChannels,
          2 * f.getChannels, f.getSampleRate, false)
        ais = javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais)
        f = ais.getFormat
      }
      val ch = f.getChannels
      val bits = f.getSampleSizeInBits
      if (ch <= 0 || bits <= 0 || bits % 8 != 0 || bits > 64) return null
      val enc = f.getEncoding
      val isFloat = enc == E.PCM_FLOAT
      val isSigned = enc == E.PCM_SIGNED
      val isUnsigned = enc == E.PCM_UNSIGNED
      if (!isFloat && !isSigned && !isUnsigned) return null
      if (isFloat && bits != 32 && bits != 64) return null
      // 64-bit integer PCM only: the 1L << 63 full-scale overflows and
      // would decode sign-flipped garbage — honest null beats
      // confidently wrong PCM. 24/32/40/48-bit all fit the long math
      // and decode exactly.
      if (!isFloat && bits == 64) return null
      val be = f.isBigEndian
      val bp = bits / 8
      val data = ais.readAllBytes()
      val n = data.length / (bp * ch)
      val out = new Array[Double](n)
      val full = 1L << (bits - 1) // integer full-scale
      var i = 0
      while (i < n) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val o = (i * ch + c) * bp
          // assemble the sample's raw bits in byte order
          var raw = 0L
          var b = 0
          while (b < bp) {
            val by = data(o + (if (be) b else bp - 1 - b)) & 0xffL
            raw = (raw << 8) | by
            b += 1
          }
          acc += {
            if (isFloat) {
              if (bits == 32) java.lang.Float.intBitsToFloat(raw.toInt).toDouble
              else java.lang.Double.longBitsToDouble(raw)
            } else if (isSigned) {
              val s = (raw << (64 - bits)) >> (64 - bits) // sign-extend
              s.toDouble / full
            } else { // unsigned PCM: midpoint-offset binary
              (raw - full).toDouble / full
            }
          }
          c += 1
        }
        out(i) = acc / ch
        i += 1
      }
      (f.getSampleRate.toInt, out)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** In-place iterative radix-2 Cooley-Tukey FFT (the textbook public
    * algorithm); `re`/`im` length must be a power of two.
    */
  private def fftInPlace(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val i0 = s + k
          val i1 = s + k + len / 2
          val xr = re(i1) * cr - im(i1) * ci
          val xi = re(i1) * ci + im(i1) * cr
          re(i1) = re(i0) - xr; im(i1) = im(i0) - xi
          re(i0) += xr; im(i0) += xi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
  }

  /** Fingerprint geometry. 32 bands log-spaced over 300-3000 Hz: at the
    * analysis frame of 1024 samples the NARROWEST band (≈22 Hz at
    * 300 Hz) still spans more than one FFT bin up to 16 kHz input, so a
    * tone's energy lands in the same Hz band at every supported rate.
    */
  val FpBands = 32
  private val FpLoHz = 300.0
  private val FpHiHz = 3000.0
  private val FpFrame = 1024
  private val binBandCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]

  /** 32-bit audio content fingerprint (bit b = band b's total spectral
    * energy above the band mean). 0 for undecodable payloads, payloads
    * shorter than one analysis frame, or rates that cannot carry the
    * 3 kHz band (sr < 6 kHz) — the [[aHash64]] convention.
    */
  def audioFingerprint32(bytes: Array[Byte]): Long = {
    val dec = decodeWavPcmMono(bytes)
    if (dec == null) return 0L
    val (sr, pcm) = dec
    if (sr < FpHiHz * 2 || pcm.length < FpFrame) return 0L
    // bin → band map, cached per distinct sample rate. BOUNDED: real
    // corpora use a handful of rates, but the rate field is
    // payload-controlled (a u32 in the container) — past 64 distinct
    // rates we compute without caching rather than let adversarial
    // headers grow the map without limit
    def buildMap(s: Int): Array[Int] = {
      val m = new Array[Int](FpFrame / 2 + 1)
      val logSpan = math.log10(FpHiHz / FpLoHz)
      var k = 0
      while (k < m.length) {
        val f = k.toDouble * s / FpFrame
        m(k) =
          if (f < FpLoHz || f >= FpHiHz) -1
          else math.min(FpBands - 1,
            (math.log10(f / FpLoHz) / logSpan * FpBands).toInt)
        k += 1
      }
      m
    }
    val map =
      if (binBandCache.size < 64 || binBandCache.containsKey(sr))
        binBandCache.computeIfAbsent(sr, buildMap(_))
      else buildMap(sr)
    val e = new Array[Double](FpBands)
    val re = new Array[Double](FpFrame)
    val im = new Array[Double](FpFrame)
    var off = 0
    while (off + FpFrame <= pcm.length) {
      System.arraycopy(pcm, off, re, 0, FpFrame)
      java.util.Arrays.fill(im, 0.0)
      fftInPlace(re, im)
      var k = 0
      while (k <= FpFrame / 2) {
        val b = map(k)
        if (b >= 0) e(b) += re(k) * re(k) + im(k) * im(k)
        k += 1
      }
      off += FpFrame / 2
    }
    var tot = 0.0
    var b = 0
    while (b < FpBands) { tot += e(b); b += 1 }
    if (tot <= 0.0) return 0L
    val mean = tot / FpBands
    var fp = 0L
    b = 0
    while (b < FpBands) {
      if (e(b) > mean) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** Compute an `afp` LONG column per partition, REPLACING the binary
    * payload column — [[aHashPartitioned]]'s contract for the audio
    * modality (payload bytes are consumed at this seam and never reach
    * a shuffle; what follows a fingerprint is hash-space work).
    */
  def audioFingerprintPartitioned(df: DataFrame, binCol: String): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    val outSchema = StructType(
      inSchema.fields.patch(binIdx, Nil, 1).toSeq :+
        StructField("afp", LongType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        Row.fromSeq(row.toSeq.patch(binIdx, Nil, 1) :+ audioFingerprint32(bytes))
      }
    }
  }

  /** The m11 fixture's 3 tone frequencies for a seed: distinct band
    * CENTERS (bands 1..30, linear-probed for distinctness) snapped to
    * multiples of 15.625 Hz — exact FFT-bin frequencies at BOTH 8 kHz
    * and 16 kHz (15.625 = 8000/1024·2 = 16000/1024), so a tone's energy
    * lands wholly in one bin with zero leakage at either rate and
    * resample invariance is exact by construction. Structured content
    * because fingerprinting is designed for it — [[syntheticWav]]'s
    * hash noise has a flat spectrum, the one regime where threshold
    * bits are unstable (same rationale as [[syntheticGradientImage]]).
    */
  private def toneBands(seed: Long): Array[Int] = {
    val used = new Array[Boolean](30)
    val idx = new Array[Int](3)
    var k = (((seed % 30) + 30) % 30).toInt
    val step = ((((seed * 7 + 3) % 29) + 29) % 29 + 1).toInt
    var j = 0
    while (j < 3) {
      while (used(k)) k = (k + 1) % 30
      used(k) = true
      idx(j) = k + 1 // bands 1..30 (skip the edge bands)
      k = (k + step) % 30
      j += 1
    }
    idx
  }

  private def bandNote(b: Int): Double = {
    val c = FpLoHz * math.pow(10, (b + 0.5) / FpBands.toDouble)
    math.max(1.0, math.round(c / 15.625).toDouble) * 15.625
  }

  def toneNotes(seed: Long): Array[Double] = toneBands(seed).map(bandNote)

  /** [[toneNotes]] with the THIRD note moved to a band outside the
    * seed's set — a NEAR-duplicate content class (2 of 3 tones shared ⇒
    * fingerprint Hamming distance exactly 2): the m12 fixture's
    * controlled near-miss, the audio analog of m10's cross-codec
    * re-encodes.
    */
  def toneNotesNear(seed: Long): Array[Double] = {
    val b = toneBands(seed)
    var nb = (b(2) - 1 + 11) % 30 + 1
    while (nb == b(0) || nb == b(1) || nb == b(2)) nb = nb % 30 + 1
    Array(bandNote(b(0)), bandNote(b(1)), bandNote(nb))
  }

  /** Deterministic tonal WAV: a 3-tone mixture (see [[toneNotes]]) at
    * `volume`, 16-bit mono PCM in a genuine JDK-written WAV container.
    */
  def syntheticToneWav(seed: Long, sampleRate: Int, nSamples: Int,
      volume: Double = 1.0): Array[Byte] =
    toneWavOf(toneNotes(seed), sampleRate, nSamples, volume)

  /** [[syntheticToneWav]] over the [[toneNotesNear]] variant. */
  def syntheticToneWavNear(seed: Long, sampleRate: Int, nSamples: Int,
      volume: Double = 1.0): Array[Byte] =
    toneWavOf(toneNotesNear(seed), sampleRate, nSamples, volume)

  private def toneWavOf(notes: Array[Double], sampleRate: Int, nSamples: Int,
      volume: Double): Array[Byte] = {
    val amps = Array(0.30, 0.24, 0.18)
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      var s = 0.0
      var j = 0
      while (j < 3) {
        s += amps(j) * math.sin(2 * math.Pi * notes(j) * i / sampleRate)
        j += 1
      }
      val v = math.max(-32767, math.min(32767, (s * volume * 32767).toInt))
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Memoized [[syntheticToneWav]] over the bounded m11/m12 combo sets. */
  private val toneCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Double, Boolean), Array[Byte]]
  def syntheticToneWavCached(seed: Long, sampleRate: Int, nSamples: Int,
      volume: Double): Array[Byte] =
    toneCache.computeIfAbsent((seed, sampleRate, nSamples, volume, false),
      k => syntheticToneWav(k._1, k._2, k._3, k._4))
  def syntheticToneWavNearCached(seed: Long, sampleRate: Int, nSamples: Int,
      volume: Double = 1.0): Array[Byte] =
    toneCache.computeIfAbsent((seed, sampleRate, nSamples, volume, true),
      k => syntheticToneWavNear(k._1, k._2, k._3, k._4))

  // ------------------------------------------------------------------
  // Audio-fingerprint LEDGER — the at-rest form of
  // [[audioFingerprint32]] for the steady-state audio-ingest loop,
  // completing the per-modality at-rest story (text: d48/d97 signature
  // ledgers; video: m08/m09 frame ledger; audio: this). Admission
  // decodes + FFTs each payload ONCE and stores `(id, afp)` — 8 bytes
  // of key per payload, never PCM; every later batch probes the stored
  // fingerprints via the COMPLETE bipartite Hamming join without
  // re-reading any corpus payload (at 100 TB of audio the payload
  // decode is the cost that matters). Append-only with replay-tolerant
  // probes; forget is exact (rows are id-attributed — the m09
  // contract); compaction collapses replayed rows and rewrites
  // id-sorted sized files. SELF-DESCRIBING: a `_GRAFT_AUDIOFP_META`
  // sidecar pins the fingerprint geometry — fingerprints from a
  // different band layout are incomparable, and the recall loss would
  // be silent.
  // ------------------------------------------------------------------

  private def fpGeometry: String = s"sbe:$FpBands:$FpLoHz:$FpHiHz:$FpFrame"

  // the id column rides the drift guard too: an id-column drift would
  // anti-join/probe on the wrong column — loud, never a silent no-op
  // (the compactBucketedIndex lesson)
  private val AudioFpParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "AUDIOFP_META", "audio-fp ledger",
    "fingerprints under different band layouts (or keyed by a different " +
      "id column) are incomparable")

  private val AudioFpSpec = Ledger.Spec("audio-fp ledger", Nil,
    Ledger.Merge.UnionDistinct, params = Some(AudioFpParams))

  private def audioFpParams(idCol: String) =
    Seq("geometry" -> fpGeometry, "idCol" -> idCol)

  /** Create the audio-fingerprint ledger from the initial corpus — one
    * payload scan, fingerprints computed at the partition seam.
    */
  def writeAudioFpLedger(df: DataFrame, idCol: String, binCol: String,
      path: String): Unit =
    Ledger.create(df.sparkSession, path, AudioFpSpec,
      audioFingerprintPartitioned(df.select(col(idCol), col(binCol)), binCol),
      audioFpParams(idCol))

  /** O(batch) append — crash-and-retry replays tolerated (probes dedup
    * the stored rows; compaction removes duplicates at rest). Optional
    * exactly-once `batchId`: a marked replay skips the re-fingerprint
    * (FFT per payload — the family's dominant batch cost) and the
    * duplicate append outright; see [[appendToFrameLedger]].
    */
  def appendToAudioFpLedger(batch: DataFrame, idCol: String, binCol: String,
      path: String, batchId: Option[String] = None): Unit =
    Ledger.append(batch.sparkSession, path, AudioFpSpec, batchId,
      audioFpParams(idCol))(
      audioFingerprintPartitioned(batch.select(col(idCol), col(binCol)), binCol))

  /** Near-dup pairs of a NEW audio batch against the at-rest corpus
    * fingerprints — batch payloads fingerprint per-row (one batch
    * scan), the corpus side is a columnar `(id, afp)` read; corpus
    * payloads are never touched. Complete for the Hamming budget via
    * [[DedupOps.hammingJoin]]. Output: `(new_id, corpus_id, hamming)`.
    */
  def audioNearDupAgainstLedger(newAudio: DataFrame, idCol: String,
      binCol: String, path: String, maxHamming: Int = 2): DataFrame = {
    val spark = newAudio.sparkSession
    AudioFpParams.check(spark, path, "probe", audioFpParams(idCol),
      mustExist = true)
    val led = Ledger.read(spark, path)
      .select(col(idCol), col("afp")).dropDuplicates() // replayed appends
    DedupOps.hammingJoin(
      audioFingerprintPartitioned(newAudio.select(col(idCol), col(binCol)), binCol)
        .withColumnRenamed(idCol, "new_id").withColumnRenamed("afp", "__nh"),
      "new_id", "__nh",
      led.withColumnRenamed(idCol, "corpus_id").withColumnRenamed("afp", "__ch"),
      "corpus_id", "__ch", maxHamming, bits = 32)
  }

  /** Right-to-be-forgotten — EXACT (every row is id-attributed): the
    * forgotten ids' fingerprints leave the store, later probes stop
    * pairing against them, re-admission is one append. Staged swap,
    * lease, manifest mode, exactly-once `batchId`.
    */
  def removeFromAudioFpLedger(ids: DataFrame, idCol: String, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.remove(ids.sparkSession, path,
      AudioFpSpec.copy(retract = Ledger.Retract.AntiJoin(idCol)), batchId,
      audioFpParams(idCol))(ids.select(col(idCol)))

  /** Compact IN PLACE — the append-only families' generic contract:
    * replayed rows collapse, sized files sort by the first at-rest
    * column (the id).
    */
  def compactAudioFpLedger(spark: SparkSession, path: String,
      targetFiles: Int = 16): Unit =
    Ledger.compact(spark, path, AudioFpSpec, targetFiles)

  val VideoMetaType: StructType = StructType(Seq(
    StructField("duration_ms", LongType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("container", StringType, nullable = false)))

  /** REAL video container metadata via a direct ISO-BMFF (MP4) box walk
    * — the video twin of [[audioHeader]]'s RIFF walk, pure byte reads
    * over the PUBLIC box grammar (ISO/IEC 14496-12: [size:u32][type:4cc]
    * headers, `size==1` → 64-bit largesize follows, `size==0` → box
    * runs to end): `moov/mvhd` yields timescale + duration (version 0
    * and 1 layouts), each `moov/trak` counts a track, and the first
    * `trak/tkhd` yields width/height (16.16 fixed point, both
    * versions). Frame DECODE stays out of scope — codec payloads
    * (`mdat`) are opaque here by design; this reads the same fields a
    * container probe reads, without touching sample data.
    * Returns zeros/"unknown" for null/empty/malformed payloads so the
    * seam stays total; the walk advances in LONG arithmetic and bails
    * on any non-advancing or out-of-range size, like the RIFF walk.
    */
  def mp4Meta(b: Array[Byte]): (Long, Int, Int, Int, Int, String) = {
    val unknown = (0L, 0, 0, 0, 0, "unknown")
    if (b == null || b.length < 16) return unknown
    def u32(i: Long): Long =
      ((b(i.toInt) & 0xffL) << 24) | ((b(i.toInt + 1) & 0xffL) << 16) |
        ((b(i.toInt + 2) & 0xffL) << 8) | (b(i.toInt + 3) & 0xffL)
    def u64(i: Long): Long = (u32(i) << 32) | u32(i + 4)
    def fourcc(i: Long): String =
      new String(b, i.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // walk the boxes in [start, end); false on any malformed header
    def walk(start: Long, end: Long)(f: (String, Long, Long) => Unit): Boolean = {
      var pos = start
      while (pos + 8 <= end) {
        val sz32 = u32(pos)
        var hdr = 8L
        var size = sz32
        if (sz32 == 1L) {
          if (pos + 16 > end) return false
          size = u64(pos + 8); hdr = 16L
        } else if (sz32 == 0L) size = end - pos
        if (size < hdr || size > end - pos) return false
        f(fourcc(pos + 4), pos + hdr, pos + size)
        pos += size
      }
      true
    }
    var timescale = 0L; var duration = -1L
    var width = 0; var height = 0; var nTracks = 0
    var malformed = false
    val ok = walk(0L, b.length.toLong) {
      case ("moov", ms, me) =>
        malformed ||= !walk(ms, me) {
          case ("mvhd", ps, pe) =>
            val v = b(ps.toInt) & 0xff
            if (v == 0 && pe - ps >= 20) {
              timescale = u32(ps + 12); duration = u32(ps + 16)
            } else if (v == 1 && pe - ps >= 32) {
              timescale = u32(ps + 20); duration = u64(ps + 24)
            } else malformed = true
          case ("trak", ts, te) =>
            nTracks += 1
            malformed ||= !walk(ts, te) {
              case ("tkhd", ps, pe) if width == 0 && height == 0 =>
                val v = b(ps.toInt) & 0xff
                // width/height are 16.16 fixed point; keep the integer part
                if (v == 0 && pe - ps >= 84) {
                  width = (u32(ps + 76) >> 16).toInt
                  height = (u32(ps + 80) >> 16).toInt
                } else if (v == 1 && pe - ps >= 96) {
                  width = (u32(ps + 88) >> 16).toInt
                  height = (u32(ps + 92) >> 16).toInt
                } else malformed = true
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    // duration > Long.MaxValue/1000 would overflow the ms scaling into a
    // negative "valid" duration — an adversarial 64-bit mvhd duration is
    // malformed data, not a 292-million-year video: fall to unknown
    if (!ok || malformed || timescale <= 0 || duration < 0 ||
        duration > Long.MaxValue / 1000L || nTracks == 0 ||
        width < 0 || height < 0) unknown
    else ((duration * 1000L) / timescale, timescale.toInt, width, height, nTracks, "mp4")
  }

  /** Partition-batched video metadata seam — same shape as
    * [[audioMetaPartitioned]]: binary stays inside its input partition,
    * only the small metadata struct flows on. Output schema = input
    * minus the binary column, plus `meta: VideoMetaType`.
    */
  def videoMetaPartitioned(df: DataFrame, binCol: String,
      parseOne: Array[Byte] => (Long, Int, Int, Int, Int, String) = mp4Meta): DataFrame = {
    val inSchema = df.schema
    val binIdx = inSchema.fieldIndex(binCol)
    val outSchema = StructType(
      inSchema.fields.patch(binIdx, Nil, 1).toSeq :+ StructField("meta", VideoMetaType))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val (dur, ts, w, h, nt, container) = parseOne(bytes)
        val kept = row.toSeq.patch(binIdx, Nil, 1)
        Row.fromSeq(kept :+ Row(dur, ts, w, h, nt, container))
      }
    }
  }

  /** Deterministic MP4 fixture: `ftyp` + `moov` (mvhd + `nTracks` ×
    * trak/tkhd) + an mdat of (seed, index)-derived filler — a genuine
    * ISO-BMFF box layout written by hand from the public spec, so
    * conformance queries can assert the parsed fields BY CONSTRUCTION
    * (the video analog of [[syntheticWav]]). `version` selects the
    * mvhd/tkhd box version (0 or 1) to exercise both parser layouts.
    */
  def syntheticMp4(seed: Long, durationUnits: Long, timescale: Int,
      width: Int, height: Int, nTracks: Int, version: Int = 0): Array[Byte] = {
    require(version == 0 || version == 1, "mvhd/tkhd version must be 0 or 1")
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def box(typ: String, payload: Array[Byte]): Unit = {
      out.writeInt(8 + payload.length); out.writeBytes(typ); out.write(payload)
    }
    def payloadOf(f: java.io.DataOutputStream => Unit): Array[Byte] = {
      val pb = new java.io.ByteArrayOutputStream()
      val po = new java.io.DataOutputStream(pb)
      f(po); po.flush(); pb.toByteArray
    }
    val unityMatrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    box("ftyp", payloadOf { o =>
      o.writeBytes("isom"); o.writeInt(0x200); o.writeBytes("isom")
    })
    box("moov", payloadOf { moov =>
      val mvhd = payloadOf { o =>
        o.writeInt(version << 24) // version + flags
        if (version == 0) { o.writeInt(0); o.writeInt(0); o.writeInt(timescale); o.writeInt(durationUnits.toInt) }
        else { o.writeLong(0L); o.writeLong(0L); o.writeInt(timescale); o.writeLong(durationUnits) }
        o.writeInt(0x00010000); o.writeShort(0x0100); o.writeShort(0)
        o.writeInt(0); o.writeInt(0)
        unityMatrix.foreach(o.writeInt)
        (0 until 6).foreach(_ => o.writeInt(0)) // pre_defined
        o.writeInt(nTracks + 1) // next_track_ID
      }
      moov.writeInt(8 + mvhd.length); moov.writeBytes("mvhd"); moov.write(mvhd)
      (1 to nTracks).foreach { tid =>
        val tkhd = payloadOf { o =>
          o.writeInt((version << 24) | 0x7) // version + enabled/in-movie flags
          if (version == 0) {
            o.writeInt(0); o.writeInt(0); o.writeInt(tid); o.writeInt(0); o.writeInt(durationUnits.toInt)
          } else {
            o.writeLong(0L); o.writeLong(0L); o.writeInt(tid); o.writeInt(0); o.writeLong(durationUnits)
          }
          o.writeLong(0L) // reserved
          o.writeShort(0); o.writeShort(0); o.writeShort(0); o.writeShort(0)
          unityMatrix.foreach(o.writeInt)
          o.writeInt(width << 16); o.writeInt(height << 16)
        }
        val trak = payloadOf { o =>
          o.writeInt(8 + tkhd.length); o.writeBytes("tkhd"); o.write(tkhd)
        }
        moov.writeInt(8 + trak.length); moov.writeBytes("trak"); moov.write(trak)
      }
    })
    box("mdat", payloadOf { o =>
      (0 until 64).foreach(i => o.writeByte(((seed * 1315423911L + i * 2654435761L) >>> 7).toInt))
    })
    out.flush()
    bos.toByteArray
  }

  /** Memoized [[syntheticMp4]] over a bounded seed set (m05 draws from
    * 42 distinct combos) — fixture plumbing, same contract as
    * [[syntheticWavCached]].
    */
  private val mp4Cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long, Int, Int, Int, Int), Array[Byte]]
  def syntheticMp4Cached(seed: Long, durationUnits: Long, timescale: Int,
      width: Int, height: Int, nTracks: Int): Array[Byte] =
    mp4Cache.computeIfAbsent((seed, durationUnits, timescale, width, height, nTracks),
      k => syntheticMp4(k._1, k._2, k._3, k._4, k._5, k._6))

  /** Frame-sampling stub for video-like payloads: emit every k-th chunk of
    * the byte stream as one "frame" row (explode pattern — the real
    * operator shape for frame extraction).
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int): DataFrame = {
    df.select(col(idCol), col(binCol).as("__bin"))
      .select(col(idCol),
        posexplode(sequence(lit(0),
          greatest((length(col("__bin")) / frameBytes / everyK).cast("int") - 1, lit(0)))),
        col("__bin"))
      .select(col(idCol), col("pos").cast("int").as("frame_no"),
        col("__bin").substr(col("pos") * (frameBytes * everyK) + 1, lit(frameBytes)).as("frame_bytes"))
  }

  /** Per-payload distinct-frame-hash SIGNATURE: one row per payload,
    * `(idCol, n, fhs)` where `fhs` is the SORTED array of distinct
    * sampled-frame md5s and `n` its size. One fused per-row kernel
    * ([[graft.functions.FrameHashUtil.frameMd5s]]) — bit-identical to
    * exploding [[sampleFrames]] through `md5()` and re-collecting with
    * `sort_array(collect_set(...))` (unit-pinned), but with ZERO
    * shuffle and zero row amplification: the payload bytes never leave
    * the scan partition, and no explode ever copies binary slices into
    * per-frame rows. This is the table every frame-dedup consumer
    * shares: the in-flight pair generator, the at-rest ledger writer,
    * and the ledger probe's batch side.
    */
  def frameSignatures(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int): DataFrame =
    df.select(col(idCol),
        org.apache.spark.sql.GraftSqlShims.column(graft.functions.FrameMd5s(
          org.apache.spark.sql.GraftSqlShims.expression(col(binCol)),
          frameBytes, everyK)).as("fhs"))
      .filter(col("fhs").isNotNull) // null payload ⇒ no frames (explode semantics)
      .select(col(idCol), size(col("fhs")).as("n"), col("fhs"))

  /** Video near-duplicate candidates by sampled-frame hashing — the
    * standard video-dedup recipe (sample frames, hash each, compare
    * hash SETS): two payloads pair when they share ≥ 1 frame hash, and
    * the pair's score is the Jaccard of their distinct-frame-hash sets
    * (re-encodes and containers differ, content frames agree). Frame
    * extraction is [[sampleFrames]] — here the deterministic byte-chunk
    * stand-in; swapping a real keyframe decoder into that seam changes
    * nothing downstream because only the 16-byte md5s flow past it.
    *
    * Scale shape (the d10/d12 collapse discipline, applied here too):
    * each payload collapses to its signature ONCE ([[frameSignatures]],
    * locally checkpointed so the self-joined lineage reads the cached
    * signature blocks instead of re-scanning the binary corpus — the
    * cost that dominates at 100 TB of video), identical hash SETS
    * collapse to one representative (identical sets ⇒ Jaccard exactly
    * 1 within the group, and a cross-group rep-pair score is inherited
    * by every member pair — so a frame shared by n exact re-uploads no
    * longer emits n·(n−1)/2 rows inside the bucket join; pair output
    * is still quadratic in duplicity, but as a rep-local expansion,
    * never join work). Rep pair generation is the LSH-banding bucket
    * join (pairs meet ONLY inside a shared frame hash — linear in
    * bucket sizes, never corpus × corpus). For the steady-state ingest
    * loop, use [[writeFrameLedger]] / [[frameDedupAgainstLedger]] —
    * then each payload's bytes are read exactly once at admission.
    * Output: `(a_id, b_id, n_common, jaccard)` with a_id < b_id,
    * jaccard ≥ `minJaccard`.
    */
  def frameDedupPairs(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int, minJaccard: Double): DataFrame =
    pairsOfFrameSignatures(
      frameSignatures(df, idCol, binCol, frameBytes, everyK),
      idCol, minJaccard)

  /** The pair core over a signature table ([[frameSignatures]]-shaped
    * or re-assembled from the at-rest ledger). Collapse-first: groups
    * are distinct hash SETS (members sorted; the signature table is
    * one row per id, so groups partition the ids), the payload-derived
    * signature table is locally checkpointed (lazily — inside the
    * consumer's own action) so the group table's several derivations
    * (within-group arm, both bucket-join sides, both member
    * expansions) share ONE computation of the expensive upstream
    * scan-and-hash instead of re-executing it per derivation. At
    * cluster scale the checkpoint blocks live on executors
    * (MEMORY_AND_DISK); the at-rest ledger is the durable form of the
    * same table for jobs that outlive a session.
    */
  private[graft] def pairsOfFrameSignatures(sigs: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    val id = col(idCol)
    val groups = sigs.groupBy(col("fhs"))
      .agg(sort_array(collect_set(id)).as("__members"), first(col("n")).as("__n"))
      .select(element_at(col("__members"), 1).as("__rep"),
        col("__members"), col("__n"), col("fhs"))
      .localCheckpoint(false)
    // within-group arm: identical sets ⇒ every member pair at Jaccard
    // exactly 1 with n_common = |set|; members are sorted, so pairing
    // each element with its successors yields a_id < b_id directly
    val ms = col("__members")
    val within = groups.filter(size(ms) > 1)
      .select(col("__n"), explode(flatten(transform(ms, (x, i) =>
        transform(slice(ms, i + 2, greatest(size(ms) - i - 1, lit(0))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .select(col("__p.a").as("a_id"), col("__p.b").as("b_id"),
        col("__n").cast("int").as("n_common"), lit(1.0).as("jaccard"))
    // cross-group arm with PREFIX FILTERING (the set-similarity-join
    // prefix principle — Chaudhuri et al. 2006 "A Primitive Operator
    // for Similarity Joins"; ordering + length/positional rules per
    // Xiao et al. 2008 "Efficient Similarity Joins for Near Duplicate
    // Detection", both public): under ANY global element order, a pair
    // with Jaccard
    // ≥ t must share its order-smallest common element, and that
    // element provably sits within the first |S| − ⌈t·|S|⌉ + 1
    // elements of BOTH sets (if all common elements hid in A's
    // suffix, |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|). The order used is
    // ASCENDING CORPUS FREQUENCY (ties by hash) — the part that makes
    // the filter bite: prefixes then hold each set's RAREST hashes, so
    // the ubiquitous-frame hot buckets (intro frames; here, common
    // 8-gram chunks) sit in suffixes and never generate candidates,
    // and bucket-join work tracks the number of TRULY similar pairs
    // instead of co-occurrence volume (the unfiltered bucket join
    // emitted 1.7M rep pairs on the sf0.1 fixture for a ~10²-row
    // result). Survivors are scored exactly with one array_intersect
    // over the two model-sized sets — no corpus-wide count
    // aggregation, no full-set arrays through a big join. The prefix
    // threshold backs off by the 4-dp rounding margin so a pair whose
    // TRUE Jaccard sits just under `minJaccard` but ROUNDS up is
    // still generated (the emitted filter tests the rounded value,
    // as before).
    val tPre = math.max(minJaccard - 0.00005, 0.0)
    val ex = groups.select(col("__rep"), explode(col("fhs")).as("__fh"))
    val dfreq = ex.groupBy(col("__fh")).agg(count(lit(1)).as("__df"))
    val ordered = ex.join(dfreq, "__fh")
      .groupBy(col("__rep"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__fh")))).as("__ord"))
    // clamped at 0 so a (degenerate) minJaccard > 1 yields empty
    // prefixes and an empty result, matching the emitted filter
    val pLen = greatest(size(col("__ord")) -
      ceil(size(col("__ord")) * lit(tPre)).cast("int") + 1, lit(0))
    // prefix rows carry (set size, 1-based position) so the bucket
    // join can apply PPJoin's two other EXACT pruning rules before any
    // pair materializes downstream:
    //  - length filter: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|);
    //  - positional filter: for the smallest common element at
    //    positions (pa, pb), |A∩B| ≤ min(|A|−pa, |B|−pb) + 1, which
    //    must reach the required overlap t/(1+t)·(|A|+|B|). Rows for
    //    LATER shared elements may fail the bound spuriously, but the
    //    smallest common element's row — guaranteed present by the
    //    prefix theorem — always satisfies it, and dropDuplicates
    //    keeps a pair if ANY of its rows survives.
    val pre = ordered.select(col("__rep"), size(col("__ord")).as("__sz"),
        posexplode(slice(transform(col("__ord"), s => s.getField("__fh")),
          lit(1), pLen)))
      .select(col("__rep"), col("__sz"), (col("pos") + 1).as("__pos"), col("col").as("__fh"))
    val reqOverlap = lit(tPre / (1.0 + tPre)) * (col("__sa") + col("__sb"))
    val cand = pre.select(col("__rep").as("__ra"), col("__sz").as("__sa"),
        col("__pos").as("__pa"), col("__fh"))
      .join(pre.select(col("__rep").as("__rb"), col("__sz").as("__sb"),
        col("__pos").as("__pb"), col("__fh")), Seq("__fh"))
      .filter(col("__ra") < col("__rb") &&
        greatest(col("__sa"), col("__sb")) * lit(tPre) <=
          least(col("__sa"), col("__sb")) &&
        (least(col("__sa") - col("__pa"), col("__sb") - col("__pb")) + 1) >= reqOverlap)
      .select(col("__ra"), col("__rb")).dropDuplicates()
    // the scoring join fetches each side's full hash set AND its member
    // list in ONE lookup (members ride along, so no second pair of
    // joins for the expansion — every join here is a stage floor at
    // bench scale and a shuffle at cluster scale)
    val full = groups.select(col("__rep"), col("__n"), col("fhs"), col("__members"))
    val cross = cand
      .join(full.select(col("__rep").as("__ra"), col("__n").as("__na"),
        col("fhs").as("__fa"), col("__members").as("__ma")), "__ra")
      .join(full.select(col("__rep").as("__rb"), col("__n").as("__nb"),
        col("fhs").as("__fb"), col("__members").as("__mb")), "__rb")
      .select(col("__ma"), col("__mb"),
        size(array_intersect(col("__fa"), col("__fb"))).cast("long").as("__common"),
        col("__na"), col("__nb"))
      .select(col("__ma"), col("__mb"), col("__common"),
        graft.queries.Qf.dround(
          col("__common") / (col("__na") + col("__nb") - col("__common")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .select(explode(col("__ma")).as("__x"), col("__mb"), col("__common"), col("jaccard"))
      .select(col("__x"), explode(col("__mb")).as("__y"), col("__common"), col("jaccard"))
      .select(least(col("__x"), col("__y")).as("a_id"),
        greatest(col("__x"), col("__y")).as("b_id"),
        col("__common").cast("int").as("n_common"), col("jaccard"))
    within.unionByName(cross).filter(col("jaccard") >= minJaccard)
  }

  // ------------------------------------------------------------------
  // Frame-signature LEDGER — the at-rest form of [[frameSignatures]]
  // for the steady-state video-ingest loop (the d48 signature-ledger
  // regime): admission computes each payload's frame hashes ONCE, and
  // every later batch probes the stored hashes without re-reading or
  // re-hashing the binary corpus — at 100 TB of video the payload scan
  // dwarfs everything else, so this ledger is what makes incremental
  // frame-dedup O(batch). Row shape: `(idCol, n, fh)` — one row per
  // distinct frame hash per payload (16 B of hash + the set size at
  // rest), never payload bytes. Append-only; replayed appends
  // (crash-and-retry) store duplicate rows, which probes tolerate
  // (signatures re-assemble per distinct (id, fh)) and
  // [[compactFrameLedger]] removes at rest. SELF-DESCRIBING: creation
  // persists (frameBytes, everyK) in a `_GRAFT_FRAME_META` sidecar and
  // every append/probe validates the caller's values against it,
  // failing loudly naming both sides — hashes sampled with different
  // framing are incomparable, and the recall loss would be silent.
  // ------------------------------------------------------------------

  private val FrameParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "FRAME_META", "frame ledger",
    "mixed framing silently degrades dedup recall")

  private val FrameSpec = Ledger.Spec("frame ledger", Nil,
    Ledger.Merge.UnionDistinct, params = Some(FrameParams))

  private def frameParams(frameBytes: Int, everyK: Int) =
    Seq("frameBytes" -> frameBytes, "everyK" -> everyK)

  private def frameLedgerRows(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int): DataFrame =
    frameSignatures(df, idCol, binCol, frameBytes, everyK)
      .select(col(idCol), col("n"), explode(col("fhs")).as("fh"))

  /** Create the frame-signature ledger from the initial corpus — ONE
    * payload scan, hashes at rest thereafter.
    */
  def writeFrameLedger(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int, path: String): Unit =
    Ledger.create(df.sparkSession, path, FrameSpec,
      frameLedgerRows(df, idCol, binCol, frameBytes, everyK),
      frameParams(frameBytes, everyK))

  /** Admit a batch's frame signatures (append-only; pass rows already
    * vetted for admission — the ledger should hold what the corpus
    * kept). First append to a pre-sidecar ledger adopts the caller's
    * framing (trusted once); every later append/probe is validated.
    */
  def appendToFrameLedger(batch: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyK: Int, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.append(batch.sparkSession, path, FrameSpec, batchId,
      frameParams(frameBytes, everyK))(
      frameLedgerRows(batch, idCol, binCol, frameBytes, everyK))

  /** At-rest byte size of the ledger's readable generation — the
    * cheap fs probe behind the reduce-route decision; unknown reads
    * as "big" so the scale-safe reduction stays the default.
    */
  private def ledgerBytes(spark: SparkSession, path: String): Long = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.getContentSummary(LedgerGuard.readablePath(fs, target)).getLength
    catch { case _: java.io.IOException => Long.MaxValue }
  }

  /** Frame-dedup a NEW batch against the at-rest corpus signatures:
    * the batch side hashes O(batch) payloads, the corpus side is a
    * columnar scan of (id, fh) — no corpus payload is read. Same
    * collapse discipline as [[pairsOfFrameSignatures]]: both sides
    * group to distinct hash sets, reps meet in the bucket join,
    * scores expand to members (identical sets across sides meet in
    * every shared hash and score Jaccard 1 on their own — no special
    * arm needed). Output: `(new_id, corpus_id, n_common, jaccard)`.
    *
    * Scale shape (r16), two levers:
    *
    * 1. CORPUS REDUCTION — above `spark.graft.frameProbe.reduceMinBytes`
    * (default 64 MB) of at-rest ledger, the corpus side reduces to the
    * batch-relevant rows before any shuffle: a semi-join on the
    * batch's distinct hash set. Exact, not approximate: a corpus doc
    * sharing NO hash with the batch can never pair, every intersection
    * A∩B is a subset of the batch's hashes, and |B| rides the ledger's
    * stored admission-time `n` (the contract that column exists for),
    * so Jaccard denominators never need the dropped rows. Groups key
    * on (reduced set, n) — docs whose reduced sets and sizes agree
    * score identically against every batch group by construction.
    * Probe collapse/prefix work becomes O(batch + matching rows), not
    * O(corpus). Prefix lengths on reduced sets stay complete: |A∩B| ≥
    * t·|B| ≥ t·|B_reduced| and B_reduced ⊇ A∩B — the standard argument
    * with the smaller set. Below the threshold the two extra stages
    * cost more than the scan they save (measured at sf0.1), so the
    * probe keeps the plain full-scan collapse — the
    * `spark.graft.window.distributedMinBytes` auto-route pattern.
    *
    * 2. The prefix-filter document frequencies count CORPUS ROWS
    * (one stage straight off the scan, parallel to the collapse
    * chain) instead of the r15 union-of-both-sides rep counts (which
    * serialized dfreq AFTER the corpus group table). Batch-only
    * hashes order LAST (they cannot match the corpus, so they are
    * dead prefix weight; df'd hashes keep rare-first). Any SHARED
    * total order preserves prefix completeness, and the exact rescore
    * keeps the output identical (OperatorsSpec pins route equality).
    */
  def frameDedupAgainstLedger(newDocs: DataFrame, idCol: String, binCol: String,
      path: String, frameBytes: Int, everyK: Int, minJaccard: Double): DataFrame = {
    val spark = newDocs.sparkSession
    FrameParams.check(spark, path, "probe", frameParams(frameBytes, everyK))
    val rows = Ledger.read(spark, path)
    val batch = frameSignatures(newDocs, idCol, binCol, frameBytes, everyK)
    def groupsOf(t: DataFrame): DataFrame = t.groupBy(col("fhs"))
      .agg(sort_array(collect_set(col(idCol))).as("__members"),
        first(col("n")).as("__n"))
      .select(element_at(col("__members"), 1).as("__rep"),
        col("__members"), col("__n"), col("fhs"))
    val gn = groupsOf(batch).localCheckpoint(false)
    val reduceMinBytes = spark.conf
      .getOption("spark.graft.frameProbe.reduceMinBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val corpusRows =
      if (ledgerBytes(spark, path) < reduceMinBytes) rows
      else rows.join(gn.select(explode(col("fhs")).as("fh")).dropDuplicates(),
        Seq("fh"), "left_semi")
    val gc = corpusRows
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("fh"))).as("fhs"),
        // max, not first: if an id ever carried rows with differing
        // stored n (double-append without a forget — outside the
        // documented contract), first() is nondeterministic and the
        // Jaccard denominator would silently vary between runs.
        max(col("n")).as("n"))
      .groupBy(col("fhs"), col("n"))
      .agg(sort_array(collect_set(col(idCol))).as("__members"))
      .select(element_at(col("__members"), 1).as("__rep"),
        col("__members"), col("n").as("__n"), col("fhs"))
    // frequency-ordered PREFIX FILTERING with PPJoin's length and
    // positional rules (the pairsOfFrameSignatures principles — see
    // there for the completeness arguments and the rounding back-off),
    // with the corpus-row df order of lever 2. Under the reduction the
    // rules stay EXACTLY complete with mixed sizes: the length and
    // required-overlap rules use the TRUE set sizes (__n — the batch's
    // full size, the corpus row's stored admission-time n), while the
    // positional remaining-elements bound uses each PREFIX LIST's own
    // size (A∩B ⊆ B_reduced, so |B_reduced|−pos+1 still bounds the
    // overlap reachable from a match at pos).
    val tPre = math.max(minJaccard - 0.00005, 0.0)
    val dfreq = corpusRows.groupBy(col("fh").as("__fh"))
      .agg(count(lit(1)).as("__df"))
    def preOf(g: DataFrame, sfx: String): DataFrame = {
      val ord = g.select(col("__rep"), col("__n"), explode(col("fhs")).as("__fh"))
        .join(dfreq, Seq("__fh"), "left")
        .na.fill(Long.MaxValue, Seq("__df")) // batch-only: dead weight, last
        .groupBy(col("__rep"))
        .agg(first(col("__n")).as("__n"),
          sort_array(collect_list(struct(col("__df"), col("__fh")))).as("__ord"))
      val pLen = greatest(size(col("__ord")) -
        ceil(size(col("__ord")) * lit(tPre)).cast("int") + 1, lit(0))
      ord.select(col("__rep").as("__r" + sfx), col("__n").as("__t" + sfx),
          size(col("__ord")).as("__sz" + sfx),
          posexplode(slice(transform(col("__ord"), s => s.getField("__fh")),
            lit(1), pLen)))
        .select(col("__r" + sfx), col("__t" + sfx), col("__sz" + sfx),
          (col("pos") + 1).as("__p" + sfx), col("col").as("__fh"))
    }
    val reqOverlap = lit(tPre / (1.0 + tPre)) * (col("__tn") + col("__tc"))
    val cand = preOf(gn, "n").join(preOf(gc, "c"), Seq("__fh"))
      .filter(greatest(col("__tn"), col("__tc")) * lit(tPre) <=
          least(col("__tn"), col("__tc")) &&
        (least(col("__szn") - col("__pn"), col("__szc") - col("__pc")) + 1) >=
          reqOverlap)
      .select(col("__rn"), col("__rc")).dropDuplicates()
    // members ride the scoring join — see pairsOfFrameSignatures
    cand
      .join(gn.select(col("__rep").as("__rn"), col("__n").as("__nn"),
        col("fhs").as("__fn"), col("__members").as("__mn")), "__rn")
      .join(gc.select(col("__rep").as("__rc"), col("__n").as("__nc"),
        col("fhs").as("__fc"), col("__members").as("__mc")), "__rc")
      .select(col("__mn"), col("__mc"),
        size(array_intersect(col("__fn"), col("__fc"))).cast("long").as("__common"),
        col("__nn"), col("__nc"))
      .select(col("__mn"), col("__mc"), col("__common"),
        graft.queries.Qf.dround(
          col("__common") / (col("__nn") + col("__nc") - col("__common")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .select(explode(col("__mn")).as("new_id"), col("__mc"), col("__common"), col("jaccard"))
      .select(col("new_id"), explode(col("__mc")).as("corpus_id"),
        col("__common").cast("int").as("n_common"), col("jaccard"))
  }

  /** Right-to-be-forgotten purge for the frame ledger, by payload id
    * (the d71 regime for the video family): the ids' stored frame
    * hashes leave the ledger, so later probes stop pairing against the
    * forgotten payloads — exact here because every ledger row is
    * id-attributed (unlike the sketch families' documented
    * boundaries). Re-admitting a forgotten payload later is a plain
    * append (unit-pinned). Same staged-swap/lease/manifest discipline.
    */
  def removeFromFrameLedger(ids: DataFrame, idCol: String, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.remove(ids.sparkSession, path,
      FrameSpec.copy(retract = Ledger.Retract.AntiJoin(idCol)), batchId)(
      ids.select(col(idCol)))

  /** Compact the frame ledger IN PLACE: collapse duplicate rows
    * (replayed appends) and rewrite accreted per-batch small files,
    * sorted by id so file-level min/max stats prune id-ranged reads.
    * Same staged swap, lease, self-heal, and manifest-mode support as
    * every other ledger family.
    */
  def compactFrameLedger(spark: SparkSession, path: String,
      targetFiles: Int = 16, maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path, FrameSpec, targetFiles, maxRecordsPerFile)
}
