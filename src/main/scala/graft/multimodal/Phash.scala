package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Pins
import Multimodal.Asset

/** DCT perceptual hashing (pHash) over really-decoded images — the
  * image-modality twin of MinHash text dedup: two images that differ
  * by small pixel edits land within a few Hamming bits of each other,
  * so near-duplicate detection becomes a banded 64-bit-hash join
  * instead of a pixel-space all-pairs compare.
  *
  * Public algorithm (Zauner's pHash construction): grayscale →
  * 32×32 → 2-D DCT-II → keep the 8×8 lowest-frequency block →
  * threshold each coefficient against the block median → 64 bits.
  *
  * Determinism is the WavCodec integer-waveform precedent taken to
  * images: the DCT runs in PURE INTEGER arithmetic against a Q14
  * fixed-point cosine table ([[CosQ14]], `round(16384·cos(π(2j+1)i/
  * 64))`) whose 256 entries are source-embedded LITERALS — the SAME
  * literals ride inside the DuckDB oracle SQL, so both engines
  * compute identical coefficient lattices with zero float ops and the
  * hash replays exactly. Magnitude budget: |stage1| ≤ 32·2¹⁴·255 ≈
  * 1.3e8, |stage2| ≤ 32·2¹⁴·1.3e8 ≈ 7e13 — both exact in long.
  *
  * The decode path is REAL: [[synthGrayPngAssets]] writes genuine
  * 8-bit grayscale PNGs through `javax.imageio`, and [[phash64]]
  * reads them back through the same library. PNG is lossless, so the
  * decoded raster equals the synthesis rule's integer lattice — a
  * decode bug (stride, channel order, gamma mangling) breaks the
  * oracle hash, exactly like a WAV frame miscount would.
  *
  * Scale: hashing is per-image mapPartitions (no shuffle);
  * [[neardupPairs]] joins on 16-bit hash bands — by pigeonhole, two
  * hashes within Hamming ≤ 3 of each other agree on at least one of
  * the 4 bands, so the banded join is EXACT at the default radius,
  * not approximate, while never forming cross-band candidates. The
  * reference has no image operators (its schemas are scalar POS
  * fields — `secondDataPipeline/kafka_consumer/kafka_consumer.py`);
  * this is the training-data-pipeline brief's near-dup family.
  */
object Phash {

  /** Q14 integer DCT-II cosine table: `CosQ14(i)(j) =
    * round(16384 · cos(π·(2j+1)·i / 64))` for the 8 lowest output
    * frequencies over 32 inputs. LITERALS on purpose — the DuckDB
    * oracle embeds the same numbers, so no engine's `cos`/rounding is
    * in the replay path.
    */
  val CosQ14: Array[Array[Long]] = Array(
    Array(16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384),
    Array(16364, 16207, 15893, 15426, 14811, 14053, 13160, 12140, 11003, 9760, 8423, 7005, 5520, 3981, 2404, 804, -804, -2404, -3981, -5520, -7005, -8423, -9760, -11003, -12140, -13160, -14053, -14811, -15426, -15893, -16207, -16364),
    Array(16305, 15679, 14449, 12665, 10394, 7723, 4756, 1606, -1606, -4756, -7723, -10394, -12665, -14449, -15679, -16305, -16305, -15679, -14449, -12665, -10394, -7723, -4756, -1606, 1606, 4756, 7723, 10394, 12665, 14449, 15679, 16305),
    Array(16207, 14811, 12140, 8423, 3981, -804, -5520, -9760, -13160, -15426, -16364, -15893, -14053, -11003, -7005, -2404, 2404, 7005, 11003, 14053, 15893, 16364, 15426, 13160, 9760, 5520, 804, -3981, -8423, -12140, -14811, -16207),
    Array(16069, 13623, 9102, 3196, -3196, -9102, -13623, -16069, -16069, -13623, -9102, -3196, 3196, 9102, 13623, 16069, 16069, 13623, 9102, 3196, -3196, -9102, -13623, -16069, -16069, -13623, -9102, -3196, 3196, 9102, 13623, 16069),
    Array(15893, 12140, 5520, -2404, -9760, -14811, -16364, -14053, -8423, -804, 7005, 13160, 16207, 15426, 11003, 3981, -3981, -11003, -15426, -16207, -13160, -7005, 804, 8423, 14053, 16364, 14811, 9760, 2404, -5520, -12140, -15893),
    Array(15679, 10394, 1606, -7723, -14449, -16305, -12665, -4756, 4756, 12665, 16305, 14449, 7723, -1606, -10394, -15679, -15679, -10394, -1606, 7723, 14449, 16305, 12665, 4756, -4756, -12665, -16305, -14449, -7723, 1606, 10394, 15679),
    Array(15426, 8423, -2404, -12140, -16364, -13160, -3981, 7005, 14811, 15893, 9760, -804, -11003, -16207, -14053, -5520, 5520, 14053, 16207, 11003, 804, -9760, -15893, -14811, -7005, 3981, 13160, 16364, 12140, 2404, -8423, -15426))

  /** The same table as a DuckDB list-of-lists literal, for embedding
    * in oracle SQL (`CosTabSql[i+1][j+1]` indexes it 1-based).
    */
  val CosTabSql: String =
    CosQ14.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  val Side = 32

  /** Synthesis-rule pixel value BEFORE perturbation, for image-group
    * `gid` at (x, y): the low byte of the CUBE of
    * `m = (gid·1000003 + idx + 1) mod 1e9+7` — i.e.
    * `(m³ mod p) mod 256`. NONLINEAR in the pixel index on purpose:
    * any affine-in-idx rule followed by a multiply (the first
    * attempt's "multiplicative hash") produces an ARITHMETIC
    * PROGRESSION across pixels, making every image a phase-shift of
    * one sawtooth — 200k images collapsed to 3,291 distinct pHashes
    * and the band join went quadratic (measured). The cubic residue
    * field is noise-like per image AND independent across groups:
    * 200k ids → 108k distinct hashes where the only duplicates are
    * the planted pairs themselves, and 16-bit band buckets max out
    * at ~26. Broadband noise also spreads the 64 DCT coefficients
    * well clear of their median, so a small pixel edit flips at most
    * a few hash bits. m < 1e9+7, so m² and m²·m stay under ~1e18 —
    * exact in both long and DuckDB BIGINT.
    */
  def basePixel(gid: Long, x: Int, y: Int): Int = {
    val m = (gid * 1000003L + (y * Side + x) + 1L) % 1000000007L
    ((m * m % 1000000007L) * m % 1000000007L % 256L).toInt
  }

  /** Documents pair up as (2k, 2k+1): the odd id is the even id's
    * planted near-duplicate — same base image with
    * [[PerturbedPixels]] pixels bumped by +8 (clamped at 255), the
    * small-edit profile pHash exists to catch. The bump budget (4
    * pixels · 8 units · max |C·C| = 8.6e9) sits well under the
    * typical inter-coefficient gap of the pseudo-random base
    * (~2e10), which is what keeps planted pairs within the radius.
    */
  val PerturbedPixels = 4

  private def perturbPos(gid: Long, j: Int): (Int, Int) =
    (((gid * 31L + j * 17L) % 32L).toInt, ((gid * 57L + j * 23L) % 32L).toInt)

  /** Final pixel value for document `id` at (x, y): base for even
    * ids; base + 8·(planted hits at this pixel), clamped to 255, for
    * odd ids. Exposed for spec/oracle symmetry.
    */
  def synthPixel(id: Long, x: Int, y: Int): Int = {
    val gid = id / 2L
    val g0 = basePixel(gid, x, y)
    if (id % 2L == 0L) g0
    else {
      var k = 0
      var j = 0
      while (j < PerturbedPixels) {
        if (perturbPos(gid, j) == ((x, y))) k += 1
        j += 1
      }
      math.min(255, g0 + 8 * k)
    }
  }

  /** Write one REAL 8-bit grayscale PNG per document id (lossless, so
    * the decoded raster is exactly the synthesis lattice).
    * Partition-parallel 1→1, no shuffle.
    */
  def synthGrayPngAssets(spark: SparkSession, docs: DataFrame): Dataset[Asset] = {
    import spark.implicits._
    // id-keyed spread before the per-image encode/decode loop
    // (Multimodal.spreadIds — single-split fixture serializes the
    // modality pipeline otherwise)
    Multimodal.spreadIds(docs).as[Long].mapPartitions { it =>
      Multimodal.imageIoMemCache()
      // ONE PNG writer per partition (the Video.synthAviAssets
      // discipline): ImageIO.write re-runs the writer-registry lookup
      // per call, which at one call per thumbnail costs more than the
      // encode itself
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      it.map { id =>
        val img = new java.awt.image.BufferedImage(
          Side, Side, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < Side) {
          var x = 0
          while (x < Side) {
            raster.setSample(x, y, 0, synthPixel(id, x, y))
            x += 1
          }
          y += 1
        }
        val bos = new ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(img)
        ios.flush()
        Asset(id, "image/png", bos.toByteArray)
      }
    }
  }

  /** The 64-bit perceptual hash of a decoded 32×32 grayscale raster,
    * split into two 32-bit halves (`hi` = bits 32–63, `lo` = 0–31 —
    * two non-negative longs hash-replay cleanly where one signed
    * 64-bit value would overflow the oracle's arithmetic). Bit
    * u·8+v is set iff DCT coefficient F[u][v] exceeds the block
    * median (the 32nd-smallest of the 64 — an order statistic, so tie
    * order never matters).
    */
  def hashPixels(px: Array[Int]): (Long, Long) = {
    require(px.length == Side * Side, s"expected ${Side * Side} pixels")
    // separable integer DCT: stage1[u][x] = Σ_y C[u][y]·P[y][x]
    val s1 = Array.ofDim[Long](8, Side)
    var u = 0
    while (u < 8) {
      val cu = CosQ14(u)
      var x = 0
      while (x < Side) {
        var acc = 0L
        var y = 0
        while (y < Side) { acc += cu(y) * px(y * Side + x); y += 1 }
        s1(u)(x) = acc
        x += 1
      }
      u += 1
    }
    // stage2[u][v] = Σ_x C[v][x]·stage1[u][x]
    val f = new Array[Long](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        val cv = CosQ14(v)
        var acc = 0L
        var x = 0
        while (x < Side) { acc += cv(x) * s1(u)(x); x += 1 }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val med = f.sorted.apply(31)
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 64) {
      if (f(i) > med) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  /** Per-image pHash row. */
  final case class ImageHash(asset_id: Long, ph_hi: Long, ph_lo: Long)

  /** REAL decode → integer DCT → 64-bit hash, per partition, no
    * shuffle. Fails loudly on undecodable or wrong-sized payloads
    * (the ImageIoCodec quarantine discipline).
    */
  def phash64(spark: SparkSession, assets: Dataset[Asset]): Dataset[ImageHash] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      Multimodal.imageIoMemCache()
      // ONE PNG reader per partition (the Video.jpegDims discipline):
      // ImageIO.read re-runs stream-spi + reader-registry lookups per
      // call, which at one call per 32×32 thumbnail dominates decode
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("png").next()
      it.map { a =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(a.payload))
        val img =
          try { reader.setInput(iis); reader.read(0) }
          finally iis.close()
        require(img != null, s"phash64: undecodable payload ${a.asset_id}")
        require(img.getWidth == Side && img.getHeight == Side,
          s"phash64: expected ${Side}x$Side, got " +
            s"${img.getWidth}x${img.getHeight} (resize first)")
        val raster = img.getRaster
        val px = new Array[Int](Side * Side)
        var y = 0
        while (y < Side) {
          var x = 0
          while (x < Side) {
            px(y * Side + x) = raster.getSample(x, y, 0)
            x += 1
          }
          y += 1
        }
        val (hi, lo) = hashPixels(px)
        ImageHash(a.asset_id, hi, lo)
      }
    }
  }

  /** Near-duplicate image pairs by banded pHash join: each hash
    * splits into 4 disjoint 16-bit bands; a pair within Hamming ≤ 3
    * differs in at most 3 bands (pigeonhole), so candidates form ONLY
    * where some band matches exactly — an equality join on
    * (band, value), never an all-pairs compare — and the Hamming
    * verification filter makes the result EXACT. The image-modality
    * twin of [[graft.dedup.Dedup.minhashLsh]]'s band-bucket shape;
    * hot bands (many images sharing a 16-bit band value) are the
    * skew shape AQE's skew-join handles, and the verification filter
    * keeps them correct regardless. Emits (id_1, id_2, hamming) with
    * id_1 < id_2, each pair once.
    */
  /** Explode a hash frame into its 4 disjoint 16-bit pigeonhole band
    * rows `(<idCol>, ph_hi, ph_lo, b, v)` — the candidate key of
    * [[neardupPairs]]'s banded join, factored out so the streaming
    * ingest gate ([[graft.streaming.ImageIngest]]) can persist and
    * probe the same band space.
    */
  def bandRows(hashes: DataFrame, idCol: String = "asset_id"): DataFrame = {
    val mask = lit(0xFFFFL)
    hashes.select(col(idCol), col("ph_hi"), col("ph_lo"))
      .select(col(idCol), col("ph_hi"), col("ph_lo"), explode(array(
        struct(lit(0).as("b"), col("ph_lo").bitwiseAND(mask).as("v")),
        struct(lit(1).as("b"),
          shiftright(col("ph_lo"), 16).bitwiseAND(mask).as("v")),
        struct(lit(2).as("b"), col("ph_hi").bitwiseAND(mask).as("v")),
        struct(lit(3).as("b"),
          shiftright(col("ph_hi"), 16).bitwiseAND(mask).as("v"))))
        .as("band"))
      .select(col(idCol), col("ph_hi"), col("ph_lo"),
        col("band.b").as("b"), col("band.v").as("v"))
  }

  /** Banded Hamming top-k retrieval — similarity SEARCH over the
    * same 4×16-bit band space [[neardupPairs]] dedups with: for each
    * probe hash, candidates are every OTHER hash agreeing on at
    * least one 16-bit band (multi-probe LSH candidacy — by
    * pigeonhole this includes EVERY hash within Hamming 3, plus any
    * farther hash that happens to agree on a band), ranked by
    * (hamming, id) and cut to k with the bounded-heap top-k
    * aggregate ([[graft.ops.TopK.topKPerGroup]] — map-side k-heaps,
    * ≤ k-element exchange states, never a window sort over a hot
    * probe's full candidate set). Deterministic: ties break on id.
    * Emits (probe_id, rank 1..k, hamming, cand_id).
    */
  def bandedSearch(
      hashes: DataFrame,
      probePred: org.apache.spark.sql.Column,
      k: Int,
      idCol: String = "asset_id"): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    // probe and candidate sides both read the hash frame —
    // materialize once (the neardupPairs double-decode lesson),
    // unless the caller already did ([[graft.ops.Pins.materializeOnce]])
    val banded = bandRows(Pins.materializeOnce(hashes), idCol)
    val probe = banded.filter(probePred)
      .select(col(idCol).as("probe_id"),
        col("ph_hi").as("p_hi"), col("ph_lo").as("p_lo"),
        col("b"), col("v"))
    val cand = banded.select(col(idCol).as("cand_id"),
      col("ph_hi").as("c_hi"), col("ph_lo").as("c_lo"),
      col("b"), col("v"))
    val pairs = probe.join(cand, Seq("b", "v"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        (bit_count(col("p_hi").bitwiseXOR(col("c_hi"))) +
          bit_count(col("p_lo").bitwiseXOR(col("c_lo"))))
          .as("hamming"))
      .distinct() // a pair sharing j bands appears j times pre-distinct
    graft.ops.TopK.topKPerGroup(pairs, Seq("probe_id"),
      struct(col("hamming"), col("cand_id")), k)
  }

  def neardupPairs(
      hashes: DataFrame,
      idCol: String = "asset_id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band pigeonhole guarantees exactness only to Hamming 3, " +
        s"got $maxHamming")
    // the hash frame feeds BOTH sides of the self-join — materialize
    // it once (3 longs per asset) or each side re-derives the whole
    // upstream pipeline, which for the media families means decoding
    // the corpus twice (measured: q_audio_neardup 6.2 s → the
    // fingerprint pass is 2.8 s — both sides re-ran synth+decode);
    // skipped when the caller already materialized
    // ([[graft.ops.Pins.materializeOnce]])
    val banded = bandRows(Pins.materializeOnce(hashes), idCol)
      .withColumnRenamed(idCol, "id")
    val left = banded.select(col("id").as("id_1"),
      col("ph_hi").as("hi_1"), col("ph_lo").as("lo_1"),
      col("b"), col("v"))
    val right = banded.select(col("id").as("id_2"),
      col("ph_hi").as("hi_2"), col("ph_lo").as("lo_2"),
      col("b"), col("v"))
    left.join(right, Seq("b", "v"))
      .filter(col("id_1") < col("id_2"))
      .select(col("id_1"), col("id_2"),
        (bit_count(col("hi_1").bitwiseXOR(col("hi_2"))) +
          bit_count(col("lo_1").bitwiseXOR(col("lo_2"))))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair sharing k bands appears k times pre-distinct
  }
}
