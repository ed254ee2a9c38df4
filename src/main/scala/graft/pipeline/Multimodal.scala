package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media ride along as opaque `binary`
  * payloads with typed metadata; decode / feature-extraction runs as a
  * partition-local batch transform.
  *
  * The decode step itself is STUBBED (this environment has no image /
  * audio codecs): `decodeStub` derives deterministic fake media
  * properties from the payload bytes. Everything around it — the
  * schema contract, the binary column, partition-parallel batch
  * execution via `mapPartitions`, and the metadata struct — is the
  * real production shape; swapping the stub for a JNI/codec call
  * changes no plumbing.
  *
  * Scale notes: payloads never pass through a shuffle here — decode is
  * map-side only; `spark.sql.files.maxPartitionBytes` bounds per-task
  * memory for large media files, and binary columns use parquet's
  * incremental page reads.
  */
object Multimodal {

  /** Sentinel "pick the band width by corpus size" (the default for
    * [[phashDupPairs]] / the `corpus_dedup(mode=>'media')` TVF). */
  val BandBitsAuto: Int = 0

  /** Auto-selection switchover: at or above this many items auto picks
    * 16-bit bands (whose pigeonhole recall contract holds only to
    * hamming 3). Derived from FUZZY_SCALE.md's hamming table: 8-bit
    * stray candidates grow ~8·N²/256 = N²/32 — measured FEASIBLE at
    * 50 k items (66.8 M pairs, 25 s) and measured INFEASIBLE at 500 k
    * (6.6 B pairs, unrunnable; the probe's own 3·10⁸-candidate
    * feasibility line). N²/32 crosses 3·10⁸ at N ≈ 98 k, so 100 k is
    * the last corpus size where the 8-bit default stays inside the
    * measured-feasible regime — switching at 1 M would ride the
    * quadratic ~10× past the line before the knob kicked in. */
  val AutoBandBits16Threshold: Long = 100000L

  /** One banding-contract truth for auto and explicit band widths:
    * resolve the width (auto counts the corpus — one footer-count
    * job — and switches at [[AutoBandBits16Threshold]]), then enforce
    * the pigeonhole recall contract maxHamming ≤ 64/bits − 1 LOUD.
    * Auto-16 with a radius over 3 names both ways out instead of
    * silently narrowing recall. */
  private[graft] def resolveBandBits(bandBits: Int, maxHamming: Int,
                                     countItems: () => Long,
                                     op: String): Int = {
    require(bandBits == BandBitsAuto || bandBits == 8 || bandBits == 16,
      s"$op: bandBits must be 8, 16, or BandBitsAuto (got $bandBits)")
    require(maxHamming >= 0, s"$op: maxHamming $maxHamming must be >= 0")
    val bits =
      if (bandBits != BandBitsAuto) bandBits
      else if (countItems() >= AutoBandBits16Threshold) 16
      else 8
    if (bandBits == BandBitsAuto && bits == 16)
      require(maxHamming <= 3,
        s"$op: corpus has >= $AutoBandBits16Threshold items, past which " +
          "8-bit banding's stray candidates (~N^2/32) leave the " +
          "measured-feasible regime (3*10^8 pairs; 6.6B by 500k items, " +
          "unrunnable — FUZZY_SCALE.md) and auto-selected " +
          s"16-bit bands guarantee recall only to hamming 3 (got " +
          s"maxHamming $maxHamming). Lower maxHamming to <= 3, or pass " +
          "bandBits=8 explicitly to keep the radius and pay the candidates")
    require(maxHamming <= 64 / bits - 1,
      s"$op: $bits-bit chunk banding guarantees recall only to hamming " +
        s"${64 / bits - 1} (got $maxHamming)")
    bits
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("declared_bytes", LongType))))))

  /** Wrap a documents table as a multimodal table: the UTF-8 text
    * bytes stand in for a media payload. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("text/plain").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(col("source").as("source"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("declared_bytes")).as("meta"))

  /** Decoded media properties — the typed output contract of the
    * decode stage. */
  final case class Decoded(doc_id: Long, width: Int, height: Int,
                           channels: Int, mean_byte: Double)

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false)))

  /** Partition-local "decode": batches of payloads → fake media
    * properties (dimensions from byte length, mean byte value as the
    * stand-in extracted feature). Encoder-based Dataset.mapPartitions,
    * so input stays Tungsten-backed and the output re-enters
    * whole-stage codegen — no RDD[Row] round-trip. Replace the loop
    * body with a real codec call to productionize; the signature and
    * physical plan stay. */
  def decodeStub(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          var sum = 0L
          var i = 0
          while (i < n) { sum += bytes(i) & 0xff; i += 1 }
          Decoded(id, 64 + (n % 192), 64 + ((n / 7) % 192), 3,
            if (n == 0) 0.0 else sum.toDouble / n)
        }
      }
      .toDF()
  }

  /** Frame sampling plan: one row per (doc, frame) with the byte
    * offset/length a decoder would seek to — evenly-spaced sampling
    * over the payload, driven entirely by metadata (frames geometry
    * from mediaMeta), so the payload column itself is never read until
    * a downstream decode projects it. The generator runs map-side;
    * at 100 TB the plan is scan → generate, no shuffle. */
  def frameSamples(docs: DataFrame): DataFrame = {
    val m = asMediaTable(docs).select(
      col("doc_id"),
      col("meta.declared_bytes").as("n_bytes"),
      (lit(1) + col("meta.declared_bytes") % 16).cast("long").as("frames"))
    m.select(col("doc_id"), col("n_bytes"), col("frames"),
        explode(sequence(lit(0L), col("frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        ((col("frame_idx") * col("n_bytes")) / col("frames")).cast("long").as("byte_offset"),
        (col("n_bytes") / col("frames")).cast("long").as("frame_bytes"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize plan: aspect-preserving fit of each medium into a
    * `box`×`box` target, computed entirely from metadata in exact
    * integer arithmetic (out = dim·box / max(w,h); products stay far
    * below 2^53, so the floor-of-double is exact) — the planner half
    * of a resize stage. The pixel half swaps into [[decodeStub]]'s
    * partition-local loop exactly like the codec call; nothing
    * downstream of this plan changes. Map-side only, no shuffle. */
  def resizePlan(docs: DataFrame, box: Int = 224): DataFrame = {
    val longest = greatest(col("width"), col("height"))
    mediaMeta(docs).select(
      col("doc_id"),
      col("width").as("in_w"),
      col("height").as("in_h"),
      floor(col("width") * box / longest).cast("long").as("out_w"),
      floor(col("height") * box / longest).cast("long").as("out_h"))
      .orderBy("doc_id")
  }

  /** Audio windowing plan — the STFT/feature-frame geometry an audio
    * pipeline computes before any DSP: one row per (doc, window) with
    * the sample offset a decoder would seek to, at `win` samples per
    * window hopping by `hop` (the 25ms/10ms shape at whatever sample
    * rate the payload implies; 1 byte = 1 PCM sample stands in for the
    * stubbed codec, as in [[decodeStub]]). Metadata-driven and
    * map-side only: the payload is untouched until [[windowEnergy]]
    * projects it, so at scale the plan is scan → generate with no
    * shuffle and no payload IO. */
  def audioWindows(docs: DataFrame, win: Int = 64, hop: Int = 32): DataFrame = {
    require(win > 0 && hop > 0)
    asMediaTable(docs)
      .select(col("doc_id"), col("meta.declared_bytes").as("n_samples"))
      .filter(col("n_samples") >= win)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          ((col("n_samples") - win) / hop).cast("long"))).as("window_idx"))
      .select(col("doc_id"), col("window_idx"),
        (col("window_idx") * hop).as("sample_offset"),
        lit(win.toLong).as("window_samples"))
      .orderBy("doc_id", "window_idx")
  }

  /** Per-window RMS energy over the REAL payload bytes — the
    * feature-extract stage ([[decodeStub]]'s loop, per window): swap
    * the byte read for a PCM decode and this is frame energy / a VAD
    * front end. Partition-local Dataset.mapPartitions; payloads never
    * shuffle. */
  final case class WindowEnergy(doc_id: Long, window_idx: Long, rms: Double)

  def windowEnergy(media: DataFrame, win: Int = 64, hop: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          if (n < win) Iterator.empty
          else (0 to (n - win) / hop).iterator.map { w =>
            val off = w * hop
            var ss = 0.0
            var i = 0
            while (i < win) {
              val b = (bytes(off + i) & 0xff).toDouble
              ss += b * b; i += 1
            }
            WindowEnergy(id, w.toLong, math.sqrt(ss / win))
          }
        }
      }
      .toDF()
  }

  /** 64-bit average hash (aHash — the canonical perceptual-hash
    * family's simplest member) over the payload bytes: the payload
    * splits into 64 equal byte blocks, bit b is set iff block b's mean
    * exceeds the whole payload's mean. With a real image decoder the
    * byte stream becomes the 8×8 grayscale downsample and this IS
    * image aHash; the hash structure, the integer-exact bit decision,
    * and everything downstream (banding, dup pairs) are unchanged —
    * the same stub-the-codec/keep-the-plumbing contract as
    * [[decodeStub]].
    *
    * Bit decisions are INTEGER cross-multiplication
    * (blockSum·n > totalSum·blockLen), so no float ever enters the
    * hash and an oracle restating the same arithmetic agrees
    * bit-for-bit. Emitted as a 64-char '0'/'1' string (portable across
    * engines with no sign/overflow games at bit 63). Payloads shorter
    * than 64 bytes have no 64-block geometry and are skipped.
    * Partition-local; payloads never shuffle. */
  final case class PHash(doc_id: Long, phash: String)

  def perceptualHash(media: DataFrame, blocks: Int = 64): DataFrame = {
    require(blocks >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          if (n < blocks) Iterator.empty
          else {
            var total = 0L
            var i = 0
            while (i < n) { total += bytes(i) & 0xff; i += 1 }
            val sb = new java.lang.StringBuilder(blocks)
            var b = 0
            while (b < blocks) {
              val lo = (b.toLong * n / blocks).toInt
              val hi = ((b + 1).toLong * n / blocks).toInt
              var bs = 0L
              var j = lo
              while (j < hi) { bs += bytes(j) & 0xff; j += 1 }
              // blockMean > totalMean, exactly: bs/len > total/n
              sb.append(if (bs * n > total * (hi - lo)) '1' else '0')
              b += 1
            }
            Iterator.single(PHash(id, sb.toString))
          }
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Aligned band-chunk rows for the hamming candidate join: the
    * 64-bit phash packed into two 32-bit longs (conv of a full 64-char
    * string can exceed signed int64 — hamming then runs as two
    * codegen'd bit_count(xor) terms and candidate rows carry 16 bytes,
    * never strings) exploded into `64/bandBits` chunk values, chunk c
    * = bits [c·bandBits, (c+1)·bandBits) MSB-first. Exposed to
    * `ScaleProbe fuzzy` so the candidate-volume measurement shares this
    * exact derivation with the production join. */
  private[graft] def phashChunks(media: DataFrame, bandBits: Int): DataFrame = {
    require(bandBits == 8 || bandBits == 16,
      s"bandBits must be 8 or 16 (got $bandBits)")
    val h = perceptualHash(media).select(col("doc_id"),
      expr("cast(conv(substring(phash, 1, 32), 2, 10) as bigint)").as("h1"),
      expr("cast(conv(substring(phash, 33, 32), 2, 10) as bigint)").as("h2"))
    val perHalf = 32 / bandBits
    val mask = (1L << bandBits) - 1
    h.select(col("doc_id"), col("h1"), col("h2"),
      explode(sequence(lit(0), lit(64 / bandBits - 1))).as("c"))
      .select(col("doc_id"), col("h1"), col("h2"), col("c"),
        expr(s"CASE WHEN c < $perHalf THEN " +
          s"shiftrightunsigned(h1, ($perHalf - 1 - c) * $bandBits) " +
          s"ELSE shiftrightunsigned(h2, (${2 * perHalf} - 1 - c) * $bandBits) " +
          s"END & ${mask}L").as("v"))
  }

  /** Near-duplicate media pairs by perceptual-hash hamming distance —
    * the media-side sibling of [[graft.pipeline.TextDedup.simhashPairs]]
    * and the standard image-dedup primitive. Candidates come from
    * aligned `bandBits`-bit chunk banding (two hashes within hamming
    * 64/bandBits − 1 MUST share one aligned chunk, by pigeonhole — so
    * recall is EXACTLY 1.0 inside that radius); the exact hamming
    * filter runs on candidates only. Join rows carry (doc_id, chunk
    * value), never payloads.
    *
    * `bandBits` is the 100-TB knob: an aligned band COLLIDES for
    * unrelated items with probability ≥ 2^-bandBits per band (worse on
    * real aHash bits, which correlate on smooth images), so expected
    * stray candidates grow ~(64/bandBits)·N²/2^bandBits — quadratic in
    * N with a constant the band width controls. 8-bit chunks
    * (recall 1.0 to hamming 7) are the small-corpus setting;
    * 16-bit chunks divide stray candidates by ~512 (4 bands × 256)
    * at the cost of the guaranteed radius dropping to hamming 3 —
    * measured in FUZZY_SCALE.md's hamming section.
    *
    * The default ([[BandBitsAuto]]) picks by corpus size: 8-bit below
    * [[AutoBandBits16Threshold]] items, 16-bit at or above it — at
    * 500 k items 8-bit banding already generates 6.6 B candidate pairs
    * (the measured cliff, FUZZY_SCALE.md's hamming table), so the
    * small-corpus setting must not ride silently into a big corpus.
    * Because 16-bit bands guarantee recall only to hamming 3, an
    * auto-selected 16 with `maxHamming` > 3 FAILS LOUD (choose: lower
    * the radius, or pass bandBits=8 explicitly and pay the candidate
    * volume) rather than silently narrowing the recall contract. An
    * explicit 8 or 16 is honored as given, same contract checks. */
  def phashDupPairs(media: DataFrame, maxHamming: Int = 6,
                    bandBits: Int = BandBitsAuto): DataFrame = {
    val bits = resolveBandBits(bandBits, maxHamming,
      () => media.count(), "phashDupPairs")
    val chunked = phashChunks(media, bits)
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming",
        (bit_count(col("x.h1").bitwiseXOR(col("y.h1"))) +
          bit_count(col("x.h2").bitwiseXOR(col("y.h2")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Metadata-only projection (no decode): deterministic fake frame
    * geometry derived from payload size — the oracle-checkable slice
    * of the multimodal path. */
  def mediaMeta(docs: DataFrame): DataFrame =
    asMediaTable(docs).select(
      col("doc_id"),
      col("meta.declared_bytes").as("n_bytes"),
      (lit(64) + col("meta.declared_bytes") % 192).cast("long").as("width"),
      (lit(64) + (col("meta.declared_bytes") / lit(7)).cast("long") % 192).cast("long").as("height"),
      (lit(1) + col("meta.declared_bytes") % 16).cast("long").as("frames"))
      .orderBy("doc_id")
}
