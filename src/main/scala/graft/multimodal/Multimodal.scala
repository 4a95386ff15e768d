package graft.multimodal

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline for training data: media payloads as opaque
  * `binary` columns with typed metadata, decoded and feature-extracted per
  * partition (the batch shape a real codec wants: initialize the decoder
  * once per partition, stream records through it — the Scala analog of a
  * Pandas-UDF `mapInPandas` stage).
  *
  * The decode is REAL JDK codec work (no external dependency):
  *   - image  → PNG, decoded through `javax.imageio.ImageIO`
  *   - audio  → WAV PCM 8-bit mono, parsed through `javax.sound.sampled`
  *   - video  → GFV1 (length-prefixed PNG frames + duration header),
  *              each frame decoded through ImageIO
  *
  * Fixtures are synthesized from `documents.text` with analytically-known
  * pixels/samples (see [[MediaCodec]]), so the DuckDB oracle verifies the
  * actual decoded values by recomputing the analytic function — the gate
  * checks real codec round-trips without DuckDB owning a codec.
  */
object Multimodal {

  final case class MediaRecord(id: Long, kind: String, bytes: Array[Byte])

  final case class MediaMeta(
      byte_len: Int, width: Int, height: Int, duration_ms: Int, n_frames: Int)

  final case class MediaFeatures(
      id: Long, kind: String, meta: MediaMeta, histogram: Array[Long])

  final case class FrameSample(
      id: Long, kind: String, frame_idx: Long, ts_ms: Long, frame_sig: Long)

  final case class ResizePlan(
      id: Long, kind: String, width: Long, height: Long,
      out_width: Long, out_height: Long, est_pixels: Long)

  // ── Fixture synthesis parameters (mirrored in the oracle SQL) ──────
  // Modality is assigned from a CONTENT hash — the byte sum of the first
  // [[KindPrefixK]] chars, mod 3 — not from doc_id. The corpus' planted
  // near-duplicates are tail edits sharing long prefixes, so a dup pair
  // always lands in ONE modality together; with doc_id % 3 the pair was
  // split across kinds and the phash-pair gate certified an empty
  // relation at every SF (round-6 verdict #1).
  val KindPrefixK = 48
  // Image render crops to the first min(n, ImgCropK) bytes — geometry
  // and tiling derive from the CROPPED length, so tail-edited dup texts
  // render pixel-identical thumbnails (the aHash gate's hamming-0 mass),
  // except the last 4 pixels which stamp the FULL text's last 4 bytes:
  // tail edits then perturb one corner block, producing the small-but-
  // nonzero hamming pairs that exercise the cross-hash band join.
  val ImgCropK = 192
  // Image w×h stays ≤ 39×31 so the oracle's tiled-pixel recomputation is
  // a ≤1.2k-element list per row; pixel i = text byte (i mod m).
  val ImgWBase = 8; val ImgWMod = 32   // w = 8 + m % 32
  val ImgHBase = 8; val ImgHMod = 24   // h = 8 + (m*7) % 24
  val VideoFrameEdge = 8               // 8×8 frames
  val VideoFramesMax = 12              // f = 1 + n % 12
  val VideoDurBase = 1000; val VideoDurMod = 60000
  val FrameStride = 3                  // sample every 3rd frame
  /** Production default long-edge cap; the gate binds [[GateResizeMaxEdge]]
    * so both resize branches are exercised at fixture image sizes. */
  val ResizeMaxEdge = 224L
  val GateResizeMaxEdge = 24L

  // Not `private`: Catalyst's generated deserializer needs access.
  final case class DocRow(id: Long, text: String)

  /** The encoded media table, cached once per corpus: seven gate queries
    * consume it, and the PNG/WAV/GFV1 fixture encode is the dominant
    * shared cost. */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    mediaMemo(spark, dir)

  private[graft] val mediaMemo =
    Memo("documents")((spark, dir) => encodeMedia(spark, dir).cache())

  /** Synthesize the media table from `documents`: kind derives from the
    * prefix-byte-sum content hash (see [[KindPrefixK]]), payload is a
    * REAL encoded PNG / WAV / GFV1 container whose pixel/sample values
    * derive from the text. Encoding happens inside `mapPartitions` —
    * same once-per-partition lifecycle as the decode stage. */
  private def encodeMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.parallel(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text"))
      .as[DocRow]
      .mapPartitions { it =>
        it.map { d =>
          val t = d.text.getBytes("UTF-8")
          val n = t.length
          val kindSum = {
            var s = 0; var i = 0; val k = math.min(n, KindPrefixK)
            while (i < k) { s += t(i) & 0xff; i += 1 }
            s
          }
          (kindSum % 3) match {
            case 0 =>
              val m = math.min(n, ImgCropK)
              val w = ImgWBase + m % ImgWMod
              val h = ImgHBase + (m * 7) % ImgHMod
              val wh = w * h
              MediaRecord(d.id, "image",
                MediaCodec.encodeImage(w, h, i =>
                  if (n >= 4 && i >= wh - 4) t(n - (wh - i)) else t(i % m)))
            case 1 =>
              MediaRecord(d.id, "audio", MediaCodec.encodeWav(t))
            case _ =>
              val f = 1 + n % VideoFramesMax
              // quadratic per-frame shift (k²): consecutive frames differ
              // by a 2k+1 offset, so transition SADs VARY across the clip
              // — a linear shift would make every transition identical and
              // the scene-change gate degenerate
              val frames = (0 until f).map { k =>
                MediaCodec.encodeImage(VideoFrameEdge, VideoFrameEdge,
                  i => t((i + k * k) % n))
              }
              MediaRecord(d.id, "video",
                MediaCodec.encodeVideo(VideoDurBase + n % VideoDurMod, frames))
          }
        }
      }
  }

  /** Per-partition decoder: dispatches a payload to the right JDK codec
    * and produces typed metadata + a 16-bin value histogram from the
    * ACTUAL decoded pixels/samples. */
  final class MediaDecoder {
    def features(r: MediaRecord): MediaFeatures = r.kind match {
      case "image" =>
        val d = MediaCodec.decodeImage(r.bytes)
        MediaFeatures(r.id, r.kind,
          MediaMeta(r.bytes.length, d.width, d.height, 0, 1), d.histogram16)
      case "audio" =>
        val a = MediaCodec.decodeWav(r.bytes)
        MediaFeatures(r.id, r.kind,
          MediaMeta(r.bytes.length, 0, 0, a.durationMs.toInt, 0), a.histogram16)
      case _ =>
        val v = MediaCodec.decodeVideo(r.bytes)
        val hist = new Array[Long](16)
        v.frames.foreach { f =>
          val fh = f.histogram16
          var i = 0
          while (i < 16) { hist(i) += fh(i); i += 1 }
        }
        val (w, h) = v.frames.headOption
          .map(f => (f.width, f.height)).getOrElse((0, 0))
        MediaFeatures(r.id, r.kind,
          MediaMeta(r.bytes.length, w, h, v.durationMs, v.frames.length), hist)
    }
  }

  /** The partition-batched decode/feature-extract stage. */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val decoder = new MediaDecoder // once per partition
      it.map(decoder.features)
    }
  }

  /** Frame sampling — the one-to-many decode stage: video → every
    * `stride`-th REAL decoded frame with its timestamp and the frame's
    * pixel-sum signature; images emit their single frame; audio (no
    * frames) emits nothing. The fan-out happens inside the partition
    * iterator, so no shuffle is introduced and downstream operators see
    * ordinary rows. */
  def sampleFrames(ds: Dataset[MediaRecord], stride: Int = FrameStride)
      : Dataset[FrameSample] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        r.kind match {
          case "image" =>
            val d = MediaCodec.decodeImage(r.bytes)
            Iterator.single(FrameSample(r.id, r.kind, 0L, 0L, d.pixelSum))
          case "audio" => Iterator.empty
          case _ =>
            val v = MediaCodec.decodeVideo(r.bytes)
            val f = v.frames.length
            Iterator.range(0, f, stride).map { k =>
              FrameSample(r.id, r.kind, k.toLong,
                k.toLong * v.durationMs / f, v.frames(k).pixelSum)
            }
        }
      }
    }
  }

  /** Gate query: sampled frames with timestamps + decoded signatures. */
  def mediaFrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir)).toDF()

  /** Resize planning — bounded-resolution normalization (cap the long
    * edge before feature extraction): aspect-preserving floor division
    * over the REAL decoded geometry (image dims from ImageIO, video dims
    * from the first decoded frame; audio has no geometry and passes
    * through). A production run binds `maxEdge = ResizeMaxEdge` (224);
    * the gate binds 24 so both branches fire at fixture sizes. */
  def planResize(ds: Dataset[MediaRecord], maxEdge: Long = ResizeMaxEdge)
      : Dataset[ResizePlan] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val decoder = new MediaDecoder // once per partition
      it.map { r =>
        val m = decoder.features(r).meta
        val (w, h) = (m.width.toLong, m.height.toLong)
        if (w <= 0 || h <= 0) ResizePlan(r.id, r.kind, w, h, w, h, w * h)
        else {
          val edge = math.max(w, h)
          val (ow, oh) =
            if (edge <= maxEdge) (w, h)
            else (w * maxEdge / edge, h * maxEdge / edge)
          ResizePlan(r.id, r.kind, w, h, ow, oh, ow * oh)
        }
      }
    }
  }

  /** Gate query: aspect-preserving resize plan per media record. */
  def mediaResize(s: SparkSession, dir: String): DataFrame =
    planResize(mediaFromDocuments(s, dir), GateResizeMaxEdge).toDF()

  /** Gate query: typed metadata per media record (decoded through the
    * real codecs: ImageIO dims, WAV header duration, GFV1 frame count). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(s, dir))
      .select(col("id"), col("kind"), col("meta.width"), col("meta.height"),
        col("meta.duration_ms"), col("meta.n_frames"))

  /** Gate query: per-kind 16-bin decoded-value histogram (bin, count);
    * zero bins dropped (the oracle's group-by never materializes them). */
  def mediaHistogram(s: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaFromDocuments(s, dir))
    feats
      .select(col("kind"), posexplode(col("histogram")).as(Seq("bin", "cnt")))
      .groupBy("kind", "bin")
      .agg(sum("cnt").as("total"))
      .filter(col("total") > 0)
  }

  /** Hamming budget for a near-duplicate image pair. Candidates come
    * from a 4×16-bit band join, so recall is pigeonhole-COMPLETE for
    * hamming ≤ 3 (4 bands, ≤3 flipped bits → some band untouched) and
    * LSH-probabilistic above — the same banding recall contract as
    * MinHash LSH, here over Hamming space. */
  val MaxPhashHamming = 6

  /** Per-image 64-bit perceptual hash (aHash) from REAL decoded pixels,
    * as two 32-bit halves (sign-safe for XOR/popcount in both engines).
    * The near-dup fingerprint an image-dedup pipeline keys on: one
    * decode + O(pixels) per image, no shuffle. */
  def mediaPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaFromDocuments(s, dir)
      .filter(col("kind") === "image")
      .mapPartitions { it =>
        it.map { r =>
          val (hi, lo) = MediaCodec.aHash(MediaCodec.decodeImage(r.bytes))
          (r.id, hi, lo)
        }
      }
      .toDF("id", "hash_hi", "hash_lo")
  }

  /** Gate query: near-duplicate image pairs by banded perceptual hash —
    * the image-space analog of MinHash+verify text dedup, and exactly
    * the multi-index-hashing decomposition (Norouzi et al. 2012) of
    * Hamming search: candidates = pairs sharing ANY of the 4 16-bit
    * hash bands (equi-join), verify = exact Hamming ≤
    * [[MaxPhashHamming]] via XOR + popcount; 4 bands × ≤3 flipped bits
    * → pigeonhole-complete recall at radius 3.
    *
    * Scale anatomy (measured in SCALE_VALIDATION.md): the join INPUT is
    * linear (images × 4 bands per side), but the candidate-pair
    * `distinct` moves Σn_b² over band buckets — at fixed 64-bit/4-band
    * geometry, occupancy grows ∝ N/2¹⁶, so that half is quadratic. The
    * production dial (aHash has no more bits to band, unlike the kNN
    * plane dial): collapse identical hashes FIRST — group by
    * (hash_hi, hash_lo), band-join the UNIQUE hashes, expand id groups
    * after verify. Exact-duplicate groups, the dominant mass in a
    * dedup corpus, then contribute one row to the join instead of
    * group²; the residual distinct-hash collision term is the
    * irreducible MIH candidate set. The gate binds the direct id-pair
    * join (fixture corpus: ~1 MB shuffle), where the collapse would
    * only add stages. The planted text duplicates render
    * prefix-cropped pixel-identical thumbnails (hamming 0), and the
    * last-4-byte tail stamp turns tail-edited near-dup texts into
    * small-nonzero-hamming pairs — both join paths are exercised at
    * every gate SF (12/7/320 in-budget image pairs at sf0.001/0.01/0.1,
    * measured); near-dup texts land within
    * the budget. */
  def mediaPhashPairs(s: SparkSession, dir: String): DataFrame =
    phashPairs(mediaPhash(s, dir))

  /** Direct pair plan over any `(id, hash_hi, hash_lo)` relation. */
  def phashPairs(ph: DataFrame): DataFrame = {
    def banded(suffix: String) = ph
      .select(col("id").as(s"id$suffix"),
        col("hash_hi").as(s"hi$suffix"), col("hash_lo").as(s"lo$suffix"),
        posexplode(array(
          col("hash_lo").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_lo"), 16).bitwiseAND(lit(0xffffL)),
          col("hash_hi").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_hi"), 16).bitwiseAND(lit(0xffffL))))
          .as(Seq(s"band_j$suffix", s"band_v$suffix")))
    banded("_a").join(banded("_b"),
        col("band_j_a") === col("band_j_b") &&
          col("band_v_a") === col("band_v_b") &&
          col("id_a") < col("id_b"))
      .select(col("id_a").as("a_id"), col("id_b").as("b_id"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxPhashHamming)
  }

  /** The production-scale twin of [[mediaPhashPairs]] — IDENTICAL output,
    * collapse-first plan: group ids by exact hash, band-join only the
    * UNIQUE hashes, verify Hamming on hash pairs, then expand id groups
    * in-row. Exact-duplicate groups (hamming 0 — the dominant mass in a
    * dedup corpus) contribute ONE row per hash to the band join instead
    * of group rows, and their pairs never transit the candidate
    * `distinct`: the quadratic moves from the shuffle into the final
    * in-row expansion, which is the output size itself. The residual
    * shuffled term is the multi-index-hashing candidate set over
    * distinct hashes — the irreducible part at fixed 64-bit geometry.
    * `MediaPhashGroupedSpec` proves pair-for-pair equality with the
    * direct plan; the oracle is literally the same SQL. */
  def mediaPhashPairsGrouped(s: SparkSession, dir: String): DataFrame =
    phashPairsGrouped(mediaPhash(s, dir))

  /** Collapse-first pair plan over any `(id, hash_hi, hash_lo)` relation. */
  def phashPairsGrouped(ph: DataFrame): DataFrame = {
    val groups = ph
      .groupBy("hash_hi", "hash_lo")
      .agg(sort_array(collect_list(col("id"))).as("ids"))

    // hamming-0 pairs: all unordered id pairs within one hash group,
    // expanded in-row (never shuffled — the group row carries its ids)
    val intra = groups
      .select(col("ids"), explode(col("ids")).as("a_id"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        lit(0).as("hamming"))

    // cross-hash candidates: MIH band join over unique hashes only
    def banded(suffix: String) = groups
      .select(col("hash_hi").as(s"hi$suffix"),
        col("hash_lo").as(s"lo$suffix"), col("ids").as(s"ids$suffix"),
        posexplode(array(
          col("hash_lo").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_lo"), 16).bitwiseAND(lit(0xffffL)),
          col("hash_hi").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_hi"), 16).bitwiseAND(lit(0xffffL))))
          .as(Seq(s"band_j$suffix", s"band_v$suffix")))
    val cross = banded("_a").join(banded("_b"),
        col("band_j_a") === col("band_j_b") &&
          col("band_v_a") === col("band_v_b") &&
          (col("hi_a") < col("hi_b") ||
            (col("hi_a") === col("hi_b") && col("lo_a") < col("lo_b"))))
      .select(col("ids_a"), col("ids_b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .as("hamming"))
      .distinct() // hash pairs, not id pairs — each unordered id pair
                  // appears exactly once after the expansion below
      .filter(col("hamming") <= MaxPhashHamming)
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("hamming"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("hamming"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("hamming"))

    intra.unionByName(cross)
  }

  final case class AudioFeatures(
      id: Long, n_samples: Long, energy: Long, zero_crossings: Long,
      peak: Long)

  /** Per-clip audio features from the REAL decoded PCM samples — the
    * signal-level stats an audio-quality filter keys on (silence/clipping
    * screens, speech-band activity proxies). All integer-exact so the
    * oracle reproduces them bit-for-bit from the analytic fixture:
    *   - energy          = Σ (s−128)²   (8-bit unsigned, 128 = midline)
    *   - zero_crossings  = sign flips across the midline (pitch proxy)
    *   - peak            = max |s−128|  (clipping screen)
    * One decode + O(samples) per clip inside the partition iterator; no
    * shuffle. */
  def mediaAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaFromDocuments(s, dir)
      .filter(col("kind") === "audio")
      .mapPartitions { it =>
        it.map { r =>
          val a = MediaCodec.decodeWav(r.bytes)
          var energy = 0L; var zc = 0L; var peak = 0L
          var prev = 0; var i = 0
          while (i < a.samples.length) {
            val c = a.samples(i) - 128
            energy += c.toLong * c
            if (c.abs > peak) peak = c.abs.toLong
            if (i > 0 && prev * c < 0) zc += 1
            prev = c; i += 1
          }
          AudioFeatures(r.id, a.samples.length.toLong, energy, zc, peak)
        }
      }
      .toDF()
  }

  final case class AudioFp(id: Long, n_windows: Long, fp: Long)

  /** Energy-delta window size (samples) and max fingerprint bits for
    * [[mediaAudioFingerprint]]. */
  val AudioFpWin = 8
  val AudioFpMaxBits = 32

  /** Audio fingerprint — the energy-difference bit sequence of Haitsma
    * & Kalker 2002 ("a highly robust audio fingerprint"), over REAL
    * decoded PCM: the clip splits into [[AudioFpWin]]-sample windows
    * (first [[AudioFpMaxBits]]+1 windows, last one possibly partial),
    * bit w−1 = 1 iff window w's energy exceeds window w−1's. The
    * delta-coded bits are level-invariant and survive re-encoding —
    * the audio leg of the near-dup family next to `media_phash`. One
    * decode + O(samples) per clip inside the partition iterator; no
    * shuffle. */
  def mediaAudioFingerprint(s: SparkSession, dir: String): DataFrame =
    audioFingerprints(mediaFromDocuments(s, dir))

  /** Fingerprint core over ANY media relation — shared by the gate
    * query and the spec's hand-built clips. */
  def audioFingerprints(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(col("kind") === "audio")
      .mapPartitions { it =>
        it.map { r =>
          val a = MediaCodec.decodeWav(r.bytes)
          val n = a.samples.length
          val nw =
            math.min((n + AudioFpWin - 1) / AudioFpWin, AudioFpMaxBits + 1)
          val en = new Array[Long](nw)
          var w = 0
          while (w < nw) {
            var i = w * AudioFpWin
            val end = math.min((w + 1) * AudioFpWin, n)
            var e = 0L
            while (i < end) {
              val c = a.samples(i) - 128
              e += c.toLong * c
              i += 1
            }
            en(w) = e
            w += 1
          }
          var fp = 0L
          var k = 1
          while (k < nw) {
            if (en(k) > en(k - 1)) fp |= 1L << (k - 1)
            k += 1
          }
          AudioFp(r.id, nw.toLong, fp)
        }
      }.toDF()
  }

  /** Duplicate-recording groups: fingerprints shared by more than one
    * clip (the `dedup_simhash` group convention). Fingerprint-keyed
    * aggregation — shuffle ∝ clips, groups output-sized. */
  def mediaAudioFpGroups(s: SparkSession, dir: String): DataFrame =
    mediaAudioFingerprint(s, dir)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_clips"), min("id").as("min_id"),
        max("id").as("max_id"))
      .filter(col("n_clips") > 1)

  final case class VideoFp(id: Long, n_frames: Long, fp: String)

  /** Video fingerprint — the 16-hex sha256 prefix of the clip's ordered
    * per-frame pixel-sum sequence, over REAL decoded frames: the video
    * leg of the duplicate-detection family (image `media_phash`, audio
    * [[mediaAudioFingerprint]]). Frame-content-exact by construction —
    * two clips share a fingerprint iff every decoded frame's signature
    * matches in order (near-dup VIDEO matching would compare scene-cut
    * sequences; the exact tier is what a storage dedup binds). Decode +
    * digest in-partition, no shuffle. */
  def videoFingerprints(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.filter(col("kind") === "video")
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { r =>
          val v = MediaCodec.decodeVideo(r.bytes)
          val d = md.digest(
            v.frames.map(_.pixelSum).mkString(",").getBytes("UTF-8"))
          VideoFp(r.id, v.frames.length.toLong,
            d.take(8).map(b => f"$b%02x").mkString)
        }
      }.toDF()
  }

  def mediaVideoFingerprint(s: SparkSession, dir: String): DataFrame =
    videoFingerprints(mediaFromDocuments(s, dir))

  /** Duplicate-clip groups over the frame-sequence fingerprint. */
  def mediaVideoFpGroups(s: SparkSession, dir: String): DataFrame =
    mediaVideoFingerprint(s, dir)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_clips"), min("id").as("min_id"),
        max("id").as("max_id"))
      .filter(col("n_clips") > 1)

  final case class SceneDelta(id: Long, frame_idx: Long, sad: Long)

  /** Per-transition sum of absolute pixel differences between REAL
    * decoded adjacent frames — computed inside the partition iterator
    * (decode fan-out, no shuffle). */
  private[multimodal] def frameSads(frames: Seq[MediaCodec.DecodedImage]): Array[Long] = {
    val out = new Array[Long](math.max(frames.length - 1, 0))
    var k = 0
    while (k < out.length) {
      val a = frames(k).pixels; val b = frames(k + 1).pixels
      var s = 0L; var i = 0
      while (i < a.length) { s += math.abs(b(i) - a(i)); i += 1 }
      out(k) = s; k += 1
    }
    out
  }

  /** Scene-change detection — the shot-boundary pass a video curation
    * pipeline runs before frame sampling (sample WITHIN shots, not across
    * them): per adjacent-frame transition, the SAD (sum of absolute pixel
    * differences) over the real decoded frames; a transition is a CUT
    * when its SAD reaches 1.5× the clip's mean transition SAD, compared
    * integer-exactly as `2·sad·cnt ≥ 3·Σsad` (no division — bit-identical
    * cross-engine, and an all-equal clip makes every transition a "cut"
    * of a uniform signal, which the ≥ makes explicit rather than NaN).
    * Scale shape: decode + SAD fan out inside the partition; the only
    * shuffle is the per-clip window over ≤ (frames−1) rows per id. */
  def mediaSceneChanges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
    mediaFromDocuments(spark, dir)
      .mapPartitions { it =>
        it.flatMap { r =>
          if (r.kind != "video") Iterator.empty
          else {
            val v = MediaCodec.decodeVideo(r.bytes)
            frameSads(v.frames).iterator.zipWithIndex
              .map { case (s, k) => SceneDelta(r.id, k.toLong, s) }
          }
        }
      }
      .toDF()
      .withColumn("total", sum("sad").over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .select(col("id"), col("frame_idx"), col("sad"),
        (col("sad") * col("cnt") * 2 >= col("total") * 3).as("is_cut"))
  }

  /** Gate query: connected components over the near-dup image pairs —
    * the image-space `dedup_clusters`, closing the perceptual-dedup loop
    * (hash → banded pairs → clusters → keep one per cluster): per image
    * its cluster id (min member) and the cluster size. Same
    * pointer-doubling machinery as the text clusters; the pair relation
    * is the gate's banded-Hamming output, so clusters inherit its
    * pigeonhole recall contract. */
  def mediaPhashClusters(s: SparkSession, dir: String): DataFrame = {
    // HASH-LEVEL clustering — the components are computed over DISTINCT
    // hashes, never over expanded id pairs: all members of one hash are
    // trivially one cluster, so an exact-dup mega-group (the dominant
    // mass on replica-heavy corpora) contributes ONE node, and its
    // members expand once, linearly, at the end. Running CC over the
    // pair relation instead was measured at 155M shuffle records / 6 min
    // at 10× — the C(G,2) pair expansion of a 2k-copy group is work the
    // clustering never needed. Equality with the pair-based closure is
    // exact: each hash's node id is its MIN member, CC labels with the
    // min reachable node id, so the final label is the cluster's global
    // min member — the oracle's `min(b)` over the recursive reach.
    val ph = mediaPhash(s, dir)
    val groups = ph.groupBy("hash_hi", "hash_lo")
      .agg(sort_array(collect_list(col("id"))).as("ids"),
        min("id").as("hmin"), count(lit(1)).as("g"))
      .localCheckpoint(true) // read by the edge join (2×) and the expansion
    def banded(suffix: String) = groups
      .select(col("hmin").as(s"hmin$suffix"),
        col("hash_hi").as(s"hi$suffix"), col("hash_lo").as(s"lo$suffix"),
        posexplode(array(
          col("hash_lo").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_lo"), 16).bitwiseAND(lit(0xffffL)),
          col("hash_hi").bitwiseAND(lit(0xffffL)),
          shiftrightunsigned(col("hash_hi"), 16).bitwiseAND(lit(0xffffL))))
          .as(Seq(s"band_j$suffix", s"band_v$suffix")))
    val cross = banded("_a").join(banded("_b"),
        col("band_j_a") === col("band_j_b") &&
          col("band_v_a") === col("band_v_b") &&
          col("hmin_a") < col("hmin_b"))
      .filter(expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)")
        <= MaxPhashHamming)
      .select(col("hmin_a").as("src"), col("hmin_b").as("dst"))
      .distinct()
    val labels = graft.dedup.ConnectedComponents.connectedComponents(cross)
    // a hash group is IN the relation iff it has a pair: size >= 2
    // (intra pairs) or a cross edge (labels hit); label = min member
    val withLabel = groups
      .join(labels.withColumnRenamed("id", "hmin"), Seq("hmin"), "left")
      .filter(col("g") >= 2 || col("comp").isNotNull)
      .select(explode(col("ids")).as("id"),
        coalesce(col("comp"), col("hmin")).as("cluster_id"))
    val sizes = withLabel.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    withLabel.join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_phash_clusters" -> mediaPhashClusters,
    "media_scene_changes" -> mediaSceneChanges,
    "media_meta" -> mediaMeta,
    "media_audio_features" -> mediaAudioFeatures,
    "media_audio_fingerprint" -> mediaAudioFingerprint,
    "media_audio_fp_groups" -> mediaAudioFpGroups,
    "media_video_fingerprint" -> mediaVideoFingerprint,
    "media_video_fp_groups" -> mediaVideoFpGroups,
    "media_histogram" -> mediaHistogram,
    "media_frame_sample" -> mediaFrameSample,
    "media_resize" -> mediaResize,
    "media_phash" -> mediaPhash,
    "media_phash_pairs" -> mediaPhashPairs,
    "media_phash_pairs_grouped" -> mediaPhashPairsGrouped)

  // Oracle twins: documents text is ASCII (byte i == char code i), so the
  // SQL recomputes the analytic pixel/sample functions the fixtures were
  // rendered with; matching the Spark output proves the codec round-trip
  // (encode → real JDK decode) recovered exactly those values.
  // Modality = prefix-byte-sum mod 3 (see [[KindPrefixK]]); every media
  // oracle starts from this shared CTE.
  private[multimodal] val docsCte =
    s"""docs AS (
      |  SELECT doc_id AS id, text, n,
      |    list_sum(list_transform(range(0, least(n, $KindPrefixK)),
      |      i -> ord(substr(text, (i + 1)::INT, 1)))) % 3 AS kmod
      |  FROM (SELECT doc_id, text, length(text) AS n FROM documents))"""
      .stripMargin
  private val kindCase =
    "CASE kmod WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  // Image pixel i over cropped length mm (with the last-4 tail stamp).
  private def pxExpr(i: String): String =
    s"""CASE WHEN n >= 4 AND $i >= w * h - 4
       | THEN ord(substr(text, (n - (w * h - $i) + 1)::INT, 1))
       | ELSE ord(substr(text, (($i % mm) + 1)::INT, 1)) END"""
      .stripMargin.replace("\n", "")

  // Shared CTE chain recomputing the aHash bits analytically: pixel →
  // 8×8 block (the same x·8/w floor mapping the decoder uses) → integer-
  // exact bit (block_sum·w·h > total_sum·block_cnt) → two 32-bit halves.
  private val phashCtes =
    s"""WITH $docsCte,
      |img AS (
      |  SELECT id, text, n, least(n, $ImgCropK) AS mm,
      |    8 + least(n, $ImgCropK) % 32 AS w,
      |    8 + (least(n, $ImgCropK) * 7) % 24 AS h
      |  FROM docs WHERE kmod = 0),
      |px AS (
      |  SELECT id, text, n, mm, w, h, unnest(range(0, w * h)) AS i FROM img),
      |pb AS (
      |  SELECT id, w, h,
      |    ${pxExpr("i")} AS v,
      |    ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b
      |  FROM px),
      |blk AS (
      |  SELECT id, w, h, b, sum(v)::BIGINT AS bs, count(*)::BIGINT AS bc
      |  FROM pb GROUP BY id, w, h, b),
      |tot AS (SELECT id, sum(bs)::BIGINT AS ts FROM blk GROUP BY id),
      |bits AS (
      |  SELECT blk.id AS id, b,
      |    CASE WHEN bs * (w * h) > ts * bc THEN 1 ELSE 0 END AS bit
      |  FROM blk JOIN tot ON blk.id = tot.id),
      |hashes AS (
      |  SELECT id,
      |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32)::INT)
      |        ELSE 0 END)::BIGINT AS hash_hi,
      |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b::INT)
      |        ELSE 0 END)::BIGINT AS hash_lo
      |  FROM bits GROUP BY id)""".stripMargin

  // CTE chain through the banded candidate relation — shared by the
  // pair oracle and the clusters closure.
  private lazy val phashCandCtes: String =
    s"""$phashCtes,
      |bands AS (
      |  SELECT id, hash_hi, hash_lo,
      |    unnest([hash_lo % 65536, (hash_lo // 65536) % 65536,
      |            hash_hi % 65536, (hash_hi // 65536) % 65536]) AS band_v,
      |    unnest([0, 1, 2, 3]) AS band_j
      |  FROM hashes),
      |cand AS (
      |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
      |    a.hash_hi AS ahi, a.hash_lo AS alo,
      |    b.hash_hi AS bhi, b.hash_lo AS blo
      |  FROM bands a JOIN bands b
      |    ON a.band_j = b.band_j AND a.band_v = b.band_v AND a.id < b.id)"""
      .stripMargin

  private lazy val phashPairsSql: String =
    s"""$phashCandCtes
      |SELECT a_id, b_id,
      |  bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) AS hamming
      |FROM cand
      |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 6"""
      .stripMargin

  /** The [[mediaAudioFingerprint]] oracle — analytic PCM (sample i =
    * char code i − 128), windowed energies, delta bits. Shared with the
    * groups gate, which aggregates over it. */
  private val audioFpSql: String =
    s"""WITH docs AS (
      |  SELECT doc_id AS id, text, n,
      |    list_sum(list_transform(range(0, least(n, $KindPrefixK)),
      |      i -> ord(substr(text, (i + 1)::INT, 1)))) % 3 AS kmod
      |  FROM (SELECT doc_id, text, length(text) AS n FROM documents)),
      |m AS (SELECT id, text, n FROM docs WHERE kmod = 1),
      |s AS (SELECT id, n,
      |        least((n + $AudioFpWin - 1) // $AudioFpWin,
      |              ${AudioFpMaxBits + 1}) AS nw,
      |        list_transform(range(0, n),
      |          i -> ord(substr(text, (i + 1)::INT, 1)) - 128) AS smp
      |      FROM m),
      |e AS (SELECT id, nw,
      |        list_transform(range(0, nw), w ->
      |          list_sum(list_transform(
      |            range(w * $AudioFpWin, least((w + 1) * $AudioFpWin, n)),
      |            i -> smp[(i + 1)::INT] * smp[(i + 1)::INT]))) AS en
      |      FROM s)
      |SELECT id, nw::BIGINT AS n_windows,
      |  coalesce(list_sum(list_transform(range(1, nw), w ->
      |    CASE WHEN en[(w + 1)::INT] > en[w::INT]
      |      THEN (1::BIGINT << (w - 1)::INT) ELSE 0 END)), 0)::BIGINT AS fp
      |FROM e""".stripMargin

  /** The [[mediaVideoFingerprint]] oracle — analytic per-frame pixel
    * sums (frame k pixel i = char code of text[(i + k²) % n]), digested
    * exactly as the Scala side digests the decoded sums. */
  private val videoFpSql: String =
    s"""WITH $docsCte,
      |m AS (SELECT id, text, n FROM docs WHERE kmod = 2),
      |fr AS (SELECT id, text, n, unnest(range(0, 1 + n % $VideoFramesMax))
      |         AS k
      |       FROM m),
      |sums AS (
      |  SELECT id, k,
      |    list_sum(list_transform(range(0, ${VideoFrameEdge * VideoFrameEdge}),
      |      i -> ord(substr(text, (((i + k * k) % n) + 1)::INT, 1))))::BIGINT
      |      AS ps
      |  FROM fr)
      |SELECT id, count(*)::BIGINT AS n_frames,
      |  substr(sha256(string_agg(ps, ',' ORDER BY k)), 1, 16) AS fp
      |FROM sums GROUP BY id""".stripMargin

  val oracles: Map[String, String] = Map(
    "media_scene_changes" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT id, text, n FROM docs WHERE kmod = 2),
        |tr AS (
        |  SELECT id, text, n, unnest(range(0, n % $VideoFramesMax)) AS k
        |  FROM m),
        |sad AS (
        |  SELECT id, k AS frame_idx,
        |    list_sum(list_transform(range(0, ${VideoFrameEdge * VideoFrameEdge}),
        |      i -> abs(ord(substr(text, (((i + (k+1)*(k+1)) % n) + 1)::INT, 1))
        |             - ord(substr(text, (((i + k*k) % n) + 1)::INT, 1)))))::BIGINT
        |      AS sad
        |  FROM tr),
        |tot AS (SELECT id, sum(sad) AS total, count(*) AS cnt
        |        FROM sad GROUP BY id)
        |SELECT s.id, s.frame_idx, s.sad,
        |  (s.sad * tot.cnt * 2 >= tot.total * 3) AS is_cut
        |FROM sad s JOIN tot USING (id)""".stripMargin,
    "media_audio_features" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT id, text, n FROM docs WHERE kmod = 1),
        |s AS (
        |  SELECT id, n,
        |    list_transform(range(0, n),
        |      i -> ord(substr(text, (i + 1)::INT, 1)) - 128) AS s
        |  FROM m)
        |SELECT id, n::BIGINT AS n_samples,
        |  list_sum(list_transform(s, x -> x * x))::BIGINT AS energy,
        |  coalesce(list_sum(list_transform(range(1, n),
        |    i -> CASE WHEN s[i::INT] * s[(i + 1)::INT] < 0
        |         THEN 1 ELSE 0 END)), 0)::BIGINT AS zero_crossings,
        |  list_max(list_transform(s, x -> abs(x)))::BIGINT AS peak
        |FROM s""".stripMargin,
    "media_audio_fingerprint" -> audioFpSql,
    "media_audio_fp_groups" ->
      (s"""SELECT fp, count(*)::BIGINT AS n_clips, min(id) AS min_id,
        |  max(id) AS max_id
        |FROM ($audioFpSql)
        |GROUP BY fp HAVING count(*) > 1""".stripMargin),
    "media_video_fingerprint" -> videoFpSql,
    "media_video_fp_groups" ->
      (s"""SELECT fp, count(*)::BIGINT AS n_clips, min(id) AS min_id,
        |  max(id) AS max_id
        |FROM ($videoFpSql)
        |GROUP BY fp HAVING count(*) > 1""".stripMargin),
    "media_meta" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT id, $kindCase AS kind, n, least(n, $ImgCropK) AS mm
        |  FROM docs)
        |SELECT id, kind,
        |  CASE kind WHEN 'image' THEN 8 + mm % 32 WHEN 'video' THEN 8
        |    ELSE 0 END AS width,
        |  CASE kind WHEN 'image' THEN 8 + (mm * 7) % 24 WHEN 'video' THEN 8
        |    ELSE 0 END AS height,
        |  CASE kind WHEN 'image' THEN 0 WHEN 'audio' THEN n // 8
        |    ELSE 1000 + n % 60000 END AS duration_ms,
        |  CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN 0
        |    ELSE 1 + n % 12 END AS n_frames
        |FROM m""".stripMargin,
    "media_histogram" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT $kindCase AS kind, text, n, least(n, $ImgCropK) AS mm,
        |    8 + least(n, $ImgCropK) % 32 AS w,
        |    8 + (least(n, $ImgCropK) * 7) % 24 AS h
        |  FROM docs),
        |vals AS (
        |  SELECT kind, unnest(
        |    CASE kind
        |      WHEN 'image' THEN
        |        list_transform(range(0, w * h), i -> ${pxExpr("i")})
        |      WHEN 'audio' THEN
        |        list_transform(range(0, n),
        |          i -> ord(substr(text, (i + 1)::INT, 1)))
        |      ELSE
        |        flatten(list_transform(range(0, 1 + n % 12),
        |          k -> list_transform(range(0, 64),
        |            i -> ord(substr(text, (((i + k * k) % n) + 1)::INT, 1)))))
        |    END) AS v
        |  FROM m)
        |SELECT kind, v // 16 AS bin, count(*)::BIGINT AS total
        |FROM vals GROUP BY kind, bin""".stripMargin,
    "media_frame_sample" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT id, $kindCase AS kind, text, n, least(n, $ImgCropK) AS mm,
        |    8 + least(n, $ImgCropK) % 32 AS w,
        |    8 + (least(n, $ImgCropK) * 7) % 24 AS h
        |  FROM docs),
        |img AS (
        |  SELECT id, kind, 0::BIGINT AS frame_idx, 0::BIGINT AS ts_ms,
        |    list_sum(list_transform(range(0, w * h),
        |      i -> ${pxExpr("i")}))::BIGINT AS frame_sig
        |  FROM m WHERE kind = 'image'),
        |vid AS (
        |  SELECT id, kind, text, n, 1 + n % 12 AS f, 1000 + n % 60000 AS dur,
        |    unnest(range(0, 1 + n % 12, 3)) AS frame_idx
        |  FROM m WHERE kind = 'video'),
        |vid2 AS (
        |  SELECT id, kind, frame_idx, (frame_idx * dur) // f AS ts_ms,
        |    list_sum(list_transform(range(0, 64),
        |      i -> ord(substr(text, (((i + frame_idx * frame_idx) % n) + 1)::INT, 1))))::BIGINT
        |      AS frame_sig
        |  FROM vid)
        |SELECT id, kind, frame_idx, ts_ms, frame_sig FROM img
        |UNION ALL
        |SELECT id, kind, frame_idx, ts_ms, frame_sig FROM vid2""".stripMargin,
    "media_phash" ->
      s"""$phashCtes
        |SELECT id, hash_hi, hash_lo FROM hashes""".stripMargin,
    "media_phash_pairs" -> phashPairsSql,
    // the grouped twin emits the SAME relation — one oracle, two plans
    "media_phash_pairs_grouped" -> phashPairsSql,
    // transitive closure over the SAME candidate CTEs (dedup_clusters
    // pattern)
    "media_phash_clusters" ->
      (s"WITH RECURSIVE ${phashCandCtes.stripPrefix("WITH ")},\n" +
        """pp AS (
          |  SELECT a_id, b_id
          |  FROM cand
          |  WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 6),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pp
          |          UNION SELECT b_id, a_id FROM pp),
          |reach(a, b) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
          |comp AS (SELECT a AS id, min(b) AS cluster_id
          |         FROM reach GROUP BY a)
          |SELECT id, cluster_id,
          |  count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
          |FROM comp""".stripMargin),
    "media_resize" ->
      s"""WITH $docsCte,
        |m AS (
        |  SELECT id, $kindCase AS kind, n, least(n, $ImgCropK) AS mm
        |  FROM docs),
        |g AS (
        |  SELECT id, kind,
        |    (CASE kind WHEN 'image' THEN 8 + mm % 32 WHEN 'video' THEN 8
        |       ELSE 0 END)::BIGINT AS width,
        |    (CASE kind WHEN 'image' THEN 8 + (mm * 7) % 24 WHEN 'video' THEN 8
        |       ELSE 0 END)::BIGINT AS height
        |  FROM m),
        |p AS (SELECT *, greatest(width, height) AS edge FROM g)
        |SELECT id, kind, width, height,
        |  CASE WHEN width <= 0 OR edge <= 24 THEN width
        |       ELSE width * 24 // edge END AS out_width,
        |  CASE WHEN width <= 0 OR edge <= 24 THEN height
        |       ELSE height * 24 // edge END AS out_height,
        |  CASE WHEN width <= 0 THEN width * height
        |       WHEN edge <= 24 THEN width * height
        |       ELSE (width * 24 // edge) * (height * 24 // edge)
        |       END AS est_pixels
        |FROM p""".stripMargin)
}
