package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, Query, Tables}

/** Multimodal-column plumbing: media as opaque `binary` payloads with a
  * typed metadata struct, decoded at an explicit codec boundary.
  *
  * The pattern for a 100 TB training-data pipeline: media bytes live in
  * one opaque binary column (never parsed by Catalyst), metadata is a
  * small typed struct usable for pruning/partitioning, and the decode /
  * feature-extract / resize / frame-sample step crosses a per-partition
  * batch boundary — here Scala `mapPartitions` over a typed Dataset; in
  * a Python shop the identical shape is `mapInPandas` with Arrow
  * batches. Everything after the boundary is ordinary codegen'd SQL
  * (hashes, aggregations), so only the codec itself is opaque.
  *
  * This container has no media libraries, so [[StubCodec]] is a
  * DETERMINISTIC FAKE — the payload bytes are the "pixels" (documents
  * text re-encoded as UTF-8, ASCII throughout, so the DuckDB oracles
  * can recompute every feature byte-for-byte from the text). The
  * Spark-side plumbing — schema, encoders, batch iteration, the
  * explicit decode boundary — is real and is what these queries test.
  */
object MultimodalQueries {

  final case class MediaMeta(media_type: String, width: Int, height: Int,
                             n_frames: Int)
  final case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class FrameSlice(frame_idx: Int, frame_off: Int, frame_len: Int,
                              bytes: Array[Byte])
  final case class Decoded(doc_id: Long, media_type: String, width: Int,
                           height: Int, n_frames: Int, n_bytes: Int,
                           byte_sum: Long, min_byte: Int, max_byte: Int,
                           resized: Array[Byte], frames: Seq[FrameSlice])

  /** Deterministic stand-in for a real codec (PIL / ffmpeg / soundfile
    * would be called here, vectorized per batch). Interprets the payload
    * bytes directly as samples: features are byte statistics, "resize"
    * is 2:1 decimation, "frame sampling" slices the payload into
    * `n_frames` fixed-stride frames and keeps the even-indexed ones.
    */
  object StubCodec {
    def decode(row: MediaRow): Decoded = {
      val b = row.payload
      var sum = 0L; var mn = 255; var mx = 0
      var i = 0
      while (i < b.length) {
        val v = b(i) & 0xff
        sum += v; if (v < mn) mn = v; if (v > mx) mx = v
        i += 1
      }
      val resized = Array.tabulate((b.length + 1) / 2)(j => b(2 * j))
      val frames =
        if (row.meta.media_type != "video") Seq.empty[FrameSlice]
        else {
          val flen = b.length / row.meta.n_frames
          if (flen == 0) Seq.empty[FrameSlice]
          else (0 until row.meta.n_frames).filter(_ % 2 == 0).map { k =>
            FrameSlice(k, k * flen, flen, b.slice(k * flen, k * flen + flen))
          }
        }
      Decoded(row.doc_id, row.meta.media_type, row.meta.width,
        row.meta.height, row.meta.n_frames, b.length, sum,
        if (b.isEmpty) 0 else mn, if (b.isEmpty) 0 else mx, resized, frames)
    }
  }

  /** The media table: opaque payload + typed metadata, derived
    * deterministically from `documents` (media_type by doc_id mod 3,
    * dimensions from n_chars/doc_id arithmetic — mirrored in oracles).
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        (lit(16) + pmod(col("n_chars"), lit(48))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("height"),
        when(pmod(col("doc_id"), lit(3)) === 2, pmod(col("doc_id"), lit(7)) + 1)
          .otherwise(lit(1)).cast("int").as("n_frames")
      ).as("meta")
    ).as[MediaRow]
  }

  /** The decode boundary: one batched pass per partition. */
  def decoded(spark: SparkSession, sfDir: String): Dataset[Decoded] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions(_.map(StubCodec.decode))
  }

  /** Per-media feature extraction (decode + byte statistics). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    // Empty payloads surface as NULL stats, matching the SQL oracle's
    // aggregate-over-empty-list semantics (list_sum([]) IS NULL).
    val nonEmpty = col("n_bytes") > 0
    decoded(spark, sfDir).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_bytes"),
        when(nonEmpty, col("byte_sum")).as("byte_sum"),
        when(nonEmpty,
          round(col("byte_sum").cast("double") / col("n_bytes"), 4)).as("mean_byte"),
        when(nonEmpty, col("min_byte")).as("min_byte"),
        when(nonEmpty, col("max_byte")).as("max_byte"))
      .orderBy("doc_id")
  }

  val mediaFeaturesOracle: String = """
WITH codes AS (
  SELECT doc_id, n_chars,
         list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS cs
  FROM documents
)
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
  cast(16 + n_chars % 48 AS int) AS width,
  cast(16 + doc_id % 32 AS int) AS height,
  cast(len(cs) AS int) AS n_bytes,
  cast(list_sum(cs) AS bigint) AS byte_sum,
  round(list_sum(cs)::double / len(cs), 4) AS mean_byte,
  cast(list_aggregate(cs, 'min') AS int) AS min_byte,
  cast(list_aggregate(cs, 'max') AS int) AS max_byte
FROM codes ORDER BY doc_id
"""

  /** Frame sampling over video payloads: even-indexed frames of the
    * n_frames fixed-stride decomposition, fingerprinted after decode.
    */
  def mediaFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    decoded(spark, sfDir).toDF()
      .where(col("media_type") === "video")
      .select(col("doc_id"), explode(col("frames")).as("f"))
      .select(col("doc_id"), col("f.frame_idx"), col("f.frame_off"),
              col("f.frame_len"), md5(col("f.bytes")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  val mediaFrameSampleOracle: String = """
SELECT doc_id,
  cast(k AS int) AS frame_idx,
  cast(k * (length(text) // (doc_id % 7 + 1)) AS int) AS frame_off,
  cast(length(text) // (doc_id % 7 + 1) AS int) AS frame_len,
  md5(substr(text, cast(k * (length(text) // (doc_id % 7 + 1)) + 1 AS int),
             cast(length(text) // (doc_id % 7 + 1) AS int))) AS frame_md5
FROM documents, unnest(range(0, doc_id % 7 + 1)) AS u(k)
WHERE doc_id % 3 = 2 AND k % 2 = 0
  AND length(text) // (doc_id % 7 + 1) > 0
ORDER BY doc_id, frame_idx
"""

  /** Resize (2:1 decimation) stub: halved dimensions + decimated
    * payload, fingerprinted.
    */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame =
    decoded(spark, sfDir).toDF()
      .select(col("doc_id"),
        expr("width div 2").cast("int").as("new_width"),
        expr("height div 2").cast("int").as("new_height"),
        length(col("resized")).as("out_bytes"),
        md5(col("resized")).as("out_md5"))
      .orderBy("doc_id")

  val mediaResizeOracle: String = """
SELECT doc_id,
  cast((16 + n_chars % 48) // 2 AS int) AS new_width,
  cast((16 + doc_id % 32) // 2 AS int) AS new_height,
  cast((length(text) + 1) // 2 AS int) AS out_bytes,
  md5(array_to_string(list_transform(range(1, length(text) + 1, 2),
                                     i -> substr(text, i, 1)), '')) AS out_md5
FROM documents ORDER BY doc_id
"""

  /** Near-duplicate MEDIA clustering — the multimodal leg of the dedup
    * suite: decode → downsample (the stub's 2:1 "resize") → 32-bit
    * fingerprint by bit-majority over the downsample's distinct
    * 4-grams (a real pipeline swaps in a DCT pHash at exactly this
    * expression; everything around it — the codec boundary, banding,
    * verify radius, CC clustering — is the production shape) → 2×16
    * banded buckets with a ≤256 hot-band cap → Hamming ≤ 1 verify →
    * connected components. Radius 1 is COMPLETE under 2×16 banding
    * (one differing bit leaves the other band exact), so the result is
    * a deterministic function of the corpus, not of banding luck.
    * Linear in N except inside capped buckets — same scale argument as
    * dedup_minhash/simhash (SCALE.md).
    */
  def mediaPhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val MaxBand = 256
    val t = decoded(spark, sfDir).toDF()
      .select(col("doc_id"), decode(col("resized"), "UTF-8").as("t"))
    val grams = t.select(col("doc_id"),
      explode(array_distinct(
        when(length(col("t")) >= 4,
          expr("transform(sequence(1, length(t) - 3), i -> substring(t, i, 4))"))
        .otherwise(array(col("t"))))).as("g"))
    // Bit-majority as 32 combinable sum aggregates over the gram rows —
    // the shape DedupQueries.simhashFingerprints already uses — instead
    // of the old explode(sequence(0,31)): that form multiplied every
    // gram row 32× and paid an extra (doc_id, b) shuffle before the
    // per-doc rollup (guide §2.3: aggregate before you shuffle; don't
    // explode what an aggregate can fold). Same sums, same fingerprint.
    val hashed = grams.select(col("doc_id"),
      conv(substring(md5(col("g")), 1, 8), 16, 10).cast("bigint").as("h"))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val fpExpr = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val fp = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpExpr.as("phash"))
      .localCheckpoint()
    val bands = fp.select(col("doc_id"), col("phash"),
      explode(array(
        (lit(0L) * 65536 + expr("phash & 65535")),
        (lit(1L) * 65536 + expr("(phash >> 16) & 65535")))).as("band"))
    val cold = bands.join(
      broadcast(bands.groupBy("band").count().where(col("count") <= MaxBand))
        .select("band"),
      "band")
    val verified = cold.as("x").join(cold.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
              col("x.phash").as("pa"), col("y.phash").as("pb"))
      .dropDuplicates("a", "b")
      .where(bit_count(col("pa").bitwiseXOR(col("pb"))) <= 1)
      .select(col("a"), col("b"))
    val selfPairs = graft.queries.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("src"), col("doc_id").as("dst"))
    val res = graft.cc.ConnectedComponents.runAuto(
      verified.select(col("b").as("src"), col("a").as("dst")).union(selfPairs),
      maxIterations = 20)
    require(res.converged, "media phash CC did not converge")
    res.assignments.toDF("doc_id", "cluster").orderBy("doc_id")
  }

  val mediaPhashClustersOracle: String = s"""
WITH RECURSIVE decim AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, length(text) + 1, 2),
                                        i -> substr(text, i, 1)), '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN length(t) >= 4
         THEN list_distinct(list_transform(range(1, length(t) - 2),
                                           i -> substr(t, i, 4)))
         ELSE [t] END) AS g
  FROM decim
),
hashed AS (
  SELECT doc_id, cast('0x' || substr(md5(g), 1, 8) AS bigint) AS h FROM grams
),
bitsums AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, unnest(range(0, 32)) AS u(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint)
           AS phash
  FROM bitsums GROUP BY doc_id
),
bands AS (
  SELECT doc_id, phash, k * 65536 + ((phash >> (k * 16)) & 65535) AS band
  FROM fp, unnest(range(0, 2)) AS u(k)
),
cold AS (SELECT band FROM bands GROUP BY band HAVING count(*) <= 256),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.phash AS pa, y.phash AS pb
  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
  WHERE x.band IN (SELECT band FROM cold)
),
verified AS (SELECT a, b FROM cand WHERE bit_count(xor(pa, pb)) <= 1),
${DedupQueries.clusterOracle("doc_id", "documents", "verified")}
"""

  final case class AudioWindows(doc_id: Long, n_windows: Int,
                                peak_idx: Int, peak_energy: Long,
                                mean_energy: Long)

  /** media_audio_energy: fixed-stride window energy over the audio
    * payloads — the loudness profile an audio-curation pass computes to
    * drop silence/clipping and to pick segment boundaries. Windows are
    * 256 bytes, full windows only; per doc the graded row carries the
    * window count, the peak window (argmax energy, tie → earliest) and
    * the mean energy. The "samples" are the stub codec's bytes (ASCII
    * text re-encoded, see the object scaladoc), so DuckDB recomputes
    * energies byte-for-byte with `ord(substr(...))`.
    *
    * Scale: the window scan crosses the same per-partition codec
    * boundary as every media query (real codecs batch here); output is
    * one row per doc — no shuffle at all until the gate's orderBy.
    */
  def mediaAudioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .filter(col("meta.media_type") === "audio")
      .mapPartitions(_.flatMap { row =>
        val b = row.payload
        val nw = b.length / 256
        if (nw == 0) Iterator.empty
        else {
          var peakIdx = 0
          var peakE = Long.MinValue
          var total = 0L
          var w = 0
          while (w < nw) {
            var e = 0L
            var i = w * 256
            val end = i + 256
            while (i < end) { e += (b(i) & 0xff); i += 1 }
            if (e > peakE) { peakE = e; peakIdx = w }
            total += e
            w += 1
          }
          Iterator.single(AudioWindows(row.doc_id, nw, peakIdx, peakE,
            total / nw))
        }
      })
      .toDF()
      .orderBy("doc_id")
  }

  val mediaAudioEnergyOracle: String = """
WITH audio AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
),
w AS (
  SELECT doc_id, t.w AS widx,
         list_sum(list_transform(range(1, 257),
           i -> ord(substr(text, t.w * 256 + i, 1)))) AS energy
  FROM audio, unnest(range(0, length(text) // 256)) AS t(w)
)
SELECT doc_id, cast(count(*) AS int) AS n_windows,
       cast(999999 - max(energy * 1000000 + (999999 - widx)) % 1000000
            AS int) AS peak_idx,
       CAST(max(energy * 1000000 + (999999 - widx)) // 1000000 AS BIGINT)
         AS peak_energy,
       CAST(sum(energy) // count(*) AS BIGINT) AS mean_energy
FROM w GROUP BY doc_id ORDER BY doc_id
"""

  final case class SceneCut(doc_id: Long, frame_idx: Int, prev_energy: Long,
                            energy: Long, jump: Long)

  /** media_scene_cuts: shot-boundary detection over the video payloads —
    * the frame-differencing pass a video-curation pipeline runs to split
    * footage into scenes before sampling training frames (one frame per
    * scene beats every-Nth-frame: it never oversamples a static shot).
    * Per video, ALL `n_frames` fixed-stride frames are decoded and their
    * energies (byte sums) compared consecutively; frame k is a cut iff
    * `|e_k − e_{k−1}| · 10 > flen · 25` — i.e. the mean per-byte jump
    * exceeds 2.5, a threshold that fires on ~⅓ of the stub corpus's
    * frames (all-integer arithmetic, so the boundary is exact in both
    * engines). Emits one row per detected cut with the energy pair and
    * the jump.
    *
    * Scale: consecutive-frame differencing is per-DOC state, so the
    * whole detection runs inside the per-partition codec pass — zero
    * shuffles before the gate's orderBy; a real pipeline swaps the
    * byte-sum energy for a histogram/SSIM distance at exactly this
    * loop. (The even-frame [[mediaFrameSample]] slices can't feed this
    * query — cuts need ADJACENT frames, so the codec emits all of
    * them here.)
    */
  def mediaSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .filter(col("meta.media_type") === "video" && col("meta.n_frames") >= 2)
      .mapPartitions(_.flatMap { row =>
        val b = row.payload
        val nf = row.meta.n_frames
        val flen = b.length / nf
        if (flen == 0) Iterator.empty
        else {
          val energies = Array.tabulate(nf) { k =>
            var e = 0L; var i = k * flen; val end = i + flen
            while (i < end) { e += (b(i) & 0xff); i += 1 }
            e
          }
          (1 until nf).iterator.flatMap { k =>
            val jump = math.abs(energies(k) - energies(k - 1))
            if (jump * 10 > flen.toLong * 25)
              Iterator.single(SceneCut(row.doc_id, k, energies(k - 1),
                energies(k), jump))
            else Iterator.empty
          }
        }
      })
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  val mediaSceneCutsOracle: String = """
WITH v AS (
  SELECT doc_id, text, cast(doc_id % 7 + 1 AS int) AS nf,
         cast(length(text) // (doc_id % 7 + 1) AS int) AS flen
  FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 7 + 1 >= 2
    AND length(text) // (doc_id % 7 + 1) > 0
),
fe AS (
  SELECT doc_id, cast(u.k AS int) AS frame_idx, flen,
         cast(list_sum(list_transform(range(1, flen + 1),
           i -> ord(substr(text, cast(u.k * flen + i AS int), 1)))) AS bigint)
           AS energy
  FROM v, unnest(range(0, nf)) AS u(k)
),
d AS (
  SELECT doc_id, frame_idx, flen, energy,
         lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_energy
  FROM fe
)
SELECT doc_id, frame_idx, prev_energy, energy,
       abs(energy - prev_energy) AS jump
FROM d
WHERE prev_energy IS NOT NULL
  AND abs(energy - prev_energy) * 10 > flen * 25
ORDER BY doc_id, frame_idx
"""

  final case class TrimmedAudio(doc_id: Long, n_windows: Int,
                                lead_trim: Int, tail_trim: Int,
                                kept_windows: Int)

  /** media_silence_trim: leading/trailing low-energy trim over the
    * audio payloads — the clip-preparation step every speech pipeline
    * runs before feature extraction (silence at the edges is free
    * tokens). A window is ACTIVE when its energy is at or above the
    * doc's own mean — compared cross-multiplied (`e · nw ≥ total`), so
    * no derived mean is ever materialized and both engines decide each
    * window identically in integers. The trim keeps [first active,
    * last active]; at least the peak window is always active, so every
    * doc emits a row. Same 256-byte windows as [[mediaAudioEnergy]].
    *
    * Scale: identical profile to the other media passes — per-
    * partition codec boundary, one row per doc, no shuffle before the
    * gate's orderBy.
    */
  def mediaSilenceTrim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .filter(col("meta.media_type") === "audio")
      .mapPartitions(_.flatMap { row =>
        val b = row.payload
        val nw = b.length / 256
        if (nw == 0) Iterator.empty
        else {
          val e = new Array[Long](nw)
          var total = 0L
          var w = 0
          while (w < nw) {
            var s = 0L
            var i = w * 256
            val end = i + 256
            while (i < end) { s += (b(i) & 0xff); i += 1 }
            e(w) = s; total += s; w += 1
          }
          var first = 0
          while (first < nw && e(first) * nw < total) first += 1
          var last = nw - 1
          while (last >= 0 && e(last) * nw < total) last -= 1
          Iterator.single(TrimmedAudio(row.doc_id, nw, first,
            nw - 1 - last, last - first + 1))
        }
      })
      .toDF()
      .orderBy("doc_id")
  }

  val mediaSilenceTrimOracle: String = """
WITH audio AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
),
w AS (
  SELECT doc_id, t.w AS widx,
         list_sum(list_transform(range(1, 257),
           i -> ord(substr(text, t.w * 256 + i, 1)))) AS energy
  FROM audio, unnest(range(0, length(text) // 256)) AS t(w)
),
tot AS (
  SELECT doc_id, count(*) AS nw, sum(energy) AS total FROM w GROUP BY 1
),
act AS (
  SELECT w.doc_id, min(widx) AS first_a, max(widx) AS last_a
  FROM w JOIN tot ON tot.doc_id = w.doc_id
  WHERE energy * nw >= total
  GROUP BY 1
)
SELECT tot.doc_id AS doc_id, cast(nw AS int) AS n_windows,
       cast(first_a AS int) AS lead_trim,
       cast(nw - 1 - last_a AS int) AS tail_trim,
       cast(last_a - first_a + 1 AS int) AS kept_windows
FROM tot JOIN act ON act.doc_id = tot.doc_id
ORDER BY tot.doc_id
"""

  /** media_aspect_buckets: aspect-ratio bucketing for image training —
    * the batching step diffusion/vision pipelines run so a batch shares
    * one shape (resize within a bucket, never crop across one). Images
    * are classed by integer ratio `width·100 div height` into the five
    * standard classes (tall/portrait/square/landscape/wide); per bucket
    * the query grades the population, the batch count at batch=32
    * (`ceil` via `(n+31) div 32`), total pixels, and the ratio span.
    * Reads ONLY the typed metadata struct — the payload column is never
    * touched, which at 100 TB is the point: planning the epoch costs a
    * metadata scan, not a decode.
    *
    * Scale: one narrow projection + one 5-key map-side-combinable
    * aggregate; no payload IO, no shuffle beyond the 5-row result.
    */
  def mediaAspectBuckets(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .select(col("doc_id"), col("meta.media_type").as("media_type"),
        col("meta.width").cast("long").as("w"),
        col("meta.height").cast("long").as("h"))
      .where(col("media_type") === "image")
      .select(col("w"), col("h"),
        expr("w * 100 div h").as("ratio_pct"))
      .select(col("w"), col("h"), col("ratio_pct"),
        when(col("ratio_pct") < 66, "tall")
          .when(col("ratio_pct") < 90, "portrait")
          .when(col("ratio_pct") < 111, "square")
          .when(col("ratio_pct") < 150, "landscape")
          .otherwise("wide").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"),
           expr("(count(1) + 31) div 32").as("n_batches"),
           sum(col("w") * col("h")).as("total_px"),
           min(col("ratio_pct")).as("min_ratio_pct"),
           max(col("ratio_pct")).as("max_ratio_pct"))
      .orderBy("bucket")

  val mediaAspectBucketsOracle: String = """
WITH img AS (
  SELECT (16 + n_chars % 48)::BIGINT AS w,
         (16 + doc_id % 32)::BIGINT AS h
  FROM documents WHERE doc_id % 3 = 0
),
r AS (
  SELECT w, h, w * 100 // h AS ratio_pct FROM img
),
b AS (
  SELECT w, h, ratio_pct,
         CASE WHEN ratio_pct < 66 THEN 'tall'
              WHEN ratio_pct < 90 THEN 'portrait'
              WHEN ratio_pct < 111 THEN 'square'
              WHEN ratio_pct < 150 THEN 'landscape'
              ELSE 'wide' END AS bucket
  FROM r
)
SELECT bucket, count(*) AS n_images,
       CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches,
       CAST(sum(w * h) AS BIGINT) AS total_px,
       CAST(min(ratio_pct) AS BIGINT) AS min_ratio_pct,
       CAST(max(ratio_pct) AS BIGINT) AS max_ratio_pct
FROM b GROUP BY bucket ORDER BY bucket
"""

  val all: Seq[Query] = Seq(
    Query("media_aspect_buckets", mediaAspectBuckets, mediaAspectBucketsOracle),
    Query("media_silence_trim", mediaSilenceTrim, mediaSilenceTrimOracle),
    Query("media_scene_cuts", mediaSceneCuts, mediaSceneCutsOracle),
    Query("media_audio_energy", mediaAudioEnergy, mediaAudioEnergyOracle),
    Query("media_phash_clusters", mediaPhashClusters, mediaPhashClustersOracle),
    Query("media_features", mediaFeatures, mediaFeaturesOracle),
    Query("media_frame_sample", mediaFrameSample, mediaFrameSampleOracle),
    Query("media_resize", mediaResize, mediaResizeOracle),
  )
}
