package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

import Contract.t

/** Multimodal contracts: image/audio/frame features, scene cuts and
  * the media metadata table.
  */
object MultimodalContracts {

  /** feat(video_id, frame_idx, bright): the synthetic videos' frames
    * (4 to 10 per document) with md5-derived brightness.
    */
  private val frameFeatureCtes: String =
    """fr AS (
      |  SELECT doc_id AS video_id,
      |         unnest(range(0, n_chars % 7 + 4)) AS frame_idx
      |  FROM documents
      |), feat AS (
      |  SELECT video_id, frame_idx,
      |         CAST((strpos('0123456789abcdef',
      |                 substr(md5(CAST(video_id AS VARCHAR) || '_' ||
      |                        CAST(frame_idx AS VARCHAR)), 1, 1)) - 1) * 16
      |            + (strpos('0123456789abcdef',
      |                 substr(md5(CAST(video_id AS VARCHAR) || '_' ||
      |                        CAST(frame_idx AS VARCHAR)), 2, 1)) - 1)
      |           AS DOUBLE) AS bright
      |  FROM fr
      |)""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Scene segmentation over a pre-extracted frames table (the decode
    // fleet's output shape; container parsing itself is out of scope —
    // SURVEY round-12 candidate (b)). Frames synthesized
    // deterministically from documents (md5-derived brightness), so the
    // oracle replays features, boundaries, islands and keyframes in SQL.
    Contract("q_frames_scenes", (s, d) => {
      val docs = t(s, d, "documents")
      val frames = docs.select(
          col("doc_id").as("video_id"),
          explode(sequence(lit(0), (pmod(col("n_chars"), lit(7)) + 3).cast("int")))
            .as("frame_idx"))
        .withColumn("bright",
          conv(substring(md5(concat(col("video_id"), lit("_"), col("frame_idx"))), 1, 2),
            16, 10).cast("double"))
        .withColumn("feat", array(col("bright")))
      Multimodal.sceneManifest(frames, "video_id", "frame_idx", "feat", threshold = 90.0)
        .select(
          col("video_id"), col("scene_idx"),
          col("start_frame").cast("long").as("start_frame"),
          col("end_frame").cast("long").as("end_frame"),
          col("n_frames"), col("keyframe_idx").cast("long").as("keyframe_idx"))
        .orderBy("video_id", "scene_idx")
    },
      "WITH " + frameFeatureCtes + """, brk AS (
        |  SELECT video_id, frame_idx, bright,
        |         lag(bright) OVER (PARTITION BY video_id ORDER BY frame_idx) AS prev
        |  FROM feat
        |), isl AS (
        |  SELECT video_id, frame_idx,
        |         sum(CASE WHEN prev IS NULL OR abs(bright - prev) > 90.0
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY video_id ORDER BY frame_idx) - 1 AS scene_idx
        |  FROM brk
        |)
        |SELECT video_id,
        |       CAST(scene_idx AS BIGINT) AS scene_idx,
        |       CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |       CAST(max(frame_idx) AS BIGINT) AS end_frame,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(min(frame_idx) AS BIGINT) AS keyframe_idx
        |FROM isl GROUP BY video_id, scene_idx
        |ORDER BY video_id, scene_idx""".stripMargin),

    // PER-VIDEO adaptive scene threshold: each video cuts at its own
    // k-th-order-statistic distance (k = ceil(0.7 * n_dists)) instead of
    // one global number — the k-th order statistic (never an interpolated
    // percentile) keeps the threshold bit-reproducible across engines,
    // so the whole adaptive manifest is a full oracle.
    Contract("q_frames_scenes_adaptive", (s, d) => {
      val docs = t(s, d, "documents")
      val frames = docs.select(
          col("doc_id").as("video_id"),
          explode(sequence(lit(0), (pmod(col("n_chars"), lit(7)) + 3).cast("int")))
            .as("frame_idx"))
        .withColumn("bright",
          conv(substring(md5(concat(col("video_id"), lit("_"), col("frame_idx"))), 1, 2),
            16, 10).cast("double"))
        .withColumn("feat", array(col("bright")))
      Multimodal.sceneManifestAdaptive(
          frames, "video_id", "frame_idx", "feat", quantile = 0.7)
        .select(
          col("video_id"), col("scene_idx"),
          col("start_frame").cast("long").as("start_frame"),
          col("end_frame").cast("long").as("end_frame"),
          col("n_frames"), col("keyframe_idx").cast("long").as("keyframe_idx"))
        .orderBy("video_id", "scene_idx")
    },
      // Adaptive replay: per-video threshold = k-th smallest inter-frame
      // |bright diff|, k = ceil(0.7 * n) — order statistic, no
      // interpolation, so the double math is one IEEE multiply + ceil in
      // both engines. sqrt((a-b)^2) == abs(a-b) exactly for these values.
      "WITH " + frameFeatureCtes + """, d AS (
        |  SELECT video_id, frame_idx, bright,
        |         abs(bright - lag(bright)
        |               OVER (PARTITION BY video_id ORDER BY frame_idx)) AS dst
        |  FROM feat
        |), ranked AS (
        |  SELECT video_id, dst,
        |         row_number() OVER (PARTITION BY video_id ORDER BY dst) AS rn,
        |         count(*) OVER (PARTITION BY video_id) AS n
        |  FROM d WHERE dst IS NOT NULL
        |), thr AS (
        |  SELECT video_id, dst AS th FROM ranked
        |  WHERE rn = CAST(ceil(0.7 * n) AS BIGINT)
        |), isl AS (
        |  SELECT d.video_id, d.frame_idx,
        |         sum(CASE WHEN d.dst IS NULL OR d.dst > t.th
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY d.video_id ORDER BY d.frame_idx) - 1
        |           AS scene_idx
        |  FROM d LEFT JOIN thr t USING (video_id)
        |)
        |SELECT video_id,
        |       CAST(scene_idx AS BIGINT) AS scene_idx,
        |       CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |       CAST(max(frame_idx) AS BIGINT) AS end_frame,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(min(frame_idx) AS BIGINT) AS keyframe_idx
        |FROM isl GROUP BY video_id, scene_idx
        |ORDER BY video_id, scene_idx""".stripMargin),

    // Multimodal decode path: the stub decoder is a deterministic
    // function of the content digest, so even the "decoded" dimensions
    // are oracle-checkable (DuckDB recomputes them from sha256 hex).
    Contract("q_multimodal_features", (s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.fromDocuments(t(s, d, "documents")))
      feats.toDF()
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"), col("n_frames"))
        .orderBy("media_id")
    },
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |         octet_length(encode(text)) AS n_bytes,
        |         sha256(text) AS h
        |  FROM documents
        |)
        |SELECT media_id,
        |       CAST(n_bytes AS INT) AS n_bytes,
        |       CAST(16 + 4*((strpos('0123456789abcdef', h[1]) - 1)*16
        |                    + strpos('0123456789abcdef', h[2]) - 1) AS INT) AS width,
        |       CAST(16 + 4*((strpos('0123456789abcdef', h[3]) - 1)*16
        |                    + strpos('0123456789abcdef', h[4]) - 1) AS INT) AS height,
        |       CAST(1 AS INT) AS n_frames
        |FROM s ORDER BY media_id""".stripMargin),

    // REAL image codec contract (r13, the PNG sibling of
    // q_audio_features): render an 8x8 PNG per document whose pixels
    // are a pure md5 function of (doc_id, x, y), decode back through
    // javax.imageio (ImageIoDecoder), and pin dimensions, frame count
    // and the full 8-dim pixel feature (mean RGB, quadrant luma,
    // aspect). PNG is lossless for INT_RGB, and at 8x8 the 64-point
    // sample lattice visits every pixel exactly once — so the oracle
    // replays the pixel formula and the lattice sums analytically (in
    // (y, x) order, through float32), never the bytes: a decode that
    // drops, reorders or mis-scales one pixel hash-mismatches.
    Contract("q_image_features", (s, d) => {
      import s.implicits._
      val ids = t(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val bytes = Multimodal.synthPngRgb(8, 8, (x, y) => {
            md.reset()
            val hx = md.digest(s"$id:$x:$y".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (Integer.parseInt(hx.substring(0, 2), 16) << 16) |
              (Integer.parseInt(hx.substring(2, 4), 16) << 8) |
              Integer.parseInt(hx.substring(4, 6), 16)
          })
          (id, "image", bytes, "synth")
        }
      }.toDF("media_id", "modality", "content", "source")
      val feats = Multimodal.extractFeatures(
        media, graft.operators.ImageIoDecoder).toDF()
      def f6(i: Int, name: String) =
        round(element_at(col("embedding"), i).cast("double"), 6).as(name)
      feats.select(col("media_id"), col("width"), col("height"), col("n_frames"),
          f6(1, "r_mean"), f6(2, "g_mean"), f6(3, "b_mean"),
          f6(4, "luma_tl"), f6(5, "luma_tr"), f6(6, "luma_bl"), f6(7, "luma_br"),
          f6(8, "aspect"))
        .orderBy("media_id")
    },
      // Image-codec replay: the md5 pixel formula, every lattice point of
      // the 8x8 image (the 64-point grid visits each pixel once), integer
      // channel sums, luma sums in (y, x) order per quadrant, the /n/255
      // normalizations through float32. e0 suffixes force DOUBLE literals
      // (DuckDB parses bare decimals as DECIMAL, which would change the
      // arithmetic). The PNG bytes never appear — PNG is lossless, so the
      // decoded pixels ARE the formula's values.
      """WITH px AS (
        |  SELECT d.doc_id, x.x AS x, y.y AS y,
        |         md5(CAST(d.doc_id AS VARCHAR) || ':' ||
        |             CAST(x.x AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)) AS h
        |  FROM documents d, range(8) x(x), range(8) y(y)
        |), rgb AS (
        |  SELECT doc_id, x, y,
        |    (strpos('0123456789abcdef', substr(h,1,1))-1)*16 +
        |      (strpos('0123456789abcdef', substr(h,2,1))-1) AS r,
        |    (strpos('0123456789abcdef', substr(h,3,1))-1)*16 +
        |      (strpos('0123456789abcdef', substr(h,4,1))-1) AS g,
        |    (strpos('0123456789abcdef', substr(h,5,1))-1)*16 +
        |      (strpos('0123456789abcdef', substr(h,6,1))-1) AS b
        |  FROM px
        |), agg AS (
        |  SELECT doc_id,
        |    sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
        |    list_sum(list(0.299e0*r + 0.587e0*g + 0.114e0*b ORDER BY y, x)
        |      FILTER (WHERE y < 4 AND x < 4)) AS ltl,
        |    list_sum(list(0.299e0*r + 0.587e0*g + 0.114e0*b ORDER BY y, x)
        |      FILTER (WHERE y < 4 AND x >= 4)) AS ltr,
        |    list_sum(list(0.299e0*r + 0.587e0*g + 0.114e0*b ORDER BY y, x)
        |      FILTER (WHERE y >= 4 AND x < 4)) AS lbl,
        |    list_sum(list(0.299e0*r + 0.587e0*g + 0.114e0*b ORDER BY y, x)
        |      FILTER (WHERE y >= 4 AND x >= 4)) AS lbr
        |  FROM rgb GROUP BY doc_id
        |)
        |SELECT doc_id AS media_id,
        |       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |       CAST(1 AS INT) AS n_frames,
        |       round(CAST(CAST(sr/64e0/255e0 AS FLOAT) AS DOUBLE), 6) AS r_mean,
        |       round(CAST(CAST(sg/64e0/255e0 AS FLOAT) AS DOUBLE), 6) AS g_mean,
        |       round(CAST(CAST(sb/64e0/255e0 AS FLOAT) AS DOUBLE), 6) AS b_mean,
        |       round(CAST(CAST(ltl/16e0/255e0 AS FLOAT) AS DOUBLE), 6) AS luma_tl,
        |       round(CAST(CAST(ltr/16e0/255e0 AS FLOAT) AS DOUBLE), 6) AS luma_tr,
        |       round(CAST(CAST(lbl/16e0/255e0 AS FLOAT) AS DOUBLE), 6) AS luma_bl,
        |       round(CAST(CAST(lbr/16e0/255e0 AS FLOAT) AS DOUBLE), 6) AS luma_br,
        |       round(CAST(CAST(1.0e0 AS FLOAT) AS DOUBLE), 6) AS aspect
        |FROM agg ORDER BY media_id""".stripMargin),

    // REAL audio codec contract: synthesize 16-bit mono PCM WAV bytes
    // whose samples are a pure md5 function of (doc_id, frame index),
    // decode them back through javax.sound (JavaSoundDecoder), and pin
    // sample rate / frame count / duration / overall + per-window RMS.
    // The oracle never sees the bytes — it replays the sample formula
    // and the window RMS math analytically, so a decode that drops,
    // reorders, or mis-scales even one frame hash-mismatches.
    Contract("q_audio_features", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id"), pmod(col("n_chars"), lit(5)).cast("int").as("m"))
        .as[(Long, Int)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { case (id, m) =>
            val n = 400 + m * 80
            val samples = Array.tabulate(n) { k =>
              md.reset()
              val dgt = md.digest(s"${id}_$k".getBytes("UTF-8"))
              // first digest byte == first two md5 hex chars, centered
              // and scaled to the full signed-16-bit lattice
              (((dgt(0) & 0xff) - 128) * 256).toShort
            }
            graft.operators.MediaRecord(id, "audio", Multimodal.synthWavPcm16Mono(8000, samples), "synth")
          }
        }
      Multimodal.extractAudioFeatures(media.toDF(), windows = 4)
        .toDF()
        .select(
          col("media_id"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"),
          round(col("duration_s"), 6).as("duration_s"),
          round(col("rms"), 6).as("rms"),
          posexplode(col("embedding")).as(Seq("win_idx", "__w")))
        .select(
          col("media_id"), col("n_bytes"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_s"), col("rms"),
          col("win_idx").cast("long").as("win_idx"),
          round(col("__w").cast("double"), 6).as("win_rms"))
        .orderBy("media_id", "win_idx")
    },
      // Analytic replay of the audio codec round-trip: the sample at frame
      // k of doc id is ((first md5 hex byte of "id_k") - 128) * 256 on the
      // signed-16-bit lattice; window w of 4 covers frames
      // [n*w//4, n*(w+1)//4). RMS = sqrt(mean((v/32768)^2)); the per-window
      // value passes through FLOAT (the decoder's envelope is float32)
      // before rounding, mirroring AudioInfo.windowRms.
      """WITH base AS (
        |  SELECT doc_id AS media_id,
        |         CAST(400 + (n_chars % 5) * 80 AS BIGINT) AS n
        |  FROM documents
        |), frames AS (
        |  SELECT media_id, n, unnest(range(0, n)) AS k FROM base
        |), samp AS (
        |  SELECT media_id, n, k,
        |         CAST(((strpos('0123456789abcdef',
        |                  substr(md5(CAST(media_id AS VARCHAR) || '_' ||
        |                         CAST(k AS VARCHAR)), 1, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef',
        |                  substr(md5(CAST(media_id AS VARCHAR) || '_' ||
        |                         CAST(k AS VARCHAR)), 2, 1)) - 1)
        |             - 128) * 256 AS DOUBLE) AS v
        |  FROM frames
        |), win AS (
        |  SELECT s.media_id, w.w, s.v
        |  FROM samp s, (SELECT unnest(range(0, 4)) AS w) w
        |  WHERE s.k >= (s.n * w.w) // 4 AND s.k < (s.n * (w.w + 1)) // 4
        |), winrms AS (
        |  SELECT media_id, w,
        |         round(CAST(CAST(sqrt(avg(power(v / 32768.0, 2))) AS FLOAT)
        |               AS DOUBLE), 6) AS win_rms
        |  FROM win GROUP BY media_id, w
        |), overall AS (
        |  SELECT media_id,
        |         round(sqrt(avg(power(v / 32768.0, 2))), 6) AS rms
        |  FROM samp GROUP BY media_id
        |)
        |SELECT b.media_id,
        |       CAST(44 + 2 * b.n AS BIGINT) AS n_bytes,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels,
        |       b.n AS n_frames,
        |       round(b.n / 8000.0, 6) AS duration_s,
        |       o.rms,
        |       CAST(wr.w AS BIGINT) AS win_idx,
        |       wr.win_rms
        |FROM base b
        |JOIN overall o USING (media_id)
        |JOIN winrms wr USING (media_id)
        |ORDER BY media_id, win_idx""".stripMargin),

    // Multimodal: binary content column + metadata pass (decode path is
    // exercised via Multimodal.extractFeatures in MultimodalSpec).
    Contract("q_multimodal_meta", (s, d) =>
      Multimodal.metaStats(Multimodal.fromDocuments(t(s, d, "documents")))
        .orderBy("media_id"),
      """SELECT doc_id AS media_id,
        |       'text' AS modality,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       sha256(text) AS content_sha
        |FROM documents ORDER BY media_id""".stripMargin))
}
