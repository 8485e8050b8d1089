package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Media decode and features: PGM/PNG/GIF/JPEG images, WAV audio,
  * Y4M video, and media dedup. */
private[graft] object MultimodalQueries {

  def all: Seq[Query] = Seq(
    // ───── Multimodal: REAL mixed-modality decode — ids route to genuine
    // PGM / WAV / Y4M containers, parsed byte-level through one
    // mapPartitions boundary, then per-kind corpus statistics. (The
    // compressed-codec decodeStub survives only as the documented
    // JPEG/H.264 stand-in inside Multimodal, not as a driver row.) ─────
    Query("q23_multimodal", { (s, dir) =>
      Multimodal.realMediaFeatures(s, dir)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum("n_bytes").as("sum_bytes"),
          sum("units").as("sum_units"),
          sum("val_sum").as("sum_val"))
        .orderBy("kind")
    },
      // Mirrors Multimodal.realMediaFeatures + q23's per-kind rollup: the
      // PGM/WAV/Y4M payloads are deterministic functions of doc_id, so the
      // oracle recomputes header lengths, unit counts, and value sums from
      // the same arithmetic the encoders use — the Spark side must decode
      // actual container bytes back to these exact numbers.
      oracle = s"WITH ${Oracles.multimodalRowCtes} " +
        "SELECT kind, count(*) AS n, sum(n_bytes)::BIGINT AS sum_bytes, " +
        "sum(units)::BIGINT AS sum_units, sum(val_sum)::BIGINT AS sum_val " +
        "FROM f GROUP BY kind ORDER BY kind"),

    // ───── Multimodal: binary frame sampling (expression-only slicing) ─────
    // frame content checked as a string: payloads are UTF-8 text bytes in
    // the synthetic media table, so the byte slices round-trip losslessly
    // and the DuckDB oracle can reproduce them with char substrings
    Query("q40_frame_sample", { (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaTable(s, dir).toDF().filter(col("kind") === "video"),
          n = 4, frameBytes = 32)
        .select(col("id"), col("frame_no"),
          length(col("frame")).as("frame_len"),
          col("frame").cast("string").as("frame_str"))
        .orderBy("id", "frame_no")
    },
      // frame sampling: payload = UTF-8 text bytes (ASCII corpus), so byte
      // offsets/slices equal char offsets/slices and substring reproduces
      // the binary substr exactly; floor() matches Spark's int-cast truncation
      oracle = "WITH v AS (SELECT doc_id AS id, text, length(text) AS len " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT id, text, len, unnest([0, 1, 2, 3]) AS frame_no FROM v), " +
        "o AS (SELECT id, frame_no, " +
        "floor(frame_no * greatest(len - 32, 0) / 3)::INT AS off, text FROM f) " +
        "SELECT id, frame_no, " +
        "length(substring(text, off + 1, 32))::INT AS frame_len, " +
        "substring(text, off + 1, 32) AS frame_str " +
        "FROM o ORDER BY id, frame_no"),

    // ───── Multimodal: batch resize (stride-sampling stub, sizes oracle-checked) ─────
    Query("q51_resize", { (s, dir) =>
      Multimodal.resize(Multimodal.mediaTable(s, dir), maxBytes = 512)
        .toDF()
        .select(col("id"), col("kind"),
          col("nBytesIn").cast("long").as("n_in"),
          col("nBytesOut").cast("long").as("n_out"),
          // ASCII corpus: the stride-sampled bytes round-trip as chars,
          // so the oracle verifies the resized CONTENT, not just sizes
          col("payload").cast("string").as("out_str"))
        .orderBy("id")
    },
      oracle = "WITH m AS (SELECT doc_id AS id, " +
        "['image','audio','video'][(doc_id % 3 + 1)] AS kind, " +
        "strlen(text)::BIGINT AS n_in, text FROM documents), " +
        "s AS (SELECT id, kind, n_in, text, (n_in + 511) // 512 AS stride FROM m) " +
        "SELECT id, kind, n_in, " +
        "CASE WHEN n_in <= 512 THEN n_in ELSE (n_in + stride - 1) // stride END AS n_out, " +
        "CASE WHEN n_in <= 512 THEN text ELSE array_to_string(" +
        "[text[i * stride + 1] for i in range((n_in + stride - 1) // stride)], '') END AS out_str " +
        "FROM s ORDER BY id"),

    // ───── REAL image decode through the mapPartitions boundary: encode
    // genuine binary PGM (Netpbm P5) images, parse them back byte-level
    // (header tokens + raw pixels), emit dimension/pixel features. The
    // oracle recomputes features from the deterministic pixel formula —
    // the Spark side actually round-trips the bytes ─────
    Query("q90_pgm_decode", { (s, dir) =>
      Multimodal.pgmFeatures(Multimodal.pgmTable(s, dir))
        .orderBy("doc_id")
    },
      // pixel i of image d = (d*7 + i*13) % 256, dims (8 + d%9, 8 + d%7):
      // the oracle recomputes what the Spark side parses out of real bytes
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, (w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> (doc_id*7 + i*13) % 256))::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── real image resize: decode → nearest-neighbor ½× → re-encode →
    // decode again; features of the RESIZED image ─────
    Query("q91_pgm_resize", { (s, dir) =>
      import s.implicits._
      val resized = Multimodal.pgmTable(s, dir).mapPartitions(_.map(img =>
        Multimodal.PgmImage(img.id, Multimodal.resizePgmHalf(img.payload))))
      Multimodal.pgmFeatures(resized)
        .orderBy("doc_id")
    },
      // resized pixel (x, y) samples source index 2y*w + 2x
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*7 + (2*(j//w2)*w + 2*(j%w2))*13) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── REAL audio decode: RIFF/WAVE 16-bit PCM chunk-walked for
    // real (fmt + data), features from the parsed samples ─────
    Query("q93_wav_decode", { (s, dir) =>
      Multimodal.wavFeatures(s, dir).orderBy("doc_id")
    },
      // sample i = ((id*31 + i*17) % 65536) - 32768, n = 200 + id%100, 8 kHz
      oracle = "WITH d AS (SELECT doc_id, 200 + (doc_id % 100) AS n FROM documents), " +
        "p AS (SELECT doc_id, n::INT AS n_samples, 8000 AS sample_rate, " +
        "list_transform(range(n), i -> ((doc_id*31 + i*17) % 65536) - 32768) AS sm FROM d) " +
        "SELECT doc_id, n_samples, sample_rate, " +
        "list_sum(sm)::BIGINT AS amp_sum, " +
        "list_max(list_transform(sm, x -> abs(x)))::INT AS peak, " +
        "(n_samples * 1000 // 8000)::BIGINT AS duration_ms " +
        "FROM p ORDER BY doc_id"),

    // ───── REAL video decode: YUV4MPEG2 header + FRAME-delimited C420
    // planes parsed for real, per-clip luma statistics ─────
    Query("q94_y4m_decode", { (s, dir) =>
      Multimodal.y4mFeatures(s, dir).orderBy("doc_id")
    },
      // frame k, byte j: (id*11 + k*7 + j*5) % 256 over w*h luma bytes;
      // dims (4 + 2*(id%4), 4 + 2*(id%3)), frames 2 + id%3
      oracle = "WITH d AS (SELECT doc_id, 4 + (doc_id % 4) * 2 AS w, " +
        "4 + (doc_id % 3) * 2 AS h, 2 + (doc_id % 3) AS f FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, f::INT AS n_frames, " +
        "list_transform(range(f), k -> list_sum(list_transform(range(w*h), " +
        "j -> (doc_id*11 + k*7 + j*5) % 256))) AS sums FROM d) " +
        "SELECT doc_id, width, height, n_frames, " +
        "list_sum(sums)::BIGINT AS luma_sum, " +
        "list_min(sums)::BIGINT AS luma_min, list_max(sums)::BIGINT AS luma_max " +
        "FROM p ORDER BY doc_id"),

    // ───── the multimodal dedup journey: decode features through the
    // batch boundary, then exact-dup groups on the (de-normalized,
    // integer) feature fingerprint — perceptual dedup's exact baseline.
    // The L1 normalization inverts exactly: round(f·n) recovers the
    // integer bin count, so the key is engine-stable ─────
    Query("q95_image_dedup", { (s, dir) =>
      val feats = Multimodal.extractFeatures(Multimodal.mediaTable(s, dir)).toDF()
      val intHist = transform(col("features"), f =>
        round(f.cast("double") * col("nBytes"), 0).cast("long"))
      Dedup.exactGroups(feats, "id",
          md5(concat_ws(",", transform(intHist, _.cast("string")))))
        .orderBy("keeper_id")
    },
      // integer 16-bin byte histogram = the de-normalized decode features
      oracle = "WITH h AS (SELECT doc_id, " +
        "[coalesce(list_sum([CASE WHEN ascii(text[i+1]) // 16 = b THEN 1 ELSE 0 END " +
        "for i in range(length(text))]), 0) for b in range(16)] AS hist FROM documents), " +
        "k AS (SELECT doc_id, md5(array_to_string(" +
        "list_transform(hist, x -> x::VARCHAR), ',')) AS ck FROM h) " +
        "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"),

    // ───── REAL compressed image codec: per-doc synthetic PNGs round-trip
    // the JDK's zlib+defilter ImageIO codec inside the mapPartitions
    // decode boundary; the oracle recomputes every feature from the
    // deterministic pixel formula (the q90 PGM pattern — byte size is
    // encoder-dependent and deliberately absent) ─────
    Query("q245_png_decode", { (s, dir) =>
      Multimodal.pngFeatures(s, dir).orderBy("doc_id")
    },
      // pixel i = (doc_id*5 + i*11) % 256 over w = 8+id%9, h = 8+id%7 —
      // the q90 formula-recompute pattern; no byte-size column (deflate
      // output is encoder-dependent)
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, (w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> (doc_id*5 + i*11) % 256))::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── PNG resize through the REAL codec both ways: decode →
    // half-scale → RE-ENCODE (filter+deflate on executor-derived pixels)
    // → decode again; oracle recomputes from the sampled-pixel formula
    // (the q91 pattern) ─────
    Query("q247_png_resize", { (s, dir) =>
      Multimodal.pngResizeFeatures(s, dir).orderBy("doc_id")
    },
      // half-scale pixel (x,y) samples source 2y*w + 2x of the PNG formula
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*5 + (2*(j//w2)*w + 2*(j%w2))*11) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── REAL image perceptual dedup: repeated images (seed = doc_id
    // mod 50 — the web-scrape re-post shape) decode through the PGM
    // parser, aHash 8×8 mean-threshold bits, exact grouping on the
    // bitstring ─────
    Query("q249_image_ahash_dedup", { (s, dir) =>
      Dedup.exactGroups(Multimodal.imageHashes(s, dir), "doc_id", col("ahash"))
        .orderBy("keeper_id")
    },
      // aHash recomputed from the PGM pixel formula on seed = doc_id % 50:
      // grid k samples ((k//8)*h//8)*w + ((k%8)*w//8); bit = sample > mean
      oracle = "WITH s AS (SELECT doc_id, doc_id % 50 AS seed FROM documents), " +
        "d AS (SELECT doc_id, seed, 8 + (seed % 9) AS w, 8 + (seed % 7) AS h FROM s), " +
        "g AS (SELECT doc_id, list_transform(range(64), k -> " +
        "(seed*7 + (((k//8)*h//8)*w + ((k%8)*w//8))*13) % 256) AS gv FROM d), " +
        "hb AS (SELECT doc_id, array_to_string(list_transform(gv, v -> " +
        "CASE WHEN v > list_sum(gv)::DOUBLE / 64.0 THEN '1' ELSE '0' END), '') AS ahash FROM g) " +
        "SELECT min(doc_id)::BIGINT AS keeper_id, count(*)::BIGINT AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM hb GROUP BY ahash HAVING count(*) >= 2 ORDER BY keeper_id"),

    // ───── REAL audio resample round trip: decode → decimate → re-encode
    // a real RIFF container from executor-derived samples → decode again
    // (the q247 re-encode posture for sound); oracle recomputes every
    // feature from the deterministic sample formula ─────
    Query("q261_wav_resample", { (s, dir) =>
      Multimodal.wavResampleFeatures(s, dir).orderBy("doc_id")
    },
      // kept sample i' = 2i: value ((doc_id*31 + 2i*17) % 65536) - 32768;
      // rate halves to 4000, n' = (n+1)//2
      oracle = "WITH d AS (SELECT doc_id, 200 + (doc_id % 100) AS n FROM documents), " +
        "p AS (SELECT doc_id, ((n + 1) // 2)::INT AS n_samples, " +
        "4000 AS sample_rate, " +
        "list_transform(range(0, n, 2), i -> " +
        "((doc_id*31 + i*17) % 65536) - 32768) AS sm FROM d) " +
        "SELECT doc_id, n_samples, sample_rate, " +
        "list_sum(sm)::BIGINT AS amp_sum, " +
        "list_max(list_transform(sm, x -> abs(x)))::INT AS peak, " +
        "(n_samples * 1000 // 4000)::BIGINT AS duration_ms " +
        "FROM p ORDER BY doc_id"),

    // ───── Shot-boundary detection on REAL decoded Y4M video: synthetic
    // clips with deterministic scene cuts (+97/byte jumps) over small
    // inter-frame motion (+1/byte); per-pair absolute luma diff, all
    // integer, decode + diff inside the partition boundary — the
    // shot-segmentation grid frame sampling (q40) should respect ─────
    Query("q282_shot_detect", { (s, dir) =>
      Multimodal.shotDetect(s, dir, threshold = 30)
        .select(col("doc_id"),
          col("frame").cast("long").as("frame"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("diff_sum"), col("is_cut"))
        .orderBy("doc_id", "frame")
    },
      // recompute the scene index with a cumulative window, then the
      // per-pixel diff from the byte formula — all integer, no float parity
      oracle = "WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w, " +
        "4 + (doc_id % 2) * 4 AS h, 6 + (doc_id % 5) AS nf FROM documents), " +
        "fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS k FROM d), " +
        "sc AS (SELECT doc_id, w, h, k, sum(CASE WHEN k >= 1 AND " +
        "(doc_id*13 + k*17) % 5 = 0 THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY doc_id ORDER BY k) AS s FROM fr), " +
        "pr AS (SELECT a.doc_id, a.k AS frame, a.w, a.h, a.s AS s1, " +
        "b.s AS s0 FROM sc a JOIN sc b ON a.doc_id = b.doc_id " +
        "AND b.k = a.k - 1), " +
        "m AS (SELECT doc_id, frame, w, h, " +
        "list_sum(list_transform(range(w*h), j -> " +
        "abs((doc_id*29 + s1*97 + j*3 + frame) % 256 - " +
        "(doc_id*29 + s0*97 + j*3 + frame - 1) % 256)))::BIGINT AS diff_sum " +
        "FROM pr) " +
        "SELECT doc_id, frame, w AS width, h AS height, diff_sum, " +
        "CASE WHEN diff_sum > 30 * w * h THEN 1 ELSE 0 END AS is_cut " +
        "FROM m ORDER BY doc_id, frame"),

    // ───── Pitch detection on REAL decoded audio: square-wave tones of
    // period 8-32 samples, integer autocorrelation argmax over lags
    // 2-40 — detected lag must equal the synthesized period; all-integer,
    // decode + scan inside the partition boundary ─────
    Query("q286_pitch_detect", { (s, dir) =>
      Multimodal.pitchDetect(s, dir, minLag = 2, maxLag = 40)
        .orderBy("doc_id")
    },
      // square-wave samples recomputed from the formula; argmax via
      // row_number (corr DESC, lag ASC) ≡ the Scala first-on-tie scan
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 25) AS p, " +
        "8000 + (doc_id % 10) * 100 AS amp, 256 + (doc_id % 64) AS n " +
        "FROM documents), " +
        "l AS (SELECT doc_id, p, amp, n, unnest(range(2, 41)) AS lag FROM d), " +
        "r AS (SELECT doc_id, n, lag, " +
        "list_sum(list_transform(range(n - lag), i -> " +
        "(CASE WHEN (i % p) < p // 2 THEN amp ELSE -amp END) * " +
        "(CASE WHEN ((i + lag) % p) < p // 2 THEN amp ELSE -amp END)))" +
        "::BIGINT AS corr FROM l), " +
        "rk AS (SELECT doc_id, n, lag, corr, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY corr DESC, lag) AS rn FROM r) " +
        "SELECT doc_id, n::BIGINT AS n_samples, 8000::BIGINT AS sample_rate, " +
        "lag::BIGINT AS best_lag, corr AS peak_corr " +
        "FROM rk WHERE rn = 1 ORDER BY doc_id"),

    // ───── Energy-threshold VAD segmentation on REAL decoded audio:
    // alternating tone bursts / near-silence, maximal |s|>100 runs found
    // in the decoded sample stream inside the partition boundary — one
    // all-integer row per segment ─────
    Query("q296_vad_segments", { (s, dir) =>
      Multimodal.vadSegments(s, dir, threshold = 100)
        .select(col("doc_id"), col("seg").cast("long").as("seg"),
          col("start_i").cast("long").as("start_i"),
          col("end_i").cast("long").as("end_i"),
          col("len").cast("long").as("len"),
          col("peak").cast("long").as("peak"))
        .orderBy("doc_id", "seg")
    },
      // q296: Multimodal.vadSegments mirror — samples from the synthesis
      // formula, maximal runs via gaps-and-islands.
      oracle = "WITH d AS (SELECT doc_id, 240 + (doc_id % 60) AS n FROM documents), " +
        "ix AS (SELECT doc_id, unnest(range(n)) AS i FROM d), " +
        "sm AS (SELECT doc_id, i, CASE WHEN (i // 40 + doc_id) % 3 <> 0 " +
        "THEN ((doc_id*31 + i*17) % 65536) - 32768 " +
        "ELSE ((doc_id*7 + i*13) % 101) - 50 END AS s FROM ix), " +
        "a AS (SELECT doc_id, i, s FROM sm WHERE abs(s) > 100), " +
        "g AS (SELECT doc_id, i, s, i - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY i) AS grp FROM a), " +
        "seg0 AS (SELECT doc_id, grp, min(i) AS start_i, max(i) AS end_i, " +
        "count(*)::BIGINT AS len, max(abs(s)) AS peak FROM g GROUP BY 1, 2), " +
        "seg AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY start_i) - 1 AS seg, start_i, end_i, len, peak FROM seg0) " +
        "SELECT doc_id, seg::BIGINT AS seg, start_i::BIGINT AS start_i, " +
        "end_i::BIGINT AS end_i, len, peak::BIGINT AS peak " +
        "FROM seg ORDER BY doc_id, seg"),

    // ───── REAL GIF decode (LZW + palette resolve, javax.imageio):
    // encode → decode → pixel stats inside the partition boundary — the
    // second real compressed codec beside q245's PNG/DEFLATE ─────
    Query("q303_gif_decode", { (s, dir) =>
      Multimodal.gifFeatures(s, dir).orderBy("doc_id")
    },
      // q303: Multimodal.gifFeatures mirror — features from the pixel
      // formula (the GIF round trip is exact: 256-gray identity palette).
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 10) AS w, 8 + (doc_id % 8) AS h " +
        "FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
        "(w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> (doc_id*7 + i*13) % 256))" +
        "::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── Goertzel single-frequency spectral energy on REAL decoded
    // audio: pinned 2·cos coefficients (no libm parity), 9dp-rounded
    // recurrence inside the codec boundary, WITH RECURSIVE oracle —
    // the engine's first true spectral feature ─────
    Query("q312_goertzel", { (s, dir) =>
      Multimodal.goertzelEnergy(s, dir).orderBy("doc_id")
    },
      // q312: Multimodal.goertzelEnergy mirror — the WITH RECURSIVE
      // sequential fold over the burst-synthesis samples, pinned 2·cos
      // coefficients, 9dp per step (the Holt recurrence-parity pattern).
      oracle = {
        val coeffRows = graft.ops.Multimodal.goertzelPeriods
          .map { case (p, c) => s"SELECT $p AS p, $c::DOUBLE AS c" }
          .mkString(" UNION ALL ")
        val x = "(CASE WHEN ((i + 1) // 40 + doc_id) % 3 <> 0 " +
          "THEN ((doc_id * 31 + (i + 1) * 17) % 65536) - 32768 " +
          "ELSE ((doc_id * 7 + (i + 1) * 13) % 101) - 50 END)::DOUBLE / " +
          "32768.0::DOUBLE"
        "WITH RECURSIVE d AS (SELECT doc_id, 240 + (doc_id % 60) AS n " +
          "FROM documents), " +
          s"cf AS ($coeffRows), " +
          "base AS (SELECT doc_id, n, p, c FROM d CROSS JOIN cf), " +
          "st AS (SELECT doc_id, n, p, c, (-1)::BIGINT AS i, " +
          "0.0::DOUBLE AS s1, 0.0::DOUBLE AS s2 FROM base " +
          "UNION ALL " +
          s"SELECT doc_id, n, p, c, i + 1, round(($x) + c * s1 - s2, 9), s1 " +
          "FROM st WHERE i + 1 < n), " +
          "fin AS (SELECT doc_id, n, p, " +
          "round(s1 * s1 + s2 * s2 - c * s1 * s2, 6) AS e " +
          "FROM st WHERE i = n - 1) " +
          "SELECT doc_id, max(n)::INT AS n, " +
          "max(CASE p WHEN 8 THEN e END) AS e8, " +
          "max(CASE p WHEN 16 THEN e END) AS e16, " +
          "max(CASE p WHEN 32 THEN e END) AS e32 " +
          "FROM fin GROUP BY doc_id ORDER BY doc_id"
      }),

    // ───── GIF resize round trip THROUGH the real codec: decode → ½×
    // nearest-neighbor → RE-ENCODE (LZW) → decode; proves the
    // executor-side GIF encode path on derived pixels (q247's LZW
    // twin) ─────
    Query("q321_gif_resize", { (s, dir) =>
      Multimodal.gifResizeFeatures(s, dir).orderBy("doc_id")
    },
      // half-scale pixel (x,y) samples source 2y*w + 2x of the GIF formula
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 10) AS w, 8 + (doc_id % 8) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*7 + (2*(j//w2)*w + 2*(j%w2))*13) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── REAL JPEG decode (DCT + Huffman, javax.imageio): encode at
    // q=1.0 over flat-8×8-block synthesis (DC-only DCT → bit-exact
    // round trip, empirically verified) → decode → pixel stats — the
    // third real compressed codec beside q245 PNG and q303 GIF ─────
    Query("q323_jpeg_decode", { (s, dir) =>
      Multimodal.jpegFeatures(s, dir).orderBy("doc_id")
    },
      // flat-block JPEG at q=1.0 round-trips exactly, so the oracle is
      // the pixel formula itself (the q303 GIF posture)
      oracle = "WITH d AS (SELECT doc_id, 8 + (doc_id % 50) AS w, " +
        "8 + (doc_id % 40) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
        "(w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> " +
        "((doc_id*31 + ((i % w)//8)*7 + ((i//w)//8)*13) * 29) % 256))" +
        "::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // ───── variance-of-Laplacian blur gate over REAL decoded bytes:
    // mixed-sharpness PGM corpus (docs ≡ 0 mod 3 carry flat 4-pixel
    // runs), per-partition decode + row-local 4-neighbor kernel, exact
    // integer moments, threshold measured to reject 0 sharp images and
    // pass 5/167 borderline blurred ones at sf0.01 ─────
    Query("q331_blur_gate", { (s, dir) =>
      Multimodal.laplacianSharpness(
          Multimodal.pgmMixedTable(s, dir), threshold = 35000.0)
        .orderBy("doc_id")
    },
      // q331: variance-of-Laplacian sharpness from the pixel FORMULA (the
      // q90 pattern — the Spark side parses real bytes, the oracle
      // recomputes): pixel i of doc d is (d·7 + step·13) mod 256 with
      // step = ⌊i/4⌋ on blurred docs (d ≡ 0 mod 3), i otherwise. Interior
      // Laplacian responses via nested list_transform (index list → lap
      // list), exact integer moments, ONE double division.
      oracle = {
        val threshold: Double = 35000.0
        def px(i: String) =
          s"((doc_id*7 + (CASE WHEN doc_id % 3 = 0 THEN ($i) // 4 " +
            s"ELSE ($i) END)*13) % 256)"
        val varE = "(n_interior*lap_ss - lap_sum*lap_sum)::DOUBLE / " +
          "(n_interior::DOUBLE * n_interior)"
        "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, " +
          "8 + (doc_id % 7) AS h FROM documents), " +
          "l AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
          "((w-2)*(h-2))::BIGINT AS n_interior, " +
          "list_transform(list_transform(range((w-2)*(h-2)), " +
          "j -> (1 + (j // (w-2)))*w + 1 + (j % (w-2))), " +
          s"i -> 4*${px("i")} - ${px("i-1")} - ${px("i+1")} - " +
          s"${px("i-w")} - ${px("i+w")}) AS laps FROM d), " +
          "m AS (SELECT doc_id, width, height, n_interior, " +
          "list_sum(laps)::BIGINT AS lap_sum, " +
          "list_sum(list_transform(laps, v -> v*v))::BIGINT AS lap_ss FROM l) " +
          "SELECT doc_id, width, height, n_interior, lap_sum, lap_ss, " +
          s"$varE AS var_lap, " +
          s"CASE WHEN $varE >= ${threshold}::DOUBLE THEN 1 ELSE 0 END AS sharp " +
          "FROM m ORDER BY doc_id"
      })
  )
}
