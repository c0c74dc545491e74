package graft.queries

import graft.engine.Tables
import graft.operators.Multimodal

/** Binary-column image, audio and video queries (`multimodal_*`). */
object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ── multimodal binary-column plumbing (stubbed decode) ──────────────
    // modality accounting: (source, media_type) counts + byte mass
    QuerySpec("multimodal_media_stats", (s, d) =>
      Multimodal.mediaStats(Tables.documents(s, d))
        .orderBy("source", "media_type"),
      // container framing overhead replayed from the encoder's public
      // layout: PNG sig+IHDR+IDAT+IEND = 57, JPEG SOI+SOF0+SOS+EOI = 37,
      // WAV 44-byte RIFF header, raw video = 0
      _ =>
        """SELECT source,
          |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
          |            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          |       count(*) AS n_docs,
          |       CAST(sum(strlen(text) +
          |                CASE WHEN doc_id % 6 = 0 THEN 57
          |                     WHEN doc_id % 6 = 3 THEN 37
          |                     WHEN doc_id % 3 = 1 THEN 44
          |                     ELSE 0 END) AS BIGINT) AS total_bytes,
          |       CAST(max(strlen(text) +
          |                CASE WHEN doc_id % 6 = 0 THEN 57
          |                     WHEN doc_id % 6 = 3 THEN 37
          |                     WHEN doc_id % 3 = 1 THEN 44
          |                     ELSE 0 END) AS BIGINT) AS max_bytes
          |FROM documents
          |GROUP BY source, media_type
          |ORDER BY source, media_type""".stripMargin),
    QuerySpec("multimodal_decode", (s, d) =>
      Multimodal.decodeFeatures(s,
        Multimodal.attachMedia(Tables.documents(s, d))).toDF().orderBy("doc_id"),
      // the Spark side round-trips these values through REAL container
      // header parsing (PNG IHDR big-endian u32s, JPEG SOF0 u16s, WAV fmt
      // little-endian); the oracle replays the ENCODER's deterministic
      // parameter choices — same published-artifact pattern as the ANN
      // centroid oracles. checksum covers the payload SECTION (PNG IDAT /
      // JPEG entropy segment / WAV data chunk) = the text bytes.
      _ =>
        """SELECT doc_id,
          |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
          |            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          |       CAST(strlen(text) + CASE WHEN doc_id % 6 = 0 THEN 57
          |                                WHEN doc_id % 6 = 3 THEN 37
          |                                WHEN doc_id % 3 = 1 THEN 44
          |                                ELSE 0 END AS INTEGER) AS size_bytes,
          |       list_reduce([CAST(ascii(text[i]) AS BIGINT) for i in range(1, CAST(strlen(text) AS INTEGER) + 1)],
          |                   (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum,
          |       CAST(CASE WHEN doc_id % 3 = 0 THEN strlen(text) % 251 + 1 ELSE 0 END AS INTEGER) AS width,
          |       CAST(CASE WHEN doc_id % 3 = 0 THEN (strlen(text) * 7 + 13) % 251 + 1 ELSE 0 END AS INTEGER) AS height,
          |       CAST(CASE WHEN doc_id % 3 = 0 THEN 3
          |                 WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
          |                 ELSE 0 END AS INTEGER) AS channels,
          |       CAST(CASE WHEN doc_id % 3 = 1 THEN strlen(text) // ((1 + doc_id % 2) * 2)
          |                 WHEN doc_id % 3 = 2 THEN strlen(text) // 100 + 1
          |                 ELSE 1 END AS INTEGER) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("multimodal_frames", (s, d) =>
      Multimodal.sampleFrames(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx"),
      _ =>
        """SELECT doc_id,
          |       CAST(byte_offset // 100 AS INTEGER) AS frame_idx,
          |       CAST(byte_offset AS INTEGER) AS byte_offset,
          |       CAST(least(100, n - byte_offset) AS INTEGER) AS frame_bytes
          |FROM (
          |  SELECT doc_id, strlen(text) AS n,
          |         unnest(generate_series(0, CAST(strlen(text) AS BIGINT) - 1, 100)) AS byte_offset
          |  FROM documents WHERE doc_id % 3 = 2)
          |ORDER BY doc_id, frame_idx""".stripMargin),
    QuerySpec("multimodal_resize", (s, d) =>
      Multimodal.resizeImages(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id"),
      _ =>
        """WITH f AS (SELECT doc_id,
          |       CAST(strlen(text) + CASE WHEN doc_id % 6 = 0 THEN 57
          |                                ELSE 37 END AS INTEGER) AS size_bytes,
          |       CAST(strlen(text) % 251 + 1 AS INTEGER) AS in_w,
          |       CAST((strlen(text) * 7 + 13) % 251 + 1 AS INTEGER) AS in_h
          |FROM documents WHERE doc_id % 3 = 0),
          |r AS (SELECT *,
          |       floor(CAST(greatest(in_h, 1) AS DOUBLE) * 64 / CAST(greatest(in_w, 1) AS DOUBLE)) AS fith
          |FROM f)
          |SELECT doc_id, size_bytes, in_w, in_h,
          |       CAST(CASE WHEN in_w <= 64 AND in_h <= 64 THEN in_w
          |            WHEN fith <= 64 THEN 64
          |            ELSE CAST(floor(CAST(greatest(in_w, 1) AS DOUBLE) * 64 / CAST(greatest(in_h, 1) AS DOUBLE)) AS INTEGER) END AS INTEGER) AS out_w,
          |       CAST(CASE WHEN in_w <= 64 AND in_h <= 64 THEN in_h
          |            WHEN fith <= 64 THEN CAST(fith AS INTEGER)
          |            ELSE 64 END AS INTEGER) AS out_h,
          |       CAST(floor(CAST(size_bytes AS DOUBLE) *
          |                  CAST(out_w * out_h AS DOUBLE) /
          |                  greatest(CAST(in_w * in_h AS DOUBLE), 1.0)) AS BIGINT) AS out_bytes
          |FROM r ORDER BY doc_id""".stripMargin),
    // pixel-level perceptual hash: REAL PNG pixel decode (zlib inflate +
    // scanline unfilter) → integer luma grid → 56-bit dHash
    QuerySpec("multimodal_phash", (s, d) =>
      Multimodal.imagePerceptualHash(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)))
        .orderBy("doc_id"),
      // the Spark side decodes ACTUAL PNG pixels (zlib inflate + scanline
      // unfilter) and computes the dHash from the luma grid; the oracle
      // replays the pixel GENERATOR's deterministic block formula — gray =
      // first md5 byte of "seed_bx_by" mod 200 (strpos hex parsing, the
      // simhashSql pattern), +40 on the one perturbed block — so any
      // decode/grid/packing slip hash-mismatches.
      // 56 bits (7 rows × 8 comparisons) keep every sum inside BIGINT.
      _ =>
        s"""WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
          |             FROM documents WHERE doc_id % 3 = 0),
          |bits AS (SELECT i.doc_id,
          |$dhashBit
          |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
          |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
          |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the SAME hashes over MIXED containers: odd image slots re-render
    // the identical grid as a REAL baseline grayscale JPEG, decoded
    // through the full Huffman + dequant + IDCT path (block-constant
    // content is lossless under the flat-8 quant table, which is what
    // keeps this oracle digit-exact) — proves the JPEG pixel decode
    // end to end with the same md5 formula as multimodal_phash
    QuerySpec("multimodal_phash_mixed", (s, d) =>
      Multimodal.imagePerceptualHash(s,
        Multimodal.attachPixelImagesMixed(Tables.documents(s, d)))
        .orderBy("doc_id"),
      // IDENTICAL formula to multimodal_phash: the mixed corpus renders
      // the same grid per doc (PNG at 4-px blocks, lossless baseline
      // JPEG at 8-px blocks), so only the Spark-side decode path differs
      _ =>
        s"""WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
          |             FROM documents WHERE doc_id % 3 = 0),
          |bits AS (SELECT i.doc_id,
          |$dhashBit
          |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
          |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
          |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // image near-dup pairs: hamming-LSH bands (7×8-bit) over the dHash,
    // refined by bit_count(xor) ≤ 6 — minhash-LSH's image analog,
    // bucketed, never all-pairs
    QuerySpec("multimodal_image_neardup", (s, d) =>
      Multimodal.imageNearDupPairs(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b"),
      // same banding scheme as the Spark side (7×8-bit bands, complete for
      // hamming <= 6 by pigeonhole), pair set refined by bit_count(xor)
      _ =>
        s"""WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
          |             FROM documents WHERE doc_id % 3 = 0),
          |bits AS (SELECT i.doc_id,
          |$dhashBit
          |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
          |  FROM bits GROUP BY doc_id),
          |bands AS MATERIALIZED (
          |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
          |  FROM ph, generate_series(0, 6) b(v)),
          |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |                x.phash AS pa, y.phash AS pb
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.bh = y.bh
          |          AND x.doc_id < y.doc_id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
          |FROM cand WHERE bit_count(xor(pa, pb)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin),
    // query-by-image serving: three EXTERNAL query PNGs (perturbation
    // blocks the store never uses) decoded through the same real pixel
    // path, ranked top-5 against the stored hashes by (hamming, doc_id)
    QuerySpec("multimodal_phash_search", (s, d) =>
      Multimodal.phashSearch(s,
        Multimodal.attachPixelImages(Tables.documents(s, d)),
        Multimodal.syntheticQueryImages(s, Seq((3, 5), (17, 6), (29, 5))))
        .orderBy("query_id", "rank"),
      // serving: query hashes replayed from the literal (seed, p) rows,
      // store hashes from the generator formula, exact top-5 per query
      _ =>
        s"""WITH img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
          |             FROM documents WHERE doc_id % 3 = 0),
          |q(doc_id, seed, p) AS (
          |  VALUES (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
          |         (1, 17, 6), (2, 29, 5)),
          |allp AS (SELECT 's' AS side, doc_id, seed, p FROM img
          |         UNION ALL SELECT 'q', doc_id, seed, p FROM q),
          |bits AS (SELECT a.side, a.doc_id,
          |$dhashBit
          |  FROM allp a, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT side, doc_id, CAST(sum(bit) AS BIGINT) AS phash
          |  FROM bits GROUP BY side, doc_id),
          |scored AS (SELECT qs.doc_id AS query_id, st.doc_id,
          |                  CAST(bit_count(xor(qs.phash, st.phash)) AS INTEGER) AS hamming
          |           FROM (SELECT * FROM ph WHERE side = 'q') qs
          |           CROSS JOIN (SELECT * FROM ph WHERE side = 's') st)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, hamming
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |                                   ORDER BY hamming, doc_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    // content-level audio features: REAL 16-bit LE PCM decode of the
    // WAV data chunk — sample count, total/peak |amplitude|, zero
    // crossings, all integer-exact
    QuerySpec("multimodal_audio_features", (s, d) =>
      Multimodal.audioContentFeatures(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id"),
      // the WAV data chunk IS the text bytes (attachMedia), so the oracle
      // re-derives the 16-bit LE signed samples from character codes and
      // replays the integer feature arithmetic; Spark round-trips through
      // the real container parse + PCM decode
      _ =>
        """WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
          |           FROM documents WHERE doc_id % 3 = 1),
          |s AS (SELECT doc_id, unnest(range(0, n)) AS i, text FROM a),
          |v AS (SELECT doc_id, i,
          |             ascii(text[CAST(2*i+1 AS INTEGER)])
          |             + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
          |      FROM s),
          |sv AS (SELECT doc_id, i,
          |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
          |       FROM v),
          |f AS (SELECT doc_id,
          |             count(*) AS n_samples,
          |             sum(abs(x)) AS sum_abs,
          |             max(abs(x)) AS peak_abs,
          |             sum(CASE WHEN prev IS NOT NULL
          |                       AND (x >= 0) != (prev >= 0)
          |                      THEN 1 ELSE 0 END) AS zero_crossings
          |      FROM (SELECT doc_id, x,
          |                   lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          |            FROM sv)
          |      GROUP BY doc_id)
          |SELECT a.doc_id,
          |       CAST(coalesce(f.n_samples, 0) AS BIGINT) AS n_samples,
          |       CAST(coalesce(f.sum_abs, 0) AS BIGINT) AS sum_abs,
          |       CAST(coalesce(f.peak_abs, 0) AS BIGINT) AS peak_abs,
          |       CAST(coalesce(f.zero_crossings, 0) AS BIGINT) AS zero_crossings
          |FROM a LEFT JOIN f ON f.doc_id = a.doc_id
          |ORDER BY a.doc_id""".stripMargin),
    // audio near-dup: 56-bit energy-envelope fingerprint (57 balanced
    // windows, cross-multiplied mean comparisons — no floats) through
    // the same 7×8-bit hamming-LSH band machinery as the image phash
    QuerySpec("multimodal_audio_neardup", (s, d) =>
      Multimodal.audioNearDupPairs(s,
        Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b"),
      // energy-envelope fingerprint replayed in SQL: balanced windows via
      // i*57 // n, cross-multiplied mean comparisons, same 7×8-bit bands
      _ =>
        s"""WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
          |           FROM documents WHERE doc_id % 3 = 1),
          |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
          |$audioFingerprintCtes
          |bands AS MATERIALIZED (
          |  SELECT doc_id, afp, b.v AS band, (afp >> (b.v*8)) & 255 AS bh
          |  FROM ph, generate_series(0, 6) b(v)),
          |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |                x.afp AS pa, y.afp AS pb
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.bh = y.bh
          |          AND x.doc_id < y.doc_id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
          |FROM cand WHERE bit_count(xor(pa, pb)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin),
    // image dedup clusters: connected components over the phash pair
    // graph (the shared min-label CC loop), min doc_id as the canonical
    // label; singletons label themselves — completes pairs → clusters
    // for the image modality exactly as the text/embedding dedups do.
    // Compute-once PUBLISHED (round 12): the gates read the same table
    QuerySpec("multimodal_image_clusters", (s, d) =>
      Multimodal.sharedImageClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id"),
      // connected components over the same pair graph via a recursive
      // transitive closure (the embedding-clusters oracle pattern) — min
      // reachable doc_id is the label, singletons label themselves
      _ =>
        s"""WITH RECURSIVE
          |img AS (SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 5 AS p
          |        FROM documents WHERE doc_id % 3 = 0),
          |bits AS (SELECT i.doc_id,
          |$dhashBit
          |  FROM img i, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
          |  FROM bits GROUP BY doc_id),
          |bands AS MATERIALIZED (
          |  SELECT doc_id, phash, b.v AS band, (phash >> (b.v*8)) & 255 AS bh
          |  FROM ph, generate_series(0, 6) b(v)),
          |pr AS MATERIALIZED (
          |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          |  FROM bands x JOIN bands y
          |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          |  WHERE bit_count(xor(x.phash, y.phash)) <= 6),
          |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
          |          UNION ALL SELECT doc_b, doc_a FROM pr),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
          |SELECT i.doc_id, coalesce(min(r.v), i.doc_id) AS cluster_id
          |FROM img i LEFT JOIN reach r ON r.u = i.doc_id
          |GROUP BY i.doc_id
          |ORDER BY i.doc_id""".stripMargin),
    // REAL video containers: 4 concatenated pixel-PNG frames per video
    // doc, split back out (guarded chunk walk), each frame through the
    // same real pixel decode as the stills → per-frame 56-bit dHash
    QuerySpec("multimodal_video_frames", (s, d) =>
      Multimodal.videoFrameHashes(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx"),
      // per-frame generator replayed in SQL: video u = doc_id//3 renders
      // frames f=0..3 as (seed, p) = (u % 24, ((u//24) % 7 + f) % 7) with
      // the SAME md5 block formula as the stills; Spark genuinely splits
      // the concatenated-PNG container and pixel-decodes every frame
      _ =>
        s"""WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
          |                    ((doc_id // 3) // 24) % 7 AS off
          |             FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
          |       FROM vid, generate_series(0, 3) f(v)),
          |bits AS (SELECT fr.doc_id, fr.frame_idx,
          |$dhashBit
          |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v))
          |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          |       CAST(36 AS INTEGER) AS width, CAST(28 AS INTEGER) AS height,
          |       CAST(sum(bit) AS BIGINT) AS fhash
          |FROM bits GROUP BY doc_id, frame_idx
          |ORDER BY doc_id, frame_idx""".stripMargin),
    // video near-dup via frame-hash overlap: distinct (video, fhash)
    // equi-joined on the exact hash (bucketed, never all-pairs) with a
    // hot-frame df cut, pairs sharing >= 2 distinct frames
    QuerySpec("multimodal_video_neardup", (s, d) =>
      Multimodal.videoNearDupPairs(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)))
        .orderBy("doc_a", "doc_b"),
      // frame-hash overlap replayed: distinct (video, fhash), df cut at
      // 1024, exact-hash self-join, pairs with >= 2 shared frames
      _ =>
        s"""WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
          |                    ((doc_id // 3) // 24) % 7 AS off
          |             FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
          |       FROM vid, generate_series(0, 3) f(v)),
          |bits AS (SELECT fr.doc_id, fr.frame_idx,
          |$dhashBit
          |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
          |  FROM bits GROUP BY doc_id, frame_idx),
          |fh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM ph),
          |keep AS (SELECT fhash FROM fh GROUP BY fhash HAVING count(*) <= 1024),
          |fhk AS MATERIALIZED (
          |  SELECT fh.doc_id, fh.fhash FROM fh JOIN keep USING (fhash))
          |SELECT doc_a, doc_b, CAST(n AS BIGINT) AS shared_frames
          |FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n
          |      FROM fhk x JOIN fhk y
          |        ON x.fhash = y.fhash AND x.doc_id < y.doc_id
          |      GROUP BY 1, 2)
          |WHERE n >= 2
          |ORDER BY doc_a, doc_b""".stripMargin),
    // scene-change detection: per-frame dHash hamming vs predecessor
    // over 6-frame scene containers (two 3-frame scenes, never sharing
    // a seed); boundary where hamming > 8 — a threshold the generator
    // separates EXHAUSTIVELY (within-scene <= 3, cross-seed >= 16)
    QuerySpec("multimodal_video_scenes", (s, d) =>
      Multimodal.videoSceneBoundaries(s,
        Multimodal.attachSceneVideos(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx"),
      // the scene-container generator replayed per frame (frames 0-2 =
      // (seedA, f), 3-5 = (seedB, f-3), seedB offset 1 + u % 23 on the
      // 24-ring) + lag/xor/bit_count and the running boundary count
      _ =>
        s"""WITH vid AS (SELECT doc_id,
          |                    (doc_id // 3) % 24 AS sa,
          |                    ((doc_id // 3) % 24 + 1 + (doc_id // 3) % 23) % 24 AS sb
          |             FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, f.v AS frame_idx,
          |              CASE WHEN f.v < 3 THEN sa ELSE sb END AS seed,
          |              f.v % 3 AS p
          |       FROM vid, generate_series(0, 5) f(v)),
          |bits AS (SELECT fr.doc_id, fr.frame_idx,
          |$dhashBit
          |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS (SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
          |       FROM bits GROUP BY doc_id, frame_idx),
          |lg AS (SELECT doc_id, frame_idx, fhash,
          |              lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
          |       FROM ph)
          |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          |       CAST(bit_count(xor(fhash, prev)) AS INTEGER) AS hamming_prev,
          |       coalesce(bit_count(xor(fhash, prev)) > 8, FALSE) AS is_boundary,
          |       CAST(sum(CASE WHEN coalesce(bit_count(xor(fhash, prev)) > 8, FALSE)
          |                     THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT) AS scene_id
          |FROM lg
          |ORDER BY doc_id, frame_idx""".stripMargin),
    // silence segmentation: per audio doc the quiet-window count,
    // merged quiet segments, and longest quiet run over planted
    // speech/silence WAVs — integer-exact cross-multiplied quiet cut,
    // the trim/VAD accounting before audio feature extraction
    QuerySpec("multimodal_audio_segments", (s, d) =>
      Multimodal.audioSilenceSegments(s,
        Multimodal.attachSegmentedAudio(Tables.documents(s, d)))
        .orderBy("doc_id"),
      // the segmented-audio generator replayed (quiet ranges + closed-form
      // amplitudes as integer formulas of doc_id and sample index), the
      // cross-multiplied quiet cut, and gaps-and-islands run merging
      _ =>
        """WITH a AS (SELECT doc_id, doc_id // 3 AS u
          |           FROM documents WHERE doc_id % 3 = 1),
          |sv AS (SELECT doc_id, u, i.v AS i, CAST(i.v // 10 AS INTEGER) AS w
          |       FROM a, generate_series(0, 569) i(v)),
          |amp AS (SELECT doc_id, w,
          |          CASE WHEN ((u % 5) > 0 AND w >= (u % 20) AND w < (u % 20) + (u % 5))
          |                 OR (w >= 30 + (u % 15) AND w < 30 + (u % 15) + 2 + (u % 4))
          |               THEN 0::BIGINT
          |               ELSE abs((u * 7919 + i * 104729 + i * i * 31) % 4001 - 2000)
          |          END AS aa
          |        FROM sv),
          |g AS (SELECT doc_id, w, CAST(sum(aa) AS BIGINT) AS sm,
          |             CAST(count(*) AS BIGINT) AS c
          |      FROM amp GROUP BY doc_id, w),
          |tot AS (SELECT doc_id, CAST(sum(sm) AS BIGINT) AS smtot,
          |               CAST(sum(c) AS BIGINT) AS n
          |        FROM g GROUP BY doc_id),
          |q AS (SELECT g.doc_id, g.w,
          |             (g.sm * 4 * t.n < t.smtot * g.c) AS quiet
          |      FROM g JOIN tot t ON t.doc_id = g.doc_id),
          |r AS (SELECT doc_id, w, quiet,
          |             w - row_number() OVER (PARTITION BY doc_id, quiet
          |                                    ORDER BY w) AS grp
          |      FROM q),
          |seg AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len
          |        FROM r WHERE quiet GROUP BY doc_id, grp)
          |SELECT a.doc_id,
          |       coalesce(CAST(sum(seg.len) AS BIGINT), 0) AS quiet_windows,
          |       CAST(count(seg.grp) AS BIGINT) AS quiet_segments,
          |       coalesce(CAST(max(seg.len) AS BIGINT), 0) AS longest_quiet_run
          |FROM a LEFT JOIN seg ON seg.doc_id = a.doc_id
          |GROUP BY a.doc_id
          |ORDER BY a.doc_id""".stripMargin),
    // scene-balanced keyframe sampling: one keyframe per (video, scene)
    // with the scene's frame count — per-scene sampling so long static
    // shots don't dominate a frame budget
    QuerySpec("multimodal_scene_keyframes", (s, d) =>
      Multimodal.sceneKeyframes(s,
        Multimodal.attachSceneVideos(Tables.documents(s, d)))
        .orderBy("doc_id", "scene_id"),
      // the scenes chain grouped to one keyframe per (video, scene)
      _ =>
        s"""WITH vid AS (SELECT doc_id,
          |                    (doc_id // 3) % 24 AS sa,
          |                    ((doc_id // 3) % 24 + 1 + (doc_id // 3) % 23) % 24 AS sb
          |             FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, f.v AS frame_idx,
          |              CASE WHEN f.v < 3 THEN sa ELSE sb END AS seed,
          |              f.v % 3 AS p
          |       FROM vid, generate_series(0, 5) f(v)),
          |bits AS (SELECT fr.doc_id, fr.frame_idx,
          |$dhashBit
          |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS (SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
          |       FROM bits GROUP BY doc_id, frame_idx),
          |lg AS (SELECT doc_id, frame_idx, fhash,
          |              lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
          |       FROM ph),
          |sc AS (SELECT doc_id, frame_idx,
          |              CAST(sum(CASE WHEN coalesce(bit_count(xor(fhash, prev)) > 8, FALSE)
          |                            THEN 1 ELSE 0 END)
          |                   OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT) AS scene_id
          |       FROM lg)
          |SELECT doc_id, scene_id, CAST(min(frame_idx) AS INTEGER) AS keyframe_idx,
          |       CAST(count(*) AS BIGINT) AS scene_frames
          |FROM sc GROUP BY doc_id, scene_id
          |ORDER BY doc_id, scene_id""".stripMargin),
    // audio dedup clusters: connected components over the
    // energy-fingerprint pair graph — completing pairs → clusters for
    // the audio modality as for image/video/text/embedding
    // (compute-once published; the full gate reads the same table)
    QuerySpec("multimodal_audio_clusters", (s, d) =>
      Multimodal.sharedAudioClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id"),
      // the audio fingerprint chain + the recursive transitive closure:
      // min reachable doc_id labels the cluster, singletons self-label
      _ =>
        s"""WITH RECURSIVE
          |a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
          |      FROM documents WHERE doc_id % 3 = 1),
          |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
          |$audioFingerprintCtes
          |bands AS MATERIALIZED (
          |  SELECT doc_id, afp, b.v AS band, (afp >> (b.v*8)) & 255 AS bh
          |  FROM ph, generate_series(0, 6) b(v)),
          |pr AS MATERIALIZED (
          |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          |  FROM bands x JOIN bands y
          |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          |  WHERE bit_count(xor(x.afp, y.afp)) <= 6),
          |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
          |          UNION ALL SELECT doc_b, doc_a FROM pr),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
          |SELECT a.doc_id, coalesce(min(r.v), a.doc_id) AS cluster_id
          |FROM a LEFT JOIN reach r ON r.u = a.doc_id
          |GROUP BY a.doc_id
          |ORDER BY a.doc_id""".stripMargin),
    // video dedup clusters: connected components over the frame-hash
    // overlap pair graph (the shared min-label CC loop) — pairs →
    // clusters for video exactly as the image/text/embedding modalities
    // (compute-once published; the full gate reads the same table)
    QuerySpec("multimodal_video_clusters", (s, d) =>
      Multimodal.sharedVideoClusters(s, Tables.documents(s, d), cacheKey = d)
        .orderBy("doc_id"),
      // the video pair chain + the recursive transitive closure (the
      // image-clusters pattern): min reachable doc_id labels the cluster,
      // singleton videos label themselves
      _ =>
        s"""WITH RECURSIVE
          |vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
          |               ((doc_id // 3) // 24) % 7 AS off
          |        FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT doc_id, seed, f.v AS frame_idx, (off + f.v) % 7 AS p
          |       FROM vid, generate_series(0, 3) f(v)),
          |bits AS (SELECT fr.doc_id, fr.frame_idx,
          |$dhashBit
          |  FROM fr, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT doc_id, frame_idx, CAST(sum(bit) AS BIGINT) AS fhash
          |  FROM bits GROUP BY doc_id, frame_idx),
          |fh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM ph),
          |keep AS (SELECT fhash FROM fh GROUP BY fhash HAVING count(*) <= 1024),
          |fhk AS MATERIALIZED (
          |  SELECT fh.doc_id, fh.fhash FROM fh JOIN keep USING (fhash)),
          |pr AS MATERIALIZED (
          |  SELECT doc_a, doc_b
          |  FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n
          |        FROM fhk x JOIN fhk y
          |          ON x.fhash = y.fhash AND x.doc_id < y.doc_id
          |        GROUP BY 1, 2)
          |  WHERE n >= 2),
          |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
          |          UNION ALL SELECT doc_b, doc_a FROM pr),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
          |SELECT vi.doc_id, coalesce(min(r.v), vi.doc_id) AS cluster_id
          |FROM vid vi LEFT JOIN reach r ON r.u = vi.doc_id
          |GROUP BY vi.doc_id
          |ORDER BY vi.doc_id""".stripMargin),
    // query-by-audio serving: three EXTERNAL query WAVs from a
    // closed-form PCM generator (amplitudes the oracle replays
    // digit-exact), decoded + fingerprinted through the same real PCM
    // path as the store, ranked top-5 by (hamming, doc_id)
    QuerySpec("multimodal_audio_search", (s, d) =>
      Multimodal.audioSearch(s,
        Multimodal.attachMedia(Tables.documents(s, d)),
        Multimodal.syntheticQueryAudio(s, Seq(11, 23, 42)))
        .orderBy("query_id", "rank"),
      // query-by-audio serving: the store fingerprints re-derived from
      // character codes (the audio_neardup chain) + the query PCM's
      // closed-form generator replayed digit-exact — 570 samples, so
      // every one of the 57 balanced windows holds exactly 10
      _ =>
        s"""WITH a AS (SELECT doc_id, text, CAST(strlen(text) // 2 AS BIGINT) AS n
          |           FROM documents WHERE doc_id % 3 = 1),
          |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM a),
          |$audioFingerprintCtes
          |q(query_id, seed) AS (
          |  VALUES (CAST(0 AS BIGINT), CAST(11 AS BIGINT)), (1, 23), (2, 42)),
          |qs AS (SELECT query_id,
          |              CAST(i.v * 57 // 570 AS INTEGER) AS w,
          |              abs(((seed * 7919 + i.v * 104729 + i.v * i.v * 31)
          |                   % 4001) - 2000) AS ax
          |       FROM q, generate_series(0, 569) i(v)),
          |qg AS (SELECT query_id, w, CAST(sum(ax) AS BIGINT) AS sm,
          |              CAST(count(*) AS BIGINT) AS c
          |       FROM qs GROUP BY query_id, w),
          |qbits AS (SELECT q.query_id,
          |                 CASE WHEN g2.sm * g1.c > g1.sm * g2.c
          |                      THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
          |          FROM q CROSS JOIN generate_series(0, 55) wq(v)
          |          JOIN qg g1 ON g1.query_id = q.query_id AND g1.w = wq.v
          |          JOIN qg g2 ON g2.query_id = q.query_id AND g2.w = wq.v + 1),
          |qph AS (SELECT query_id, CAST(sum(bit) AS BIGINT) AS qfp
          |        FROM qbits GROUP BY query_id),
          |scored AS (SELECT qph.query_id, ph.doc_id,
          |                  CAST(bit_count(xor(qph.qfp, ph.afp)) AS INTEGER) AS hamming
          |           FROM qph CROSS JOIN ph)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, hamming
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |                                   ORDER BY hamming, doc_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    // query-by-video serving: three EXTERNAL 2-keyframe query
    // containers, split + pixel-decoded through the ingest path,
    // ranked top-5 by DISTINCT shared frame hashes — candidates from
    // the frame-hash equi-join (bucketed, never a corpus scan)
    QuerySpec("multimodal_video_search", (s, d) =>
      Multimodal.videoSearch(s,
        Multimodal.attachVideoFrames(Tables.documents(s, d)),
        Multimodal.syntheticQueryVideos(s, Seq((3, 0), (9, 5), (17, 2))))
        .orderBy("query_id", "rank"),
      // query frames replayed through the same per-frame md5 formula as
      // the store; candidates = exact-hash join, rank by shared desc
      _ =>
        s"""WITH vid AS (SELECT doc_id, (doc_id // 3) % 24 AS seed,
          |                    ((doc_id // 3) // 24) % 7 AS off
          |             FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT 's' AS side, doc_id, seed, (off + f.v) % 7 AS p
          |       FROM vid, generate_series(0, 3) f(v)),
          |q(query_id, seed, o) AS (
          |  VALUES (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
          |         (1, 9, 5), (2, 17, 2)),
          |qfr AS (SELECT 'q' AS side, query_id AS doc_id, seed, (o + f.v) % 7 AS p
          |        FROM q, generate_series(0, 1) f(v)),
          |allfr AS (SELECT * FROM fr UNION ALL SELECT * FROM qfr),
          |bits AS (SELECT a.side, a.doc_id, a.p,
          |$dhashBit
          |  FROM allfr a, generate_series(0, 6) r(v), generate_series(0, 7) c(v)),
          |ph AS MATERIALIZED (
          |  SELECT side, doc_id, CAST(sum(bit) AS BIGINT) AS fhash
          |  FROM bits GROUP BY side, doc_id, p),
          |fh AS (SELECT DISTINCT doc_id, fhash FROM ph WHERE side = 's'),
          |qfh AS (SELECT DISTINCT doc_id AS query_id, fhash FROM ph WHERE side = 'q'),
          |scored AS (SELECT qfh.query_id, fh.doc_id,
          |                  CAST(count(*) AS BIGINT) AS shared_frames
          |           FROM fh JOIN qfh USING (fhash)
          |           GROUP BY 1, 2)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, shared_frames
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |                                   ORDER BY shared_frames DESC, doc_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
  )

  /** One dHash bit per (row `r.v`, comparison `c.v`) of an `img i` row,
    * replayed from the image generator's block formula: gray = first md5 byte
    * of "seed_bx_by" mod 200, +40 on the perturbed block `p`.
    */
  private def dhashBit: String =
    """  CASE WHEN ((strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 1, 1)) - 1) * 16
      |             + strpos('0123456789abcdef', substr(md5(seed || '_' || (c.v+1) || '_' || r.v), 2, 1)) - 1) % 200
      |            + CASE WHEN c.v+1 = p AND r.v = p THEN 40 ELSE 0 END
      |          > ((strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 1, 1)) - 1) * 16
      |             + strpos('0123456789abcdef', substr(md5(seed || '_' || c.v || '_' || r.v), 2, 1)) - 1) % 200
      |            + CASE WHEN c.v = p AND r.v = p THEN 40 ELSE 0 END
      |       THEN 1::BIGINT << (r.v*8 + c.v) ELSE 0::BIGINT END AS bit"""

  /** The audio energy fingerprint of each `a` row from its sample index
    * `s`: 16-bit PCM values decoded from the text bytes (`sv`), 57
    * windows' abs-sum and count (`g`), one bit per rising window pair
    * (`bits`), summed into `ph.afp`.
    */
  private def audioFingerprintCtes: String =
    """sv AS (SELECT doc_id,
      |              CAST(i * 57 // n AS INTEGER) AS w,
      |              CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x
      |       FROM (SELECT doc_id, n, i,
      |                    ascii(text[CAST(2*i+1 AS INTEGER)])
      |                    + 256 * ascii(text[CAST(2*i+2 AS INTEGER)]) AS u
      |             FROM s)),
      |g AS (SELECT doc_id, w, CAST(sum(abs(x)) AS BIGINT) AS sm,
      |             CAST(count(*) AS BIGINT) AS c
      |      FROM sv GROUP BY doc_id, w),
      |bits AS (SELECT a.doc_id,
      |                CASE WHEN coalesce(g2.sm, 0) * coalesce(g1.c, 0)
      |                        > coalesce(g1.sm, 0) * coalesce(g2.c, 0)
      |                     THEN 1::BIGINT << wq.v ELSE 0::BIGINT END AS bit
      |         FROM a CROSS JOIN generate_series(0, 55) wq(v)
      |         LEFT JOIN g g1 ON g1.doc_id = a.doc_id AND g1.w = wq.v
      |         LEFT JOIN g g2 ON g2.doc_id = a.doc_id AND g2.w = wq.v + 1),
      |ph AS MATERIALIZED (
      |  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS afp
      |  FROM bits GROUP BY doc_id),"""
}
