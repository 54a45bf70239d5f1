package graft.queries

import graft.{Q, QueryModule, Retained, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (north-star ops): media as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted/resized in
  * batched partition passes.
  *
  * The image decoder is REAL (in-JVM `javax.imageio` PNG decode —
  * graft.operators.MediaDecode); payloads are deterministic synthetic
  * PNGs keyed by doc_id, which makes the decoded features
  * SQL-expressible and oracle-checked cross-engine. Audio/video stay
  * out of scope in this container (no codec libs) but share the same
  * plumbing: binary payload column, typed metadata struct,
  * per-partition batched extraction with a fixed feature schema.
  * (PySpark equivalent: `mapInPandas` with an arrow-batched UDF; in
  * Scala the same batch shape is `Dataset.mapPartitions`.)
  */
object MultimodalQueries extends QueryModule {

  override val queries: Seq[Q] = Seq(
    Q("m_binary_metadata",
      "Media ingestion: payload as binary + typed metadata struct (size, digest, mime); metadata aggregates per source.",
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            col("text").cast("binary").as("payload"))
          .select(col("doc_id"), col("source"),
            struct(
              octet_length(col("payload")).as("n_bytes"),
              md5(col("payload")).as("digest"),
              lit("text/plain").as("mime")).as("meta"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_media"),
            sum(col("meta.n_bytes")).as("total_bytes"),
            countDistinct(col("meta.digest")).as("n_distinct_payloads"))
          .orderBy(col("source").asc_nulls_last),
      Some("""SELECT source, count(*) AS n_media,
        CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
        count(DISTINCT md5(text)) AS n_distinct_payloads
        FROM documents GROUP BY source
        ORDER BY source ASC NULLS LAST""")),

    Q("m_decode_features",
      "REAL image decode (javax.imageio PNG) + per-channel feature extraction via batched partition passes; payloads are deterministic synthetic PNGs so the decoded features hash-match a pixel-formula oracle.",
      // r15: spread bare ids (keyed — round-robin paid a local sort and
      // carried full text), then synth post-exchange so payloads never shuffle
      (s, dir) => graft.operators.MediaDecode.extractFeatures(
        T.spread(T(s, dir, "documents").select(col("doc_id")), cpuDense = true)
          .select(col("doc_id"),
            graft.operators.MediaDecode.synthPngUdf(col("doc_id")).as("payload"))),
      // the oracle decodes nothing: it reduces the same pixel formula
      // the synthesizer used (PNG is lossless, so decode ≡ formula)
      Some("""WITH g AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 9 AS INTEGER) AS w,
                 CAST(8 + doc_id % 7 AS INTEGER) AS h
          FROM documents),
        px AS (
          SELECT g.doc_id, g.w, g.h, xs.x, ys.y
          FROM g,
          LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) xs,
          LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ys)
        SELECT doc_id, max(w) AS width, max(h) AS height, 3 AS channels,
          round(CAST(sum((doc_id * 7 + x + y) % 256) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_r,
          round(CAST(sum((doc_id * 11 + 2 * x + 3 * y) % 256) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_g,
          round(CAST(sum((doc_id * 13 + x + 2 * y) % 256) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_b
        FROM px GROUP BY doc_id
        ORDER BY doc_id ASC NULLS LAST""")),

    Q("m_frame_sample",
      "REAL frame sampling over a multi-frame container: length-prefixed PNG frames, every 2nd frame decoded (skipped frames' bytes never parsed — the production sampler's cost model), per-sampled-frame means oracle-checked against the frame pixel formula.",
      (s, dir) => graft.operators.MediaDecode.sampleFrames(
        T.par(s, dir, "documents")
          .select(col("doc_id"),
            graft.operators.MediaDecode.synthVideoUdf(col("doc_id")).as("payload"))),
      Some("""WITH g AS (
          SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
                 CAST(8 + doc_id % 7 AS INTEGER) AS h,
                 CAST(4 + doc_id % 5 AS INTEGER) AS nf
          FROM documents),
        fr AS (SELECT doc_id, w, h, f.fi FROM g,
               LATERAL (SELECT unnest(generate_series(0, g.nf - 1)) AS fi) f
               WHERE f.fi % 2 = 0),
        px AS (
          SELECT fr.doc_id, fr.fi, fr.w, fr.h, xs.x, ys.y
          FROM fr,
          LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS x) xs,
          LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS y) ys)
        SELECT doc_id, fi AS frame_idx, max(w) AS width, max(h) AS height,
          round(CAST(sum((doc_id * 7 + fi * 11 + x + y) % 256) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_px
        FROM px GROUP BY doc_id, fi
        ORDER BY doc_id ASC NULLS LAST, frame_idx ASC NULLS LAST""")),

    Q("m_resize_thumb",
      "REAL image resize: 4×4 area-averaged thumbnail (floor-block boxes, no interpolation variance) over decoded PNGs; thumb grand-mean/max oracle-checked — the floor-block partition x∈[⌊i·w/4⌋,⌊(i+1)·w/4⌋) is exactly i=(4x+3)//w, so block means are exact-integer ratios in both engines.",
      (s, dir) => graft.operators.MediaDecode.resizeThumbs(
        T.par(s, dir, "documents")
          .select(col("doc_id"),
            graft.operators.MediaDecode.synthPngUdf(col("doc_id")).as("payload"))),
      Some("""WITH g AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 9 AS INTEGER) AS w,
                 CAST(8 + doc_id % 7 AS INTEGER) AS h
          FROM documents),
        px AS (
          SELECT g.doc_id, g.w, g.h, xs.x, ys.y
          FROM g,
          LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) xs,
          LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ys),
        blocks AS (
          SELECT doc_id, (4 * x + 3) // w AS bi, (4 * y + 3) // h AS bj,
            sum((doc_id * 7 + x + y) % 256
              + (doc_id * 11 + 2 * x + 3 * y) % 256
              + (doc_id * 13 + x + 2 * y) % 256) AS s,
            count(*) * 3 AS n
          FROM px GROUP BY doc_id, bi, bj),
        bm AS (SELECT doc_id, CAST(s AS DOUBLE) / n AS m FROM blocks)
        SELECT doc_id, 4 AS thumb_w, 4 AS thumb_h,
          round(sum(m) / 16, 6) AS thumb_mean,
          round(max(m), 6) AS thumb_max
        FROM bm GROUP BY doc_id
        ORDER BY doc_id ASC NULLS LAST""")),

    Q("m_image_dhash_dedup",
      "Perceptual image near-dup detection via dHash (the industry-standard difference hash): REAL decode of 240 PNGs — 120 textured originals plus their 2x re-encodes — 9x8 floor-block grayscale grid with exact-integer block-mean comparisons, hash packed as two 32-bit halves, pairs at Hamming <= 6 reported. The grid-aligned dimensions make each 2x re-encode a Hamming-0 twin while the nearest DISTINCT image sits at Hamming 16 — the separation that makes the threshold meaningful. Scale shape: hashing is partition-batched binary decode (the one justified mapPartitions class); at corpus scale candidate pairs come from 16-bit hash-chunk buckets exactly like the SimHash pipeline (n_dedup_simhash) — the all-pairs join here is the 240-image fixture's luxury, not the design.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 120)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthPngTexturedUdf(col("doc_id")).as("payload"))
          .unionAll(T.spread(ids, cpuDense = true).select((col("doc_id") + 100000).as("doc_id"),
            graft.operators.MediaDecode.synthPngTextured2xUdf(col("doc_id")).as("payload")))
        // r15: retain the tiny (doc_id, h1, h2) hash relation — both
        // sides of the all-pairs join otherwise recompute the full PNG
        // synth+decode chain (the query's dominant CPU) once each
        val dh = Retained(graft.operators.MediaDecode.dHash(media))
        dh.as("a").join(dh.as("b"), col("a.doc_id") < col("b.doc_id"))
          .withColumn("hamming",
            expr("bit_count(a.h1 ^ b.h1) + bit_count(a.h2 ^ b.h2)"))
          .filter(col("hamming") <= 6)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("hamming"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 120),
        imgs AS (
          SELECT src AS doc_id, src, 0 AS up, CAST(9*(1 + src % 3) AS INTEGER) AS w, CAST(8*(1 + src % 2) AS INTEGER) AS h FROM ids
          UNION ALL
          SELECT src + 100000, src, 1, CAST(18*(1 + src % 3) AS INTEGER), CAST(16*(1 + src % 2) AS INTEGER) FROM ids),
        px AS (SELECT doc_id, src, up, w, h, x.x, y.y,
                 CASE WHEN up = 0 THEN x.x ELSE x.x // 2 END AS sx,
                 CASE WHEN up = 0 THEN y.y ELSE y.y // 2 END AS sy
               FROM imgs, LATERAL (SELECT unnest(range(0, w)) AS x) x,
                          LATERAL (SELECT unnest(range(0, h)) AS y) y),
        gray AS (SELECT doc_id, w, h, x, y,
            (7*src + (src%13+2)*sx*sx + (src%11+3)*sy*sy + sx*sy) % 256
          + (11*src + (src%7+2)*sx*sx + (src%17+1)*sy + 2*sx*sy) % 256
          + (13*src + (src%5+3)*sy*sy + (src%19+1)*sx + sx*sy) % 256 AS g
          FROM px),
        blocks AS (
          SELECT doc_id, j.j, i.i, sum(g) AS s, count(*) AS n
          FROM gray, LATERAL (SELECT unnest(range(0, 8)) AS j) j,
                     LATERAL (SELECT unnest(range(0, 9)) AS i) i
          WHERE x >= i.i * w // 9 AND x < (i.i + 1) * w // 9
            AND y >= j.j * h // 8 AND y < (j.j + 1) * h // 8
          GROUP BY doc_id, j.j, i.i),
        bits AS (
          SELECT a.doc_id, a.j, a.i,
            CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
          FROM blocks a JOIN blocks b ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
          WHERE a.i < 8),
        hashes AS (
          SELECT doc_id,
            sum(CASE WHEN bit = 1 AND (j*8+i) < 32 THEN (1::BIGINT << CAST(j*8+i AS INT)) ELSE 0 END) AS h1,
            sum(CASE WHEN bit = 1 AND (j*8+i) >= 32 THEN (1::BIGINT << CAST(j*8+i-32 AS INT)) ELSE 0 END) AS h2
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 6
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("m_image_phash",
      "pHash-style SPECTRAL image hash over the Walsh-Hadamard transform (the exact-integer sibling of the DCT pHash — the transform video-hashing standards reach for when float drift is unacceptable): REAL decode of 240 PNGs (120 textured 32x32 originals + their 64x64 pixel-doubled re-encodes), block-SUM downsample to the 32x32 integer grid (a kx re-encode scales every coefficient AND the median by exactly k^2, so the sign pattern is invariant by construction), 8x8 low-frequency WHT coefficients as exact integer sums, bit = coefficient-above-median over the 63 AC coefficients (median = exact 32nd-smallest order statistic). Pairs at Hamming <= 4 reported; every re-encode is a Hamming-0 twin of its original. Scale shape: hashing is partition-batched binary decode; candidates come from 16-bit hash-chunk buckets at corpus scale, like the dHash/SimHash pipelines — the all-pairs join is this fixture's luxury.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 120)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthPngTextured32Udf(col("doc_id")).as("payload"))
          .unionAll(T.spread(ids, cpuDense = true).select((col("doc_id") + 100000).as("doc_id"),
            graft.operators.MediaDecode.synthPngTextured32x2Udf(col("doc_id")).as("payload")))
        // r15: retain — see m_image_dhash_dedup (2x decode otherwise)
        val ph = Retained(graft.operators.MediaDecode.whtHash(media))
        ph.as("a").join(ph.as("b"), col("a.doc_id") < col("b.doc_id"))
          .withColumn("hamming", expr("bit_count(a.hw ^ b.hw)"))
          .filter(col("hamming") <= 4)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("hamming"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 120),
        imgs AS (SELECT src AS doc_id, src, 1 AS mul FROM ids
                 UNION ALL SELECT src + 100000, src, 4 FROM ids),
        px AS (SELECT doc_id, src, mul, x.x, y.y,
                 mul * (((7*src + (src%13+2)*x.x*x.x + (src%11+3)*y.y*y.y + x.x*y.y) % 256)
                      + ((11*src + (src%7+2)*x.x*x.x + (src%17+1)*y.y + 2*x.x*y.y) % 256)
                      + ((13*src + (src%5+3)*y.y*y.y + (src%19+1)*x.x + x.x*y.y) % 256)) AS g
               FROM imgs, LATERAL (SELECT unnest(range(0, 32)) AS x) x,
                          LATERAL (SELECT unnest(range(0, 32)) AS y) y),
        co AS (SELECT doc_id, u.u, v.v,
                 CAST(sum(CASE WHEN (bit_count(x & u.u) + bit_count(y & v.v)) % 2 = 0
                          THEN g ELSE -g END) AS BIGINT) AS c
               FROM px, LATERAL (SELECT unnest(range(0, 8)) AS u) u,
                        LATERAL (SELECT unnest(range(0, 8)) AS v) v
               GROUP BY doc_id, u.u, v.v),
        ac AS (SELECT doc_id, u*8 + v - 1 AS idx, c FROM co WHERE NOT (u = 0 AND v = 0)),
        med AS (SELECT doc_id, quantile_disc(c, 0.5) AS med FROM ac GROUP BY doc_id),
        hashes AS (SELECT ac.doc_id,
            CAST(sum(CASE WHEN c > med THEN (1::BIGINT << CAST(idx AS INT)) ELSE 0 END) AS BIGINT) AS hw
          FROM ac JOIN med ON ac.doc_id = med.doc_id GROUP BY ac.doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.hw, b.hw)) AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hw, b.hw)) <= 4
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("m_audio_fingerprint",
      "Audio near-dup detection via energy-envelope fingerprints (the time-domain core of Shazam-style hashing): REAL WAV decode of 200 clips — 100 textured originals plus their 2x-sample-rate re-encodes — 32 floor-block frames with exact-integer |sample| energies, bit f = envelope rises between frames f and f+1, pairs at Hamming <= 2 reported. Frame-aligned sample counts make every re-encode a Hamming-0 twin while the nearest DISTINCT clip sits at Hamming 3. Scale shape: fingerprinting is partition-batched binary decode; at corpus scale candidates come from fingerprint-chunk buckets like the SimHash/dHash pipelines, not this fixture's all-pairs join.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 100)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.AudioDecode.synthTexturedWavUdf(col("doc_id")).as("payload"))
          .unionAll(T.spread(ids, cpuDense = true).select((col("doc_id") + 100000).as("doc_id"),
            graft.operators.AudioDecode.synthTexturedWav2xUdf(col("doc_id")).as("payload")))
        // r15: retain — see m_image_dhash_dedup (2x decode otherwise)
        val fp = Retained(graft.operators.AudioDecode.fingerprint(media))
        fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
          .withColumn("hamming", expr("bit_count(a.fp ^ b.fp)"))
          .filter(col("hamming") <= 2)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("hamming"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 100),
        clips AS (
          SELECT src AS doc_id, src, 0 AS up, CAST(32*(25 + src % 13) AS INTEGER) AS n FROM ids
          UNION ALL
          SELECT src + 100000, src, 1, CAST(64*(25 + src % 13) AS INTEGER) FROM ids),
        smp AS (SELECT doc_id, src, up, n, s.i,
                  CASE WHEN up = 0 THEN s.i ELSE s.i // 2 END AS si
                FROM clips, LATERAL (SELECT unnest(range(0, n)) AS i) s),
        v AS (SELECT doc_id, n, i,
                abs((31*src + (src%13+2)*si*si + (src%7+3)*si) % 2048 - 1024) AS av
              FROM smp),
        fr AS (SELECT doc_id, f.f, sum(av) AS e
               FROM v, LATERAL (SELECT unnest(range(0, 32)) AS f) f
               WHERE i >= f.f * n // 32 AND i < (f.f + 1) * n // 32
               GROUP BY doc_id, f.f),
        bits AS (SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                 FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1 WHERE a.f < 31),
        h AS (SELECT doc_id, sum(CASE WHEN bit = 1 THEN (1::BIGINT << CAST(f AS INT)) ELSE 0 END) AS fp
              FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.fp, b.fp)) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 2
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")),

    Q("m_video_dhash",
      "Video near-dup detection via frame-hash fingerprints (scene-level dedup, the video face of the dHash family): REAL decode of 160 multi-frame containers — 80 textured videos plus their frame-rate-doubled re-encodes — every frame dHashes through the shared 9x8 exact-integer grid, a video's fingerprint is its DISTINCT frame-hash set, and pairs report shared frames / overlap coefficient >= 0.8. Candidate generation is an equi-join on the 128-bit frame hash — videos that share no frame NEVER pair, so there is no all-pairs step at any scale (the measured fixture: exactly the 80 twins at overlap 1.0, zero cross matches). Scale shape: partition-batched container decode, frame-hash relation of 8-byte pairs, bucket join + two bounded aggregates.",
      (s, dir) => {
        val ids = T(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") >= 1 && col("doc_id") <= 80)
        val media = T.spread(ids, cpuDense = true).select(col("doc_id"),
            graft.operators.MediaDecode.synthTexturedVideoUdf(col("doc_id")).as("payload"))
          .unionAll(T.spread(ids, cpuDense = true).select((col("doc_id") + 100000).as("doc_id"),
            graft.operators.MediaDecode.synthTexturedVideo2xUdf(col("doc_id")).as("payload")))
        // r15: retain measured and LOST here (1.05 -> 1.80 min-of-3):
        // the cache barrier serializes the three consumers' branches,
        // which outweighs re-decoding the bounded 160-container set —
        // unlike the all-pairs hash queries above, whose decode is the
        // dominant CPU. Kept uncached deliberately.
        val fset = graft.operators.MediaDecode.videoDHash(media)
          .select(col("doc_id"), col("h1"), col("h2")).distinct()
        val sizes = fset.groupBy(col("doc_id")).agg(count(lit(1)).as("nset"))
        val shared = fset.as("a").join(fset.as("b"),
            col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(sizes.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("nset", "na"), Seq("id_a"))
          .join(sizes.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("nset", "nb"), Seq("id_b"))
          .withColumn("overlap",
            round(col("shared").cast("double") / least(col("na"), col("nb")), 6))
          .filter(col("overlap") >= 0.8)
          .select(col("id_a"), col("id_b"), col("shared"), col("overlap"))
          .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
      },
      Some("""WITH ids AS (SELECT doc_id AS src FROM documents WHERE doc_id BETWEEN 1 AND 80),
        vids AS (
          SELECT src AS doc_id, src, 0 AS up, CAST(6 + src % 3 AS INTEGER) AS nf,
                 CAST(9*(1 + src % 3) AS INTEGER) AS w, CAST(8*(1 + src % 2) AS INTEGER) AS h FROM ids
          UNION ALL
          SELECT src + 100000, src, 1, CAST(2*(6 + src % 3) AS INTEGER),
                 CAST(9*(1 + src % 3) AS INTEGER), CAST(8*(1 + src % 2) AS INTEGER) FROM ids),
        fr AS (SELECT doc_id, src, w, h, f.f AS fidx,
                 CASE WHEN up = 0 THEN f.f ELSE f.f // 2 END AS fc
               FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f) f),
        px AS (SELECT doc_id, src, fidx, fc, w, h, x.x, y.y
               FROM fr, LATERAL (SELECT unnest(range(0, w)) AS x) x,
                        LATERAL (SELECT unnest(range(0, h)) AS y) y),
        gray AS (SELECT doc_id, fidx, w, h, x, y,
            (7*src + 19*fc + (src%13+2)*x*x + ((src+fc)%11+3)*y*y + x*y) % 256
          + (11*src + 23*fc + (src%7+2)*x*x + ((src+fc)%17+1)*y + 2*x*y) % 256
          + (13*src + 29*fc + (src%5+3)*y*y + ((src+fc)%19+1)*x + x*y) % 256 AS g
          FROM px),
        blocks AS (
          SELECT doc_id, fidx, j.j, i.i, sum(g) AS s, count(*) AS n
          FROM gray, LATERAL (SELECT unnest(range(0, 8)) AS j) j,
                     LATERAL (SELECT unnest(range(0, 9)) AS i) i
          WHERE x >= i.i * w // 9 AND x < (i.i + 1) * w // 9
            AND y >= j.j * h // 8 AND y < (j.j + 1) * h // 8
          GROUP BY doc_id, fidx, j.j, i.i),
        bits AS (
          SELECT a.doc_id, a.fidx, a.j, a.i, CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
          FROM blocks a JOIN blocks b ON a.doc_id = b.doc_id AND a.fidx = b.fidx AND a.j = b.j AND b.i = a.i + 1
          WHERE a.i < 8),
        fh AS (SELECT doc_id, fidx,
            sum(CASE WHEN bit = 1 AND (j*8+i) < 32 THEN (1::BIGINT << CAST(j*8+i AS INT)) ELSE 0 END) AS h1,
            sum(CASE WHEN bit = 1 AND (j*8+i) >= 32 THEN (1::BIGINT << CAST(j*8+i-32 AS INT)) ELSE 0 END) AS h2
          FROM bits GROUP BY doc_id, fidx),
        fset AS (SELECT DISTINCT doc_id, h1, h2 FROM fh),
        sizes AS (SELECT doc_id, count(*) AS nset FROM fset GROUP BY doc_id),
        shared AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) AS shared
                   FROM fset a JOIN fset b ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b, shared,
          round(CAST(shared AS DOUBLE)/least(sa.nset, sb.nset),6) AS overlap
        FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(CAST(shared AS DOUBLE)/least(sa.nset, sb.nset),6) >= 0.8
        ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""")))
}
