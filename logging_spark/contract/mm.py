"""mm family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import F, MEDIA_CTE, media_df, mm


def register(q):

    # -- multimodal plumbing ------------------------------------------------
    q["mm_per_kind_stats"] = lambda spark, sf: mm.per_kind_stats(media_df(spark, sf))

    q["mm_resize_dims"] = lambda spark, sf: mm.resize_images(
        media_df(spark, sf), max_side=256)

    def mm_frame_sample(spark, sf):
        frames = mm.sample_frames(media_df(spark, sf), every_ms=1000)
        return frames.groupBy("media_id").agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").alias("last_frame_ts_ms"))
    q["mm_frame_sample"] = mm_frame_sample

    def mm_features(spark, sf):  # rows-only: numpy decode kernel, no SQL twin
        feats = mm.extract_features(media_df(spark, sf), decode_stub=True)
        return feats.select("media_id", "kind", "n_bytes",
                            F.size("feature").alias("feature_dim"))
    q["mm_features"] = mm_features

    def mm_features_png(spark, sf):
        # rows-only: REAL image decode — deterministic PNG payloads are
        # synthesized per media row (pure-stdlib codec, functions/png.py)
        # and features come from decoded PIXELS (decode_stub=False)
        imgs = (media_df(spark, sf).where(F.col("kind") == "image")
                .select("media_id", "width", "height"))

        def kernel(batches):
            import numpy as np
            import pandas as pd
            from logging_spark.functions import png as png_mod

            for pdf in batches:
                if not len(pdf):
                    continue
                payloads = []
                for mid, w, h in zip(pdf["media_id"], pdf["width"], pdf["height"]):
                    w, h = int(w) % 48 + 8, int(h) % 48 + 8  # keep fixture cheap
                    y, x = np.mgrid[0:h, 0:w]
                    arr = np.stack([(x + int(mid)) % 256, (y * 2 + int(mid)) % 256,
                                    (x + y) % 256], axis=2).astype("uint8")
                    payloads.append(png_mod.encode_png(arr))
                yield pd.DataFrame({"media_id": pdf["media_id"],
                                    "kind": "image", "payload": payloads})

        pngs = imgs.mapInPandas(kernel, "media_id long, kind string, payload binary")
        feats = mm.extract_features(pngs, decode_stub=False)
        return feats.select("media_id", "n_bytes",
                            F.size("feature").alias("feature_dim"),
                            F.round(F.element_at("feature", 1), 4).alias("f0"))
    q["mm_features_png"] = mm_features_png

    def mm_image_dhash(spark, sf):
        # rows-only: perceptual near-dup images — synthesize PNGs in 5
        # pattern classes (same class = same gradient image) with a
        # small brightness dent on odd ids (near-but-not-exact dup),
        # dHash the decoded pixels, pair via banded Hamming <= 6
        imgs = (media_df(spark, sf).where(F.col("kind") == "image")
                .select("media_id"))

        def kernel(batches):
            import numpy as np
            import pandas as pd
            from logging_spark.functions import png as png_mod

            for pdf in batches:
                if not len(pdf):
                    continue
                payloads = []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    cls = mid % 5
                    y, x = np.mgrid[0:24, 0:24]
                    g = ((x // (cls + 1) + y // (cls + 2)) % 2) * 255
                    arr = np.stack([g, g, g], axis=2).astype("uint8")
                    if mid % 2:
                        # small dent: invert one corner, few bits flip
                        arr[:6, :6, :] = 255 - arr[:6, :6, :]
                    payloads.append(png_mod.encode_png(arr))
                yield pd.DataFrame({"media_id": pdf["media_id"],
                                    "payload": payloads})

        pngs = imgs.mapInPandas(kernel, "media_id long, payload binary")
        hashes = mm.image_dhash(pngs)
        pairs = mm.near_dup_images(hashes, max_hamming=6)
        # aggregate: pair counts by hamming distance (bounded output)
        return (pairs.groupBy("hamming")
                .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    q["mm_image_dhash"] = mm_image_dhash

    def mm_features_wav(spark, sf):
        # rows-only: REAL audio decode — deterministic PCM WAV payloads
        # are synthesized per audio media row (pure-stdlib codec,
        # functions/wav.py) and features come from decoded SAMPLES
        # (decode_stub=False)
        auds = (media_df(spark, sf).where(F.col("kind") == "audio")
                .select("media_id", "duration_ms"))

        def kernel(batches):
            import numpy as np
            import pandas as pd
            from logging_spark.functions import wav as wav_mod

            for pdf in batches:
                if not len(pdf):
                    continue
                payloads = []
                for mid, dur in zip(pdf["media_id"], pdf["duration_ms"]):
                    n = int(dur) % 4000 + 400  # keep fixture cheap
                    t = np.arange(n, dtype=np.float64)
                    freq = (int(mid) % 40 + 1) / 100.0
                    s = (np.sin(2 * np.pi * freq * t) * 12000).astype(np.int16)
                    payloads.append(wav_mod.encode_wav(s, rate=8000))
                yield pd.DataFrame({"media_id": pdf["media_id"],
                                    "kind": "audio", "payload": payloads})

        wavs = auds.mapInPandas(kernel, "media_id long, kind string, payload binary")
        feats = mm.extract_features(wavs, decode_stub=False)
        return feats.select("media_id", "n_bytes",
                            F.size("feature").alias("feature_dim"),
                            F.round(F.element_at("feature", 2), 4).alias("rms"))
    q["mm_features_wav"] = mm_features_wav


def register_oracles(o):

    o["mm_per_kind_stats"] = "WITH " + MEDIA_CTE + """
SELECT kind, count(*) AS n_items,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes
FROM media GROUP BY kind"""

    o["mm_resize_dims"] = "WITH " + MEDIA_CTE + """
SELECT media_id, width, height,
       CASE WHEN greatest(width, height) > 256
            THEN CAST(floor(width * 256.0 / greatest(width, height)) AS INT)
            ELSE width END AS out_width,
       CASE WHEN greatest(width, height) > 256
            THEN CAST(floor(height * 256.0 / greatest(width, height)) AS INT)
            ELSE height END AS out_height
FROM media WHERE kind = 'image'"""

    o["mm_frame_sample"] = "WITH " + MEDIA_CTE + """
SELECT media_id,
       CAST(floor(duration_ms / 1000.0) + 1 AS BIGINT) AS n_frames,
       CAST(floor(duration_ms / 1000.0) * 1000 AS BIGINT) AS last_frame_ts_ms
FROM media WHERE kind = 'video'"""
