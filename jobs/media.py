"""spark-submit entrypoint: multimodal asset processing over a binary
assets table — the media-side analog of jobs/curate.py.

    spark-submit --py-files engine.zip jobs/media.py \
        --input /root/testdata/sf0.01 --output /tmp/media

One pass over assets(asset_id, kind, payload, meta):
  1. featurize      Arrow-batched decode-or-degrade features for every
                    payload (real PNG/WAV/AVI decodes, deterministic stub
                    for everything else) -> <output>/features
  2. image dedup    perceptual dhash pairs (Hamming <= 4) -> connected
                    components -> keep the min-id representative per
                    visual cluster
  3. audio dedup    energy-profile fingerprint pairs, same clustering
  3b. video dedup   frame-hash containment pairs at 0.8, every frame
                    hashed (re-encodes AND clips cut from longer videos);
                    containment is asymmetric and non-transitive, so NO
                    clustering — each pair drops only its contained side
  4. frame sample   REAL frames for decodable videos (sha fallback rows
                    for the rest) -> <output>/frames
  5. keep list      assets minus non-representative image/audio/video
                    dups -> <output>/kept

`--assets` points at a real assets parquet; without it, a deterministic
assets table is synthesized from the input documents (synth_assets — the
same corpus the driver queries use). Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument(
        "--input",
        default=None,
        help="dir with documents.parquet (used to synthesize assets when "
        "no --assets table is given)",
    )
    p.add_argument(
        "--assets",
        default=None,
        help="real assets parquet (asset_id, kind, payload, meta); "
        "default: synthesize deterministically from the input documents",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--frame-every-ms", type=int, default=5000)
    p.add_argument("--master", default=None)
    args = p.parse_args()
    if not args.input and not args.assets:
        p.error("one of --input (synthesize assets) or --assets is required")
    if args.frame_every_ms < 1:
        p.error("--frame-every-ms must be >= 1")

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.dedup import connected_components
    from pdftableextractor_spark.operators.multimodal import (
        audio_near_dups,
        extract_features,
        image_near_dups,
        sample_frames_decoded,
        synth_assets,
        video_near_dups,
    )
    from pdftableextractor_spark.plans.pin import pin
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name="media-job", master=args.master)
    t0 = time.time()
    if args.assets:
        assets = read_path(spark, args.assets)
    else:
        docs = read_path(spark, f"{args.input}/documents.parquet").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        assets = synth_assets(docs)
    # the asset frame feeds five branches (features, three dedup paths,
    # frame sampling) — materialize once (the curate-funnel lineage rule)
    assets = pin(assets, "media assets")
    by_kind = {
        r["kind"]: r["n"]
        for r in assets.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }

    # the output counts ride the writes (one Observation each): no job
    # re-reads an output
    feats_obs = Observation("features")
    write_table(
        extract_features(assets).observe(
            feats_obs, F.count(F.lit(1)).alias("n")
        ),
        f"{args.output}/features",
    )

    losers = None
    pair_counts = {}
    # image/audio pairs are SYMMETRIC (mutually near-identical), so
    # connected components + min-id representative is sound. Video
    # containment pairs are ASYMMETRIC and NOT transitive: a clip C
    # contained in two UNRELATED full videos A and D would chain
    # {A, C, D} into one component, and keeping a single representative
    # would discard D's unique content. So video never clusters: each
    # pair drops ONLY its contained (smaller frame-hash set) side; on
    # equal sizes (mutual re-encodes, containment 1.0 both ways) the
    # lexicographically larger id is dropped, mirroring the min-id rule.
    # A video is removed iff it is the duplicate side of at least one
    # pair — a strict superset is never dropped on a clip's account.
    # (Equal-size chains A~B, B~C without an A~C pair drop B and C and
    # keep A — same single-representative outcome CC would pick.)
    vp = pin(video_near_dups(assets), "media video pairs")
    video_drop = vp.select(
        F.when(F.col("size_a") < F.col("size_b"), F.col("asset_a"))
        .when(F.col("size_b") < F.col("size_a"), F.col("asset_b"))
        .otherwise(F.greatest("asset_a", "asset_b"))
        .alias("asset_id")
    ).distinct()
    for name, near_dups in (
        ("image", image_near_dups), ("audio", audio_near_dups)
    ):
        pairs = pin(near_dups(assets), f"media {name} pairs")
        pair_counts[name] = pairs.count()
        cc = connected_components(pairs, a_col="asset_a", b_col="asset_b")
        drop = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("asset_id")
        )
        losers = drop if losers is None else losers.unionByName(drop)
    pair_counts["video"] = vp.count()
    losers = losers.unionByName(video_drop)

    kept_obs = Observation("kept")
    write_table(
        assets.join(losers, "asset_id", "left_anti")
        .select("asset_id", "kind", "meta")
        .observe(kept_obs, F.count(F.lit(1)).alias("n")),
        f"{args.output}/kept",
    )

    frames_obs = Observation("frames")
    write_table(
        sample_frames_decoded(assets, every_ms=args.frame_every_ms).observe(
            frames_obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("decoded"), 1)).alias("real"),
        ),
        f"{args.output}/frames",
    )

    print(
        json.dumps(
            {
                "assets": sum(by_kind.values()),
                "by_kind": by_kind,
                "features": feats_obs.get["n"],
                "image_pairs": pair_counts.get("image", 0),
                "audio_pairs": pair_counts.get("audio", 0),
                "video_pairs": pair_counts.get("video", 0),
                "kept": kept_obs.get["n"],
                "frames_sampled": frames_obs.get["n"],
                "frames_decoded": frames_obs.get["real"],
                "sec": round(time.time() - t0, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
