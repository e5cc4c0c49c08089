"""Regenerate the self-oracle fixtures for the non-SQL-expressible queries.

DuckDB has no xxhash64, no codecs and no iterative tokenizer trainers, so
the 28 queries in ``FIXTURE_QUERIES`` (MinHash/SimHash/ANN dedup, the image,
audio and video codec paths, the perceptual near-dup probes, BPE and
unigram tokenizers, and a few more) cannot be recomputed in SQL. Their
outputs are fully deterministic (fixed seeds over fixed sf0.01 parquet), so
each has a checked-in expected-output parquet that its oracle SQL joins back
to the live tables, and the pytest fixtures assert exact values — any change
to shingling, banding, hashing, decoding or candidate capping shows up as a
fixture diff that must be reviewed and regenerated here, never silently.

Usage: python tools/make_fixtures.py [query_name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "fixtures")
FIXTURE_QUERIES = (
    "minhash_lsh",
    "simhash_pairs",
    "ann_cosine_topk",
    "ivf_cosine_topk",
    "multimodal_features",
    "semantic_dedup",
    "semantic_dedup_paper_policy",
    "bmp_image_features",
    "png_image_features",
    "gif_image_features",
    "tiff_image_features",
    "permissive_decode_stats",
    "pq_cosine_topk",
    "ivfpq_cosine_topk",
    "ann_filtered_topk",
    "approx_aggregates",
    "wav_audio_features",
    "video_frame_features",
    "bpe_merges",
    "bpe_tokenize",
    "unigram_vocab",
    "unigram_tokenize",
    "image_near_dup",
    "audio_near_dup",
    "video_near_dup",
    "lsh_guard_report",
    "bloom_decontaminate",
    "compression_quality",
)


def main() -> None:
    # optional argv subset: regenerate only the named fixtures
    subset = sys.argv[1:] or FIXTURE_QUERIES
    spark = get_spark("make_fixtures")
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in subset:
        df = QUERY_REGISTRY[name].fn(spark, SF_DIR)
        path = os.path.join(OUT_DIR, f"{name}_sf0.01.parquet")
        df.toPandas().to_parquet(path, index=False)
        print(f"wrote {path}: {len(df.columns)} cols")
    if "permissive_decode_stats" in subset or "permissive_decode_blobs" in subset:
        # Per-blob verdict twin of permissive_decode_stats: the DuckDB oracle
        # aggregates THIS parquet (it cannot run the decoders), so regenerate
        # it together with the aggregated fixture after any intentional
        # codec / corruption-schedule change.
        from covid19_spark.plans.q_llm_pipeline import permissive_decode_blobs

        blobs = permissive_decode_blobs(spark, SF_DIR).orderBy("media_id")
        path = os.path.join(OUT_DIR, "permissive_decode_blobs.parquet")
        blobs.toPandas().to_parquet(path, index=False)
        print(f"wrote {path}: {len(blobs.columns)} cols")


if __name__ == "__main__":
    main()
