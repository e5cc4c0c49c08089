"""Measured wall-time scaling of the dedup/ANN families (VERDICT r06 task #7).

Synthesizes a DETERMINISTIC 10x corpus from sf0.1 and times each family at
1x and 10x, reporting the scaling exponent alpha = log(t10/t1) / log(10)
(alpha 1.0 = linear, 2.0 = quadratic). Corpus construction preserves the
statistical shape that drives each family's cost:

- documents x10: ten replicas per doc; replica 0 keeps the original text,
  replicas 1-9 sort the doc's words by xxhash64(word, replica). Near-dup
  pairs WITHIN a replica survive (similar docs sort to near-identical
  sequences, so their shingles still overlap), pairs ACROSS replicas are
  destroyed (different sort keys -> disjoint shingle sets) — candidate-pair
  density scales linearly with the corpus, as in a real crawl.
- embeddings x10: ten replicas per vector; replica r rotates the array by
  6*r positions (norm-preserving, decorrelates across replicas, preserves
  cosine structure within one).
- media: the q_image_near_dup synthesizer parameterized by id count (the
  registry query itself caps at 250 ids BY DESIGN, so its bench time is
  scale-constant; the probe scales the underlying operators instead).

Usage: python tools/scale_probe.py [--runs 2] [--workdir /tmp/scaleprobe]
Prints one JSON line per family and a summary block to paste into
SCALING.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from covid19_spark.measure import next_job_id, run, settle, stage_metrics  # noqa: E402
from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP_OFFSET = 10_000_000


def build_scaled_dir(spark, out_dir: str, factor: int) -> None:
    """Idempotent per table: a table already present in out_dir (e.g. from
    an earlier probe run this round) is kept, missing ones are built — the
    round-7 all-or-nothing guard skipped customer.parquet when the dir
    predated the fuzzy_name_match probe."""
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(factor).select(F.col("id").cast("int").alias("__rep"))

    def _have(name: str) -> bool:
        return os.path.exists(f"{out_dir}/{name}.parquet")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = F.split(F.col("text"), " ")
    # Construction v2 (round 9). v1 sorted each replica's words by a
    # replica-keyed hash — which made every pair of docs sharing VOCABULARY
    # near-identical within a replica (identical sorted sequences), a
    # QUADRATIC candidate-pair blowup: measured 256 LSH pairs at 1x vs
    # 6,059,585 at 10x (23,670x for 10x docs). v2 suffixes every word with
    # the replica id and keeps order: word-shingle Jaccard between two docs
    # of the same replica is EXACTLY the original pair's Jaccard (the
    # suffix is a bijection on shingles), so within-replica pair structure
    # is preserved verbatim and cross-replica pairs are destroyed —
    # candidate-pair density truly scales linearly, as a real crawl's does.
    shuffled = F.array_join(
        F.transform(
            words,
            lambda w: F.concat(w, F.lit("_"), F.col("__rep").cast("string")),
        ),
        " ",
    )
    scaled_docs = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("__rep").cast("long") * REP_OFFSET).alias("doc_id"),
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(shuffled).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    if not _have("documents"):
        scaled_docs.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec = F.col("embedding")
    shift = (F.col("__rep") * 6) % F.size(vec)
    rotated = F.when(F.col("__rep") == 0, vec).otherwise(
        F.concat(
            F.slice(vec, shift + 1, F.size(vec) - shift), F.slice(vec, 1, shift)
        )
    )
    scaled_emb = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("__rep").cast("long") * REP_OFFSET).alias("vec_id"),
            rotated.alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
    )
    if not _have("embeddings"):
        scaled_emb.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/embeddings.parquet"
        )

    # customer x10 for the blocked-Levenshtein probe: replicas get fresh
    # custkeys AND names regenerated in the TPC-H "Customer#%09d" shape from
    # the new key, so the (nation, 15-char name prefix) blocking keeps its
    # real statistic — block size stays ~|thousand-key-range|/|nations| and
    # the NUMBER of blocks grows with the corpus (the linear regime a real
    # ER pipeline relies on). Replica 0 keeps the original rows verbatim.
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    new_key = F.col("c_custkey") + F.col("__rep").cast("long") * REP_OFFSET
    scaled_cust = (
        cust.crossJoin(F.broadcast(reps))
        .select(
            new_key.alias("c_custkey"),
            F.when(F.col("__rep") == 0, F.col("c_name"))
            .otherwise(F.concat(F.lit("Customer#"), F.lpad(new_key.cast("string"), 9, "0")))
            .alias("c_name"),
            *[c for c in cust.columns if c not in ("c_custkey", "c_name")],
        )
    )
    if not _have("customer"):
        scaled_cust.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/customer.parquet"
        )

    # Relational facts xN for the correlated-subquery / skew probes (round
    # 10): replicas get fresh order/event/user keys (+rep*REP_OFFSET, the
    # same offset on BOTH sides of the orders⋈lineitem key so the join
    # fan-out is preserved verbatim), while part/supplier keys stay — so
    # per-part and per-supplier row counts grow linearly (the statistic the
    # decorrelated aggregates shuffle on), per-ORDER width stays constant
    # (the sibling-window statistic), and per-USER event counts stay
    # constant while the number of users grows (the sessionize statistic).
    # Dimension tables (part/supplier/nation/region) are NOT scaled — they
    # are dims; symlinking keeps the probe honest about broadcast sides.
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    if not _have("orders"):
        (
            orders.crossJoin(F.broadcast(reps))
            .select(
                (F.col("o_orderkey") + F.col("__rep").cast("long") * REP_OFFSET).alias("o_orderkey"),
                (F.col("o_custkey") + F.col("__rep").cast("long") * REP_OFFSET).alias("o_custkey"),
                *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/orders.parquet")
        )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    if not _have("lineitem"):
        (
            li.crossJoin(F.broadcast(reps))
            .select(
                (F.col("l_orderkey") + F.col("__rep").cast("long") * REP_OFFSET).alias("l_orderkey"),
                *[c for c in li.columns if c != "l_orderkey"],
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/lineitem.parquet")
        )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if not _have("events"):
        (
            ev.crossJoin(F.broadcast(reps))
            .select(
                (F.col("event_id") + F.col("__rep").cast("long") * REP_OFFSET).alias("event_id"),
                (F.col("user_id") + F.col("__rep").cast("long") * REP_OFFSET).alias("user_id"),
                *[c for c in ev.columns if c not in ("event_id", "user_id")],
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/events.parquet")
        )
    for dim in ("part", "supplier", "nation", "region"):
        dst = f"{out_dir}/{dim}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF_DIR}/{dim}.parquet", dst)


def image_probe(spark, n_ids: int):
    """The q_image_near_dup synth+hash+probe pipeline over n_ids images
    (plus ~24% planted JPEG re-encodes), without the registry's fixed
    250-id cap. The hashes are cached and counted while the plan is built;
    a settle drops them."""
    import numpy as np

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_near_dup_pairs,
        media_from_docs,
    )

    ids = spark.range(n_ids).select(F.col("id").alias("doc_id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def blobs(d):
        rng = np.random.default_rng(d + 7_000_000)
        h, w = 24 + d % 9, 32 + d % 7
        base = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(base, -(-h // 6), axis=0), -(-w // 8), axis=1)[:h, :w]
        rows = [(d, "image", "image/bmp", w, h, None, encode_bmp(img))]
        if d % 25 < 6:  # planted near-dup, same 24% rate as the registry query
            rows.append(
                (REP_OFFSET + d, "image", "image/jpeg", w, h, None,
                 encode_jpeg(img, quality=80))
            )
        return rows

    hashes = image_dhash(media_from_docs(ids, blobs)).cache()
    hashes.count()
    return image_near_dup_pairs(hashes, "media_id")


def _crawl_docs(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)


def crawl_to_corpus(spark, sf_dir: str):
    from covid19_spark.plans.q_curation import crawl_corpus_build

    return crawl_corpus_build(_crawl_docs(spark, sf_dir))


def crawl_to_shards(spark, sf_dir: str):
    from covid19_spark.plans.q_curation import crawl_shards_audit

    corpus_df = crawl_to_corpus(spark, sf_dir).select("doc_id", "clean_text")
    return crawl_shards_audit(corpus_df)


def domain_blocklist_filter(spark, sf_dir: str):
    from covid19_spark.operators.web import domain_suffixes_sql, host_of

    blocked = ["dom3.com", "dom7.com", "s1.dom4.com", "evil.net"]
    url_sql = (
        "concat('HTTPS://S', CAST(doc_id % 4 AS STRING), '.Dom', "
        "CAST(doc_id % 10 AS STRING), '.Com:443/p/', "
        "CAST(doc_id AS STRING), '?utm_source=x')"
    )
    in_list = ", ".join(f"'{b}'" for b in blocked)
    matched = f"filter({domain_suffixes_sql(f'({url_sql})')}, s -> s IN ({in_list}))"
    return _crawl_docs(spark, sf_dir).select(
        "doc_id",
        host_of(f"({url_sql})").alias("host"),
        F.expr(f"CAST(size({matched}) > 0 AS BIGINT)").alias("blocked"),
        F.expr(f"array_min({matched})").alias("rule"),
    )


# The crawl flagships past their fixture caps: the crawl_corpus_build /
# crawl_shards_audit / blocklist-gate pipelines over the FULL documents table
# of an sf dir (the registry queries cap at 400/600 ids by design, so their
# bench times are scale-constant; the probe scales the underlying pipeline
# the caps protect).
CRAWL_PROBES = {
    "crawl_to_corpus": crawl_to_corpus,
    "crawl_to_shards": crawl_to_shards,
    "domain_blocklist_filter": domain_blocklist_filter,
}


def best_of(spark, fn, sf_dir: str, runs: int) -> float:
    """Min wall seconds of ``runs`` noop-forced runs, settled between."""
    best = math.inf
    for _ in range(runs):
        best = min(best, run(spark, fn, sf_dir)[0])
        settle(spark)
    return best


def exponent_row(t1: float, t10: float, factor: int) -> dict:
    alpha = math.log(t10 / t1) / math.log(factor)
    return {"t1": round(t1, 2), "t10": round(t10, 2), "alpha": round(alpha, 2)}


def print_scaling_block(results: dict) -> None:
    print("\n--- SCALING.md block ---")
    print("| family | t(1x) s | t(10x) s | exponent |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['t1']} | {r['t10']} | {r['alpha']} |")


def bytes_probe(spark, name: str, sf_dir: str, n_docs: int) -> dict:
    """Shuffle/storage BYTES for one full run of a registry query (VERDICT
    r08 task #6): wall-time exponents say dedup_pipeline_e2e is exactly
    linear, so its 100 TB cost is set by CONSTANTS — bytes moved per
    document. Runs the query through a noop sink (full computation), then
    reads per-stage shuffle read/write + spill of the run's jobs from the
    AppStatusStore and the peak persisted footprint from the RDD storage
    listing (the eager localCheckpoints are still pinned by the frame's
    lineage at sample time, which ``df`` keeps referenced)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    # drain leftover storage from the PREVIOUS probe run first: the
    # ContextCleaner frees localCheckpoint blocks asynchronously, and a
    # stale block showing up in this run's rddList sample mislabels the
    # previous query's footprint as ours (seen: minhash 1x "inheriting"
    # dedup 10x's 300 MB)
    spark.catalog.clearCache()
    for _ in range(100):
        gc.collect()
        if store.rddList(True).size() == 0:
            break
        spark._jvm.System.gc()
        time.sleep(0.1)
    j0 = next_job_id(spark)
    df = QUERY_REGISTRY[name].fn(spark, sf_dir)
    run(spark, lambda *_: df, sf_dir)
    rdds = store.rddList(True)
    persisted = sum(
        rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
        for i in range(rdds.size())
    )
    stages = stage_metrics(spark, j0)
    tot_read = sum(s["shuffle_read"] for s in stages)
    tot_write = sum(s["shuffle_write"] for s in stages)
    tot_spill = sum(s["spill_mem"] + s["spill_disk"] for s in stages)
    top = sorted(stages, key=lambda s: -s["shuffle_write"])[:5]
    del df
    spark.catalog.clearCache()
    gc.collect()
    return {
        "family": name,
        "n_docs": n_docs,
        "shuffle_read_bytes": tot_read,
        "shuffle_write_bytes": tot_write,
        "spill_bytes": tot_spill,
        "persisted_bytes": persisted,
        "shuffle_write_per_doc": round(tot_write / n_docs, 1),
        "persisted_per_doc": round(persisted / n_docs, 1),
        "n_stages": len(stages),
        "top_write_stages": [
            {"stage": s["stage"], "name": s["name"], "write": s["shuffle_write"]}
            for s in top
        ],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--workdir", default="/tmp/scaleprobe")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--bytes-only", action="store_true",
        help="run only the bytes probe (skip the wall-time exponent sweep)",
    )
    ap.add_argument(
        "--crawl-only", action="store_true",
        help="run only the crawl-flagship wall-time probes",
    )
    ap.add_argument(
        "--queries", nargs="*", default=None,
        help="probe only these registry queries (1x vs Nx over the scaled dir)",
    )
    args = ap.parse_args()

    spark = get_spark("scale_probe")
    x10_dir = os.path.join(args.workdir, f"x{args.factor}")
    print(f"ensuring {args.factor}x corpus at {x10_dir} ...", file=sys.stderr)
    build_scaled_dir(spark, x10_dir, args.factor)

    def probe(results: dict, key: str, fn, fn_n=None) -> None:
        # fn at 1x over SF_DIR vs fn_n (default: fn) at Nx over the scaled dir
        results[key] = exponent_row(
            best_of(spark, fn, SF_DIR, args.runs),
            best_of(spark, fn_n or fn, x10_dir, args.runs),
            args.factor,
        )
        print(json.dumps({"family": key, **results[key]}))

    # Bytes, not just seconds, for the linear dedup family (r08 task #6):
    # one full noop-sink run at 1x and at Nx, per-stage shuffle bytes from
    # the status store; bytes/doc flat across scales == the constants that
    # set the 100 TB bill are scale-independent.
    if args.queries is not None:
        # arbitrary registry queries at 1x vs Nx — used round 10 for the
        # correlated-subquery / skew / unigram families
        results = {}
        for name in args.queries:
            probe(results, name, QUERY_REGISTRY[name].fn)
        print_scaling_block(results)
        return

    if args.crawl_only:
        results = {}
        for name, fn in CRAWL_PROBES.items():
            probe(results, f"{name}(uncapped)", fn)
        print_scaling_block(results)
        return

    n1 = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    byte_rows = []
    for name in ("dedup_pipeline_e2e", "minhash_lsh"):
        b1 = bytes_probe(spark, name, SF_DIR, n1)
        b10 = bytes_probe(spark, name, x10_dir, n1 * args.factor)
        byte_rows.append((name, b1, b10))
        print(json.dumps({"probe": "bytes", "scale": "1x", **b1}))
        print(json.dumps({"probe": "bytes", "scale": f"{args.factor}x", **b10}))

    print("\n--- SCALING.md bytes block ---")
    print("| family | scale | docs | shuffle write | write B/doc | persisted | persisted B/doc | spill |")
    print("|---|---|---|---|---|---|---|---|")
    for name, b1, b10 in byte_rows:
        for label, b in (("1x", b1), (f"{args.factor}x", b10)):
            print(
                f"| {name} | {label} | {b['n_docs']} | {b['shuffle_write_bytes']:,} "
                f"| {b['shuffle_write_per_doc']} | {b['persisted_bytes']:,} "
                f"| {b['persisted_per_doc']} | {b['spill_bytes']:,} |"
            )
    if args.bytes_only:
        return

    results = {}
    # round-7 families + the exact-kernel heavies (VERDICT r07 task #5):
    # duplicated_spans/span_dedup pay the per-token k-gram explosion,
    # fuzzy_name_match pays blocked pairwise Levenshtein — the places a
    # 100x corpus could surprise if block sizes grew with the corpus.
    for name in (
        "minhash_lsh",
        "dedup_pipeline_e2e",
        "ivfpq_cosine_topk",
        "duplicated_spans",
        "span_dedup",
        "fuzzy_name_match",
    ):
        probe(results, name, QUERY_REGISTRY[name].fn)
    for name, fn in CRAWL_PROBES.items():
        probe(results, f"{name}(uncapped)", fn)
    probe(
        results, "image_near_dup(operators)",
        lambda s, _: image_probe(s, 250),
        lambda s, _: image_probe(s, 250 * args.factor),
    )
    print_scaling_block(results)
    shutil.rmtree(args.workdir, ignore_errors=True) if os.environ.get(
        "SCALE_PROBE_CLEAN"
    ) else None


if __name__ == "__main__":
    main()
