"""Measured scale-up curve: blow the sf0.1 fact tables up ×R with
semantics-preserving replication, run the expensive catalog queries
at each factor, and report sec-vs-scale slopes.

Why replication must be *content-mutating*: byte-identical replicas
would make every near-dup detector correctly report R× the dup
clusters with R²× the pairs — a semantic artifact of the synthetic
corpus, not a plan property. Each replica therefore gets

* fresh primary keys (id + r·OFFSET, FKs shifted consistently);
* mutated text — vowels rotated by ``r % 5`` and a t/n swap for
  ``r >= 5`` (``translate`` — JVM-side, deterministic, preserves
  token/shingle structure *within* a replica, collapses similarity
  *across* replicas);
* sign-flipped embeddings — a per-replica diagonal ±1 map (flip
  pattern keyed on (dim, r)); orthogonal, so intra-replica cosines
  are exactly preserved while cross-replica cosines scatter;
* fresh user ids per events replica (corpus growth = more users at
  constant per-user event density — matches how production traffic
  scales);
* orders/lineitem keep their customer/part dims (dimension tables
  don't grow with fact data).

Dimension tables are symlinked. Output dirs live under
``/tmp/spark_graft_scale/x{R}`` and are built once (``_DONE``
marker).

Usage::

    python scripts/scale_curve.py --factors 1,3,10 --runs 2 \
        [--queries q20_invoice_pipeline,q27_simhash_pairs,...]

Prints one JSON line: {query: {x1: sec, x3: sec, x10: sec,
exponent: e}} where exponent = log(t_max/t_1)/log(R_max) — 1.0 is
perfectly linear scaling, <1 sublinear (fixed overhead amortizing),
>1.2 flagged superlinear.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import ARTIFACTS, best_of, noop_write  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/spark_graft_scale"
#: key offset per replica — far above any sf0.1 key
OFFSET = 10_000_000

FACT_TABLES = ("documents", "embeddings", "events", "orders", "lineitem")
DIM_TABLES = (
    "region", "nation", "customer", "supplier", "part",
)

#: the expensive / scale-interesting catalog queries
DEFAULT_QUERIES = [
    "q20_invoice_pipeline",
    "q21_exact_dedup",
    "q25_ngram_jaccard_pairs",
    "q26_minhash_lsh_pairs",
    "q27_simhash_pairs",
    "q28_winnow_fingerprints",
    "q32_embedding_dedup",
    "q50_dup_clusters",
    "q72_dup_spans",
    "q73_incremental_dedup",
    # second batch: events / joins / text / packaging families
    "q14_sessionize",
    "q16_json_extract",
    "q40_term_stats",
    "q44_asof_config",
    "q45_promo_range_join",
    "q58_sequence_packing",
    "q71_shuffle_split",
    # third batch: round-5 retrieval/linkage tier
    "q74_semantic_dedup",
    "q75_bloom_decontamination",
    "q76_sparse_cosine_retrieval",
    "q82_basket_pairs",
    "q84_prefix_filter_jaccard",
    "q91_copurchase_pagerank",
    # fourth batch: round-6 additions + previously-missing rows
    "q85_cross_source_dups",
    "q92_rfm_segments",
    "q100_corpus_ship",
    "q101_ivf_nprobe",
    "q102_incremental_dedup_capped",
    "q103_lexical_rarity",
    "q104_embedding_quantize",
    "q105_quantized_ann",
    "q106_ivf_quantized",
    # fifth batch: round-7 additions
    "q107_cosine_topk_grid",
    "q108_incremental_ann",
    "q109_hybrid_rrf",
    "q110_bpe_merges",
    "q111_hybrid_rrf_ivf",
]


def _mutate_text(col, r: int):
    """Replica-r text transform: deterministic, cheap, similarity-
    breaking across replicas, structure-preserving within."""
    if r == 0:
        return col
    vowels = "aeiou"
    rot = r % 5
    out = F.translate(col, vowels, vowels[rot:] + vowels[:rot])
    if r >= 5:
        out = F.translate(out, "tn", "nt")
    return out


def _replica(spark: SparkSession, table: str, r: int) -> DataFrame:
    df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
    off = r * OFFSET
    if table == "documents":
        return df.select(
            (F.col("doc_id") + off).alias("doc_id"),
            _mutate_text(F.col("text"), r).alias("text"),
            "lang", "source", "n_chars",
        )
    if table == "embeddings":
        flip = F.transform(
            "embedding",
            lambda x, i: F.when((i * 31 + r * 17) % 2 == 0, x).otherwise(-x),
        )
        return df.select(
            (F.col("vec_id") + off).alias("vec_id"),
            (flip if r else F.col("embedding")).alias("embedding"),
            "label",
        )
    if table == "events":
        return df.select(
            (F.col("event_id") + off).alias("event_id"),
            "ts",
            (F.col("user_id") + off).alias("user_id"),
            "event_type", "value", "props",
        )
    if table == "orders":
        return df.select(
            (F.col("o_orderkey") + off).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
    if table == "lineitem":
        return df.select(
            (F.col("l_orderkey") + off).alias("l_orderkey"),
            *[c for c in df.columns if c != "l_orderkey"],
        )
    raise ValueError(table)


#: Zipf hot-token tail appended to EVERY document in the skew
#: fixture: zk0 dominates (32 of 63 tail tokens), zk1 half of that,
#: … zk5 once — a deliberately brutal "the"-like head whose total
#: occurrence count grows linearly with the corpus, concentrated on
#: six join keys. Stress target: the term-keyed shuffles in
#: q40 (term aggregation) and q103 (token-occurrence × decile join).
SKEW_TAIL = " " + " ".join(
    ["zk0"] * 32 + ["zk1"] * 16 + ["zk2"] * 8 + ["zk3"] * 4 + ["zk4"] * 2 + ["zk5"]
)


def materialize_skew(spark: SparkSession, factor: int) -> str:
    """Skewed variant of :func:`materialize`: same replication, but
    every document gets the Zipf hot-token tail. Non-document
    tables symlink to the plain ×factor fixture (built on demand)."""
    plain = materialize(spark, factor)
    out = os.path.join(OUT_ROOT, f"x{factor}skew")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    reps = []
    for r in range(factor):
        df = _replica(spark, "documents", r)
        reps.append(
            df.withColumn("text", F.concat(F.col("text"), F.lit(SKEW_TAIL)))
        )
    big = reps[0]
    for rep in reps[1:]:
        big = big.unionByName(rep)
    big.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    for table in (*FACT_TABLES, *DIM_TABLES):
        if table == "documents":
            continue
        dst = os.path.join(out, f"{table}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(plain, f"{table}.parquet"), dst)
    open(done, "w").close()
    return out


def materialize(spark: SparkSession, factor: int) -> str:
    out = os.path.join(OUT_ROOT, f"x{factor}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for table in FACT_TABLES:
        dst = os.path.join(out, f"{table}.parquet")
        reps = [_replica(spark, table, r) for r in range(factor)]
        big = reps[0]
        for rep in reps[1:]:
            big = big.unionByName(rep)
        big.write.mode("overwrite").parquet(dst)
    for table in DIM_TABLES:
        dst = os.path.join(out, f"{table}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{table}.parquet"), dst)
    open(done, "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,3,10")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument(
        "--artifacts",
        default="",
        help="comma-separated artifact labels (art_clu, art_inv, "
        "art_bpe) whose COLD builds are timed per factor, evicting "
        "the session memo before each run — artifact-consumer "
        "queries named in --queries then measure warm reads",
    )
    ap.add_argument(
        "--skew",
        action="store_true",
        help="use the Zipf hot-token documents fixture (term-keyed "
        "join stress for q40/q103)",
    )
    args = ap.parse_args()
    factors = [int(x) for x in args.factors.split(",")]
    qnames = [q.strip() for q in args.queries.split(",") if q.strip()]

    from shopify_db_spark.plans import load_all
    from shopify_db_spark.session import get_spark

    spark = get_spark(app_name="scale_curve")
    specs = load_all()
    mk = materialize_skew if args.skew else materialize
    dirs = {f: mk(spark, f) for f in factors}

    # warm codegen/JIT once at the smallest factor
    for q in qnames:
        try:
            noop_write(specs[q].fn(spark, dirs[factors[0]]))
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {q}: {exc}", file=sys.stderr)
    spark.catalog.clearCache()

    artifacts = {a.short: a for a in ARTIFACTS}
    runners: list[tuple[str, Callable[[str], None]]] = [
        (label, lambda d, art=artifacts[label]: art.cold_build(spark, d))
        for label in (a.strip() for a in args.artifacts.split(",") if a.strip())
    ]
    runners += [
        (q, lambda d, fn=specs[q].fn: noop_write(fn(spark, d))) for q in qnames
    ]

    results: dict[str, dict] = {}
    for q, run in runners:
        row: dict[str, float] = {}
        for f in factors:
            best, err = best_of(spark, lambda: run(dirs[f]), args.runs)
            if err is not None:
                row[f"x{f}_error"] = err[:200]
            if best is not None:
                row[f"x{f}"] = round(best, 2)
            print(f"{q} x{f}: {row.get(f'x{f}')}", file=sys.stderr, flush=True)
        lo, hi = f"x{factors[0]}", f"x{factors[-1]}"
        if lo in row and hi in row and row[lo] > 0 and factors[-1] > factors[0]:
            row["exponent"] = round(
                math.log(row[hi] / row[lo]) / math.log(factors[-1] / factors[0]),
                2,
            )
        results[q] = row
    print(json.dumps(results))


if __name__ == "__main__":
    main()
