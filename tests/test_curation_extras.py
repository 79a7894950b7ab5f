"""Cross-checks between curation-tier variants: the Bloom-style
membership filter (q75) against the exact shingle-set join (q53) —
at smoke scale the benchmark shingle count is far below the Bloom
capacity, so the two must agree exactly (any diff = false positives
beyond the documented envelope, or a hashing bug)."""

from __future__ import annotations

import duckdb

from shopify_db_spark.plans import load_all
from tests.conftest import SF_CORRECTNESS, SF_SMOKE


def test_bloom_matches_exact_contamination(spark):
    qs = load_all()
    exact = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"])
        for r in qs["q53_contamination"].fn(spark, SF_SMOKE).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_shingles"], r["n_flagged"])
        for r in qs["q75_bloom_decontamination"].fn(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(bloom)
    assert exact == bloom


def test_count_min_sketch_merges_by_addition(spark):
    """The CMS scale contract: sketches built on disjoint corpus
    shards, merged by per-cell addition, must equal the sketch built
    on the union — and point estimates from the merged sketch still
    dominate exact counts."""
    from pyspark.sql import functions as F

    from shopify_db_spark.functions.text import md5_bucket

    rows_a = [(1, "a b a c"), (2, "b c d")]
    rows_b = [(3, "a d d e"), (4, "e e b a")]
    D, W = 3, 4

    def cms(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        counts = (
            df.select(F.explode(F.split("text", " ")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = {}
        for j in range(D):
            cells = (
                counts.select(
                    md5_bucket(F.col("term"), f"cms{j}", W).alias("b"),
                    "n",
                )
                .groupBy("b")
                .agg(F.sum("n").alias("n"))
                .collect()
            )
            for r in cells:
                out[(j, r["b"])] = out.get((j, r["b"]), 0) + r["n"]
        return out

    merged = cms(rows_a)
    for k, v in cms(rows_b).items():
        merged[k] = merged.get(k, 0) + v
    full = cms(rows_a + rows_b)
    assert merged == full
    # point estimates dominate exact counts
    exact = {}
    for _i, text in rows_a + rows_b:
        for t in text.split():
            exact[t] = exact.get(t, 0) + 1
    import hashlib

    for term, n in exact.items():
        ests = []
        for j in range(D):
            h = int(
                hashlib.md5(f"cms{j}:{term}".encode()).hexdigest()[:8], 16
            ) % W
            ests.append(full.get((j, h), 0))
        assert min(ests) >= n


def test_lexical_rarity_orders_gibberish_above_boilerplate(spark):
    """q103 semantics on a crafted corpus: a doc of unique gibberish
    (every token hapax) must sit BELOW a doc of corpus-dominant
    boilerplate on mean frequency decile (decile 1 = rarest) and
    above it on hapax share; the exact-rational outputs stay in
    range."""
    from shopify_db_spark.plans.textops import lexical_rarity

    boiler = "the quick brown fox " * 5  # tokens repeated corpus-wide
    rows = [(i, boiler) for i in range(8)]
    rows.append((100, "zxqv wplk mnbt yhgr qazx"))  # all hapax
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lexical_rarity(docs).collect()}
    assert set(out) == {*range(8), 100}
    g, b = out[100], out[0]
    assert g["hapax_share"] == 1.0 and b["hapax_share"] == 0.0
    assert g["mean_freq_decile"] < b["mean_freq_decile"]
    for r in out.values():
        assert 1.0 <= r["mean_freq_decile"] <= 10.0
        assert 0.0 <= r["hapax_share"] <= 1.0
        assert r["n_tokens"] > 0


def test_cluster_split_eliminates_leakage(spark):
    """The q136→q137 contract: a per-document hash split leaks
    near-dup pairs across the boundary (q136 finds some on the
    smoke corpus), while the cluster-atomic split (q137) leaks NONE
    of the pairs its clustering is built from — every simhash pair
    lands on one side."""
    from pyspark.sql import functions as F

    from shopify_db_spark.operators import dedup as DD
    from shopify_db_spark.plans.curation import q137_cluster_split
    from shopify_db_spark.sources.tables import load_table

    split = q137_cluster_split(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = DD.simhash_pairs(docs, max_hamming=4, hash_family="md5")
    crossings = (
        pairs.join(
            split.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossings == 0
    # and the split itself is total + deterministic
    assert split.count() == docs.count()


def test_length_histogram_merges_by_addition(spark):
    """The q139 scale contract: log-histogram registers built on
    disjoint corpus shards, merged by per-bucket addition, must equal
    the histogram built on the union — and the sketch's quantile
    bucket bounds must enclose the exact inverse-CDF quantile."""
    from pyspark.sql import functions as F

    from shopify_db_spark.functions import text as TX
    from shopify_db_spark.plans import load_all
    from shopify_db_spark.plans.textops import length_histogram
    from shopify_db_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    lens = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    full = {
        (r["source"], r["bucket"]): r["cnt"]
        for r in length_histogram(lens, ["source"]).collect()
    }
    h1 = length_histogram(lens.filter("doc_id % 2 = 0"), ["source"])
    h2 = length_histogram(lens.filter("doc_id % 2 = 1"), ["source"])
    merged = {
        (r["source"], r["bucket"]): r["cnt"]
        for r in h1.unionByName(h2)
        .groupBy("source", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == full

    rows = (
        load_all()["q139_length_quantile_sketch"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    assert all(r["sketch_lo"] <= r["exact_q"] <= r["sketch_hi"] for r in rows)


def test_session_artifact_sweeps_stale_and_memoizes(spark):
    """plans/artifacts.py contract (round-10 advice → round-11
    generalization): EVERY stale-session entry is dropped on access
    (not just the re-accessed key), a warm hit returns the pinned
    frame without calling build, and eviction forces a rebuild."""
    from shopify_db_spark.plans import artifacts as A

    class _DeadSession:
        @property
        def sparkContext(self):  # mimics a stopped/py4j-less session
            raise RuntimeError("stopped")

    name = "test_sweep_artifact"
    A._MEMOS.pop(name, None)
    memo = A._MEMOS.setdefault(name, {})
    memo[(123, "/other/sf")] = (_DeadSession(), None)

    got = A.session_artifact(
        name, spark, "/sf/a", lambda: spark.range(3).toDF("id")
    )
    assert (123, "/other/sf") not in A._MEMOS[name]  # swept, other key
    assert got.count() == 3

    def boom():
        raise AssertionError("build called on a warm hit")

    again = A.session_artifact(name, spark, "/sf/a", boom)
    assert again is got

    A.evict(name, spark, "/sf/a")
    rebuilt = A.session_artifact(
        name, spark, "/sf/a", lambda: spark.range(5).toDF("id")
    )
    assert rebuilt is not got and rebuilt.count() == 5
    A._MEMOS.pop(name, None)


def test_q162_doc_novelty_invariants(spark):
    """q162 structural invariants on the smoke corpus: one row per
    doc with >= 1 shingle; n_unique <= n_shingles; Σ n_unique equals
    the number of df==1 shingles corpus-wide (the join-free owner
    trick is exactly a partition of the unique shingles); and the
    quantized ratio is the floor formula recomputed in python."""
    from pyspark.sql import functions as F

    from shopify_db_spark.plans.curation import _Q162_SCALE, q162_doc_novelty
    from shopify_db_spark.functions import text as TX
    from shopify_db_spark.sources.tables import load_table

    out = q162_doc_novelty(spark, SF_SMOKE).toPandas()
    docs = load_table(spark, SF_SMOKE, "documents")
    assert len(out) == docs.count()  # tokens() yields >= 1 shingle per doc
    assert (out.n_unique <= out.n_shingles).all()
    assert (out.novelty_q20 == out.n_unique * _Q162_SCALE // out.n_shingles).all()

    sh = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 1)), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    n_df1 = (
        sh.groupBy("shingle")
        .count()
        .filter(F.col("count") == 1)
        .count()
    )
    assert int(out.n_unique.sum()) == n_df1


def test_kcenter_coverage_radius_shrinks(spark):
    """Farthest-first invariant: each pick is the point farthest from
    the current centers, so the picked max-similarity is weakly
    INCREASING over rounds (the space fills up; coverage radius
    1 − max_sim is weakly decreasing)."""
    rows = load_all()["q141_kcenter_coreset"].fn(spark, SF_SMOKE).collect()
    sims = [r["max_sim"] for r in sorted(rows, key=lambda r: r["k_rank"])]
    assert sims[0] == -1.0  # seed sentinel
    for a, b in zip(sims[1:], sims[2:]):
        assert b >= a - 1e-12


def test_bucketed_batching_beats_shuffled_padding(spark):
    """q150's reason to exist: the length-sorted schedule must waste
    no more padding than the hash-shuffled baseline, corpus-wide."""
    rows = load_all()["q150_batch_padding"].fn(spark, SF_SMOKE).collect()
    waste = {"length_sorted": 0, "hash_shuffled": 0}
    for r in rows:
        waste[r["scheme"]] += r["n_docs"] * r["max_tok"] - r["sum_tok"]
    assert waste["length_sorted"] <= waste["hash_shuffled"]


def test_novelty_curve_decays(spark):
    """Saturation: the first ingestion decile must be more novel than
    the last (every first-decile shingle with a unique min-doc is
    novel by construction; late deciles re-see earlier shingles)."""
    rows = {
        r["decile"]: r
        for r in load_all()["q154_novelty_curve"].fn(spark, SF_SMOKE).collect()
    }
    assert rows[1]["novelty_frac"] > rows[max(rows)]["novelty_frac"]


def test_budget_mixture_respects_budget_exactly(spark):
    """Σ allocated == budget when the corpus exceeds the budget, and
    allocation is a prefix of the quality order (no source receives
    tokens while a cleaner one is truncated)."""
    rows = load_all()["q156_budget_mixture"].fn(spark, SF_SMOKE).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = total * 2 // 5
    allocated = sum(r["allocated_tokens"] for r in rows)
    assert allocated == budget
    ordered = sorted(rows, key=lambda r: (-r["quality"], r["source"]))
    seen_partial = False
    for r in ordered:
        if seen_partial:
            assert r["allocated_tokens"] == 0
        if 0 < r["allocated_tokens"] < r["n_tokens"]:
            seen_partial = True


def test_q124_drift_summand_is_exact_integer(spark):
    """q124's chi² summand is now a pure-integer floor division
    (−4·SCALE·ca·cb DIV (ca·nb + cb·na)); spot-check the engine
    output against an independent Python big-int recomputation so
    the algebraic reduction (not just engine parity) is pinned."""
    import collections
    import re

    drift = (
        load_all()["q124_source_drift"].fn(spark, SF_SMOKE).collect()
    )
    assert drift
    con = duckdb.connect()
    docs = con.execute(
        "SELECT source, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    counts: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter
    )
    for source, text in docs:
        # the catalog tokenizer: collapse whitespace, trim, lower,
        # split on single spaces (functions/text.py `tokens`)
        counts[source].update(
            re.sub(r"\s+", " ", text).strip().lower().split(" ")
        )
    totals = {s: sum(c.values()) for s, c in counts.items()}
    scale = 10**15
    for row in drift:
        a, b = row["source_a"], row["source_b"]
        ca, cb, na, nb = counts[a], counts[b], totals[a], totals[b]
        shared = set(ca) & set(cb)
        assert len(shared) == row["n_shared_terms"]
        total = 2 * scale
        for t in shared:
            num = 4 * scale * ca[t] * cb[t]
            den = ca[t] * nb + cb[t] * na
            total += -((num + den - 1) // den)
        assert total == row["chi2_scaled"], (a, b)


def test_cluster_memo_keyed_per_sf_dir(spark):
    """simhash_clusters memoizes per (session, sf_dir): repeated
    calls return the identical pinned frame (no recompute), different
    sf_dirs get independent entries, and the memoized result equals a
    fresh derivation row for row."""
    from shopify_db_spark.operators import dedup as DD
    from shopify_db_spark.operators.graph import dup_clusters
    from shopify_db_spark.plans.curation import simhash_clusters
    from shopify_db_spark.sources.tables import load_table

    a1 = simhash_clusters(spark, SF_SMOKE)
    a2 = simhash_clusters(spark, SF_SMOKE)
    assert a1 is a2, "same (session, sf_dir) must hit the memo"

    b = simhash_clusters(spark, SF_CORRECTNESS)
    assert b is not a1, "different sf_dir must not share an entry"

    docs = load_table(spark, SF_SMOKE, "documents")
    fresh = dup_clusters(
        DD.simhash_pairs(docs, max_hamming=4, hash_family="md5")
    )
    assert sorted(map(tuple, a1.collect())) == sorted(
        map(tuple, fresh.collect())
    )
