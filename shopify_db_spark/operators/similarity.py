"""Similarity search over embedding columns (``array<float>``).

Two tiers, both pure DataFrame plans:

* :func:`cosine_topk` — exact brute-force: query rows × candidate
  rows with the dot product expressed as ``zip_with`` +
  ``aggregate`` (JVM-side, codegen'd — no Python per row). The
  baseline and the verifier for the approximate tier. All float
  inputs are widened to double *before* any arithmetic and summed
  sequentially, which makes scores bit-reproducible across engines
  and partitionings.
* :func:`lsh_bucket_ann` — approximate: sign-of-projection LSH with
  deterministic integer-weight hyperplanes (portable: no RNG, no
  float seed drift), bucket equi-join, exact cosine re-rank inside
  the bucket. At 100 TB the bucket join replaces the cross join —
  candidates per query drop from N to bucket size; recall is tuned
  by ``n_planes`` (fewer planes → bigger buckets → higher recall).

An IVF variant (k-means coarse quantizer) would slot in the same
shape — train centroids with ``pyspark.ml.clustering.KMeans``,
assign ``bucket = argmin centroid distance``, same bucket-join —
noted as the model-based alternative; the LSH path needs no trained
state, which keeps the catalog query deterministic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.operators.planutil import (
    STATS_UNKNOWN,
    blocked_pair_join,
    fits_broadcast,
    plan_size_bytes,
)

#: broadcast the QUERY side of an ANN scoring join only when its
#: plan-time source estimate is under this bound. The catalog
#: queries derive the query set as a corpus slice (``vec_id % 50``)
#: — data-sized, so at real scale the hint would ship ~2% of the
#: corpus to every executor (a guaranteed OOM at 100 TB); under the
#: bound the broadcast skips the pair-join shuffle entirely.
#: Unknown-sized lineages (Spark Connect — ``planutil``) take the
#: safe non-broadcast path. Same gating scheme as the df table in
#: ``dedup.PREFIX_DF_BROADCAST_SOURCE_BYTES``.
#:
#: Sizing argument for 8 MiB: the gate reads the SOURCE-scan
#: estimate, and between the scan and the broadcast the rows
#: inflate ~2–3× — float vectors widen to double, a norm column is
#: projected, and ``BroadcastHashJoin`` materializes an uncompressed
#: long-keyed relation of JVM rows — so the physical broadcast is
#: ≤ ~16–24 MiB. That keeps it (a) the same order as Spark's own
#: ``spark.sql.autoBroadcastJoinThreshold`` default (10 MB), the
#: community consensus for "cheap to build on the driver and hold
#: per executor"; (b) ≪1% of a typical 4–16 GiB executor heap, so
#: every probe task can hold it next to its shuffle buffers; and
#: (c) small enough that re-shipping it to 1000 executors (~20 GB
#: aggregate network) still beats the two shuffle sorts it replaces.
#: Deliberately a source-bytes constant rather than reading the
#: session's autoBroadcastJoinThreshold: that conf gates PHYSICAL
#: plan sizes and is commonly raised for dimension tables without
#: intending to widen data-derived ANN query slices with it.
ANN_QUERY_BROADCAST_SOURCE_BYTES = 8 << 20


def _grid_blocks(df: DataFrame) -> int:
    """Block count per side for the brute-force pair grid:
    ~sqrt(session shuffle parallelism), so the grid has about one
    cell per shuffle partition while replication (×blocks per side)
    grows only with the root of parallelism. Callers at real scale
    size the grid to executor memory instead (|side|/blocks rows
    must fit a task)."""
    import math

    try:
        p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover - odd session
        p = 32
    return max(2, math.isqrt(max(1, p)))


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED norms. The pair join multiplies rows,
    so evaluating ``norm`` inside the pair expression costs O(pairs);
    projecting it on each (much smaller) side first costs O(rows) and
    produces bit-identical doubles — the norm expression is the same,
    it just runs once per vector."""
    return dot(a, b) / (na * nb)


def _respread_thin_candidates(c: DataFrame) -> DataFrame:
    """Under a broadcast-queries join, the O(|q| × |c|) scoring runs
    with the CANDIDATES side's partitioning — which is scan- or
    limit-determined, not compute-determined: a small parquet scan
    plans one split, and an upstream orderBy+limit pool (q126)
    localCheckpoints to ONE partition, serializing the whole pair
    grid onto a single task (measured: 80 s single-task stage at the
    ×10 scale fixture vs 12 s at ×30, where the query side outgrew
    the broadcast gate and took the parallel blocked path).
    Re-spread a thin candidates side before the compute; the shuffle
    is linear in |c| and amortized by the quadratic scoring it
    parallelizes. A corpus-scale scan already plans
    ≥ defaultParallelism splits and skips this untouched.

    The probe degrades gracefully: ``df.rdd`` and
    ``sparkContext`` are unavailable under Spark Connect, and the
    respread is a pure performance optimization — any failure falls
    through to the unrepartitioned candidates (matching
    ``planutil.plan_size_bytes``' any-failure-degrades discipline),
    so an explicit ``broadcast_queries=True`` call keeps working
    under Connect."""
    try:
        par = c.sparkSession.sparkContext.defaultParallelism
        thin = c.rdd.getNumPartitions() < par
    except Exception:
        return c
    if thin:
        return c.repartition(par, F.col("neighbor_id"))
    return c


def _query_side(q: DataFrame, sized: DataFrame) -> DataFrame:
    """The query side of a bucket or cell equi-join, broadcast-hinted
    iff ``sized`` (the caller's raw query input) fits
    ``ANN_QUERY_BROADCAST_SOURCE_BYTES``. Unhinted, the bucket/cell
    key makes the join a plain shuffle join."""
    if fits_broadcast(sized, ANN_QUERY_BROADCAST_SOURCE_BYTES):
        return F.broadcast(q)
    return q


def _all_pairs(
    q: DataFrame,
    c: DataFrame,
    sized: DataFrame,
    broadcast: bool | None = None,
) -> DataFrame:
    """Every (query_id, neighbor_id) pair of ``q`` × ``c`` except
    self-pairs: the brute-force pairing of :func:`cosine_topk`,
    :func:`contrastive_topk` and ``vectorops.quantized_topk``.

    ``broadcast`` defaults to whether ``sized`` (the caller's raw
    query input) fits ``ANN_QUERY_BROADCAST_SOURCE_BYTES``. The
    broadcast path joins ``q`` against the respread candidates;
    otherwise the pairing is the blocked grid
    (``planutil.blocked_pair_join``), with per-task memory bounded
    and bit-identical scores."""
    if broadcast is None:
        broadcast = fits_broadcast(sized, ANN_QUERY_BROADCAST_SOURCE_BYTES)
    not_self = F.col("query_id") != F.col("neighbor_id")
    if broadcast:
        return F.broadcast(q).join(_respread_thin_candidates(c), not_self)
    blocks = _grid_blocks(sized)
    return blocked_pair_join(
        q, c, blocks, blocks, "query_id", "neighbor_id"
    ).filter(not_self)


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query row (excluding self).
    Returns (query_id, neighbor_id, cosine, rank). Brute force — the
    oracle-checkable baseline tier (the production scale paths are
    :func:`lsh_bucket_ann` / :func:`ivf_ann`).

    The query side broadcasts ONLY under the plan-time size gate
    (``ANN_QUERY_BROADCAST_SOURCE_BYTES``): catalog queries derive
    the query set as a slice OF the corpus, so it scales with the
    data and an unconditional hint would ship it whole to every
    executor at 100 TB. Over the bound (or when Catalyst cannot
    size the plan — Spark Connect, see ``planutil.plan_size_bytes``)
    the pairing runs as an explicit blocked pair grid
    (``planutil.blocked_pair_join``): per-task memory bounded, plain
    shuffle equi-join on the cell id, bit-identical scores. Both
    paths oracle-identical (tests/test_approx_tier.py).
    ``broadcast_queries`` forces either path (q107 forces the
    grid)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = _all_pairs(q, c, queries, broadcast_queries).select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def contrastive_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k_pos: int = 3,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive pair mining for metric-learning training data:
    per anchor, the ``k_pos`` HARDEST POSITIVES (same label,
    highest cosine, self excluded — the pairs a contrastive loss
    must keep together) and the ``k_neg`` HARD NEGATIVES (different
    label, highest cosine — the pairs it must push apart; mining
    near-boundary negatives is what makes triplet/InfoNCE batches
    informative). Returns (query_id, kind 'pos'|'neg', neighbor_id,
    cosine, rank), rank per (query, kind).

    Same scale machinery as :func:`cosine_topk` — plan-time-gated
    query broadcast, blocked pair grid beyond the bound (the label
    predicate rides the pair projection either way); this is the
    brute-force baseline tier, and the production composition is
    per-label IVF (bound candidates with :func:`ivf_ann` cells,
    then split by label) once corpora outgrow it."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
            F.col(label_col).alias("q_label"),
        )
    ).withColumn("qn", norm(F.col("qv")))
    c = (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            F.col(label_col).alias("c_label"),
        )
    ).withColumn("cn", norm(F.col("cv")))
    scored = _all_pairs(q, c, queries).select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cosine"),
        F.when(F.col("c_label") == F.col("q_label"), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("kind"),
    )
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    k_of = F.when(F.col("kind") == "pos", F.lit(k_pos)).otherwise(
        F.lit(k_neg)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_of)
        .select(
            "query_id", "kind", "neighbor_id", "cosine",
            F.col("rank").cast("int"),
        )
    )


def contrastive_topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k_pos: int = 3,
    k_neg: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The PRODUCTION tier of :func:`contrastive_topk`: bound the
    candidate set with the IVF coarse quantizer first (queries probe
    their ``nprobe`` best cells, candidates live in exactly one
    cell, pair volume is cell-bounded), then split the probed
    candidates into hardest positives / hard negatives by label.
    Same plan geometry as :func:`ivf_ann` — broadcast centroids for
    the n×K assignment, plan-time-gated query broadcast on the cell
    equi-join — so the mining pass scales exactly like the ANN tier
    it reuses. Returns (query_id, kind, neighbor_id, cosine, rank)."""
    qlab = queries.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("q_label")
    )
    clab = candidates.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("c_label")
    )
    q = (
        ivf_assign(queries, centroids, id_col, vec_col, n_best=nprobe)
        .join(qlab, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qn"),
            "centroid_id",
            "q_label",
        )
    )
    c = (
        ivf_assign(candidates, centroids, id_col, vec_col)
        .join(clab, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
            F.col("centroid_id").alias("c_cell"),
            "c_label",
        )
    )
    pairs = _query_side(q, queries).join(
        c,
        (F.col("c_cell") == F.col("centroid_id"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cosine"),
        F.when(F.col("c_label") == F.col("q_label"), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("kind"),
    )
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    k_of = F.when(F.col("kind") == "pos", F.lit(k_pos)).otherwise(
        F.lit(k_neg)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_of)
        .select(
            "query_id", "kind", "neighbor_id", "cosine",
            F.col("rank").cast("int"),
        )
    )


def lsh_plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-6, 6]:
    ``((dim*31 + plane*17 + 7) % 13) - 6``. Integer weights make the
    projection exact in double arithmetic on any engine."""
    return ((dim * 31 + plane * 17 + 7) % 13) - 6


def lsh_bucket(
    vec: Column, n_planes: int, dim: int, plane_offset: int = 0
) -> Column:
    """Sign-bit bucket string over ``n_planes`` integer-weight
    hyperplanes starting at global plane index ``plane_offset``
    (bands reuse this with disjoint offsets).

    Each plane's weight array is parsed from ONE SQL string
    (``F.expr("array(...)")``) instead of ``dim`` stacked ``F.lit``
    calls — with auto-scaled banding the total weight-literal count
    is dim × planes × bands (tens of thousands at large corpus
    parameters) and per-literal py4j calls dominate plan
    construction. The parsed tree is identical (double literals
    either way). The vector is widened to double once, shared by
    every plane's projection."""
    dv = as_double(vec)
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        ws = ", ".join(
            f"{float(lsh_plane_weight(p, j))}D" for j in range(dim)
        )
        weights = F.expr(f"array({ws})")
        proj = dot(dv, weights)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_ann(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, exact cosine re-rank inside. Same output shape as
    :func:`cosine_topk` (a query whose bucket holds < k neighbors
    returns fewer rows — the standard ANN recall trade).

    Query-side broadcast is plan-time gated
    (``ANN_QUERY_BROADCAST_SOURCE_BYTES``) — over the bound the
    bucket column is already an equi key, so the fallback is a plain
    shuffle join on ``bucket`` (both paths oracle-identical)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    ).withColumn("qn", norm(F.col("qv")))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        _query_side(q, queries)
        .join(c, (F.col("query_id") != F.col("neighbor_id")) & (q["bucket"] == c["bucket"]))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


#: auto-banding anchors: planes-per-band targets ~LSH_TARGET_BUCKET
#: rows per bucket (r = ceil(log2(N / target)), floor 3); the band
#: count holds the recall target through 1-(1-p^r)^b ≥ LSH_RECALL
#: for per-plane collision prob p = 1 - arccos(θ)/π, floor 6.
#: Anchored so corpora ≤ ~2k vectors resolve to exactly (3 planes,
#: 6 bands) — the constants the q32 oracle mirrors at gate SF.
LSH_TARGET_BUCKET = 256
LSH_RECALL = 0.80
LSH_MIN_PLANES = 3
LSH_MIN_BANDS = 6


def auto_lsh_params(
    n_vectors: int, threshold: float
) -> tuple[int, int]:
    """(bands, planes_per_band) for a corpus of ``n_vectors``.

    Fixed banding is quadratic at scale: with constant planes the
    bucket count is constant, so bucket size — and the candidate
    pair join — grows as Θ(N²). Scaling r ≈ log2(N / target) keeps
    expected bucket size constant; for background pairs at collision
    prob p̄ the candidate fraction is b·p̄^r ≈ b·(target/N)^{log2(1/p̄)}
    — near-linear total candidates. The bands then grow as
    ln(1/(1-recall))/p_t^r to hold recall for true pairs at the
    threshold's p_t (the standard LSH r/b trade — Leskovec et al.,
    Mining of Massive Datasets §3.4)."""
    import math

    r = max(
        LSH_MIN_PLANES,
        math.ceil(math.log2(max(n_vectors, 1) / LSH_TARGET_BUCKET))
        if n_vectors > LSH_TARGET_BUCKET
        else LSH_MIN_PLANES,
    )
    p_t = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    b = max(
        LSH_MIN_BANDS,
        math.ceil(math.log(1.0 / (1.0 - LSH_RECALL)) / max(p_t**r, 1e-12)),
    )
    return b, r


def cosine_dedup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    bands: int | None = None,
    planes_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs blocked by BANDED sign-LSH —
    the scale-safe replacement for semantic-column blocking.

    Why not block on a label/category column: semantic blocks are a
    FIXED set, so label blocks grow linearly with the corpus and the
    pair join is Σ block² = O(N²). LSH bucket count is 2^r per band;
    with ``bands``/``planes_per_band`` left as None they are derived
    from the corpus size and threshold by :func:`auto_lsh_params`
    (r grows with log N so buckets stay bounded — fixed banding
    would itself be Θ(N²); measured 7.2 s → 41 s for a 3× corpus
    before auto-scaling). The catalog query (q32) resolves to
    6 bands × 3 planes at gate SF; measured recall vs exact
    all-pairs is asserted in
    ``tests/test_dedup_similarity.py::test_lsh_dedup_recall``.

    Plan shape (candidates stay SLIM): one projection computes the
    band buckets and explodes to ``(band, bucket, id)`` index rows —
    the vectors do NOT ride the explode; the self equi-join on
    (band, bucket) and the multi-band ``dropDuplicates`` shuffle
    16-byte id pairs, not kilobyte vector rows (previously the
    dominant cost — the pair shuffle carried both vectors); the
    surviving candidate set then joins back to the (id → vector,
    norm) projection twice for exact scoring. At scale the
    score-side joins hash on id — AQE broadcasts the vector side
    when it fits, and both sides stay key-partitioned when not."""
    if bands is None or planes_per_band is None:
        auto_b, auto_r = auto_lsh_params(vectors.count(), threshold)
        bands = bands if bands is not None else auto_b
        planes_per_band = (
            planes_per_band if planes_per_band is not None else auto_r
        )
    proj = vectors.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("vn", norm(F.col("v")))
    banded = (
        proj.select(
            "vid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            lsh_bucket(
                                F.col("v"),
                                planes_per_band,
                                dim,
                                plane_offset=b * planes_per_band,
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("vid", "bb.band", "bb.bucket")
        # both sides of the candidate self-join consume this frame;
        # unpinned, the bands × planes_per_band sign-projection
        # pipeline (each projection a dim-wide fold) executes twice —
        # the minhash band-table precedent: pin the output
        # of the expensive signature tier, 3-int rows per (doc, band)
        .localCheckpoint()
    )
    a = banded.select(F.col("vid").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("vid").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = proj.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("vn").alias("na")
    )
    vb = proj.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("vn").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


#: the Arrow matmul assignment engages when the centroid frame's
#: plan-time SOURCE estimate clears this bound. The codebook is
#: derived as a filter of the corpus scan and Catalyst's size-only
#: estimator reports the CHILD's size for a Filter, so this is
#: effectively a CORPUS-size gate — exactly the quantity K scales
#: with (K = N/CENTROID_MOD). Gate SFs (sf0.01 ≈ 80 KB, sf0.1 ≈
#: 0.8 MB source) stay on the JVM HOF path with a bit-identical
#: plan (the oracle hash depends on its sequential-sum cosines);
#: the ×10/×30 scale fixtures (≥ 5 MB) flip to BLAS.
IVF_MATMUL_ASSIGN_SOURCE_BYTES = 2 << 20


def _matmul_scored(
    v: DataFrame, cent: DataFrame, n_best: int, keep_score: bool
) -> DataFrame:
    """The scale path of :func:`ivf_assign`: the N×K scoring pass as
    a numpy matmul inside mapInPandas, codebook shipped whole as a
    Spark broadcast variable (a ×30 scale audit: the JVM
    higher-order-function cosine made the pass q147's quadratic-cost
    semantic side — 19.6→231.6 s from ×10 to ×30 — and q152's 1.67
    slope; BLAS does the same ×30 flops in under a second per task).

    Memory contract: IDENTICAL to the brute path, which already
    broadcasts the full codebook into every task for its join — this
    path collects the same rows once at the driver and rebroadcasts
    them as a (ids, matrix, norms) triple. Shuffle contract: NONE —
    a pure map over the vector partitions (brute shuffles the argmax
    partial-aggregate). A failed two-level super-sampling design was
    measured first and rejected: √K hash-stride supers cannot cover
    a corpus whose natural cluster count grows with N (the ×30
    fixture's 30 sign-flip replicas vs 25 supers collapsed 600 cells
    to 60 with 3× hot-cell skew, poisoning every within-cell join
    downstream).

    Exactness: numpy's pairwise summation differs from the JVM HOF
    sequential sum by ≈1e-16 relative — argmax/top-k flips only on
    exact cosine ties, where the deterministic id-ascending
    tie-break (stable argsort over an id-sorted codebook) matches
    the brute path's ordering. NaN cosines (zero-norm vectors) rank
    FIRST and null embeddings rank LAST with a null score, mirroring
    the brute path's ±2 sentinels; tests pin agreement on separated
    clusters and on the NaN/null edge rows."""
    import numpy as np

    spark = v.sparkSession
    rows = (
        cent.select("centroid_id", "cv", "cn")
        .orderBy("centroid_id")
        .collect()
    )
    ids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    C = np.array([r["cv"] for r in rows], dtype=np.float64)
    cn = np.array(
        [r["cn"] if r["cn"] is not None else np.nan for r in rows],
        dtype=np.float64,
    )
    bc = spark.sparkContext.broadcast((ids, C, cn))
    kk = min(n_best, len(ids))

    def run(batches):
        b_ids, b_C, b_cn = bc.value
        for pdf in batches:
            out_rows = {
                "vec_id": [], "v": [], "vn": [], "centroid_id": [],
            }
            out_rows["c_cos"] = []
            for vec_id, vv, vn in zip(pdf["vec_id"], pdf["v"], pdf["vn"]):
                if vv is None or len(vv) == 0:
                    # null embedding: every cosine is NULL → the brute
                    # sentinel (+2, NULLS LAST) assigns the lowest
                    # centroid ids with a null score
                    for j in range(kk):
                        out_rows["vec_id"].append(vec_id)
                        out_rows["v"].append(vv)
                        out_rows["vn"].append(vn)
                        out_rows["centroid_id"].append(int(b_ids[j]))
                        out_rows["c_cos"].append(None)
                    continue
                x = np.asarray(vv, dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (b_C @ x) / (b_cn * vn)
                # NaN-first semantics: a NaN cosine outranks any finite
                key = np.where(np.isnan(cos), 2.0, cos)
                order = np.argsort(-key, kind="stable")[:kk]
                for j in order:
                    out_rows["vec_id"].append(vec_id)
                    out_rows["v"].append(vv)
                    out_rows["vn"].append(vn)
                    out_rows["centroid_id"].append(int(b_ids[j]))
                    c = cos[j]
                    out_rows["c_cos"].append(
                        float(c) if not np.isnan(c) else float("nan")
                    )
            yield pd.DataFrame(out_rows)

    return v.mapInPandas(
        run,
        schema=(
            "vec_id long, v array<double>, vn double, "
            "centroid_id long, c_cos double"
        ),
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_best: int = 1,
    keep_score: bool = False,
    keep_rank: bool = False,
) -> DataFrame:
    """Coarse-quantizer assignment: each vector goes to its
    ``n_best`` highest-cosine centroids (ties → lowest centroid id;
    one output row per kept centroid). Returns
    (vec_id, v double-array, vn norm, centroid_id) — plus the
    centroid cosine ``c_cos`` when ``keep_score`` (the
    distance-admission policy ranks index entries by it).

    The centroid table broadcasts (it is tiny by construction); the
    assignment is the standard IVF n×K scoring pass. ``n_best > 1``
    is the query-side multi-probe used by :func:`ivf_ann`'s
    ``nprobe``.

    Shuffle discipline: the broadcast expansion is
    map-side, so the only shuffle is the per-vector argmax — and for
    ``n_best == 1`` (the common case) it must NOT carry the N×K
    candidate rows with their ~520-byte vector arrays through a rank
    window: a partial-aggregating ``min_by`` pre-reduces each task's
    candidates, so the exchange moves ~ONE slim row per vector
    (K-fold fewer rows AND no window sort). ``n_best > 1`` keeps the
    original rank window carrying (v, vn) — a join-back variant was
    tried and REVERTED: multi-probe consumers (q138's MMR loop)
    re-derive the assignment lazily per round, and the extra join
    re-executed per derivation (measured 2.5 s → 130 s on q138).

    Scale path: the N×K scoring pass through the JVM
    higher-order-function cosine is the dominant cost once the
    codebook grows with the corpus — the ×30 audit measured it as
    q147's quadratic-cost semantic side and q152's 1.67 ×10→×30
    slope. Above the ``IVF_MATMUL_ASSIGN_SOURCE_BYTES`` plan-size
    gate the same pass runs as a numpy matmul in mapInPandas
    (:func:`_matmul_scored` — same codebook-broadcast memory
    contract, zero shuffle, BLAS speed); gate SFs keep the
    bit-identical JVM plan, and an unsizable plan (Spark Connect)
    degrades to it."""
    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("vn", norm(F.col("v")))
    cent = centroids.select(
        F.col(id_col).alias("centroid_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    size = plan_size_bytes(centroids)
    if STATS_UNKNOWN > size >= IVF_MATMUL_ASSIGN_SOURCE_BYTES:
        scored = _matmul_scored(v, cent, n_best, keep_score)
    else:
        scored = v.join(F.broadcast(cent)).select(
            "vec_id",
            "v",
            "vn",
            "centroid_id",
            cosine_with_norms(
                F.col("v"), F.col("cv"), F.col("vn"), F.col("cn")
            ).alias("c_cos"),
        )
    cols = ["vec_id", "v", "vn", "centroid_id"] + (
        ["c_cos"] if keep_score else []
    ) + (["probe_rank"] if keep_rank else [])
    if n_best == 1:
        # The min_by key must order EXACTLY like the n_best>1 window
        # (desc(c_cos) → NaN first, NULLs last, ties → lowest
        # centroid_id) even for non-finite cosines (zero-norm or
        # null embeddings): a bare -c_cos diverges there, because
        # struct ordering sorts a negated NULL/NaN key differently.
        # Cosines live in [-1, 1], so ±2 are strict sentinels:
        # NaN → -2 (wins like NaN-first), finite → -c, NULL → +2
        # (loses like NULLS LAST).
        neg_key = F.coalesce(
            F.when(F.isnan(F.col("c_cos")), F.lit(-2.0)).otherwise(
                -F.col("c_cos")
            ),
            F.lit(2.0),
        )
        best = scored.groupBy("vec_id").agg(
            F.min_by(
                F.struct("centroid_id", "c_cos"),
                F.struct(neg_key.alias("nk"), F.col("centroid_id")),
            ).alias("b"),
            F.any_value("v").alias("v"),
            F.any_value("vn").alias("vn"),
        )
        return best.select(
            "vec_id",
            "v",
            "vn",
            F.col("b.centroid_id").alias("centroid_id"),
            *([F.col("b.c_cos").alias("c_cos")] if keep_score else []),
            *([F.lit(1).alias("probe_rank")] if keep_rank else []),
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n_best)
        .withColumn("probe_rank", F.col("r"))
        .select(*cols)
    )


def ivf_ann(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbors: assign queries to
    their ``nprobe`` nearest centroids and candidates to their one
    nearest, equi-join on the centroid id, exact cosine re-rank over
    the probed cells. The model-based alternative to
    :func:`lsh_bucket_ann` — here the coarse quantizer is a
    deterministic centroid subset so the whole plan is reproducible
    and oracle-checkable; swapping in KMeans centroids
    (``pyspark.ml.clustering.KMeans``) changes only the
    ``centroids`` input.

    ``nprobe=1`` has a recall cliff at cell boundaries (a query near
    the edge of its cell misses true neighbors assigned next door);
    ``nprobe=p`` probes the p best cells at exactly p× the candidate
    join volume — same broadcast-assign + cell equi-join shape. Each
    candidate lives in ONE cell, so a (query, neighbor) pair can
    match at most once and no post-join dedup is needed.

    The CENTROID table always broadcasts (tiny by construction —
    the coarse quantizer); the QUERY side broadcasts only under the
    plan-time gate (``ANN_QUERY_BROADCAST_SOURCE_BYTES``) — over the
    bound, ``centroid_id`` is the equi key and the scoring join runs
    as a plain shuffle join on the cell id (oracle-identical).

    Self-graph fast path: when ``queries`` IS the
    ``candidates`` frame (the q152 k-NN-graph shape — every vector
    queries the whole corpus), the n×K coarse-assignment pass — the
    dominant cost at fixed cell size — would otherwise run TWICE
    over the same input (n_best=nprobe for the query side, n_best=1
    for the candidate side). The min_by fast path and the rank
    window select by the exact same total order (its design
    contract, pinned by tests), so rank-1 of the multi-probe
    assignment IS the candidate assignment: run ONE n_best=nprobe
    pass, localCheckpoint it (the semantic_dedup_pairs precedent —
    unpinned, the pass re-executes per consumer), and derive both
    sides from it. One corpus scan + one scoring pass instead of
    two of each; bit-identical output."""
    if queries is candidates:
        shared = ivf_assign(
            candidates, centroids, id_col, vec_col,
            n_best=nprobe, keep_rank=True,
        ).localCheckpoint()
        qa = shared.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qn"),
            "centroid_id",
        )
        ca = shared.filter(F.col("probe_rank") == 1).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
            "centroid_id",
        )
    else:
        qa = ivf_assign(
            queries, centroids, id_col, vec_col, n_best=nprobe
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qn"),
            "centroid_id",
        )
        ca = ivf_assign(candidates, centroids, id_col, vec_col).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
            "centroid_id",
        )
    scored = (
        _query_side(qa, queries)
        .join(
            ca,
            (F.col("query_id") != F.col("neighbor_id"))
            & (qa["centroid_id"] == ca["centroid_id"]),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
    ranked retrieval lists — the standard way to combine sparse
    (lexical) and dense (embedding) retrieval without score
    calibration, since it uses only the RANKS:
    ``score = Σ_lists 1/(c + rank)``, a pair missing from one list
    contributes 0 from it.

    Inputs are (query_id, neighbor_id, rank) frames; the fusion is
    one full-outer equi-join on (query, neighbor) — no new scale
    shape beyond the input retrievers. Each term is an exact
    rational of integers evaluated in double, and the two terms are
    added in a fixed (a + b) order, so scores are bit-identical
    across engines. Returns (query_id, neighbor_id, rrf, rank)."""
    sa = a.select(
        "query_id",
        "neighbor_id",
        (F.lit(1.0) / (F.lit(c) + F.col("rank"))).alias("s_a"),
    )
    sb = b.select(
        "query_id",
        "neighbor_id",
        (F.lit(1.0) / (F.lit(c) + F.col("rank"))).alias("s_b"),
    )
    fused = sa.join(sb, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        (
            F.coalesce(F.col("s_a"), F.lit(0.0))
            + F.coalesce(F.col("s_b"), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf", F.col("rank").cast("int"))
    )


def ann_index_probe(a: DataFrame, index: DataFrame, k: int) -> DataFrame:
    """One probe step of the incremental ANN index: the assigned
    batch (``ivf_assign`` output) equi-joins the capped per-cell
    index on the cell id and ranks exact cosines per query — join
    fan-in bounded at cell_cap × batch-cell rows. Shared by the
    batch loop (:func:`incremental_ivf_topk`) and the Structured
    Streaming twin (``plans.streamops`` q114)."""
    scored = (
        a.select(
            F.col("vec_id").alias("query_id"), "v", "vn", "centroid_id"
        )
        .join(index, "centroid_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("v"), F.col("cv"), F.col("vn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def ann_index_admit(
    a: DataFrame,
    index: DataFrame | None,
    counts: DataFrame | None,
    cell_cap: int,
    admit: str,
    arr: int,
) -> tuple[DataFrame, DataFrame | None]:
    """One admission step of the incremental ANN index; returns the
    new (index, counts) pair, localCheckpoint-truncated (the index
    chains across batches). ``admit="arrival"``: stored count +
    within-batch rank ≤ cap, carried counts. ``admit="distance"``:
    per-cell top-cap by (centroid cosine DESC, batch ASC, id ASC) —
    full cells evict the farthest entry; prefix-stable, no counts
    needed. See :func:`incremental_ivf_topk` for the contracts."""
    if admit == "distance":
        arrivals = a.select(
            "centroid_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
            F.col("c_cos").alias("ccos"),
            F.lit(arr).alias("arr"),
        )
        cand = arrivals if index is None else index.unionByName(arrivals)
        # per-cell re-rank over cell_cap + batch-cell rows —
        # bounded by construction, never corpus-sized
        we = Window.partitionBy("centroid_id").orderBy(
            F.desc("ccos"), F.asc("arr"), F.asc("neighbor_id")
        )
        new_index = (
            cand.withColumn("rr", F.row_number().over(we))
            .filter(F.col("rr") <= cell_cap)
            .drop("rr")
            .localCheckpoint()
        )
        return new_index, None
    wr = Window.partitionBy("centroid_id").orderBy("vec_id")
    ranked = a.withColumn("r", F.row_number().over(wr))
    if counts is not None:
        ranked = ranked.join(counts, "centroid_id", "left").withColumn(
            "n_stored", F.coalesce(F.col("n_stored"), F.lit(0))
        )
    else:
        ranked = ranked.withColumn("n_stored", F.lit(0))
    admitted = ranked.filter(
        F.col("n_stored") + F.col("r") <= cell_cap
    ).select(
        "centroid_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )
    new_index = (
        admitted if index is None else index.unionByName(admitted)
    ).localCheckpoint()
    # recount from the index: it is cap-bounded per cell, so this
    # aggregate is index-sized, not corpus-sized
    new_counts = new_index.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_stored")
    )
    return new_index, new_counts


def incremental_ivf_topk(
    batches: list[DataFrame],
    centroids: DataFrame,
    k: int = 3,
    cell_cap: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    admit: str = "arrival",
) -> DataFrame:
    """Incremental ANN index MAINTENANCE — the embedding analogue of
    the capped incremental dedup (``operators.dedup``'s q102 path):
    vector batches arrive in order; each batch first PROBES the
    accumulated per-cell IVF index for its exact-cosine top-k
    neighbors, then is ADMITTED into the index under the ``admit``
    policy. Settled rows are never re-shuffled across cells; the
    per-batch probe join is bounded at cell_cap × batch-cell rows.

    ``admit="arrival"`` (the q108 oracle spec): a vector is admitted
    while its cell's stored count + within-batch arrival rank stays
    under ``cell_cap`` — saturated cells admit nothing further, and
    the carried state is one count per non-empty cell. Declarative
    contract (what the q108 oracle restates): vector u is an index
    entry iff its global arrival rank within its cell (arrival order
    = (batch, id)) is ≤ cell_cap; a batch-b query sees exactly the
    index entries from batches < b in its cell. The carried-count
    admission equals the global-rank filter by induction — while a
    cell is unsaturated its stored count IS its arrival count.

    ``admit="distance"`` (the production policy): a full cell EVICTS
    its farthest-from-centroid entry instead of rejecting the
    arrival — each batch the cell keeps the ``cell_cap`` entries
    with the highest centroid cosine (ties → earliest batch, lowest
    id), so the retained set tracks the cell's density core instead
    of its arrival prefix. Per-cell re-rank touches only
    cell_cap + batch-cell rows (bounded, same window class as the
    probe); recall dominance over arrival admission is asserted on
    the clustered fixture in tests/test_dedup_similarity.py.

    Returns (query_id, neighbor_id, cosine, rank) over all batches
    (batch 0 probes an empty index and contributes no rows)."""
    if admit not in ("arrival", "distance"):
        raise ValueError(f"unknown admission policy: {admit!r}")
    index = None   # (centroid_id, neighbor_id, cv, cn[, ccos, arr])
    counts = None  # (centroid_id, n_stored) — carried admission state
    outs: list[DataFrame] = []
    for arr, batch in enumerate(batches):
        a = ivf_assign(
            batch, centroids, id_col, vec_col, keep_score=(admit == "distance")
        )
        # two consumers (probe + admission) and an iterative loop:
        # truncate lineage like integer_pagerank does, so batch B's
        # plan does not re-derive every earlier assignment
        a = a.localCheckpoint()
        if index is not None:
            outs.append(ann_index_probe(a, index, k))
        index, counts = ann_index_admit(
            a, index, counts, cell_cap, admit, arr
        )
    if not outs:
        spark = batches[0].sparkSession
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, cosine double, rank int",
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def semantic_dedup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    sub_planes: int = 0,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-bounded near-duplicate PAIRS — the SemDeDup geometry of
    :func:`semantic_dedup` emitting ``(id_a, id_b, cosine)`` instead
    of keep decisions.

    Scale design: the LINEAR alternative to
    :func:`cosine_dedup_pairs_lsh` when the threshold has no
    selectivity gap over the background cosine. Banded LSH must grow
    its band count as (N/target)^{log2(1/p_t)} to hold recall, so at
    an unselective threshold the candidate volume is superlinear
    (measured ×10 exponent 0.91 on q32's 0.45-threshold gate — the
    honest LSH cost, SCALE.md). IVF cells sidestep the
    recall trade: the codebook grows WITH the corpus (deterministic
    vec_id % mod subset here, :func:`kmeans_codebook` in
    production), so cells stay ~constant-size and the within-cell
    pair join is Σ cell² ≈ #cells · cell² = Θ(N · cell) — linear.
    The trade is blocking recall at cell boundaries (near-dups
    assigned to different cells are missed) instead of LSH's banding
    recall — acceptable for a disagreement AUDIT (q147), not a
    replacement for q32's pair list where banding recall is the
    contract.

    Plan shape: each vector sits in exactly ONE cell (one block even
    with sub-splitting), so a pair occurs at most once and no pair
    dedup exchange is ever needed — which means the cosine can be
    computed INSIDE the single block-keyed self-join projection and
    the threshold filter applied streaming, never materializing a
    vector-carrying pair set. q32's slim-id discipline exists to
    keep vectors out of the multi-band ``dropDuplicates`` exchange;
    with no dedup stage here the slim shape just deferred scoring
    through two extra id-keyed joins of the assignment (6 exchanges
    + 3 sort-merge joins in q147's before-plan) for the
    same vector bytes shuffled. Now: 2 block-keyed exchanges, one
    join, identical cosine expression on identical values — results
    bit-identical. The assignment is still consumed twice (both join
    sides), so it stays localCheckpoint-pinned — without it the n×K
    scoring pass re-executes per consumer (measured 59 s unpinned →
    11 s pinned at the ×10 scale point, idle machine).

    Skewed cells: a corpus whose embeddings CLUSTER puts a constant
    fraction of the data in one cell, and that cell's pair join is
    quadratic again. Pass ``sub_planes`` > 0 to sub-split every cell
    by a sign-LSH bucket (``lsh_bucket``), the same escape
    :func:`semantic_dedup` carries — block size drops ~2^sub_planes
    at the standard banding recall trade."""
    assigned = ivf_assign(
        vectors, centroids, id_col, vec_col
    ).localCheckpoint()
    if sub_planes > 0:
        assigned = assigned.withColumn(
            "sub_bucket", lsh_bucket(F.col("v"), sub_planes, dim)
        )
    block = ["centroid_id"] + (["sub_bucket"] if sub_planes > 0 else [])
    sa = assigned.select(
        F.col("vec_id").alias("id_a"),
        *block,
        F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    sb = assigned.select(
        F.col("vec_id").alias("id_b"),
        *block,
        F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    return (
        sa.join(sb, block)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    sub_planes: int = 0,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse codebook,
    compare pairs only WITHIN a cluster, and drop every item that has
    a near-duplicate (cosine ≥ ``threshold``) of lower id in its
    cluster. Returns one row per input vector:
    ``(vec_id, centroid_id, kept boolean)`` — the curation decision,
    not just the pair list (contrast :func:`cosine_dedup_pairs_lsh`,
    which emits pairs).

    Scale design: the codebook broadcasts in :func:`ivf_assign`
    (coarse codebooks are fixed-size or sublinear — SemDeDup uses
    ~10⁵ clusters for billions of docs; :func:`kmeans_codebook`
    supplies a trained one). The pair join is an equi-join on
    ``centroid_id``, so pair work is Σ cluster² — bounded when
    cluster sizes are; for skewed clusters pass ``sub_planes`` > 0
    to sub-split every cluster by a sign-LSH bucket
    (:func:`lsh_bucket`), which caps block size at the standard LSH
    recall trade. Keep-lowest-id is a deterministic, engine-portable
    stand-in for SemDeDup's keep-closest-to-centroid policy (ties in
    float distance are engine-dependent; ids are not). The
    assignment feeds the pair join twice plus the final keep join,
    so it is localCheckpoint-pinned (the semantic_dedup_pairs
    lesson: unpinned, the n×K scoring pass re-executes per
    consumer)."""
    assigned = ivf_assign(
        vectors, centroids, id_col, vec_col
    ).localCheckpoint()
    if sub_planes > 0:
        assigned = assigned.withColumn(
            "sub_bucket", lsh_bucket(F.col("v"), sub_planes, dim)
        )
    block = ["centroid_id"] + (["sub_bucket"] if sub_planes > 0 else [])
    a = assigned.select(
        *block,
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    b = assigned.select(
        *block,
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    dropped = (
        a.join(b, block)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            )
            >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", "centroid_id", F.col("__drop").isNull().alias("kept")
        )
    )


def balanced_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    cell_cap: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Size-capped cluster assignment: each vector
    is placed in the nearest of its ``nprobe`` candidate cells that
    still has room — the balanced counterpart of :func:`ivf_assign`
    for curriculum/mixture construction, where a raw codebook's
    unbalanced cells would skew per-bucket sampling budgets.

    Round-synchronous greedy (exactly ``nprobe`` rounds, so the
    whole schedule is declarative — the q119 oracle restates it as
    chained CTEs): in round r every still-unassigned vector proposes
    to its rank-r cell; a cell accepts the top
    ``cell_cap − already_held`` proposers by (centroid cosine DESC,
    vec_id ASC) and acceptances are final. Vectors rejected by all
    ``nprobe`` candidates come back with NULL assignment — the
    overflow set a production pipeline routes to a spill cell or a
    second codebook pass.

    Scale shape: ONE broadcast-centroid scoring pass
    (:func:`ivf_assign`, n×K), then per round one per-cell window
    over that round's proposers (the admission re-rank class of
    ``ann_index_admit``: bounded by proposal volume per cell, and
    the cap itself bounds what any later round inherits) plus a
    #cells-row count frame that broadcasts. Nothing re-shuffles the
    accepted set; rounds chain through localCheckpoint exactly like
    the incremental-index loop. Returns
    (vec_id, centroid_id, c_cos, assigned_round) — NULLs for
    overflow vectors."""
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("centroid_id")
    )
    cand = (
        ivf_assign(
            vectors, centroids, id_col, vec_col,
            n_best=nprobe, keep_score=True,
        )
        .select(
            "vec_id",
            "centroid_id",
            "c_cos",
            F.row_number().over(w).alias("prop_rank"),
        )
        .localCheckpoint()
    )
    accepted: DataFrame | None = None
    for r in range(1, nprobe + 1):
        props = cand.filter(F.col("prop_rank") == r)
        if accepted is None:
            props = props.withColumn("__held", F.lit(0))
        else:
            counts = accepted.groupBy("centroid_id").agg(
                F.count(F.lit(1)).alias("__held")
            )
            props = (
                props.join(accepted.select("vec_id"), "vec_id", "left_anti")
                .join(F.broadcast(counts), "centroid_id", "left")
                .withColumn("__held", F.coalesce(F.col("__held"), F.lit(0)))
            )
        cw = Window.partitionBy("centroid_id").orderBy(
            F.desc("c_cos"), F.asc("vec_id")
        )
        take = (
            props.withColumn("__rn", F.row_number().over(cw))
            .filter(F.col("__rn") <= F.lit(cell_cap) - F.col("__held"))
            .select(
                "vec_id",
                "centroid_id",
                "c_cos",
                F.lit(r).alias("assigned_round"),
            )
        )
        accepted = (
            take if accepted is None else accepted.unionByName(take)
        ).localCheckpoint()
    return vectors.select(F.col(id_col).alias("vec_id")).join(
        accepted, "vec_id", "left"
    )


def kmeans_codebook(
    vectors: DataFrame,
    k: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF coarse codebook: k-means centroids over the
    vector column, returned in the same (vec_id, embedding) shape
    :func:`ivf_ann` expects — swap it for the deterministic-subset
    codebook when recall matters more than reproducibility (k-means
    cells follow the data distribution; fixed seed keeps runs
    repeatable on identical input partitioning). Requires
    ``pyspark.ml`` (always bundled with Spark).

    The training input is hash-repartitioned on ``id_col`` to a
    FIXED partition count and sorted within partitions:
    kmeans|| init is partitioning-dependent, so without the pin the
    trained codebook — and any recall gate built on it (q112) —
    would shift with the session's parallelism / input splits. With
    it, the model is a pure function of (data, k, seed)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = (
        vectors.select(
            F.col(id_col).alias("__id"),
            array_to_vector(as_double(F.col(vec_col))).alias("features"),
        )
        .repartition(8, F.col("__id"))
        .sortWithinPartitions("__id")
        .select("features")
    )
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(train)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return vectors.sparkSession.createDataFrame(
        centers, f"{id_col} long, {vec_col} array<double>"
    )


def sparse_cosine_topk(
    terms: DataFrame,
    k: int = 3,
    df_cap: int = 64,
    id_col: str = "doc_id",
    term_col: str = "term",
    tf_col: str = "tf",
) -> DataFrame:
    """Sparse cosine top-k over a (doc, term, tf) posting table —
    text-side retrieval next to the dense-embedding tiers. The dot
    products are INTEGER sums (Σ tf_a·tf_b), so scores are exact and
    order-independent — no float-summation drift between engines or
    partitionings; only the final ``dot / (‖a‖·‖b‖)`` is floating.

    Scale shape (single-pass term-group fold): per-term candidate
    fan-out is df², bounded by pruning terms with document frequency
    above ``df_cap`` (the stop-term / prefix-filtering bound; hot
    terms carry no ranking signal and are what makes naive term joins
    quadratic). ONE ``collect_list`` aggregate per term both applies
    the df prune and generates the i ≤ j pair products by array
    comb-explode. The prune is a ``size(ds) <= df_cap`` filter
    applied AFTER ``collect_list``, so a hot term's whole posting
    list is still collected on one reducer before it is dropped:
    per-task state is bounded by the largest df, not by ``df_cap``;
    only the pair fan-out is bounded. The posting lineage
    (typically tokenize → shingle → tf aggregate) executes exactly
    once instead of once per consumer (norms + both join sides; the
    q76 before-plan carried 24 scans of ``documents``). The i = j
    "self pairs" carry tf² — exactly the squared-norm contributions —
    so norms fall out of the SAME aggregate as the dots: after the
    (doc, neighbor) rollup the self row (d, d) holds Σtf² = ‖d‖²,
    attached to the pair rows by two windows (one per endpoint)
    instead of two doc-keyed joins. Norms are defined over the SAME
    capped term space so the metric stays an actual cosine; the
    integer dot sums and the ``sqrt(Σtf²)`` factors are the exact
    expressions of the join form, so scores are bit-identical.
    ``terms`` must hold one row per (doc, term). Returns (doc_id,
    neighbor_id, cosine, rank ≤ k); docs sharing no surviving term
    emit no rows."""
    posts = terms.select(
        F.col(id_col).alias("doc_id"),
        F.col(term_col).alias("term"),
        F.col(tf_col).cast("long").alias("tf"),
    )
    grouped = (
        posts.groupBy("term")
        .agg(F.collect_list(F.struct("doc_id", "tf")).alias("ds"))
        .filter(F.size("ds") <= df_cap)
    )
    # all i <= j array pairs per term: i = j rows are the norm
    # contributions (tf²), i < j rows the dot contributions; the
    # (doc_id, neighbor_id) key is normalized by id order because
    # collect_list order is arbitrary (the product is symmetric).
    pair_products = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 1, size(ds) - i),"
                " y -> struct(least(x.doc_id, y.doc_id) AS doc_id,"
                " greatest(x.doc_id, y.doc_id) AS neighbor_id,"
                " x.tf * y.tf AS p))))"
            )
        ).alias("e")
    ).select("e.doc_id", "e.neighbor_id", "e.p")
    dots = pair_products.groupBy("doc_id", "neighbor_id").agg(
        F.sum("p").alias("dot")
    )
    # symmetrize via a generator on the aggregated rows (NOT a union,
    # which would re-execute the aggregate lineage once per side):
    # self rows stay single, pair rows emit both directions.
    sym = dots.select(
        F.explode(
            F.when(
                F.col("doc_id") == F.col("neighbor_id"),
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("neighbor_id").alias("neighbor_id"),
                        F.col("dot").alias("dot"),
                    )
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("neighbor_id").alias("neighbor_id"),
                        F.col("dot").alias("dot"),
                    ),
                    F.struct(
                        F.col("neighbor_id").alias("doc_id"),
                        F.col("doc_id").alias("neighbor_id"),
                        F.col("dot").alias("dot"),
                    ),
                )
            )
        ).alias("e")
    ).select("e.doc_id", "e.neighbor_id", "e.dot")
    # each endpoint's ‖·‖² sits on its self row (d, d), present in
    # BOTH the doc_id = d and neighbor_id = d window partitions —
    # max over the single non-null value is that value.
    self_sq = F.when(
        F.col("doc_id") == F.col("neighbor_id"), F.col("dot")
    )
    wb = Window.partitionBy("neighbor_id")
    wa = Window.partitionBy("doc_id")
    scored = (
        sym.withColumn("nb", F.sqrt(F.max(self_sq).over(wb).cast("double")))
        .withColumn("na", F.sqrt(F.max(self_sq).over(wa).cast("double")))
        .filter(F.col("doc_id") != F.col("neighbor_id"))
        .select(
            "doc_id",
            "neighbor_id",
            (F.col("dot").cast("double") / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


#: BM25 constants as exact rationals: k1 = 6/5 (1.2), b = 3/4 (0.75)
#: — the standard Robertson defaults, chosen HERE because they keep
#: every per-term weight an exact integer rational (see bm25_topk).
BM25_SCALE = 1 << 20  # power-of-two fixed point for the summed scores


def bm25_topk(
    doc_terms: DataFrame,
    query_ids: DataFrame,
    k: int = 3,
    df_cap: int = 64,
    id_col: str = "doc_id",
    term_col: str = "term",
    tf_col: str = "tf",
) -> DataFrame:
    """Exact-arithmetic BM25 top-k retrieval over a (doc, term, tf)
    posting table — the lexical ranking twin of
    :func:`sparse_cosine_topk` (cosine weighs by raw tf; BM25 adds
    the rarity and length-normalization terms every production
    lexical stack uses).

    **Exact math (the q124 discipline).** Textbook BM25 is
    ``Σ_t idf(t)·tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl))`` with
    ``idf = ln((N−df+½)/(df+½)+1)`` — unusable here twice over: ln
    is NOT correctly-rounded across engines, and the per-term sum of
    IEEE doubles is order-dependent. This variant keeps the exact
    same tf/length normalization but uses Robertson's pre-log odds
    ``idf = (N−df+½)/(df+½) = (2N−2df+1)/(2df+1)`` — an exact
    integer rational, monotone in df like the log form — and
    multiplies by the query-side tf. With k1 = 6/5, b = 3/4,
    avgdl = TL/N (TL = Σ dl exact BIGINT):

        contribution = qtf · (2N−2df+1)/(2df+1)
                       · 44·tf·TL / (20·tf·TL + 6·TL + 18·dl·N)

    quantized as ``⌊BM25_SCALE · num / den⌋`` — pure integer floor
    division on DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so every
    engine at every version computes the identical BIGINT, and the
    per-query score is an exact integer SUM (order- and
    partitioning-insensitive). Magnitudes: numerator ≤
    SCALE·qtf·2N·44·tf·TL ≈ 1e29 at 5e7 docs — DECIMAL(38,0)-safe
    past 1e8 docs; per-term contributions ≤ ~1e16 there, BIGINT-safe
    summed over any real query length.

    **Scale shape (single-pass term-group fold).** df prune at
    ``df_cap`` bounds the candidate fan-out (Σ_term qdf·df, the q76
    stop-term bound). ONE ``collect_list`` aggregate per term applies
    the prune (df itself is the array size) and generates the
    query × candidate products by array comb-explode. The prune is a
    ``size(ds) <= df_cap`` filter applied AFTER ``collect_list``, so
    a hot term's whole posting list is still collected on one reducer
    before it is dropped: per-task state is bounded by the largest
    df, not by ``df_cap``; only the fan-out is bounded. The posting
    lineage executes once instead of once per consumer
    (df + dl + both pruned sides — the q161 before-plan carried 16
    scans of ``documents``). Per-document length rides the posting
    rows via a doc-keyed window over the UNPRUNED space (the standard
    BM25 dl; pruning changes candidate generation, not the document
    model) instead of a per-candidate join, and the query flag is a
    doc-keyed join applied on the same exchange. Corpus stats (N, TL)
    are a 1-row broadcast (the q134 normalizer idiom) — the one
    remaining second pass over the posting aggregate. ``query_ids``
    must be unique ids (every caller passes a distinct id set). Returns
    (query_id, doc_id, score_scaled, rank ≤ k); self-matches
    excluded; query docs sharing no surviving term emit no rows."""
    posts = doc_terms.select(
        F.col(id_col).alias("doc_id"),
        F.col(term_col).alias("term"),
        F.col(tf_col).cast("long").alias("tf"),
    )
    # dl attached in-row: one doc-keyed exchange serves the length
    # window AND the query-flag join (same key, same partitioning)
    wdoc = Window.partitionBy("doc_id")
    flagged = (
        posts.withColumn("dl", F.sum("tf").over(wdoc))
        .join(
            query_ids.select(
                F.col(id_col).alias("doc_id"), F.lit(True).alias("is_q")
            ),
            "doc_id",
            "left",
        )
    )
    stats = (
        posts.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("tl"),
        )
    )
    grouped = (
        flagged.groupBy("term")
        .agg(
            F.collect_list(
                F.struct("doc_id", "tf", "dl", "is_q")
            ).alias("ds")
        )
        .filter(F.size("ds") <= df_cap)
    )
    # per term: query entries × candidate entries (self excluded);
    # df is the posting-list size — cast long to keep the contrib
    # expression's operand types identical to the join form's.
    cand = (
        grouped.select(
            F.size("ds").cast("long").alias("df"),
            F.explode(
                F.expr(
                    "flatten(transform(filter(ds, x -> x.is_q), x ->"
                    " transform(filter(ds, y -> y.doc_id != x.doc_id),"
                    " y -> struct(x.doc_id AS query_id, x.tf AS qtf,"
                    " y.doc_id AS doc_id, y.tf AS tf, y.dl AS dl))))"
                )
            ).alias("e"),
        )
        .select("df", "e.query_id", "e.qtf", "e.doc_id", "e.tf", "e.dl")
        .crossJoin(F.broadcast(stats))
    )
    contrib = F.expr(
        f"CAST((CAST({BM25_SCALE} AS DECIMAL(38,0)) * qtf"
        "  * (2 * n_docs - 2 * df + 1) * 44 * tf * tl)"
        " DIV ((CAST(2 AS DECIMAL(38,0)) * df + 1)"
        "      * (CAST(20 AS DECIMAL(38,0)) * tf * tl"
        "         + 6 * tl + 18 * dl * n_docs)) AS BIGINT)"
    )
    scored = (
        cand.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "doc_id", "score_scaled", F.col("rank").cast("int")
        )
    )
