"""Round-10 streaming realism tests (round-9 verdict item 6): the
bounded-replay gates all deliver one file per trigger in batch
order, so nothing exercised OUT-OF-ORDER arrival, a non-file
rate-limited source, or at-least-once REDELIVERY. These tests drive
the same shared operators through all three."""

from __future__ import annotations

import dataclasses
import time
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.plans import load_all
from shopify_db_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_ann_maintenance_out_of_order_matches_batch_twin(spark):
    """Out-of-order arrival through the REAL file-stream harness:
    the logical batches (vec_id % 3) are delivered in the scrambled
    order [2, 0, 1]. Incremental ANN output is by definition a
    function of ARRIVAL history (you can only probe what has been
    admitted), so the contract under reordering is: the stream must
    equal the batch twin (`incremental_ivf_topk`) fed the same
    permuted batch sequence — same probe joins, same admission
    ranks, same evictions."""
    from shopify_db_spark.operators.similarity import incremental_ivf_topk
    from shopify_db_spark.plans.streamops import (
        STATEFUL_SINK_FAMILIES,
        run_sink_family,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 10 == 0)
    perm = [2, 0, 1]  # delivery order of the logical batches
    # relabel: the file written as batch i carries logical batch perm[i]
    arrival = F.when(F.col("vec_id") % 3 == perm[0], 0).when(
        F.col("vec_id") % 3 == perm[1], 1
    ).otherwise(2)
    # q114's family (k=3, cell_cap=8, distance admission) with the
    # permuted arrival and this test's own centroids
    ann = STATEFUL_SINK_FAMILIES["ann_q114"]
    family = dataclasses.replace(
        ann,
        source=lambda spark, sf: emb.withColumn(
            "batch_no", arrival.cast("long")
        ),
        init=lambda spark, sf: {
            **ann.init(spark, sf),
            "centroids": centroids,
        },
    )
    streamed = run_sink_family(spark, SF_SMOKE, family)
    batches = [emb.filter(F.col("vec_id") % 3 == p) for p in perm]
    batch_twin = incremental_ivf_topk(
        batches, centroids, k=3, cell_cap=8, admit="distance"
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch_twin.collect()))
    assert s_rows == b_rows
    assert s_rows, "out-of-order replay produced no probe output"


def test_hll_registers_match_batch_through_rate_source(spark):
    """A genuinely rate-limited NON-FILE source: `rate-micro-batch`
    emits fixed-size value batches on a timer; values map to
    documents through a SCRAMBLED value→doc assignment (md5 order),
    so micro-batch boundaries land mid-“logical batch” and arrival
    order shares nothing with doc_id order. The HLL register
    MAX-merge must still converge to exactly the one-shot batch
    sketch — registers are order- and partition-insensitive by
    construction, and each merge is additionally applied TWICE per
    micro-batch (simulated at-least-once redelivery; MAX is
    idempotent, which is exactly why HLL state needs no
    redelivery bookkeeping)."""
    from shopify_db_spark.functions.text import tokens
    from shopify_db_spark.plans.textops import hll_registers

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    n_docs = docs.count()
    # scrambled dense index 0..n-1 in md5 order (NOT doc order)
    mapping = (
        docs.select(
            "doc_id",
            F.md5(F.concat(F.lit("rate|"), F.col("doc_id").cast("string")))
            .alias("__h"),
        )
        .withColumn(
            "value",
            F.row_number().over(Window.orderBy("__h", "doc_id")) - 1,
        )
        .select("value", "doc_id")
        .localCheckpoint()
    )
    batch_docs = mapping.join(docs, "doc_id")

    empty = spark.createDataFrame([], "source string, idx long, rho int")
    state = {"regs": empty, "delivered": 0}

    def merge(batch_df) -> None:
        toks = batch_df.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        regs = hll_registers(toks, ["source"]).select(
            "source", "idx", F.col("rho").cast("int").alias("rho")
        )
        state["regs"] = (
            state["regs"]
            .unionByName(regs)
            .groupBy("source", "idx")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint()
        )

    def sink(batch_df, batch_id: int) -> None:
        rows = batch_df.join(
            batch_docs, batch_df["value"] == batch_docs["value"]
        ).select("source", "text", "doc_id")
        if rows.isEmpty():
            return
        n = rows.count()
        merge(rows)
        merge(rows)  # simulated at-least-once redelivery of the batch
        # incremented only AFTER both merges are checkpointed — the
        # main thread stops the query once all docs are accounted
        # for, and stopping mid-merge would cancel the in-flight jobs
        state["delivered"] += n

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", max(7, n_docs // 4))
        .load()
        .writeStream.foreachBatch(sink)
        .start()
    )
    try:
        deadline = time.time() + 120
        while state["delivered"] < n_docs and time.time() < deadline:
            time.sleep(0.3)
    finally:
        q.stop()
    assert state["delivered"] == n_docs

    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    expected = sorted(
        map(
            tuple,
            hll_registers(toks, ["source"])
            .select("source", "idx", F.col("rho").cast("int"))
            .collect(),
        )
    )
    got = sorted(map(tuple, state["regs"].collect()))
    assert got == expected


def test_redelivery_guard_semantics_on_add_merge(spark):
    """ADD-merged sketch state (histogram / count-min / per-user
    counts) is NOT idempotent — the production sinks guard with a
    seen-batch_id set. Feed duplicate deliveries through the real
    guard wrapping q144's merge: with the guard the final registers
    equal the one-shot batch sketch; without it they would double."""
    from shopify_db_spark.functions.text import tokens
    from shopify_db_spark.plans.streamops import _hist_merge, _redelivery_guard
    from shopify_db_spark.plans.textops import length_histogram

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source", (F.col("doc_id") % 3).alias("batch_no")
    )
    empty = spark.createDataFrame([], "source string, bucket long, cnt long")
    state = {"hist": empty}
    sink = _redelivery_guard(spark, state, _hist_merge)

    # deliveries: 0, 1, 1 (redelivered), 2, 0 (redelivered late)
    for bid in (0, 1, 1, 2, 0):
        sink(docs.filter(F.col("batch_no") == bid), bid)

    lens = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    expected = sorted(
        map(tuple, length_histogram(lens, ["source"]).collect())
    )
    got = sorted(map(tuple, state["hist"].collect()))
    assert got == expected


def _scrambled_rate_mapping(df, key_col: str, salt: str):
    """Dense 0..n-1 ``value`` index over ``df`` in md5 order — maps
    the rate source's monotone values to rows in an order that
    shares nothing with the key order, so micro-batch boundaries
    land mid-"logical batch"."""
    return (
        df.select(
            key_col,
            F.md5(
                F.concat(F.lit(salt), F.col(key_col).cast("string"))
            ).alias("__h"),
        )
        .withColumn(
            "value",
            F.row_number().over(Window.orderBy("__h", key_col)) - 1,
        )
        .select("value", key_col)
        .localCheckpoint()
    )


def test_q144_histogram_rate_source_with_redelivery(spark):
    """q144's quantile-histogram maintenance (round-10 verdict item
    7, second half) through the NON-FILE ``rate-micro-batch``
    source with simulated at-least-once redelivery: histogram
    registers merge by ADDITION, so unlike the HLL MAX-merge the
    sink NEEDS the seen-batch_id guard — each micro-batch is
    delivered twice and the guard must make the second delivery a
    no-op. Final registers must equal the one-shot batch sketch
    (q144's unchanged oracle semantics)."""
    from shopify_db_spark.functions.text import tokens
    from shopify_db_spark.plans.streamops import _hist_merge, _redelivery_guard
    from shopify_db_spark.plans.textops import length_histogram

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    n_docs = docs.count()
    batch_docs = _scrambled_rate_mapping(docs, "doc_id", "q144rate|").join(
        docs, "doc_id"
    )

    empty = spark.createDataFrame([], "source string, bucket long, cnt long")
    state = {"hist": empty, "delivered": 0}
    # q144's production guard and merge: ADD-merged registers
    # double-count on redelivery, so a seen batch_id must be a no-op
    apply = _redelivery_guard(spark, state, _hist_merge)

    def sink(batch_df, batch_id: int) -> None:
        rows = batch_df.join(
            batch_docs, batch_df["value"] == batch_docs["value"]
        ).select("doc_id", "source", "text")
        if rows.isEmpty():
            return
        n = rows.count()
        apply(rows, batch_id)
        apply(rows, batch_id)  # simulated at-least-once redelivery
        state["delivered"] += n

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", max(7, n_docs // 4))
        .load()
        .writeStream.foreachBatch(sink)
        .start()
    )
    try:
        deadline = time.time() + 120
        while state["delivered"] < n_docs and time.time() < deadline:
            time.sleep(0.3)
    finally:
        q.stop()
    assert state["delivered"] == n_docs

    lens = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    expected = sorted(
        map(tuple, length_histogram(lens, ["source"]).collect())
    )
    got = sorted(map(tuple, state["hist"].collect()))
    assert got == expected


def test_q160_engagement_rate_source_with_redelivery(spark):
    """q160's decayed-engagement maintenance (round-10 verdict item
    7, second half) through ``rate-micro-batch`` with redelivery:
    the maintainable state is the per-(user, day) activity
    histogram (ADD-merged → guard required); the exact q158 shift
    weights are applied once at finalize, from the histogram's max
    date (q160's own merge and finalize). The stream-through-scrambled-arrival result must
    equal the BATCH catalog query q158 row-for-row — the strongest
    form of "oracle unchanged"."""
    from shopify_db_spark.plans.eventops import q158_decayed_engagement
    from shopify_db_spark.plans.streamops import (
        _engagement_merge,
        _engagement_result,
        _redelivery_guard,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", F.col("ts").cast("date").alias("d")
    )
    n_ev = ev.count()
    batch_ev = _scrambled_rate_mapping(ev, "event_id", "q160rate|").join(
        ev, "event_id"
    )

    empty = spark.createDataFrame([], "user_id long, d date, cnt long")
    state = {"hist": empty, "delivered": 0}
    apply = _redelivery_guard(spark, state, _engagement_merge)

    def sink(batch_df, batch_id: int) -> None:
        rows = batch_df.join(
            batch_ev, batch_df["value"] == batch_ev["value"]
        ).select("user_id", "d")
        if rows.isEmpty():
            return
        n = rows.count()
        apply(rows, batch_id)
        apply(rows, batch_id)  # simulated at-least-once redelivery
        state["delivered"] += n

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", max(7, n_ev // 4))
        .load()
        .writeStream.foreachBatch(sink)
        .start()
    )
    try:
        deadline = time.time() + 120
        while state["delivered"] < n_ev and time.time() < deadline:
            time.sleep(0.3)
    finally:
        q.stop()
    assert state["delivered"] == n_ev

    got_df = _engagement_result(spark, state)
    got = sorted(map(tuple, got_df.collect()))
    expected = sorted(
        map(tuple, q158_decayed_engagement(spark, SF_SMOKE).collect())
    )
    assert got == expected


def test_every_stateful_sink_carries_the_redelivery_guard():
    """Structural check: plans/streamops.py writes the seen-batch_id
    guard once (``_redelivery_guard``, which every stateful merge runs
    under) and opens a stream and a ``foreachBatch`` sink once each
    (the shared replay helpers) — so no query can start a stream
    that bypasses them. foreachBatch is at-least-once, and
    ADD-merged state double-counts on redelivery."""
    src = (
        Path(__file__).resolve().parents[1]
        / "shopify_db_spark"
        / "plans"
        / "streamops.py"
    ).read_text()
    assert src.count('batch_id in state["seen"]') == 1
    assert src.count(".foreachBatch(") == 1
    assert src.count("readStream") == 1


def test_checkpoint_restart_resumes_offsets_exactly_once(spark):
    """Round 11: query RESTART from a checkpoint — the recovery axis
    the bounded-replay gates never exercised (each gate query runs
    one query lifetime). A checkpointed availableNow file stream
    processes two files and terminates; a third file arrives while
    the stream is down; a NEW query on the SAME checkpoint must
    resume from the stored offsets — re-delivering nothing, picking
    up only the new file, and CONTINUING the batch-id sequence. The
    sink here deliberately has NO redelivery guard: any offset
    replay double-counts and the exactly-once assertions fail."""
    import os
    import shutil
    import tempfile

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 3).alias("batch_no")
    )
    workdir = tempfile.mkdtemp(prefix="graft_restart_")
    stream_dir = os.path.join(workdir, "in")
    os.makedirs(stream_dir)
    ckpt = os.path.join(workdir, "ckpt")
    schema = docs.schema

    def drop(batch_no: int) -> None:
        tmp = os.path.join(workdir, f"tmp{batch_no}")
        docs.filter(F.col("batch_no") == batch_no).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(tmp, src),
            os.path.join(stream_dir, f"b{batch_no}.parquet"),
        )
        time.sleep(0.05)  # strictly increasing mtimes (oldest-first order)

    seen: list[tuple[int, int]] = []  # (batch_id, row_count)
    delivered: set[int] = set()

    def sink(batch_df, batch_id: int) -> None:
        ids = [r["doc_id"] for r in batch_df.select("doc_id").collect()]
        seen.append((batch_id, len(ids)))
        delivered.update(ids)

    def run_query() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(stream_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        per_batch = {
            r["batch_no"]: r["n"]
            for r in docs.groupBy("batch_no")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        drop(0)
        drop(1)
        run_query()
        rows_first_lifetime = sum(n for _, n in seen)
        assert rows_first_lifetime == per_batch[0] + per_batch[1]
        drop(2)
        run_query()  # restart: same checkpoint, new query object
        # offsets resumed: batch ids continue, nothing re-delivered
        assert [b for b, _ in seen] == [0, 1, 2], seen
        assert sum(n for _, n in seen) == sum(per_batch.values())
        # every document delivered exactly once across both lifetimes
        assert len(delivered) == sum(per_batch.values())
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-12 (VERDICT r11 item 4): kill-and-resume-from-checkpoint
# RECOVERY, parametrized over the stateful-sink family registry the
# production queries themselves use (plans/streamops.py
# STATEFUL_SINK_FAMILIES — the same merge functions, not copies).
# The single-sink restart test above proved the offset mechanics;
# this sweep proves every family's state merge is restart-safe: a
# stream dies between batches, its durable state (the register /
# sketch / index tables — at scale these live in a real table) and
# its checkpoint survive, and a NEW query on the SAME checkpoint
# must resume with a CONTINUING batch-id sequence, re-deliver
# nothing, and finish with state identical to an uninterrupted run.

import pytest


def _canon(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols).reset_index(drop=True)


@pytest.mark.parametrize(
    "family",
    sorted(__import__("shopify_db_spark.plans.streamops", fromlist=["x"]).STATEFUL_SINK_FAMILIES),
)
def test_restart_recovery_per_stateful_family(spark, family, tmp_path):
    import os
    import shutil

    from shopify_db_spark.plans.streamops import (
        STATEFUL_SINK_FAMILIES,
        _redelivery_guard,
    )

    spec = STATEFUL_SINK_FAMILIES[family]
    src = spec.source(spark, SF_SMOKE)
    n_batches = 3

    # ---- expected: uninterrupted merge over the ordered batches
    expected_state = spec.init(spark, SF_SMOKE)
    for b in range(n_batches):
        batch = src.filter(F.col("batch_no") == b)
        if batch.isEmpty():
            continue
        spec.merge(spark, expected_state, batch, b)
    expected = _canon(spec.result(spark, expected_state))

    # ---- actual: two query LIFETIMES over one checkpoint.
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    ckpt = str(tmp_path / "ckpt")
    schema = src.schema

    def drop(b: int) -> None:
        tmp = str(tmp_path / f"tmp{b}")
        src.filter(F.col("batch_no") == b).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stream_dir, f"b{b}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        base = 1_600_000_000
        os.utime(dst, (base + 100 * b, base + 100 * b))

    state = spec.init(spark, SF_SMOKE)
    batch_ids: list[int] = []

    def merge(spark, state, batch_df, batch_id: int) -> None:
        batch_ids.append(batch_id)
        spec.merge(spark, state, batch_df, batch_id)

    # the production guard (at-least-once + restart: batch ids
    # CONTINUE across lifetimes, so replayed ids skip)
    sink = _redelivery_guard(spark, state, merge)

    def run_query() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(stream_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drop(0)
    drop(1)
    run_query()  # lifetime 1: batches 0, 1 — then the process "dies"
    assert batch_ids == [0, 1]
    drop(2)
    run_query()  # lifetime 2: SAME checkpoint, new query object
    # offsets resumed: exactly the new batch, id sequence continued
    assert batch_ids == [0, 1, 2], batch_ids

    actual = _canon(spec.result(spark, state))
    assert expected.columns.tolist() == actual.columns.tolist()
    assert len(expected) == len(actual), (len(expected), len(actual))
    assert expected.equals(actual), f"{family}: recovered state diverged"


# ---------------------------------------------------------------------------
# Round-13 (VERDICT r12 item 4): q163's carried vocabulary state is
# unbounded under a Zipf long tail at 100 TB. _term_stats_prune bounds
# it to the cap highest-tf terms plus a fixed count-min backstop of
# the evicted mass. The testdata corpus has a ~31-word vocabulary
# (every term lands in the top-100 output), so the prune is exercised
# on a synthetic Zipf corpus wide enough to force real eviction while
# the true top-100 stays above the eviction boundary.


def _zipfish_docs(spark, n_heavy=150, n_tail=1850, n_batches=3):
    """One doc per (term, batch): heavy term i repeats 600-2i times
    per batch (distinct per-term tf, no boundary ties), tail terms
    once. Vocabulary 2000, so a 512-term cap must evict ~3/4 of it."""
    rows = []
    doc_id = 0
    for b in range(n_batches):
        for i in range(n_heavy):
            rows.append((doc_id, " ".join([f"w{i:04d}"] * (600 - 2 * i)), b))
            doc_id += 1
        for i in range(n_tail):
            rows.append((doc_id, f"t{i:04d}", b))
            doc_id += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string, batch_no long"
    )


def test_q163_prune_agrees_with_exact_and_certifies(spark):
    from shopify_db_spark.plans.streamops import (
        _term_stats_evicted_bound,
        _term_stats_merge,
        _term_stats_result,
    )

    docs = _zipfish_docs(spark)
    empty = "term string, tf long, df long"
    exact = {"stats": spark.createDataFrame([], empty), "seen": set(), "cap": None}
    capped = {"stats": spark.createDataFrame([], empty), "seen": set(), "cap": 512}
    for b in range(3):
        batch = docs.filter(F.col("batch_no") == b)
        _term_stats_merge(spark, exact, batch, b)
        _term_stats_merge(spark, capped, batch, b)

    # the prune really ran: carried state is AT the cap, far below
    # the exact vocabulary — the O(cap) bound, not a vacuous pass
    n_exact = exact["stats"].count()
    n_capped = capped["stats"].count()
    assert n_capped == 512 < n_exact, (n_capped, n_exact)

    got_exact = _canon(_term_stats_result(spark, exact))
    got_capped = _canon(_term_stats_result(spark, capped))
    assert got_exact.equals(got_capped), "pruned top-100 diverged from exact"

    # sound exactness certificate (ADVICE r13): members' evicted-mass
    # point estimates are all 0 (kept tf/df exact), no absent term can
    # reach rank 100 (B < rank-100 tf), and no kept outsider can
    # displace a member — so the agreement above is PROVABLE, not luck
    from shopify_db_spark.plans.streamops import _term_stats_certificate

    cert = _term_stats_certificate(spark, capped)
    assert cert["exact"], cert
    tf_100 = int(got_capped.sort_values("rank").iloc[-1]["tf"])
    assert cert["bound"] < tf_100, cert
    assert _term_stats_evicted_bound(exact) == 0  # exact mode: no CMS


def test_q163_certificate_refuses_readded_evicted_term(spark):
    """ADVICE r13 unsoundness regression: a term evicted at one prune
    and re-added by a later batch stays PRESENT with tf understated
    by its stranded evicted mass. The old absent-terms-only condition
    (rank-last tf > B) PASSES on this corpus while the pruned output
    is wrong (x's tf reads 500, true 550) — the sound certificate
    must refuse, via a non-zero member point estimate."""
    from shopify_db_spark.plans.streamops import (
        _term_stats_certificate,
        _term_stats_cms_estimate,
        _term_stats_evicted_bound,
        _term_stats_merge,
        _term_stats_result,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    empty = "term string, tf long, df long"
    st = {"stats": spark.createDataFrame([], empty), "seen": set(), "cap": 4}
    # batch 0: h1..h4 dominate; x (tf 50) is evicted into the CMS
    _term_stats_merge(spark, st, batch([
        (0, " ".join(["h1"] * 100)), (1, " ".join(["h2"] * 99)),
        (2, " ".join(["h3"] * 98)), (3, " ".join(["h4"] * 97)),
        (4, " ".join(["x"] * 50)),
    ]), 0)
    # batch 1: x re-added with tf 500 — kept, but its batch-0 mass is
    # stranded in the sketch; h4 is evicted this prune
    _term_stats_merge(spark, st, batch([
        (5, " ".join(["h1"] * 100)), (6, " ".join(["h2"] * 99)),
        (7, " ".join(["h3"] * 98)), (8, " ".join(["h4"] * 97)),
        (9, " ".join(["x"] * 500)),
    ]), 1)

    out = {
        r["term"]: r["tf"]
        for r in _term_stats_result(spark, st).collect()
    }
    assert out["x"] == 500  # understated — true tf is 550
    # the OLD condition would have certified this wrong output
    b = _term_stats_evicted_bound(st)
    assert b < min(out.values()), (b, out)
    # the sound certificate refuses: x carries stranded evicted mass
    cert = _term_stats_certificate(spark, st)
    assert not cert["exact"], cert
    est = {
        r["term"]: r["est"]
        for r in _term_stats_cms_estimate(
            st, st["stats"].select("term")
        ).collect()
    }
    assert est["x"] >= 50, est  # point estimate sees the stranded mass
    assert est["h1"] == 0 and est["h2"] == 0 and est["h3"] == 0, est


def test_decayed_engagement_bounds(spark):
    """Every user's decayed score is bounded by n_events · 10⁶ and
    positive for any user active within the clamp horizon (20
    half-lives — 10⁶ < 2²⁰ so the weight is exactly 0 beyond)."""
    rows = load_all()["q158_decayed_engagement"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["decayed_ppm"] <= r["n_events"] * 1_000_000
        if r["days_since_last"] < 7 * 20:
            assert r["decayed_ppm"] > 0


def test_streaming_engagement_equals_batch(spark):
    """The q158→q160 twin contract, asserted directly: the streaming
    maintenance must reproduce the batch scores row for row (both
    are also oracle-checked against the same SQL; this pins the
    equivalence inside the test suite too)."""
    qs = load_all()
    batch = {
        r["user_id"]: (r["n_events"], r["decayed_ppm"], r["days_since_last"])
        for r in qs["q158_decayed_engagement"].fn(spark, SF_SMOKE).collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], r["decayed_ppm"], r["days_since_last"])
        for r in qs["q160_streaming_engagement"].fn(spark, SF_SMOKE).collect()
    }
    assert batch == stream
