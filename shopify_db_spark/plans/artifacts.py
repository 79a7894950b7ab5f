"""Session-memoized materialized artifacts.

Several catalog queries consume the SAME derived table — the
near-dup cluster map (q50/q125/q137/q146) and the invoice table
(q20's pipeline output, which q61 hands to the verify count pass;
the reference itself materializes invoices as a Postgres table that
``tripletex.py`` verify queries, it never rebuilds the view). At
100 TB these are artifacts computed once per corpus/store sync and
READ by every consumer; recomputing them per query is an artifact
of the per-query harness. This module holds the one shared memo
shape: per-(session, sf_dir), localCheckpoint-pinned, with a full
stale-session sweep on every access (a dead session's entries must
not pin RDDs forever in a long-lived multi-session process).

bench.py reports each artifact's cold build as its own
``artifact_*`` line item inside ``catalog_total_wall`` — consumers
then honestly measure artifact-read + their own work.

Lifecycle: an entry pins its
``localCheckpoint`` RDD for as long as the memo references it.
Releasing is therefore a reference drop — Spark's ContextCleaner
reclaims the checkpoint blocks once the DataFrame is unreferenced —
through one of two paths:

* **dead session**: the stale-session sweep on every access drops
  every entry whose owning session is stopped (automatic);
* **single rebuild**: :func:`evict` drops one ``(name, session,
  sf_dir)`` entry — bench.py uses this to time honest cold builds.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: artifact name -> {(id(session), sf_dir): (session, pinned frame)}
_MEMOS: dict[str, dict[tuple[int, str], tuple[SparkSession, DataFrame]]] = {}


def _sweep(memo: dict) -> None:
    """Drop EVERY entry whose owning session is stopped — not just
    the key being re-accessed (per-key eviction would leak entries
    for other sf_dirs / replaced sessions)."""
    for key, (owner, _df) in list(memo.items()):
        try:
            alive = not owner.sparkContext._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 - a dead/py4j-less session is stale
            alive = False
        if not alive:
            memo.pop(key, None)


def session_artifact(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The memoized, localCheckpoint-pinned artifact ``name`` for
    ``(spark, sf_dir)``, building it via ``build()`` on first
    access. The stored-session identity check defends against id()
    reuse after garbage collection."""
    memo = _MEMOS.setdefault(name, {})
    _sweep(memo)
    key = (id(spark), sf_dir)
    hit = memo.get(key)
    if hit is not None:
        owner, cached = hit
        if owner is spark:
            return cached
        memo.pop(key, None)
    out = build().localCheckpoint()
    memo[key] = (spark, out)
    return out


def evict(name: str, spark: SparkSession, sf_dir: str) -> None:
    """Drop one artifact entry (bench.py uses this so the timed
    build is honestly COLD even when warm-up already populated it)."""
    _MEMOS.get(name, {}).pop((id(spark), sf_dir), None)

