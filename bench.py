"""Benchmark harness: runs every declared catalog query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall time of all queries (each executed to
completion with a cheap count-style action — results are not
collected to the driver, matching how the engine would run at scale)
plus the cold builds of the session artifacts (:data:`ARTIFACTS`).
Each line item is the best of ``$SPARK_GRAFT_BENCH_RUNS`` (default 2)
runs. The full payload goes to ``$SPARK_GRAFT_BENCH_OUT`` (default
``BENCH_local.json`` beside this file); stdout carries the compact
line of :func:`compact_line`.

``SPARK_GRAFT_LAYOUT=partitioned`` first materializes the fact
tables (events / orders / lineitem) as date-partitioned directories
(the 100 TB layout — ``sources.tables.write_date_partitioned``) in a
per-SF cache dir and runs the SAME catalog against them, proving the
engine end-to-end on multi-file partitioned scans with directory
pruning. Default layout is the driver's flat files.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shopify_db_spark.plans.artifacts import evict  # noqa: E402
from shopify_db_spark.plans.commerce import invoice_table  # noqa: E402
from shopify_db_spark.plans.curation import simhash_clusters  # noqa: E402
from shopify_db_spark.plans.textops import bpe_encoded_table  # noqa: E402

# fact table -> (partitioning ts/date column, granularity). The
# 7-year TPC-H facts partition by month (84 healthy directories);
# per-day would mean ~2400 near-empty dirs below sf1 — see
# write_date_partitioned's granularity note. events span weeks, so
# per-day directories stay well-sized.
_PARTITION_SPEC = {
    "events": ("ts", "date"),
    "orders": ("o_orderdate", "month"),
    "lineitem": ("l_shipdate", "month"),
}


def materialize_partitioned(spark, sf_dir: str) -> str:
    """Build (once, cached) a date-partitioned mirror of ``sf_dir``:
    fact tables become ``table.parquet/<date>=.../part-*.parquet``
    trees, dimension tables are symlinked. Returns the mirror dir."""
    import tempfile

    from shopify_db_spark.sources.tables import (
        BENCH_TABLES,
        load_table,
        table_path,
        write_date_partitioned,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_partitioned_{tag}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name in BENCH_TABLES:
            dst = table_path(out, name)
            if name in _PARTITION_SPEC:
                ts_col, granularity = _PARTITION_SPEC[name]
                write_date_partitioned(
                    load_table(spark, sf_dir, name),
                    dst,
                    ts_col=ts_col,
                    partition_col="__part_date",
                    granularity=granularity,
                )
            elif not os.path.exists(dst):
                os.symlink(table_path(sf_dir, name), dst)
        open(done, "w").close()
    return out


class Artifact(NamedTuple):
    label: str  # full payload key
    short: str  # compact-line key, also scale_curve's --artifacts name
    memo: str  # plans/artifacts.py memo name, evicted before each build
    build: Callable

    def cold_build(self, spark, sf_dir: str) -> None:
        """Build and execute the artifact with its memo entry evicted
        first, so the build is cold even when warm-up already made
        it."""
        evict(self.memo, spark, sf_dir)
        noop_write(self.build(spark, sf_dir))


#: Session-memoized artifacts (plans/artifacts.py): the near-dup
#: cluster map (q50/q125/q137/q146), the invoice table (q20/q61) and
#: the BPE-encoded corpus (q115/q145). Under best-of-N timing a cold
#: build would land in some consumer's discarded first run and appear
#: in no reported number, so each cold build is timed as its own line
#: item and consumers measure artifact read + their own work.
ARTIFACTS = (
    Artifact("artifact_materialization", "art_clu", "simhash_clusters", simhash_clusters),
    Artifact("artifact_invoice_table", "art_inv", "invoice_table", invoice_table),
    Artifact("artifact_bpe_encoded", "art_bpe", "bpe_encoded", bpe_encoded_table),
)

#: the driver keeps only the last ~2000 chars of stdout; a longer
#: line loses its opening brace and becomes unparseable
COMPACT_MAX_CHARS = 1900


def _short(name: str) -> str:
    for art in ARTIFACTS:
        if art.label == name:
            return art.short
    head = name.split("_", 1)[0]
    return head if head != name and head.startswith("q") else name


def noop_write(df) -> None:
    """Execute every operator of ``df`` without shipping rows to the
    driver."""
    df.write.format("noop").mode("overwrite").save()


def best_of(spark, run: Callable[[], None], runs: int) -> tuple[float | None, str | None]:
    """(best wall seconds, first error) over ``runs`` calls of ``run``.

    The minimum is the steady-state estimator for a repeatedly
    executed plan: single runs swing ±50 % with GC timing, the
    ContextCleaner backlog and OS cache state. Every rep ends with
    ``clearCache`` + ``gc`` so caches and checkpoint RDDs an operator
    leaves behind belong to one execution only. The first exception
    stops the loop; its text comes back with the best time of the
    reps before it (None if there were none)."""
    best = None
    for _ in range(runs):
        try:
            t0 = time.perf_counter()
            run()
            elapsed = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - isolate per line item
            return best, f"{type(exc).__name__}: {exc}"
        finally:
            spark.catalog.clearCache()
            gc.collect()
        best = elapsed if best is None else min(best, elapsed)
    return best, None


def _rounded(seconds: float, ndigits: int | None) -> float | int:
    """``seconds`` rounded, printed without a trailing ``.0``."""
    r = round(seconds, ndigits)
    return int(r) if r == int(r) else r


def compact_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float | str,
    full_name: str,
    layout: str = "flat",
) -> str:
    """The one stdout JSON line, at most :data:`COMPACT_MAX_CHARS`
    long: short ``qNN``/``art_*`` keys (full names if two short keys
    collide) and per-item seconds at 2 dp, coarsened to 1 dp and then
    to whole seconds while the line is too long. The full payload
    keeps 4 dp."""
    shorts = [_short(n) for n in timings]
    keys = (
        {_short(n): n for n in timings}
        if len(set(shorts)) == len(shorts)
        else {n: n for n in timings}
    )
    compact: dict = {
        "metric": "catalog_total_wall",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {},
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "full": full_name,
    }
    if errors:
        compact["error_queries"] = sorted(_short(n) for n in errors)[:20]
    if layout != "flat":
        compact["layout"] = layout
    for ndigits in (2, 1, None):
        compact["queries"] = {
            k: _rounded(timings[v], ndigits) for k, v in sorted(keys.items())
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= COMPACT_MAX_CHARS:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from shopify_db_spark.plans import load_all
    from shopify_db_spark.session import get_spark

    spark = get_spark(app_name="shopify_db_spark_bench")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    layout = os.environ.get("SPARK_GRAFT_LAYOUT", "flat")
    if layout == "partitioned":
        sf_dir = materialize_partitioned(spark, sf_dir)
    specs = load_all()

    # Steady-state measurement: execute every plan once at the
    # smallest SF first, so the timed numbers measure execution, not
    # whole-stage-codegen JIT (the big invoice plan pays ~13 s of
    # one-time Janino compilation, cached across SF dirs). Plans in
    # production run repeatedly against a warm codegen cache.
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        for spec in specs.values():
            try:
                noop_write(spec.fn(spark, warm_sf))
            except Exception:  # noqa: BLE001 - warmup must never fail the bench
                pass
    spark.catalog.clearCache()

    # A line item that throws never zeroes the run: its error is
    # recorded and the bench goes on.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def record(name: str, run: Callable[[], None]) -> None:
        best, err = best_of(spark, run, runs)
        if best is not None:
            timings[name] = round(best, 4)
        if err is not None:
            errors[name] = err[:500]

    for art in ARTIFACTS:
        record(art.label, lambda art=art: art.cold_build(spark, sf_dir))
    for name, spec in sorted(specs.items()):
        record(name, lambda fn=spec.fn: noop_write(fn(spark, sf_dir)))

    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "catalog_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        payload["errors"] = errors
    if layout != "flat":
        payload["layout"] = layout

    full_out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
    )
    try:
        with open(full_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench line

    print(compact_line(timings, errors, sf_val, os.path.basename(full_out), layout))
    spark.stop()


if __name__ == "__main__":
    main()
