"""The three benchmark workloads, their output checks and their
per-layer fold.

Each workload is one closed-loop client on one SparkSession. It calls
the engine only through the public functions ``cli.py`` and
``bench.py`` call, and wraps each call in a :class:`spans.Tracer`
span. A run has three timed parts: set-up (input generation, repeated
``SETUP_REPS`` times, and one base sync), one cold operation, then
``MIN_WARM_OPS`` or more warm operations until the run's seconds are
spent. Checks run after
timing and are never timed.
"""

from __future__ import annotations

import csv
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import Tracer, rollup

from shopify_db_spark import schemas
from shopify_db_spark.ingest_jobs import ingest_from_json_dir
from shopify_db_spark.operators.numbering import needs_two_phase
from shopify_db_spark.plans import load_all
from shopify_db_spark.plans.commerce import (
    FROM_DATE,
    MAPPING_CTES,
    TABLE_MAP,
    TO_DATE,
)
from shopify_db_spark.plans.invoice import (
    TWO_PHASE_GROUP_ROWS,
    TWO_PHASE_SOURCE_BYTES,
    build_invoices,
)
from shopify_db_spark.plans.verify_invoices import verify_invoices
from shopify_db_spark.sources.csv_io import read_invoice_csv, write_invoice_csv
from shopify_db_spark.sources.store import CommerceStore
from shopify_db_spark.testing import run_differential

#: orders generated for operator_cycle (3/4 go into the base sync)
CYCLE_ORDERS = 3000
#: catalog_ops source tables: orders, and documents (= embeddings = events / 2)
CATALOG_ORDERS = 1500
CATALOG_DOCS = 500
#: input generations per run; setup_s = session start + their median
#: + the one base sync
SETUP_REPS = 3
#: warm ops per run at least; the median of few steadies against a
#: noisy shared CPU better than one
MIN_WARM_OPS = 2
DELTA_BATCHES = 24
INVOICE_START_ID = 1001

CATALOG_SLICE = (
    "q26_minhash_lsh_pairs",
    "q49_streaming_merge",
    "q166_png_band_energy",
)
STORE_TABLES = (
    "customers", "orders", "line_item_products", "shipping",
    "transactions", "refunds", "line_item_product_refunds",
)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    trace: bool
    checks: list = field(default_factory=list)
    ops: int = 0
    failed_ops: int = 0
    setup_s: list = field(default_factory=list)
    base_load_s: float = 0.0
    layer: dict = field(default_factory=dict)
    sizes: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def rng(self, stream: int) -> np.random.Generator:
        """One independent generator per use, so set-up repetitions
        draw identical inputs."""
        return np.random.default_rng([self.seed, stream])

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class TracedStore(CommerceStore):
    """Wraps each upsert in a ``store.upsert`` span tagged by table;
    with ``footers`` also reads rows and bytes written from the parquet
    footers (no Spark job)."""

    def __init__(self, spark, base_dir, tracer: Tracer, footers: bool):
        super().__init__(spark, base_dir)
        self.tracer = tracer
        self.footers = footers

    def footprint(self, table: str) -> tuple[int, int]:
        rows = size = 0
        if self.exists(table):
            for name in os.listdir(self.path(table)):
                if name.endswith(".parquet"):
                    f = os.path.join(self.path(table), name)
                    rows += pq.read_metadata(f).num_rows
                    size += os.path.getsize(f)
        return rows, size

    def upsert(self, table, updates):
        with self.tracer.span("store.upsert", table=table) as rec:
            if not self.footers:
                super().upsert(table, updates)
                return
            t0 = time.perf_counter()
            before = self.footprint(table)[0]
            t1 = time.perf_counter()
            super().upsert(table, updates)
            t2 = time.perf_counter()
            rec["rows_written"], rec["bytes_written"] = self.footprint(table)
            rec["rows_added"] = rec["rows_written"] - before
            rec["trace_s"] += (t1 - t0) + (time.perf_counter() - t2)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mapping_tables(src_dir: str) -> dict[str, pa.Table]:
    """The commerce mapping layer evaluated by DuckDB over the
    generated tables: the same SQL text ``commerce_tables_from_benchmark``
    runs on Spark, so rendering costs no Spark job."""
    con = duckdb.connect()
    try:
        for name in ("orders", "customer", "lineitem"):
            path = os.path.join(src_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {
            name: con.execute(f"WITH {MAPPING_CTES.strip()}\nSELECT * FROM {cte}").arrow()
            for name, cte in TABLE_MAP.items()
        }
    finally:
        con.close()


def render(ctx: Ctx, n_orders: int, root: str):
    gen.write_source_tables(os.path.join(root, "src"), ctx.seed, n_orders)
    mapping = mapping_tables(os.path.join(root, "src"))
    frames = {name: t.to_pandas() for name, t in mapping.items()}
    if frames["line_item_products"]["id"].duplicated().any():
        raise RuntimeError("generated line-item ids collide")
    payloads, customers = gen.render_orders(frames)
    return mapping, payloads, customers


_ARROW_TYPES = {
    "long": pa.int64(), "integer": pa.int32(), "string": pa.string(),
    "boolean": pa.bool_(), "double": pa.float64(), "date": pa.date32(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def write_reference_store(mapping: dict[str, pa.Table], base_dir: str) -> None:
    """The generator's commerce tables as a parquet store with the
    store's schema (columns the mapping lacks are null), written by
    pyarrow: the direct path the store path must agree with."""
    os.makedirs(base_dir)
    for name, table in mapping.items():
        cols = {}
        for f in schemas.COMMERCE_TABLES[name].fields:
            dt = f.dataType
            if dt.typeName() == "decimal":
                typ = pa.decimal128(dt.precision, dt.scale)
            else:
                typ = _ARROW_TYPES[dt.typeName()]
            cols[f.name] = (
                table.column(f.name).cast(typ) if f.name in table.column_names
                else pa.nulls(table.num_rows, typ)
            )
        pq.write_table(pa.table(cols), os.path.join(base_dir, f"{name}.parquet"))


def repeated_setup(ctx: Ctx, build):
    """Generate the inputs ``SETUP_REPS`` times into fresh directories,
    timing each; keep the last. Returns (directory, build's result)."""
    for rep in range(SETUP_REPS):
        root = ctx.path(f"inputs{rep}")
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.inputs", rep=rep):
            result = build(root)
        ctx.setup_s.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(root)
    return root, result


def load_base(ctx: Ctx, store: CommerceStore, pages: str) -> None:
    """The base sync, once: it builds the store the timed ops use."""
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.base_sync"):
        ingest_from_json_dir(ctx.spark, store, pages)
    ctx.base_load_s = time.perf_counter() - t0


def timed_loop(ctx: Ctx, ops, run_op) -> None:
    """Run the first op cold, then warm ops until ``ctx.seconds`` have
    passed and at least ``MIN_WARM_OPS`` have run."""
    start = None
    for i, op in enumerate(ops):
        if i > MIN_WARM_OPS and time.perf_counter() - start >= ctx.seconds:
            break
        ctx.ops += 1
        try:
            run_op(i, op)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ctx.failed_ops += 1
            ctx.check(f"op{i}", False, repr(exc)[:300])
        if start is None:
            start = time.perf_counter()


# --- operator_cycle ---------------------------------------------------------


def plan_batches(payloads, rng: np.random.Generator):
    """Base sync = every order dated before the day of the 3/4 point;
    the rest in ``DELTA_BATCHES`` jittered date-ordered batches, each
    re-delivering a seed-chosen share of the previous batch's orders."""
    n = len(payloads)
    cutoff = payloads[int(n * 0.75)].day
    cut = next(i for i, p in enumerate(payloads) if p.day >= cutoff)
    width = (n - cut) / DELTA_BATCHES
    edges = np.linspace(cut, n, DELTA_BATCHES + 1)
    edges[1:-1] += rng.uniform(-0.3, 0.3, DELTA_BATCHES - 1) * width
    edges = edges.round().astype(int)
    share = rng.uniform(0.15, 0.35)
    batches, prev = [], []
    for lo, hi in zip(edges[:-1], edges[1:]):
        fresh = payloads[lo:hi]
        picks = sorted(rng.choice(len(prev), int(round(share * len(prev))), replace=False))
        batches.append((fresh, [prev[i] for i in picks]))
        prev = fresh
    return payloads[:cut], batches, cutoff


def invoice_windows(rng: np.random.Generator, cutoff) -> list[tuple[str, str]]:
    """One window per delta batch, closed periods only (every order in
    them is in the base sync, so later deltas cannot change their
    invoices): the whole closed range first, then a fixed rotation of
    one-month, quarter, year and whole windows whose dates the seed
    picks."""
    closed = str((cutoff - np.timedelta64(2, "D")).date())
    last_year = cutoff.year - 1

    def window(months: int) -> tuple[str, str]:
        y = int(rng.integers(1995, last_year + 1))
        m = 1 if months == 12 else int(rng.integers(0, 12 // months)) * months + 1
        end = np.datetime64(f"{y}-{m:02d}", "M") + months
        return f"{y}-{m:02d}-01", str(end.astype("datetime64[D]") - 1)

    whole = (FROM_DATE, closed)
    out = [whole]
    while len(out) < DELTA_BATCHES:
        out += [window(1), window(3), window(1), window(12), window(1), whole]
    return out[:DELTA_BATCHES]


def operator_cycle(ctx: Ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer

    def build(root):
        mapping, payloads, customers = render(ctx, CYCLE_ORDERS, root)
        base, batches, cutoff = plan_batches(payloads, ctx.rng(1))
        base_bytes = gen.write_pages(os.path.join(root, "base"), base, customers)
        batch_bytes = [
            gen.write_pages(os.path.join(root, f"batch{i:02d}"), fresh, customers, again)
            for i, (fresh, again) in enumerate(batches)
        ]
        return mapping, base, batches, cutoff, base_bytes, batch_bytes

    root, (mapping, base, batches, cutoff, base_bytes, batch_bytes) = repeated_setup(ctx, build)
    store = TracedStore(spark, ctx.path("store"), tr, footers=ctx.trace)
    load_base(ctx, store, os.path.join(root, "base"))
    os.makedirs(ctx.path("csv"), exist_ok=True)
    windows = invoice_windows(ctx.rng(2), cutoff)
    runs = []

    def cycle(i, window):
        with tr.span("cycle", n=i):
            # cli.py shopify-update --json-dir
            fresh, again = batches[i]
            with tr.span("sync.batch", input_bytes=batch_bytes[i], orders=len(fresh) + len(again)):
                ingest_from_json_dir(spark, store, os.path.join(root, f"batch{i:02d}"))
            # cli.py tripletex-generate, then tripletex-verify on its CSV
            frm, to = window
            out = ctx.path("csv", f"gen{i:02d}.csv")
            with tr.span("generate") as gen_span:
                with tr.span("invoice.plan_build"):
                    tables = store.read_all()
                    inv = build_invoices(tables, frm, to, INVOICE_START_ID)
                with tr.span("invoice.execute"):
                    inv = inv.cache()
                    lines = gen_span["lines"] = inv.count()
                with tr.span("verify"):
                    report = verify_invoices(inv)
                with tr.span("csv.write"):
                    write_invoice_csv(inv, out)
                inv.unpersist()
            with tr.span("verify_csv"):
                with tr.span("csv.read"):
                    df = read_invoice_csv(spark, out)
                with tr.span("verify"):
                    reread = verify_invoices(df)
        runs.append({
            "batch": batches[i], "window": window, "csv": out, "lines": lines,
            "offenders": {c.name: c.n_offenders for c in report.checks},
            "reread_offenders": {c.name: c.n_offenders for c in reread.checks},
            "two_phase": needs_two_phase(
                [tables["orders"], tables["refunds"]],
                byte_bound=TWO_PHASE_SOURCE_BYTES, row_bound=TWO_PHASE_GROUP_ROWS,
            ),
        })

    timed_loop(ctx, windows, cycle)
    input_bytes = base_bytes + sum(batch_bytes[:len(runs)])
    store_bytes = dir_bytes(store.base_dir)
    ctx.layer["store.bytes_per_input_byte"] = store_bytes / input_bytes
    ctx.sizes.update(
        base_orders=len(base), delta_orders_per_batch=median([len(b[0]) for b in batches]),
        lines=sum(len(p.order["line_items"]) for p in base),
        raw_json_bytes=input_bytes, store_bytes=store_bytes,
    )
    ctx.layer["csv.bytes"] = os.path.getsize(runs[0]["csv"])
    ctx.layer["numbering.two_phase"] = int(runs[0]["two_phase"])
    for name, n in runs[0]["offenders"].items():
        ctx.layer[f"verify.offenders.{name}"] = n
    ctx.state.update(mapping=mapping, store=store, base=base, runs=runs)
    cycles = tr.durations("cycle")
    return {"cold_op_s": cycles[0], "op_p50_s": median(cycles[1:])}


def read_rows(path: str) -> list[list[str]]:
    with open(path, newline="") as fh:
        return list(csv.reader(fh, delimiter=";"))


def same_invoice_csv(got: list[list[str]], want: list[list[str]]) -> bool:
    """Byte-equal rows in the same invoice order. The writer sorts by
    (INVOICE NO, CUSTOMER NAME) only, so the lines of one invoice come
    in input-layout order: compare those as a set."""
    if not got or got[0] != want[0]:
        return False
    cols = [got[0].index("INVOICE NO"), got[0].index("CUSTOMER NAME")]

    def keys(rows):
        return [[r[c] for c in cols] for r in rows]

    return keys(got) == keys(want) and sorted(got) == sorted(want)


def check_cycle(ctx: Ctx) -> None:
    """After the last batch, row counts equal the generator's unique
    keys and re-delivered orders keep the frozen ``financial_status``
    of their first sync. Each window's CSV is byte-identical to the
    direct path over the generator's tables (up to line order inside
    an invoice), holds every invoice line, and re-verifies to the same
    offender counts."""
    store, runs = ctx.state["store"], ctx.state["runs"]
    delivered = ctx.state["base"] + [p for r in runs for p in r["batch"][0]]
    refunds = [r for p in delivered for r in p.refunds]
    expected = {
        "customers": {p.customer_id for p in delivered},
        "orders": {p.order_id for p in delivered},
        "line_item_products": {li["id"] for p in delivered for li in p.order["line_items"]},
        "shipping": {s["id"] for p in delivered for s in p.order["shipping_lines"]},
        "transactions": {t["id"] for p in delivered for t in p.transactions},
        "refunds": {r["id"] for r in refunds},
        "line_item_product_refunds": {i["id"] for r in refunds for i in r["refund_line_items"]},
    }
    for table, ids in expected.items():
        rows, distinct = store.read(table).agg(F.count("*"), F.countDistinct("id")).first()
        ctx.check(f"rows.{table}", rows == distinct == len(ids),
                  f"rows={rows} ids={distinct} want={len(ids)}")
    again = sorted({p.order_id for r in runs for p in r["batch"][1]})
    orders = store.read("orders")
    changed = (
        orders.filter(orders["id"].isin(again))
        .filter(orders["financial_status"] != gen.FIRST_STATUS)
        .count()
    )
    ctx.check("frozen.financial_status", bool(again) and changed == 0,
              f"{changed} of {len(again)} re-delivered orders changed")

    write_reference_store(ctx.state["mapping"], ctx.path("reference"))
    tables = CommerceStore(ctx.spark, ctx.path("reference")).read_all()
    for i, run in enumerate(runs):
        frm, to = run["window"]
        direct = ctx.path("csv", f"direct{i:02d}.csv")
        write_invoice_csv(build_invoices(tables, frm, to, INVOICE_START_ID), direct)
        got, want = read_rows(run["csv"]), read_rows(direct)
        key = f"{i}:{frm}..{to}"
        ctx.check(f"csv.{key}", same_invoice_csv(got, want),
                  f"{len(got)} vs {len(want)} csv rows")
        ctx.check(f"lines.{key}", len(got) == run["lines"] + 1,
                  f"{len(got)} csv rows for {run['lines']} invoice lines")
        ctx.check(f"offenders.{key}", run["offenders"] == run["reread_offenders"],
                  f"{run['offenders']} vs {run['reread_offenders']}")


# --- catalog_ops -----------------------------------------------------------


def catalog_ops(ctx: Ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    specs = load_all()

    def build(root):
        src = os.path.join(root, "src")
        gen.write_source_tables(src, ctx.seed, CATALOG_ORDERS, CATALOG_DOCS)
        return src

    _, src = repeated_setup(ctx, build)
    order = [CATALOG_SLICE[i] for i in ctx.rng(3).permutation(len(CATALOG_SLICE))]

    def one_pass(i, _):
        # bench.py's per-query protocol: spec.fn -> noop write -> clearCache
        with tr.span("catalog.pass", n=i):
            for name in order:
                with tr.span("catalog.query", query=name):
                    with tr.span("catalog.plan_build"):
                        df = specs[name].fn(spark, src)
                    with tr.span("catalog.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    spark.catalog.clearCache()

    timed_loop(ctx, iter(int, 1), one_pass)
    passes = tr.durations("catalog.pass")
    walls: dict[str, list[float]] = {}
    for s in tr.named("catalog.query"):
        walls.setdefault(s["query"], []).append(s["s"])
    out = {
        "cold_op_s": passes[0],
        # the median pass: the sum of per-query medians over warm passes
        "op_p50_s": sum(median(w[1:] or w) for w in walls.values()),
    }
    ctx.layer["catalog.wall_s"] = out["op_p50_s"]
    ctx.state.update(src=src)
    return out


def check_catalog(ctx: Ctx) -> None:
    for name in CATALOG_SLICE:
        problems = run_differential(ctx.spark, ctx.state["src"], name)
        ctx.check(f"oracle.{name}", not problems, "; ".join(map(str, problems))[:300])
        ctx.spark.catalog.clearCache()


WORKLOADS = {
    "operator_cycle": (operator_cycle, check_cycle),
    "catalog_ops": (catalog_ops, check_catalog),
}


# --- per-layer fold ---------------------------------------------------------


def warm(spans: list[dict]) -> list[dict]:
    return spans[1:] or spans


def under(tr: Tracer, name: str, ancestor: str) -> list[dict]:
    """Spans called ``name`` inside a warm ``ancestor`` op."""
    ids = {i for a in warm(tr.named(ancestor)) for i in tr.subtree(a["id"])}
    return [s for s in tr.named(name) if s["id"] in ids]


def per_layer(ctx: Ctx, folded: dict[int, dict]) -> dict:
    """Per-layer metrics from spans plus the folded event log. A layer
    the workload never calls reads 0."""
    tr, out = ctx.tracer, dict(ctx.layer)

    def roll(spans: list[dict]) -> dict:
        return rollup(folded, [i for s in spans for i in tr.subtree(s["id"])])

    batches = warm(tr.named("sync.batch"))
    if batches:
        per = [roll([b]) for b in batches]
        out["ingest.jobs_per_batch"] = statistics.mean(p["jobs"] for p in per)
        out["ingest.shuffle_write_bytes"] = statistics.mean(p["shuffle_write_bytes"] for p in per)
        out["ingest.executor_run_s"] = statistics.mean(p["executor_run_s"] for p in per)
        out["sync.orders_per_s"] = sum(b["orders"] for b in batches) / sum(b["s"] for b in batches)
        upserts = under(tr, "store.upsert", "sync.batch")
        for table in STORE_TABLES:
            out[f"store.upsert_s.{table}"] = median(
                [u["s"] for u in upserts if u["table"] == table]
            )
        out["store.bytes_written_per_input_byte"] = sum(
            u["bytes_written"] for u in upserts
        ) / sum(b["input_bytes"] for b in batches)
        out["store.rows_written_per_row_added"] = sum(
            u["rows_written"] for u in upserts
        ) / max(sum(u["rows_added"] for u in upserts), 1)

    gens = tr.named("generate")
    if gens:
        first = gens[0]["id"]
        cold = {s["name"]: s for s in tr.spans if s["parent"] == first}
        execute = roll([cold["invoice.execute"]])
        out["invoice.plan_build_s"] = median([s["s"] for s in under(tr, "invoice.plan_build", "generate")])
        out["invoice.execute_s"] = median([s["s"] for s in under(tr, "invoice.execute", "generate")])
        out["invoice.stages"] = execute["stages"]
        out["invoice.shuffle_write_bytes"] = execute["shuffle_write_bytes"]
        out["invoice.spill_bytes"] = execute["spill_bytes"]
        out["verify.s"] = median([s["s"] for s in under(tr, "verify", "generate")])
        out["verify.jobs"] = roll([cold["verify"]])["jobs"]
        out["csv.write_s"] = median([s["s"] for s in under(tr, "csv.write", "generate")])
        out["csv.read_s"] = median([s["s"] for s in under(tr, "csv.read", "verify_csv")])
        out["verify_csv.p50_s"] = median([s["s"] for s in warm(tr.named("verify_csv"))])
        out["invoice.lines_per_s"] = sum(g["lines"] for g in warm(gens)) / sum(
            g["s"] for g in warm(gens)
        )

    queries = tr.named("catalog.query")
    if queries:
        last_pass = tr.named("catalog.pass")[-1]["id"]
        for name in CATALOG_SLICE:
            mine = [s for s in queries if s["query"] == name]
            last = roll([s for s in mine if s["parent"] == last_pass])
            key = f"catalog.{name}"
            out[f"{key}.wall_s"] = median([s["s"] for s in warm(mine)])
            out[f"{key}.plan_build_s"] = median([
                s["s"] for q in warm(mine) for s in tr.spans
                if s["parent"] == q["id"] and s["name"] == "catalog.plan_build"
            ])
            for metric in ("stages", "shuffle_write_bytes", "spill_bytes", "gc_s", "task_skew"):
                out[f"{key}.{metric}"] = last[metric]

    ops = [s for s in tr.spans if s["parent"] is None and not s["name"].startswith("setup")]
    timed = roll(ops)
    out["spark.gc_s"] = timed["gc_s"]
    out["spark.executor_run_s"] = timed["executor_run_s"]
    # share of the warm ops' time spent inside leaf (single-layer) spans
    parents = {s["parent"] for s in tr.spans}
    leaves = [
        tr.spans[i] for op in warm(ops) for i in tr.subtree(op["id"])
        if i not in parents and i != op["id"]
    ]
    out["trace.coverage"] = sum(s["s"] for s in leaves) / sum(s["s"] for s in warm(ops))
    timed_ids = {i for op in ops for i in tr.subtree(op["id"])}
    out["trace.overhead_s"] = sum(tr.spans[i]["trace_s"] for i in timed_ids) / len(ops)
    out["trace.op_p50_s"] = median([s["s"] for s in warm(ops)])
    return out
