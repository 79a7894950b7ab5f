"""Spark 4 Python Data Source for the Shopify Admin API.

The reference ingests sequentially — one cursor-paginated page loop
per entity (``shopify.py:112-163``), one process. This source makes
ingest *executor-parallel* the Spark-native way: the requested
``created_at`` window splits into N date slices, each slice is an
``InputPartition``, and every task runs the same cursor page loop
(``sources.shopify_api.fetch_all``) for its slice only — the API's
``created_at_min/max`` parameters act as partition pruning pushed to
the source. N tasks × rate-limited page loops is how a 1000-executor
cluster ingests a large store without a driver bottleneck.

Rows come back as raw JSON strings (one record per row) so the typed
normalization stays where it belongs — in the DataFrame layer
(``sources.json_ingest.parse_raw`` + normalizers), identical for
API, file, and streaming ingest.

Usage::

    spark.dataSource.register(ShopifyDataSource)
    raw = (spark.read.format("shopify")
           .option("entity", "orders")
           .option("store", "my-store")
           .option("api_key", key).option("api_password", pw)
           .option("created_at_min", "2024-01-01")
           .option("created_at_max", "2024-12-31")
           .option("num_partitions", "16")
           .load())
    orders = ji.normalize_orders(ji.parse_raw(spark, raw, ji.RAW_ORDER))

Offline mode (tests / air-gapped): ``option("fixture_dir", dir)``
reads ``<entity>.jsonl`` and filters each record to the partition's
date slice — the same code path minus HTTP.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from shopify_db_spark.sources import shopify_api as api


@dataclass
class DateSlice(InputPartition):
    start: str  # inclusive ISO date
    end: str    # exclusive ISO date


def _date_slices(lo: str, hi: str, n: int) -> list[DateSlice]:
    """Split [lo, hi) into n contiguous date slices (the last one
    absorbs the remainder)."""
    d_lo = dt.date.fromisoformat(lo)
    d_hi = dt.date.fromisoformat(hi)
    total = max((d_hi - d_lo).days, 1)
    n = max(1, min(n, total))
    step, extra = divmod(total, n)
    out, cur = [], d_lo
    for i in range(n):
        nxt = cur + dt.timedelta(days=step + (1 if i < extra else 0))
        out.append(DateSlice(cur.isoformat(), nxt.isoformat()))
        cur = nxt
    return out


class ShopifyReader(DataSourceReader):
    def __init__(self, options: dict):
        self.entity = options.get("entity", "orders")
        if self.entity not in api.ENTITIES:
            raise ValueError(f"unsupported entity: {self.entity}")
        self.options = dict(options)

    def partitions(self):
        lo = self.options.get("created_at_min", "1970-01-01")
        hi = self.options.get("created_at_max") or dt.date.today().isoformat()
        n = int(self.options.get("num_partitions", "8"))
        return _date_slices(lo, hi, n)

    def read(self, partition: DateSlice):
        fixture_dir = self.options.get("fixture_dir")
        if fixture_dir:
            yield from self._read_fixture(fixture_dir, partition)
            return
        http_get, base_url = api.make_client(
            self.options["store"],
            self.options["api_key"],
            self.options["api_password"],
        )
        fields, filter_on_status = api.ENTITIES[self.entity]
        for page in api.fetch_all(
            http_get,
            base_url,
            self.entity,
            fields,
            filter_on_status=filter_on_status,
            created_at_min=partition.start,
            created_at_max=partition.end,
        ):
            for record in page:
                yield (json.dumps(record),)

    def _read_fixture(self, fixture_dir: str, partition: DateSlice):
        """Offline path: the jsonl file stands in for the API; the
        date-slice filter emulates the server-side created_at
        window (end-exclusive)."""
        path = os.path.join(fixture_dir, f"{self.entity}.jsonl")
        with open(path) as fh:
            for line in fh:
                record = json.loads(line)
                created = (record.get("created_at") or "")[:10]
                if created and partition.start <= created < partition.end:
                    yield (line.rstrip("\n"),)


ClientFactory = Callable[[], tuple]
"""() -> (HttpGet, base_url): built ON THE EXECUTOR, once per task.

Cloudpickled with the fetch function, so closures over credentials
(``shopify_api.make_client`` output wrapped in a lambda) and test
fakes both work; what must NOT cross the wire is a live socket/
session object — construct those inside the factory."""


def fetch_sub_resource(
    order_ids: DataFrame,
    endpoint: str,
    fields: list[str],
    client_factory: ClientFactory,
    id_col: str = "id",
    records_key: str | None = None,
    max_workers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Executor-parallel per-order sub-resource fetch — the scale
    path for the reference's sequential N+1 loop
    (``shopify.py:391-393,438-440``).

    The order-id side stays a DataFrame end-to-end: ids are never
    collected to the driver. Each task receives an Arrow batch of
    ids (``mapInPandas``), builds one API client, and walks its ids
    through a bounded thread pool (the per-id ``GET
    orders/{id}/{endpoint}.json`` is IO-bound and rate-limited, so
    threads-within-a-task is the right concurrency, multiplied by
    task parallelism across executors). Output is one row per
    sub-record — ``(order_id, value)`` with ``value`` the raw JSON
    string and ``order_id`` injected, exactly the shape
    ``json_ingest.parse_raw`` + the normalizers consume, so API,
    file, and streaming ingest share one typed pipeline.

    At 1000-executor scale: ``num_partitions`` bounds the number of
    concurrent page loops against the store's rate limit; each task
    holds only its id batch and the in-flight bodies, so memory is
    O(batch), not O(orders).
    """
    key = records_key or endpoint

    ids = order_ids.select(F.col(id_col).cast("long").alias("order_id"))
    if num_partitions is not None:
        ids = ids.repartition(num_partitions)

    def fetch(batches):
        import pandas as pd

        from shopify_db_spark.sources import shopify_api as api

        http_get, base_url = client_factory()
        from concurrent.futures import ThreadPoolExecutor

        for pdf in batches:
            oids = [int(x) for x in pdf["order_id"]]
            if not oids:
                continue
            with ThreadPoolExecutor(max_workers=max_workers) as pool:
                bodies = list(
                    pool.map(
                        lambda oid: (
                            oid,
                            api.fetch_single(
                                http_get, base_url, oid, endpoint, fields
                            ),
                        ),
                        oids,
                    )
                )
            rows = [
                (oid, json.dumps({**rec, "order_id": oid}))
                for oid, body in bodies
                for rec in body.get(key, [])
            ]
            yield pd.DataFrame(rows, columns=["order_id", "value"]).astype(
                {"order_id": "int64", "value": "object"}
            )

    return ids.mapInPandas(fetch, schema="order_id long, value string")


class ShopifyDataSource(DataSource):
    """``spark.read.format("shopify")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "shopify"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> ShopifyReader:
        return ShopifyReader(self.options)
