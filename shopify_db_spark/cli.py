"""Command-line entry point — the reference's ``shopifydb.py``
subcommand surface (SURVEY §3), re-based on the Spark engine and a
parquet CommerceStore instead of Postgres.

Subcommands:

* ``shopify-update``  — sync from the Shopify API (or ``--json-dir``
  for offline/fixture ingest) into the parquet store;
* ``tripletex-generate`` — build numbered invoice lines for a date
  window, verify, write the ``;``-CSV;
* ``tripletex-verify`` — re-run the 8-check suite on an (edited) CSV;
* ``heatmap`` — order-location heatmap HTML.

The reference's ``eval(log_level)`` (``shopifydb.py:255-259``) is
not replicated — log level parses through ``logging``'s own names.
"""

from __future__ import annotations

import argparse
import logging
import sys

from shopify_db_spark.ingest_jobs import ingest_from_json_dir, shopify_update
from shopify_db_spark.plans.geo import render_heatmap
from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.plans.verify_invoices import (
    replace_invoice_gateway,
    verify_invoices,
)
from shopify_db_spark.session import get_spark
from shopify_db_spark.sources import shopify_api
from shopify_db_spark.sources.csv_io import read_invoice_csv, write_invoice_csv
from shopify_db_spark.sources.store import CommerceStore


def _gateway_rename(value: str) -> tuple[str, str]:
    """One ``--rename-gateway`` value, ``OLD=NEW``."""
    old, sep, new = value.partition("=")
    if not sep:
        raise argparse.ArgumentTypeError(f"expected OLD=NEW, got {value!r}")
    return old, new


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="shopify-db-spark")
    p.add_argument("--data-dir", required=True, help="parquet store directory")
    p.add_argument("--log-level", default="INFO")
    sub = p.add_subparsers(dest="command", required=True)

    up = sub.add_parser("shopify-update", help="sync Shopify data into the store")
    up.add_argument("--store")
    up.add_argument("--api-key")
    up.add_argument("--api-password")
    up.add_argument("--json-dir", help="offline ingest from raw .jsonl files")
    up.add_argument("--created-at-min")
    up.add_argument("--created-at-max")

    gen = sub.add_parser("tripletex-generate", help="generate invoice CSV")
    gen.add_argument("--from-date", required=True)
    gen.add_argument("--to-date", required=True)
    gen.add_argument("--invoice-start-id", type=int, required=True)
    gen.add_argument("--out", required=True)
    gen.add_argument("--gateway", nargs="*", default=None,
                     help="allow-listed payment gateways")
    gen.add_argument("--rename-gateway", nargs="*", default=[],
                     type=_gateway_rename, metavar="OLD=NEW",
                     help="gateway rename map")

    ver = sub.add_parser("tripletex-verify", help="verify an invoice CSV")
    ver.add_argument("--file", required=True)
    ver.add_argument("--gateway", nargs="*", default=None)

    hm = sub.add_parser("heatmap", help="order-location heatmap HTML")
    hm.add_argument("--out", default="orders-heatmap.html")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    logging.basicConfig(level=getattr(logging, args.log_level.upper(), logging.INFO))
    spark = get_spark(app_name=f"shopify_db_spark_{args.command}")
    store = CommerceStore(spark, args.data_dir)

    if args.command == "shopify-update":
        if args.json_dir:
            ingest_from_json_dir(spark, store, args.json_dir)
        else:
            if not (args.store and args.api_key and args.api_password):
                print("need --store/--api-key/--api-password or --json-dir",
                      file=sys.stderr)
                return 2
            http_get, base_url = shopify_api.make_client(
                args.store, args.api_key, args.api_password
            )
            shopify_update(
                spark, store, http_get, base_url,
                args.created_at_min, args.created_at_max,
            )
        return 0

    if args.command == "tripletex-generate":
        invoices = build_invoices(
            store.read_all(), args.from_date, args.to_date, args.invoice_start_id
        )
        renames = dict(args.rename_gateway)
        if renames:
            invoices = replace_invoice_gateway(invoices, renames)
        invoices = invoices.cache()
        report = verify_invoices(invoices, gateways=args.gateway)
        write_invoice_csv(invoices, args.out)
        print(f"wrote {args.out}; verification passed={report.passed}")
        return 0

    if args.command == "tripletex-verify":
        df = read_invoice_csv(spark, args.file)
        report = verify_invoices(df, gateways=args.gateway)
        for c in report.checks:
            status = "ok" if c.passed else f"{c.n_offenders} offender(s)"
            print(f"{c.name}: {status}")
        print(f"passed={report.passed}")
        return 0 if report.passed else 1

    if args.command == "heatmap":
        out = render_heatmap(store.read("shipping"), args.out)
        print(f"wrote {out}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
