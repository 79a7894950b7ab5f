"""CSV round-trip and the CLI surface end-to-end: offline ingest →
generate → verify → heatmap, all through ``cli.main``."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from shopify_db_spark.cli import main
from shopify_db_spark.plans.commerce import (
    FROM_DATE,
    START_ID,
    TO_DATE,
    commerce_tables_from_benchmark,
)
from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.schemas import INVOICE_CSV_COLUMNS
from shopify_db_spark.sources.csv_io import read_invoice_csv, write_invoice_csv
from tests.commerce_fixtures import build_tables
from tests.conftest import SF_SMOKE
from tests.test_ingest import fixtures_to_raw_json


def test_csv_roundtrip(spark, tmp_path):
    invoices = build_invoices(build_tables(spark), "2024-01-01", "2024-01-31", 1000)
    out = str(tmp_path / "invoices.csv")
    write_invoice_csv(invoices, out)
    assert os.path.isfile(out)
    with open(out) as fh:
        header = fh.readline().strip()
    assert header == ";".join(INVOICE_CSV_COLUMNS)

    back = read_invoice_csv(spark, out)
    assert back.count() == invoices.count()
    orig = {
        (r["ORDER NO"], r["ORDER LINE - PROD NO"], str(r["PAID AMOUNT"]))
        for r in invoices.collect()
    }
    loaded = {
        (r["ORDER NO"], r["ORDER LINE - PROD NO"], str(r["PAID AMOUNT"]))
        for r in back.collect()
    }
    assert orig == loaded

    # The sink owns the file order, so the bytes depend only on the
    # rows: the same store in a different parquet layout writes the
    # same file, in the reference's (INVOICE NO, CUSTOMER NAME) order.
    tables = commerce_tables_from_benchmark(spark, SF_SMOKE)
    shuffled = {name: df.repartition(7, F.rand(3)) for name, df in tables.items()}
    paths = []
    try:
        for i, t in enumerate((tables, shuffled)):
            paths.append(str(tmp_path / f"bench{i}.csv"))
            write_invoice_csv(build_invoices(t, FROM_DATE, TO_DATE, START_ID), paths[-1])
    finally:
        for df in tables.values():
            df.unpersist()
    with open(paths[0], "rb") as a, open(paths[1], "rb") as b:
        assert a.read() == b.read()
    with open(paths[0], newline="") as fh:
        rows = list(csv.DictReader(fh, delimiter=";"))
    assert len(rows) > 1
    keys = [(int(r["INVOICE NO"]), r["CUSTOMER NAME"]) for r in rows]
    assert keys == sorted(keys)


@pytest.fixture(scope="module")
def cli_data_dir(spark, tmp_path_factory):
    json_dir = tmp_path_factory.mktemp("cli_raw")
    fixtures_to_raw_json(json_dir)
    data_dir = str(tmp_path_factory.mktemp("cli_store"))
    rc = main([
        "--data-dir", data_dir,
        "shopify-update", "--json-dir", str(json_dir),
    ])
    assert rc == 0
    return data_dir


def test_cli_generate_and_verify(cli_data_dir, tmp_path, capsys):
    out = str(tmp_path / "inv.csv")
    rc = main([
        "--data-dir", cli_data_dir,
        "tripletex-generate",
        "--from-date", "2024-01-01", "--to-date", "2024-01-31",
        "--invoice-start-id", "1",
        "--out", out,
        "--gateway", "vipps", "stripe",
        "--rename-gateway", "manual=Manual",
    ])
    assert rc == 0
    assert os.path.isfile(out)
    assert "passed=False" in capsys.readouterr().out  # fixtures trip checks

    rc = main(["--data-dir", cli_data_dir, "tripletex-verify", "--file", out])
    captured = capsys.readouterr().out
    assert "invoice_no: ok" in captured
    assert rc == 1  # verification fails on the engineered fixtures


def test_cli_rejects_malformed_rename_gateway(tmp_path, capsys):
    """A ``--rename-gateway`` value without ``=`` is a usage error:
    argparse exits 2 before any Spark work runs."""
    with pytest.raises(SystemExit) as exc:
        main([
            "--data-dir", str(tmp_path / "store"),
            "tripletex-generate",
            "--from-date", "2024-01-01", "--to-date", "2024-01-31",
            "--invoice-start-id", "1",
            "--out", str(tmp_path / "inv.csv"),
            "--rename-gateway", "manual",
        ])
    assert exc.value.code == 2
    assert "OLD=NEW" in capsys.readouterr().err


def test_cli_heatmap(cli_data_dir, tmp_path):
    out = str(tmp_path / "map.html")
    rc = main(["--data-dir", cli_data_dir, "heatmap", "--out", out])
    assert rc == 0
    assert os.path.getsize(out) > 0
