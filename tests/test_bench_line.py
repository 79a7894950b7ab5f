"""bench.py's stdout contract: one JSON line of at most 1900 chars
(the driver keeps only the last ~2000 chars of stdout) with short
per-item keys. Hermetic — no SparkSession."""

from __future__ import annotations

import json

import bench

ARTIFACT_LABELS = [a.label for a in bench.ARTIFACTS]


def _catalog(n: int) -> dict[str, float]:
    """``n`` long query names plus the artifact line items, with
    per-item seconds spread over 0.01-30 s."""
    names = [
        f"q{i:02d}_a_long_descriptive_catalog_query_name_{i}" for i in range(1, n + 1)
    ]
    return {
        name: (i * 7919 % 3000 + 1) / 100 + 0.0049
        for i, name in enumerate(names + ARTIFACT_LABELS)
    }


def test_compact_line_fits_the_ceiling_with_short_keys():
    timings = _catalog(170)
    errors = {"q171_a_long_descriptive_catalog_query_name_171": "ValueError: x"}
    line = bench.compact_line(timings, errors, 0.1, "BENCH_local.json")
    assert "\n" not in line
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["metric"] == "catalog_total_wall"
    assert out["unit"] == "sec"
    assert out["value"] == round(sum(timings.values()), 2)
    assert out["n_queries"] == 173
    assert out["n_errors"] == 1
    assert out["error_queries"] == ["q171"]
    assert set(out["queries"]) == {f"q{i:02d}" for i in range(1, 171)} | {
        "art_clu",
        "art_inv",
        "art_bpe",
    }


def test_compact_line_keeps_two_decimals_when_short():
    timings = {
        "q01_pricing_summary": 1.23456,
        "q02_two": 2.0012,
        "artifact_invoice_table": 0.5,
    }
    line = bench.compact_line(timings, {}, 0.001, "b.json", "partitioned")
    assert '"q02":2}' in line  # an integral value drops its ".0"
    out = json.loads(line)
    assert out["queries"] == {"q01": 1.23, "q02": 2, "art_inv": 0.5}
    assert out["layout"] == "partitioned"
    assert out["n_errors"] == 0 and "error_queries" not in out


def test_colliding_short_keys_fall_back_to_full_names():
    timings = {"q07_first": 1.0, "q07_second": 2.0, "q08_third": 3.0}
    out = json.loads(bench.compact_line(timings, {}, 0.1, "b.json"))
    assert set(out["queries"]) == set(timings)
    assert out["n_queries"] == 3
