"""Golden-exact tests of the bronze→silver ingest dataflow.

Mirrors the reference's test strategy (tests/tests.py:143-213 in
sabogal9988/parcial-BigData): tiny literal payload fixture — including
the exact `[["1757509256000","3920.00"], ...]` shape — with exact
expected rows, bad-row counters, filename-filter skips, and whole-file
rejection of non-list payloads.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from parcial_bigdata_spark.sources import ingest

# The reference fixture payload (tests/tests.py:162-165): string epochs /
# string values, plus numeric variants that the permissive parse accepts.
GOOD_PAYLOAD = [
    ["1757509256000", "3920.00"],
    ["1757509256500", "3921.5"],  # sub-second: truncates to :56
    [1757509257000, 3922],  # numeric elements parse too
]
# 1757509256000 ms = 2025-09-10 13:00:56 UTC
TS0 = dt.datetime(2025, 9, 10, 13, 0, 56)
TS1 = dt.datetime(2025, 9, 10, 13, 0, 56)  # 500 ms truncated off
TS2 = dt.datetime(2025, 9, 10, 13, 0, 57)


@pytest.fixture()
def bronze_dir(tmp_path):
    (tmp_path / "dolar-1757509256.json").write_text(json.dumps(GOOD_PAYLOAD))
    (tmp_path / "dolar-1757509300.json").write_text(
        json.dumps(
            [
                ["1757509258000", "3923.25"],
                ["not-a-ts", "3924"],  # bad epoch → dropped, counted
                ["1757509259000"],  # 1-element tuple → dropped, counted
                ["1757509260000", "oops"],  # bad value → dropped, counted
            ]
        )
    )
    # Non-list top level → whole file contributes zero rows (P5).
    (tmp_path / "dolar-1757509400.json").write_text(json.dumps({"error": "maintenance"}))
    # Non-matching key → skipped entirely by the glob (P1).
    (tmp_path / "zappa-artifact.json").write_text(json.dumps([["1757509256000", "1"]]))
    return str(tmp_path)


def test_filename_filter_skips_non_matching(spark, bronze_dir):
    bronze = ingest.read_bronze(spark, bronze_dir)
    files = [r.source_file for r in bronze.select("source_file").collect()]
    assert len(files) == 3
    assert all("dolar-" in f and f.endswith(".json") for f in files)
    assert not any("zappa-artifact" in f for f in files)


def test_silver_rows_golden(spark, bronze_dir):
    rows = ingest.silver_rows(ingest.parse_rows(ingest.read_bronze(spark, bronze_dir)))
    got = sorted(
        (r.fechahora, r.valor) for r in rows.collect()
    )
    assert got == [
        (TS0, Decimal("3920.0000")),
        (TS1, Decimal("3921.5000")),
        (TS2, Decimal("3922.0000")),
        (dt.datetime(2025, 9, 10, 13, 0, 58), Decimal("3923.2500")),
    ]


def test_silver_schema_matches_reference_ddl(spark, bronze_dir):
    rows = ingest.silver_rows(ingest.parse_rows(ingest.read_bronze(spark, bronze_dir)))
    dtypes = dict(rows.dtypes)
    assert dtypes["fechahora"] == "timestamp"
    assert dtypes["valor"] == "decimal(12,4)"


def test_accounting_counts_good_and_bad(spark, bronze_dir):
    acct = ingest.accounting(ingest.parse_rows(ingest.read_bronze(spark, bronze_dir)))
    by_file = {
        r.source_file.rsplit("/", 1)[-1]: (r.rows_inserted, r.bad_rows)
        for r in acct.collect()
    }
    assert by_file["dolar-1757509256.json"] == (3, 0)
    assert by_file["dolar-1757509300.json"] == (1, 3)
    # the non-list file contributes no candidate rows at all
    assert "dolar-1757509400.json" not in by_file


def test_ingest_summary_totals(spark, bronze_dir):
    summary = ingest.ingest_summary(
        ingest.accounting(ingest.parse_rows(ingest.read_bronze(spark, bronze_dir)))
    ).collect()[0]
    assert summary.files_processed == 2
    assert summary.total_rows_inserted == 4
    assert summary.total_bad_rows == 3


def test_write_silver_partitions_by_date(spark, bronze_dir, tmp_path):
    silver_path = str(tmp_path / "silver")
    rows = ingest.silver_rows(ingest.parse_rows(ingest.read_bronze(spark, bronze_dir)))
    ingest.write_silver(rows, silver_path)
    back = spark.read.parquet(silver_path)
    assert back.count() == 4
    assert "dt" in back.columns  # date partition column for pruning
    # re-append is append-only (at-least-once parity with the reference)
    ingest.write_silver(rows, silver_path)
    assert spark.read.parquet(silver_path).count() == 8


def test_parse_is_ansi_safe_on_short_rows_and_overflow(spark, tmp_path):
    """ANSI mode is default-on in Spark 4 and the engine never disables
    it: the permissive parse must stay drop-and-count — never throw —
    for sub-2-element tuples (plain element_at raises
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT) and for values that fit a double
    but overflow the silver DECIMAL(12,4) (a plain cast raises
    NUMERIC_VALUE_OUT_OF_RANGE at write time).  Round-5 review pins."""
    import json

    d = tmp_path / "bronze"
    d.mkdir()
    payload = [
        ["1757509256000", "3920.00"],   # good
        ["1757509257000"],              # short row: bad
        ["1757509258000", "99999999999"],  # decimal(12,4) overflow: bad
    ]
    (d / "dolar-1.json").write_text(json.dumps(payload))
    candidates = ingest.parse_rows(ingest.read_bronze(spark, str(d)))
    # materializing the FULL candidate frame (no ok filter pushed on
    # top) must not throw under ANSI
    rows = candidates.collect()
    assert len(rows) == 3
    assert sum(r.ok for r in rows) == 1
    silver = ingest.silver_rows(candidates).collect()
    assert len(silver) == 1 and float(silver[0].valor) == 3920.0
    acct = ingest.accounting(candidates).collect()[0]
    assert (acct.rows_inserted, acct.bad_rows) == (1, 2)


def test_epoch_range_bounds_ok_rows(spark, tmp_path):
    """``ok`` holds exactly for epochs in [0001-01-01, 9999-12-31
    23:59:59.999] UTC; rows outside it, or with a non-numeric epoch, are
    bad (False, never NULL) and carry no timestamp."""
    from pyspark.sql import functions as F

    lo, hi = ingest.MIN_EPOCH_MS, ingest.MAX_EPOCH_MS
    payload = [[str(lo), "1"], [str(hi), "1"], [str(lo - 1), "1"],
               [str(hi + 1), "1"], ["99999999999999999", "1"], ["x", "1"]]
    d = tmp_path / "bronze"
    d.mkdir()
    (d / "dolar-1.json").write_text(json.dumps(payload))
    got = ingest.parse_rows(ingest.read_bronze(spark, str(d))).select(
        "ok", F.unix_millis("fechahora").alias("ms")
    ).collect()
    assert [(r.ok, r.ms) for r in got] == [
        (True, lo), (True, hi - 999), (False, None),
        (False, None), (False, None), (False, None),
    ]
