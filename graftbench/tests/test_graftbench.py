"""The benchmark's own tests.

* The generator is a pure function of the seed (byte-identical output).
* A planted wrong answer drives ``failed`` above 0: one silver row
  dropped after ingest, an interval count off by one, and a batch
  writer that raises (which must also end the timed window).
* Every analytics query has rows to compare with its oracle, and one
  pass matches the oracles.
* A run stops the JVM and Spark's Python workers and waits for them.
* ``BENCHMARK.json`` names, units and keys stay inside the allowed
  alphabet, and the declared metrics match what the workloads emit.

Run from the repository root: ``python3 -m pytest graftbench/tests -q``.
The Spark cases start a local session and take about three minutes on
4 vCPUs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from graftbench import gen  # noqa: E402
from graftbench.trace import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------- generator ----


def test_dolar_wave_is_byte_identical_for_a_seed():
    a, b = gen.dolar_wave(7, 3, 12), gen.dolar_wave(7, 3, 12)
    assert a.files == b.files
    assert (a.rows, a.bad_rows, a.non_list_files) == (b.rows, b.bad_rows, b.non_list_files)
    assert gen.dolar_wave(8, 3, 12).files != a.files


def test_dolar_wave_plants_what_it_says():
    waves = [gen.dolar_wave(1, i, 12) for i in range(6)]
    props = gen.wave_properties(waves)
    assert props["non_list_files"] == props["non_matching_files"] == 2  # waves 0 and 3
    assert 0.005 < props["bad_row_share"] < 0.04
    names = [n for w in waves for n, _ in w.files]
    assert len(names) == len(set(names))


def test_serve_requests_are_identical_for_a_seed():
    a, b = gen.serve_requests(4, 200, 30), gen.serve_requests(4, 200, 30)
    assert [(r.width, r.start, r.end) for r in a] == [(r.width, r.start, r.end) for r in b]
    assert any(not r.valid for r in a) and all(r.valid == (r.width != "invalid") for r in a)


def test_sf_tables_are_byte_identical_for_a_seed(tmp_path):
    rows_a = gen.write_sf_tables(5, str(tmp_path / "a"), scale=0.001)
    rows_b = gen.write_sf_tables(5, str(tmp_path / "b"), scale=0.001)
    assert rows_a == rows_b
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes(), name


# ------------------------------------------------------- BENCHMARK.json ----


def test_benchmark_json_names_and_units():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200


def test_declared_workloads_exist():
    from graftbench.workloads import WORKLOADS

    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)


def test_declared_metrics_are_the_ones_emitted(tmp_path):
    from graftbench.workloads import DolarIngest, SfAnalytics

    ingest = DolarIngest(1, str(tmp_path), Tracer(True))
    ingest.replay_rows, ingest.silver = 0, str(tmp_path / "silver")
    analytics = SfAnalytics(1, str(tmp_path), Tracer(True))
    analytics.passes = 1
    spec = _spec()
    assert set(ingest.layers()) | set(analytics.layers()) == {m["name"] for m in spec["per_layer"]}
    run_level = {"setup_s", "cpu_ms_per_op", "retained_heap_mb"}  # measured by run.py
    assert {m["name"] for m in spec["end_to_end"]} <= set(ingest.end_to_end()) | run_level


def test_every_analytics_query_has_an_oracle_twin():
    from graftbench.workloads import QUERIES
    from parcial_bigdata_spark.plans.registry import ORACLES

    assert set(QUERIES) <= set(ORACLES)


@pytest.mark.parametrize("seed", [1, 2])
def test_every_analytics_query_has_rows_to_check(tmp_path, seed):
    """An empty answer would make the oracle comparison vacuous."""
    import duckdb

    from graftbench.workloads import QUERIES, SfAnalytics
    from parcial_bigdata_spark.catalog import TABLES
    from parcial_bigdata_spark.plans.registry import ORACLES

    gen.write_sf_tables(seed, str(tmp_path), SfAnalytics.SCALE)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    empty = [q for q in QUERIES if not con.execute(ORACLES[q]).fetchall()]
    assert not empty


# ------------------------------------------------- planted wrong answers ----


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    path = str(tmp_path_factory.mktemp("graftbench"))
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_dropped_silver_row_is_a_failure(work):
    from graftbench.workloads import DolarIngest

    wl = DolarIngest(3, os.path.join(work, "ingest"), Tracer(False))
    try:
        wl.setup(0)
        wl.measure(0)  # two timed waves
        assert wl.failed == 0, wl.failures
        df = wl.spark.read.parquet(wl.silver)
        victim = df.orderBy("source_file", "fechahora", "valor").limit(1)
        tampered = wl.silver + "_tampered"
        df.exceptAll(victim).write.partitionBy("dt").parquet(tampered)
        shutil.copytree(wl.silver + "_ledger", tampered + "_ledger")
        wl.silver = tampered
        wl.check()
        assert wl.failed == 1 and "silver rows differ" in wl.failures[0]
        assert wl.failed / wl.attempted > 0
    finally:
        wl.close()


def test_traced_ingest_wraps_the_engine_writer(work):
    """A traced run times the writer ``start_silver_stream`` builds, and
    every timed wave splits at the batch limit."""
    from graftbench.workloads import DolarIngest

    wl = DolarIngest(5, os.path.join(work, "traced"), Tracer(True))
    try:
        wl.setup(0)
        wl.measure(0)
        wl.check()
        assert wl.failed == 0, wl.failures
        layers = wl.layers()
        assert layers["pipeline.batches"] >= 2 * DolarIngest.MIN_WAVES
        assert layers["pipeline.files_per_batch"] == DolarIngest.MAX_FILES_PER_TRIGGER
        assert layers["ingest.rows_ok"] == sum(len(w.rows) for w in wl.waves[1:])
    finally:
        wl.close()


def test_failing_drain_ends_the_window_as_a_failure(work, monkeypatch):
    import parcial_bigdata_spark.streaming.pipeline as pipeline_mod
    from graftbench.workloads import DolarIngest

    def broken_writer(*a, **k):
        def write(batch_df, batch_id):
            raise RuntimeError("planted writer failure")

        return write

    wl = DolarIngest(4, os.path.join(work, "broken"), Tracer(False))
    try:
        wl.setup(0)
        assert wl.failed == 0, wl.failures
        monkeypatch.setattr(pipeline_mod, "make_silver_batch_writer", broken_writer)
        wl.measure(0)
        assert wl.failed == 1 and wl.failures[0].startswith("wave 1: StreamingQueryException"), wl.failures
        assert wl.failed / wl.attempted > 0
    finally:
        wl.close()


def test_analytics_pass_matches_the_oracles(work):
    from graftbench.workloads import QUERIES, SfAnalytics

    wl = SfAnalytics(2, os.path.join(work, "sf"), Tracer(False))
    try:
        wl.setup(0)
        wl.check()
        assert wl.failed == 0, wl.failures
        assert wl.attempted == len(QUERIES)
    finally:
        wl.close()


def test_off_by_one_interval_count_is_a_failure(work, monkeypatch):
    from pyspark.sql import functions as F

    import parcial_bigdata_spark.operators.interval as interval_mod
    from graftbench.workloads import DolarServe

    wl = DolarServe(3, os.path.join(work, "serve"), Tracer(False))
    try:
        wl.setup(0)
        assert wl.failed == 0, wl.failures
        real = interval_mod.interval_count
        monkeypatch.setattr(
            interval_mod, "interval_count",
            lambda *a, **k: real(*a, **k).select((F.col("cnt") + 1).alias("cnt")),
        )
        wl.measure(2)
        assert wl.failed > 0 and "count" in wl.failures[0]
        assert wl.failed / wl.attempted > 0
    finally:
        wl.close()


def test_stop_processes_leaves_no_process_behind(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from graftbench import run
run._confine({str(tmp_path)!r})
run._become_subreaper()
from parcial_bigdata_spark.session import get_spark
spark = get_spark("graftbench-test", driver_memory="1g")
assert spark.range(8).rdd.map(lambda x: x).count() == 8  # starts Python workers
jvm = spark.sparkContext._gateway.proc.pid
spark.stop()
run._stop_processes()
assert not run._descendants(), run._descendants()
print(jvm)
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    assert not os.path.exists(f"/proc/{int(out.stdout.split()[-1])}")
