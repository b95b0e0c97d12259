"""The three benchmark workloads, each driving the engine's public API.

Every workload has the same life cycle, run by ``run.py``:

* ``setup(rep)`` — start a session, generate inputs, build the starting
  state and warm up.  Run several times; the median is ``setup_s``.
* ``measure(seconds)`` — the timed window, a closed loop.
* ``check()`` — correctness against the generator's model, outside the
  timed window.
* ``end_to_end()`` / ``layers()`` — the numbers for the result line.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np

from graftbench import gen
from graftbench.trace import (
    Tracer,
    dir_stats,
    last_job_id,
    median,
    plan_metrics,
    progress_durations,
)

APP = "graftbench"
DRIVER_MEMORY = "2g"


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    """Shared plumbing: the session, the tracer, operation accounting."""

    def __init__(self, seed: int, work_dir: str, tracer: Tracer):
        self.seed = seed
        self.work = work_dir
        self.tr = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies_s: list[float] = []  # one per timed operation
        self.items = 0  # work items completed in the window
        self.window_s = 0.0

    def _session(self):
        from parcial_bigdata_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark(APP, driver_memory=DRIVER_MEMORY)
        return self.spark

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def end_to_end(self) -> dict[str, float]:
        lat_ms = [x * 1000.0 for x in self.latencies_s]
        return {
            "throughput_per_s": self.items / self.window_s if self.window_s else 0.0,
            "latency_p50_ms": median(lat_ms),
            "latency_geomean_ms": math.exp(sum(math.log(x) for x in lat_ms) / len(lat_ms)) if lat_ms else 0.0,
        }

    def layers(self) -> dict[str, float]:
        tr = self.tr
        return {
            "session.get_spark_s": median(tr.durations("session.get_spark")),
            "trace.overhead_s": tr.overhead_s,
        }

    def _interval_layers(self, construct: str, execute: str) -> dict[str, float]:
        """``operators.interval`` numbers: span medians plus the scan
        metrics sampled from each executed interval plan."""
        tr = self.tr
        got = {k: tr.samples.get(f"interval.{k}", []) for k in
               ("jobs_per_request", "scan_files", "scan_bytes", "rows_scanned", "rows_returned")}
        scanned = sum(got["rows_scanned"])
        return {
            "interval.construct_ms": 1000 * median(tr.durations(construct)),
            "interval.exec_ms": 1000 * median(tr.durations(execute)),
            **{f"interval.{k}": median(v) for k, v in got.items()},
            "interval.useful_row_ratio": sum(got["rows_returned"]) / scanned if scanned else 0.0,
        }


# ------------------------------------------------------------ dolar base ----


class _Dolar(Workload):
    """Bronze → silver through ``streaming.pipeline``."""

    def __init__(self, seed, work_dir, tracer):
        super().__init__(seed, work_dir, tracer)
        self.batch_metrics: list[dict] = []
        self.progress: list[dict] = []

    def _on_metrics(self, batch_id: int, m: dict) -> None:
        self.batch_metrics.append(dict(m, batch_id=batch_id))

    @contextmanager
    def _traced_batch_writer(self):
        """While ``start_silver_stream`` wires the stream, have it build the
        engine's own batch writer wrapped in spans.  The ingest-layer
        counts come from extra jobs over the same micro-batch, charged to
        the tracer's overhead."""
        from pyspark.sql import functions as F

        from parcial_bigdata_spark.sources.ingest import PAYLOAD_SCHEMA, parse_rows
        from parcial_bigdata_spark.streaming import pipeline

        real = pipeline.make_silver_batch_writer
        tr = self.tr

        def make(silver_path, on_metrics=None):
            inner = real(silver_path, on_metrics)

            def write(batch_df, batch_id):
                with tr.overhead():
                    with tr.span("ingest.read_bronze"):
                        files = batch_df.count()
                    with tr.span("ingest.parse_rows"):
                        acct = parse_rows(batch_df).agg(
                            F.sum(F.col("ok").cast("int")).alias("ok"),
                            F.sum((~F.col("ok")).cast("int")).alias("bad"),
                        ).collect()[0]
                    rejected = batch_df.where(F.from_json("raw_payload", PAYLOAD_SCHEMA).isNull()).count()
                tr.sample("ingest.rows_ok", acct.ok or 0)
                tr.sample("ingest.rows_bad", acct.bad or 0)
                tr.sample("ingest.files_rejected", rejected)
                tr.sample("pipeline.files_per_batch", files)
                j0 = last_job_id(batch_df.sparkSession)
                with tr.span("pipeline.batch_write"):
                    inner(batch_df, batch_id)
                tr.sample("pipeline.jobs_per_batch", last_job_id(batch_df.sparkSession) - j0)

            return write

        pipeline.make_silver_batch_writer = make
        try:
            yield
        finally:
            pipeline.make_silver_batch_writer = real

    def _drain(self, landing: str, silver: str, ckpt: str, max_files: int | None) -> None:
        """One AvailableNow drain of everything new in ``landing``."""
        from parcial_bigdata_spark.streaming.pipeline import start_silver_stream

        with self._traced_batch_writer() if self.tr.enabled else nullcontext():
            q = start_silver_stream(
                self.spark, landing, silver, ckpt,
                on_metrics=self._on_metrics, max_files_per_trigger=max_files,
            )
        q.awaitTermination()
        self.progress += progress_durations(q)

    def _silver_model_check(self, silver: str, rows: list[tuple[str, int, str]]) -> bool:
        """Silver equals the model: same row count and same content hash
        over (file name, epoch seconds, DECIMAL(12,4) string)."""
        from pyspark.sql import functions as F

        got = (
            self.spark.read.parquet(silver)
            .select(
                F.regexp_extract("source_file", r"[^/]+$", 0).alias("f"),
                F.unix_seconds("fechahora").alias("s"),
                F.col("valor").cast("string").alias("v"),
            )
            .collect()
        )
        return _rows_hash((r.f, r.s, r.v) for r in got) == _rows_hash(rows) and len(got) == len(rows)

    def _store_layers(self, silver: str) -> dict[str, float]:
        s = dir_stats(silver)
        ledger = dir_stats(silver.rstrip("/") + "_ledger")
        rows = sum(m["rows_inserted"] for m in self.batch_metrics if m.get("phase") != "replay")
        return {
            "silver.files": s["files"],
            "silver.bytes": s["bytes"],
            "silver.partitions": s["partitions"],
            "ledger.files": ledger["files"],
            "store.bytes_per_row": (s["bytes"] + ledger["bytes"]) / rows if rows else 0.0,
        }

    def _pipeline_layers(self) -> dict[str, float]:
        tr = self.tr
        writes = tr.durations("pipeline.batch_write")
        out = {
            "ingest.read_bronze_s": sum(tr.durations("ingest.read_bronze")),
            "ingest.parse_rows_s": sum(tr.durations("ingest.parse_rows")),
            "ingest.rows_ok": sum(tr.samples.get("ingest.rows_ok", [])),
            "ingest.rows_bad": sum(tr.samples.get("ingest.rows_bad", [])),
            "ingest.files_rejected": sum(tr.samples.get("ingest.files_rejected", [])),
            "pipeline.batch_write_s_p50": median(writes),
            "pipeline.batch_write_s_max": max(writes, default=0.0),
            "pipeline.batches": len(writes),
            "pipeline.files_per_batch": median(tr.samples.get("pipeline.files_per_batch", [])),
            "pipeline.jobs_per_batch": median(tr.samples.get("pipeline.jobs_per_batch", [])),
        }
        for key, name in (
            ("latestOffset", "stream.latest_offset_ms"),
            ("addBatch", "stream.add_batch_ms"),
            ("walCommit", "stream.wal_commit_ms"),
            ("triggerExecution", "stream.trigger_ms"),
        ):
            out[name] = median(d[key] for d in self.progress if key in d)
        return out


def _rows_hash(rows) -> str:
    h = hashlib.sha256()
    for f, s, v in sorted(rows):
        h.update(f"{f}|{s}|{v}\n".encode())
    return h.hexdigest()


# ---------------------------------------------------------- dolar_ingest ----


class DolarIngest(_Dolar):
    """Closed-loop arrival waves drained by ``start_silver_stream``."""

    # the specifying prototype's backlog: 600 files in 6 waves, drained
    # with maxFilesPerTrigger=50, so every timed wave splits into batches
    FILES_PER_WAVE = 100
    MAX_FILES_PER_TRIGGER = 50
    # set-up commits one small wave in two batches: it only has to compile
    # both writer paths, and small batches keep set-up inside the budget
    START_FILES = 6
    MIN_WAVES = 2  # a window always attempts at least this many waves

    def setup(self, rep: int) -> None:
        """Session, then the starting state: a fresh landing dir, silver
        table and checkpoint holding one committed wave.  Its first batch
        runs the empty-table path and its second the growing-table path
        (ledger read, silver probe, anti-join), so both are compiled
        before timing.  The last repetition's table is the one the window
        grows."""
        self._session()
        root = os.path.join(self.work, f"run{rep}")
        _rm(os.path.join(self.work, f"run{rep - 1}"))
        _rm(root)
        self.landing, self.silver, self.ckpt = (os.path.join(root, d) for d in ("landing", "silver", "ckpt"))
        self.batch_metrics.clear()
        self.progress.clear()
        self.waves: list[gen.Wave] = []
        self._wave(self.START_FILES, self.START_FILES // 2, timed=False)
        self.tr.reset(("ingest.", "pipeline."))

    def _wave(self, files: int, max_files: int, timed: bool) -> None:
        """Land the next wave, drain it ``max_files`` files a batch, check
        its committed row count."""
        wave = gen.dolar_wave(self.seed, len(self.waves), files)
        self.waves.append(wave)
        gen.land(wave, self.landing)
        landed = time.perf_counter()
        self.attempted += 1
        n0 = len(self.batch_metrics)
        try:
            self._drain(self.landing, self.silver, self.ckpt, max_files)
        except Exception as e:  # noqa: BLE001 - a failed drain is a counted failure
            self._fail(f"wave {wave.index}: {type(e).__name__}: {e}"[:300])
            return
        inserted = sum(m["rows_inserted"] for m in self.batch_metrics[n0:])
        if inserted != len(wave.rows):
            self._fail(f"wave {wave.index}: {inserted} rows committed, model {len(wave.rows)}")
        if timed:
            self.latencies_s.append(time.perf_counter() - landed)
            self.items += inserted

    def measure(self, seconds: float) -> None:
        """Timed waves until ``seconds`` have gone and ``MIN_WAVES`` were
        attempted.  A failed wave ends the window: the next wave would run
        on a stream or table already known to be wrong."""
        t_start = time.perf_counter()
        failed0, waves = self.failed, 0
        while self.failed == failed0 and (waves < self.MIN_WAVES or time.perf_counter() - t_start < seconds):
            self._wave(self.FILES_PER_WAVE, self.MAX_FILES_PER_TRIGGER, timed=True)
            waves += 1
        self.window_s = time.perf_counter() - t_start

    def check(self) -> None:
        model = [r for w in self.waves for r in w.rows]
        self.attempted += 3
        if not self._silver_model_check(self.silver, model):
            self._fail("silver rows differ from the model")
        planted = sum(w.bad_rows for w in self.waves)
        counted = sum(m["bad_rows"] for m in self.batch_metrics)
        if counted != planted:
            self._fail(f"bad_rows {counted}, planted {planted}")
        # replay: a fresh checkpoint over the same landing dir re-reads
        # every file; the idempotent writer must add nothing
        n0 = len(self.batch_metrics)
        traced, self.tr.enabled = self.tr.enabled, False
        try:
            self._drain(self.landing, self.silver, self.ckpt + "_replay", None)
        finally:
            self.tr.enabled = traced
        replay = self.batch_metrics[n0:]
        for m in replay:
            m["phase"] = "replay"
        self.replay_rows = sum(m["rows_inserted"] for m in replay)
        if self.replay_rows != 0:
            self._fail(f"replay wrote {self.replay_rows} rows")

    def properties(self) -> dict:
        return {"files_per_wave": self.FILES_PER_WAVE, "start_files_per_wave": self.START_FILES,
                "max_files_per_trigger": self.MAX_FILES_PER_TRIGGER,
                **gen.wave_properties(self.waves)}

    def layers(self) -> dict[str, float]:
        return {**super().layers(), **self._pipeline_layers(),
                "pipeline.replay_rows_written": self.replay_rows, **self._store_layers(self.silver)}


# ----------------------------------------------------------- dolar_serve ----


class DolarServe(_Dolar):
    """One closed-loop client of the interval API over a silver table
    built in setup through the same streaming write path."""

    DAYS = 30
    FILES_PER_DAY = 4
    MAX_FILES_PER_TRIGGER = 150
    WARM_REQUESTS = 8

    def setup(self, rep: int) -> None:
        self._session()
        self.tr.reset(("ingest.", "pipeline."))
        root = os.path.join(self.work, f"serve{rep}")
        _rm(root)
        landing = os.path.join(root, "landing")
        self.silver = os.path.join(root, "silver")
        self.waves = [gen.dolar_wave(self.seed, d, self.FILES_PER_DAY) for d in range(self.DAYS)]
        for w in self.waves:
            gen.land(w, landing)
        self.batch_metrics.clear()
        self.progress.clear()
        self._drain(landing, self.silver, os.path.join(root, "ckpt"), self.MAX_FILES_PER_TRIGGER)
        self.model_s = np.sort(np.array([s for w in self.waves for _, s, _ in w.rows], dtype=np.int64))
        self.requests = gen.serve_requests(self.seed, 5_000, self.DAYS)
        self.next_req = 0
        for _ in range(self.WARM_REQUESTS):
            self._request(self._next(), timed=False)
        if rep > 0:
            _rm(os.path.join(self.work, f"serve{rep - 1}"))

    def _next(self) -> gen.Request:
        r = self.requests[self.next_req]
        self.next_req += 1
        return r

    def _request(self, req: gen.Request, timed: bool = True) -> None:
        from parcial_bigdata_spark.operators.interval import interval, interval_count, validate_range

        tr = self.tr
        self.attempted += 1
        if not req.valid:
            try:
                validate_range(req.start, req.end)
            except ValueError:
                return
            self._fail(f"accepted invalid range {req.start}..{req.end}")
            return
        j0 = last_job_id(self.spark) if tr.enabled else 0
        t0 = time.perf_counter()
        validate_range(req.start, req.end)
        with tr.span("interval.construct"):
            table = self.spark.read.parquet(self.silver)
            rows_df = interval(table, "fechahora", "valor", req.start, req.end)
            count_df = interval_count(table, "fechahora", req.start, req.end)
        with tr.span("interval.exec"):
            rows = rows_df.collect()
            cnt = count_df.collect()[0]["cnt"]
        elapsed = time.perf_counter() - t0
        if timed:
            self.latencies_s.append(elapsed)
        if tr.enabled:
            with tr.overhead():
                tr.sample("interval.jobs_per_request", last_job_id(self.spark) - j0)
                pm = plan_metrics(rows_df)
            for k in ("scan_files", "scan_bytes", "rows_scanned"):
                tr.sample(f"interval.{k}", pm[k])
            tr.sample("interval.rows_returned", len(rows))
        lo = int(req.start.timestamp())
        hi = int(req.end.timestamp())
        want = int(np.searchsorted(self.model_s, hi, "right") - np.searchsorted(self.model_s, lo, "left"))
        ts = [r[0] for r in rows]
        if cnt != len(rows) or cnt != want or any(a > b for a, b in zip(ts, ts[1:])):
            self._fail(f"{req.width} {req.start}..{req.end}: count {cnt}, rows {len(rows)}, model {want}")

    def measure(self, seconds: float) -> None:
        t_start = time.perf_counter()
        n = 0
        while time.perf_counter() - t_start < seconds:
            self._request(self._next())
            n += 1
        self.window_s = time.perf_counter() - t_start
        self.items = n

    def check(self) -> None:
        """The per-request checks ran in the loop; here only the table the
        requests were served from is checked against the model."""
        self.attempted += 1
        if not self._silver_model_check(self.silver, [r for w in self.waves for r in w.rows]):
            self._fail("silver rows differ from the model")

    def properties(self) -> dict:
        served = self.requests[self.WARM_REQUESTS:self.next_req]
        return {"days": self.DAYS, "files_per_day": self.FILES_PER_DAY,
                "max_files_per_trigger": self.MAX_FILES_PER_TRIGGER,
                **gen.wave_properties(self.waves), **gen.request_properties(served)}

    def layers(self) -> dict[str, float]:
        return {**super().layers(), **self._pipeline_layers(), "pipeline.replay_rows_written": 0,
                **self._store_layers(self.silver), **self._interval_layers("interval.construct", "interval.exec")}


# ---------------------------------------------------------- sf_analytics ----

# One headline query per operator module: the module roll-ups of the
# per-layer table each see one query, and a full pass fits the run.
QUERIES = {
    "interval_query": "interval",
    "q1_pricing_summary": "aggregations",
    "q3_shipping_priority": "joins",
    "window_topk_per_user": "windows",
    "dedup_cross_split_contamination": "dedup",
    "knn_cosine_arrow": "similarity",
    "text_token_counts": "text",
    "sample_stratified_exact": "sampling",
    "events_funnel_steps": "analytics",
}
MODULES = sorted(set(QUERIES.values()))


class SfAnalytics(Workload):
    """Registry queries over seeded catalog tables, executed through each
    DataFrame's own ``QueryExecution`` and discarded (a noop sink)."""

    SCALE = 0.01
    CHECK_FIRST = True  # the oracle pass doubles as the warm-up pass

    def setup(self, rep: int) -> None:
        from parcial_bigdata_spark.catalog import TABLES, load_table

        self._session()
        self.sf_dir = os.path.join(self.work, f"sf{rep}")
        _rm(self.sf_dir)
        self.table_rows = gen.write_sf_tables(self.seed, self.sf_dir, self.SCALE)
        with self.tr.span("catalog.load_table"):
            for name in TABLES:
                load_table(self.spark, self.sf_dir, name)
        if rep > 0:
            _rm(os.path.join(self.work, f"sf{rep - 1}"))

    def check(self) -> None:
        """Each query once against its DuckDB oracle twin (every query in
        ``QUERIES`` has one), with the canonicalisation of
        ``tools/check_correctness.py``.  An empty oracle answer counts as a
        failure: the generated tables must give every query rows.  Runs before the timed window, so
        it is also the warm-up pass."""
        import duckdb

        from parcial_bigdata_spark.catalog import TABLES
        from parcial_bigdata_spark.plans.registry import ORACLES
        from parcial_bigdata_spark.plans.registry import QUERIES as REGISTRY
        from tools.check_correctness import _canon

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in QUERIES:
                self.attempted += 1
                try:
                    got = REGISTRY[name](self.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                    self._fail(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                want = con.execute(ORACLES[name]).df()
                got.columns = [c.lower() for c in got.columns]
                want.columns = [c.lower() for c in want.columns]
                if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                    self._fail(f"{name}: shape {sorted(got.columns)}x{len(got)} vs {sorted(want.columns)}x{len(want)}")
                elif not len(want):
                    self._fail(f"{name}: the oracle returns no rows, so nothing is checked")
                elif not _canon(got).equals(_canon(want)):
                    self._fail(f"{name}: values differ from the oracle")
        finally:
            con.close()

    def _run(self, name: str) -> None:
        from parcial_bigdata_spark.plans.registry import QUERIES as REGISTRY

        tr = self.tr
        j0 = last_job_id(self.spark) if tr.enabled else 0
        t0 = time.perf_counter()
        with tr.span(f"query.{name}.construct"):
            df = REGISTRY[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with tr.span(f"query.{name}.exec"):
            n_rows = df._jdf.queryExecution().toRdd().count()
        t2 = time.perf_counter()
        self.latencies_s.append(t2 - t0)
        if tr.enabled:
            with tr.overhead():
                tr.sample("analytics.jobs", last_job_id(self.spark) - j0)
                pm = plan_metrics(df)
            tr.sample("analytics.shuffle_bytes", pm["shuffle_bytes"])
            tr.sample("analytics.spill_bytes", pm["spill_bytes"])
            if QUERIES[name] == "interval":
                tr.sample("interval.jobs_per_request", tr.samples["analytics.jobs"][-1])
                for k in ("scan_files", "scan_bytes", "rows_scanned"):
                    tr.sample(f"interval.{k}", pm[k])
                tr.sample("interval.rows_returned", n_rows)

    def measure(self, seconds: float) -> None:
        t_start = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - t_start < seconds:
            for name in QUERIES:
                self.attempted += 1
                try:
                    self._run(name)
                except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                    self._fail(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                self.items += 1
            passes += 1
        self.window_s = time.perf_counter() - t_start
        self.passes = passes

    def properties(self) -> dict:
        return {"scale": self.SCALE, "table_rows": self.table_rows, "queries": list(QUERIES),
                "passes": self.passes}

    def layers(self) -> dict[str, float]:
        tr = self.tr
        out = {**super().layers(), "catalog.load_table_s": median(tr.durations("catalog.load_table")),
               **self._interval_layers("query.interval_query.construct", "query.interval_query.exec")}
        per_module = dict.fromkeys(MODULES, 0.0)
        for name, module in QUERIES.items():
            c = median(tr.durations(f"query.{name}.construct"))
            e = median(tr.durations(f"query.{name}.exec"))
            out[f"query.{name}.construct_s"] = c
            out[f"query.{name}.exec_s"] = e
            per_module[module] += c + e
        for module, s in per_module.items():
            out[f"operators.{module}_s"] = s
        # per pass: sums over one pass of every query
        passes = max(self.passes, 1)
        for k in ("analytics.jobs", "analytics.shuffle_bytes", "analytics.spill_bytes"):
            out[k] = sum(tr.samples.get(k, [])) / passes
        return out


WORKLOADS = {
    "dolar_ingest": DolarIngest,
    "dolar_serve": DolarServe,
    "sf_analytics": SfAnalytics,
}
