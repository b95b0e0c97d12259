"""Seeded load generator, kept apart from the system under test.

Everything here is a pure function of the seed: the engine only ever
sees the files and requests these functions produce, and the expected
answers (the "model") come from the same generator, never from the
engine.

* ``dolar_wave`` — one arrival wave of bronze ``dolar-<epoch>.json``
  files (plus planted bad rows, non-list payloads and non-matching
  names) and the silver rows the wave must produce.
* ``serve_requests`` — interval API requests of mixed width, a share of
  them invalid (``end <= start``).
* ``write_sf_tables`` — small TPC-H-shaped star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables, with the column
  names and types of the engine's catalog fixtures.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

EPOCH0 = 1_735_689_600  # 2025-01-01T00:00:00Z: first day of the dolar series
DAY_S = 86_400

# ---------------------------------------------------------------- dolar ----

BAD_SHARE = 0.02
# (kind, pair): every variant the ingest path must drop and count
_BAD_PAIRS = (
    ("ts_not_a_number", lambda ms, v: ["not-a-number", v]),
    ("short_tuple", lambda ms, v: [str(ms)]),
    ("value_not_a_number", lambda ms, v: [str(ms), "x"]),
    ("value_out_of_range", lambda ms, v: [str(ms), "1e12"]),  # > DECIMAL(12,4)
    ("long_tuple", lambda ms, v: [str(ms), v, "extra"]),
)
_NON_LIST_PAYLOADS = ('{"error": "rate limited"}', '"maintenance"', "42")
_NON_MATCHING_NAMES = ("otro.txt", "dolar-{e}.csv", "README-{e}.md")


@dataclass
class Wave:
    """One arrival wave: ``files`` is ``[(name, bytes)]`` in landing order;
    ``rows`` is the model of the silver rows the wave must add, as
    ``(file_name, epoch_seconds, valor_str)``."""

    index: int
    files: list[tuple[str, bytes]] = field(default_factory=list)
    rows: list[tuple[str, int, str]] = field(default_factory=list)
    bad_rows: int = 0
    dolar_files: int = 0
    non_list_files: int = 0
    non_matching_files: int = 0


def dolar_wave(
    seed: int,
    index: int,
    files: int,
    rows_per_file: tuple[int, int] = (40, 56),
    day: int | None = None,
) -> Wave:
    """Wave ``index`` of the arrival stream for ``seed``.

    The wave is one trading day (``day``, default ``index``): ``files``
    bronze documents, each holding tens of ``[epoch_ms, value]`` pairs
    of that day.  Values carry at most four decimals, so the model's
    ``DECIMAL(12,4)`` string is exact.  About ``BAD_SHARE`` of the rows
    are malformed; one wave in three also lands one non-list payload
    named like a dolar file and one file whose name the glob skips.
    """
    rng = np.random.default_rng([seed, index])
    day = index if day is None else day
    day0 = EPOCH0 + day * DAY_S
    w = Wave(index=index)
    # distinct fetch epochs inside the day: file names never collide
    fetch = day0 + np.sort(rng.choice(DAY_S - 1, size=files, replace=False))
    for epoch in fetch:
        name = f"dolar-{int(epoch)}.json"
        n = int(rng.integers(rows_per_file[0], rows_per_file[1] + 1))
        ms = day0 * 1000 + rng.integers(0, DAY_S * 1000, size=n)
        cents = rng.integers(3_500_0000, 4_500_0000, size=n)  # 4 decimals
        bad = rng.random(n) < BAD_SHARE
        kinds = rng.integers(0, len(_BAD_PAIRS), size=n)
        as_number = rng.random(n) < 0.1  # upstream sometimes sends bare numbers
        payload = []
        for i in range(n):
            v = str(Decimal(int(cents[i])).scaleb(-4))
            if bad[i]:
                payload.append(_BAD_PAIRS[kinds[i]][1](int(ms[i]), v))
                w.bad_rows += 1
                continue
            if as_number[i]:
                payload.append([int(ms[i]), float(v)])
            else:
                payload.append([str(ms[i]), v])
            w.rows.append((name, int(ms[i]) // 1000, v))
        w.files.append((name, json.dumps(payload, separators=(",", ":")).encode()))
        w.dolar_files += 1
    if index % 3 == 0:
        epoch = int(day0 + DAY_S - 1)
        w.files.append((f"dolar-{epoch}.json", _NON_LIST_PAYLOADS[(index // 3) % 3].encode()))
        w.non_list_files += 1
        w.dolar_files += 1
        w.files.append((_NON_MATCHING_NAMES[(index // 3) % 3].format(e=epoch), b"[]"))
        w.non_matching_files += 1
    # model strings use DECIMAL(12,4) rendering
    w.rows = [(f, s, str(Decimal(v).quantize(Decimal("0.0001")))) for f, s, v in w.rows]
    return w


def land(wave: Wave, landing_dir: str) -> None:
    """Write a wave's files into the landing dir, each via a hidden temp
    name and a rename, so the file source never lists a half-written
    document (the rename is what an object store's PUT guarantees)."""
    os.makedirs(landing_dir, exist_ok=True)
    for name, data in wave.files:
        tmp = os.path.join(landing_dir, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(landing_dir, name))


def wave_properties(waves: list[Wave]) -> dict:
    good = sum(len(w.rows) for w in waves)
    bad = sum(w.bad_rows for w in waves)
    return {
        "waves": len(waves),
        "files": sum(len(w.files) for w in waves),
        "dolar_files": sum(w.dolar_files for w in waves),
        "rows": good + bad,
        "good_rows": good,
        "bad_rows": bad,
        "bad_row_share": round(bad / max(good + bad, 1), 5),
        "non_list_files": sum(w.non_list_files for w in waves),
        "non_matching_files": sum(w.non_matching_files for w in waves),
    }


# ---------------------------------------------------------------- serve ----

WIDTHS = (("hour", 3_600, 0.30), ("day", DAY_S, 0.35), ("week", 7 * DAY_S, 0.25), ("month", 30 * DAY_S, 0.10))
INVALID_SHARE = 0.05


@dataclass
class Request:
    width: str  # hour / day / week / month / invalid
    start: dt.datetime
    end: dt.datetime

    @property
    def valid(self) -> bool:
        return self.end > self.start


def _utc(epoch_s: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)


def serve_requests(seed: int, n: int, span_days: int) -> list[Request]:
    """``n`` requests over ``span_days`` days of series; start points are
    whole seconds, so the closed-interval model count is exact."""
    rng = np.random.default_rng([seed, 1_000_003])
    names = [w[0] for w in WIDTHS]
    probs = np.array([w[2] for w in WIDTHS])
    span = span_days * DAY_S
    out = []
    for _ in range(n):
        if rng.random() < INVALID_SHARE:
            s = EPOCH0 + int(rng.integers(0, span))
            e = s - int(rng.integers(0, 2 * DAY_S))  # end <= start
            out.append(Request("invalid", _utc(s), _utc(e)))
            continue
        k = int(rng.choice(len(WIDTHS), p=probs / probs.sum()))
        width = WIDTHS[k][1]
        s = EPOCH0 + int(rng.integers(0, max(span - width, 1)))
        out.append(Request(names[k], _utc(s), _utc(s + width)))
    return out


def request_properties(reqs: list[Request]) -> dict:
    mix: dict[str, int] = {}
    for r in reqs:
        mix[r.width] = mix.get(r.width, 0) + 1
    return {"requests": len(reqs), "width_mix": dict(sorted(mix.items()))}


# ------------------------------------------------------------- sf tables ----

_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_SOURCES = 20  # document ``source`` is ``src{doc_id % 20}``, as in the fixtures
_LANGS = (("en", 0.4), ("fr", 0.15), ("zh", 0.15), ("de", 0.15), ("es", 0.15))


def _ts_us(days_from: dt.date, n_days: int, rng, size: int, with_time: bool) -> np.ndarray:
    base = np.datetime64(days_from.isoformat(), "us")
    day = rng.integers(0, n_days, size=size).astype("timedelta64[D]").astype("timedelta64[us]")
    t = base + day
    if with_time:
        t = t + rng.integers(0, DAY_S * 1_000_000, size=size).astype("timedelta64[us]")
    return t


def write_sf_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict:
    """Write the ten catalog tables as ``{out_dir}/{name}.parquet`` and
    return their row counts.  Shapes follow the catalog fixtures: keys
    from 0, money rounded to cents, dates as TIMESTAMP(MICROS), texts
    over the fixtures' 30-word vocabulary with ~5% planted copies,
    64-d float embeddings with ten labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_events, n_users = int(1_000_000 * scale), 150
    n_docs, n_vecs = 500, 500
    os.makedirs(out_dir, exist_ok=True)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
    }
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "big"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "nut"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts_us(dt.date(1995, 1, 1), 2400, rng, n_ord, False),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(dt.date(1995, 1, 2), 2496, rng, n_line, False),
    })
    ev_ts = np.sort(_ts_us(dt.date(2024, 1, 1), 30, rng, n_events, True))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))) for _ in range(n_docs)]
    # ~5% of the second half copies a first-half document: every other
    # one exactly, from another source, so cross-split contamination has
    # rows to find; the rest as `` dup`` near-copies
    half = n_docs // 2
    for k, d in enumerate(rng.choice(np.arange(half, n_docs), n_docs // 20, replace=False)):
        src = int(rng.integers(0, half))
        if k % 2:
            texts[d] = texts[src] + " dup"
        else:
            texts[d] = texts[src if (src - d) % _SOURCES else (src + 1) % half]
    lang_p = np.array([p for _, p in _LANGS])
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array([lg for lg, _ in _LANGS])[rng.choice(5, n_docs, p=lang_p)],
        "source": np.char.add("src", (np.arange(n_docs) % _SOURCES).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
