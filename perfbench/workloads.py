"""Seeded inputs, store set-up, request mix and oracle for each workload.

Both workloads serve the same closed-loop request mix against the same
generated series; they differ in the store state the engine plans
against, which puts every read on the two sides of its routing choice:

- ``dashboard``: the history is compacted by ``MaintenanceRunner`` with
  a 10-minute ``stats_sink`` rollup attached, so ``stats`` is served as
  rollup prefix + raw open-slice tail; the agents' POSTs write counters,
  so the gauge segments every read scans never change and the plans
  stay cached.
- ``ingest``: the same history sits uncompacted in L0 segments with no
  rollup (maintenance has not caught up), so every read is a raw
  last-write-wins scan over a gauge segment list that each POST grows.

The program sees only the generated points, bodies and definitions.
The :class:`Oracle` keeps the expected store contents in numpy arrays
and checks every response against them.
"""

from __future__ import annotations

import hashlib
import io
import json
import math
import os
import time
from urllib.parse import quote

import numpy as np

TENANT = "bench"
BASE = "/hawkular/metrics"
SLICE_MS = 7_200_000
STEP_MS = 15_000
T0 = 1_699_999_200_000  # a slice boundary
HISTORY_SLICES = 4  # 8 h: exactly covers the now-8h..now read window
T1 = T0 + HISTORY_SLICES * SLICE_MS  # start of the open slice
N_SERIES = 100
N_DEFS = 10_000
HIST_CELLS = HISTORY_SLICES * SLICE_MS // STEP_MS
OPEN_CELLS = 80  # open-slice cells the mix writes: [T1, T1 + 20 min)
SETUP_BODIES = 6  # hot L0 segments POSTed during set-up
BODY_CELLS = 10  # 100 series x 10 points = 1000-point bodies
NOW = T1 + OPEN_CELLS * STEP_MS  # aligned to the 10-minute rollup window
WINDOW_MS = 8 * 3_600_000
ROLLUP_MS = 600_000
INGEST_L0_SEGMENTS = 4  # history segments left uncompacted by `ingest`
ROLES = ("web", "db", "cache", "queue", "api", "batch", "edge")
OPS = ("stats", "stats_pct", "raw", "tagq", "post")
WORKLOADS = ("dashboard", "ingest")
#: one round of the mix per workload: the dashboard client reads, with
#: one POST per round; the ingest agents mostly write -- four POSTs per
#: ``stats`` read, so every fifth request of the write/``stats`` stream
#: is a read -- and each round also carries one of each other read, so
#: every op type is sampled on both workloads
ROUNDS = {
    "dashboard": ("stats", "stats_pct", "raw", "tagq", "post"),
    "ingest": ("post", "post", "post", "post", "stats", "stats_pct", "raw", "tagq"),
}


def series_id(i: int) -> str:
    return f"g{i:03d}"


class Inputs:
    """Everything the run feeds the program, drawn from ``seed``."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0])
        # values are multiples of 0.25, so every sum the engine and the
        # oracle form is exact in binary floating point
        self.history = rng.integers(0, 400, (N_SERIES, HIST_CELLS)) / 4.0
        self.setup_open = rng.integers(0, 400, (N_SERIES, SETUP_BODIES * BODY_CELLS)) / 4.0
        self.def_dc = rng.integers(0, 4, N_DEFS)
        self.def_role = rng.integers(0, len(ROLES), N_DEFS)
        self.def_host = rng.integers(0, 100_000, N_DEFS)

    def definitions(self) -> list[tuple[str, dict]]:
        ids = [series_id(i) for i in range(N_SERIES)]
        ids += [f"d{i:05d}" for i in range(N_SERIES, N_DEFS)]
        return [
            (mid, {"dc": f"dc{self.def_dc[i]}", "role": ROLES[self.def_role[i]],
                   "host": f"h{self.def_host[i]:05d}"})
            for i, mid in enumerate(ids)
        ]

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.history, self.setup_open, self.def_dc, self.def_role,
                  self.def_host):
            h.update(np.ascontiguousarray(a).tobytes())
        return h.hexdigest()[:16]


def history_table(inputs: Inputs, cells: slice):
    """pyarrow table of the history points in the given cell range."""
    import pyarrow as pa

    idx = np.arange(HIST_CELLS)[cells]
    ts = np.tile(T0 + idx.astype(np.int64) * STEP_MS, N_SERIES)
    metric = np.repeat([series_id(i) for i in range(N_SERIES)], len(idx))
    return pa.table({
        "tenant_id": pa.array([TENANT] * len(ts)),
        "metric": pa.array(metric),
        "ts": pa.array(ts),
        "value": pa.array(inputs.history[:, cells].ravel()),
    })


def body(cells: range, values: np.ndarray) -> list[dict]:
    """A 1000-point multi-metric ingest body (POST /{type}s/raw)."""
    return [
        {"id": series_id(s), "data": [
            {"timestamp": int(T1 + c * STEP_MS), "value": values[s, j].item()}
            for j, c in enumerate(cells)
        ]}
        for s in range(N_SERIES)
    ]


class Client:
    """In-process WSGI client: one request at a time (closed loop)."""

    def __init__(self, app):
        self.app = app

    def __call__(self, method: str, path: str, body=None):
        payload = b"" if body is None else json.dumps(body).encode()
        path, _, query = path.partition("?")
        environ = {
            "REQUEST_METHOD": method, "PATH_INFO": BASE + path,
            "QUERY_STRING": query, "CONTENT_TYPE": "application/json",
            "CONTENT_LENGTH": str(len(payload)),
            "wsgi.input": io.BytesIO(payload),
            "HTTP_HAWKULAR_TENANT": TENANT,
        }
        status = {}

        def start_response(line, headers):
            status["code"] = int(line.split()[0])

        raw = b"".join(self.app(environ, start_response))
        return status["code"], (json.loads(raw) if raw else None)


def close_slices(runner, first: int, last: int) -> list[tuple[float, int]]:
    """One ``run_once`` per slice close, as a scheduler would run them:
    pass ``k`` closes slice ``k - 1``.  Returns (seconds, slices
    compacted) per pass."""
    passes = []
    for k in range(first, last + 1):
        t = time.perf_counter()
        report = runner.run_once(T0 + k * SLICE_MS + runner.compaction_grace_ms)
        passes.append((time.perf_counter() - t,
                       sum(map(len, report["compacted"].values()))))
    return passes


def setup_store(spark, svc, runner, client, inputs: Inputs, workload: str,
                work: str) -> tuple[dict, list]:
    """Bring the store to the workload's starting state; returns the
    seconds each set-up phase took and the maintenance passes run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    took = {}
    t = time.perf_counter()
    os.makedirs(os.path.join(work, "in"), exist_ok=True)
    if workload == "dashboard":
        parts = [slice(0, HIST_CELLS)]
    else:
        per = HIST_CELLS // INGEST_L0_SEGMENTS
        parts = [slice(k * per, (k + 1) * per) for k in range(INGEST_L0_SEGMENTS)]
    for k, cells in enumerate(parts):
        path = os.path.join(work, "in", f"history-{k}.parquet")
        pq.write_table(history_table(inputs, cells), path)
        df = spark.read.parquet(path).selectExpr(
            "tenant_id", "metric", "ts", "value",
            "CAST(NULL AS map<string,string>) AS tags",
        )
        svc.add_data_points("gauge", df)
    took["history"], t = time.perf_counter() - t, time.perf_counter()
    passes = close_slices(runner, 1, HISTORY_SLICES) if workload == "dashboard" else []
    took["maintenance"], t = time.perf_counter() - t, time.perf_counter()
    for k in range(SETUP_BODIES):
        cells = range(k * BODY_CELLS, (k + 1) * BODY_CELLS)
        code, _ = client("POST", "/gauges/raw",
                         body(cells, inputs.setup_open[:, cells.start:cells.stop]))
        if code != 200:
            raise RuntimeError(f"set-up POST failed with status {code}")
    took["posts"], t = time.perf_counter() - t, time.perf_counter()
    defs = inputs.definitions()
    path = os.path.join(work, "in", "definitions.parquet")
    pq.write_table(pa.table({
        "tenant_id": [TENANT] * len(defs), "type": ["gauge"] * len(defs),
        "metric": [mid for mid, _ in defs],
        "tags": pa.array([list(tags.items()) for _, tags in defs],
                         pa.map_(pa.string(), pa.string())),
        "data_retention": pa.nulls(len(defs), pa.int64()),
    }), path)
    svc.store.upsert_metric_definitions(spark.read.parquet(path))
    took["definitions"] = time.perf_counter() - t
    return took, passes


class Oracle:
    """Expected store contents, updated as the mix POSTs."""

    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        self.hist_ts = T0 + np.arange(HIST_CELLS, dtype=np.int64) * STEP_MS
        self.open_ts = T1 + np.arange(OPEN_CELLS, dtype=np.int64) * STEP_MS
        self.open_val = np.zeros((N_SERIES, OPEN_CELLS))
        self.open_set = np.zeros((N_SERIES, OPEN_CELLS), dtype=bool)
        n = SETUP_BODIES * BODY_CELLS
        self.open_val[:, :n] = inputs.setup_open
        self.open_set[:, :n] = True
        # counter cells written so far (the reads never touch counters)
        self.counter_set = np.zeros((N_SERIES, OPEN_CELLS), dtype=bool)
        self.defs = inputs.definitions()

    def post(self, metric_type: str, cells: range, values: np.ndarray) -> None:
        if metric_type == "counter":
            self.counter_set[:, cells.start:cells.stop] = True
            return
        self.open_val[:, cells.start:cells.stop] = values
        self.open_set[:, cells.start:cells.stop] = True

    def points(self, s: int, start: int, end: int):
        h = (self.hist_ts >= start) & (self.hist_ts < end)
        o = self.open_set[s] & (self.open_ts >= start) & (self.open_ts < end)
        ts = np.concatenate([self.hist_ts[h], self.open_ts[o]])
        vals = np.concatenate([self.inputs.history[s, h], self.open_val[s, o]])
        return ts, vals

    def n_points(self, metric_type: str) -> int:
        if metric_type == "counter":
            return int(self.counter_set.sum())
        return N_SERIES * HIST_CELLS + int(self.open_set.sum())

    def check_buckets(self, resp, s: int, start: int, end: int, step: int,
                      routed: bool) -> bool:
        if not isinstance(resp, list) or len(resp) != (end - start) // step:
            return False
        ts, vals = self.points(s, start, end)
        for k, b in enumerate(resp):
            lo = start + k * step
            v = vals[(ts >= lo) & (ts < lo + step)]
            if b.get("start") != lo or b.get("end") != lo + step:
                return False
            if len(v) == 0:
                if not b.get("empty"):
                    return False
                continue
            if b.get("samples") != len(v):
                return False
            if b["min"] != v.min() or b["max"] != v.max() or b["sum"] != v.sum():
                return False
            if not math.isclose(b["avg"], v.sum() / len(v), rel_tol=1e-9):
                return False
            if (b.get("median") is None) != routed:
                return False
            for p in b.get("percentiles") or []:
                if not v.min() <= p["value"] <= v.max():
                    return False
        return True

    def check_raw(self, resp, s: int, start: int, end: int) -> bool:
        ts, vals = self.points(s, start, end)
        order = np.argsort(ts)
        want = [{"timestamp": int(t), "value": float(v)}
                for t, v in zip(ts[order], vals[order])]
        return resp == want

    def tag_ids(self, dc: int, role: str, a: int, b: int) -> list[str]:
        import re

        pat = re.compile(f"h{a}.*{b}")
        return sorted(
            mid for mid, tags in self.defs
            if tags["dc"] == f"dc{dc}" and tags["role"] == role
            and pat.fullmatch(tags["host"])
        )


class Mix:
    """The request sequence: rounds of the workload's ops in one fixed order.

    Interleaving spreads host slowdowns over every type alike.  The
    order is the same for every seed because a request's latency depends
    on its predecessor (the first read after a POST re-plans the changed
    segment list; the served views are re-bound between request shapes),
    so a seeded order would shift each type's latency mix from seed to
    seed.  The seed draws each request's parameters (series, cells,
    values, tag filters)."""

    def __init__(self, seed: int, oracle: Oracle, workload: str):
        self.rng = np.random.default_rng([seed, 1])
        self.oracle = oracle
        self.routed = workload == "dashboard"
        # dashboard agents report counters, so the gauge segments the
        # reads scan stay fixed; ingest agents write the gauges it reads
        self.post_type = "counter" if workload == "dashboard" else "gauge"
        self.points_posted = 0
        self.round = ROUNDS[workload]

    def rounds(self):
        while True:
            yield from self.round

    def request(self, op: str):
        """(method, path, body, check, commit) for the next ``op``.
        ``check(status, body)`` says whether the response is correct;
        ``commit()`` records an acknowledged write in the oracle."""
        rng, o = self.rng, self.oracle
        start = NOW - WINDOW_MS
        if op in ("stats", "stats_pct"):
            s = int(rng.integers(N_SERIES))
            pct = "&percentiles=90,95,99" if op == "stats_pct" else ""
            path = (f"/gauges/{series_id(s)}/stats?start={start}&end={NOW}"
                    f"&bucketDuration=10mn{pct}")
            routed = self.routed if op == "stats" else False
            return "GET", path, None, lambda c, b: c == 200 and o.check_buckets(
                b, s, start, NOW, ROLLUP_MS, routed), None
        if op == "raw":
            s = int(rng.integers(N_SERIES))
            lo = NOW - 3_600_000
            return "GET", f"/gauges/{series_id(s)}/raw?start={lo}&end={NOW}", \
                None, lambda c, b: c == 200 and o.check_raw(b, s, lo, NOW), None
        if op == "tagq":
            dc, role = int(rng.integers(4)), ROLES[int(rng.integers(len(ROLES)))]
            a, b_ = int(rng.integers(10)), int(rng.integers(10))
            expr = f"dc = 'dc{dc}' AND role = '{role}' AND host ~ 'h{a}.*{b_}'"
            want = o.tag_ids(dc, role, a, b_)

            def check(c, b):
                got = sorted(d["id"] for d in b) if c == 200 else []
                return c in (200, 204) and (c == 204) == (not want) and got == want
            return "GET", f"/gauges?tags={quote(expr)}", None, check, None
        if op == "post":
            c0 = int(rng.integers(OPEN_CELLS - BODY_CELLS + 1))
            cells = range(c0, c0 + BODY_CELLS)
            values = rng.integers(0, 400, (N_SERIES, BODY_CELLS))
            if self.post_type == "gauge":
                values = values / 4.0

            def commit():
                o.post(self.post_type, cells, values)
                self.points_posted += N_SERIES * BODY_CELLS
            return "POST", f"/{self.post_type}s/raw", body(cells, values), \
                lambda c, b: c == 200, commit
        raise ValueError(op)
