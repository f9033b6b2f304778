"""The analyst mix run through ``Engine.sql`` over the persisted ``hpi_*``
tables (the H2-console analog), and each query's expected result computed
in Python from the traffic model's expected tables."""

from __future__ import annotations

import math
from collections import defaultdict

QUERIES = {
    "latency_by_method": """
        SELECT q.method, count(*) AS n, sum(r.elapsed) AS total_ms,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY r.elapsed) AS p50_ms,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY r.elapsed) AS p95_ms
        FROM hpi_requests q JOIN hpi_responses r
          ON q.client = r.client AND q.port = r.port AND q.call_id = r.call_id
        WHERE r.elapsed IS NOT NULL
        GROUP BY q.method""",
    "slow_calls_topn": """
        SELECT client, port, call_id, method, elapsed FROM hpi_responses
        WHERE elapsed IS NOT NULL
        ORDER BY elapsed DESC, client, port, call_id, ts LIMIT 20""",
    "hot_regions": """
        SELECT `table`, region, count(*) AS n, sum(cells) AS cells
        FROM hpi_requests WHERE region IS NOT NULL
        GROUP BY `table`, region ORDER BY n DESC, `table`, region LIMIT 10""",
    "errors_by_method": """
        SELECT method, error, count(*) AS n FROM hpi_responses
        WHERE error IS NOT NULL GROUP BY method, error""",
    "client_rate_per_sec": """
        SELECT client, sum(n) AS requests, count(*) AS seconds, max(n) AS peak
        FROM (SELECT client, unix_seconds(ts) AS sec, count(*) AS n
              FROM hpi_requests GROUP BY client, unix_seconds(ts))
        GROUP BY client""",
    "batch_size_hist": """
        SELECT batch, count(*) AS n FROM hpi_requests
        WHERE batch > 0 GROUP BY batch""",
    "multi_children": """
        SELECT a.method, count(*) AS n, sum(r.cells) AS cells,
               count(r.error) AS errors
        FROM hpi_actions a JOIN hpi_results r
          ON a.client = r.client AND a.port = r.port AND a.call_id = r.call_id
         AND a.row = r.row
        GROUP BY a.method""",
    "scanner_tables": """
        SELECT `table`, count(*) AS n, sum(cells) AS cells FROM hpi_responses
        WHERE method = 'next-rows' GROUP BY `table`""",
}
ORDERED = {"slow_calls_topn", "hot_regions"}


def _pct_disc(values: list[int], p: float) -> float:
    v = sorted(values)
    return float(v[max(math.ceil(p * len(v)) - 1, 0)])


def _nsum(values):
    vals = [v for v in values if v is not None]
    return sum(vals) if vals else None


def expected(tables: dict[str, list[dict]]) -> dict[str, list[tuple]]:
    req, resp = tables["requests"], tables["responses"]
    key = lambda r: (r["client"], r["port"], r["call_id"])  # noqa: E731
    by_key = defaultdict(list)
    for q in req:
        by_key[key(q)].append(q)
    lat = defaultdict(list)
    for r in resp:
        if r["elapsed"] is not None:
            for q in by_key[key(r)]:
                lat[q["method"]].append(r["elapsed"])
    out = {"latency_by_method": [
        (m, len(v), sum(v), _pct_disc(v, 0.5), _pct_disc(v, 0.95))
        for m, v in lat.items()]}

    slow = sorted((r for r in resp if r["elapsed"] is not None),
                  key=lambda r: (-r["elapsed"], r["client"], r["port"],
                                 r["call_id"], r["ts_ms"]))
    out["slow_calls_topn"] = [(r["client"], r["port"], r["call_id"], r["method"],
                               r["elapsed"]) for r in slow[:20]]

    regions = defaultdict(list)
    for q in req:
        if q["region"] is not None:
            regions[(q["table"], q["region"])].append(q["cells"])
    hot = sorted(regions.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:10]
    out["hot_regions"] = [(t, rg, len(c), _nsum(c)) for (t, rg), c in hot]

    errs = defaultdict(int)
    for r in resp:
        if r["error"] is not None:
            errs[(r["method"], r["error"])] += 1
    out["errors_by_method"] = [(m, e, n) for (m, e), n in errs.items()]

    per_sec = defaultdict(int)
    for q in req:
        per_sec[(q["client"], q["ts_ms"] // 1000)] += 1
    clients = defaultdict(list)
    for (c, _s), n in per_sec.items():
        clients[c].append(n)
    out["client_rate_per_sec"] = [(c, sum(v), len(v), max(v)) for c, v in clients.items()]

    batches = defaultdict(int)
    for q in req:
        if q["batch"] > 0:
            batches[q["batch"]] += 1
    out["batch_size_hist"] = list(batches.items())

    res_by = defaultdict(list)
    for r in tables["results"]:
        res_by[(r["client"], r["port"], r["call_id"], r["row"])].append(r)
    kids = defaultdict(list)
    for a in tables["actions"]:
        if a["row"] is None:
            continue
        for r in res_by[(a["client"], a["port"], a["call_id"], a["row"])]:
            kids[a["method"]].append(r)
    out["multi_children"] = [
        (m, len(rs), _nsum(r["cells"] for r in rs),
         sum(1 for r in rs if r["error"] is not None))
        for m, rs in kids.items()]

    scans = defaultdict(list)
    for r in resp:
        if r["method"] == "next-rows":
            scans[r["table"]].append(r["cells"])
    out["scanner_tables"] = [(t, len(c), _nsum(c)) for t, c in scans.items()]
    return out


def _norm(row) -> tuple:
    return tuple(float(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
                 else v for v in row)


def same(name: str, got: list, want: list) -> bool:
    got = [_norm(r) for r in got]
    want = [_norm(r) for r in want]
    if name in ORDERED:
        return got == want
    return sorted(got, key=repr) == sorted(want, key=repr)
