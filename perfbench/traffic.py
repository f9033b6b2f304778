"""Seeded HBase RegionServer traffic model and its expected HPI tables.

One model feeds all three HPI workloads: it is encoded as a classic-pcap
capture for ``pcap_ingest`` (``capture_bytes``) and as ``rpc_events``
parquet files for ``stream_replay``/``table_sql`` (``write_event_files``).
``expected_tables`` derives the four public tables straight from the
model, following the HPI semantics stated in ROADMAP.md ("Invariants")
and FIXTURES.md §2, so the output checks never consult the program's own
decoder or pipeline.

Shape of the traffic (all drawn from ``random.Random(seed)``):

- methods: get, mutate (put/delete/increment/append, their check-and-
  forms, every durability), multi (1-action singletons, per-action
  exceptions, checked batches answered with one result fewer), scanner
  sessions (open, next x k, close), small-scan and bulk-load;
- exceptions in response headers;
- TCP segments cut at the MSS, and Nagle coalescing of pipelined calls;
- call-id reuse (the hot connection cycles 24 ids);
- responses with no request, requests never answered;
- one request/response pair 121 s apart (state TTL is 120 s);
- planted faults, each alone in its segment so the expected counts are
  exact: a bad length prefix (framing reset) and a non-alphabetic method
  name (undecodable frame);
- packets on ports HPI does not monitor, UDP datagrams, pure ACKs;
- many short connections plus one long-lived connection carrying a large
  share of the bytes.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

from . import wire

T0_MS = 1_700_000_000_000
TTL_MS = 120_000
MSS = 1460
SERVERS = [("10.1.0.1", 16020), ("10.1.0.2", 16020), ("10.1.0.3", 16020),
           ("10.1.0.4", 60020)]
TABLES = ["usertable", "TestTable", "metrics", "t"]
ERRORS = ["org.apache.hadoop.hbase.NotServingRegionException",
          "org.apache.hadoop.hbase.RegionTooBusyException",
          "org.apache.hadoop.hbase.exceptions.FailedSanityCheckException"]
DURABILITY_NAMES = list(wire.DURABILITIES)

REQUEST_COLUMNS = ["ts", "client", "port", "call_id", "server", "method",
                   "size", "batch", "table", "region", "row", "stoprow",
                   "cells", "durability"]
RESPONSE_COLUMNS = REQUEST_COLUMNS + ["error", "elapsed"]


@dataclass
class Call:
    """One RPC: the decoded request event and, when answered, the decoded
    response event (the dicts hold exactly the fields a decoder extracts)."""
    req: dict
    resp: dict | None = None
    scanner_state: tuple | None = None  # (table, region) of the open session


@dataclass
class Conn:
    client: str
    port: int
    server: str
    server_port: int
    flights: list = field(default_factory=list)  # (ts_ms, inbound, bytes)
    frames: list = field(default_factory=list)   # (ts_ms, inbound, order, event|None)


@dataclass
class Capture:
    calls: list
    unknown: list          # response events with no request
    conns: list
    noise_packets: list    # (ts_us, link frame, is TCP payload): traffic HPI ignores
    planted_wire_errors: int

    # -- derived views ---------------------------------------------------

    def events(self) -> list[dict]:
        """Decoded rpc_events in capture order, event_id increasing."""
        rows = []
        for conn in self.conns:
            for ts, inbound, order, ev in conn.frames:
                if ev is not None:
                    rows.append((ts, not inbound, order, ev))
        rows.sort(key=lambda r: (r[0], r[1], r[2]))
        out = []
        for eid, (_ts, _out, _o, ev) in enumerate(rows):
            out.append(dict(ev, event_id=eid))
        return out

    def layer_counts(self) -> dict:
        """What each layer must see: TCP payload packets, those on monitored
        ports (chunks), length-prefixed frames, and decodable events."""
        chunks = sum(-(-len(data) // MSS) for c in self.conns for _t, _i, data in c.flights)
        return {"packets": chunks + sum(1 for p in self.noise_packets if p[2]),
                "chunks": chunks,
                "frames": sum(len(c.frames) for c in self.conns),
                "events": sum(1 for c in self.conns for f in c.frames if f[3] is not None)}


# -- model -------------------------------------------------------------------


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        r = self.rng
        self.regions = {
            t: [
                (f"{t},{start},{1690000000000 + i}.{r.getrandbits(128):032x}.".encode(),
                 start)
                for i, start in enumerate(["", "row-25", "row-50", "row-75"])
            ]
            for t in TABLES
        }
        self.next_scanner = {s: 1000 + r.randrange(1000) for s, _ in SERVERS}
        self.calls: list[Call] = []
        self.unknown: list[dict] = []
        self.wire_errors = 0

    # call builders return (RPC method name, decoded request fields, request
    # param bytes, decoded response fields, response body bytes)
    def _region(self):
        t = self.rng.choice(TABLES)
        name, _start = self.rng.choice(self.regions[t])
        return t, name, name.split(b".")[-2].decode()

    def _row(self):
        return f"row-{self.rng.randrange(100):02d}-{self.rng.randrange(10**6):06d}"

    def get(self):
        r = self.rng
        t, rname, enc = self._region()
        row = self._row()
        quals = [[b"q%d" % j for j in range(r.randrange(0, 4))]
                 for _ in range(r.randrange(1, 3))]
        param = wire.get_request(rname, wire.get_msg(
            row.encode(), [wire.column(b"f", q) for q in quals]))
        ev = dict(method="get", table=t, region=enc, row=row,
                  cells=sum(len(q) for q in quals))
        cells = r.randrange(0, 12)
        body = wire.get_response(cells, min(cells, r.randrange(0, 3)))
        return "Get", ev, param, dict(cells=cells), body

    def mutate(self, big: bool = False):
        r = self.rng
        t, rname, enc = self._region()
        row = self._row()
        mtype = r.choice(["put", "put", "put", "delete", "increment", "append"])
        cond = r.random() < 0.15 and mtype in ("put", "delete")
        dur = r.choice(DURABILITY_NAMES)
        size = r.randrange(200, 900) if big else r.randrange(4, 64)
        qvs = [(b"q%d" % j, bytes([97 + (j % 26)]) * size)
               for j in range(r.randrange(1, 4))]
        assoc = r.randrange(0, 3) if r.random() < 0.3 else 0
        param = wire.mutate_request(
            rname, wire.mutation(row.encode(), mtype, qvs, dur, assoc),
            wire.condition(row.encode()) if cond else None)
        method = f"check-and-{mtype}" if cond else mtype
        ev = dict(method=method, table=t, region=enc, row=row,
                  cells=assoc + len(qvs), durability=dur)
        return "Mutate", ev, param, {}, wire.mutate_response()

    def multi(self, big: bool = False):
        r = self.rng
        k = 1 if r.random() < 0.15 else r.randrange(2, 24 if big else 12)
        gets = (not big) and r.random() < 0.4
        cond = (not gets) and r.random() < 0.1
        t = r.choice(TABLES)
        # actions grouped by region, RegionAction order = action order
        by_region: dict = {}
        for _ in range(k):
            name, _s = r.choice(self.regions[t])
            by_region.setdefault(name, []).append(None)
        actions, region_actions = [], []
        for rname, slots in by_region.items():
            enc = rname.split(b".")[-2].decode()
            acts = []
            for _ in slots:
                row = self._row()
                if gets:
                    acts.append(wire.action_get(wire.get_msg(row.encode(), [])))
                    actions.append(dict(method="get", table=t, region=enc,
                                        row=row, cells=None, durability=None))
                else:
                    mtype = r.choice(["put", "put", "delete"])
                    dur = r.choice(DURABILITY_NAMES)
                    size = r.randrange(100, 400) if big else r.randrange(4, 40)
                    qvs = [(b"q%d" % j, b"x" * size) for j in range(r.randrange(1, 3))]
                    acts.append(wire.action_mutation(
                        wire.mutation(row.encode(), mtype, qvs, dur)))
                    actions.append(dict(
                        method=f"check-and-{mtype}" if cond else mtype,
                        table=t, region=enc, row=row, cells=len(qvs),
                        durability=dur))
            region_actions.append((rname, acts))
        param = wire.multi_request(
            region_actions, wire.condition(b"row-00") if cond else None)
        # checked batches may be answered with fewer results than actions
        n_res = k - 1 if (cond and k > 1 and r.random() < 0.5) else k
        results = []
        for a in actions[:n_res]:
            if r.random() < 0.06:
                results.append((None, r.choice(ERRORS)))
            else:
                results.append((r.randrange(1, 6) if gets else 0, None))
        ev = dict(method="multi", table=t, actions=actions)
        resp = dict(cells=sum(c for c, _e in results if c is not None),
                    results=[dict(cells=c, error=e) for c, e in results])
        return "Multi", ev, param, resp, wire.multi_response(results)

    def bulk_load(self):
        t, rname, enc = self._region()
        return ("BulkLoadHFile", dict(method="bulk-load-hfile", table=t, region=enc),
                wire.bulk_load_request(rname), {}, wire.bulk_load_response())

    def small_scan(self):
        r = self.rng
        t, rname, enc = self._region()
        start, stop = self._row(), self._row()
        caching = r.choice([10, 20, 100])
        param = wire.scan_request(region=rname, start=start.encode(),
                                  stop=stop.encode(), caching=caching, close=True)
        ev = dict(method="small-scan", table=t, region=enc, row=start,
                  stoprow=stop, caching=caching)
        cpr = [r.randrange(1, 5) for _ in range(r.randrange(0, 6))]
        return ("Scan", ev, param, dict(cells=sum(cpr)),
                wire.scan_response(cpr, None, packed=r.random() < 0.5))

    # -- connection scheduling ------------------------------------------

    def _emit(self, conn: Conn, ts: int, inbound: bool, frames: list) -> None:
        """One flight: frames (bytes, event|None) sent back to back."""
        data = b""
        for raw, ev in frames:
            data += wire.length_prefixed(raw)
            conn.frames.append((ts, inbound, len(conn.frames), ev))
        conn.flights.append((ts, inbound, data))

    def _exchange(self, conn: Conn, t: int, specs: list, call_id_fn,
                  unanswered_p: float) -> int:
        """Pipelined calls: one request flight, then the answers, either
        coalesced into one flight or one flight each."""
        r = self.rng
        reqs, resps = [], []
        for method_name, ev, param, resp_fields, body in specs:
            cid = call_id_fn()
            req = dict(ev, call_id=cid, inbound=True, client=conn.client,
                       port=conn.port, server=conn.server)
            raw = wire.request_frame(cid, method_name, param)
            req["size"] = len(raw)
            req["ts_ms"] = t
            call = Call(req)
            self.calls.append(call)
            reqs.append((raw, req))
            if r.random() < unanswered_p:
                continue
            error = r.choice(ERRORS) if r.random() < 0.05 else None
            resp = dict(call_id=cid, inbound=False, client=conn.client,
                        port=conn.port, server=conn.server, method=req["method"])
            if error is None:
                resp.update(resp_fields)
                rraw = wire.response_frame(cid, None, body)
            else:
                resp["error"] = error
                rraw = wire.response_frame(cid, error, None)
            resp["size"] = len(rraw)
            call.resp = resp
            resps.append((rraw, resp))
        self._emit(conn, t, True, reqs)
        t += r.randrange(1, 30)
        if not resps:
            return t
        if len(resps) > 1 and r.random() < 0.5:
            for _raw, ev in resps:
                ev["ts_ms"] = t
            self._emit(conn, t, False, resps)
        else:
            for raw, ev in resps:
                ev["ts_ms"] = t
                self._emit(conn, t, False, [(raw, ev)])
                t += 1
        return t

    def _scanner_session(self, conn: Conn, t: int, call_id_fn) -> int:
        """open -> next x k -> close, one call per exchange (no faults)."""
        r = self.rng
        table, rname, enc = self._region()
        start, stop = self._row(), self._row()
        caching = r.choice([20, 50, 100])
        sid = self.next_scanner[conn.server]
        self.next_scanner[conn.server] += 1
        state = (table, enc)
        steps = [("Scan", dict(method="open-scanner", table=table, region=enc,
                               row=start, stoprow=stop, caching=caching),
                  wire.scan_request(region=rname, start=start.encode(),
                                    stop=stop.encode(), caching=caching, rows=caching),
                  dict(scanner=sid, cells=0),
                  wire.scan_response([], sid, packed=False))]
        for _ in range(r.randrange(1, 6)):
            cpr = [r.randrange(1, 4) for _ in range(r.randrange(1, 8))]
            steps.append(("Scan", dict(method="next-rows", scanner=sid),
                          wire.scan_request(scanner_id=sid, rows=caching),
                          dict(scanner=sid, cells=sum(cpr)),
                          wire.scan_response(cpr, sid, packed=r.random() < 0.5)))
        steps.append(("Scan", dict(method="close-scanner", scanner=sid),
                      wire.scan_request(scanner_id=sid, close=True),
                      dict(cells=0), wire.scan_response([], None, packed=False)))
        for i, spec in enumerate(steps):
            method_name, ev, param, resp_fields, body = spec
            # scanner steps are never faulted: answered, no exception
            cid = call_id_fn()
            req = dict(ev, call_id=cid, inbound=True, client=conn.client,
                       port=conn.port, server=conn.server, ts_ms=t)
            raw = wire.request_frame(cid, method_name, param)
            req["size"] = len(raw)
            self._emit(conn, t, True, [(raw, req)])
            t += r.randrange(1, 20)
            resp = dict(resp_fields, call_id=cid, inbound=False,
                        client=conn.client, port=conn.port, server=conn.server,
                        method=req["method"], ts_ms=t)
            rraw = wire.response_frame(cid, None, body)
            resp["size"] = len(rraw)
            self._emit(conn, t, False, [(rraw, resp)])
            self.calls.append(Call(req, resp, state if i else None))
            t += r.randrange(1, 20)
        return t

    def _plant_faults(self, conn: Conn, t: int) -> int:
        r = self.rng
        # a length prefix no frame can have: the framing buffer resets
        junk = b"\xff\xff\xff\xf0" + bytes(r.randrange(256) for _ in range(40))
        conn.flights.append((t, True, junk))
        t += 3
        # a request whose method name is not alphabetic: undecodable
        cid = 3_000_000 + self.wire_errors
        raw = wire.request_frame(cid, "Get_v2", wire.get_request(
            self.regions["t"][0][0], wire.get_msg(b"row-x", [])))
        self._emit(conn, t, True, [(raw, None)])
        self.wire_errors += 1
        t += 3
        # a response to a call this capture never saw
        cid = 4_000_000 + len(self.unknown)
        error = r.choice(ERRORS) if r.random() < 0.3 else None
        rraw = wire.response_frame(cid, error, None if error else wire.get_response(2, 1))
        ev = dict(call_id=cid, inbound=False, client=conn.client, port=conn.port,
                  server=conn.server, method="unknown", size=len(rraw), ts_ms=t)
        if error:
            ev["error"] = error
        self._emit(conn, t, False, [(rraw, ev)])
        self.unknown.append(ev)
        return t + 3

    def _call_specs(self, big: bool):
        r = self.rng
        x = r.random()
        if big:
            return [self.multi(big=True)] if x < 0.7 else [self.mutate(big=True)]
        if x < 0.34:
            return [self.get()]
        if x < 0.62:
            return [self.mutate()]
        if x < 0.82:
            return [self.multi()]
        if x < 0.90:
            return [self.small_scan()]
        if x < 0.93:
            return [self.bulk_load()]
        return None  # scanner session

    def connection(self, idx: int, n_exchanges: int, hot: bool) -> Conn:
        r = self.rng
        server, sport = SERVERS[idx % len(SERVERS)]
        conn = Conn(f"10.0.{idx // 200}.{idx % 200 + 1}", 30000 + idx * 7 % 30000 + r.randrange(7),
                    server, sport)
        t = T0_MS + r.randrange(0, 20_000)
        counter = [r.randrange(0, 1000)]

        def call_id():
            counter[0] += 1
            return counter[0] % 24 if hot else counter[0]

        for i in range(n_exchanges):
            if not hot and i == n_exchanges // 2 and idx % 4 == 0:
                t = self._plant_faults(conn, t)
            specs = self._call_specs(big=hot and r.random() < 0.6)
            if specs is None:
                t = self._scanner_session(conn, t, call_id)
            else:
                while r.random() < 0.2 and len(specs) < 3:
                    specs += self._call_specs(big=False) or [self.get()]
                t = self._exchange(conn, t, specs, call_id, unanswered_p=0.03)
            t += r.randrange(1, 40)
        return conn

    def ttl_connection(self, idx: int) -> Conn:
        """A lone get answered 121 s later: state expired, response unknown."""
        server, sport = SERVERS[0]
        conn = Conn("10.0.250.1", 45000 + idx, server, sport)
        t = T0_MS + 5_000
        method_name, ev, param, resp_fields, body = self.get()
        req = dict(ev, call_id=7, inbound=True, client=conn.client,
                   port=conn.port, server=conn.server, ts_ms=t)
        raw = wire.request_frame(7, method_name, param)
        req["size"] = len(raw)
        self._emit(conn, t, True, [(raw, req)])
        t += TTL_MS + 1_000
        resp = dict(resp_fields, call_id=7, inbound=False, client=conn.client,
                    port=conn.port, server=conn.server, method=req["method"], ts_ms=t)
        rraw = wire.response_frame(7, None, body)
        resp["size"] = len(rraw)
        self._emit(conn, t, False, [(rraw, resp)])
        self.calls.append(Call(req, resp))
        return conn

    def noise(self) -> list:
        """Traffic HPI must ignore: another service's TCP port, UDP, ARP,
        and pure ACKs on a monitored connection."""
        r = self.rng
        out = []
        for i in range(60):
            ts_us = (T0_MS + r.randrange(0, 30_000)) * 1000
            payload = bytes(r.randrange(256) for _ in range(r.randrange(20, 400)))
            seg = wire.tcp_segment(40000 + i, 5432, i * 1000, 1, payload)
            out.append((ts_us, wire.ethernet_frame(0x0800, wire.ipv4_packet(
                "10.2.0.5", "10.2.0.9", 6, seg, i)), True))
        for i in range(20):
            ts_us = (T0_MS + r.randrange(0, 30_000)) * 1000
            dgram = wire.udp_datagram(53000 + i, 53, b"\x12\x34" + b"\x00" * 30)
            out.append((ts_us, wire.ethernet_frame(0x0800, wire.ipv4_packet(
                "10.2.0.5", "10.2.0.1", 17, dgram, i)), False))
            out.append((ts_us, wire.ethernet_frame(0x0806, b"\x00\x01" * 14), False))
        for i in range(20):
            ts_us = (T0_MS + r.randrange(0, 30_000)) * 1000
            seg = wire.tcp_segment(16020, 30001, 1, i, b"", flags=0x10)
            out.append((ts_us, wire.ethernet_frame(0x0800, wire.ipv4_packet(
                "10.1.0.1", "10.0.0.2", 6, seg, i)), False))
        return out


def build_model(seed: int, *, n_short: int, short_exchanges: int,
                hot_exchanges: int) -> Capture:
    g = _Gen(seed)
    conns = [g.connection(i, short_exchanges + g.rng.randrange(-4, 5), hot=False)
             for i in range(n_short)]
    conns.append(g.connection(n_short, hot_exchanges, hot=True))
    conns.append(g.ttl_connection(n_short + 1))
    return Capture(g.calls, g.unknown, conns, g.noise(), g.wire_errors)


# -- encodings -----------------------------------------------------------------


def capture_bytes(cap: Capture, seed: int) -> bytes:
    """The model as a classic-pcap file: each flight cut at the MSS into
    TCP segments with Ethernet/IPv4 framing, all packets in time order."""
    r = random.Random(seed ^ 0x5EED)
    records = []  # (ts_us, tiebreak, frame)
    n = 0
    for conn in cap.conns:
        seq = {True: r.getrandbits(32), False: r.getrandbits(32)}
        for ts_ms, inbound, data in conn.flights:
            for i in range(0, len(data), MSS):
                chunk = data[i:i + MSS]
                if inbound:
                    src, sport, dst, dport = conn.client, conn.port, conn.server, conn.server_port
                else:
                    src, sport, dst, dport = conn.server, conn.server_port, conn.client, conn.port
                seg = wire.tcp_segment(sport, dport, seq[inbound], seq[not inbound], chunk)
                seq[inbound] += len(chunk)
                frame = wire.ethernet_frame(0x0800, wire.ipv4_packet(src, dst, 6, seg, n))
                records.append((ts_ms * 1000, n, frame))
                n += 1
    for ts_us, frame, _tcp in cap.noise_packets:
        records.append((ts_us, n, frame))
        n += 1
    records.sort(key=lambda x: (x[0], x[1]))
    return wire.pcap_file([(ts, f) for ts, _n, f in records])


EVENT_FIELDS = ["event_id", "ts", "inbound", "client", "port", "server",
                "call_id", "method", "size", "table", "region", "row",
                "stoprow", "cells", "durability", "scanner", "caching",
                "error", "actions", "results"]
_ACTION_KEYS = ["method", "table", "region", "row", "cells", "durability"]


def event_record(ev: dict) -> dict:
    """Decoded-event dict -> one rpc_events row (FIXTURES.md §1)."""
    import datetime as _dt

    row = {k: ev.get(k) for k in EVENT_FIELDS}
    row["ts"] = _dt.datetime.fromtimestamp(ev["ts_ms"] / 1000, _dt.timezone.utc)
    if ev.get("actions") is not None:
        row["actions"] = [{k: a.get(k) for k in _ACTION_KEYS} for a in ev["actions"]]
    if ev.get("results") is not None:
        row["results"] = [dict({k: None for k in _ACTION_KEYS}, **x)
                          for x in ev["results"]]
    return row


def write_event_files(events: list[dict], out_dir: str, n_files: int) -> None:
    """rpc_events parquet, one file per slice of the capture order, written
    one after another with strictly increasing modification times (the
    file source orders micro-batches by modification time)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schema = _arrow_schema()
    per = -(-len(events) // n_files)
    mtime = 1_700_000_000
    for i in range(n_files):
        part = [event_record(e) for e in events[i * per:(i + 1) * per]]
        table = pa.Table.from_pylist(part, schema=schema)
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime + i, mtime + i))


def _arrow_schema():
    import pyarrow as pa

    action = pa.struct([("method", pa.string()), ("table", pa.string()),
                        ("region", pa.string()), ("row", pa.string()),
                        ("cells", pa.int32()), ("durability", pa.string())])
    result = pa.struct(list(action) + [pa.field("error", pa.string())])
    return pa.schema([
        pa.field("event_id", pa.int64(), False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("inbound", pa.bool_(), False),
        pa.field("client", pa.string(), False),
        pa.field("port", pa.int32(), False),
        pa.field("server", pa.string(), False),
        pa.field("call_id", pa.int32(), False),
        ("method", pa.string()),
        pa.field("size", pa.int32(), False),
        ("table", pa.string()), ("region", pa.string()), ("row", pa.string()),
        ("stoprow", pa.string()), ("cells", pa.int32()),
        ("durability", pa.string()), ("scanner", pa.int64()),
        ("caching", pa.int32()), ("error", pa.string()),
        ("actions", pa.list_(action)), ("results", pa.list_(result)),
    ])


# -- expected tables (HPI semantics, from the model) ------------------------


def _first_non_null(*values):
    return next((v for v in values if v is not None), None)


def _finalize(rec: dict, actions: list | None, results: list | None) -> tuple[dict, list]:
    """send! (core.clj:261-283): batch, cells fallback, singleton
    promotion and child stamping. Returns (record, children)."""
    batch = len(actions) if actions is not None else 0
    zipped = None
    if results is not None:
        zipped = ([dict(a, cells=x["cells"], error=x["error"])
                   for a, x in zip(actions, results)]
                  if actions is not None else results)
    if rec["cells"] is None:
        if not rec["inbound"] and zipped is not None:
            rec["cells"] = sum(c["cells"] for c in zipped if c["cells"] is not None)
        elif actions is not None:
            rec["cells"] = sum(a["cells"] for a in actions if a["cells"] is not None)
        else:
            rec["cells"] = 0
    rec["batch"] = batch
    if batch == 1:
        for c in ("method", "table", "region", "row", "durability"):
            rec[c] = _first_non_null(actions[0].get(c), rec.get(c))
    children = []
    if batch > 1:
        key = {k: rec[k] for k in ("client", "port", "call_id")}
        if rec["inbound"]:
            children = [dict(key, **{k: a.get(k) for k in _ACTION_KEYS})
                        for a in actions]
        elif zipped is not None:
            children = [dict(key, **{k: a.get(k) for k in _ACTION_KEYS},
                             error=a.get("error")) for a in zipped]
    return rec, children


_MERGE = ("method", "table", "region", "row", "stoprow", "cells", "durability")


def expected_tables(cap: Capture) -> dict[str, list[dict]]:
    requests, responses, actions, results = [], [], [], []
    for call in cap.calls:
        req = call.req
        state = call.scanner_state
        rec = {c: req.get(c) for c in REQUEST_COLUMNS if c not in ("ts", "batch")}
        rec.update(ts_ms=req["ts_ms"], inbound=True)
        if state is not None and req["method"] in ("next-rows", "close-scanner"):
            rec["table"] = rec["table"] or state[0]
            rec["region"] = rec["region"] or state[1]
        rec, kids = _finalize(rec, req.get("actions"), None)
        requests.append(rec)
        actions.extend(kids)
        resp = call.resp
        if resp is None:
            continue
        elapsed = resp["ts_ms"] - req["ts_ms"]
        matched = elapsed <= TTL_MS
        rec = {c: resp.get(c) for c in RESPONSE_COLUMNS
               if c not in ("ts", "batch", "elapsed")}
        rec.update(ts_ms=resp["ts_ms"], inbound=False,
                   elapsed=elapsed if matched else None)
        acts = None
        if matched:
            for c in _MERGE:
                rec[c] = _first_non_null(resp.get(c), req.get(c))
            acts = req.get("actions")
        else:
            rec["method"] = "unknown"
        if (state is not None and resp.get("scanner") is not None
                and req["method"] == "next-rows"):
            rec["table"] = rec["table"] or state[0]
            rec["region"] = rec["region"] or state[1]
        rec, kids = _finalize(rec, acts, resp.get("results"))
        responses.append(rec)
        results.extend(kids)
    for ev in cap.unknown:
        rec = {c: ev.get(c) for c in RESPONSE_COLUMNS
               if c not in ("ts", "batch", "elapsed")}
        rec.update(ts_ms=ev["ts_ms"], inbound=False, elapsed=None)
        rec, _ = _finalize(rec, None, None)
        responses.append(rec)
    return {"requests": requests, "responses": responses,
            "actions": actions, "results": results}


def table_aggregates(name: str, rows: list[dict]) -> dict:
    """The per-table figures the output check compares."""
    agg = {
        "rows": len(rows),
        "methods": dict(sorted(Counter(r["method"] for r in rows).items(),
                               key=lambda kv: str(kv[0]))),
        "cells": sum(r["cells"] or 0 for r in rows),
        "with_table": sum(1 for r in rows if r["table"] is not None),
    }
    if name in ("requests", "responses"):
        agg["batch"] = sum(r["batch"] for r in rows)
        agg["size"] = sum(r["size"] for r in rows)
        agg["scanner_enriched"] = sum(
            1 for r in rows
            if r["method"] in ("next-rows", "close-scanner") and r["table"] is not None)
    if name == "responses":
        agg["elapsed"] = sum(r["elapsed"] or 0 for r in rows)
        agg["elapsed_rows"] = sum(1 for r in rows if r["elapsed"] is not None)
        agg["unknown"] = sum(1 for r in rows if r["method"] == "unknown")
    if name in ("responses", "results"):
        agg["errors"] = sum(1 for r in rows if r["error"] is not None)
    return agg
