"""``serve``: a closed loop against the Flight + HTTP servers, run in their
own process over a preloaded table.

Three reader clients cycle through full-asset Flight ``do_get``, one bucket
endpoint (``get_flight_info`` + ``do_get``), a ``from_version`` change read
and a full HTTP NDJSON GET. One writer client sends Flight ``do_put``
upserts of unique keys. The engine's design point is one writer per table;
concurrent writers to one asset hit the known snapshot-commit race, so they
are out of scope here.

The writer keeps the expected state: after each acknowledged put it asks
for the head version and records the commutative digest of the state (whole
table and per bucket) and of the put's rows. Every read is checked against
the state of the version its ticket or ``X-Table-Version`` names; the final
full read must hold every acknowledged write.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time
import urllib.request

from cdcbench import common, expect, tracer

ASSET = "repo_files"
PRELOAD_ROWS = 20_000
PUT_ROWS = 500
READERS = 3
KINDS = ("full", "slice", "changes", "http")


class State:
    """Expected table state per version, kept by the single writer."""

    def __init__(self, rows: list[tuple], n_buckets: int, version: int):
        self.n_buckets = n_buckets
        self.total = expect.Commutative()
        self.buckets = [expect.Commutative() for _ in range(n_buckets)]
        self._add(rows)
        self.lock = threading.Lock()
        # (last version of the state, total digest, per-bucket digests)
        self.states = [(version, self.total.hexdigest(), [b.hexdigest() for b in self.buckets])]
        self.put_digests = [expect.Commutative()]  # rows added by each state

    def _add(self, rows) -> expect.Commutative:
        added = expect.Commutative()
        for r in rows:
            h = expect.row_hash(r)
            self.total.add_hash(h)
            self.buckets[expect.bucket_of(r[0], r[1], self.n_buckets)].add_hash(h)
            added.add_hash(h)
        return added

    def acked(self, rows: list[tuple], version: int) -> None:
        added = self._add(rows)
        with self.lock:
            self.put_digests.append(added)
            self.states.append((version, self.total.hexdigest(), [b.hexdigest() for b in self.buckets]))

    def latest(self) -> tuple[int, int]:
        with self.lock:
            return len(self.states) - 1, self.states[-1][0]

    def index_of(self, version: int) -> int | None:
        """State holding at ``version``: the first acked state whose last
        version is >= it (a version between two acks is the in-flight put's
        commit, equal to the next state)."""
        for i, (v, _, _) in enumerate(self.states):
            if version <= v:
                return i
        return None


def _rows_of(table) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in expect.USER_COLS]
    return list(zip(*cols))


def _rows(rng: random.Random, repo: str, prefix: str, n: int) -> list[tuple]:
    """``n`` rows with unique keys; content has CRLF and trailing blanks
    for the engine's normalize to remove."""
    out = []
    for i in range(n):
        lines = [f"def f{j}(x):\t return x + {rng.randint(0, 999)}" for j in range(rng.randint(1, 6))]
        eol = "\r\n" if rng.random() < 0.3 else "\n"
        text = eol.join(lines) + (" \t" if rng.random() < 0.3 else "")
        out.append((repo, f"{prefix}/f{i}.py", f"{rng.getrandbits(160):040x}", "python", text))
    return out


def _put_rows(rng: random.Random, k: int, seed: int) -> list[tuple]:
    return _rows(rng, f"bench/writer{seed}", f"put{k}", PUT_ROWS)


def _arrow(rows: list[tuple]):
    import pyarrow as pa

    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(expect.USER_COLS)})


class Client:
    def __init__(self, flight_port: int, http_port: int):
        import pyarrow.flight as fl

        self.fl = fl
        self.flight = fl.connect(f"grpc://127.0.0.1:{flight_port}")
        self.http = f"http://127.0.0.1:{http_port}/{ASSET}"

    def ticket(self, **payload):
        return self.fl.Ticket(json.dumps({"asset_name": ASSET, **payload}).encode())

    def get(self, **payload):
        return self.flight.do_get(self.ticket(**payload)).read_all()

    def slice(self, rng: random.Random, **extra):
        info = self.flight.get_flight_info(self.fl.FlightDescriptor.for_command(ASSET.encode()))
        ep = info.endpoints[rng.randrange(len(info.endpoints))]
        payload = {**json.loads(ep.ticket.ticket.decode()), **extra}
        return payload, self.flight.do_get(self.fl.Ticket(json.dumps(payload).encode())).read_all()

    def head(self) -> int:
        info = self.flight.get_flight_info(self.fl.FlightDescriptor.for_command(ASSET.encode()))
        return json.loads(info.endpoints[0].ticket.ticket.decode())["version"]

    def http_get(self) -> tuple[int, bytes]:
        with urllib.request.urlopen(self.http, timeout=120) as r:
            return int(r.headers["X-Table-Version"]), r.read()

    def put(self, rows: list[tuple]) -> None:
        t = _arrow(rows)
        desc = self.fl.FlightDescriptor.for_command(
            json.dumps({"asset": ASSET, "write_mode": "upsert"}).encode()
        )
        w, _ = self.flight.do_put(desc, t.schema)
        w.write_table(t)
        w.close()

    def action(self, kind: str, body: bytes = b"") -> None:
        list(self.flight.do_action(self.fl.Action(kind, body)))


def _request(client: Client, state: State, rng: random.Random, kind: str, req: str) -> dict:
    """One read request of ``kind``; the record carries what the check needs."""
    k, v = state.latest()
    rec = {"kind": kind, "req": req}
    t0 = time.perf_counter()
    try:
        if kind == "full":
            t = client.get(version=v, req=req, kind=kind)
            rec.update(version=v)
        elif kind == "slice":
            payload, t = client.slice(rng, req=req, kind=kind)
            rec.update(version=payload["version"], bucket=payload["buckets"][0])
        elif kind == "changes":
            j = max(k - 2, 0)
            t = client.get(from_version=state.states[j][0], version=v, req=req, kind=kind)
            rec.update(version=v, from_state=j, to_state=k,
                       deletes="d" in set(t.column("_ab_op").to_pylist()))
        else:
            v, body = client.http_get()
            rec["latency"] = time.perf_counter() - t0
            rows = [json.loads(line) for line in body.splitlines()]
            rows = [tuple(d.get(c) for c in expect.USER_COLS) for d in rows]
            rec.update(version=v, digest=expect.Commutative.of(rows).hexdigest(),
                       rows=len(rows), bytes=len(body))
            return rec
        rec["latency"] = time.perf_counter() - t0
        rec.update(digest=expect.Commutative.of(_rows_of(t)).hexdigest(),
                   rows=t.num_rows, bytes=t.nbytes)
    except Exception as e:  # noqa: BLE001 - a failed request is a result
        rec["error"] = f"{type(e).__name__}: {e}"[:300]
    return rec


def _reader(client: Client, state: State, rng: random.Random, order: list[str],
            stop: threading.Event, out: list) -> None:
    """Closed loop over ``order``."""
    i = 0
    while not stop.is_set():
        i += 1
        out.append(_request(client, state, rng, order[i % len(order)], f"{threading.get_ident()}-{i}"))


def _writer(client: Client, state: State, rng: random.Random, seed: int, first: int,
            until, out: list, con) -> None:
    k = first
    while until(k):
        rows = _put_rows(rng, k, seed)
        want = expect.normalize_rows(rows, con)
        t0 = time.perf_counter()
        try:
            client.put(rows)
        except Exception as e:  # noqa: BLE001
            out.append({"kind": "put", "error": f"{type(e).__name__}: {e}"[:300]})
            k += 1
            continue
        latency = time.perf_counter() - t0
        state.acked(want, client.head())
        out.append({"kind": "put", "latency": latency, "rows": len(rows)})
        k += 1


def _check(rec: dict, state: State, perturb: bool) -> bool:
    """True when the read returned exactly the expected rows."""
    kind = rec["kind"]
    if kind == "put":
        return True
    i = state.index_of(rec["version"])
    if i is None:
        return False
    _, total, buckets = state.states[i]
    if kind == "slice":
        want = buckets[rec["bucket"]]
    elif kind == "changes":
        acc = expect.Commutative()
        for d in state.put_digests[rec["from_state"] + 1 : rec["to_state"] + 1]:
            acc = acc.merged(d)
        want = acc.hexdigest()
        if rec["deletes"]:
            return False
    else:
        want = total
    if perturb:
        want = want[::-1]
    return rec["digest"] == want


def prepare(args, run_dir: str) -> dict:
    """The preload table as a parquet file, and its expected rows."""
    import pyarrow.parquet as pq

    rows = _rows(random.Random(args.seed), "bench/preload", "pre", PRELOAD_ROWS)
    preload = os.path.join(run_dir, "preload.parquet")
    pq.write_table(_arrow(rows), preload)
    return {"parquet": preload, "rows": expect.normalize_rows(rows)}


def run(args, run_dir: str, preload: dict) -> tuple[dict, dict, dict]:
    ready = os.path.join(run_dir, "ready.json")
    here = os.path.dirname(os.path.abspath(__file__))
    log = open(os.path.join(run_dir, "server.log"), "w")
    t_setup = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "serve_server.py"), run_dir, preload["parquet"], ready],
        stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    try:
        return _run(args, proc, ready, t_setup, preload["rows"], expect.connect())
    finally:
        _stop(proc)
        log.close()


def _stop(proc: subprocess.Popen) -> None:
    """End the serve process group (server, JVM, Python workers) and wait
    until no process of it is left."""
    import signal

    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _run(args, proc, ready, t_setup, preload_rows, con):
    run_dir = os.path.dirname(ready)
    while not os.path.exists(ready):
        if proc.poll() is not None:
            raise RuntimeError(f"serve process exited with {proc.returncode}")
        if time.perf_counter() - t_setup > 150:
            raise TimeoutError("serve process did not become ready")
        time.sleep(0.05)
    with open(ready) as f:
        info = json.load(f)
    state = State(preload_rows, info["n_buckets"], info["version"])
    clients = [Client(info["flight_port"], info["http_port"]) for _ in range(READERS + 1)]
    rng = random.Random(args.seed)

    # warm-up, concurrent like the measured phase: the readers cover every
    # request kind between them, the writer sends one put
    warm: list = []
    threads = [
        threading.Thread(target=lambda c=c, r=r: warm.extend(
            _request(c, state, random.Random(r), KINDS[(r + j) % len(KINDS)], f"warm-{r}-{j}")
            for j in range(2)))
        for r, c in enumerate(clients[:READERS])
    ]
    threads.append(threading.Thread(
        target=_writer, args=(clients[-1], state, rng, args.seed, 0, lambda k: k < 1, warm, con)))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    setup_s = time.perf_counter() - t_setup
    if any("error" in r for r in warm):
        raise RuntimeError(f"warm-up failed: {[r['error'] for r in warm if 'error' in r][:3]}")

    records: list = []
    stop = threading.Event()
    if args.trace:
        clients[-1].action("trace", b"on")
    threads = [
        threading.Thread(
            target=_reader,
            args=(clients[r], state, random.Random(args.seed * 31 + r),
                  list(KINDS[r % len(KINDS):] + KINDS[: r % len(KINDS)]), stop, records),
        )
        for r in range(READERS)
    ]
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    threads.append(threading.Thread(
        target=_writer,
        args=(clients[-1], state, rng, args.seed, 1, lambda k: time.perf_counter() < deadline,
              records, con),
    ))
    for t in threads:
        t.start()
    stop.wait(args.seconds)
    stop.set()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0

    # final state: every acknowledged write must be there
    head = clients[0].head()
    final = expect.Commutative.of(_rows_of(clients[0].get(version=head))).hexdigest()
    i = state.index_of(head)
    final_ok = i == len(state.states) - 1 and _check(
        {"kind": "full", "version": head, "digest": final}, state, args.perturb
    )

    server_spans = []
    if args.trace:
        clients[-1].action("trace", b"off")
        clients[-1].action("spans")
        server_spans = tracer.load(os.path.join(run_dir, "server-spans.jsonl"))

    errors = [r for r in records if "error" in r]
    ok = [r for r in records if "error" not in r]
    mismatched = [r for r in ok if not _check(r, state, args.perturb)]
    lat = {kind: [r["latency"] for r in ok if r["kind"] == kind] for kind in KINDS + ("put",)}
    read_bytes = sum(r.get("bytes", 0) for r in ok if r["kind"] != "put")
    full = lat["full"]
    reads = [x for kind in KINDS for x in lat[kind]]
    e2e = {
        "setup_s": setup_s,
        "op_gmean_s": common.gmean(reads),
        # closed loop: requests/s = concurrent readers / mean read latency,
        # free of how many requests happen to straddle the deadline
        "throughput_per_s": READERS * len(reads) / sum(reads),
    }
    named = {
        "flight_get_p50_s": _p(full, 50), "flight_get_p90_s": _p(full, 90),
        "flight_slice_p50_s": _p(lat["slice"], 50),
        "flight_changes_p50_s": _p(lat["changes"], 50),
        "http_get_p50_s": _p(lat["http"], 50),
        "flight_put_p50_s": _p(lat["put"], 50), "flight_put_p90_s": _p(lat["put"], 90),
        "read_mb_per_s": {"value": read_bytes / wall / 1e6, "n": len(ok) - len(lat["put"])},
        "read_s": common.summary(reads),
    }
    layers, counts = ({}, {})
    if args.trace:
        layers, counts = serve_layers(server_spans, records)
    detail = {
        "preload_rows": len(preload_rows),
        "server": info,
        "requests": {kind: len(v) for kind, v in lat.items()},
        "metrics_by_name": named,
        "final_state_ok": final_ok,
        "errors": [r["error"] for r in errors][:5],
        "mismatched": len(mismatched),
        "layer_samples": counts,
        "versions": {**info["versions"], "client_pyarrow": common.versions()["pyarrow"]},
    }
    return e2e, layers, {
        "detail": detail,
        "attempted": len(records) + 1,
        "failed": len(errors) + len(mismatched) + (not final_ok),
        "correct": not mismatched and final_ok,
    }


def _p(values: list[float], q: float) -> dict:
    return {"value": common.pct(values, q) if values else None, "n": len(values)}


def serve_layers(spans: list[dict], records: list[dict]) -> tuple[dict, dict]:
    st = tracer.self_times(spans)
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    by = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    eager, streamed = by("spark.to_arrow"), by("server.arrow_stream")
    collect_of = {s["attrs"].get("req"): dur(s) for s in eager + streamed}
    full_reads = [s for s in eager + streamed if s["attrs"].get("kind") == "full"]
    puts = by("server.do_put")
    reads = [r for r in records if "error" not in r and r["kind"] != "put"]
    vals = {
        "lake.merge.self_s": [st[s["id"]] for s in by("lake.merge")],
        "lake.publish.s": [dur(s) for s in by("lake.publish")],
        "spark.jobs_per_get": [s["attrs"].get("jobs", 0) for s in full_reads],
        "spark.jobs_per_put": [s["attrs"].get("jobs", 0) for s in puts],
        "engine.read.s": [dur(s) for s in by("engine.read")],
        "lake.entry_bytes.s": [dur(s) for s in by("lake.entry_bytes")],
        "lake.changes.s": [dur(s) for s in by("lake.changes")],
        "spark.to_arrow.s": [dur(s) for s in eager],
        "server.arrow_stream.s": [dur(s) for s in streamed],
        "client.transfer_s": [
            r["latency"] - collect_of[r["req"]]
            for r in reads if r["kind"] == "full" and r["req"] in collect_of
        ],
        "server.http_get.s": [dur(s) for s in by("server.http_get")],
        "server.put_spill.s": [st[s["id"]] for s in puts],
        "engine.write.s": [dur(s) for s in by("engine.write")],
        "lake.delta_entries_at_read": [
            s["attrs"]["delta_entries"] for s in by("server.do_get")
            if s["attrs"].get("kind") == "full" and "delta_entries" in s["attrs"]
        ],
    }
    out = {k: (common.median(v) if v else 0.0) for k, v in vals.items()}
    out["server.eager_share"] = len(eager) / max(len(eager) + len(streamed), 1)
    out["trace.op_gmean_s"] = common.gmean([r["latency"] for r in reads])
    counts = {k: len(v) for k, v in vals.items()}
    return out, counts
