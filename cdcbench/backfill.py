"""``backfill``: one large out-of-order, hot-key-skewed feed replayed in a
single micro-batch into a fresh table, again and again.

Scan, minimal parse, the LWW aggregate and its exchange, winner decode,
normalize/sha256 and the stage write are the per-event work. One operation
is one replay; it fails if the replayed table's digest differs from the
DuckDB restatement of the feed.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time

from cdcbench import common, expect, probes
from cdcbench.feedgen import FeedSpec, generate

N_EVENTS = 200_000
WARM_REPLAYS = 2


def _prepare(spec: FeedSpec, feed_dir: str, out_json: str) -> None:
    """Child process: write the feed, then its expected digest."""
    dims = generate(spec, feed_dir)
    rows = expect.ingest_state(feed_dir)
    with open(out_json, "w") as f:
        json.dump({"dims": dims, "digest": expect.table_digest(rows), "rows": len(rows)}, f)


def prepare(args, run_dir: str) -> dict:
    """Write the feed and compute its expectation, in a child process so the
    generator's and DuckDB's memory leave with it."""
    feed = os.path.join(run_dir, "feed")
    exp_json = os.path.join(run_dir, "expected.json")
    prep = multiprocessing.get_context("fork").Process(
        target=_prepare, args=(FeedSpec(seed=args.seed, n_events=N_EVENTS), feed, exp_json)
    )
    prep.start()
    prep.join()
    if prep.exitcode != 0:
        raise RuntimeError(f"feed preparation failed ({prep.exitcode})")
    with open(exp_json) as f:
        return {"feed": feed, **json.load(f)}


def run(args, run_dir: str, exp: dict) -> tuple[dict, dict, dict]:
    from airbyte_module_spark import Engine

    feed = exp["feed"]
    t_setup = time.perf_counter()
    spark = common.start_spark(run_dir)
    t_session = time.perf_counter() - t_setup
    n = [0]

    def replay() -> tuple[Engine, float]:
        """Replay the feed into a fresh table with a fresh checkpoint."""
        n[0] += 1
        eng = Engine(spark, os.path.join(run_dir, f"table-{n[0]}"))
        t0 = time.perf_counter()
        eng.replay(feed, checkpoint_dir=eng.table_path + ".ck")
        return eng, time.perf_counter() - t0

    def drop(eng) -> None:
        shutil.rmtree(eng.table_path, ignore_errors=True)
        shutil.rmtree(eng.table_path + ".ck", ignore_errors=True)

    warm = []
    for _ in range(WARM_REPLAYS):
        eng, dt = replay()
        warm.append(dt)
        drop(eng)
    setup_s = time.perf_counter() - t_setup
    want = exp["digest"]
    if args.perturb:
        want = want[::-1]

    tracer = progress = None
    if args.trace:
        tracer = probes.make_tracer(spark)
        probes.install_ingest(tracer)
        progress = probes.ProgressLog(spark)

    times = []
    failed = mismatched = 0
    traced_dirs, lineage = [], []
    clock = common.Clock(args.seconds)
    i = 0
    while i < 3 or clock.left() > 0:
        i += 1
        if tracer:
            tracer.enabled = True
        try:
            eng, dt = replay()
        except Exception as e:  # noqa: BLE001 - a failed replay is a result
            print(f"replay failed: {type(e).__name__}: {e}", flush=True)
            failed += 1
            continue
        finally:
            if tracer:
                tracer.enabled = False
        times.append(dt)
        if eng.digest() != want:
            mismatched += 1
        if tracer:
            traced_dirs.append(eng.table_path)
            lineage += eng.lineage()
        else:
            drop(eng)
    attempted = i

    layers, counts = {}, {}
    if tracer:
        deadline = time.time() + 5
        while len(progress.events) < len(times) and time.time() < deadline:
            time.sleep(0.05)
        progress.remove()
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        layers, counts = probes.ingest_layers(tracer.spans, progress.events, traced_dirs, lineage)
        layers["trace.op_gmean_s"] = common.gmean(times)

    e2e = {
        "setup_s": setup_s,
        "op_gmean_s": common.gmean(times),
        "throughput_per_s": N_EVENTS / common.median(times),
    }
    detail = {
        "feed": exp["dims"],
        "expected_rows": exp["rows"],
        "session_s": t_session,
        "warm_replays_s": warm,
        "replays_s": times,
        "replay_s": common.summary(times),
        "backfill_events_per_s": {"n": len(times), "value": N_EVENTS / common.median(times)},
        "layer_samples": counts,
        "mismatched": mismatched,
        "versions": common.versions(spark),
    }
    return e2e, layers, {
        "detail": detail,
        "attempted": attempted,
        "failed": failed + mismatched,
        "correct": mismatched == 0 and attempted > failed,
    }

