#!/usr/bin/env python
"""Benchmark: CDC replay throughput + oracle-query timings.

Prints ONE JSON line:
  {"metric": "cdc_replay_sec", "value": <sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>,
   "replay": {"n_events": N, "events_per_sec": X, ...},
   "scaling": <contents of BENCH/scaling.json if present>}

The headline replay is the engine's real ingest path: a deterministic
envelope feed (generated JVM-side, untimed) streamed through
parse → normalize → sha256 → LWW dedup → MERGE into the lake table.
Feed size scales with the requested SF so the driver's per-round run at
sf0.1 measures a few million events.

Scaling evidence (local[8] vs local[32], BASELINE.md protocol) is produced
by scripts/scaling_bench.py, which caches its result in BENCH/scaling.json;
this script attaches that cache so BENCH_r{N}.json carries it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from airbyte_module_spark import Engine, get_spark  # noqa: E402
from airbyte_module_spark.sources.generator import generate_feed_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_EVENTS = {"0.001": 50_000, "0.01": 500_000, "0.1": 3_000_000}


def sf_from_dir(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else "0.1"


def replay_until_steady(
    spark,
    feed: str,
    work: str,
    tag: str = "r",
    max_runs: int = 14,
    min_runs: int = 5,
    max_files_per_trigger: int | None = None,
) -> tuple[list[float], "Engine"]:
    """Replay the same feed into fresh tables until wall-clock stabilizes;
    return (all trial times, engine of the last run).

    Why: in this sandbox HotSpot's compile phase is pathologically slow
    (syscall-trapped mprotect/mmap — vmstat shows 70-90% idle + 20% sys
    during the ramp), so the same replay measures 60-200s for the first
    3-5 runs and then drops to its true steady state (measured 8.7s for a
    3M-event replay at local[32] after five runs). Steady state is the
    regime that matters at 10^10 events — a production executor JVM is
    long-lived.

    Stop rule: >= ``min_runs`` trials AND the last TWO trials are both
    within 15% of the overall best. Requiring two consecutive converged
    trials (not just one) is what distinguishes "the ramp has cleared" from
    "one trial landed mid-cliff": round-1's weaker rule (best-of-last-2
    within 10%) fired the moment any trial became the new minimum, which in
    a still-ramping sequence like [290, 59, 84, 57, 66] reports 57s for a
    job whose true steady state is ~9s."""
    trials: list[float] = []
    timings: list[dict] = []
    eng = None
    for i in range(max_runs):
        if i >= 2:
            # drop the table/checkpoint of the run before last (keep the
            # last one alive for the caller) so trial outputs don't
            # accumulate — late trials drifted up to 4x steady state once
            # ~10 replayed tables piled up in the work dir
            shutil.rmtree(os.path.join(work, f"table_{tag}{i - 2}"), ignore_errors=True)
            shutil.rmtree(os.path.join(work, f"ck_{tag}{i - 2}"), ignore_errors=True)
        eng = Engine(spark, os.path.join(work, f"table_{tag}{i}"))
        t0 = time.time()
        eng.replay(
            feed,
            checkpoint_dir=os.path.join(work, f"ck_{tag}{i}"),
            max_files_per_trigger=max_files_per_trigger,
        )
        total = round(time.time() - t0, 3)
        trials.append(total)
        # per-phase serial-fraction profile: driver-side collects, the write
        # job, and everything the streaming machinery adds around the one
        # apply_batch call (file listing, offset/commit logs, start/stop)
        tm = {**eng.pipeline.timings, **eng.table.timings, "total": total}
        tm["stream_overhead"] = round(total - tm.get("apply_batch_total", total), 3)
        timings.append(tm)
        if len(trials) >= min_runs and max(trials[-2:]) <= 1.2 * min(trials):
            break
    eng.trial_timings = timings
    return trials, eng


def run_replay(spark, n_events: int, work: str) -> dict:
    """Generate a feed, replay to steady state (see replay_until_steady),
    report the steady-state number plus the full trial list for honesty."""
    feed = os.path.join(work, "feed")
    gen_start = time.time()
    generate_feed_spark(
        spark, n_events, n_keys=max(n_events // 20, 1000), content_bytes=200
    ).repartition(64).write.mode("overwrite").text(feed)
    gen_sec = time.time() - gen_start

    trials, eng = replay_until_steady(spark, feed, work)
    replay_sec = min(trials)
    n_final = eng.read().count()
    return {
        "n_events": n_events,
        "gen_sec": round(gen_sec, 2),
        "replay_sec": replay_sec,
        "trials": trials,
        "events_per_sec": round(n_events / replay_sec, 1),
        "final_rows": n_final,
        "lineage_batches": len(eng.lineage()),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_from_dir(sf_dir)
    n_events = int(
        os.environ.get("SPARK_GRAFT_BENCH_EVENTS", SF_EVENTS.get(sf, 3_000_000))
    )
    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )

    work = tempfile.mkdtemp(prefix="ams_bench_")
    try:
        replay = run_replay(spark, n_events, work)

        q_times: dict[str, float] = {}
        for name, fn in entry_mod.queries().items():
            # steady state per query: this sandbox's throttled JIT makes the
            # first 1-3 executions of a heavy plan measure compilation, not
            # the query (same rationale as replay_until_steady). Cheap
            # queries exit after 2 runs; heavy ones run until the last two
            # trials are within 15% of the best (max 5).
            trials: list[float] = []
            for _ in range(5):
                t0 = time.time()
                fn(spark, sf_dir).collect()
                trials.append(time.time() - t0)
                if len(trials) >= 2 and (
                    min(trials) < 1.0
                    or max(trials[-2:]) <= 1.15 * min(trials)
                ):
                    break
            q_times[name] = round(min(trials), 3)

        # COMPACT summary only on the final line: the driver captures a
        # bounded tail, and r3's line (full protocol prose + trial lists
        # embedded from scaling.json) outgrew it → "parsed": null. The
        # prose/trial detail lives in BENCH/scaling*.json + BASELINE.md.
        scaling = None
        scaling_path = os.path.join(REPO, "BENCH", "scaling.json")
        if os.path.exists(scaling_path):
            with open(scaling_path) as f:
                full = json.load(f)
            scaling = {
                "n_events": full.get("n_events"),
                "levels": {
                    lvl: {
                        "cpus": v.get("cpus"),
                        "replay_sec": v.get("replay_sec"),
                        "events_per_sec": v.get("events_per_sec"),
                    }
                    for lvl, v in full.get("levels", {}).items()
                },
                "speedup": full.get("speedup"),
                "core_ratio": full.get("core_ratio"),
                "scaling_efficiency": full.get("scaling_efficiency"),
                "pass": full.get("pass"),
                "detail": "BENCH/scaling.json",
            }

        out = {
            "metric": "cdc_replay_sec",
            "value": replay["replay_sec"],
            "unit": "sec",
            "queries": q_times,
            "sf": float(sf),
            "replay": {
                k: v for k, v in replay.items() if k != "trials"
            },  # trial lists → BENCH/bench_latest.log
            "cpus": int(cpus),
            "scaling": scaling,
        }
        line = json.dumps(out)
        # full-fidelity record (trials included) for posterity
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "bench_latest.json"), "w") as f:
            json.dump({**out, "replay": replay}, f, indent=1)
        assert len(line) < 4000, f"final bench line too long ({len(line)}B)"
        print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
