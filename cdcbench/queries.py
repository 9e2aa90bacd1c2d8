"""``queries``: the 31 ``__spark_entry__.queries()`` over the read-only sf0.01
tables, in an order the seed permutes.

This is the only workload that runs ``operators/`` (dedup, similarity, text,
multimodal). One operation is one query execution; it fails if its rows,
canonicalised like ``scripts/check_oracles.py`` does, differ from the
query's DuckDB oracle (``__spark_entry__.oracle_sql()``).

The oracle results are a pure function of the read-only tables and the
oracle SQL, and cost ~35 s of DuckDB time, so they are computed once per
checkout, in a child process before set-up starts, and kept in
``.cdcbench_cache/`` under a key hashed from the SQL text and the table
files' sizes and mtimes. A changed oracle or table recomputes them.

sf0.01, not sf0.1: the DuckDB oracles take ~150 s at sf0.1 on four cores
(``embedding_near_dup_lsh`` alone ~90 s), longer than one run may last,
while the Spark pass is dominated by per-query fixed costs at both sizes
(measured steady pass: 16.5 s at sf0.01, 18.5 s at sf0.1).
"""

from __future__ import annotations

import hashlib
import inspect
import multiprocessing
import os
import pickle
import random
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from cdcbench import common, expect, probes
from cdcbench.tracer import Tracer, durations

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
# concurrent warm-up passes before the timed sequential passes. After one,
# a sequential pass still ran ~25% slower than a few passes later (the JIT
# was still compiling) and its time wandered with how far compilation had
# got; a second concurrent pass costs ~9 s and takes most of that away.
WARM_PASSES = 2


def _cache_path() -> str:
    import __spark_entry__ as entry

    h = hashlib.sha256(SF_DIR.encode())
    for name, sql in sorted(entry.oracle_sql().items()):
        h.update(f"{name}\0{sql}\0".encode())
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return os.path.join(common.ROOT, ".cdcbench_cache", f"oracles-{h.hexdigest()[:16]}.pkl")


def _oracles(out_path: str) -> None:
    """Child process: canonical expected rows of every query."""
    import __spark_entry__ as entry

    con = expect.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in entry.oracle_sql().items():
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        out[name] = (sorted(cols), expect.canon(cols, rel.fetchall()))
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path + f".{os.getpid()}", "wb") as f:
        pickle.dump(out, f)
    os.replace(out_path + f".{os.getpid()}", out_path)


def group_of(fn) -> str:
    """The operators module a query imports, or ``cdc`` for the core ones."""
    src = inspect.getsource(fn)
    for g in probes.QUERY_GROUPS[:-1]:
        if f"operators.{g} import" in src:
            return g
    return "cdc"


def prepare(args, run_dir: str) -> dict:
    """The oracle results, computed in a child process unless cached."""
    if not os.path.isdir(SF_DIR):
        raise FileNotFoundError(f"query tables not found: {SF_DIR}")
    exp_path = _cache_path()
    if not os.path.exists(exp_path):
        child = multiprocessing.get_context("fork").Process(target=_oracles, args=(exp_path,))
        child.start()
        child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"oracle computation failed ({child.exitcode})")
    with open(exp_path, "rb") as f:
        return pickle.load(f)


def run(args, run_dir: str, oracles: dict) -> tuple[dict, dict, dict]:
    import __spark_entry__ as entry

    queries = list(entry.queries().items())
    random.Random(args.seed).shuffle(queries)
    t_setup = time.perf_counter()
    spark = common.start_spark(run_dir)
    t_session = time.perf_counter() - t_setup
    # warm-up: concurrent passes compile every plan shape
    warm_s = []
    with ThreadPoolExecutor(common.nproc()) as ex:
        for _ in range(WARM_PASSES):
            t_warm = time.perf_counter()
            list(ex.map(lambda kv: kv[1](spark, SF_DIR).collect(), queries))
            warm_s.append(time.perf_counter() - t_warm)
    setup_s = time.perf_counter() - t_setup

    # a traced run times its passes exactly like an untraced one, with a
    # span around each collect(); the noop-sink (compute only) spans come
    # from one more pass after the clock has run out
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.enabled = True
        groups = {name: group_of(fn) for name, fn in queries}
    lat: dict[str, list[float]] = {name: [] for name, _ in queries}
    passes, failed, mismatched, attempted = [], 0, [], 0
    compiles = common.codegen_compiles(spark)
    clock = common.Clock(args.seconds)
    while not passes or clock.left() > 0:
        t_pass = time.perf_counter()
        for name, fn in queries:
            attempted += 1
            try:
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                with tracer.span(f"collect.{groups[name]}", query=name) if tracer else nullcontext():
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                print(f"{name} failed: {type(e).__name__}: {e}"[:400], flush=True)
                failed += 1
                continue
            lat[name].append(time.perf_counter() - t0)
            cols, want = oracles[name]
            got = expect.canon(df.columns, [tuple(r) for r in rows])
            if args.perturb:
                want = want + [("perturbed",)]
            if sorted(df.columns) != cols or got != want:
                mismatched.append(name)
        passes.append(time.perf_counter() - t_pass)
    compiles = common.codegen_compiles(spark) - compiles
    if tracer:
        for name, fn in queries:
            with tracer.span(f"compute.{groups[name]}", query=name):
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    layers, counts = {}, {}
    if tracer:
        layers, counts = _layers(tracer, queries, lat, len(passes))
    per_query = [t for ts in lat.values() for t in ts]
    if tracer:
        layers["spark.codegen_compiles_per_query"] = compiles / attempted
    e2e = {
        "setup_s": setup_s,
        "op_gmean_s": common.gmean(per_query),
        "throughput_per_s": len(per_query) / sum(passes),
    }
    detail = {
        "sf_dir": SF_DIR,
        "order": [name for name, _ in queries],
        "session_s": t_session,
        "warm_passes_s": warm_s,
        "metrics_by_name": {"queries_pass_s": {"value": common.median(passes), "n": len(passes)}},
        "query_s": common.summary(per_query),
        "codegen_compiles": compiles,
        "per_query_s": {k: common.median(v) for k, v in lat.items() if v},
        "mismatched": mismatched,
        "layer_samples": counts,
        "versions": common.versions(spark),
    }
    return e2e, layers, {
        "detail": detail,
        "attempted": attempted,
        "failed": failed + len(mismatched),
        "correct": not mismatched and attempted > failed,
    }


def _layers(tracer: Tracer, queries, lat, n_passes: int) -> tuple[dict, dict]:
    """Per-query times, and noop-sink vs ``collect()`` time per pass summed
    per operators module."""
    out = {f"queries.{name}.s": common.median(v) for name, v in lat.items() if v}
    for g in probes.QUERY_GROUPS:
        prefix = "queries" if g == "cdc" else "operators"
        out[f"{prefix}.{g}.compute_s"] = sum(durations(tracer.spans, f"compute.{g}"))
        out[f"{prefix}.{g}.collect_s"] = sum(durations(tracer.spans, f"collect.{g}")) / n_passes
    out["trace.op_gmean_s"] = common.gmean([t for ts in lat.values() for t in ts])
    counts = {
        g: sum(1 for _, fn in queries if group_of(fn) == g) for g in probes.QUERY_GROUPS
    }
    return out, counts
