"""Where the tracer hooks into the engine, and how spans become per-layer
metrics. Every hook wraps a public function or method from outside; the
engine's own code is not changed."""

from __future__ import annotations

import os

from cdcbench import common
from cdcbench.tracer import Tracer, self_times

#: per-layer metrics (name -> unit), the ``per_layer`` list of BENCHMARK.json.
#: A layer a workload does not run reports 0.
QUERY_NAMES = [
    "cdc_lww_dedup", "cdc_final_state", "cdc_op_routing", "cdc_batch_lineage",
    "cdc_conflicts", "cdc_table_fingerprint", "content_normalize_sha",
    "redact_columns", "text_token_count", "text_quality_score", "text_langid",
    "dedup_exact", "doc_fingerprint", "dedup_minhash", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_ngram_jaccard", "embedding_near_dup",
    "embedding_near_dup_lsh", "ann_topk", "ann_lsh_buckets", "ann_topk_lsh",
    "ann_topk_multiprobe", "ann_ivf_cells", "ann_topk_ivf", "multimodal_meta",
    "envelope_parse", "merge_routing", "salted_join", "file_roundtrip_csv",
    "schema_discovery",
]
QUERY_GROUPS = ["dedup", "similarity", "text", "multimodal", "cdc"]

PER_LAYER: dict[str, str] = {
    "plans.lineage.s": "s",
    "streaming.apply_batch.s": "s",
    "lake.merge.self_s": "s",
    "lake.publish.s": "s",
    "streaming.trigger_overhead.s": "s",
    "spark.jobs_per_batch": "count",
    "spark.jobs_per_get": "count",
    "spark.jobs_per_put": "count",
    "ingest.events_per_batch": "count",
    "ingest.winner_ratio": "ratio",
    "lake.bytes_staged_per_event": "B",
    "engine.read.s": "s",
    "lake.entry_bytes.s": "s",
    "lake.changes.s": "s",
    "spark.to_arrow.s": "s",
    "server.arrow_stream.s": "s",
    "server.eager_share": "ratio",
    "client.transfer_s": "s",
    "server.http_get.s": "s",
    "server.put_spill.s": "s",
    "engine.write.s": "s",
    "lake.delta_entries_at_read": "count",
    "trace.op_gmean_s": "s",
    "spark.codegen_compiles_per_query": "count",
    **{f"queries.{q}.s": "s" for q in QUERY_NAMES},
    **{
        f"{'queries' if g == 'cdc' else 'operators'}.{g}.{part}": "s"
        for g in QUERY_GROUPS
        for part in ("compute_s", "collect_s")
    },
}


def make_tracer(spark) -> Tracer:
    t = Tracer()
    t.job_counter = common.job_counter(spark)
    return t


def install_lake(t: Tracer) -> None:
    from airbyte_module_spark.engine import Engine
    from airbyte_module_spark.lake.catalog import FileCatalog
    from airbyte_module_spark.lake.table import LakeTable

    t.wrap(LakeTable, "merge", "lake.merge")
    t.wrap(FileCatalog, "publish", "lake.publish")
    t.wrap(Engine, "write", "engine.write")


def install_ingest(t: Tracer) -> None:
    """The lineage job runs feed scan + minimal parse + LWW partial aggregate
    + exchange; it is patched where ``streaming.pipeline`` imports it."""
    from airbyte_module_spark.streaming import pipeline

    install_lake(t)
    t.wrap(
        pipeline.CdcPipeline, "apply_batch", "streaming.apply_batch",
        attrs_of=lambda a, kw: {"batch_id": kw.get("batch_id", a[2] if len(a) > 2 else 0)},
    )
    t.wrap(pipeline, "lineage_from_grouped", "plans.lineage")


def install_server(t: Tracer, server, context) -> None:
    """Server-side spans; ``context()`` names the request being served, so
    a streamed response can be matched to the client's measurement."""
    from airbyte_module_spark.engine import Engine
    from airbyte_module_spark.lake.table import LakeTable

    install_lake(t)
    t.wrap(Engine, "read", "engine.read")
    t.wrap(LakeTable, "entry_bytes", "lake.entry_bytes")
    t.wrap(LakeTable, "changes", "lake.changes")
    t.wrap_generator(server, "_arrow_batches_eager", "spark.to_arrow", lambda a, kw: context())
    t.wrap_generator(server, "_arrow_batches", "server.arrow_stream", lambda a, kw: context())
    t.wrap(server.EngineFlightServer, "do_put", "server.do_put")
    t.wrap(server._EngineHttpHandler, "do_GET", "server.http_get")


class ProgressLog:
    """StreamingQueryListener that keeps, for every trigger that ran a
    batch, the Structured Streaming time outside the sink:
    ``triggerExecution`` minus ``addBatch`` (the foreachBatch call that runs
    ``apply_batch``), in seconds."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                pass

            def onQueryProgress(self, e):
                d = dict(e.progress.durationMs)
                if "addBatch" in d:
                    log.append((d["triggerExecution"] - d["addBatch"]) / 1000.0)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def remove(self) -> None:
        self.spark.streams.removeListener(self.listener)


def ingest_layers(spans: list[dict], trigger_overhead: list[float], table_dirs: list[str],
                  lineage: list[dict]) -> tuple[dict, dict]:
    """Per-layer values + sample counts from an ingest trace."""
    st = self_times(spans)
    by = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    batches = by("streaming.apply_batch")
    merges = by("lake.merge")
    publish = by("lake.publish")
    events = sum(x["n_events"] for x in lineage)
    winners = sum(x["n_winners"] for x in lineage)
    staged = 0
    for d in table_dirs:
        for root, _, files in os.walk(os.path.join(d, "data")):
            staged += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    vals = {
        "plans.lineage.s": [dur(s) for s in by("plans.lineage")],
        "streaming.apply_batch.s": [dur(s) for s in batches],
        "lake.merge.self_s": [st[s["id"]] for s in merges],
        "lake.publish.s": [dur(s) for s in publish],
        "streaming.trigger_overhead.s": trigger_overhead,
        "spark.jobs_per_batch": [s["attrs"].get("jobs", 0) for s in batches],
    }
    out = {k: (common.median(v) if v else 0.0) for k, v in vals.items()}
    out["ingest.events_per_batch"] = events / max(len(lineage), 1)
    out["ingest.winner_ratio"] = winners / max(events, 1)
    out["lake.bytes_staged_per_event"] = staged / max(events, 1)
    counts = {k: len(v) for k, v in vals.items()}
    return out, counts
