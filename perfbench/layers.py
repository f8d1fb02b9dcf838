"""Per-layer metrics from a traced run's spans (``--trace 1``).

Every metric is printed for every workload; a layer the workload does
not exercise reads 0 (e.g. ``incremental.*`` on ``backfill``). Times
are sums of span durations in seconds unless the name says ``_ms``
(then a p50 over calls, in milliseconds).
"""

from __future__ import annotations

import os
import statistics

# materialized models of plans.dag.REGISTRY (policy "table" or
# "incremental"); views are never written, so they have no write span
MODELS = [
    "games_active", "games_features", "best_player_counts", "player_count_recommendations",
    "filter_categories", "filter_mechanics", "filter_designers", "filter_publishers",
    "game_dropdown_options", "bgg_predictions", "bgg_complexity_predictions",
    "bgg_game_embeddings", "bgg_description_embeddings", "bgg_game_coordinates",
    "game_first_prediction", "user_collection_predictions", "game_features_hash",
    "game_similarity_search", "game_neighbors", "game_profile",
]
READER_METHODS = [
    "get_game", "get_features", "get_player_counts", "get_predictions",
    "get_embedding", "get_provenance", "get_similar", "get_similar_live",
]
TRACKING_TABLES = {"fetch_in_progress", "processed_responses"}
MB = 2**20


def _p50_ms(durations: list[float]) -> float:
    return statistics.median(durations) * 1000.0 if durations else 0.0


def per_layer(out: dict) -> dict[str, tuple[float, str]]:
    tracer = out["tracer"]
    spans = tracer.spans
    by_id = {s.span_id: s for s in spans}
    kids = tracer.children()

    def named(name):
        return [s for s in spans if s.name == name]

    def under(sp, name) -> bool:
        return any(a.name == name for a in tracer.ancestors(sp, by_id))

    def total(ss) -> float:
        return sum(s.dur for s in ss)

    # outermost io write spans (append -> write_table nests inside)
    io_top = [
        s for s in spans
        if s.name.startswith("io.") and not any(a.name.startswith("io.") for a in tracer.ancestors(s, by_id))
    ]
    io_bytes = sum(s.attrs.get("bytes", 0) for s in io_top)

    m: dict[str, tuple[float, str]] = {"session.start_s": (out["session_s"], "s")}

    things = named("sources.get_thing")
    payloads = sum(s.attrs["payloads"] for s in things)
    m["sources.requests"] = (len(things), "count")
    m["sources.landed_ratio"] = (out["landed"] / payloads if payloads else 0.0, "ratio")

    fetch = named("pipeline.fetch_stage") + [
        s for s in named("pipeline.fetch_batch") if not under(s, "pipeline.fetch_stage")
    ]
    process = named("pipeline.process_stage")
    batches = [s for s in named("io.rewrite_table")
               if s.attrs["table"] == "processed_responses" and under(s, "pipeline.process_stage")]
    process_jobs = sum(tracer.inclusive_jobs(s, kids) for s in process)
    m["pipeline.fetch_stage_s"] = (total(fetch), "s")
    m["pipeline.process_stage_s"] = (total(process), "s")
    m["pipeline.process_batches"] = (len(batches), "count")
    m["pipeline.spark_jobs_per_batch"] = (process_jobs / len(batches) if batches else 0.0, "jobs")

    m["io.append_s"] = (total(s for s in io_top if s.name == "io.append"), "s")
    m["io.merge_insert_s"] = (total(s for s in io_top if s.name == "io.merge_insert"), "s")
    m["io.delete_insert_s"] = (total(s for s in io_top if s.name == "io.delete_insert"), "s")
    m["io.tracking_rewrite_s"] = (
        total(s for s in io_top if s.name == "io.rewrite_table" and s.attrs["table"] in TRACKING_TABLES), "s")
    m["io.write_calls"] = (len(io_top), "count")
    m["io.bytes_written_mb"] = (io_bytes / MB, "MiB")
    m["io.write_amplification"] = (io_bytes / out["warehouse_bytes"], "ratio")

    dag = named("plans.run_persisted")
    m["plans.dag_s"] = (total(dag), "s")
    m["plans.spark_jobs"] = (sum(tracer.inclusive_jobs(s, kids) for s in dag), "jobs")
    model_writes = [s for s in io_top if under(s, "plans.run_persisted")]
    for model in MODELS:
        m[f"plans.model.{model}_s"] = (total(s for s in model_writes if s.attrs["table"] == model), "s")

    changed = sum(s.attrs.get("keys", 0) for s in named("incremental.changed_key_set"))
    cycle_bytes = sum(s.attrs.get("bytes", 0) for s in io_top if under(s, "incremental.cycle"))
    m["incremental.changed_keys"] = (changed, "count")
    m["incremental.watermark_s"] = (total(named("incremental.high_watermark")), "s")
    m["incremental.rewrite_mb_per_changed_game"] = (
        cycle_bytes / MB / changed if changed else 0.0, "MiB")

    logged = [s for s in spans if s.name.startswith("log_store.")]
    m["log_store.load_s"] = (total(logged), "s")
    m["log_store.bytes_written_mb"] = (sum(s.attrs.get("bytes", 0) for s in logged) / MB, "MiB")

    similar_live_parents = {s.parent for s in named("readers.similar_live")}
    for meth in READER_METHODS:
        if meth == "get_similar":
            ss = [s for s in named("readers.get_similar") if s.span_id not in similar_live_parents]
        elif meth == "get_similar_live":
            ss = named("readers.similar_live")
        else:
            ss = named(f"readers.{meth}")
        m[f"readers.{meth}_ms"] = (_p50_ms([s.dur for s in ss]), "ms")
    handles = named("service.handle")
    m["readers.spark_jobs_per_request"] = (
        sum(tracer.inclusive_jobs(s, kids) for s in handles) / len(handles) if handles else 0.0, "jobs")

    latency = out["reads"]["by_index"]
    overhead = [
        latency[int(s.attrs["rid"])] - s.dur * 1000.0
        for s in handles if s.attrs.get("rid") is not None and int(s.attrs["rid"]) in latency
    ]
    m["service_http.overhead_p50_ms"] = (statistics.median(overhead) if overhead else 0.0, "ms")

    m["process.peak_rss_mb"] = (out["peak_rss_bytes"] / MB, "MiB")
    m["trace.spans"] = (len(spans), "count")
    m["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    tracer.dump(os.path.join(os.path.dirname(out["root"]), "traces", f"{out['name']}.jsonl"))
    return m
