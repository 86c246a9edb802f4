"""How each metric is derived.

The metric names and units are those of ``BENCHMARK.json``:
``end_to_end`` is what every untraced run prints, and ``per_layer``
turns a traced run's spans and counters into the per-layer set. The
README maps each per-layer metric to the end-to-end metric and workload
it should move.
"""

from __future__ import annotations

import json
import os

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the analytics suite's queries by implementing layer (registry module)
QUERY_LAYER = {
    "q1_pricing_summary": "operators", "q3_shipping_priority": "operators",
    "q5_local_supplier_volume": "operators", "q10_returned_items": "operators",
    "q6_forecast_revenue": "operators", "q7_volume_shipping": "operators",
    "q9_profit_by_nation": "operators", "q18_large_volume_customer": "operators",
    "q19_disc_revenue_or": "operators", "agg_distinct_multi": "operators",
    "agg_rollup": "operators", "window_topk_per_group": "operators",
    "window_running_sum": "operators", "tumble_events_15m": "operators",
    "hop_events_30m_15m": "operators", "sessionize_events": "operators",
    "asof_join_last_click": "operators", "events_json_extract": "operators",
    "dedup_exact_docs": "functions", "dedup_minhash_lsh": "functions",
    "dedup_simhash": "functions", "dedup_span_exact": "functions",
    "text_quality_scores": "functions", "ann_cosine_topk": "functions",
    "ann_ivf_topk": "functions", "agg_salted_skew": "operators",
    "multimodal_audio_dedup": "functions",
}


def _spec_units(key: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


END_TO_END = _spec_units("end_to_end")
PER_LAYER = _spec_units("per_layer")


def end_to_end(res: dict, setup_s: float) -> dict[str, tuple[float, str]]:
    vals = {
        "setup_s": setup_s,
        "op_ms_tmean": stats.trimmed_mean(res["op_ms"]),
        "visible_ms_tmean": stats.trimmed_mean(res["visible_ms"]),
        "ops_per_s": res["ops_per_s"],
    }
    return {k: (vals[k], END_TO_END[k]) for k in END_TO_END}


def per_layer(run, res: dict, setup: dict, timed: dict) -> dict[str, tuple[float, str]]:
    """Per-layer values from the traced run's span summaries of the
    set-up (``setup``) and timed (``timed``) intervals."""
    v: dict[str, float] = {}
    calls = timed["calls"]

    def put(prefix: str, span: str) -> None:
        c = calls.get(span)
        if c:
            v[f"{prefix}.calls"] = c["calls"]
            v[f"{prefix}.ms_p50"] = c["p50"]
            v[f"{prefix}.ms_p99"] = c["p99"]

    for fn in ("core.insert_row", "engine.insert_rows_local", "engine.flush"):
        put(fn, fn)
    for q in (90, 99):
        v[f"harness.op_ms_p{q}"] = stats.pct(res["op_ms"], q)
        v[f"harness.visible_ms_p{q}"] = stats.pct(res["visible_ms"], q)
    cnt = run.window_counts()
    if cnt.get("core.poll.calls"):
        v["core.poll.useful_ratio"] = cnt.get("core.poll.useful", 0) / cnt["core.poll.calls"]
    c = calls.get("plans.rewrite.classify")
    if c:
        v["plans.rewrite.classify.calls"] = c["calls"]
        v["plans.rewrite.classify.ms_total"] = c["total"]
    if cnt.get("engine.insert_rows_local.calls"):
        v["engine.direct_ingest_ratio"] = (cnt.get("engine.insert_rows_local.direct", 0)
                                           / cnt["engine.insert_rows_local.calls"])
    for name, c in calls.items():
        if name.startswith("engine.refresh_mv:"):
            mv = name.split(":", 1)[1]
            v[f"engine.refresh_mv.{mv}.ms_p50"] = c["p50"]
            v[f"engine.refresh_mv.{mv}.ms_p99"] = c["p99"]
    for k, d in res.get("direct_stats_delta", {}).items():
        v[f"engine.direct_stats.{k}"] = d
    c = calls.get("engine.fetch_cursor")
    if c:
        v["engine.fetch_cursor.calls"] = c["calls"]
        v["engine.fetch_cursor.ms_total"] = c["total"]
        v["engine.fetch_cursor.rows"] = cnt.get("engine.fetch_cursor.rows", 0)
        v["engine.fetch_cursor.empty_ratio"] = cnt.get("engine.fetch_cursor.empty", 0) / c["calls"]
    v["spark.materialize_ms_total"] = sum(
        calls.get(f"spark.{fn}", {}).get("total", 0.0) for fn in ("collect", "toPandas"))
    for q, ms in res.get("query_ms", {}).items():
        v[f"{QUERY_LAYER[q]}.{q}.ms"] = ms
    v["harness.query_total_s"] = sum(res.get("query_ms", {}).values()) / 1000.0
    scalls = setup["calls"]
    v["catalog.table.ms_total"] = scalls.get("catalog.table", {}).get("total", 0.0)
    v["catalog.ddl.ms_p50"] = scalls.get("core.ddl", {}).get("p50", 0.0)
    v["session.build_session.s"] = scalls.get("session.build_session", {}).get("total", 0.0) / 1000
    v["engine.init.ms"] = scalls.get("engine.init", {}).get("p50", 0.0)
    v.update(run.spark_runtime(res["ops"]))
    v.update(run.storage(res["input_bytes"]))
    v.update(res.get("layer", {}))
    v["harness.peak_rss_mb"] = run.peak_rss_mb()
    for layer, ms in timed["self_ms"].items():
        v[f"layer.{layer}.self_ms"] = ms
    window_ms = (res["t_last"] - res["t_first"]) * 1000
    v["trace.spans"] = timed["spans"]
    v["trace.overhead_ms"] = timed["overhead_ms"]
    v["trace.overhead_pct"] = 100.0 * timed["overhead_ms"] / max(1e-9, window_ms)
    return {k: (v.get(k, 0.0), PER_LAYER[k]) for k in PER_LAYER}
