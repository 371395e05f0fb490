"""Per-layer record of a traced run: span self times, counts, stage metrics."""

from __future__ import annotations

from collections import defaultdict

from perfbench import tracing
from perfbench.stats import median

#: stage metrics published per layer
STAGE_KEYS = ["jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"]
#: layer of the benchmark's own spans around a day, a query round or a pass;
#: every other span is a program layer that blocks the result
CYCLE = "cycle"


def per_layer(h, measured) -> dict[str, float]:
    """Readings taken while the session is still up (span fold comes later)."""
    tr = h.tracer
    st = tr.self_times()
    v: dict[str, float] = defaultdict(float)
    v.update(measured.layers)
    v["session.cold_setup_s"] = h.setup_samples[0]
    v["session.jvm_peak_rss_mb"] = h.jvm_peak_rss_mb()
    v["session.gc_s"] = h.gc_s()
    v["caching.bytes_left_cached"] = h.max_cached_bytes
    for sp in tr.spans:
        if sp.parent is None:
            v["trace.wall_s"] += sp.end - sp.start
        if sp.layer == CYCLE:
            v["trace.unattributed_s"] += st[sp.id]
            continue
        v["trace.layers_self_s"] += st[sp.id]
        if sp.layer == "sources":
            v[f"sources.{sp.name}_s"] += st[sp.id]
        elif sp.layer == "views" and sp.name == "register":
            v["views.register_s"] += st[sp.id]
        else:
            v[f"{sp.layer}.self_s"] += st[sp.id]
        if sp.layer == "compact" and sp.name == "upsert_gold":
            v["streaming.microbatches"] += 1
        if sp.layer == "lake_manifest":
            v["lake_manifest.commits"] += 1
    for name, samples in measured.per_query.items():
        v[f"views.{name}.s"] = median(samples)
    v["trace.cycle_p50_s"] = median(measured.cycles)
    return dict(v)


def fold_event_log(h, v: dict[str, float]) -> None:
    """Fold the stopped session's event log into the layer record.

    A stage run under a ``sources`` or ``lake_manifest`` span counts for the
    layer that called it (the silver write of a manifested ingest is ingest
    work), so each layer's stage metrics cover all the Spark work it caused.
    """
    files = tracing.event_log_files(h.event_log_dir, h.app_id)
    spans = h.tracer.spans
    folded = tracing.fold_events(tracing.read_events(files), spans)
    by_id = {sp.id: sp for sp in spans}
    for sp in spans:
        sp.metrics = folded[sp.id]
        owner = sp
        while owner.layer in ("sources", "lake_manifest") and owner.parent is not None:
            owner = by_id[owner.parent]
        layer = owner.layer
        if layer == CYCLE:
            continue
        keys = STAGE_KEYS + ["gc_s", "files_read", "bytes_read"]
        for k in keys:
            v[f"{layer}.{k}"] = v.get(f"{layer}.{k}", 0.0) + sp.metrics[k]
