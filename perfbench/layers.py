"""Per-layer metrics of the traced run, named after the program's modules.

Every value is a figure of one pass, the run's fastest measured pass,
the same pass ``pass_s`` reports (the byte and row counts are the same
in every pass).  Layers a workload does not load report 0.
"""

from __future__ import annotations

from collections import defaultdict

import workloads
from spans import GroupStats, parse_event_log

#: span name -> layer for the Spark split
SPAN_LAYER = {
    "runtime.run": "compiler",
    "sources.export": "sources.export",
    "lineage.materialize": "lineage.write",
    "lineage.record_mapping": "lineage.write",
    "lineage.manifest": "lineage.write",
    "lineage.why": "lineage.reader",
    "lineage.lineage": "lineage.reader",
    "operators.construct": "operators.construct",
    "operators.action": "operators.action",
}
SPLIT_LAYERS = (
    "compiler", "sources.export", "lineage.write", "lineage.reader",
    "operators.construct", "operators.action",
)
SPLIT_METRICS = (
    ("jobs", "count"),
    ("executor_run_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("python_mb", "MB"),
    ("core_util", "ratio"),
)
SPARK_TOTALS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("failed_tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"), ("python_mb", "MB"),
)


def names_and_units() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, in order."""
    out = [
        ("session.get_spark_s", "s"), ("catalog.import_s", "s"),
        ("lang.tokenize_s", "s"), ("lang.parse_s", "s"), ("lang.tokens", "count"),
        ("runtime.run_s", "s"), ("compiler.self_s", "s"), ("compiler.jobs", "count"),
        ("sources.import_s", "s"), ("sources.import_calls", "count"),
        ("sources.export_s", "s"), ("sources.export_rows", "count"),
        ("sources.export_mb", "MB"),
        ("lineage.materialize_s", "s"), ("lineage.materialize_calls", "count"),
        ("lineage.record_mapping_s", "s"), ("lineage.mappings", "count"),
        ("lineage.manifest_s", "s"), ("lineage.snapshot_mb", "MB"),
        ("lineage.mapping_mb", "MB"), ("lineage.trace_mb", "MB"),
        ("lineage.reader_lineage_s", "s"), ("lineage.reader_why_s", "s"),
        ("lineage.trace_overhead", "ratio"),
        ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
        ("operators.action_s", "s"),
    ]
    for q in workloads.CURATION:
        out += [
            (f"curation.{q}.construct_s", "s"),
            (f"curation.{q}.construct_jobs", "count"),
            (f"curation.{q}.action_s", "s"),
        ]
    out.append(("spark.catalyst_s", "s"))
    out += [(f"spark.{m}", u) for m, u in SPARK_TOTALS]
    out.append(("spark.core_util", "ratio"))
    for layer in SPLIT_LAYERS:
        out += [(f"spark.{layer}.{m}", u) for m, u in SPLIT_METRICS]
    out += [
        ("span.first_pass_s", "s"), ("span.pass_s", "s"), ("span.coverage", "ratio"),
        ("span.peak_rss_mb", "MB"),
    ]
    return out


def per_layer_metrics(b, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    rec = b.rec
    passes = [s for s in rec.spans if s.name == "pass"]
    best = passes[b.fastest_pass()]
    spans = [s for s in rec.spans if s.pass_index == best.pass_index and s.name != "pass"]

    dur = defaultdict(float)
    calls = defaultdict(int)
    jobs = defaultdict(int)
    for s in spans:
        dur[s.name] += s.dur
        calls[s.name] += 1
        jobs[s.name] += s.jobs

    v: dict[str, float] = {
        "session.get_spark_s": b.get_spark_s,
        "catalog.import_s": b.catalog_import_s,
        "lang.tokenize_s": dur["lang.tokenize"],
        "lang.parse_s": dur["lang.parse"],
        "lang.tokens": sum(s.counts.get("tokens", 0) for s in spans),
        "runtime.run_s": dur["runtime.run"],
        "compiler.self_s": sum(rec.self_time(s) for s in spans if s.name == "runtime.run"),
        "compiler.jobs": jobs["runtime.run"],
        "sources.import_s": dur["sources.import"],
        "sources.import_calls": calls["sources.import"],
        "sources.export_s": dur["sources.export"],
        # outputs of every pass are summed, the first included
        "sources.export_rows": b.export_rows / len(passes),
        "sources.export_mb": b.export_mb / len(passes),
        "lineage.materialize_s": dur["lineage.materialize"],
        "lineage.materialize_calls": calls["lineage.materialize"],
        "lineage.record_mapping_s": dur["lineage.record_mapping"],
        "lineage.mappings": calls["lineage.record_mapping"],
        "lineage.manifest_s": dur["lineage.manifest"],
        "lineage.snapshot_mb": b.trace_mb["tables"] / len(passes),
        "lineage.mapping_mb": b.trace_mb["mappings"] / len(passes),
        "lineage.trace_mb": b.trace_mb["all"] / len(passes),
        "lineage.reader_lineage_s": dur["lineage.lineage"],
        "lineage.reader_why_s": dur["lineage.why"],
        # a traced script's time over the same script run plain
        "lineage.trace_overhead": (
            sum(dur[f"{q}.traced"] for q in workloads.TRACED_SCRIPTS)
            / sum(dur[q] for q in workloads.TRACED_SCRIPTS)
            if dur[workloads.TRACED_SCRIPTS[0]] else 0.0
        ),
        "operators.construct_s": dur["operators.construct"],
        "operators.construct_jobs": jobs["operators.construct"],
        "operators.action_s": dur["operators.action"],
        "spark.catalyst_s": dur["spark.catalyst"],
    }
    by_id = {s.id: s for s in rec.spans}
    for q in workloads.CURATION:
        kids = [s for s in spans if s.parent is not None and by_id[s.parent].name == q]
        for kind in ("construct", "action"):
            ks = [s for s in kids if s.name == f"operators.{kind}"]
            v[f"curation.{q}.{kind}_s"] = sum(s.dur for s in ks)
            if kind == "construct":
                v[f"curation.{q}.construct_jobs"] = sum(s.jobs for s in ks)

    # Spark event log, split by the span whose job group launched the job
    groups = parse_event_log(b.event_dir)
    span_by_group = {s.group: s for s in spans}
    total = GroupStats()
    per_layer = defaultdict(GroupStats)
    layer_wall = defaultdict(float)
    for s in spans:
        layer = SPAN_LAYER.get(s.name)
        parent_layer = SPAN_LAYER.get(by_id[s.parent].name) if s.parent is not None else None
        if layer and layer != parent_layer:  # nested spans of one layer count once
            layer_wall[layer] += s.dur
    for group, st in groups.items():
        s = span_by_group.get(group)
        if s is None:
            continue  # another pass, set-up or checks
        _add(total, st)
        layer = SPAN_LAYER.get(s.name)
        if layer:
            _add(per_layer[layer], st)
    for m, _ in SPARK_TOTALS:
        v[f"spark.{m}"] = getattr(total, m)
    v["spark.core_util"] = total.executor_run_s / (best.dur * b.cores)
    for layer in SPLIT_LAYERS:
        st = per_layer[layer]
        for m, _ in SPLIT_METRICS:
            if m == "core_util":
                w = layer_wall[layer]
                v[f"spark.{layer}.core_util"] = st.executor_run_s / (w * b.cores) if w else 0.0
            else:
                v[f"spark.{layer}.{m}"] = getattr(st, m)

    v["span.first_pass_s"] = passes[0].dur
    v["span.pass_s"] = best.dur
    v["span.coverage"] = sum(c.dur for c in rec.children(best)) / best.dur
    v["span.peak_rss_mb"] = peak_rss_mb
    return {name: (float(v[name]), unit) for name, unit in names_and_units()}


def _add(acc: GroupStats, st: GroupStats) -> None:
    for k, val in vars(st).items():
        setattr(acc, k, getattr(acc, k) + val)
