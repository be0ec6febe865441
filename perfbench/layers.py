"""Per-layer metrics of one traced run (``--trace 1``).

Stage metrics are ``<layer>.<stage>.{wall_s,task_cpu_s,shuffle_write_bytes,
spill_bytes,rows}``: wall is the span's self time, the task metrics are
those of the Spark jobs tagged with the stage's job group (read from the
event log), rows is the stage output's row count. The remaining names
are layer counters listed in ``LAYER_METRICS``.
"""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from perfbench.evaluate import pairwise_scores
from perfbench.trace import FUNCTIONS, STAGE_LAYER, self_times, task_metrics_by_group

CPU_ATTRIBUTION_TOLERANCE = 0.05  # README.md "Traced run"

STAGE_FIELDS = {
    "wall_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "rows": "count",
}

LAYER_METRICS = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.input_bytes": "bytes",
    "blocking.prefilter_pass_ratio": "ratio",
    "blocking.max_block_members": "count",
    "tfidf.prep.mean_nnz": "count",
    "scoring.fit.wall_s": "s",
    "scoring.fit.calls": "count",
    "scoring.calibrate.wall_s": "s",
    "scoring.accept_ratio": "ratio",
    "clustering.cc.wall_s": "s",
    "clustering.cc.calls": "count",
    "clustering.n_clusters": "count",
    "clustering.max_cluster_size": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.bytes_per_input_byte": "ratio",
    "checkpoint.stages_resumed": "count",
    "pipeline.traced_wall_s": "s",
    "pipeline.warm_wall_s": "s",
    "pipeline.jobs": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.overlap_s": "s",
    "pipeline.task_cpu_s": "s",
    "pipeline.cpu_attributed_ratio": "ratio",
    "pipeline.leaked_cached_rdds": "count",
    "pipeline.leaked_cached_bytes": "bytes",
}


def metric_names() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    names = {}
    for stage, layer in STAGE_LAYER.items():
        for fld, unit in STAGE_FIELDS.items():
            names[f"{layer}.{stage}.{fld}"] = unit
    names.update(LAYER_METRICS)
    return names


def untimed_counts(bench, traced: dict) -> dict:
    """Counts read from the traced run's stage outputs after it ended,
    outside every timed window."""
    from bigdataentityresolution_spark.operators import blocking as B
    from bigdataentityresolution_spark.plans.pipeline import ERConfig

    res = traced["result"]
    cands = res["candidates"]
    n_lex = cands.count()
    n_pass = cands.filter(F.col("est_j") >= F.lit(float(ERConfig().sig_prefilter))).count()
    max_block = B.block_stats(res["membership"]).agg(F.max("n_members")).first()[0]
    mean_nnz = res["docs_prep"].agg(F.avg(F.size("features"))).first()[0]
    n_pos_labels = bench.pairs.filter(F.col("label") == 1).count()
    return {
        "prefilter_pass_ratio": n_pass / n_lex if n_lex else 0.0,
        "max_block_members": int(max_block or 0),
        "mean_nnz": float(mean_nnz or 0.0),
        "n_pos_labels": n_pos_labels,
    }


def summarize(bench, tracer, traced, warm, resumed, extra, events) -> tuple[dict, list]:
    """(metrics, failed cross-checks) of the traced run. ``warm`` is the
    untraced run after it; ``resumed`` the resume in workdir mode, or None."""
    spans = [s for s in tracer.spans if s.run_id == traced["tag"]]
    root = next(s for s in spans if s.kind == "run")
    t0, t1 = root.start, root.end
    wall = t1 - t0
    selft, gap, overlap = self_times(spans, t0, t1)
    ev = task_metrics_by_group(events, t0, t1)
    groups = ev["groups"]

    def group_sum(name: str, field: str) -> float:
        # job groups are "/"-joined span paths; a group belongs to its last span
        return sum(g[field] for k, g in groups.items() if k and k.split("/")[-1] == name)

    out: dict = {}
    checks: list[str] = []
    for stage, layer in STAGE_LAYER.items():
        sp = [s for s in spans if s.kind == "stage" and s.name == stage]
        if len(sp) != 1:
            checks.append(f"stage {stage}: {len(sp)} spans in the traced run")
            continue
        out[f"{layer}.{stage}.wall_s"] = selft.get(sp[0].id, 0.0)
        for fld in ("task_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{layer}.{stage}.{fld}"] = group_sum(stage, fld)
        out[f"{layer}.{stage}.rows"] = sp[0].attrs.get("rows", 0)

    def fn_spans(prefix: str) -> list:
        return [s for s in spans if s.kind == "fn" and FUNCTIONS[s.name][1] == prefix]

    fit, cal, cc = fn_spans("fit"), fn_spans("calibrate"), fn_spans("cc")
    final_cc = max(cc, key=lambda s: s.start)  # the `cluster` stage's call
    n_feat = out.get("scoring.cand_features.rows", 0)
    accepted = final_cc.attrs.get("edges_in", 0) - extra["n_pos_labels"]
    scores = pairwise_scores(traced["labels"], bench.truth)
    total_cpu = sum(g["task_cpu_s"] for g in groups.values())
    attributed = sum(g["task_cpu_s"] for k, g in groups.items() if k)
    out.update(
        {
            "session.start_s": bench.session_start_s,
            "sources.load_s": statistics.median(bench.load_s),
            "sources.input_bytes": bench.corpus["files_bytes"],
            "blocking.prefilter_pass_ratio": extra["prefilter_pass_ratio"],
            "blocking.max_block_members": extra["max_block_members"],
            "tfidf.prep.mean_nnz": extra["mean_nnz"],
            "scoring.fit.wall_s": sum(s.end - s.start for s in fit),
            "scoring.fit.calls": len(fit),
            "scoring.calibrate.wall_s": sum(s.end - s.start for s in cal),
            "scoring.accept_ratio": accepted / n_feat if n_feat else 0.0,
            "clustering.cc.wall_s": sum(s.end - s.start for s in cc),
            "clustering.cc.calls": len(cc),
            "clustering.n_clusters": scores["n_clusters"],
            "clustering.max_cluster_size": scores["max_cluster_size"],
            "checkpoint.bytes_written": traced["workdir_bytes"],
            "checkpoint.bytes_per_input_byte": traced["workdir_bytes"] / bench.corpus["files_bytes"],
            "checkpoint.stages_resumed": resumed["stages_resumed"] if resumed else 0,
            "pipeline.traced_wall_s": wall,
            "pipeline.jobs": ev["jobs"],
            "pipeline.driver_gap_s": gap,
            "pipeline.overlap_s": overlap,
            "pipeline.warm_wall_s": warm["wall_s"],
            "pipeline.task_cpu_s": total_cpu,
            "pipeline.cpu_attributed_ratio": attributed / total_cpu if total_cpu else 0.0,
            "pipeline.leaked_cached_rdds": traced["leaked_cached_rdds"],
            "pipeline.leaked_cached_bytes": traced["leaked_cached_bytes"],
        }
    )

    # Cross-checks (README.md "Traced run"): job-group CPU covers the event
    # log's executor CPU, and self times plus gap account for the wall.
    if total_cpu <= 0 or abs(1 - attributed / total_cpu) > CPU_ATTRIBUTION_TOLERANCE:
        checks.append(f"job-group task CPU {attributed:.2f}s vs event-log total {total_cpu:.2f}s")
    accounted = sum(selft.values()) + gap - overlap
    if abs(accounted - wall) > 0.01 * wall:
        checks.append(f"self times + gap - overlap = {accounted:.2f}s vs traced wall {wall:.2f}s")

    names = metric_names()
    missing = [k for k in names if k not in out]
    if missing:
        checks.append(f"per-layer metrics missing: {missing}")
    return {k: (out[k], names[k]) for k in names if k in out}, checks
