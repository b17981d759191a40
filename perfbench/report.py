"""Per-layer metrics of a traced run: spans + event-log job groups.

A job is charged to the innermost span open when it was submitted.  A
layer's ``jobs``, task CPU, shuffle, spill and skew add up the jobs of
its spans' whole subtrees, so a stage carries the Spark work of the
catalog writes, operators and kernels it calls; ``self_s`` is the
span's own time, minus its child spans.  Spark operators are lazy, so
the Spark work of an operator that only builds a plan (most of stage C,
the extraction UDFs) is charged to the catalog write that executes it;
only operators that run jobs themselves (components, materialize, the
graph kernels) carry their own jobs.
"""

from __future__ import annotations

from .eventlog import GroupStats, skew
from .spans import Span, covered, outermost, self_times

STAGES = ("a", "b", "c", "d", "e")
GRAPH_KERNELS = ("pagerank_int", "triangle_counts", "label_propagation", "modularity")
DEDUP_PASSES = ("minhash_lsh", "simhash", "winnow")
STAGE_FIELDS = ("self_s", "jobs", "task_cpu_s", "shuffle_mb", "spill_mb", "skew")

# (metric, unit, better, end-to-end metric and workload it should move)
PER_LAYER = (
    [(f"stage_{s}.{f}", u, "lower", t)
     for s, t in (("a", "wall_s full_build"), ("b", "wall_s full_build"),
                  ("c", "wall_s,cpu_s full_build"), ("d", "wall_s full_build"),
                  ("e", "wall_s full_build"))
     for f, u in zip(STAGE_FIELDS, ("s", "count", "s", "MB", "MB", "ratio"))]
    + [("pipeline_tail.self_s", "s", "lower", "wall_s full_build"),
       ("pipeline_tail.jobs", "count", "lower", "wall_s full_build"),
       ("catalog.calls", "count", "lower", "wall_s full_build"),
       ("catalog.write_s", "s", "lower", "wall_s full_build"),
       ("catalog.commit_s", "s", "lower", "wall_s full_build"),
       ("catalog.written_mb", "MB", "lower", "written_mb full_build"),
       ("catalog.files_written", "count", "lower", "written_mb full_build"),
       ("catalog.merge_buckets_rewritten_frac", "ratio", "lower",
        "written_mb full_build"),
       ("checkpoint.calls", "count", "lower", "wall_s full_build"),
       ("checkpoint.self_s", "s", "lower", "wall_s full_build"),
       ("checkpoint.jobs", "count", "lower", "wall_s full_build"),
       ("components.self_s", "s", "lower", "wall_s full_build"),
       ("components.jobs", "count", "lower", "wall_s full_build")]
    + [(f"graph_analytics.{k}.{f}", u, "lower", "wall_s full_build")
       for k in GRAPH_KERNELS for f, u in (("self_s", "s"), ("jobs", "count"))]
    + [("materialize.self_s", "s", "lower", "wall_s full_build"),
       ("materialize.jobs", "count", "lower", "wall_s full_build"),
       ("canonicalize.candidate_pairs", "count", "lower", "cpu_s full_build"),
       ("canonicalize.verified_pairs", "count", "higher", "cpu_s full_build"),
       ("canonicalize.pair_yield", "ratio", "higher", "cpu_s full_build")]
    + [(f"dedup.{p}.{f}", u, "lower", "wall_s,cpu_s doc_dedup")
       for p in DEDUP_PASSES
       for f, u in (("self_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"))]
    + [("spark.jobs", "count", "lower", "wall_s all"),
       ("spark.task_cpu_s", "s", "lower", "cpu_s all"),
       ("spark.shuffle_mb", "MB", "lower", "wall_s all"),
       ("spark.spill_mb", "MB", "lower", "wall_s all"),
       ("spark.peak_rss_mb", "MB", "lower", "none (whole process tree)"),
       ("tracing_overhead", "ratio", "lower", "none (traced / untraced wall_s)")]
)


def _descendants(spans: list[Span]) -> dict[str, list[str]]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out = {}
    for s in spans:
        todo, seen = [s.sid], []
        while todo:
            sid = todo.pop()
            seen.append(sid)
            todo.extend(kids.get(sid, ()))
        out[s.sid] = seen
    return out


def layer_metrics(spans: list[Span], groups: dict, extra: dict) -> dict:
    """Every PER_LAYER metric (0 where a layer did not run), except
    ``tracing_overhead`` when it could not be measured.  ``extra`` holds
    the numbers measured outside spans: catalog file counts, merge
    bucket counts, canonicalize pair counts, peak memory, tracing
    overhead."""
    selft = self_times(spans)
    desc = _descendants(spans)
    empty = GroupStats()

    def subtree(roots: list[Span], minus: list[Span] = ()) -> GroupStats:
        sids = {d for s in roots for d in desc[s.sid]}
        sids -= {d for s in minus for d in desc[s.sid]}
        g = GroupStats()
        for sid in sids:
            g.add(groups.get(sid, empty))
        return g

    def named(name: str) -> tuple[list[Span], GroupStats]:
        ss = [s for s in spans if s.name == name]
        return ss, subtree(ss)

    m: dict[str, float] = {}
    for st in STAGES:
        ss, g = named(f"stage_{st}")
        m.update({
            f"stage_{st}.self_s": sum(selft[s.sid] for s in ss),
            f"stage_{st}.jobs": g.jobs,
            f"stage_{st}.task_cpu_s": g.task_cpu_s,
            f"stage_{st}.shuffle_mb": g.shuffle_mb,
            f"stage_{st}.spill_mb": g.spill_mb,
            f"stage_{st}.skew": skew(g.stage_tasks) if ss else 0,
        })
    # the run tail: the pipeline's work outside the stage subtrees
    tail = [s for s in spans if s.name == "pipeline"]
    m["pipeline_tail.self_s"] = sum(selft[s.sid] for s in tail)
    m["pipeline_tail.jobs"] = subtree(
        tail, [s for s in spans if s.name.startswith("stage_")]).jobs
    for name in ("components", "materialize",
                 *(f"graph_analytics.{k}" for k in GRAPH_KERNELS)):
        ss, g = named(name)
        m[f"{name}.self_s"] = sum(selft[s.sid] for s in ss)
        m[f"{name}.jobs"] = g.jobs

    outer = outermost(spans, "catalog")
    commit = 0.0
    for s in outer:
        jobs = [iv for d in desc[s.sid] for iv in groups.get(d, empty).job_intervals]
        commit += (s.end - s.start) - covered(jobs, s.start, s.end)
    rewritten = sum(r for r, _ in extra.get("merges", ()))
    buckets = sum(n for _, n in extra.get("merges", ()))
    m.update({
        "catalog.calls": len(outer),
        "catalog.write_s": sum(s.end - s.start for s in outer),
        "catalog.commit_s": commit,
        "catalog.written_mb": extra.get("warehouse_written_mb", 0),
        "catalog.files_written": extra.get("warehouse_files_written", 0),
        "catalog.merge_buckets_rewritten_frac": rewritten / buckets if buckets else 0,
    })

    ck = outermost(spans, "checkpoint")
    m.update({
        "checkpoint.calls": len(ck),
        "checkpoint.self_s": sum(selft[s.sid] for s in spans
                                 if s.name.startswith("checkpoint.")),
        "checkpoint.jobs": subtree(ck).jobs,
    })

    cand = extra.get("candidate_pairs", 0)
    ver = extra.get("verified_pairs", 0)
    m.update({
        "canonicalize.candidate_pairs": cand,
        "canonicalize.verified_pairs": ver,
        "canonicalize.pair_yield": ver / cand if cand else 0,
    })
    for p in DEDUP_PASSES:
        ss, g = named(f"dedup.{p}")
        m[f"dedup.{p}.self_s"] = sum(selft[s.sid] for s in ss)
        m[f"dedup.{p}.task_cpu_s"] = g.task_cpu_s
        m[f"dedup.{p}.shuffle_mb"] = g.shuffle_mb

    total = GroupStats()
    for s in spans:
        total.add(groups.get(s.sid, empty))
    m.update({
        "spark.jobs": total.jobs,
        "spark.task_cpu_s": total.task_cpu_s,
        "spark.shuffle_mb": total.shuffle_mb,
        "spark.spill_mb": total.spill_mb,
        "spark.peak_rss_mb": extra.get("peak_rss_mb", 0),
    })
    if "tracing_overhead" in extra:
        m["tracing_overhead"] = extra["tracing_overhead"]
    return m
