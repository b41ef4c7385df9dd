"""Metrics from a finished run: the end-to-end set from the spans alone,
the per-layer set from the spans plus the Spark event log."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import pandas as pd

from adaptive_pdf_extractor_spark.functions.normalize import normalize_series
from adaptive_pdf_extractor_spark.functions.rules import RuleBook, apply_rules_vectorized
from adaptive_pdf_extractor_spark.sources.corpus import assemble_text

from . import trace
from .workloads import Bench


def end_to_end(b: Bench) -> dict[str, float]:
    wall = b.tracer.median("timed.main")
    return {
        "wall_s": wall,
        "docs_per_s": b.n_docs / wall,
        "setup_s": b.tracer.total("session.get_spark") + b.tracer.total("setup"),
        "output_accuracy": b.accuracy,
        "pass_ratio": 1 - b.failed / b.attempted,
    }


# job call-site function -> layer (resolved from the program's source, so
# moved lines keep their layer; a renamed function lands in "other")
SITE_LAYER = {
    "pipeline:aggregate_weights": "plans.pipeline.aggregate_weights",
    "pipeline:_round_metrics": "plans.pipeline.round_metrics",
    "pipeline:_discover_anchors": "operators.miner.discover_anchors",
    "pipeline:_mine": "operators.miner.mine",
    "pipeline:load_rules_snapshot": "plans.checkpoint.resume_read",
}


def _layer(job: trace.Job, last_commit: float) -> str:
    if job.site is not None:
        return SITE_LAYER.get(job.site, "other")
    # writes carry no call site: rules snapshots inside the round loop,
    # the output table after it
    return ("plans.checkpoint.snapshot" if job.end <= last_commit + 1e-3
            else "plans.pipeline.final_pass")


def _functions(texts: list[str], groups: dict, book: RuleBook | None) -> dict:
    """Driver-side UDF kernels on a fixed sample, apart from JVM time:
    seconds per 10k documents."""
    s = pd.Series(texts, dtype=object)
    t0 = time.perf_counter()
    norm = normalize_series(s)
    t_norm = time.perf_counter() - t0
    t_rules = 0.0
    for (label, fields), rows in groups.items():
        sub = norm.iloc[rows]
        t0 = time.perf_counter()
        for f in fields:
            apply_rules_vectorized(sub, book.rules_for(label, f))
        t_rules += time.perf_counter() - t0
    return {
        "functions.normalize.normalize_series.s_per_10k": t_norm / len(texts) * 1e4,
        "functions.rules.apply_rules_vectorized.s_per_10k": t_rules / len(texts) * 1e4,
        "functions.rules.RuleBook.rules": book.n_rules() if book else 0,
    }


def per_layer(b: Bench, log: trace.EventLog, control_s: float) -> dict[str, float]:
    tr = b.tracer
    tr.attach(list(log.jobs.values()))
    main, follow = tr.named("timed.main"), tr.named("followup")
    m: dict[str, float] = {
        "machine.nproc": b.nproc,
        "machine.spark_parallelism": b.cpus,
        "machine.control_loop_s": control_s,
        "machine.peak_rss_mb": b.rss.peak_mb,
        "session.get_spark.s": tr.total("session.get_spark"),
        "sources.spark_io.synthetic_corpus_df.s": tr.total("sources.spark_io.synthetic_corpus_df"),
        "sources.spark_io.write_table.s": tr.total("sources.spark_io.write_table"),
        "sources.spark_io.read_table.s": statistics.median(
            s.dur for s in tr.named("sources.spark_io.read_table")),
        "trace.wall_s": tr.median("timed.main"),
        "trace.followup_s": tr.median("followup"),
        "spark.cache_entries_left": b.cache_entries_left,
    }

    # engine counters per timed main query (mean over reps; skew is a max)
    eng = [trace.engine_metrics(log, tr.jobs_under(sp)) for sp in main]
    for k in eng[0]:
        m[k] = (max if k == "spark.task_skew" else statistics.mean)(e[k] for e in eng)

    if b.workload == "adaptive_learn":
        _adaptive(b, log, main, follow, m)
    else:
        summary = b.facts["summary"]
        m["plans.curation.curation_run.s"] = tr.median("followup")
        m["plans.curation.curate_increment.s"] = tr.median("timed.main")
        m["plans.curation.keep_rate"] = summary["keep_rate"]
        m["operators.dedup.star_candidate_rows"] = summary["guard"]["star_candidate_rows"]
        m["operators.dedup.max_oversized_bucket"] = summary["guard"]["max_oversized_bucket"] or 0
        m.update(_functions(b.facts["texts"], {}, None))
        m["trace.coverage"] = 1.0  # every job is a child of the public call
    return m


def _adaptive(b: Bench, log: trace.EventLog, main, follow, m) -> None:
    tr = b.tracer
    reps = []
    for sp, state in zip(main, b.facts["manifests"]):
        jobs = tr.jobs_under(sp)
        commits = [r["committed_at"] for r in state["rounds"]]
        layer = {j.id: _layer(j, commits[-1]) for j in jobs}
        by: dict[str, float] = defaultdict(float)
        for j in jobs:
            by[layer[j.id]] += j.dur
        loop_jobs = [j for j in jobs if j.end <= commits[-1] + 1e-3]
        mined = sum(log.node_rows(q, "FlatMapGroupsInPandas") for q in
                    {j.sql_id for j in jobs if layer[j.id] == "operators.miner.mine"})
        accepted = sum(r["n_new_rules"] for r in state["rounds"])
        job_union = trace.union_s([(j.start, j.end) for j in jobs])
        other = trace.union_s([(j.start, j.end) for j in jobs if layer[j.id] == "other"])
        starts = [sp.start] + commits
        summary = state["summary"]
        reps.append({
            "plans.pipeline.rounds": len(commits),
            "plans.pipeline.round.s": statistics.median(
                end - start for start, end in zip(starts, commits)),
            "plans.pipeline.aggregate_weights.s": by["plans.pipeline.aggregate_weights"],
            "plans.pipeline.round_metrics.s": by["plans.pipeline.round_metrics"],
            "plans.pipeline.final_pass.s": by["plans.pipeline.final_pass"],
            "plans.pipeline.jobs_per_round": len(loop_jobs) / len(commits),
            "plans.pipeline.driver_self_s": sp.dur - job_union,
            "plans.checkpoint.snapshot.s": by["plans.checkpoint.snapshot"],
            "operators.miner.mine.s": by["operators.miner.mine"],
            "operators.miner.discover_anchors.s": by["operators.miner.discover_anchors"],
            "operators.miner.rules_mined": mined,
            "operators.miner.rules_accepted": accepted,
            "operators.miner.accept_ratio": accepted / mined if mined else 0.0,
            # extraction runs inside the aggregate_weights action of each
            # round (the persisted pass) and in the final-pass write
            "operators.extract.s": by["plans.pipeline.aggregate_weights"]
            + by["plans.pipeline.final_pass"],
            "operators.extract.docs": sum(r["metrics"]["docs"] for r in state["rounds"])
            + summary["docs"],
            "operators.extract.rule_hits": summary["rule_hits"],
            "operators.extract.unresolved_fields": summary["unresolved_fields"],
            "operators.extract.hit_ratio": summary["rule_hits"] / b.facts["fields"],
            "trace.coverage": 1 - other / sp.dur,
            "trace.unattributed_job_s": other,
        })
    for k in reps[0]:
        m[k] = statistics.median(r[k] for r in reps)
    m["plans.checkpoint.resume_read.s"] = statistics.median(
        sum(j.dur for j in tr.jobs_under(sp)
            if _layer(j, 0.0) == "plans.checkpoint.resume_read")
        for sp in follow
    )
    groups: dict = defaultdict(list)
    texts = []
    for i, row in enumerate(b.facts["sample"]):
        texts.append(assemble_text(s.asDict() for s in row["spans"]))
        groups[(row["label"], tuple(f["name"] for f in row["schema_fields"]))].append(i)
    m.update(_functions(texts, groups, RuleBook.from_rows(b.facts["rules"])))
