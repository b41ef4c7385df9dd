"""The two workloads and the harness they share.

Each workload builds its seeded inputs and runs its timed query once as a
warm-up, then runs it (the ``timed.main`` span) as many times as fit in
the run's seconds, checking every output against ground truth right after
the query ends.
Set-up (session start, input writes, warm-up passes) is timed apart, so
work moved into set-up shows in ``setup_s``. A traced run then runs the
workload's second query once (the ``followup`` span) for the per-layer
metrics.
"""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.operators.dedup import minhash_signatures_df
from adaptive_pdf_extractor_spark.plans.curation import curate_increment, curation_run
from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy
from adaptive_pdf_extractor_spark.plans.pipeline import ExtractionPipeline, PipelineConfig
from adaptive_pdf_extractor_spark.session import get_spark
from adaptive_pdf_extractor_spark.sources import spark_io
from adaptive_pdf_extractor_spark.sources.corpus import DEFAULT_SCHEMA

from . import inputs, machine, trace

# local[N], N = min(nproc, 2). Both timed queries are many small Spark
# jobs, bound by per-job and per-task overhead rather than by cores: on a
# shared 4-vCPU host, local[2] timed the learn query as fast as local[4]
# (median 10.7 s vs 10.0 s over five seeds) and steadier (quartile
# spread 6% vs 19%), and the delta curation faster.
MAX_CPUS = 2

# Every workload runs its timed query once in set-up before timing it. The
# JVM compiles hot methods after 1/20 of its default invocation counts, so
# the timed queries that follow run closer to their steady state: with
# default thresholds the learn query kept speeding up for ~6 passes (9.7 s
# down to 6.0 s), with this scaling for ~3.
JIT_OPTIONS = "-XX:CompileThresholdScaling=0.05"

# adaptive_learn: OAB cards plus random-schema templates
OAB_DOCS = 5_000
TEMPLATES = 4
TEMPLATE_DOCS = 250
MIN_ACCURACY = 0.9
# Two rounds: mine, then mine the stragglers or confirm convergence. Left
# at the default (5), a seed whose round 1 mines one straggler rule runs a
# third round and reads ~30% slower than one that converges in two, so
# the timings would follow the seed instead of the code.
LEARN_CONFIG = PipelineConfig(max_rounds=2)

# curation_lsh: base docs, planted copies, a flood over the guard cap (256)
CURATION = dict(n_base=200, n_copies=20, flood=280, delta_fresh=100,
                delta_copies=30, delta_reingest=20, delta_pairs=20)
DOCS_DDL = "doc_id long, text string"


class Bench:
    """One benchmark run: working directory, Spark session, spans, and the
    tally of checked queries."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.workload, self.seed, self.seconds, self.traced = (
            workload, seed, seconds, traced)
        self.work = os.path.join(root, "pdfbench", "_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.nproc = len(os.sched_getaffinity(0))
        self.cpus = min(self.nproc, MAX_CPUS)
        self.tracer = trace.Tracer()
        self.span = self.tracer.span
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.accuracy: float | None = None
        self.n_docs = 0
        self.cache_entries_left = 0
        self.facts: dict = {}   # workload-specific inputs to the layer metrics
        self.spark = None
        self.rss = None  # machine.PeakRss, reset when the timed loop starts

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        # keep every scratch file in the run dir: the Python workers', and
        # those of both JVMs spark-submit starts (launcher and driver)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData {JIT_OPTIONS} -Djava.io.tmpdir={self.path('tmp')}")
        conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": self.path("tmp"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                # the default codec, zstd, needs the zstandard Python module
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            })
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"pdfbench-{self.workload}", cpus=self.cpus,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, then wait for every process they
        started (the Python workers are the JVM's children)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = machine.descendants(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        machine.wait_gone(started, timeout_s=30)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # -- checks and the timed loop -----------------------------------------

    def check(self, ok: bool, what: str) -> None:
        """Count one timed query; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def repeat(self, rep) -> None:
        """Run ``rep(i)`` as many times as fit in the run's seconds, at
        least once: a rep starts only if one more of the longest so far
        still ends inside the window. A rep that would overrun is not
        started, so a slightly faster host does not add a second, warmer
        rep to the median."""
        if self.rss is not None:
            self.rss.reset()
        t0, longest, i = time.time(), 0.0, 0
        while i == 0 or time.time() - t0 + longest <= self.seconds:
            start = time.time()
            rep(i)
            longest = max(longest, time.time() - start)
            i += 1

    def concurrently(self, *fns) -> None:
        """Run independent set-up steps side by side (Spark takes actions
        from several threads) and re-raise the first failure."""
        with ThreadPoolExecutor(len(fns)) as pool:
            for fut in [pool.submit(fn) for fn in fns]:
                fut.result()

    def note_cache(self) -> None:
        """Persisted RDDs the last query left behind (a leak if nonzero)."""
        self.cache_entries_left = (
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )

    def write(self, df, path: str, mode: str = "overwrite") -> None:
        with self.span("sources.spark_io.write_table"):
            spark_io.write_table(df, path, mode=mode)

    def read(self, path: str):
        with self.span("sources.spark_io.read_table"):
            return spark_io.read_table(self.spark, path)


def digest(df, key: str, value: str) -> tuple:
    """Order-independent fingerprint of a (key, value) table: row count and
    XOR of the rows' hashes."""
    return tuple(df.select(
        F.count("*"), F.bit_xor(F.xxhash64(key, F.to_json(value)))).first())


# --------------------------------------------------------------------------
# adaptive_learn
# --------------------------------------------------------------------------


def adaptive_learn(b: Bench) -> None:
    """Learn a rulebook from empty rules on a seeded multi-template corpus
    (``ExtractionPipeline.run`` to the committed output). Traced runs then
    resume the committed run once: a converged resume (snapshot read,
    final pass, output write)."""
    spark = b.spark
    table = b.path("docs")
    templates = inputs.template_rows(b.seed, TEMPLATES, TEMPLATE_DOCS)
    b.n_docs = OAB_DOCS + len(templates)
    b.facts["fields"] = OAB_DOCS * len(DEFAULT_SCHEMA) + sum(
        len(r["schema_fields"]) for r in templates)

    def write_inputs() -> None:
        with b.span("sources.spark_io.synthetic_corpus_df"):
            oab = spark_io.synthetic_corpus_df(
                spark, seed=b.seed, count=OAB_DOCS, partitions=2 * b.cpus,
                corpus="oab")
            spark_io.write_table(oab, table)
        b.write(spark_io.input_df_from_rows(spark, templates), table, mode="append")

    run_dir = b.path("run")
    b.facts["manifests"] = []

    def learn(span: str):
        shutil.rmtree(run_dir, ignore_errors=True)
        docs = b.read(table)
        with b.span(span):
            pipe = ExtractionPipeline(spark, run_dir, LEARN_CONFIG)
            out = pipe.run(docs, initial_rules_rows=[])
        return docs, pipe, out

    with b.span("setup"):
        write_inputs()
        # warm-up: the timed query once on the same table. The learning
        # must converge (no field left unresolved) and reach MIN_ACCURACY;
        # its output is the reference every timed output must match.
        docs, pipe, out = learn("warmup")
        unresolved = pipe.manifest.state["summary"]["unresolved_fields"]
        acc = field_accuracy(out, docs)
        if unresolved or acc.docs != b.n_docs or acc.accuracy < MIN_ACCURACY:
            raise RuntimeError(
                f"warm-up learning left {unresolved} fields unresolved, "
                f"accuracy {acc.accuracy:.4f} over {acc.docs} docs")
        b.accuracy = acc.accuracy
        b.facts["digest"] = digest(out, "doc_id", "spans")

    def rep(i: int) -> None:
        _, pipe, out = learn("timed.main")
        b.note_cache()
        b.facts["manifests"].append(copy.deepcopy(pipe.manifest.state))
        b.check(digest(out, "doc_id", "spans") == b.facts["digest"],
                f"learn output of rep {i} differs from the warm-up's")

    b.repeat(rep)
    if b.traced:
        docs = b.read(table)
        with b.span("followup"):
            ExtractionPipeline(spark, run_dir, LEARN_CONFIG).run(docs)
        resumed = digest(b.read(os.path.join(run_dir, "output")), "doc_id", "spans")
        b.check(resumed == b.facts["digest"], "resumed output differs from the learned output")
        b.facts["rules"] = ExtractionPipeline(spark, run_dir).final_rules()
        b.facts["sample"] = (
            b.read(table).orderBy("doc_id").limit(2000)
            .select("label", "spans", "schema_fields").collect()
        )


# --------------------------------------------------------------------------
# curation_lsh
# --------------------------------------------------------------------------


def curation_lsh(b: Bench) -> None:
    """``curate_increment`` of a seeded delta (fresh docs, near-copies and
    re-ingestions of curated docs, in-batch near-duplicate pairs) against
    a curated corpus and its signature table, each run from an empty
    cache. Traced runs then curate the full corpus once (``curation_run``:
    guarded LSH over planted near-copies and a template flood larger than
    the guard cap, committed write)."""
    spark = b.spark
    case = inputs.CurationCase(b.seed, **CURATION)
    b.n_docs = len(case.delta)
    b.facts["texts"] = [t for _, t in case.delta]
    corpus, delta = b.path("corpus"), b.path("delta")
    old_docs, old_sigs = b.path("old_docs"), b.path("old_sigs")

    def frame(rows):
        return spark.createDataFrame(rows, DOCS_DDL)

    def write_old() -> None:
        # the curated corpus is the planted ground truth, which the traced
        # full curation is checked to reproduce
        b.write(frame([r for r in case.rows if r[0] in case.expected_kept]), old_docs)
        b.write(minhash_signatures_df(b.read(old_docs), "doc_id", "text"), old_sigs)

    def increment():
        return [r[0] for r in curate_increment(
            b.read(delta), b.read(old_docs), old_sigs=b.read(old_sigs)
        ).select("doc_id").collect()]

    with b.span("setup"):
        b.concurrently(lambda: b.write(frame(case.delta), delta), write_old)
        increment()  # warm-up on the workload's own tables

    outcomes: list[bool] = []

    def rep(i: int) -> None:
        spark.catalog.clearCache()
        with b.span("timed.main"):
            got = increment()
        part = case.delta_outcomes(set(got))
        outcomes.extend(part)
        b.check(all(part) and len(got) == len(set(got)) == len(case.delta_fresh),
                f"delta of rep {i}: {part.count(False)} planted outcomes wrong")

    b.repeat(rep)
    b.note_cache()
    b.accuracy = sum(outcomes) / len(outcomes)
    if b.traced:
        b.write(frame(case.rows), corpus)
        spark.catalog.clearCache()
        run_dir = b.path("run")
        with b.span("followup"):
            summary = curation_run(b.read(corpus), run_dir)
        b.facts["summary"] = summary
        kept = [r[0] for r in b.read(os.path.join(run_dir, "curated.parquet"))
                .select("doc_id").collect()]
        full = case.full_outcomes(set(kept))
        b.check(
            all(full) and sorted(kept) == sorted(case.expected_kept)
            and summary["guard"]["star_candidate_rows"] > 0,
            f"full curation: {full.count(False)} planted outcomes wrong, "
            f"{len(kept)} kept, guard {summary['guard']}",
        )


WORKLOADS = {"adaptive_learn": adaptive_learn, "curation_lsh": curation_lsh}
