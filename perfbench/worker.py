"""One benchmark run in a fresh process, as one spark-submit per release.

Usage: python3 perfbench/worker.py SPEC_JSON

The spec names the workload, the program config and the result path.
The worker times imports plus ``build_session`` (set-up), then drives
the program only through its public entry points: ``main.run_all`` for
``release`` and ``main.run_scrub / run_curate / run_cluster /
run_search`` for ``curation``.  Step boundaries inside the single
``all`` call are taken from outside by recording when ``run_all``
reaches each plan's ``run``; that costs a clock read per step.

With ``trace`` set, the Spark event log is written (uncompressed, not
rolling), every step and layer call runs under a job description, and
each layer's output is persisted and counted right after its call so
layer self times separate.  That changes what Spark caches and
computes, so traced timings are never mixed with untraced ones.
"""

from __future__ import annotations

import json
import os
import sys
import time

from run import ROOT, STEPS  # perfbench/ is this script's directory

T_START = time.perf_counter()  # set-up = program imports + build_session
sys.path.insert(0, ROOT)

RELEASE_STEPS = STEPS["release"]
CURATION_STEPS = STEPS["curation"]


class Tracer:
    """Spans recorded around calls into the program's layers.  When
    enabled, jobs carry the innermost span as their description and the
    step as the ``perfbench.step`` local property the event-log parser
    groups by."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.step: str | None = None
        self._stack: list[dict] = []

    def _label(self, span: str | None, step: str | None) -> None:
        if self.enabled:
            self.sc.setJobDescription(span)
            self.sc.setLocalProperty("perfbench.step", step)

    def _current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    def begin(self, name: str) -> dict:
        span = {"name": name, "parent": self._current(), "start": time.time(), "end": None}
        self._stack.append(span)
        self.spans.append(span)
        self._label(name, self.step)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.remove(span)
        self._label(self._current(), self.step)

    def set_step(self, step: str | None) -> None:
        self.step = step
        self._label(self._current(), step)

    def untimed(self, fn):
        """Run counting jobs outside every span and step."""
        self._label("perfbench.count", None)
        try:
            return fn()
        finally:
            self._label(self._current(), self.step)


def _materialise(result):
    """Persist and count a layer's output; returns the row count(s)."""
    from pyspark.sql import DataFrame
    from pyspark.storagelevel import StorageLevel

    if isinstance(result, DataFrame):
        return result.persist(StorageLevel.MEMORY_AND_DISK).count()
    if isinstance(result, dict):
        out = {}
        for k, v in result.items():
            df = v.data if hasattr(v, "data") else v
            if isinstance(df, DataFrame):
                out[k] = df.persist(StorageLevel.MEMORY_AND_DISK).count()
        return out
    return None


def _patch(module, attr: str, wrapper_factory) -> None:
    setattr(module, attr, wrapper_factory(getattr(module, attr)))


def install_step_marks(tracer: Tracer, marks: dict) -> None:
    """Record when ``run_all`` enters each step's plan (always on)."""
    from platform_etl_literature_spark.plans import (
        embedding,
        evidence,
        processing,
        vectors,
    )

    def mark(step):
        def factory(orig):
            def wrapped(*a, **kw):
                marks.setdefault(step, time.perf_counter())
                tracer.set_step(step)
                return orig(*a, **kw)

            return wrapped

        return factory

    for step, mod in zip(RELEASE_STEPS, (processing, embedding, vectors, evidence)):
        _patch(mod, "run", mark(step))


def install_layer_spans(tracer: Tracer) -> None:
    """Traced run only: a span, a job description and a materialisation
    around every named layer call."""
    from platform_etl_literature_spark import main
    from platform_etl_literature_spark.operators import dedup
    from platform_etl_literature_spark.plans import (
        embedding,
        evidence,
        grounding,
        processing,
        vectors,
    )
    from pyspark.sql import functions as F

    counts = tracer.counts

    def add(key, value):
        counts[key] = counts.get(key, 0) + value

    def layer(name, rows_key=None, after=None, materialise=True):
        def factory(orig):
            def wrapped(*a, **kw):
                span = tracer.begin(name)
                try:
                    out = orig(*a, **kw)
                    n = _materialise(out) if materialise else None
                finally:
                    tracer.end(span)
                if rows_key is not None:
                    add(rows_key, n)
                if after is not None:
                    tracer.untimed(lambda: after(out, n, a, kw))
                return out

            return wrapped

        return factory

    def after_map(out, n, a, kw):
        m = a[0].select(F.explode("matches").alias("m")).select("m.type", "m.label")
        add("grounding.mentions", m.count())
        add("grounding.distinct_labels", m.distinct().count())

    def after_resolve(out, n, a, kw):
        add("grounding.mapped", n["matches"])
        add("grounding.unmapped", n["matchesFailed"])

    def after_w2v(model, n, a, kw):
        add("embedding.vocab_size", model.getVectors().count())

    def after_from_matches(out, n, a, kw):
        args = list(a)
        kwargs = dict(kw)
        if len(args) > 3:
            args[3] = -2.0  # cosine >= -1: keeps every DS x GP pair
        else:
            kwargs["threshold"] = -2.0
        add("evidence.pairs_considered", orig_from_matches(*args, **kwargs).count())

    def after_write(out, n, a, kw):
        files = 0
        for res in a[0].values():
            for _, _, fs in os.walk(res.config.path):
                files += sum(1 for f in fs if f.startswith("part-"))
        add("sources.output_files", files)

    _patch(main, "read_from", layer("sources.read_inputs"))
    _patch(main, "write_to", layer("sources.write", after=after_write, materialise=False))
    _patch(grounding, "load_entity_lut", layer("grounding.entity_lut", "grounding.entity_lut_rows"))
    _patch(grounding, "load_entities", layer("grounding.load_entities"))
    _patch(grounding, "map_entities", layer("grounding.map_entities", after=after_map))
    _patch(grounding, "resolve_entities", layer("grounding.resolve", after=after_resolve))
    _patch(processing, "literature_index", layer("processing.literature_index", "processing.index_rows"))
    _patch(embedding, "regroup_matches", layer("embedding.regroup", "embedding.training_rows"))
    _patch(embedding, "make_word2vec_model", layer("embedding.w2v_fit", after=after_w2v, materialise=False))
    _patch(vectors, "compute", layer("vectors.compute"))
    orig_from_matches = evidence.evidence_from_matches
    _patch(evidence, "evidence_from_matches", layer(
        "evidence.from_matches", "evidence.pairs_kept", after=after_from_matches))
    _patch(evidence, "evidence_from_coocs", layer("evidence.from_coocs"))
    _patch(evidence, "run", layer("evidence.join", "evidence.rows"))
    _patch(dedup, "minhash_banded_pairs", layer(
        "operators.cluster.pairs", "operators.cluster.candidate_pairs"))


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    trace = bool(spec["trace"])

    from platform_etl_literature_spark import main as cli
    from platform_etl_literature_spark.session import build_session

    t_build = time.perf_counter()
    extra = None
    if trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = build_session("perfbench-" + spec["workload"], extra_conf=extra)
    t_ready = time.perf_counter()
    result = {"setup_s": t_ready - T_START, "session.build_s": t_ready - t_build}
    tracer = Tracer(spark, trace)
    cfg = spec["config"]
    steps: dict[str, list[float]] = {}
    error = None
    if trace:
        install_layer_spans(tracer)
    try:
        if spec["workload"] == "release":
            marks: dict[str, float] = {}
            install_step_marks(tracer, marks)
            tracer.set_step("processing")
            t0 = time.perf_counter()
            try:
                cli.run_all(spark, cfg, cli.STEPS)
            finally:
                t1 = time.perf_counter()
                bounds = [t0] + [marks[s] for s in RELEASE_STEPS[1:] if s in marks] + [t1]
                for step, a, b in zip(RELEASE_STEPS, bounds, bounds[1:]):
                    steps[step] = [a, b]
        else:
            calls = {
                "scrub": cli.run_scrub,
                "curate": cli.run_curate,
                "cluster": cli.run_cluster,
                "search": cli.run_search,
            }
            t0 = time.perf_counter()
            for step in CURATION_STEPS:
                tracer.set_step(step)
                a = time.perf_counter()
                calls[step](spark, cfg)
                steps[step] = [a, time.perf_counter()]
            t1 = time.perf_counter()
        result["pipeline_s"] = t1 - t0
    except Exception as exc:  # reported as a failed step call, not a crash
        import traceback

        traceback.print_exc()
        error = f"{type(exc).__name__}: {exc}"
    # step spans on the wall clock shared with the event log
    offset = time.time() - time.perf_counter()
    result["steps"] = {
        s: {"s": b - a, "start": a + offset, "end": b + offset} for s, (a, b) in steps.items()
    }
    result["error"] = error
    result["spans"] = tracer.spans
    result["counts"] = tracer.counts
    if trace:
        spark.stop()  # completes the event log
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    # the benchmark stops the JVM and its Python workers by signal
    os._exit(0)


if __name__ == "__main__":
    main()
