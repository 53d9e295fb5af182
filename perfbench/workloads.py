"""The two workloads.

Each is a closed loop with one client: the driver process issues one
operation at a time on ``local[nproc]``.  A workload prepares its inputs in
three separately timed parts (``setup_s`` is their median), warms up,
alternates its main and second operation until ``--seconds`` have passed,
and checks every output against the planted truth outside the timed region.
The untraced run times nothing but the program: no sampler thread, no
tracing hooks.

End-to-end metrics, the same names on every workload:

- ``main_s``   median wall of the main operation
- ``second_s`` median wall of the second operation
- ``setup_s``  median wall of one input-preparation part: ``generate_pages``
  over one page shard and its parquet persist
- ``passed_frac`` checked operations that passed / operations attempted

The traced run (``--trace 1``) repeats the same loop with the instruments of
``trace.py`` attached, then runs one probe per layer, each a call into that
layer's public function in its own job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

from perfbench import inputs, trace, truth
from perfbench.common import RssSampler, Run, cpu_count, median, start_session, stop_session

# Input sizes.  Chosen so that a run, JVM start included, ends in about a
# minute on a 4-core host: 4 + 22 x 2 runs must fit into 3,420 s.
PAGES_LARGE = 9_000  # three shards of 3,000
PAGES_TINY = 400
PAGES_SENTENCES = 30
SNAP_PAGES = 1_500  # per shard; cycle i builds over shard i mod 3
SNAP_CONCEPTS = 6_000
SNAP_PLANTED = 300  # dictionary names planted into the snapshot corpus
WARM_STEPS = 1  # warm-up repetitions of a workload's (main, second) pair

STAGES = (
    "filtered_pages",
    "extracted_pages",
    "mentions",
    "evidence",
    "predictions",
    "accepted_predictions",
    "components",
)
CRASH_LOST = ("predictions", "accepted_predictions", "components")

#: Per-layer metrics each workload measures in the traced run; the rest of
#: the per-layer list reads 0 on it (that layer does not run there).
_ENGINE = ("spark.tasks", "spark.task_retries", "spark.scheduler_delay_s", "spark.gc_s",
           "trace.main_s", "trace.second_s", "setup.total_s", "run.peak_rss_mb",
           "run.main_samples", "run.second_samples")
LAYER_METRICS = {
    "pages_scan": (
        "textstats.filter_s", "textstats.keep_frac", "extract.busy_s",
        "grounding.mention_s", "grounding.python_s", "grounding.arrow_wait_s",
        "grounding.mentions_out", "grounding.ac_build_s",
        "pipeline.evidence_s", "pipeline.evidence_shuffle_bytes",
        "pipeline.evidence_task_skew", "pipeline.scan_job_s", "pipeline.build_jobs",
        "pipeline.build_stages", "pipeline.py4j_calls", "pipeline.driver_s",
        "lineage.fused_stage_rows", *_ENGINE,
    ),
    "dictionary_snapshot": (
        "grounding.python_s", "grounding.ac_build_s", "grounding.all_by_all_s",
        "grounding.candidate_pairs", "pipeline.build_jobs", "pipeline.py4j_calls",
        "pipeline.driver_s", "pipeline.predict_kept_frac", "relational.exclude_s",
        "relational.rows_removed", "components.cc_s", "components.jobs",
        *(f"stage.{s}_s" for s in STAGES), "checkpoint.read_s", "checkpoint.bytes_written",
        "checkpoint.files_written", "checkpoint.jobs", "checkpoint.write_amp",
        "lineage.write_s", "lineage.rows", *_ENGINE,
    ),
}


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


def _timed_loop(run: Run, ops: list) -> dict[str, list]:
    """Alternate ``ops`` (name, callable returning a wall) until
    ``run.seconds`` have passed and every op has run at least twice."""
    walls: dict[str, list] = {name: [] for name, _ in ops}
    t_end = time.monotonic() + run.seconds
    i = 0
    while time.monotonic() < t_end or min(len(w) for w in walls.values()) < 2:
        name, op = ops[i % len(ops)]
        walls[name].append(op())
        i += 1
    return walls


def _finish(run: Run, setup_walls, walls_main, walls_second) -> None:
    run.metric("main_s", median(walls_main), "s")
    run.metric("second_s", median(walls_second), "s")
    run.metric("setup_s", median(setup_walls), "s")
    run.metric("passed_frac", (run.attempted - run.failed) / max(run.attempted, 1), "ratio")
    run.metric("run.main_samples", len(walls_main), "count")
    run.metric("run.second_samples", len(walls_second), "count")
    run.log(f"medians over {len(walls_main)} main and {len(walls_second)} second operations")


def _sampler(run: Run):
    """The RSS sampler in the traced run; nothing in the untraced one."""
    return RssSampler() if run.trace else contextlib.nullcontext()


def _engine_metrics(run: Run, groups, t_first_op: float, walls_main: list,
                    walls_second: list, rss: RssSampler) -> None:
    """Whole-run engine counters.  ``trace.main_s`` and ``trace.second_s``
    are the traced run's own medians; the tracing overhead is each minus
    ``main_s`` / ``second_s`` of the untraced run with the same seed."""
    allg = trace.merge([g for name, g in groups.items() if name.startswith("pb")])
    run.metric("spark.tasks", allg.tasks, "count")
    run.metric("spark.task_retries", allg.retries, "count")
    run.metric("spark.scheduler_delay_s", allg.scheduler_delay_s, "s")
    run.metric("spark.gc_s", allg.gc_s, "s")
    run.metric("trace.main_s", median(walls_main), "s")
    run.metric("trace.second_s", median(walls_second), "s")
    run.metric("setup.total_s", t_first_op - run.t_start, "s")
    run.metric("run.peak_rss_mb", rss.peak / 2**20, "MB")


def _check_sinks(run: Run, want: dict, mappings: str, components: str, what: str,
                 evidence: str | None = None) -> None:
    problems = truth.check_kg(
        want,
        triples=truth.read_rows(mappings, ["subject_id", "predicate_id", "object_id"]),
        components=truth.read_rows(components, ["node", "component"]),
        evidence=truth.read_rows(evidence, ["surface", "object_id", "n_docs", "n_mentions"])
        if evidence else None,
    )
    run.record(not problems, f"{what}: {problems}")


def _warm_up(run: Run, step, steps: int) -> None:
    """Run ``step`` a few times before timing.  The first build of a fresh
    JVM runs 2-3x slow (measured: 14.5 s of JIT time in it); from the second
    on, walls settle within the run's usual spread.  The JIT never goes
    quiet, because every build brings freshly generated classes."""
    for i in range(steps):
        t0 = time.monotonic()
        step(i == 0)
        run.log(f"warm-up step {i}: {time.monotonic() - t0:.2f}s")


def _warm_generator(run: Run, d: inputs.Dictionary, part: int, files: int) -> None:
    """One throwaway corpus of two setup parts' size.  Without it the first
    two timed parts still run up to 1.5x slower than the third (the JIT is
    still compiling the generator's code paths)."""
    path = run.path("pages", "warm")
    inputs.write_pages(run.spark, path, n=2 * part, start=0, labels=d.names[:50], hub=d.hub,
                       n_sentences=PAGES_SENTENCES, files=files)
    shutil.rmtree(path, ignore_errors=True)


def _stop_and_read_log(run: Run) -> dict:
    """Stop the session, which completes the event log, and read it."""
    stop_session(run)
    return trace.read_event_log(run.path("events"))


# ====================================================================== pages


def pages_scan(run: Run) -> None:
    """Throughput mode: ``build_kg(materialize=False)`` with both sinks
    written, over a large corpus (main) and a tiny one (second, the
    per-build fixed cost)."""
    from sssom_curator_spark.pipeline import KGConfig, aggregate_evidence, build_kg

    spark = start_session(run)
    run.log("session up")
    tr = trace.Tracer(spark, run.trace)
    ncpu = cpu_count()
    d = inputs.make_dictionary(run.seed, n_concepts=150, hub_ids=12, n_xrefs=6)
    frames = inputs.dictionary_frames(spark, d, run.path("dict"))
    labels, xrefs = frames["labels"], frames["xrefs"]
    base = 1_000_000 * (run.seed % 2000)  # disjoint page ranges per seed

    shard = PAGES_LARGE // 3
    _warm_generator(run, d, shard, 2 * ncpu)
    setup_walls, large_paths = [], []
    for k in range(3):
        path = run.path("pages", f"large{k}")
        t0 = time.monotonic()
        inputs.write_pages(spark, path, n=shard, start=base + k * shard, labels=d.names,
                           hub=d.hub, n_sentences=PAGES_SENTENCES, files=2 * ncpu)
        setup_walls.append(time.monotonic() - t0)
        large_paths.append(path)
    tiny_path = run.path("pages", "tiny")
    inputs.write_pages(spark, tiny_path, n=PAGES_TINY, start=base + 900_000, labels=d.names,
                       hub=d.hub, n_sentences=PAGES_SENTENCES, files=ncpu)
    mappings = truth.mapping_truth(d)
    corpora = {
        "large": (spark.read.parquet(*large_paths),
                  truth.with_evidence(mappings, truth.planted_surfaces(large_paths))),
        "tiny": (spark.read.parquet(tiny_path),
                 truth.with_evidence(mappings, truth.planted_surfaces([tiny_path]))),
    }
    run.log(f"inputs ready, setup parts {[round(w, 2) for w in setup_walls]}")
    fused_rows: list[int] = []
    seq = [0]

    def build(kind: str, tag: str, *, evidence: bool = False) -> float:
        pages, want = corpora[kind]
        seq[0] += 1
        out_dir = run.path("out", f"{kind}{seq[0]}")
        with tr.span(f"{tag}.{kind}") as sp:
            out = build_kg(spark, pages, labels, xrefs=xrefs, materialize=False)
            out["mappings"].write.parquet(os.path.join(out_dir, "mappings"))
            out["components"].write.parquet(os.path.join(out_dir, "components"))
        if evidence:
            out["evidence"].write.parquet(os.path.join(out_dir, "evidence"))
        fused_rows.append(sum(out["_registry"].stage_rows.values()))
        out["mappings"].unpersist()
        run.log(f"{tag} {kind} build {sp.wall:.2f}s")
        return sp.wall

    # the first build of each corpus also writes its evidence for the check
    _warm_up(run, lambda first: (build("large", "warm", evidence=first),
                                 build("tiny", "warm", evidence=first)), WARM_STEPS)
    tr.profiling(True)
    t_first = time.monotonic()
    with _sampler(run) as rss:
        walls = _timed_loop(run, [("large", lambda: build("large", "timed")),
                                  ("tiny", lambda: build("tiny", "timed"))])
    tr.profiling(False)

    for out_dir in sorted(os.listdir(run.path("out"))):
        kind = out_dir.rstrip("0123456789")
        sink = run.path("out", out_dir)
        ev = os.path.join(sink, "evidence")
        _check_sinks(run, corpora[kind][1], os.path.join(sink, "mappings"),
                     os.path.join(sink, "components"), f"{out_dir} build",
                     evidence=ev if os.path.exists(ev) else None)
    shutil.rmtree(run.path("out"), ignore_errors=True)
    run.log("outputs checked")

    if run.trace:
        large = corpora["large"][0]
        cfg = KGConfig()
        from pyspark.sql import functions as F

        from sssom_curator_spark.extract import with_extracted_text
        from sssom_curator_spark.operators.grounding import annotate_mentions
        from sssom_curator_spark.operators.textstats import langid_heuristic, quality_score

        def filtered():
            scored = quality_score(langid_heuristic(large))
            return scored.filter(
                F.col("lang_pred").isin(list(cfg.languages))
                & (F.col("quality") >= cfg.min_quality)
            ).select("url", "warc_ts", "html", "text", "lang")

        def mentions():
            return annotate_mentions(filtered(), labels, id_col="url", html_col="html")

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def probe(name: str, fn):
            """Best of two calls: the first of a new plan pays codegen."""
            spans = []
            for _ in range(2):
                with tr.span(name) as sp:
                    fn()
                spans.append(sp)
            return min(spans, key=lambda s: s.wall)

        n_pages = large.count()
        kept = filtered().count()
        n_mentions = mentions().count()
        p_filter = probe("probe.filter", lambda: noop(filtered()))
        p_extract = probe("probe.extract", lambda: noop(
            with_extracted_text(filtered()).select("url", "extracted_text")))
        p_mention = probe("probe.mention", lambda: noop(mentions()))
        p_evidence = probe("probe.evidence", lambda: noop(aggregate_evidence(mentions())))
        groups = _stop_and_read_log(run)
        timed_large = tr.named("timed.large")
        tiny = tr.named("timed.tiny")
        ev_stats = trace.subtree(groups, p_evidence)
        run.metric("textstats.filter_s", p_filter.wall, "s")
        run.metric("textstats.keep_frac", kept / n_pages, "ratio")
        run.metric("extract.busy_s", p_extract.wall - p_filter.wall, "s")
        run.metric("grounding.mention_s", p_mention.wall - p_extract.wall, "s")
        run.metric("grounding.mentions_out", n_mentions, "count")
        _profile_metrics(run, timed_large)
        run.metric("pipeline.evidence_s", p_evidence.wall - p_mention.wall, "s")
        run.metric("pipeline.evidence_shuffle_bytes", ev_stats.shuffle_bytes, "bytes")
        run.metric("pipeline.evidence_task_skew", ev_stats.task_skew, "ratio")
        run.metric("pipeline.scan_job_s",
                   median(trace.subtree(groups, s).longest_job_s for s in timed_large), "s")
        run.metric("pipeline.build_stages",
                   median(len(trace.subtree(groups, s).stages) for s in tiny), "count")
        _build_metrics(run, groups, tiny)
        run.metric("lineage.fused_stage_rows", median(fused_rows), "count")
        _engine_metrics(run, groups, t_first, walls["large"], walls["tiny"], rss)
    _finish(run, setup_walls, walls["large"], walls["tiny"])


def _profile_metrics(run: Run, spans) -> None:
    run.metric("grounding.python_s", median(trace.profile_seconds(s.profile) for s in spans), "s")
    run.metric("grounding.ac_build_s",
               median(trace.profile_seconds(s.profile, matches=trace.AC_BUILD) for s in spans),
               "s")
    if "grounding.arrow_wait_s" in LAYER_METRICS[run.workload]:
        run.metric("grounding.arrow_wait_s",
                   median(trace.arrow_wait_seconds(s.profile) for s in spans), "s")


def _build_metrics(run: Run, groups, spans) -> None:
    """Jobs, py4j round-trips and driver-only time of whole builds."""
    run.metric("pipeline.build_jobs", median(trace.subtree(groups, s).jobs for s in spans),
               "count")
    run.metric("pipeline.py4j_calls", median(s.py4j_calls for s in spans), "count")
    run.metric("pipeline.driver_s",
               median(s.wall - trace.subtree(groups, s).job_covered_s() for s in spans), "s")


# ============================================================ snapshots


def dictionary_snapshot(run: Run) -> None:
    """Production mode: ``build_kg`` into an empty ``SnapshotStore`` with
    curated mappings and xrefs, lineage written (main); then a crash that
    lost the last three stages and the resume that recomputes them
    (second)."""
    from sssom_curator_spark.checkpoint import SnapshotStore
    from sssom_curator_spark.lineage import MetricsRegistry
    from sssom_curator_spark.pipeline import build_kg

    spark = start_session(run)
    run.log("session up")
    tr = trace.Tracer(spark, run.trace)
    ncpu = cpu_count()
    d = inputs.make_dictionary(
        run.seed, n_concepts=SNAP_CONCEPTS, hub_ids=40, n_chains=SNAP_CONCEPTS // 25,
        chain_len=4, n_curated=SNAP_CONCEPTS // 20, n_xrefs=SNAP_CONCEPTS // 30,
    )
    frames = inputs.dictionary_frames(spark, d, run.path("dict"))
    labels, curated, xrefs = frames["labels"], frames["curated"], frames["xrefs"]
    base = 1_000_000 * (run.seed % 2000) + 500_000
    planted = d.names[:SNAP_PLANTED]

    _warm_generator(run, d, SNAP_PAGES, ncpu)
    setup_walls, shards = [], []
    mappings = truth.mapping_truth(d)
    for k in range(3):
        path = run.path("pages", f"shard{k}")
        t0 = time.monotonic()
        inputs.write_pages(spark, path, n=SNAP_PAGES, start=base + k * SNAP_PAGES,
                           labels=planted, hub=d.hub, n_sentences=PAGES_SENTENCES, files=ncpu)
        setup_walls.append(time.monotonic() - t0)
        want = truth.with_evidence(mappings, truth.planted_surfaces([path]))
        shards.append((spark.read.parquet(path), want, _dir_bytes(path)[0]))
    run.log(f"inputs ready ({d.stats}), setup parts {[round(w, 2) for w in setup_walls]}")

    class TimedStore(SnapshotStore):
        """Times every stage: compute + write when computed, read when resumed."""

        def resume_or_compute(self, name, compute):
            kind = "read" if self.has(name) else "stage"
            with tr.span(f"{kind}.{name}"):
                return super().resume_or_compute(name, compute)

    store_cls = TimedStore if run.trace else SnapshotStore
    state: dict = {"cycle": 0}
    per_build: list[dict] = []

    def check(store_root: str, want: dict, what: str) -> None:
        data = lambda name: os.path.join(store_root, name, "data")  # noqa: E731
        _check_sinks(run, want, data("accepted_predictions"), data("components"), what,
                     evidence=data("evidence"))

    def build(tag: str) -> float:
        # the previous cycle's store and lineage are no longer needed
        shutil.rmtree(run.path("snap"), ignore_errors=True)
        shutil.rmtree(run.path("lineage"), ignore_errors=True)
        i = state["cycle"] = state["cycle"] + 1
        pages, want, in_bytes = shards[i % 3]
        root, lineage = run.path("snap", f"c{i}"), run.path("lineage", f"c{i}")
        store = store_cls(spark, root)
        reg = MetricsRegistry(spark)
        with tr.span(f"{tag}.build") as sp:
            build_kg(spark, pages, labels, xrefs=xrefs, curated=curated, snapshots=store,
                     metrics=reg)
            with tr.span("lineage.write"):
                reg.write(lineage)
        check(root, want, f"cycle {i} build")
        snap_bytes, snap_files = _dir_bytes(root)
        lineage_bytes, _ = _dir_bytes(lineage)
        per_build.append({
            "bytes": snap_bytes, "files": snap_files,
            "write_amp": (snap_bytes + lineage_bytes) / in_bytes,
            "lineage_rows": truth.count_rows(lineage),
            "rows": {n: _manifest_rows(root, n) for n in ("predictions", "accepted_predictions")},
        })
        state["store"], state["want"] = store, want
        run.log(f"{tag} cycle {i} build {sp.wall:.2f}s")
        return sp.wall

    def resume(tag: str) -> float:
        i, store, want = state["cycle"], state["store"], state["want"]
        state["resumes"] = state.get("resumes", 0) + 1
        for name in CRASH_LOST:  # the crash lost the last three stages
            store.invalidate(name)
        reg = MetricsRegistry(spark)
        with tr.span(f"{tag}.resume") as sp:
            build_kg(spark, shards[i % 3][0], labels, xrefs=xrefs, curated=curated,
                     snapshots=store, metrics=reg)
            with tr.span("lineage.write"):
                reg.write(run.path("lineage", f"c{i}-resume{state['resumes']}"))
        check(run.path("snap", f"c{i}"), want, f"cycle {i} resume")
        run.log(f"{tag} cycle {i} resume {sp.wall:.2f}s")
        return sp.wall

    _warm_up(run, lambda first: (build("warm"), resume("warm")), WARM_STEPS)
    tr.profiling(True)
    t_first = time.monotonic()
    with _sampler(run) as rss:
        walls = _timed_loop(run, [("build", lambda: build("timed")),
                                  ("resume", lambda: resume("timed"))])
    tr.profiling(False)
    timed = per_build[-len(walls["build"]):]

    if run.trace:
        # the last cycle's store stays for the layer probes
        root = run.path("snap", f"c{state['cycle']}")
        _snapshot_probes(run, tr, root, labels, curated, xrefs, per_build[-1])
        groups = _stop_and_read_log(run)
        builds, resumes = tr.named("timed.build"), tr.named("timed.resume")
        for name in STAGES:
            run.metric(f"stage.{name}_s", median(
                sum(c.wall for c in tr.children(b, f"stage.{name}")) for b in builds), "s")
        run.metric("checkpoint.read_s", median(
            sum(c.wall for c in tr.children(r, "read.")) for r in resumes), "s")
        run.metric("checkpoint.jobs", median(
            sum(trace.subtree(groups, c).jobs for c in tr.children(b, "stage.")) for b in builds),
            "count")
        run.metric("lineage.write_s", median(
            c.wall for b in builds for c in tr.children(b, "lineage.write")), "s")
        _profile_metrics(run, builds)
        _build_metrics(run, groups, builds)
        comp = tr.named("probe.components")[0]
        run.metric("components.jobs", trace.subtree(groups, comp).jobs, "count")
        _engine_metrics(run, groups, t_first, walls["build"], walls["resume"], rss)
    run.metric("checkpoint.bytes_written", median(b["bytes"] for b in timed), "bytes")
    run.metric("checkpoint.files_written", median(b["files"] for b in timed), "count")
    run.metric("checkpoint.write_amp", median(b["write_amp"] for b in timed), "ratio")
    run.metric("lineage.rows", median(b["lineage_rows"] for b in timed), "count")
    _finish(run, setup_walls, walls["build"], walls["resume"])


def _snapshot_probes(run: Run, tr: trace.Tracer, root: str, labels, curated, xrefs,
                     last: dict) -> None:
    """One call into each relational layer, on the last cycle's snapshots."""
    from pyspark.sql import functions as F

    from sssom_curator_spark.graph.components import connected_components
    from sssom_curator_spark.operators.grounding import all_by_all
    from sssom_curator_spark.operators.relational import (
        exclude_curated,
        exclude_existing_xrefs,
        exclude_same_component,
    )

    spark = run.spark
    predictions = spark.read.parquet(os.path.join(root, "predictions", "data"))
    accepted = spark.read.parquet(os.path.join(root, "accepted_predictions", "data"))
    with tr.span("probe.all_by_all") as sp:
        pairs = all_by_all(labels).count()
    run.metric("grounding.all_by_all_s", sp.wall, "s")
    run.metric("grounding.candidate_pairs", pairs, "count")
    run.metric("pipeline.predict_kept_frac", last["rows"]["predictions"] / pairs, "ratio")
    existing = curated.filter(
        (F.col("predicate_id") == "skos:exactMatch") & F.col("predicate_modifier").isNull()
    ).select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
    with tr.span("probe.exclude") as sp:
        out = exclude_existing_xrefs(exclude_curated(predictions, curated), xrefs)
        kept = exclude_same_component(out, connected_components(existing)).count()
    run.metric("relational.exclude_s", sp.wall, "s")
    run.metric("relational.rows_removed", last["rows"]["predictions"] - kept, "count")
    edges = accepted.filter(F.col("predicate_id") == "skos:exactMatch").select(
        F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
    with tr.span("probe.components") as sp:
        connected_components(edges).write.format("noop").mode("overwrite").save()
    run.metric("components.cc_s", sp.wall, "s")


def _manifest_rows(root: str, name: str) -> int:
    with open(os.path.join(root, name, "_manifest.json")) as fh:
        return int(json.load(fh)["rows"])
