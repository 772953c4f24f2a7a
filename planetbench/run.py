"""Seeded batch benchmark of the planet-dump engine.

    python3 planetbench/run.py --workload planet-full --seed 1 --seconds 1 --trace 0

One process runs one workload as a closed loop of one job at a time on
``local[<cpus>]``: it generates the inputs from the seed, starts the
SparkSession (``setup_s`` is that ``get_spark()`` call alone; no warm-up
job runs, so the first timed job is the first job of the JVM), then runs
timed jobs until ``--seconds`` have passed (at least one), checking every
job's outputs.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See
planetbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import checks  # noqa: E402
import gen_docs  # noqa: E402
import gen_dump  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402

#: seed whose output digests are recorded in planetbench/expected.json
DEFAULT_SEED = 1
CURATE_DOCS = 500

END_TO_END_UNITS = {
    "wall_s": "s",
    "input_mb_per_s": "MB/s",
    "cpu_s": "s",
    "output_mb": "MB",
    "setup_s": "s",
}

#: (label, file, output kind, anonymize)
PLANET_OUTPUTS = [
    ("planet", "planet.osm.bz2", "planet", False),
    ("history", "history.osm.bz2", "history", False),
    ("pbf", "planet.osm.pbf", "pbf", False),
    ("pbf-history", "history.osm.pbf", "pbf-history", False),
    ("changesets", "changesets.osm.bz2", "changesets", False),
    ("discussions", "discussions.osm.bz2", "discussions", False),
]
CHANGESET_OUTPUTS = [
    ("changesets", "changesets.osm.bz2", "changesets", False),
    ("discussions", "discussions.osm.bz2", "discussions", False),
    ("changesets-nouser", "changesets-nouser.osm.bz2", "changesets", True),
    ("discussions-nouser", "discussions-nouser.osm.bz2", "discussions", True),
]
XML_LABELS = ["planet", "history", "changesets", "discussions"]
#: only changesets-discussions writes these; their per-layer metrics are
#: reported on that workload alone
NOUSER_LABELS = ["changesets-nouser", "discussions-nouser"]
PBF_LABELS = ["pbf", "pbf-history"]
CURATE_PHASES = ["raw", "exact_dedup", "near_dedup", "decontaminated", "quality",
                 "classifier", "materialize", "pack", "dedup_artifact"]
SPAN_NAMES = ["run"] + sorted(tracing.WRAPPED.values())


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric of ``workload`` with its unit, in report order."""
    xml_labels = XML_LABELS + (NOUSER_LABELS if workload == "changesets-discussions" else [])
    u = {"session.get_spark_s": "s", "tree.peak_rss_mb": "MB",
         "sources.split_s": "s", "sources.copy_mb": "MB", "sources.copy_rows": "count",
         "staging.stage_s": "s", "staging.parquet_mb": "MB",
         "assembly.build_planet_s": "s"}
    for t in ("nodes", "ways", "relations", "changesets"):
        u[f"assembly.materialize_s.{t}"] = "s"
    for t in ("nodes", "ways", "relations"):
        u[f"history.keep_frac.{t}"] = "ratio"
    u.update({"pipeline.emit_s": "s", "pipeline.arrange_s": "s",
              "pipeline.emit_overlap": "ratio"})
    for label in xml_labels:
        u[f"xml_sink.write_s.{label}"] = "s"
        u[f"xml_sink.out_mb.{label}"] = "MB"
    for label in PBF_LABELS:
        u[f"pbf_sink.write_s.{label}"] = "s"
        u[f"pbf_sink.out_mb.{label}"] = "MB"
    groups = ["stage", "build", "arrange"] + [
        f"emit-{label}" for label in xml_labels + PBF_LABELS] + ["curate"]
    for g in groups:
        u[f"spark.tasks.{g}"] = "count"
        u[f"spark.executor_run_s.{g}"] = "s"
        u[f"spark.gc_s.{g}"] = "s"
        u[f"spark.shuffle_write_mb.{g}"] = "MB"
        u[f"spark.spill_mb.{g}"] = "MB"
    for phase in CURATE_PHASES:
        u[f"llm_pipeline.phase_s.{phase}"] = "s"
    u["llm_pipeline.keep_frac"] = "ratio"
    u.update({"trace.overhead_s": "s", "trace.blocking_path_s": "s",
              "trace.unaccounted_s": "s"})
    for name in SPAN_NAMES:
        u[f"trace.self_s.{name}"] = "s"
    return u


# -- workloads ---------------------------------------------------------------


class PlanetWorkload:
    """A generated plain-format dump -> planet files via pipeline.run_dump."""

    def __init__(self, profile: str, outputs: list, data_dir: Path, seed: int):
        self.outputs = outputs
        self.dump = data_dir / "dump.sql"
        self.expected = gen_dump.generate(str(self.dump), seed, profile)
        self.input_bytes = self.dump.stat().st_size
        self.file_label = {f: label for label, f, _, _ in outputs}

    def run(self, spark, run_dir: Path) -> dict:
        from planet_dump_ng_spark import pipeline

        specs = [pipeline.OutputSpec(str(run_dir / f), kind, anon)
                 for _, f, kind, anon in self.outputs]
        pipeline.run_dump(spark, str(self.dump), specs, str(run_dir / "work"))
        return {}

    def output_bytes(self, run_dir: Path) -> int:
        return sum((run_dir / f).stat().st_size for _, f, _, _ in self.outputs)

    def check(self, run_dir: Path, _state: dict) -> tuple[dict, dict, list[str]]:
        """(fingerprint, counts per output, problems)."""
        summaries, problems = checks.check_planet_outputs(
            {label: (str(run_dir / f), kind) for label, f, kind, _ in self.outputs},
            self.expected,
        )
        return ({k: v["digest"] for k, v in summaries.items()},
                {k: v["counts"] for k, v in summaries.items()}, problems)


class CurateWorkload:
    """llm_pipeline.curate on a generated corpus, with the arguments of the
    repository's curation benchmark; the seed picks the corpus and the
    decontamination set."""

    def __init__(self, data_dir: Path, seed: int):
        self.seed = seed
        self.docs = data_dir / "documents.parquet"
        gen_docs.generate(str(self.docs), seed, CURATE_DOCS)
        self.input_bytes = self.docs.stat().st_size

    def run(self, spark, run_dir: Path) -> dict:
        from planet_dump_ng_spark import llm_pipeline

        # an explicit schema keeps the footer-inference job out of the run
        docs = spark.read.schema(gen_docs.SCHEMA_DDL).parquet(str(self.docs))
        bench_set = docs.filter(docs.doc_id % 97 == self.seed % 97).select("doc_id", "text")
        _, report = llm_pipeline.curate(
            docs, str(run_dir / "dataset"), bench=bench_set,
            classifier_margin=0.0, pack_capacity=2048, near_dedup="lsh",
        )
        return {"report": report}

    def output_bytes(self, run_dir: Path) -> int:
        return checks.tree_bytes(str(run_dir / "dataset"))

    def check(self, run_dir: Path, state: dict) -> tuple[dict, dict, list[str]]:
        stages = state["report"].stages
        manifest = checks.split_manifest(str(run_dir / "dataset"))
        counts = {"rows_in": dict(stages).get("raw", 0),
                  "rows_out": min(n for _, n in stages) if stages else 0}
        problems = []
        if counts["rows_in"] != CURATE_DOCS:
            problems.append(f"rows_in {counts['rows_in']} != {CURATE_DOCS}")
        written = sum(m["n_rows"] for m in manifest.values())
        if written != counts["rows_out"]:
            problems.append(f"{written} rows written != rows_out {counts['rows_out']}")
        if any(m["n_ids"] != m["n_rows"] for m in manifest.values()):
            problems.append(f"duplicate doc ids in a split: {manifest}")
        return {"rows_out": counts["rows_out"], "manifest": manifest}, counts, problems


def make_workload(name: str, data_dir: Path, seed: int):
    if name == "planet-full":
        return PlanetWorkload("planet-full", PLANET_OUTPUTS, data_dir, seed)
    if name == "changesets-discussions":
        return PlanetWorkload("changesets-discussions", CHANGESET_OUTPUTS, data_dir, seed)
    return CurateWorkload(data_dir, seed)


# -- one benchmark process ---------------------------------------------------


class Bench:
    """One benchmark process: its jobs, their checks and the tree sampler."""

    def __init__(self, work: Path):
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.fingerprint: dict | None = None
        self.sampler = procstat.TreeSampler()

    def iteration(self, spark, workload, tracer=None, hooks=None) -> dict | None:
        """Run one job in a fresh directory, check it, return its
        measurements (None when it failed).  With a ``tracer`` the job runs
        with the tracing wrappers installed."""
        run_dir = self.work / f"run{self.attempted}"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        self.attempted += 1
        traced = (tracing.Patched(tracer, f"run{self.attempted}", hooks)
                  if tracer else contextlib.nullcontext())
        try:
            mark = self.sampler.begin()
            t0 = time.perf_counter()
            with traced:
                state = workload.run(spark, run_dir)
            wall = time.perf_counter() - t0
            cpu, peak = self.sampler.end(mark)
            out = {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak / 1e6,
                   "output_mb": workload.output_bytes(run_dir) / 1e6,
                   "input_mb_per_s": workload.input_bytes / 1e6 / wall,
                   "run_dir": run_dir, "state": state}
            fingerprint, counts, problems = workload.check(run_dir, state)
        except Exception as exc:  # a failed job counts against fail_rate
            print(f"run {self.attempted} failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return None
        if self.fingerprint is None:
            self.fingerprint = fingerprint
        elif fingerprint != self.fingerprint:
            problems.append(f"outputs differ from the first run: {fingerprint}")
        if problems:
            print(f"run {self.attempted} incorrect: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        out["counts"] = counts
        return out

    def cleanup(self, m: dict | None) -> None:
        if m is not None:
            shutil.rmtree(m["run_dir"], ignore_errors=True)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _stop_spark(spark, tree: procstat.ProcTree) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until each has ended."""
    from pyspark import SparkContext

    kids = tree.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _known_fingerprint(args, fingerprint: dict | None) -> bool:
    """True when ``fingerprint`` matches every earlier record for this
    workload and seed: the digests of the default seed kept in
    expected.json, and those of earlier runs in this checkout."""
    if fingerprint is None:
        return False
    expected = json.loads((BENCH_DIR / "expected.json").read_text())
    want = expected.get(args.workload, {})
    if args.seed == DEFAULT_SEED and want and want != fingerprint:
        print(f"outputs differ from expected.json: {fingerprint}", file=sys.stderr)
        return False
    state = ROOT / ".bench_state" / f"{args.workload}-{args.seed}.json"
    if state.exists():
        if json.loads(state.read_text()) != fingerprint:
            print(f"outputs differ from an earlier run of seed {args.seed}",
                  file=sys.stderr)
            return False
    else:
        state.parent.mkdir(parents=True, exist_ok=True)
        state.write_text(json.dumps(fingerprint, sort_keys=True))
    return True


def run(args, work: Path) -> dict:
    from planet_dump_ng_spark.session import get_spark

    data_dir = work / "input"
    data_dir.mkdir(parents=True)
    workload = make_workload(args.workload, data_dir, args.seed)
    bench = Bench(work)
    extra_conf = None
    if args.trace:
        (work / "eventlog").mkdir()
        extra_conf = {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": (work / "eventlog").as_uri(),
                      "spark.eventLog.compress": "false"}
    with bench.sampler:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=extra_conf)
        setup_s = time.perf_counter() - t0
        try:
            if args.trace:
                layers = traced_jobs(args, bench, spark, workload)
            else:
                timed = []
                start = time.perf_counter()
                while not timed or time.perf_counter() - start < args.seconds:
                    m = bench.iteration(spark, workload)
                    bench.cleanup(m)
                    if m is None:
                        break
                    timed.append(m)
        finally:
            _stop_spark(spark, bench.sampler.tree)
    if args.trace:
        metrics = layers(work / "eventlog")
        metrics["session.get_spark_s"] = setup_s
        units = per_layer_units(args.workload)
    else:
        metrics = {k: _median([m[k] for m in timed]) for k in END_TO_END_UNITS
                   if k != "setup_s"}
        metrics["setup_s"] = setup_s
        units = END_TO_END_UNITS
    print(f"fail_rate = {bench.failed}/{bench.attempted}", file=sys.stderr)
    correct = bench.failed == 0 and _known_fingerprint(args, bench.fingerprint)
    return {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }


# -- traced run --------------------------------------------------------------


def traced_jobs(args, bench: Bench, spark, workload):
    """Five jobs: the first (cold, like every untraced run) traced for the
    per-layer metrics; then an untimed warm-up job, and an untraced, a
    traced and an untraced job.  The tracing overhead is that traced job's
    wall time minus the mean of the two untraced ones around it: the
    warm-up takes the large second-job speed-up out of the comparison, and
    the mean cancels a steady drift.  That traced job runs without the
    materialize hook, which is the benchmark's own work, not tracing.
    Returns a function of the event-log directory giving the per-layer
    metrics; the log is complete only once the session has stopped."""
    tracer = tracing.Tracer()
    materialized: dict[str, float] = {}

    def materialize(frames) -> None:
        # traced only: a noop write of each assembled frame, one span each
        for t in ("nodes", "ways", "relations", "changesets"):
            span = tracer.open(f"assembly.materialize.{t}")
            getattr(frames, t).write.format("noop").mode("overwrite").save()
            tracer.close(span)
            materialized[t] = span.dur

    hooks = {"assembly.build_planet": materialize}
    first = bench.iteration(spark, workload, tracer, hooks)
    layers = first and layer_metrics(tracer, first, materialized, workload)
    bench.cleanup(first)
    warm = first and bench.iteration(spark, workload)
    bench.cleanup(warm)
    before = warm and bench.iteration(spark, workload)
    bench.cleanup(before)
    traced = before and bench.iteration(spark, workload, tracer)
    bench.cleanup(traced)
    after = traced and bench.iteration(spark, workload)
    bench.cleanup(after)
    tracer.write(str(bench.work.parent / f"spans-{args.workload}-{args.seed}.json"))

    def finish(eventlog: Path) -> dict:
        if not layers:
            return {}
        jobs, stage_metrics = tracing.read_event_log(str(eventlog))
        out = dict(layers)
        out.update(spark_metrics(jobs, stage_metrics, first, workload))
        if after:
            out["trace.overhead_s"] = (
                traced["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2)
        return out

    return finish


def layer_metrics(tracer: tracing.Tracer, t: dict, materialized: dict, workload) -> dict:
    """Per-layer metrics of one traced job from its spans and outputs."""
    spans = [s for s in tracer.spans if s.run == tracer.run]
    by_name: dict[str, list[tracing.Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out: dict[str, float] = {"tree.peak_rss_mb": t["peak_rss_mb"]}
    windows: list[tuple[str, float, float]] = []
    blocking = 0.0

    def first(name):
        return by_name.get(name, [None])[0]

    split = first("sources.split_dump_file")
    if split:
        out["sources.split_s"] = split.dur
        blocking += split.dur
        copy_dir = t["run_dir"] / "work" / "copy"
        out["sources.copy_mb"] = checks.tree_bytes(str(copy_dir)) / 1e6
        rows = 0
        for f in copy_dir.iterdir():
            with open(f, "rb") as fh:
                rows += sum(1 for _ in fh) - 2  # minus COPY header and '\.'
        out["sources.copy_rows"] = rows
    load = first("pipeline.load_copy_tables")
    if load:
        stage_end = max([s.end for s in by_name.get("staging.stage_table", [])]
                        + [load.end])
        out["staging.stage_s"] = stage_end - load.start
        blocking += stage_end - load.start
        windows.append(("stage", load.start, stage_end))
        out["staging.parquet_mb"] = checks.tree_bytes(
            str(t["run_dir"] / "work" / "stage")) / 1e6
    build = first("assembly.build_planet")
    if build:
        out["assembly.build_planet_s"] = build.dur
        blocking += build.dur
        windows.append(("build", build.start, build.end))
    for name, dur in materialized.items():
        out[f"assembly.materialize_s.{name}"] = dur
    emit = first("pipeline.write_outputs")
    if emit:
        out["pipeline.emit_s"] = emit.dur
        blocking += emit.dur
        windows.append(("arrange", emit.start, emit.end))
        busy = 0.0
        for layer, span_name in (("xml_sink", "xml_sink.write_xml_file"),
                                 ("pbf_sink", "pbf_sink.write_pbf_file")):
            for s in by_name.get(span_name, []):
                label = workload.file_label[s.attrs["file"]]
                out[f"{layer}.write_s.{label}"] = s.dur
                out[f"{layer}.out_mb.{label}"] = (
                    (t["run_dir"] / s.attrs["file"]).stat().st_size / 1e6)
                busy += s.dur
        out["pipeline.emit_overlap"] = busy / emit.dur
    counts = t["counts"]
    if "planet" in counts and "history" in counts:
        for kind in ("nodes", "ways", "relations"):
            out[f"history.keep_frac.{kind}"] = (
                counts["planet"][kind] / counts["history"][kind])
    curate = first("llm_pipeline.curate")
    if curate:
        blocking += curate.dur
        windows.append(("curate", curate.start, curate.end))
        report = t["state"]["report"]
        for phase, sec in report.phase_s.items():
            out[f"llm_pipeline.phase_s.{phase}"] = sec
        out["llm_pipeline.keep_frac"] = counts["rows_out"] / counts["rows_in"]
    for name, sec in tracing.self_times(spans).items():
        out[f"trace.self_s.{name}"] = sec
    out["trace.blocking_path_s"] = blocking
    # the traced-only materialize writes sit between build and emit; they
    # are the benchmark's own work, not the program's
    out["trace.unaccounted_s"] = t["wall_s"] - blocking - sum(materialized.values())
    root = first("run")
    t["windows"] = windows
    t["run_window"] = (root.start, root.end)
    return out


def spark_metrics(jobs, stage_metrics, t: dict, workload) -> dict:
    """Spark job metrics of the traced job ``t``, per job group."""
    run_start, run_end = t["run_window"]
    jobs = {i: j for i, j in jobs.items() if run_start <= j.submit <= run_end}
    windows = t["windows"]
    file_label = getattr(workload, "file_label", {})
    groups = tracing.group_jobs(
        jobs, stage_metrics, windows, lambda f: f"emit-{file_label.get(f, f)}")
    out = {}
    for g, m in groups.items():
        out[f"spark.tasks.{g}"] = m.tasks
        out[f"spark.executor_run_s.{g}"] = m.executor_run_s
        out[f"spark.gc_s.{g}"] = m.gc_s
        out[f"spark.shuffle_write_mb.{g}"] = m.shuffle_write_mb
        out[f"spark.spill_mb.{g}"] = m.spill_mb
    if windows and windows[-1][0] == "arrange":
        _, start, end = windows[-1]
        out["pipeline.arrange_s"] = tracing.job_union_s(
            jobs, start, end, lambda j: not (j.description or "").startswith("emit:"))
    return out


# -- entry point -------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["planet-full", "changesets-discussions", "curate-docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "planet_dump_ng_spark" / "pipeline.py").is_file():
        print(f"no planet_dump_ng_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the run writes stays under the work directory
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData") if p),
    })
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
