"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from a traced session whose job groups and Spark event log
attribute engine work to each layer. The lines before it give the run's
input fingerprint and the workload's own stage metrics. Everything is
also written to ``.bench_out/``. See ``perfbench/README.md``.

Each run times one pass of a fixed amount of work; ``--seconds`` is
accepted and recorded, and does not change what is measured.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.harness import SETUP_REPS, Sandbox, Session, Tally, median  # noqa: E402
from perfbench.trace import COUNTERS, Span, Tracer, attribute, event_log_path  # noqa: E402


WARMUP_SEED_OFFSET = 1_000_003  # the warm-up runs on another seed's inputs


@dataclass
class Pass:
    span: Span
    spans: dict  # name -> Span, every span inside the pass
    out: dict
    facts: dict
    leftover_rdds: int = 0


@dataclass
class Phase:
    """One Spark session's measurements."""

    tracer: Tracer
    session: Session
    setups: list
    timed: Pass
    workload: object
    fingerprint: dict
    peak_rss_mb: float
    engine: dict = field(default_factory=dict)
    extras: Pass | None = None  # traced runs: layers measured outside the pass
    marks: dict = field(default_factory=dict)  # seconds since start, by phase


def measure(args, sandbox, tally, traced, started) -> Phase:
    """Warm up on another seed's inputs, build the inputs SETUP_REPS
    times, then time one pass and check its outputs.

    Clean reps hold by construction: the warm-up's inputs differ from the
    measured ones, so no cache it leaves (in the engine or in Python) can
    answer a timed call, and just before the pass the engine's cached
    plans are cleared and every RDD persisted since the end of setup is
    unpersisted."""
    from perfbench.workloads import WORKLOADS

    cores = os.cpu_count() or 1
    marks = {"python": time.perf_counter() - started}

    def mark(name: str) -> None:
        marks[name] = time.perf_counter() - started

    session = Session.start(sandbox, cores, traced)
    mark("session")
    tracer = Tracer(session.sc, f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}", traced)
    kind = WORKLOADS[args.workload]
    empty = session.persisted_rdds()

    warm = kind(session, sandbox, args.seed + WARMUP_SEED_OFFSET, Tally())
    with tracer.span("warmup"):
        warm.setup(tracer, 0)
        warm.prepare()
        warm.run_pass(tracer)
    warm.remove()
    mark("warmup")

    workload = kind(session, sandbox, args.seed, tally)
    setups = []
    for rep in range(SETUP_REPS):
        session.release_since(empty)
        with tracer.span("setup") as sp:
            workload.setup(tracer, rep)
        setups.append(sp)
    baseline = session.persisted_rdds()
    mark("setup")

    workload.prepare()
    session.release_since(baseline)
    mark("prepare")

    with tracer.span("pass") as sp:
        out = workload.run_pass(tracer)
    mark("pass")
    leftover = session.left_by_program(baseline)
    timed = Pass(sp, tracer.descendants(sp), out, workload.check(out), leftover)
    mark("check")
    extras = None
    if traced:
        with tracer.span("extras") as ex:
            extra = workload.run_extras(tracer, out)
        extras = Pass(ex, tracer.descendants(ex), extra, workload.check_extras(extra))

    fingerprint = workload.fingerprint()
    mark("fingerprint")
    peak = session.peak_rss_mb()
    app_id = session.sc.applicationId
    session.stop()
    mark("stop")
    phase = Phase(tracer, session, setups, timed, workload, fingerprint, peak,
                  extras=extras, marks=marks)
    if traced:
        phase.engine = attribute(tracer, event_log_path(session.event_dir, app_id))
    return phase


def end_to_end(phase: Phase) -> dict:
    return {
        "setup_s": median(s.seconds for s in phase.setups),
        "job_s": phase.timed.span.seconds,
        "peak_rss_mb": phase.peak_rss_mb,
    }


def pass_layer_values(phase: Phase, p: Pass) -> dict:
    """Every per-layer figure a traced pass (or the extras) yields, by
    metric name."""
    vals: dict[str, float] = {}
    cores = phase.session.cores
    for name, sp in p.spans.items():
        eng = phase.engine.get(sp.id, {})
        vals[f"{name}.s"] = sp.seconds
        vals[f"{name}.self_s"] = phase.tracer.self_seconds(sp)
        for c in COUNTERS:
            vals[f"{name}.{c}"] = eng.get(c, 0.0)
        vals[f"{name}.busy_frac"] = eng.get("run_s", 0.0) / (sp.seconds * cores)
    for layer, facts in p.facts.items():
        for key, value in facts.items():
            if isinstance(value, (int, float)):
                vals[f"{layer}.{key}"] = float(value)
        rounds = facts.get("iterations")
        if rounds:
            vals[f"{layer}.round_s_p50"] = median(facts["round_s"])
            vals[f"{layer}.jobs_per_round"] = vals.get(f"{layer}.jobs", 0.0) / rounds
            vals[f"{layer}.tasks_per_round"] = vals.get(f"{layer}.tasks", 0.0) / rounds
            if "edges" in facts:
                vals[f"{layer}.edge_iters_per_s"] = facts["edges"] * rounds / vals[f"{layer}.s"]
    for name, source in (
        ("datasets.expand.rows", "datasets.expand_rows"),
        ("storage.snapshots.latest_s", "storage.snapshots.latest.s"),
        ("storage.serving.build_s", "storage.serving.build.s"),
        ("storage.snapshots.bytes_written_mb", "streaming.ingest.output_mb"),
    ):
        if source in vals:
            vals[name] = vals[source]
    eng = phase.engine.get(p.span.id, {})
    for c in ("jobs", "stages", "tasks", "failed_tasks", "gc_s"):
        vals[f"spark.{c}"] = eng.get(c, 0.0)
    vals["spark.leftover_rdds"] = float(p.leftover_rdds)
    vals["trace.pass_self_s"] = phase.tracer.self_seconds(p.span)
    return vals


def code_hash() -> str:
    """Content hash of the engine and the benchmark sources, so a result
    is only ever compared with one of the same code."""
    h = hashlib.sha256()
    for top in ("plwordnet_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_job_s(sandbox, args, phase: Phase, code: str) -> float | None:
    """``job_s`` of an untraced run of the same workload, seed, code and
    inputs, from its result file in this checkout; None if there is none.
    Each run starts its own JVM, so the two passes are measured alike; a
    second session in this process would run on a warm JVM."""
    path = os.path.join(sandbox.out, _stem(args, trace=0) + ".json")
    try:
        with open(path, encoding="utf-8") as fh:
            record = json.load(fh)
    except (OSError, ValueError):
        return None
    if record.get("inputs") != phase.fingerprint or record.get("code") != code:
        return None
    return record["result"]["metrics"]["job_s"]["value"]


def per_layer(phase: Phase, untraced_job_s: float | None, names: list[str]) -> dict:
    """The traced pass's figures, then the extras' for the layers the
    pass does not call. The tracing overhead reads 0 when no untraced run
    of the same code and inputs has left its result here."""
    main_vals = pass_layer_values(phase, phase.timed)
    extra = pass_layer_values(phase, phase.extras) if phase.extras else {}
    vals = {n: main_vals[n] if n in main_vals else extra.get(n, 0.0) for n in names}
    corpus = [s for sp in phase.setups for s in phase.tracer.descendants(sp).values()
              if s.name == "corpus"]
    pages = float(phase.fingerprint.get("pages", 0))
    ext = phase.extras.spans.get("extraction") if phase.extras else None
    job_s = phase.timed.span.seconds
    run_level = {
        "session.start_s": phase.session.start_s,
        "corpus.generate_s": median(s.seconds for s in corpus),
        "corpus.pages": pages,
        "extraction.s": ext.seconds if ext else 0.0,
        "extraction.pages_per_s": pages / ext.seconds if ext else 0.0,
        "extraction.busy_s": phase.engine.get(ext.id, {}).get("run_s", 0.0) if ext else 0.0,
        "trace.job_s": job_s,
        "trace.untraced_job_s": untraced_job_s or 0.0,
        "trace.overhead_s": job_s - untraced_job_s if untraced_job_s else 0.0,
    }
    vals.update({k: v for k, v in run_level.items() if k in vals})
    return vals


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    started = time.perf_counter()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")

    sandbox = Sandbox(ROOT)
    tally = Tally()
    code = code_hash()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cores": os.cpu_count(), "heap": harness.HEAP,
              "code": code}
    try:
        phase = measure(args, sandbox, tally, bool(args.trace), started)
        if args.trace:
            metrics = per_layer(phase, _untraced_job_s(sandbox, args, phase, code), list(wanted))
            phase.tracer.dump(os.path.join(sandbox.out, _stem(args) + "-spans.json"))
        else:
            metrics = end_to_end(phase)
            record["stage_metrics"] = {
                k: {"value": v, "unit": phase.workload.stage_units[k]}
                for k, v in phase.workload.stage_metrics(phase.timed.spans, phase.timed.out).items()
            }
    finally:
        Session.shutdown_jvm()
        sandbox.remove()

    missing = set(wanted) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    record.update(
        inputs=phase.fingerprint,
        setup_s=[sp.seconds for sp in phase.setups],
        pass_spans={n: sp.seconds for n, sp in phase.timed.spans.items()},
        timeline=phase.marks,
        pass_facts={f"{layer}.{k}": v for layer, facts in phase.timed.facts.items()
                    for k, v in facts.items() if isinstance(v, (int, float))},
        session_start_s=phase.session.start_s,
        check_failures=tally.notes,
        wall_s=time.perf_counter() - started,
    )
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()},
    }
    record["result"] = result
    with open(os.path.join(sandbox.out, _stem(args) + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "cores", "heap", "code",
                                             "inputs", "check_failures")}))
    if "stage_metrics" in record:
        print(json.dumps({"stage_metrics": record["stage_metrics"]}))
    print(json.dumps(result))
    return 0


def _stem(args, trace: int | None = None) -> str:
    trace = args.trace if trace is None else trace
    return f"{args.workload}-seed{args.seed}-trace{trace}"


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, then fail without a result line
        traceback.print_exc()
        sys.exit(1)
