"""One benchmark run: inputs, repeated set-up, the closed loop, the
correctness gate, and (traced runs) spans, Spark metrics and the per-layer
table. ``run`` returns the result object ``run.py`` prints."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from . import inputs, kernels, session, sparkstats
from .trace import Tracer, format_table, layer_table
from .workloads import WORKLOADS, Job, Workload

SETUP_REPS = 3  # setup_s is the median of this many set-ups per run
MIN_ROUNDS = 3  # every job runs at least this often, however short --seconds is
COMMON_LAYER_PREFIXES = ("sketches.", "spark.", "trace.")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Loop:
    times: dict[str, list[float]]
    items: dict[str, int]
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rounds: int = 0
    wall_s: float = 0.0

    def job_rate(self, metric: str) -> float:
        return self.items[metric] / statistics.median(self.times[metric])

    @property
    def items_per_s(self) -> float:
        """Work completed per second: each job's items over its median time,
        summed over the jobs of one round."""
        return sum(self.items.values()) / sum(statistics.median(t) for t in self.times.values())


def closed_loop(jobs: list[Job], seconds: float, tracers: list[Tracer], name: str) -> list[Loop]:
    """Run every job in turn, each submitted after the previous one ends,
    until ``seconds`` have passed and every tracer has had MIN_ROUNDS
    rounds. Rounds alternate between ``tracers`` (traced runs pass an
    untraced and a traced one, so both see the same warm-up state); each
    round is one span ``name``. Returns one Loop per tracer."""
    loops = [Loop({j.metric: [] for j in jobs}, {j.metric: j.items for j in jobs}) for _ in tracers]
    t_start = time.perf_counter()
    deadline = t_start + seconds
    turn = 0
    while min(lp.rounds for lp in loops) < MIN_ROUNDS or time.perf_counter() < deadline:
        tracer, loop = tracers[turn % len(tracers)], loops[turn % len(tracers)]
        t_round = time.perf_counter()
        with tracer.span(name):
            for job in jobs:
                t0 = time.perf_counter()
                out = job.run(tracer)
                loop.times[job.metric].append(time.perf_counter() - t0)
                loop.attempted += 1
                errs = job.check(out)
                loop.failed += bool(errs)
                loop.failures += errs
        loop.wall_s += time.perf_counter() - t_round
        loop.rounds += 1
        turn += 1
    return loops


def _versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__}


def _source(root: Path) -> dict:
    """Git revision when the checkout is a git repository, and always a
    digest of the library sources (the benchmark's checkout may not be)."""
    h = hashlib.sha256()
    for p in sorted((root / "probably_jl_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    rev = None
    if (root / ".git").exists():
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        rev = r.stdout.strip() or None
    return {"git_rev": rev, "library_sha256": h.hexdigest()}


def _traced(wl: Workload, spark, seconds: float, seed: int, record: dict) -> tuple[dict, list[Loop]]:
    store = sparkstats.StatusStore(spark)
    store.sync()
    exec_before = store.last_execution_id()
    tracer = Tracer(uuid.uuid4().hex[:12], spark)
    root_name = f"workload:{wl.name}"
    plain, traced = closed_loop(wl.jobs(), 2 * seconds,
                                [Tracer("untraced", enabled=False), tracer], root_name)
    store.snapshot()
    groups = {s.group for s in tracer.spans}
    roots = [s for s in tracer.spans if s.parent is None]
    table = layer_table(tracer.spans, roots)
    metrics = sparkstats.engine_metrics(store, groups, (exec_before, store.last_execution_id()),
                                        table["wall_s"], session.CORES)
    metrics.update(wl.layer_metrics_from(tracer, store, traced.rounds))
    with tracer.span(f"layer_probes:{wl.name}") as probes_root:
        metrics.update(wl.layer_probes(tracer))
    probe_table = layer_table(tracer.spans, [probes_root])
    metrics.update(kernels.measure(seed))
    for job in traced.items:
        metrics[f"job.{job}"] = traced.job_rate(job)
    metrics["trace.overhead_pct"] = (plain.items_per_s / traced.items_per_s - 1.0) * 100.0
    metrics["trace.unattributed_pct"] = table["unattributed_s"] / table["wall_s"] * 100.0
    log(format_table(wl.name, table))
    if probe_table["rows"]:
        log(format_table(f"{wl.name} layer probes", probe_table))
    t0 = roots[0].start
    record["layer_table"] = table
    record["layer_probe_table"] = probe_table
    record["spans"] = [
        {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
         "start": s.start - t0, "end": s.end - t0,
         **{k: v for k, v in s.attrs.items() if k != "plan"}}
        for s in tracer.spans
    ]
    record["trace_overhead"] = {"untraced_items_per_s": plain.items_per_s,
                                "traced_items_per_s": traced.items_per_s}
    return metrics, [plain, traced]


def _emit(contract: dict, key: str, values: dict, wl: Workload) -> dict:
    out = {}
    own = set(wl.layer_metrics)
    for m in contract[key]:
        name = m["name"]
        if name not in values:
            # a layer this workload never calls: zero calls, zero time
            required = key == "end_to_end" or name in own or name.startswith(COMMON_LAYER_PREFIXES)
            if required:
                raise RuntimeError(f"metric {name} was not measured on {wl.name}")
            values[name] = 0.0
        out[name] = {"value": float(values[name]), "unit": m["unit"]}
    return out


def run(root: Path, contract: dict, name: str, seed: int, seconds: float, trace: bool,
        scale: float) -> dict:
    t_run = time.perf_counter()
    work = root / "perfbench" / ".work"
    session.prepare_env(root, work)
    record: dict = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace, "scale": scale,
        "nproc": len(os.sched_getaffinity(0)), "cores": session.CORES, "versions": _versions(),
        "source": _source(root), "loadavg_1m": {"start": os.getloadavg()[0]},
    }
    # seconds since the run started at the end of each phase
    phases = record["phases_s"] = {}
    cls = WORKLOADS[name]
    sizes = inputs.sizes_for(scale * cls.input_scale)
    gen = inputs.start_generation(work, seed, sizes,
                                  list(cls.tables + (cls.probe_tables if trace else ())))
    record["generated"] = gen is not None
    spark = None
    try:
        # while the inputs generate: the JVM launch and its first session
        # start, the slow one-off part of a JVM's first session
        spark = session.start(work)
        phases["jvm"] = time.perf_counter() - t_run
        if gen is not None:
            if gen.wait(timeout=800) != 0:
                raise RuntimeError(f"input generation failed (exit {gen.returncode})")
        phases["generate"] = time.perf_counter() - t_run
        tables = inputs.load(work, seed, sizes, list(cls.tables))
        record["inputs"] = {t.name: t.fingerprint for t in tables.values()}
        log(f"inputs ready: {record['inputs']}")
        wl = cls(None, work, seed, sizes, tables)
        record["loadavg_1m"]["before_setup"] = os.getloadavg()[0]
        setups = []
        for _ in range(SETUP_REPS):
            spark.stop()  # its Python workers exit with it
            t0 = time.perf_counter()
            spark = session.start(work)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        log(f"set-ups: {[round(s, 3) for s in setups]}")
        phases["setups"] = time.perf_counter() - t_run
        wl.warm_up()
        wl.reference()
        phases["warm_up"] = time.perf_counter() - t_run
        record["loadavg_1m"]["before_loop"] = os.getloadavg()[0]
        if trace:
            per_layer, loops = _traced(wl, spark, seconds, seed, record)
        else:
            per_layer = {}
            loops = closed_loop(wl.jobs(), seconds, [Tracer("untraced", enabled=False)],
                                f"workload:{name}")
        plain = loops[0]
        phases["loop"] = time.perf_counter() - t_run
        record["loadavg_1m"]["after_loop"] = os.getloadavg()[0]
        e2e = {
            "items_per_s": plain.items_per_s,
            "setup_s": statistics.median(setups),
            "py_worker_peak_rss_mb": sparkstats.python_worker_peak_rss_mb(sparkstats.jvm_pid()),
        }
    finally:
        if gen is not None and gen.poll() is None:
            gen.terminate()  # the child stops its JVM on SIGTERM
            try:
                gen.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gen.kill()
                gen.wait()
        session.shutdown(spark)
    phases["shutdown"] = time.perf_counter() - t_run
    failures = wl.ref_failures + wl.probe_failures + [f for lp in loops for f in lp.failures]
    # + the reference step, + checked layer-probe operations
    attempted = 1 + wl.probe_ops + sum(lp.attempted for lp in loops)
    failed = bool(wl.ref_failures) + wl.probe_failed + sum(lp.failed for lp in loops)
    e2e["failed_ops_ratio"] = failed / attempted
    record.update(
        setup_s=setups, e2e=e2e, per_layer=per_layer, failures=failures[:50],
        rounds=[lp.rounds for lp in loops], wall_s=[lp.wall_s for lp in loops],
        job_seconds=dict(plain.times),
        job_rates={k: plain.job_rate(k) for k in plain.items},
    )
    for f in failures[:20]:
        log(f"CHECK FAILED: {f}")
    log(f"jobs/s per job: { {k: round(v, 1) for k, v in record['job_rates'].items()} }")
    records = work / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{name}-seed{seed}-trace{int(trace)}-{time.time_ns()}.json").write_text(
        json.dumps(record, indent=1, default=str))
    metrics = _emit(contract, "per_layer" if trace else "end_to_end",
                    per_layer if trace else e2e, wl)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
