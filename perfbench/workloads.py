"""The two workloads. Each is a closed loop: one client (the driver)
submits the next job only after the previous one finished.

* ``sketch_build``: over one transcripts table, the fused global build
  (the 7 specs of bench.py:transcript_specs) plus driver estimators;
  grouped builds by conversation (auto dispatch), on a hot-key variant
  (pinned to the direct route) and by role (the mixed-kind generic
  route); and a rollup of cached per-conversation states. Update kernels,
  Arrow transfer, exchange, grouped builders, state emit/decode and merge.
* ``text_clean``: ``simhash`` and ``clean_corpus`` in both dedup modes:
  text functions and dedup operators, no sketches.

The read side (``ReadSide``: Bloom and count-min probes, SQL state
queries) runs as checked layer probes of sketch_build's traced run.

Every job's output is checked against exact answers (gate.py); checks run
outside the timed region.
"""

from __future__ import annotations

import base64
import random
import statistics
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from probably_jl_spark.operators.specs import SketchSpec

from . import gate, inputs
from .inputs import NULL_TOOL, SIMHASH_SAMPLE_MOD, Table
from .trace import Tracer

QUERY_GRID = 999  # pjs_quantile q values per role state
N_KEY_SAMPLE = 200  # present and absent keys each, for driver-side contains()
PROBE_REPS = 3  # layer probes: median of this many runs


@dataclass
class Job:
    metric: str  # per-job throughput name, e.g. "fused_build_rows_per_s"
    items: int  # work units one execution processes
    run: Callable[[Tracer], object]
    check: Callable[[object], list[str]]


def fused_specs():
    """Same seven specs as bench.py:transcript_specs."""
    S = SketchSpec
    return [
        S("convs", "hll", key_cols=("conv_id",)),
        S("conv_tool", "hll", key_cols=("conv_id", "tool")),
        S("role_freq", "cms", key_cols=("role",), params={"width": 2048, "depth": 5}),
        S("tool_freq", "cms", key_cols=("tool",), params={"width": 2048, "depth": 5}),
        S("conv_member", "bloom", key_cols=("conv_id",), params={"m": 1 << 22, "k": 5}),
        S("turn_len_td", "tdigest", value_col="text_len"),
        S("turn_len_kll", "kll", value_col="text_len"),
    ]


def tool_hll_spec():
    return [SketchSpec("tools", "hll", key_cols=("tool",))]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(*cols):
    from pyspark.sql import functions as F

    return F.bit_xor(F.xxhash64(*cols))


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _median_seconds(fn, reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _hist(refs: dict, role: str | None = None) -> dict[float, int]:
    out: dict[float, int] = {}
    for r, h in refs["len_hist_by_role"].items():
        if role is None or r == role:
            for k, c in h.items():
                out[float(k)] = out.get(float(k), 0) + c
    return out


def _conv_keys(seed: int, lo: int, hi: int, n: int) -> list[str]:
    rng = random.Random(seed)
    return [f"conv-{rng.randrange(lo, hi):08d}" for _ in range(n)]


class Workload:
    """Inputs, set-up, timed jobs with their checks, and the per-layer
    metrics of one workload."""

    name = ""
    tables: tuple[str, ...] = ()
    # per-layer metrics this workload must produce in a traced run
    layer_metrics: tuple[str, ...] = ()
    # multiplier of inputs.BASE_SIZES: jobs big enough that the library's
    # work, not Spark's fixed per-job cost, dominates their time
    input_scale = 1.0
    # tables only the traced run's layer probes read
    probe_tables: tuple[str, ...] = ()

    def __init__(self, spark, work: Path, seed: int, sizes: dict[str, int],
                 tables: dict[str, Table]):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.t = tables
        self.ref_failures: list[str] = []  # reference step (one operation)
        self.probe_ops = 0  # checked operations run by layer probes
        self.probe_failures: list[str] = []
        self.probe_failed = 0
        self._first: dict[str, object] = {}

    def read(self, name: str):
        return self.spark.read.parquet(self.t[name].path)

    def setup(self, spark) -> None:
        """Open inputs and build states (subclasses), then one run of the
        first job: Python worker start and library imports."""
        self.spark = spark
        self.open()
        self.jobs()[0].run(Tracer("warmup", enabled=False))

    def warm_up(self) -> None:
        """One untimed round of every job before the loop. The set-ups
        already ran the first job in this JVM; this round gives the JIT
        every other job's code paths too."""
        off = Tracer("warmup", enabled=False)
        for job in self.jobs():
            job.run(off)

    def checked(self, job: Job, tracer: Tracer, reps: int = PROBE_REPS) -> float:
        """Run a job ``reps`` times outside the loop, checking each output;
        returns the median seconds."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = job.run(tracer)
            times.append(time.perf_counter() - t0)
            errs = job.check(out)
            self.probe_ops += 1
            self.probe_failed += bool(errs)
            self.probe_failures += errs
        return statistics.median(times)

    def open(self) -> None:
        raise NotImplementedError

    def jobs(self) -> list[Job]:
        raise NotImplementedError

    def reference(self) -> None:
        """Untimed, once per run: reference answers the checks compare with."""

    def same_as_first(self, name: str, value) -> list[str]:
        """Determinism check: every execution matches the first checked one."""
        want = self._first.setdefault(name, value)
        return gate.equal(f"{name} (vs first execution)", value, want)

    def layer_metrics_from(self, tracer: Tracer, store, rounds: int) -> dict[str, float]:
        return {}

    def layer_probes(self, tracer: Tracer) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------- sketch_build
class SketchBuild(Workload):
    """The fused global build with driver estimators (update kernels, Arrow
    transfer, per-partition build; no shuffle, tiny merge), the grouped
    builds (exchange, grouped builders, state emit/decode; the hot key
    shows straggler skew) and a rollup of cached per-conversation states
    (re-merge without a rescan), all over one transcripts table."""

    name = "sketch_build"
    tables = ("transcripts", "hot")
    layer_metrics = (
        "build.scan_hash_s", "build.partials_s", "build.tree_merge_s",
        "build.partials_n", "build.partial_state_bytes", "build.estimators_ms",
        "grouped.plan_s", "grouped.route.direct", "grouped.route.pre_partial",
        "grouped.route.generic", "grouped.exchange_bytes", "grouped.task_skew",
        "grouped.state_bytes_out", "rollup.s", "rollup.exchange_bytes",
        "functions.keys_hash_s", "functions.probe_job_s", "functions.sql_state_query_s",
        "functions.estimator_us_p50",
    )
    input_scale = 1.5
    probe_tables = ("probes",)

    def open(self) -> None:
        from probably_jl_spark.operators.grouped import grouped_sketch

        refs = self.t["transcripts"].refs
        self.df = self.read("transcripts")
        self.hot_df = self.read("hot")
        self.roles = sorted(refs["len_hist_by_role"])
        self.tools = sorted(refs["tool_counts"])
        n = refs["n_convs"]
        self.present = _conv_keys(self.seed, 0, n, N_KEY_SAMPLE)
        self.absent = _conv_keys(self.seed + 1, n, 2 * n, N_KEY_SAMPLE)
        path = self.work / "states" / f"conv_tools-{Path(self.t['transcripts'].path).parent.name}"
        grouped_sketch(self.df, ["conv_id"], tool_hll_spec()).write.mode(
            "overwrite").parquet(str(path))
        self.states_df = self.spark.read.parquet(str(path))

    def setup(self, spark) -> None:
        """open() builds the per-conversation states with a grouped build,
        which already starts the Python workers."""
        self.spark = spark
        self.open()

    # ------------------------------------------------------ global build
    def _estimate(self, sk: dict) -> dict:
        from probably_jl_spark.functions import (
            contains, estimate_cardinality, quantile, query_count,
        )

        return {
            "convs": estimate_cardinality(sk["convs"]),
            "conv_tool": estimate_cardinality(sk["conv_tool"]),
            "roles": {r: query_count(sk["role_freq"], r) for r in self.roles},
            "tools": {
                t: query_count(sk["tool_freq"], None if t == NULL_TOOL else t) for t in self.tools
            },
            "false_neg": sum(not contains(sk["conv_member"], k) for k in self.present),
            "false_pos": sum(contains(sk["conv_member"], k) for k in self.absent),
            "td": [quantile(sk["turn_len_td"], q) for q in gate.QUANTILES],
            "kll": [quantile(sk["turn_len_kll"], q) for q in gate.QUANTILES],
        }

    def _run_fused(self, tr: Tracer):
        from probably_jl_spark.operators.build import sketch_table

        with tr.span("operators.build:sketch_table"):
            res = sketch_table(self.df, fused_specs())
        with tr.span("functions:estimators"):
            est = self._estimate(res.sketches)
        return res.n_rows, est

    def _check_fused(self, out) -> list[str]:
        n_rows, est = out
        refs = self.t["transcripts"].refs
        hist = _hist(refs)
        role_exact = {r: sum(h.values()) for r, h in refs["len_hist_by_role"].items()}
        f = gate.equal("rows", n_rows, refs["rows"])
        f += gate.hll_within("convs", est["convs"], refs["convs"])
        f += gate.hll_within("conv_tool", est["conv_tool"], refs["conv_tools"])
        f += gate.cms_within("role_freq", est["roles"], role_exact, 2048, 5, refs["rows"])
        f += gate.cms_within("tool_freq", est["tools"], refs["tool_counts"], 2048, 5, refs["rows"])
        f += gate.bloom_within("conv_member", est["false_neg"], est["false_pos"],
                               len(self.absent), 1 << 22, 5, refs["convs"])
        f += gate.quantiles_within("turn_len_td", est["td"], hist, gate.TDIGEST_RANK_BOUND)
        f += gate.quantiles_within("turn_len_kll", est["kll"], hist, 2 / 200)
        return f

    # ---------------------------------------------------- grouped builds
    def _grouped(self, tr: Tracer, job: str, df, extra=(), pre_partial=None):
        from pyspark.sql import functions as F

        from probably_jl_spark.operators.grouped import grouped_sketch

        with tr.span("operators.grouped:grouped_sketch", job=job):
            out = grouped_sketch(df, ["conv_id"], tool_hll_spec(), pre_partial=pre_partial)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("state_tools")).alias("b"),
            _digest("conv_id", "state_tools").alias("d"),
            *extra,
        )
        with tr.span("operators.grouped:action", job=job) as s:
            row = agg.collect()[0]
        if s is not None:
            s.attrs.update(plan=_final_plan(agg), state_bytes=row["b"])
        return row

    def _run_conv(self, tr):
        return self._grouped(tr, "conv", self.df)

    def _run_hot(self, tr):
        from pyspark.sql import functions as F

        hot = self.t["hot"].refs["hot_conv"]
        first = F.first(F.when(F.col("conv_id") == hot, F.col("state_tools")), ignorenulls=True)
        # Pinned to the direct route (raw-row exchange on the unsalted key),
        # where a hot key straggles one task; map-side partials would hide
        # the skew. The conv job keeps the auto dispatch.
        return self._grouped(tr, "hot", self.hot_df, (first.alias("hot_state"),),
                             pre_partial=False)

    def _run_role(self, tr):
        from probably_jl_spark.operators.grouped import grouped_sketch

        specs = [SketchSpec("convs", "hll", key_cols=("conv_id",)),
                 SketchSpec("len", "kll", value_col="text_len")]
        with tr.span("operators.grouped:grouped_sketch", job="role"):
            out = grouped_sketch(self.df, ["role"], specs)
        with tr.span("operators.grouped:action", job="role") as s:
            rows = out.collect()
        if s is not None:
            s.attrs.update(plan=_final_plan(out),
                           state_bytes=sum(len(r["state_convs"]) + len(r["state_len"]) for r in rows))
        return rows

    def _run_rollup(self, tr):
        from probably_jl_spark.operators.rollup import rollup_states

        with tr.span("operators.rollup:rollup_states"):
            out = rollup_states(self.states_df, [])
        with tr.span("operators.rollup:action"):
            return out.collect()[0]

    def reference(self) -> None:
        from probably_jl_spark.operators.build import sketch_table

        self.ref_global = sketch_table(self.df, tool_hll_spec()).sketches["tools"].to_bytes()
        py_ref = base64.b64decode(self.t["hot"].refs["all_tools_state_b64"])
        self.ref_failures += gate.same_bytes("direct global HLL(tool) vs driver recomputation",
                                             self.ref_global, py_ref)

    def _check_conv(self, row):
        f = gate.equal("conv groups", row["n"], self.t["transcripts"].refs["convs"])
        return f + self.same_as_first("conv states digest", (row["n"], row["d"]))

    def _check_hot(self, row):
        refs = self.t["hot"].refs
        f = gate.equal("hot-key groups", row["n"], refs["groups"])
        f += self.same_as_first("hot-key states digest", (row["n"], row["d"]))
        return f + gate.same_bytes("hot-key state vs recomputation from exact rows",
                                   row["hot_state"], base64.b64decode(refs["hot_state_b64"]))

    def _check_role(self, rows):
        from probably_jl_spark.functions import estimate_cardinality, quantile

        refs = self.t["transcripts"].refs
        f = gate.equal("roles", sorted(r["role"] for r in rows), sorted(refs["role_convs"]))
        for r in rows:
            f += gate.hll_within(f"convs[{r['role']}]", estimate_cardinality(r["state_convs"]),
                                 refs["role_convs"][r["role"]])
            f += gate.quantiles_within(f"len[{r['role']}]",
                                       [quantile(r["state_len"], q) for q in gate.QUANTILES],
                                       _hist(refs, r["role"]), 2 / 200)
        return f

    def _check_rollup(self, row):
        f = gate.equal("rollup n_rows", row["n_rows"], self.t["transcripts"].refs["rows"])
        return f + gate.same_bytes("rolled-up HLL vs direct global build",
                                   row["state_tools"], self.ref_global)

    def jobs(self) -> list[Job]:
        tr, hot = self.t["transcripts"].refs, self.t["hot"].refs
        return [
            Job("fused_build_rows_per_s", tr["rows"], self._run_fused, self._check_fused),
            Job("grouped_conv_groups_per_s", tr["convs"], self._run_conv, self._check_conv),
            Job("grouped_hotkey_rows_per_s", hot["rows"], self._run_hot, self._check_hot),
            Job("grouped_role_rows_per_s", tr["rows"], self._run_role, self._check_role),
            Job("rollup_states_per_s", tr["convs"], self._run_rollup, self._check_rollup),
        ]

    # ------------------------------------------------- per-layer metrics
    def layer_metrics_from(self, tracer, store, rounds):
        est = [s.seconds for s in tracer.named("functions:estimators")]
        actions = tracer.named("operators.grouped:action")
        routes = {"direct": 0, "pre_partial": 0, "generic": 0}
        for s in actions:
            routes[grouped_route(s.attrs["plan"])] += 1
        exchange = sum(st["shuffle_write_bytes"] for _, st in store.group_stages({s.group for s in actions}))
        skews = []
        for s in actions:
            if s.attrs.get("job") != "hot":
                continue
            stages = store.group_stages({s.group})
            sid, st = max(stages, key=lambda x: x[1]["shuffle_read_bytes"])
            runs = sorted(store.task_run_ms(sid, st["attempt"]))
            skews.append(max(runs) / max(statistics.median(runs), 1))
        roll = tracer.named("operators.rollup:action")
        roll_plan = tracer.named("operators.rollup:rollup_states")
        return {
            "build.estimators_ms": statistics.median(est) * 1e3,
            "grouped.plan_s": statistics.median(
                s.seconds for s in tracer.named("operators.grouped:grouped_sketch")),
            **{f"grouped.route.{k}": float(v) for k, v in routes.items()},
            "grouped.exchange_bytes": exchange / rounds,
            "grouped.task_skew": statistics.median(skews),
            "grouped.state_bytes_out": sum(s.attrs["state_bytes"] for s in actions) / rounds,
            "rollup.s": statistics.median(a.seconds + b.seconds for a, b in zip(roll, roll_plan)),
            "rollup.exchange_bytes": statistics.median(
                sum(st["shuffle_write_bytes"] for _, st in store.group_stages({s.group})) for s in roll),
        }

    def layer_probes(self, tracer):
        from pyspark.sql import functions as F

        from probably_jl_spark.operators.build import build_partials, prepare, tree_merge

        specs = fused_specs()
        out = {}
        with tracer.span("operators.build:prepare->noop"):
            out["build.scan_hash_s"] = _median_seconds(
                lambda: _noop(prepare(self.df, specs, lineage=False)[0]))
        with tracer.span("operators.build:build_partials->noop"):
            out["build.partials_s"] = _median_seconds(
                lambda: _noop(build_partials(self.df, specs, lineage=False)))
        partials = build_partials(self.df, specs, lineage=False).cache()
        try:
            with tracer.span("operators.build:build_partials->cache"):
                row = partials.agg(
                    F.count(F.lit(1)).alias("n"),
                    sum(F.sum(F.length(s.state_col)) for s in specs).alias("b"),
                ).collect()[0]
            with tracer.span("operators.build:tree_merge"):
                out["build.tree_merge_s"] = _median_seconds(lambda: tree_merge(partials, specs))
        finally:
            partials.unpersist()
        out["build.partials_n"] = float(row["n"])
        out["build.partial_state_bytes"] = float(row["b"])
        with tracer.span("setup:read_side"):
            tables = inputs.load(self.work, self.seed, self.sizes, list(ReadSide.tables))
            read = ReadSide(self.spark, self.work, self.seed, self.sizes, tables)
            read.open()
        out.update(read.measure(tracer, self))
        return out


def grouped_route(final_plan: str) -> str:
    """Which grouped_sketch route an executed plan took: the generic
    per-key applyInPandas merge, map-side partials then a merge pass, or
    the direct one-pass build after a raw-row exchange."""
    if "FlatMapGroupsInPandas" in final_plan:
        return "generic"
    if final_plan.count("MapInPandas") >= 2:
        return "pre_partial"
    return "direct"


# ------------------------------------------------------------------ read side
BLOOM_M, BLOOM_K = 1 << 22, 5
CMS_WIDTH, CMS_DEPTH = 1 << 16, 5


class ReadSide(Workload):
    """The read side of the same sketches: Bloom and count-min probes over
    seeded keys (half absent), SQL ``pjs_cardinality`` over the
    per-conversation state table and ``pjs_quantile`` over role states.
    No update kernels and no builders in the timed jobs. Measured as
    layer probes of sketch_build's traced run (see README.md)."""

    name = "read_side"
    tables = ("transcripts", "probes")

    def open(self) -> None:
        from pyspark.sql import functions as F

        from probably_jl_spark.functions.sql import register_sketch_sql_functions
        from probably_jl_spark.operators.build import sketch_table
        from probably_jl_spark.operators.grouped import grouped_sketch

        S = SketchSpec
        self.tr_df = self.read("transcripts")
        self.probes_df = self.read("probes")
        res = sketch_table(self.tr_df, [
            S("member", "bloom", key_cols=("conv_id",), params={"m": BLOOM_M, "k": BLOOM_K}),
            S("freq", "cms", key_cols=("conv_id",), params={"width": CMS_WIDTH, "depth": CMS_DEPTH}),
        ])
        self.bloom_state = res.sketches["member"].to_bytes()
        self.cms_state = res.sketches["freq"].to_bytes()
        src = Path(self.t["transcripts"].path).parent.name
        conv_path = self.work / "states" / f"conv_tools-{src}"
        role_path = self.work / "states" / f"role_len-{src}"
        grouped_sketch(self.tr_df, ["conv_id"], tool_hll_spec()).write.mode(
            "overwrite").parquet(str(conv_path))
        grouped_sketch(self.tr_df, ["role"], [S("len", "kll", value_col="text_len")]).write.mode(
            "overwrite").parquet(str(role_path))
        self.spark.read.parquet(str(conv_path)).createOrReplaceTempView("conv_states")
        self.spark.read.parquet(str(role_path)).createOrReplaceTempView("role_states")
        self.spark.range(1, QUERY_GRID + 1).select(
            (F.col("id") / (QUERY_GRID + 1)).alias("q")).createOrReplaceTempView("qgrid")
        register_sketch_sql_functions(self.spark)

    def _run_contains(self, tr):
        from pyspark.sql import functions as F

        from probably_jl_spark.functions import batch_contains

        with tr.span("functions:batch_contains"):
            out = batch_contains(self.probes_df, ["conv_id"], self.bloom_state)
            return out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("present") & ~F.col("member")).cast("long")).alias("fn"),
                F.sum((~F.col("present") & F.col("member")).cast("long")).alias("fp"),
            ).collect()[0]

    def _run_counts(self, tr):
        from pyspark.sql import functions as F

        from probably_jl_spark.functions import batch_query_counts

        slack = gate.cms_slack(CMS_WIDTH, self.t["transcripts"].refs["rows"])
        with tr.span("functions:batch_query_counts"):
            out = batch_query_counts(self.probes_df, ["conv_id"], self.cms_state)
            over = F.col("est_count") - F.col("exact_count")
            return out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((over < 0).cast("long")).alias("under"),
                F.sum((over > slack).cast("long")).alias("over"),
            ).collect()[0]

    def _run_state_query(self, tr):
        with tr.span("functions:sql_cardinality"):
            card = self.spark.sql(
                "SELECT count(*) AS n, sum(pjs_cardinality(state_tools)) AS s FROM conv_states"
            ).collect()[0]
        with tr.span("functions:sql_quantile"):
            quant = self.spark.sql(
                "SELECT r.role, g.q, pjs_quantile(r.state_len, g.q) AS v "
                "FROM role_states r CROSS JOIN qgrid g"
            ).collect()
        return card, quant

    def _check_contains(self, row):
        refs, probes = self.t["transcripts"].refs, self.t["probes"].refs
        f = gate.equal("probe keys", row["n"], probes["rows"])
        return f + gate.bloom_within("batch_contains", row["fn"], row["fp"],
                                     probes["rows"] - probes["present"], BLOOM_M, BLOOM_K,
                                     refs["convs"])

    def _check_counts(self, row):
        f = gate.equal("count keys", row["n"], self.t["probes"].refs["rows"])
        return f + gate.cms_violations("batch_query_counts", row["under"], row["over"],
                                       row["n"], CMS_DEPTH)

    def _check_state_query(self, out):
        card, quant = out
        refs = self.t["transcripts"].refs
        f = gate.equal("conv state rows", card["n"], refs["convs"])
        f += gate.hll_within("sum of per-conv cardinalities", card["s"],
                             refs["conv_tools"])
        f += gate.equal("quantile rows", len(quant), QUERY_GRID * len(refs["role_convs"]))
        by_role: dict[str, list] = {}
        for r in quant:
            by_role.setdefault(r["role"], []).append((r["q"], r["v"]))
        for role, pts in by_role.items():
            pts.sort()
            vals = [v for _, v in pts]
            if any(b < a for a, b in zip(vals, vals[1:])):
                f.append(f"pjs_quantile[{role}]: not monotone in q")
            picks = [min(pts, key=lambda p: abs(p[0] - q)) for q in gate.QUANTILES]
            f += gate.quantiles_within(f"pjs_quantile[{role}]", [v for _, v in picks],
                                       _hist(refs, role), 2 / 200, qs=[q for q, _ in picks])
        return f

    def jobs(self) -> list[Job]:
        n = self.t["probes"].refs["rows"]
        refs = self.t["transcripts"].refs
        return [
            Job("probe_keys_per_s", n, self._run_contains, self._check_contains),
            Job("count_query_keys_per_s", n, self._run_counts, self._check_counts),
            Job("state_query_rows_per_s", refs["convs"] + QUERY_GRID * len(refs["role_convs"]),
                self._run_state_query, self._check_state_query),
        ]

    def measure(self, tracer: Tracer, owner: Workload) -> dict[str, float]:
        """Per-layer metrics of the read side; checked operations are
        counted on ``owner``."""
        from pyspark.sql import functions as F

        from probably_jl_spark.functions import (
            contains, estimate_cardinality, quantile, query_count,
        )
        from probably_jl_spark.operators.specs import sketch_from_bytes

        out = {}
        with tracer.span("functions:xxhash64->noop"):
            out["functions.keys_hash_s"] = _median_seconds(
                lambda: _noop(self.probes_df.select(F.xxhash64("conv_id"))))
        jobs = self.jobs()
        with tracer.span("setup:read_side_warmup"):
            for job in jobs:
                job.run(Tracer("warmup", enabled=False))
        for job in jobs:
            out[f"job.{job.metric}"] = job.items / owner.checked(job, tracer)
        out["functions.probe_job_s"] = statistics.median(
            s.seconds for s in tracer.named("functions:batch_contains"))
        card = tracer.named("functions:sql_cardinality")
        quant = tracer.named("functions:sql_quantile")
        out["functions.sql_state_query_s"] = statistics.median(
            a.seconds + b.seconds for a, b in zip(card, quant))
        bloom = sketch_from_bytes(self.bloom_state)
        cms = sketch_from_bytes(self.cms_state)
        kll = sketch_from_bytes(self.spark.read.table("role_states").first()["state_len"])
        hll = sketch_from_bytes(self.spark.read.table("conv_states").first()["state_tools"])
        n = self.t["transcripts"].refs["n_convs"]
        keys = _conv_keys(self.seed, 0, 2 * n, 250)
        calls = [lambda k=k: contains(bloom, k) for k in keys]
        calls += [lambda k=k: query_count(cms, k) for k in keys]
        calls += [lambda q=q: quantile(kll, q) for q in (i / 251 for i in range(1, 251))]
        calls += [lambda: estimate_cardinality(hll)] * 250
        lat = []
        with tracer.span("functions:driver_estimators"):
            for c in calls:
                t0 = time.perf_counter()
                c()
                lat.append(time.perf_counter() - t0)
        out["functions.estimator_us_p50"] = statistics.median(lat) * 1e6
        return out


# ----------------------------------------------------------------- text_clean
class TextClean(Workload):
    name = "text_clean"
    tables = ("docs",)
    layer_metrics = (
        "text.stats_s", "text.stats_evals_in_plan", "dedup.exact_dedup_map_s", "dedup.simhash_s",
    )
    input_scale = 1.0

    def open(self) -> None:
        self.docs = self.read("docs")
        self.last_clean: dict[str, tuple] = {}

    def _clean(self, mode: str):
        from pyspark.sql import functions as F

        from probably_jl_spark.functions.text import clean_corpus

        out = clean_corpus(self.docs, min_tokens=3, min_quality_milli=200, dedup=mode)
        return out.agg(F.count(F.lit(1)).alias("n"), _digest("doc_id").alias("d"))

    def _run_simhash(self, tr):
        from pyspark.sql import functions as F

        from probably_jl_spark.operators.dedup import simhash

        sampled = F.when(F.pmod("doc_id", F.lit(SIMHASH_SAMPLE_MOD)) == 0, F.struct("doc_id", "simhash"))
        with tr.span("operators.dedup:simhash"):
            return simhash(self.docs).agg(
                F.count(F.lit(1)).alias("n"),
                _digest("doc_id", "simhash").alias("d"),
                F.collect_list(sampled).alias("sample"),
            ).collect()[0]

    def _run_clean(self, tr, mode: str):
        with tr.span(f"functions.text:clean_corpus.{mode}") as s:
            agg = self._clean(mode)
            row = agg.collect()[0]
        if s is not None:
            s.attrs["plan"] = _final_plan(agg)
        return row

    def reference(self) -> None:
        sample = self.t["docs"].refs["simhash_sample"]
        self.ref_simhash = {int(k): gate.simhash_reference(v) for k, v in sample.items()}

    def _check_simhash(self, row):
        f = gate.equal("simhash docs", row["n"], self.t["docs"].refs["rows"])
        f += self.same_as_first("simhash digest", (row["n"], row["d"]))
        got = {r["doc_id"]: r["simhash"] for r in row["sample"]}
        return f + gate.equal("simhash sample vs driver recomputation", got, self.ref_simhash)

    def jobs(self) -> list[Job]:
        n = self.t["docs"].refs["rows"]

        def check(mode: str, other: str):
            def fn(row) -> list[str]:
                """Same kept-id set as the other mode's latest execution."""
                self.last_clean[mode] = tuple(row)
                f = self.same_as_first(f"clean_corpus.{mode} id set", tuple(row))
                if other in self.last_clean:
                    f += gate.equal(f"clean_corpus {mode} vs {other} id set",
                                    tuple(row), self.last_clean[other])
                return f

            return fn

        return [
            Job("simhash_docs_per_s", n, self._run_simhash, self._check_simhash),
            Job("clean_rows_docs_per_s", n, lambda tr: self._run_clean(tr, "rows"),
                check("rows", "map")),
            Job("clean_map_docs_per_s", n, lambda tr: self._run_clean(tr, "map"),
                check("map", "rows")),
        ]

    def layer_metrics_from(self, tracer, store, rounds):
        evals = 0
        for mode in ("rows", "map"):
            evals += stats_evals(tracer.named(f"functions.text:clean_corpus.{mode}")[0].attrs["plan"])
        return {
            "text.stats_evals_in_plan": float(evals),
            "dedup.simhash_s": statistics.median(
                s.seconds for s in tracer.named("operators.dedup:simhash")),
        }

    def layer_probes(self, tracer):
        from probably_jl_spark.functions.text import with_text_stats
        from probably_jl_spark.operators.dedup import exact_dedup_map

        out = {}
        with tracer.span("functions.text:with_text_stats->noop"):
            out["text.stats_s"] = _median_seconds(lambda: _noop(with_text_stats(self.docs)))
        with tracer.span("operators.dedup:exact_dedup_map->noop"):
            out["dedup.exact_dedup_map_s"] = _median_seconds(lambda: _noop(exact_dedup_map(self.docs)))
        return out


def stats_evals(final_plan: str) -> int:
    """Evaluations of the token-count and quality expressions in an
    executed plan: each tokenizer split and each punctuation translate."""
    return final_plan.count("split(trim(") + final_plan.count("translate(")


WORKLOADS = {w.name: w for w in (SketchBuild, TextClean)}
