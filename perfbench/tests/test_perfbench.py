"""Self-tests for the benchmark.

Unit tests (no Spark): the correctness gate trips on corrupted states, the
layer table adds up, SQL metric strings parse, and BENCHMARK.json agrees
with the workloads. End-to-end tests (Spark, tiny inputs): every workload
prints every metric of BENCHMARK.json with its unit, untraced and traced,
and the command fails without a result outside a full checkout.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gate  # noqa: E402
from perfbench.sparkstats import parse_metric  # noqa: E402
from perfbench.trace import Span, layer_table  # noqa: E402
from perfbench.workloads import WORKLOADS, grouped_route, stats_evals  # noqa: E402

CONTRACT = json.loads((ROOT / "BENCHMARK.json").read_text())


def _hashes(n: int, seed: int = 0) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 2**64, size=n, dtype=np.uint64)


# ----------------------------------------------------------------- the gate
def test_gate_trips_on_flipped_hll_register_byte():
    from probably_jl_spark.sketches.hll import HyperLogLog

    hll = HyperLogLog(14)
    hll.update_hashes(_hashes(50_000))
    good = hll.to_bytes()
    bad = bytearray(good)
    bad[-100] ^= 0x01  # one register byte of the dense payload
    assert gate.same_bytes("hll", good, good) == []
    assert gate.same_bytes("hll", bytes(bad), good)


def test_gate_trips_on_cms_undercount():
    from probably_jl_spark.sketches.cms import CountMinSketch

    h = _hashes(200)
    counts = np.arange(1, 201, dtype=np.uint64)
    cms = CountMinSketch(2048, 5)
    cms.update_hashes(h, counts)
    exact = {i: int(c) for i, c in enumerate(counts)}
    est = {i: int(v) for i, v in enumerate(cms.query_hashes(h))}
    assert gate.cms_within("cms", est, exact, 2048, 5, int(counts.sum())) == []
    corrupt = CountMinSketch.from_bytes(cms.to_bytes())
    corrupt.table[:] = corrupt.table // 2
    est_bad = {i: int(v) for i, v in enumerate(corrupt.query_hashes(h))}
    assert gate.cms_within("cms", est_bad, exact, 2048, 5, int(counts.sum()))


def test_gate_trips_on_bloom_false_negatives():
    from probably_jl_spark.sketches.bloom import BloomFilter

    h = _hashes(10_000)
    bloom = BloomFilter(1 << 20, 5)
    bloom.update_hashes(h)
    absent = _hashes(10_000, seed=1)
    fn = int((~bloom.contains_hashes(h)).sum())
    fp = int(bloom.contains_hashes(absent).sum())
    assert gate.bloom_within("bloom", fn, fp, absent.size, 1 << 20, 5, h.size) == []
    cleared = BloomFilter.from_bytes(bloom.to_bytes())
    cleared.words[: cleared.words.size // 2] = 0
    fn_bad = int((~cleared.contains_hashes(h)).sum())
    assert gate.bloom_within("bloom", fn_bad, fp, absent.size, 1 << 20, 5, h.size)


def test_rank_error_uses_the_tie_interval():
    hist = {1.0: 50, 2.0: 50}
    assert gate.rank_error(hist, 0.3, 1.0) == 0.0  # 1.0 owns ranks [0, 0.5]
    assert math.isclose(gate.rank_error(hist, 0.3, 2.0), 0.2)
    assert gate.quantiles_within("q", [1.0], hist, 0.01, qs=[0.9])


def test_simhash_reference_is_a_majority_vote():
    assert gate.simhash_reference("") == 0
    one = gate.simhash_reference("spark")
    assert gate.simhash_reference("spark spark spark") == one


# ------------------------------------------------------------- layer table
def test_layer_table_self_times_add_up_to_wall():
    spans = [
        Span(0, "workload:w", None, "r", 0.0, 10.0),
        Span(1, "a:x", 0, "r", 1.0, 4.0),
        Span(2, "b:y", 1, "r", 2.0, 3.0),
        Span(3, "a:x", 0, "r", 5.0, 9.0),
        Span(4, "workload:w", None, "r", 20.0, 22.0),
        Span(5, "b:y", 4, "r", 20.5, 21.0),
    ]
    t = layer_table(spans, [spans[0], spans[4]])
    rows = {r["call"]: r for r in t["rows"]}
    assert rows["a:x"]["calls"] == 2 and math.isclose(rows["a:x"]["self_s"], 6.0)
    assert math.isclose(rows["b:y"]["total_s"], 1.5)
    assert math.isclose(t["wall_s"], 12.0)
    assert math.isclose(t["attributed_self_s"] + t["unattributed_s"], t["wall_s"])


# ------------------------------------------------------------ spark metrics
@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("452 ms", 0.452),
    ("total (min, med, max (stageId: taskId))\n8.4 s (2.0 s, 2.1 s, 2.3 s (stage 6.0: task 12))", 8.4),
    ("total (min, med, max (stageId: taskId))\n11.1 MiB (2.8 MiB, 2.8 MiB (stage 6.0: task 13))",
     11.1 * 2**20),
])
def test_parse_metric(text, value):
    assert math.isclose(parse_metric(text), value)


def test_route_and_stats_counts_read_the_final_plan():
    assert grouped_route("+- FlatMapGroupsInPandas ...") == "generic"
    assert grouped_route("MapInPandas fn\n +- Exchange\n  +- MapInPandas fn") == "pre_partial"
    assert grouped_route("MapInArrow fn\n +- Exchange hashpartitioning") == "direct"
    assert stats_evals("Filter (size(split(trim(text#1), ...) AND translate(text#1, ...)") == 2


# ------------------------------------------------------- the benchmark file
def test_contract_matches_the_workloads():
    assert {w["name"] for w in CONTRACT["workloads"]} == set(WORKLOADS)
    names = [m["name"] for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in CONTRACT["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in CONTRACT["end_to_end"])
    owned = {m for w in WORKLOADS.values() for m in w.layer_metrics}
    jobs = {f"job.{j}" for js in JOB_METRICS.values() for j in js}
    assert jobs == {n for n in names if n.startswith("job.")}
    for m in CONTRACT["per_layer"]:
        n = m["name"]
        assert n in owned or n.startswith(("sketches.", "spark.", "trace.", "job.")), n


# ---------------------------------------------------------------- end to end
def _run(cwd: Path, workload: str, trace: int, timeout: int = 300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


# Per-layer metrics every traced run must measure as non-zero: every
# workload runs Spark jobs with Python nodes, and its own jobs and layers.
ENGINE_NONZERO = ("spark.jobs", "spark.tasks", "spark.executor_run_s",
                  "spark.python_total_s", "spark.python_data_sent_bytes")
JOB_METRICS = {
    "sketch_build": ("fused_build_rows_per_s", "grouped_conv_groups_per_s",
                     "grouped_hotkey_rows_per_s", "grouped_role_rows_per_s", "rollup_states_per_s",
                     "probe_keys_per_s", "count_query_keys_per_s", "state_query_rows_per_s"),
    "text_clean": ("simhash_docs_per_s", "clean_rows_docs_per_s", "clean_map_docs_per_s"),
}


def _nonzero_when_traced(workload: str) -> list[str]:
    own = [m for m in WORKLOADS[workload].layer_metrics
           if not m.startswith("grouped.route.")]  # one count per route taken
    kernels = [m["name"] for m in CONTRACT["per_layer"] if m["name"].startswith("sketches.")]
    return [*ENGINE_NONZERO, *own, *kernels, *(f"job.{j}" for j in JOB_METRICS[workload])]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_is_printed_with_its_unit(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = CONTRACT["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    nonzero = [m["name"] for m in want] if not trace else _nonzero_when_traced(workload)
    assert [m for m in nonzero if not values[m] > 0] == []
    if trace and workload == "sketch_build":
        routes = [values[f"grouped.route.{r}"] for r in ("direct", "pre_partial", "generic")]
        assert sum(routes) >= 3 and routes[0] > 0 and routes[2] > 0


def test_fails_without_result_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, sorted(WORKLOADS)[0], 0, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
