"""The ``sketches`` layer measured alone: single-core numpy kernels and the
codec, in the benchmark process, on seeded hash and value arrays. Sketch
parameters match the fused build's specs."""

from __future__ import annotations

import statistics
import time

import numpy as np

N_ITEMS = 1 << 20
REPS = 3


def _factories():
    from probably_jl_spark.sketches.bloom import BloomFilter
    from probably_jl_spark.sketches.cms import CountMinSketch
    from probably_jl_spark.sketches.hll import HyperLogLog
    from probably_jl_spark.sketches.kll import KLL
    from probably_jl_spark.sketches.tdigest import TDigest

    return {
        "hll": (lambda: HyperLogLog(14), "h"),
        "cms": (lambda: CountMinSketch(2048, 5), "h"),
        "bloom": (lambda: BloomFilter(1 << 22, 5), "h"),
        "tdigest": (lambda: TDigest(200.0), "v"),
        "kll": (lambda: KLL(200), "v"),
    }


def _update(kind_input: str, sk, h, v):
    if kind_input == "h":
        sk.update_hashes(h)
    else:
        sk.update_values(v)


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(seed: int) -> dict[str, float]:
    from probably_jl_spark.operators.specs import sketch_from_bytes

    rng = np.random.default_rng(seed)
    h = rng.integers(0, 2**64, size=N_ITEMS, dtype=np.uint64)
    v = rng.lognormal(4.0, 1.0, size=N_ITEMS)
    half = N_ITEMS // 2
    out: dict[str, float] = {}
    built = {}
    for kind, (new, inp) in _factories().items():
        secs = _median_time(lambda: _update(inp, new(), h, v))
        out[f"sketches.update_mitems_per_s.{kind}"] = N_ITEMS / secs / 1e6
        a, b = new(), new()
        _update(inp, a, h[:half], v[:half])
        _update(inp, b, h[half:], v[half:])
        blob_a = a.to_bytes()
        times = []
        for _ in range(REPS):
            dst = sketch_from_bytes(blob_a)
            t0 = time.perf_counter()
            dst.merge(b)
            times.append(time.perf_counter() - t0)
        out[f"sketches.merge_ms.{kind}"] = statistics.median(times) * 1e3
        built[kind] = a
    blobs = [sk.to_bytes() for sk in built.values()]
    mb = sum(len(x) for x in blobs) / 1e6
    secs = _median_time(lambda: [sketch_from_bytes(x) for x in blobs])
    out["sketches.decode_mb_per_s"] = mb / secs
    probe = rng.integers(0, 2**64, size=N_ITEMS, dtype=np.uint64)
    probe[: N_ITEMS // 2] = h[: N_ITEMS // 2]
    secs = _median_time(lambda: built["bloom"].contains_hashes(probe))
    out["sketches.contains_mitems_per_s.bloom"] = N_ITEMS / secs / 1e6
    secs = _median_time(lambda: built["cms"].query_hashes(probe))
    out["sketches.query_mitems_per_s.cms"] = N_ITEMS / secs / 1e6
    return out

