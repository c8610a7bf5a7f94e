"""Seeded benchmark inputs, cached on disk by (table, seed, size).

Every table derives from ``--seed`` alone: the transcripts come from the
library's ``synth_transcripts(seed=...)``; the hot-key variant, the docs
and the probe keys are derived from the same seed with JVM expressions.
Each cached table carries a manifest with a content fingerprint (row count
plus order-free row-hash digests), a digest of its files, and the exact
reference answers the correctness gate compares against, computed once at
generation time with exact Spark aggregates (no sketches). A cache hit is
used only if its files still match the digest, so one seed always feeds
the library the same bytes.
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
import shutil
import signal
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

# Base sizes; ``--scale`` multiplies them (the self-tests run tiny).
BASE_SIZES = {"convs": 50_000, "docs": 20_000, "probes": 500_000}
# Share of hot-key-variant turns reassigned to the one hot conversation.
HOT_PERCENT = 30
# Planted exact duplicates in the docs table (percent of first turns).
DUP_PERCENT = 10
FILES = 4  # one scan task per core
SIMHASH_SAMPLE_MOD = 997  # docs whose id is 0 mod this get a driver-side simhash check
NULL_TOOL = "\u0000null"  # tools are 'tool_NN', so this never collides


def sizes_for(scale: float) -> dict[str, int]:
    return {k: max(200, int(v * scale)) for k, v in BASE_SIZES.items()}


@dataclass
class Table:
    name: str
    path: str
    fingerprint: str
    refs: dict


def fingerprint(df) -> str:
    """Row count plus two order-free digests of the per-row hashes."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*sorted(df.columns)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor("h"), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFF)), F.lit(0)).alias("low"),
    ).collect()[0]
    return f"{row['n']}:{row['x'] & (2**64 - 1):016x}:{row['low']:x}"


def files_digest(path: Path) -> str:
    """sha256 over the table's files: a cache hit must be byte-identical
    to what the generation fingerprinted."""
    h = hashlib.sha256()
    for p in sorted(path.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(path).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _write(df, path: Path, files: int) -> None:
    """At most ``files`` files. The generators' partitions already hold
    balanced slices of spark.range, so this merges without a shuffle."""
    shutil.rmtree(path, ignore_errors=True)
    df.coalesce(files).write.parquet(str(path))


def hot_conv_id(seed: int, n_convs: int) -> str:
    return f"conv-{random.Random(seed).randrange(n_convs):08d}"


def _write_transcripts(spark, seed: int, n: int, path: Path, tables: dict) -> None:
    from pyspark.sql import functions as F

    from probably_jl_spark.sources.transcripts import synth_transcripts

    tr = synth_transcripts(spark, n_convs=n, seed=seed).select(
        "conv_id", "turn_idx", "role", "tool",
        F.length("text").cast("double").alias("text_len"),
    )
    _write(tr, path, FILES)


def _refs_transcripts(df, seed: int, n: int, tables: dict) -> dict:
    from pyspark.sql import functions as F

    tool = F.coalesce("tool", F.lit(NULL_TOOL))
    per_conv = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("rows"),
                                         F.count_distinct(tool).alias("tools"))
    conv = per_conv.agg(F.count(F.lit(1)).alias("convs"), F.sum("rows").alias("rows"),
                        F.sum("tools").alias("tools")).collect()[0]
    hist: dict[str, dict[str, int]] = {}
    for r in df.groupBy("role", "text_len").count().collect():
        hist.setdefault(r["role"], {})[repr(float(r["text_len"]))] = int(r["count"])
    tools = df.groupBy(tool.alias("tool")).count().collect()
    roles = df.groupBy("role").agg(F.count_distinct("conv_id").alias("convs")).collect()
    return {
        "rows": int(conv["rows"]),
        "convs": int(conv["convs"]),
        # distinct (conv, tool) pairs, null a value of its own, as the
        # per-conversation HLLs hash it
        "conv_tools": int(conv["tools"]),
        "len_hist_by_role": hist,
        "tool_counts": {r["tool"]: int(r["count"]) for r in tools},
        "role_convs": {r["role"]: int(r["convs"]) for r in roles},
        "n_convs": n,
    }


def _hll_state_of(values) -> bytes:
    """Reference HLL state built on the driver from exact distinct values,
    hashed exactly as the JVM hashes a string column (null -> seed)."""
    import numpy as np

    from probably_jl_spark.sketches.hashing import xxhash64_any
    from probably_jl_spark.sketches.hll import HyperLogLog

    hll = HyperLogLog(14)
    hll.update_hashes(np.array([xxhash64_any(v) for v in values], dtype=np.uint64))
    return hll.to_bytes()


def _write_hot(spark, seed: int, n: int, path: Path, tables: dict) -> None:
    from pyspark.sql import functions as F

    hot = hot_conv_id(seed, n)
    src = spark.read.parquet(tables["transcripts"].path)
    draw = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed), F.lit(0x407)), F.lit(100))
    out = src.withColumn(
        "conv_id", F.when(draw < HOT_PERCENT, F.lit(hot)).otherwise(F.col("conv_id"))
    )
    _write(out, path, FILES)


def _refs_hot(df, seed: int, n: int, tables: dict) -> dict:
    from pyspark.sql import functions as F

    hot = hot_conv_id(seed, n)
    rows = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("conv_id").alias("groups"),
        F.sum((F.col("conv_id") == hot).cast("long")).alias("hot_rows"),
    ).collect()[0]
    distinct = [r["tool"] for r in df.filter(F.col("conv_id") == hot).select("tool").distinct().collect()]
    all_tools = [None if t == NULL_TOOL else t for t in tables["transcripts"].refs["tool_counts"]]
    return {
        "rows": int(rows["rows"]),
        "groups": int(rows["groups"]),
        "hot_conv": hot,
        "hot_rows": int(rows["hot_rows"]),
        "hot_state_b64": base64.b64encode(_hll_state_of(distinct)).decode(),
        "all_tools_state_b64": base64.b64encode(_hll_state_of(all_tools)).decode(),
    }


def _write_docs(spark, seed: int, n: int, path: Path, tables: dict) -> None:
    """Docs: the first turn of each conversation, plus planted exact
    duplicates of DUP_PERCENT of them under new ids."""
    from pyspark.sql import functions as F

    from probably_jl_spark.sources.transcripts import synth_transcripts

    first = (
        synth_transcripts(spark, n_convs=n, seed=seed)
        .filter("turn_idx = 0")
        .select(F.xxhash64("conv_id").alias("doc_id"), "text")
    )
    dups = first.filter(
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100)) < DUP_PERCENT
    ).select(F.bitwise_not("doc_id").alias("doc_id"), "text")
    _write(first.unionByName(dups), path, FILES)


def _refs_docs(df, seed: int, n: int, tables: dict) -> dict:
    from pyspark.sql import functions as F

    sample = df.filter(F.pmod("doc_id", F.lit(SIMHASH_SAMPLE_MOD)) == 0).collect()
    return {
        "rows": df.count(),
        "simhash_sample": {str(r["doc_id"]): r["text"] for r in sample},
    }


def _write_probes(spark, seed: int, n: int, path: Path, tables: dict) -> None:
    """Probe keys: half are conversation ids present in the transcripts,
    half are ids past the generated range, with their exact turn counts."""
    from pyspark.sql import functions as F

    n_convs = tables["transcripts"].refs["n_convs"]
    u = lambda salt: F.xxhash64("id", F.lit(seed), F.lit(salt))  # noqa: E731
    present = F.pmod(u(1), F.lit(2)) == 0
    idx = F.when(present, F.pmod(u(2), F.lit(n_convs))).otherwise(
        F.lit(n_convs) + F.pmod(u(3), F.lit(n_convs * 10))
    )
    keys = spark.range(n).select(
        F.format_string("conv-%08d", idx).alias("conv_id"), present.alias("present")
    )
    counts = (
        spark.read.parquet(tables["transcripts"].path)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    out = keys.join(F.broadcast(counts), "conv_id", "left").select(
        "conv_id", "present", F.coalesce("exact_count", F.lit(0)).alias("exact_count")
    )
    _write(out, path, FILES)


def _refs_probes(df, seed: int, n: int, tables: dict) -> dict:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("present").cast("long")).alias("present"),
        F.sum(((F.col("exact_count") > 0) != F.col("present")).cast("long")).alias("bad"),
    ).collect()[0]
    if row["bad"]:
        raise RuntimeError(f"probe generation: {row['bad']} keys with a wrong present flag")
    return {"rows": int(row["rows"]), "present": int(row["present"])}


# name -> (size key, writer, reference builder); order = dependency order
GENERATORS = {
    "transcripts": ("convs", _write_transcripts, _refs_transcripts),
    "hot": ("convs", _write_hot, _refs_hot),
    "docs": ("docs", _write_docs, _refs_docs),
    "probes": ("probes", _write_probes, _refs_probes),
}
DEPENDS = {"hot": ["transcripts"], "probes": ["transcripts"]}


def _closure(names: list[str]) -> list[str]:
    """``names`` plus their dependencies, in generation order."""
    want: list[str] = []
    for name in names:
        for dep in DEPENDS.get(name, []) + [name]:
            if dep not in want:
                want.append(dep)
    return sorted(want, key=list(GENERATORS).index)


def _location(work: Path, name: str, seed: int, sizes: dict[str, int]) -> tuple[Path, int]:
    size = sizes[GENERATORS[name][0]]
    return work / "inputs" / f"{name}-seed{seed}-n{size}", size


def _cached(path: Path) -> dict | None:
    """The manifest of a cached table whose files still match it."""
    manifest = path / "manifest.json"
    if manifest.exists():
        meta = json.loads(manifest.read_text())
        if files_digest(path / "data") == meta["files_sha256"]:
            return meta
    return None


def _generate(spark, work: Path, seed: int, sizes: dict[str, int], names: list[str]) -> None:
    """Generate every table in ``names`` (plus dependencies) not cached yet."""
    done: dict[str, Table] = {}
    for name in _closure(names):
        _, write, refs_of = GENERATORS[name]
        path, size = _location(work, name, seed, sizes)
        data = path / "data"
        meta = _cached(path)
        if meta is None:
            shutil.rmtree(path, ignore_errors=True)
            path.mkdir(parents=True)
            write(spark, seed, size, data, done)
            df = spark.read.parquet(str(data)).cache()  # read once for the passes below
            meta = {"table": name, "seed": seed, "size": size, "fingerprint": fingerprint(df),
                    "refs": refs_of(df, seed, size, done)}
            df.unpersist()
            meta["files_sha256"] = files_digest(data)
            (path / "manifest.json").write_text(json.dumps(meta))
        done[name] = Table(name, str(data), meta["fingerprint"], meta["refs"])


def load(work: Path, seed: int, sizes: dict[str, int], names: list[str]) -> dict[str, Table]:
    """The cached tables ``names`` plus their dependencies, each verified
    against its manifest; name -> Table."""
    out: dict[str, Table] = {}
    for name in _closure(names):
        path, _ = _location(work, name, seed, sizes)
        meta = _cached(path)
        if meta is None:
            raise RuntimeError(f"input {path.name} is missing or does not match its manifest")
        out[name] = Table(name, str(path / "data"), meta["fingerprint"], meta["refs"])
    return out


def start_generation(work: Path, seed: int, sizes: dict[str, int],
                     names: list[str]) -> subprocess.Popen | None:
    """Start generating the tables that are not cached yet in a child
    process with a JVM of its own, so the benchmark's JVM never runs (and
    never JIT-compiles for) the generators: a run that generates its
    inputs measures the same as one that finds them cached. None when
    everything is cached."""
    if all(_cached(_location(work, n, seed, sizes)[0]) for n in _closure(names)):
        return None
    args = json.dumps({"work": str(work), "seed": seed, "sizes": sizes, "names": names})
    # stdout of the child goes to stderr: the benchmark's stdout ends with its result
    return subprocess.Popen([sys.executable, "-m", "perfbench.inputs", args], stdout=sys.stderr)


def _main(argv: list[str]) -> None:
    from . import session

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwind: stop the JVM
    a = json.loads(argv[0])
    work = Path(a["work"])
    spark = session.start(work)
    try:
        _generate(spark, work, a["seed"], a["sizes"], a["names"])
    finally:
        session.shutdown(spark)


if __name__ == "__main__":
    _main(sys.argv[1:])
