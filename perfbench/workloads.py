"""The benchmark's workloads, driven through the library's public
functions only.

A workload generates its input from the seed (``generate``, repeated for
the set-up median), warms up untimed (``prepare``), then runs closed-loop
cycles (``cycle``) until the run's time is up, and finally checks its
outputs (``check``). Every timed operation goes through :meth:`Workload.op`,
which times it and counts it as attempted, or as failed if it raises.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import deque
from functools import reduce
from pathlib import Path

import numpy as np

from checks import check_rollup, check_sequences
from spans import FULL_SUFFIXES, SHORT_SUFFIXES, TracedStorage, span_metrics

# the flagship job at a size whose run_pipeline call fits several times
# into one run (see README.md, "Sizes and settings")
SEQ_TOKENS = 600_000
# untimed full-size cycles before timing: on the 4-core reference host the
# first two cycles of a fresh JVM run about 35% slower than later ones
SEQ_WARMUP_CYCLES = 2
READS_PER_CYCLE = 2
PIPELINE_SETTINGS = {"n_groups": 1, "num_partitions": 3}

SLICE_TOKENS = 100_000
WINDOW = 4
POINT_QUERIES = 4
RANGE_QUERIES = 4
SOURCES = ("web", "code", "books", "wiki")

KERNEL_ROWS = 1_000
KERNEL_SEED = 20_240_601
KERNEL_REPS = 5


def rows_for_tokens(seed: int, budget: int) -> tuple[int, np.ndarray]:
    """Smallest row count of ``synthetic_sequences(seed)`` holding at
    least ``budget`` tokens, and the per-row token counts. Rows are a pure
    function of (seed, row id), so the driver computes this without Spark
    and the input size barely moves with the seed."""
    from light_curve_spark.sources.synthetic import row_fields

    cap = max(64, budget // 150)
    while True:
        n_tok = row_fields(np.arange(cap), seed)[0].astype(np.int64)
        cum = np.cumsum(n_tok)
        if cum[-1] >= budget:
            n = int(np.searchsorted(cum, budget)) + 1
            return n, n_tok[:n]
        cap *= 2


def tree_bytes(path: Path, skip: tuple[str, ...] = ()) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f not in skip
    )


class Workload:
    FULL_SPANS: tuple[str, ...] = ()
    SHORT_SPANS: tuple[str, ...] = ()

    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0

    def op(self, fn, *args, **kwargs):
        """Run one timed operation; returns (result, wall seconds), or
        (None, None) if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None
        return result, time.perf_counter() - t0

    def before_cycle(self, i: int) -> None:
        """Untimed preparation of cycle ``i``'s input."""

    def layer_metrics(self) -> dict:
        return {}


class Sequences(Workload):
    """``run_pipeline`` into a fresh ``out_root`` (write), then
    ``READS_PER_CYCLE`` times ``reassemble(decode_chunks(...))`` of the
    stored chunks to the noop sink (read)."""

    FULL_SPANS = tuple(
        f"sources.catalog.append.{t}"
        for t in ("features", "rollup", "rollup_quantiles", "chunks", "metrics")
    ) + ("operators.compress.decode",)

    def __init__(self, *args):
        super().__init__(*args)
        self.n_rows, n_tok = rows_for_tokens(self.seed, SEQ_TOKENS)
        self.tokens = int(n_tok.sum())
        self.write_s, self.read_s, self.bytes_per_tok, self.pipeline_self_ms = [], [], [], []
        self.last_out = None

    def generate(self, rep: int) -> None:
        """Generate the input and persist it as parquet, standing in for
        the snapshot table the job reads."""
        from light_curve_spark.sources.synthetic import synthetic_sequences

        path = str(self.work / f"seq-input-{rep}")
        synthetic_sequences(self.spark, self.n_rows, seed=self.seed).write.parquet(path)
        self.input = self.spark.read.parquet(path)

    def _write(self, out: Path):
        from light_curve_spark.plans.pipeline import PipelineConfig, run_pipeline
        from light_curve_spark.sources.catalog import ParquetSnapshotStorage

        storage = TracedStorage(ParquetSnapshotStorage(self.spark, str(out)), self.tracer)
        with self.tracer.span("plans.pipeline.run"):
            stats = run_pipeline(
                self.spark, self.input, PipelineConfig(out_root=str(out), **PIPELINE_SETTINGS),
                storage=storage,
            )
        if stats["groups_run"] != PIPELINE_SETTINGS["n_groups"]:
            raise RuntimeError(f"run_pipeline ran {stats['groups_run']} groups: {stats}")
        return storage

    def _read(self, storage) -> None:
        from light_curve_spark.operators.compress import decode_chunks, reassemble

        with self.tracer.span("operators.compress.decode"):
            reassemble(decode_chunks(storage.read("chunks"))).write.format("noop").mode(
                "overwrite"
            ).save()

    def prepare(self) -> None:
        for i in range(SEQ_WARMUP_CYCLES):
            out = self.work / f"seq-warmup-{i}"
            self._read(self._write(out))
            shutil.rmtree(out)

    def cycle(self, i: int) -> None:
        out = self.work / f"seq-out-{i}"
        n_records = len(self.tracer.records)
        storage, wall = self.op(self._write, out)
        if storage is None:
            shutil.rmtree(out, ignore_errors=True)
            return
        self.write_s.append(wall)
        self.bytes_per_tok.append(tree_bytes(out, skip=("_checkpoint.json",)) / self.tokens)
        if self.tracer.enabled:
            mine = self.tracer.records[n_records:]
            run = next(r for r in mine if r["name"] == "plans.pipeline.run")
            appends = sum(r["wall_ms"] for r in mine if r["name"].startswith("sources.catalog.append."))
            self.pipeline_self_ms.append(run["wall_ms"] - appends)
        walls = [self.op(self._read, storage)[1] for _ in range(READS_PER_CYCLE)]
        if None in walls:
            shutil.rmtree(out)
            return
        self.read_s += walls
        # the previous output goes outside the timed window; the newest
        # one stays for the correctness check
        if self.last_out is not None:
            shutil.rmtree(self.last_out)
        self.last_out = out

    def check(self) -> list[str]:
        from light_curve_spark.operators.compress import decode_chunks, reassemble
        from light_curve_spark.sources.catalog import ParquetSnapshotStorage

        if not self.read_s:
            return ["no cycle completed its write and read"]
        chunks = ParquetSnapshotStorage(self.spark, str(self.last_out)).read("chunks")
        decoded = reassemble(decode_chunks(chunks)).select("doc_id", "source", "tokens").toPandas()
        expected = self.input.select("doc_id", "source", "tokens").toPandas()
        return check_sequences(expected, decoded)

    def end_to_end(self) -> dict:
        return {
            "write_tok_per_s": statistics.median(self.tokens / s for s in self.write_s),
            "read_p50_ms": statistics.median(self.read_s) * 1e3,
            "store_bytes_per_tok": statistics.median(self.bytes_per_tok),
        }

    def layer_metrics(self) -> dict:
        return {"plans.pipeline.self_ms": (statistics.median(self.pipeline_self_ms), "ms")}


class Retention(Workload):
    """Continuous-aggregate maintenance under a sliding window of
    ``WINDOW`` arrival slices: each arrival is folded, the oldest slice is
    expired by whole key, one seeded partial redaction runs through the
    long-form path, then tier queries read the latest snapshot."""

    FULL_SPANS = tuple(f"streaming.incremental.{op}" for op in ("fold", "expire", "redact"))
    SHORT_SPANS = ("sources.catalog.query",)

    def __init__(self, *args):
        super().__init__(*args)
        self.slices: dict[int, dict] = {}
        self.live: deque[int] = deque()
        self.redactions: list[tuple[int, str, int, int]] = []  # (slice, doc_id, lo, hi)
        self.write_tok_per_s, self.query_s, self.bytes_per_tok = [], [], []

    def _generate_slices(self, js, path: Path) -> None:
        from pyspark.sql import functions as F

        from light_curve_spark.sources.synthetic import synthetic_sequences

        frames = []
        for j in js:
            seed = self.seed * 1000 + j
            n_rows, n_tok = rows_for_tokens(seed, SLICE_TOKENS)
            self.slices[j] = {"n_tok": n_tok, "path": str(path / f"slice={j}")}
            frames.append(
                synthetic_sequences(self.spark, n_rows, seed=seed)
                .withColumn("doc_id", F.concat(F.lit(f"s{j:03d}-"), "doc_id"))
                .withColumn("slice", F.lit(j))
            )
        reduce(lambda a, b: a.unionByName(b), frames).write.partitionBy("slice").parquet(str(path))

    def _slice(self, j: int):
        return self.spark.read.parquet(self.slices[j]["path"])

    def generate(self, rep: int) -> None:
        """Generate and persist the slices that fill the window plus the
        warm-up arrival's slice."""
        self._generate_slices(range(WINDOW + 1), self.work / f"ret-setup-{rep}")

    def prepare(self) -> None:
        from light_curve_spark.plans.caching import release_operator_caches
        from light_curve_spark.sources.catalog import ParquetSnapshotStorage
        from light_curve_spark.streaming.incremental import incremental_rollup

        self.storage = ParquetSnapshotStorage(self.spark, str(self.work / "ret-state"))
        fill = reduce(lambda a, b: a.unionByName(b), (self._slice(j) for j in range(WINDOW)))
        incremental_rollup(self.spark, self.storage, fill)
        release_operator_caches()
        self.live.extend(range(WINDOW))
        self._arrival(WINDOW, timed=False)

    def before_cycle(self, i: int) -> None:
        self._generate_slices([WINDOW + 1 + i], self.work / f"ret-arrival-{i}")

    def cycle(self, i: int) -> None:
        self._arrival(WINDOW + 1 + i, timed=True)

    def _fold(self, j: int) -> None:
        from light_curve_spark.streaming.incremental import incremental_rollup

        with self.tracer.span("streaming.incremental.fold"):
            incremental_rollup(self.spark, self.storage, self._slice(j))

    def _expire(self, j: int) -> None:
        from light_curve_spark.streaming.incremental import retract_rollup_state

        with self.tracer.span("streaming.incremental.expire"):
            retract_rollup_state(self.storage, self._slice(j).select("doc_id"))

    def _redact(self, j: int, doc_id: str, lo: int, hi: int) -> None:
        from pyspark.sql import functions as F

        from light_curve_spark.operators.series import explode_series
        from light_curve_spark.streaming.incremental import retract_rollup_state

        series = explode_series(self._slice(j).filter(F.col("doc_id") == doc_id))
        cut = (F.col("t") >= lo) & (F.col("t") < hi)
        with self.tracer.span("streaming.incremental.redact"):
            retract_rollup_state(self.storage, series.filter(cut), retained=series.filter(~cut))

    def _query(self, tier: int, column: str, value: str) -> None:
        """A tier query on the latest snapshot, collected to the driver.
        Point lookups (tier 1) name a live doc, so they must find rows."""
        from pyspark.sql import functions as F

        with self.tracer.span("sources.catalog.query"):
            state = self.storage.read_snapshot("rollup_continuous")
            cond = (F.col("tier") == tier) & (F.col(column) == value)
            if tier != 1:
                cond &= F.col("bucket") < 4
            rows = state.filter(cond).collect()
        if tier == 1 and not rows:
            raise RuntimeError(f"tier-1 lookup of live doc {value} returned no rows")

    def _arrival(self, j: int, timed: bool) -> None:
        """One arrival. Warm-up calls run untimed and raise on failure."""
        from light_curve_spark.plans.caching import release_operator_caches

        def call(fn, *args):
            try:
                if not timed:
                    return fn(*args)
                return self.op(fn, *args)[1]
            finally:
                release_operator_caches()

        n_tok = self.slices[j]["n_tok"]
        idx = int(self.rng.choice(np.flatnonzero(n_tok >= 64)))
        width = int(self.rng.integers(8, 48))
        lo = int(self.rng.integers(0, n_tok[idx] - width))
        redaction = (j, f"s{j:03d}-doc{idx:08d}", lo, lo + width)
        queries = []
        for _ in range(POINT_QUERIES):
            k = int(self.rng.choice([*self.live, j][1:]))
            queries.append((1, "doc_id", f"s{k:03d}-doc{int(self.rng.integers(len(self.slices[k]['n_tok']))):08d}"))
        queries += [(100, "source", str(self.rng.choice(SOURCES))) for _ in range(RANGE_QUERIES)]

        fold = call(self._fold, j)
        self.live.append(j)
        expire = call(self._expire, self.live.popleft())
        self.redactions.append(redaction)
        redact = call(self._redact, *redaction)
        walls = [call(self._query, *q) for q in queries]
        if not timed:
            return
        self.query_s += [w for w in walls if w is not None]
        if None in (fold, expire, redact):
            return
        self.write_tok_per_s.append(int(n_tok.sum()) / (fold + expire + redact))
        live_tokens = sum(int(self.slices[k]["n_tok"].sum()) for k in self.live) - sum(
            hi - lo for k, _, lo, hi in self.redactions if k in self.live
        )
        latest = self.storage.snapshots("rollup_continuous")[-1]["path"]
        self.bytes_per_tok.append(tree_bytes(Path(latest)) / live_tokens)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from light_curve_spark.operators.rollup import rollup_tiers
        from light_curve_spark.operators.series import explode_series
        from light_curve_spark.plans.caching import release_operator_caches

        if not self.write_tok_per_s:
            return ["no arrival completed its fold, expire and redact"]
        live = reduce(lambda a, b: a.unionByName(b), (self._slice(k) for k in self.live))
        series = explode_series(live)
        cuts = [
            (F.col("doc_id") == d) & (F.col("t") >= lo) & (F.col("t") < hi)
            for k, d, lo, hi in self.redactions
            if k in self.live
        ]
        if cuts:
            series = series.filter(~reduce(lambda a, b: a | b, cuts))
        try:
            want = rollup_tiers(series).toPandas()
        finally:
            release_operator_caches()
        got = self.storage.read_snapshot("rollup_continuous").toPandas()
        return check_rollup(want, got)

    def end_to_end(self) -> dict:
        return {
            "write_tok_per_s": statistics.median(self.write_tok_per_s),
            "read_p50_ms": statistics.median(self.query_s) * 1e3,
            "store_bytes_per_tok": statistics.median(self.bytes_per_tok),
        }

    def layer_metrics(self) -> dict:
        walls = [r["wall_ms"] for r in self.tracer.records if r["name"] == "sources.catalog.query"]
        return {"sources.catalog.query.p90_ms": (statistics.quantiles(walls, n=10)[-1], "ms")}


WORKLOADS = {"sequences": Sequences, "retention": Retention}

E2E_UNITS = {"write_tok_per_s": "tokens/s", "read_p50_ms": "ms", "store_bytes_per_tok": "bytes/token"}

# per-layer metrics that only one workload produces; the others report 0
EXTRA_LAYER_METRICS = {"plans.pipeline.self_ms": "ms", "sources.catalog.query.p90_ms": "ms"}


def all_span_metrics(records: list[dict]) -> dict:
    """Every workload's span metrics, so each traced run reports the same
    names (a span the workload never opens reads 0)."""
    out = {}
    for cls in WORKLOADS.values():
        for name in cls.FULL_SPANS:
            out.update(span_metrics(records, name, FULL_SUFFIXES))
        for name in cls.SHORT_SPANS:
            out.update(span_metrics(records, name, SHORT_SUFFIXES))
    return out


def kernel_rates() -> dict:
    """Single-thread rates of the numpy kernels on the driver over a fixed
    seeded sample, free of Spark noise."""
    from light_curve_spark.kernels.compression import (
        decode_values_batch_blocked,
        encode_values_batch_blocked,
    )
    from light_curve_spark.kernels.features import feature_frame, segment_median
    from light_curve_spark.plans.pipeline import PipelineConfig
    from light_curve_spark.sources.synthetic import row_fields

    n_tok, _, tokens = row_fields(np.arange(KERNEL_ROWS), KERNEL_SEED)
    lengths = n_tok.astype(np.int64)
    flat = np.concatenate(tokens).astype(np.float64)
    n = flat.shape[0]
    freqs = np.asarray(PipelineConfig(out_root="").freqs)
    # tier-1 buckets as the quantile rollup forms them: 16-wide runs per row
    starts = np.cumsum(lengths) - lengths
    elem = np.repeat(np.arange(lengths.shape[0]), lengths)
    gid = elem * (1 << 40) | ((np.arange(n) - starts[elem]) // 16)
    seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    seg_len = np.diff(np.r_[seg, n])
    ints = [t.astype(np.int64) for t in tokens]
    buffers = encode_values_batch_blocked(ints)
    back = decode_values_batch_blocked(buffers)
    if not all(np.array_equal(a, b) for a, b in zip(ints, back)):
        raise RuntimeError("kernel sample does not survive encode/decode")

    def rate(fn, *args) -> float:
        walls = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            fn(*args)
            walls.append(time.perf_counter() - t0)
        return n / statistics.median(walls)

    return {
        "kernels.features.feature_frame.elem_per_s": (
            rate(feature_frame, flat, lengths, None, freqs), "elem/s"),
        "kernels.features.segment_median.elem_per_s": (
            rate(segment_median, flat, gid, seg, seg_len), "elem/s"),
        "kernels.compression.encode_values_batch_blocked.tok_per_s": (
            rate(encode_values_batch_blocked, ints), "tok/s"),
        "kernels.compression.decode_values_batch_blocked.tok_per_s": (
            rate(decode_values_batch_blocked, buffers), "tok/s"),
    }
