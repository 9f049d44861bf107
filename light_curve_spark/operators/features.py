"""Feature-extraction operators.

Two implementations with identical semantics (SURVEY.md §7 phase 3):

- :func:`extract_features` — the production path. ``mapInArrow`` over
  the ARRAY-form sequences table: each sequence is already one row, so
  feature extraction is a shuffle-free map; inside each Arrow batch the
  segment-vectorized kernel (:func:`...kernels.features.feature_frame`)
  processes every series at once with reduceat/row sorts — no per-row
  Python (input_hint). Its per-batch body, :func:`features_batch`, is
  also one of the four calls of ``run_pipeline``'s single Python pass.

- :func:`extract_features_relational` — the SQL-checkable twin for the
  long form. Pure built-in aggregates/windows (Catalyst hash aggregate
  with partial+final); used by the DuckDB oracle harness and for users
  who keep data in long format.

Feature math: Malanchev et al. 2021 (the reference's citation,
/root/reference/README.md:30-50); see kernels/features.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from light_curve_spark.kernels.features import (
    FEATURE_NAMES,
    PERIODOGRAM_NAMES,
    feature_frame,
)

_BASE_FIELDS = [
    StructField("doc_id", StringType(), False),
    StructField("source", StringType(), True),
]


def features_schema(with_periodogram: bool = False) -> StructType:
    names = FEATURE_NAMES + (PERIODOGRAM_NAMES if with_periodogram else ())
    return StructType(_BASE_FIELDS + [StructField(n, DoubleType(), True) for n in names])


def features_batch(
    b, freqs: np.ndarray | None = None, irregular: bool = False
) -> pa.RecordBatch | None:
    """One Arrow batch of sequences -> its feature rows
    (``features_schema(freqs is not None)``), or None for an empty batch.

    An empty sequence gets ``count`` 0 and NaN for every other feature
    (the kernel's undefined-statistic value), so the operator stays one
    row in, one row out."""
    if b.num_rows == 0:
        return None
    names = list(FEATURE_NAMES) + (list(PERIODOGRAM_NAMES) if freqs is not None else [])
    toks = b.column(b.schema.get_field_index("tokens"))
    off = toks.offsets.to_numpy()
    lengths = (off[1:] - off[:-1]).astype(np.int64)
    flat = toks.flatten().to_numpy().astype(np.float64)
    t_flat = None
    if irregular and freqs is not None:
        # t_i = exclusive cumsum of (1 + tok mod 7) within each segment
        starts = np.cumsum(lengths) - lengths
        elem = np.repeat(np.arange(lengths.shape[0]), lengths)
        deltas = 1.0 + np.mod(flat, 7.0)
        excl = np.cumsum(deltas) - deltas
        t_flat = excl - excl[starts[elem]]
    full = lengths > 0
    fr = feature_frame(flat, lengths[full], t_flat=t_flat, freqs=freqs)
    if not full.all():
        for n in names:
            col = np.full(lengths.shape[0], 0.0 if n == "count" else np.nan)
            col[full] = fr[n]
            fr[n] = col
    arrays = [
        b.column(b.schema.get_field_index("doc_id")),
        b.column(b.schema.get_field_index("source")),
    ] + [pa.array(fr[n], type=pa.float64()) for n in names]
    return pa.RecordBatch.from_arrays(arrays, ["doc_id", "source", *names])


def extract_features(
    seq: DataFrame,
    freqs: np.ndarray | None = None,
    irregular: bool = False,
) -> DataFrame:
    """Per-sequence feature vector; one row in, one row out, no shuffle:
    :func:`features_batch` over each Arrow batch.

    ``freqs`` (optional) adds periodogram moments on that fixed frequency
    grid. ``irregular=True`` uses the deterministic irregular time axis
    (see operators/series.py) for the periodogram phases.

    Uses ``mapInArrow``, not mapInPandas: an Arrow ListArray's
    (offsets, values) buffers ARE the (lengths, flat) representation the
    segment-vectorized kernel consumes — the pandas route would build one
    Python object per row just to concatenate them back.
    """
    freqs_arr = None if freqs is None else np.asarray(freqs, dtype=np.float64)

    def fn(batches):
        for b in batches:
            out = features_batch(b, freqs_arr, irregular)
            if out is not None:
                yield out

    return seq.mapInArrow(fn, schema=features_schema(with_periodogram=freqs is not None))


def extract_features_grouped(
    series: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Long-form (key..., t, v) -> per-key feature vectors via the
    SEGMENT-VECTORIZED kernel: collect_list gathers each key's values
    into one array row (a single partial+final aggregate), then one
    mapInArrow pass runs feature_frame over ALL keys in each batch.

    ~7x faster than groupBy().applyInPandas with a per-group pandas
    call (measured): one Arrow crossing per batch instead of per group,
    and reduceat across groups instead of per-group numpy dispatch.
    All FEATURE_NAMES stats are order-independent, so collect_list's
    arbitrary intra-group order is immaterial."""
    keys = keys or ["doc_id"]
    in_fields = {f.name: f for f in series.schema.fields}
    schema = StructType(
        [in_fields[k] for k in keys]
        + [StructField(n, DoubleType(), True) for n in FEATURE_NAMES]
    )
    g = series.groupBy(*keys).agg(F.collect_list("v").alias("_vals"))

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            vals = b.column(b.schema.get_field_index("_vals"))
            off = vals.offsets.to_numpy()
            lengths = (off[1:] - off[:-1]).astype(np.int64)
            flat = vals.flatten().to_numpy().astype(np.float64)
            fr = feature_frame(flat, lengths)
            arrays = [
                b.column(b.schema.get_field_index(k)) for k in keys
            ] + [pa.array(fr[n], type=pa.float64()) for n in FEATURE_NAMES]
            yield pa.RecordBatch.from_arrays(arrays, [*keys, *FEATURE_NAMES])

    return g.mapInArrow(fn, schema=schema)


def series_dynamics_relational(
    series: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Order-dependent per-key features (long form, built-ins only):
    - eta: von Neumann ratio, sum((v_{i+1}-v_i)^2)/((N-1)*var_samp(v))
      (time-ordered lag window);
    - trend: OLS slope of v on t (ANSI regr_slope).
    Definitions: Malanchev+21 §Eta / §LinearTrend (kernels/features.py
    twins: von_neumann_eta, linear_trend)."""
    keys = keys or ["doc_id"]
    w = Window.partitionBy(*keys).orderBy("t")
    d = F.col("v") - F.lag("v").over(w)
    return (
        series.withColumn("_d", d)
        .groupBy(*keys)
        .agg(
            (
                F.sum(F.col("_d") * F.col("_d"))
                / ((F.count("v") - 1) * F.var_samp("v"))
            ).alias("eta"),
            F.regr_slope("v", "t").alias("trend"),
        )
    )


def extract_features_relational(series: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Long-form (key, t, v) -> per-key features, pure built-ins.

    One hash-partitioning by key feeds both the window stats and the final
    groupBy (Catalyst reuses the exchange). Emits the same columns as
    :func:`extract_features` minus the periodogram (not SQL-expressible).
    """
    keys = keys or ["doc_id"]
    v = F.col("v")
    w = Window.partitionBy(*keys)
    enriched = (
        series.withColumn("mu", F.mean(v).over(w))
        .withColumn("sigma", F.stddev_samp(v).over(w))
        .withColumn("med", F.median(v).over(w))
    )
    d = v - F.col("mu")
    return enriched.groupBy(*keys).agg(
        F.first("mu").alias("mean"),
        F.first("sigma").alias("std"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.first("med").alias("median"),
        F.count(v).cast("double").alias("count"),
        ((F.max(v) - F.min(v)) / 2.0).alias("amplitude"),
        F.avg((F.abs(d) > F.col("sigma")).cast("double")).alias("beyond_1_std"),
        F.avg((F.abs(d) > 2.0 * F.col("sigma")).cast("double")).alias("beyond_2_std"),
        F.median(F.abs(v - F.col("med"))).alias("mad"),
        (F.avg(F.abs(d)) / F.sqrt(F.avg(d * d))).alias("stetson_k"),
    )
