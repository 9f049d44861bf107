"""Pure-numpy kernel core (Spark-free, unit-tested against the reference
test vectors; see SURVEY.md §7 phase 2). These kernels are what the
pandas/Arrow UDF operators in :mod:`light_curve_spark.operators` call."""

from light_curve_spark.kernels.compression import (
    decode_chunk,
    decode_timestamps,
    decode_values,
    encode_chunk,
    encode_timestamps,
    encode_values,
)
from light_curve_spark.kernels.features import (
    FEATURE_NAMES,
    PERIODOGRAM_NAMES,
    amplitude,
    beyond_n_std,
    feature_vector,
    median_absolute_deviation,
    periodogram_moments,
    periodogram_power,
    stetson_k,
)
from light_curve_spark.kernels.grid import linspace
from light_curve_spark.kernels.interpolate import interpolate
from light_curve_spark.kernels.sorting import cosort
from light_curve_spark.kernels.testing import all_close

__all__ = [
    "FEATURE_NAMES",
    "PERIODOGRAM_NAMES",
    "all_close",
    "amplitude",
    "beyond_n_std",
    "cosort",
    "decode_chunk",
    "decode_timestamps",
    "decode_values",
    "encode_chunk",
    "encode_timestamps",
    "encode_values",
    "feature_vector",
    "interpolate",
    "linspace",
    "median_absolute_deviation",
    "periodogram_moments",
    "periodogram_power",
    "stetson_k",
]
