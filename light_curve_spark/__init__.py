"""light_curve_spark — a PySpark-native time-series rollup + downsample +
retention engine over tables of pre-tokenized training sequences.

Built from scratch against the capabilities of light-curve/light-curve
(reference at /root/reference, read-only): each sequence's token stream is
treated as an irregularly-sampled series; light-curve-style feature
aggregates run as vectorized pandas/Arrow UDF kernels; rollups cascade
through 1x/10x/100x retention tiers with LOCF + linear-interpolation
gap-fill; timestamps are delta-of-delta encoded and values Gorilla
XOR-compressed into per-partition chunk structs. See SURVEY.md.
"""

__version__ = "0.1.0"

from light_curve_spark._spark_archives import keep_spark_archive_indexes

keep_spark_archive_indexes()
