"""Chunk compression operators: sequences <-> compressed chunk structs.

north_star: "Timestamps are delta-of-delta encoded and values Gorilla
XOR-compressed into per-partition chunk structs persisted back to
Iceberg"; per-row invariant: decode(encode(tokens)) == tokens EXACTLY.

Shape: one sequence row -> one chunk row (mapInPandas, shuffle-free; the
chunk table is written with the same partitioning as the salted input so
the write needs no extra exchange, SURVEY.md §4.3). Ultra-long outliers
are pre-split by :func:`chunk_outliers` into (doc_id, chunk_no) sub-series
so no single Arrow batch or chunk blows executor memory.

Kernels: light_curve_spark.kernels.compression (Pelkonen et al. VLDB'15
scheme; vectorized encode, see that module's docstring).
"""

from __future__ import annotations

import time
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from light_curve_spark.kernels.compression import CHUNK_CODEC, decode_timestamps

CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("source", StringType(), True),
        StructField("chunk_no", IntegerType(), False),
        StructField("t0", LongType(), False),
        StructField("n", IntegerType(), False),
        StructField("ts_dod", BinaryType(), False),
        StructField("vals_gorilla", BinaryType(), False),
        StructField("checksum", LongType(), False),
        # self-describing value codec: always CHUNK_CODEC; decode_chunks
        # rejects any other value
        StructField("codec", StringType(), False),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("source", StringType(), True),
        StructField("chunk_no", IntegerType(), False),
        StructField("t", ArrayType(LongType(), False), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
    ]
)


def chunk_outliers(seq: DataFrame, max_len: int = 4096) -> DataFrame:
    """Split sequences longer than ``max_len`` into (doc_id, chunk_no)
    sub-sequences using built-in array slicing (no UDF). Keeps every
    chunk's Arrow footprint bounded regardless of the n_tok long tail."""
    # clamp to >= 1: n_tok == 0 would yield F.sequence(0, -1), which Spark
    # evaluates as the DESCENDING sequence [0, -1] — two bogus chunk rows
    # (one with a negative slice offset) instead of a single empty chunk
    n_chunks = F.greatest(
        F.ceil(F.col("n_tok") / F.lit(max_len)).cast("int"), F.lit(1)
    )
    return (
        seq.withColumn("chunk_no", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("t_off", F.col("chunk_no") * F.lit(max_len))
        .withColumn(
            "tokens", F.slice(F.col("tokens"), F.col("t_off") + 1, F.lit(max_len))
        )
        .withColumn("n_tok", F.size("tokens"))
        .drop("t_off")
    )


LINEAGE_CHUNK_SCHEMA = StructType(
    list(CHUNK_SCHEMA.fields)
    + [
        StructField("_pid", IntegerType(), False),
        StructField("_wall_ms", LongType(), False),
    ]
)


def encode_chunks(
    seq: DataFrame,
    max_len: int = 4096,
    with_lineage: bool = False,
) -> DataFrame:
    """sequences -> chunk table. t_i is the global token position, so a
    chunk of a split outlier starts at chunk_no * max_len.

    ``with_lineage=True`` adds ``_pid`` (TaskContext partition id) and
    ``_wall_ms`` (encode wall time; the batch total rides on the batch's
    first row, so SUM per ``_pid`` is the exact task wall) columns
    measured inside the same kernel pass — the pipeline aggregates them
    into the metrics table without a second scan.
    """
    if "chunk_no" not in seq.columns:
        seq = chunk_outliers(seq, max_len=max_len)
    cols = [
        "doc_id",
        "source",
        "chunk_no",
        "t0",
        "n",
        "ts_dod",
        "vals_gorilla",
        "checksum",
        "codec",
    ]

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from light_curve_spark.kernels.compression import (
            encode_timestamps_regular,
            encode_values_batch_blocked,
        )

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for b in batches:
            t_start = time.time()
            nrows = b.num_rows
            if nrows == 0:
                continue
            toks = b.column(b.schema.get_field_index("tokens"))
            off = toks.offsets.to_numpy()
            lengths = (off[1:] - off[:-1]).astype(np.int64)
            flat = toks.flatten().to_numpy().astype(np.int64)
            starts = np.cumsum(lengths) - lengths
            toks_list = [
                flat[s : s + ln] for s, ln in zip(starts, lengths)
            ]
            vals = encode_values_batch_blocked(toks_list)  # one vectorized pass
            chunk_nos = b.column(b.schema.get_field_index("chunk_no")).to_numpy()
            t0s = chunk_nos.astype(np.int64) * max_len
            ts_bufs, crcs = [], np.empty(nrows, dtype=np.int64)
            for i in range(nrows):
                n = int(lengths[i])
                t0 = int(t0s[i])
                crc = zlib.crc32(
                    (np.arange(n, dtype=np.int64) + t0).astype("<i8").tobytes()
                )
                crcs[i] = zlib.crc32(toks_list[i].astype("<i8").tobytes(), crc)
                ts_bufs.append(encode_timestamps_regular(n, t0))
            arrays = [
                b.column(b.schema.get_field_index("doc_id")),
                b.column(b.schema.get_field_index("source")),
                pa.array(chunk_nos.astype(np.int32)),
                pa.array(np.where(lengths > 0, t0s, 0)),
                pa.array(lengths.astype(np.int32)),
                pa.array(ts_bufs, type=pa.binary()),
                pa.array(vals, type=pa.binary()),
                pa.array(crcs),
                pa.array([CHUNK_CODEC] * nrows),
            ]
            names = list(cols)
            if with_lineage:
                wall = int((time.time() - t_start) * 1000)
                # batch wall carried ON THE FIRST ROW (zero elsewhere):
                # SUM per _pid reconstructs the task wall EXACTLY. The
                # old per-row integer spread (wall // nrows) truncated to
                # zero whenever a batch encoded faster than 1 ms/row —
                # silently under-reporting every non-straggler task
                # (found by the round-4 mega-key skew bench).
                w = np.zeros(nrows, dtype=np.int64)
                if nrows:
                    w[0] = wall
                arrays += [
                    pa.array(np.full(nrows, pid, dtype=np.int32)),
                    pa.array(w),
                ]
                names += ["_pid", "_wall_ms"]
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = LINEAGE_CHUNK_SCHEMA if with_lineage else CHUNK_SCHEMA
    return seq.select("doc_id", "source", "chunk_no", "tokens").mapInArrow(
        fn, schema=schema
    )


def _cell(batch, name: str, i: int):
    """One value of an Arrow record batch, for error messages."""
    return batch.column(batch.schema.get_field_index(name))[i].as_py()


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """chunk table -> (doc_id, chunk_no, t, tokens); the round-trip
    half of the per-row invariant. Every row's crc32 over the decoded
    (t, tokens) is checked against its stored ``checksum``, so a corrupt
    buffer raises ``ValueError`` instead of decoding to wrong tokens; a
    ``codec`` other than ``CHUNK_CODEC`` raises too.

    ``mapInArrow`` + direct ``ListArray.from_arrays`` construction: the
    decoded arrays go flat-buffer -> Arrow with NO per-row Python
    objects (a pandas route would box one numpy array per row just for
    Arrow to unbox it again)."""

    def fn(batches):
        import pyarrow as pa

        from light_curve_spark.kernels.compression import (
            decode_values_batch_blocked,
        )

        for b in batches:
            if b.num_rows == 0:
                continue
            codecs = b.column(b.schema.get_field_index("codec")).to_pylist()
            for i, c in enumerate(codecs):
                if c != CHUNK_CODEC:
                    raise ValueError(
                        f"chunk of doc_id {_cell(b, 'doc_id', i)!r} has "
                        f"unknown codec {c!r}; only {CHUNK_CODEC!r} decodes"
                    )
            # timestamps: the regular-axis fast path inside
            # decode_timestamps makes this loop ~free
            ts = [
                decode_timestamps(v)
                for v in b.column(b.schema.get_field_index("ts_dod")).to_pylist()
            ]
            # ONE vectorized batch decode (4x over a per-chunk loop —
            # numpy dispatch dominated)
            toks = decode_values_batch_blocked(
                b.column(b.schema.get_field_index("vals_gorilla")).to_pylist()
            )
            # same byte order as the encoder: crc32 over little-endian
            # int64 t, continued over the int64 token bytes
            crcs = b.column(b.schema.get_field_index("checksum")).to_numpy()
            for i, (t, v) in enumerate(zip(ts, toks)):
                crc = zlib.crc32(
                    v.astype("<u8", copy=False),
                    zlib.crc32(t.astype("<i8", copy=False)),
                )
                if crc != crcs[i]:
                    raise ValueError(
                        f"chunk checksum mismatch for doc_id "
                        f"{_cell(b, 'doc_id', i)!r} chunk_no "
                        f"{_cell(b, 'chunk_no', i)}: stored {crcs[i]}, "
                        f"decoded {crc}"
                    )

            t_cum = np.cumsum(
                np.fromiter((a.shape[0] for a in ts), dtype=np.int64, count=len(ts))
            )
            tok_cum = np.cumsum(
                np.fromiter((a.shape[0] for a in toks), dtype=np.int64, count=len(toks))
            )
            # ListArray offsets are int32: a batch whose decoded total
            # exceeds 2^31-1 elements would silently wrap — fail loudly
            # instead (split the batch via maxRecordsPerBatch if ever hit)
            total = max(
                int(t_cum[-1]) if len(t_cum) else 0,
                int(tok_cum[-1]) if len(tok_cum) else 0,
            )
            if total > np.iinfo(np.int32).max:
                raise OverflowError(
                    f"decoded Arrow batch holds {total} elements, exceeding "
                    "int32 list offsets; lower spark.sql.execution.arrow."
                    "maxRecordsPerBatch"
                )
            t_off = np.zeros(len(ts) + 1, dtype=np.int32)
            t_off[1:] = t_cum
            t_flat = np.concatenate(ts)
            tok_off = np.zeros(len(toks) + 1, dtype=np.int32)
            tok_off[1:] = tok_cum
            tok_flat = np.concatenate(toks).view(np.int64).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    b.column(b.schema.get_field_index("source")),
                    b.column(b.schema.get_field_index("chunk_no")),
                    pa.ListArray.from_arrays(pa.array(t_off), pa.array(t_flat)),
                    pa.ListArray.from_arrays(pa.array(tok_off), pa.array(tok_flat)),
                ],
                ["doc_id", "source", "chunk_no", "t", "tokens"],
            )

    return chunks.mapInArrow(fn, schema=DECODED_SCHEMA)


def reassemble(decoded: DataFrame) -> DataFrame:
    """Stitch split chunks back into whole sequences (groupBy + ordered
    flatten, built-ins only) for the exact-equality check."""
    return (
        decoded.groupBy("doc_id", "source")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("chunk_no", "tokens"))
                ).tokens
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
    )
