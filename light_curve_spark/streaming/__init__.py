"""Streaming posture of the engine.

Deliberate design decision (SURVEY.md §2.9): the reference is a pure
batch library and the north_rule's "resumable from checkpoint" is
snapshot-based BATCH resume (plans/pipeline.py), not Structured
Streaming aggregation. Sequences are immutable rows — there is no late
data, no watermark, no session window in this domain; tumbling "windows"
are ``floor(t / width)`` bucket groupBys (operators/rollup.py). Keeping
the engine batch-only is what makes bit-exact golden parity tractable.

What this package DOES provide is one continuous-aggregate state (the
``rollup_tiers`` rows of every tier, one full-state snapshot per fold)
and one fold over it:

- :func:`incremental_rollup` folds a new input snapshot's rollup
  partials into the stored state — the operation a scheduler runs per
  arriving Iceberg snapshot at 10^12-sequence scale;
- :func:`run_stream_rollup` feeds the same fold from a ``readStream``
  file source, one ``availableNow`` micro-batch at a time, stamping each
  snapshot with its input file paths so every file folds exactly once,
  even after a lost checkpoint (streaming/structured.py);
- ``retract_rollup_state`` removes deleted data from that state,
  whichever fold wrote it.
"""

from light_curve_spark.streaming.incremental import incremental_rollup, merge_rollups
from light_curve_spark.streaming.structured import run_stream_rollup

__all__ = [
    "incremental_rollup",
    "merge_rollups",
    "run_stream_rollup",
]
