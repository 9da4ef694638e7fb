"""Structured Streaming analogues of the reference's batch semantics
(SURVEY §2.13). The reference is pure batch; these expose its windowing /
dedup / gap semantics on an unbounded stream so the same engine serves the
`events`-style live feed:

- ``wave_interval`` / ``average_interval`` bursting (waves.py:2037-2091)
  ≡ tumbling windows with watermark (``streaming_burst_average``,
  ``streaming_tide_average``);
- the regular-grid reindex (sig/cdf2nc.py:1553-1594) ≡ an event-time
  timeout that emits missing ticks (``streaming_gap_fill``);
- duplicate timestamps (sig/cdf2nc.py:1582 drop_duplicates) ≡
  ``dropDuplicatesWithinWatermark`` (``streaming_dedup``);
- burst NaN-fill tolerance (waves.py:1992-2034) ≡ allowed lateness.

The other twins carry one reference operator each onto the live feed,
with batch parity as their contract:

- ``streaming_diff_gate``: the ``<v>_max_diff`` QA/QC gate, so a live
  feed is cleaned with the batch rule's lag across micro-batches;
- ``streaming_wave_stats`` / ``streaming_puv``: per-burst wave
  statistics and PUV directional waves, the batch kernels run when the
  watermark closes a burst, so wave products follow the feed;
- ``bursts.streaming_atmos_correct``: atmospheric pressure correction
  against the met table, with no streaming state;
- ``export_nc_batch_writer``: the ``exportnc`` product edge, one netCDF
  file per closed burst, idempotent on replay;
- ``streaming_qaqc_audit`` / ``streaming_qaqc_lookahead_audit``: the
  QA/QC per-rule affected counts, live, so a gate that starts tripping
  (sensor failure) shows without re-running the batch audit.
"""

from stglib_spark.streaming.bursts import (
    export_nc_batch_writer,
    read_events_stream,
    streaming_burst_average,
    streaming_dedup,
    streaming_diff_gate,
    streaming_gap_fill,
    streaming_puv,
    streaming_qaqc_audit,
    streaming_qaqc_lookahead_audit,
    streaming_tide_average,
    streaming_wave_stats,
)

__all__ = [
    "export_nc_batch_writer",
    "read_events_stream",
    "streaming_burst_average",
    "streaming_dedup",
    "streaming_diff_gate",
    "streaming_gap_fill",
    "streaming_puv",
    "streaming_qaqc_audit",
    "streaming_qaqc_lookahead_audit",
    "streaming_tide_average",
    "streaming_wave_stats",
]
