"""Structured Streaming surface (SURVEY.md §2.1 S1/S2/S8/S9, §2.9 T1-T10).

- sources: Kafka tick stream + file-replay stand-in sharing one
  from_json decode path
- pipeline: the two-query continuous app of SURVEY §3.1 (a fused
  trainer+label-backfiller over one windowed state, and a predictor)
- correlation: the stream-stream 1-minute-bucket correlation join of
  SURVEY §3.3

Tests drive everything with ``Trigger.AvailableNow`` file replays for
determinism; production swaps in the Kafka source and processing-time
triggers without touching the plan.
"""

from .sources import (
    csv_replay_tick_stream,
    decode_ticks,
    file_replay_tick_stream,
    kafka_tick_stream,
    read_csv_ticks,
)
from .pipeline import SYMBOL_FEATURES, TickPipeline, normalize_ticks, windowed_features
from .correlation import CorrelationPipeline
from .sessions import sessionize_ticks

__all__ = [
    "csv_replay_tick_stream",
    "decode_ticks",
    "file_replay_tick_stream",
    "kafka_tick_stream",
    "read_csv_ticks",
    "SYMBOL_FEATURES",
    "TickPipeline",
    "normalize_ticks",
    "windowed_features",
    "CorrelationPipeline",
    "sessionize_ticks",
]
