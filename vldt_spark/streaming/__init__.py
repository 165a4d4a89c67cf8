from vldt_spark.streaming.validate_stream import (
    validated_stream,
    stream_verdicts,
    verdict_cells,
)
from vldt_spark.streaming.stateful import streaming_duplicate_keys
from vldt_spark.streaming.drift_stream import stream_psi
from vldt_spark.streaming.seq_stream import stream_degenerate_share
from vldt_spark.streaming.c4_stream import stream_c4_windows
from vldt_spark.streaming.controlband_stream import stream_control_bands
from vldt_spark.streaming.replay import replay

__all__ = [
    "validated_stream",
    "stream_verdicts",
    "verdict_cells",
    "streaming_duplicate_keys",
    "stream_psi",
    "stream_degenerate_share",
    "stream_c4_windows",
    "stream_control_bands",
    "replay",
]
