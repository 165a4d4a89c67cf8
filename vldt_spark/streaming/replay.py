"""Replay frames through a streaming operator, one micro-batch per frame.

The one local runner for every streaming twin: the same plan runs in
production against a real source and sink, while tests and gates feed a
fixed list of frames and read back what a memory sink collected.  Frame
``i`` is written as one parquet file and streamed with one file per
trigger, so it is exactly micro-batch ``i``; a frame that must stay one
micro-batch (rows whose order inside the batch must not move the
watermark) is passed as one frame.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

_FILES_PER_TRIGGER = 1


def replay(
    spark: SparkSession,
    batches: Sequence[DataFrame],
    build: Callable[[DataFrame], DataFrame],
    *,
    mode: str,
) -> DataFrame:
    """Stream ``batches`` in order (read with the first frame's schema)
    through ``build`` into a memory sink in output ``mode`` (``append``,
    ``update`` or ``complete``), drain it, and return the sink table.
    The query is stopped and the files are removed even when it fails."""
    root = tempfile.mkdtemp(prefix="vldt_stream_")
    name = f"vldt_replay_{uuid.uuid4().hex}"
    try:
        for i, frame in enumerate(batches):
            frame.coalesce(1).write.parquet(os.path.join(root, "in", f"{i:06d}"))
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
            .parquet(os.path.join(root, "in", "*"))
        )
        query = (
            build(stream)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(name)
