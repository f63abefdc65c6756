"""Stream-static enrichment: join an unbounded fact stream with a
batch dimension table.  The static side is re-planned per micro-batch
(so dimension updates between batches are picked up) and — being
dimension-sized — broadcast: the stream side never shuffles and no
join state accumulates (unlike stream-stream joins, the static side is
always fully available, so no watermark is needed for correctness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Broadcast stream-static join: attach dimension columns to every
    stream row.  The stream side stays shuffle-free; the dim side is
    re-read each micro-batch."""
    return stream.join(F.broadcast(dim), on, how)
