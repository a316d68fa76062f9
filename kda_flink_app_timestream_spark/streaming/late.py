"""Late-data side output (SURVEY §2 #4 mapping).

The reference diverts records later than allowedLateness to a Flink
side output (tag "side-output-late", StreamingJob.java:128, 150) and
prints them (:168). Structured Streaming has no side channel, so the
engine provides the dual-sink ``foreachBatch`` split: each micro-batch
is partitioned on ``event_time < watermark − allowed_lateness`` and the
two slices go to independent sinks.

The watermark is read from the running query's progress
(``query.lastProgress["eventTime"]["watermark"]``), which is the
watermark as of the PREVIOUS batch boundary — records the engine itself
already dropped never reach us, so the split classifies the band of
"late but within watermark" records. The epsilon (one batch of lag) is
inherent and documented (SURVEY §7 "what's hard" #1).
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_on_watermark(
    batch_df: DataFrame,
    watermark: datetime | str | None,
    ts_col: str,
    allowed_lateness: str = "5 seconds",
) -> tuple[DataFrame, DataFrame]:
    """Split a micro-batch into (on_time, late) on the watermark.

    ``watermark=None`` (first batch — no progress yet) → everything is
    on-time, matching Flink's semantics where the watermark starts at
    −∞.
    """
    if watermark is None:
        return batch_df, batch_df.filter(F.lit(False))
    if isinstance(watermark, str):
        # progress reports ISO-8601 with trailing Z
        watermark = datetime.fromisoformat(watermark.replace("Z", "+00:00"))
    if watermark.tzinfo is not None:
        watermark = watermark.astimezone(timezone.utc).replace(tzinfo=None)
    cutoff = F.lit(watermark) - F.expr(f"INTERVAL {allowed_lateness}")
    is_late = F.col(ts_col) < cutoff
    return batch_df.filter(~is_late), batch_df.filter(is_late)


class LateDataSplitter:
    """``foreachBatch`` callable: route on-time and late slices to two
    sinks — the reusable rendition of the reference's side output + print
    (StreamingJob.java:128, 150, 168).

    Usage::

        splitter = LateDataSplitter(on_time_fn, late_fn, "event_time")
        query = df.writeStream.foreachBatch(splitter).start()
        splitter.attach(query)   # enables watermark reads from progress
    """

    def __init__(
        self,
        on_time: Callable[[DataFrame, int], None],
        late: Callable[[DataFrame, int], None],
        ts_col: str,
        allowed_lateness: str = "5 seconds",
    ) -> None:
        self._on_time = on_time
        self._late = late
        self._ts_col = ts_col
        self._lateness = allowed_lateness
        self._query = None
        self._max_event_ts: datetime | None = None

    def attach(self, query) -> None:
        self._query = query

    def _progress_watermark(self) -> datetime | None:
        if self._query is None:
            return None
        progress = self._query.lastProgress
        if not progress:
            return None
        wm = (progress.get("eventTime") or {}).get("watermark")
        # Spark reports epoch-0 before the first real watermark. On 4.1
        # a stateless query's watermark does advance, but progress
        # reports it one batch late
        if not wm or wm.startswith("1970-01-01T00:00:00"):
            return None
        parsed = datetime.fromisoformat(wm.replace("Z", "+00:00"))
        return parsed.astimezone(timezone.utc).replace(tzinfo=None)

    def _current_watermark(self) -> datetime | None:
        """Effective watermark: the engine's (stateful queries) or the
        splitter's own monotonous max-event-time tracker — the direct
        analog of the reference's ``forMonotonousTimestamps`` strategy
        (StreamingJob.java:132-134), needed because the progress
        watermark is absent for a new query's first batch and reported
        one batch late after that."""
        candidates = [w for w in (self._progress_watermark(), self._max_event_ts) if w]
        return max(candidates) if candidates else None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        # the batch frame is consumed THREE times per epoch (on-time
        # sink, late sink, max-event-time probe) and foreachBatch frames
        # recompute from the source slice per action — pin it once
        batch_df.persist()
        try:
            # classify against the watermark as of batch START (records
            # in this batch don't count against themselves), then
            # advance it
            on_time, late = split_on_watermark(
                batch_df, self._current_watermark(), self._ts_col, self._lateness
            )
            self._on_time(on_time, epoch_id)
            self._late(late, epoch_id)
            batch_max = batch_df.agg(F.max(self._ts_col)).first()[0]
            if batch_max is not None and (
                self._max_event_ts is None or batch_max > self._max_event_ts
            ):
                self._max_event_ts = batch_max
        finally:
            batch_df.unpersist()
