"""Custom stateful streaming dedup via applyInPandasWithState.

``stream_exact_dedup`` (incremental.py) leans on Spark's built-in
``dropDuplicates`` state store; this module implements the custom-operator
variant the task brief names: ``applyInPandasWithState`` keyed by
``content_sha``, with our own state record per key. That buys semantics the
built-in can't express:

- FIRST-SEEN WINS deterministically *within* a micro-batch too (the
  built-in keeps an arbitrary row of the first batch): rows are resolved by
  (event_time, file_id) order inside the group before state is consulted.
- a per-key duplicate COUNTER and first-owner metadata maintained in state,
  emitted with every kept row (lineage: how many copies this sha has shed).
- state TTL in EVENT time (``GroupStateTimeout.EventTimeTimeout``), so the
  sha index ages out instead of growing forever — the streaming analog of
  the batch band-index cap. Each hit sets the key's timeout to its rows'
  newest event_time + 24 h; the key is evicted once the watermark (newest
  event seen − 24 h, as in ``stream_exact_dedup``) passes it, and rows
  older than the watermark are dropped as late. Spark runs a no-data batch
  only when the watermark moves, so a ``trigger(availableNow=True)`` run
  ends (a processing-time timeout asked for one every trigger, forever).
- rows with a null event_time pass the watermark and are still deduplicated
  by sha: they sort after the group's timed rows, a null first row is
  stored with a null ``first_time``, and the TTL counts from the group's
  newest non-null event — from the current watermark when the group has
  none.

State schema: (first_id long, first_time timestamp, dups long).
Output: the first occurrence row per sha + running duplicate count.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "first_id long, first_time timestamp, dups long"
OUTPUT_SCHEMA = (
    "content_sha string, file_id long, event_time timestamp, "
    "repo string, path string, dups long"
)


_OUT_COLS = ["content_sha", "file_id", "event_time", "repo", "path", "dups"]
_TTL = "24 hours"
_TTL_MS = 24 * 3600 * 1000


def _dedup_one_sha(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # TTL expiry: Spark invokes the function with an EMPTY batch iterator
    # and hasTimedOut=True — concat would raise, and without remove() the
    # state entry would never actually be evicted. Drop the key, emit
    # nothing (the sha index simply forgets this sha).
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(columns=_OUT_COLS)
        return
    rows = pd.concat(list(batches), ignore_index=True)
    # deterministic within-batch order: earliest event wins, id tiebreak
    rows = rows.sort_values(["event_time", "file_id"], kind="mergesort")
    if state.exists:
        first_id, first_time, dups = state.get
        new_dups = dups + len(rows)
        state.update((int(first_id), first_time, int(new_dups)))
        out = pd.DataFrame(columns=_OUT_COLS)
    else:
        first = rows.iloc[0]
        new_dups = len(rows) - 1
        first_time = None if pd.isna(first["event_time"]) else first["event_time"]
        state.update((int(first["file_id"]), first_time, int(new_dups)))
        out = pd.DataFrame(
            {
                "content_sha": [key[0]],
                "file_id": [first["file_id"]],
                "event_time": [first["event_time"]],
                "repo": [first["repo"]],
                "path": [first["path"]],
                "dups": [new_dups],
            }
        )
    # TTL refreshed per hit; event_ms is epoch ms computed in the JVM, so it
    # compares with the watermark whatever the session time zone
    newest = rows["event_ms"].max()
    if pd.isna(newest):
        newest = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(int(newest) + _TTL_MS)
    yield out


def stateful_exact_dedup(stream: DataFrame) -> DataFrame:
    """stream: (content_sha, file_id, event_time, repo, path, ...) ->
    first-seen rows per sha with a running duplicate counter in state.
    Rows more than 24 h older than the newest event seen are dropped."""
    cols = ["content_sha", "file_id", "event_time", "repo", "path"]
    return (
        stream.withWatermark("event_time", _TTL)
        .select(*cols, F.unix_millis("event_time").alias("event_ms"))
        .groupBy("content_sha")
        .applyInPandasWithState(
            _dedup_one_sha,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
