"""Watermarked streaming exact-dedup (streaming/incremental.py)."""

import os
import tempfile

import numpy as np
import pandas as pd


def _write(spark, in_dir, repos, paths, contents, times):
    rows = pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": [f"c-{p}" for p in paths],
            "lang": ["py"] * len(repos),
            "content": contents,
            "event_time": pd.to_datetime(times),
        }
    )
    spark.createDataFrame(rows).write.mode("append").parquet(in_dir)


def test_stream_exact_dedup_drops_late_duplicates(spark, await_available_now):
    """First occurrence wins is a CROSS-batch guarantee (state store); within
    one micro-batch dropDuplicates keeps an arbitrary member, so the test
    feeds the duplicate in a later batch."""
    from deduplipy_spark.streaming.incremental import stream_exact_dedup

    tmp = tempfile.mkdtemp()
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    schema = ("repo string, path string, commit string, lang string, "
              "content string, event_time timestamp")

    def run_once():
        q = (
            stream_exact_dedup(spark, in_dir, schema)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_available_now(q, 60)
        return spark.read.parquet(out_dir).toPandas()

    _write(spark, in_dir, ["r1", "r3"], ["a", "c"],
           ["same body", "unique body"],
           ["2026-01-01 10:00", "2026-01-01 10:10"])
    out1 = run_once()
    assert len(out1) == 2
    assert set(out1.content) == {"same body", "unique body"}

    # late re-arrival of 'same body' (within the 1h watermark): dropped, and
    # the batch-1 winner r1 stays the sole owner of that sha
    _write(spark, in_dir, ["r2"], ["b"], ["same body"], ["2026-01-01 10:05"])
    out2 = run_once()
    assert len(out2) == 2
    assert out2[out2.content == "same body"].repo.iloc[0] == "r1"


def test_stateful_exact_dedup_applyinpandaswithstate(spark, await_available_now):
    """Custom stateful operator (streaming/stateful.py): first-seen-wins is
    deterministic WITHIN a batch (earliest event_time, id tiebreak, null
    times last), and the per-sha state carries a duplicate counter across
    batches."""
    import pyspark.sql.functions as F

    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.streaming.stateful import stateful_exact_dedup

    tmp = tempfile.mkdtemp()
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    schema = ("repo string, path string, commit string, lang string, "
              "content string, event_time timestamp")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        ident = with_identity(stream).select(
            "content_sha", "file_id", "event_time", "repo", "path"
        )
        q = (
            stateful_exact_dedup(ident)
            .writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_available_now(q, 60)
        return spark.read.parquet(out_dir).toPandas()

    # batch 1: four copies of one sha IN THE SAME BATCH, later-timestamped
    # row listed first to prove within-batch ordering, one without a time;
    # plus one unique and one sha seen only without a time
    _write(spark, in_dir,
           ["r-late", "r-null", "r-early", "r-mid", "r-uniq", "r-untimed"],
           ["a", "f", "b", "c", "d", "g"],
           ["same body", "same body", "same body", "same body",
            "unique body", "untimed body"],
           ["2026-01-01 11:00", None, "2026-01-01 09:00",
            "2026-01-01 10:00", "2026-01-01 10:30", None])
    out1 = run_once().set_index("repo")
    assert sorted(out1.index) == ["r-early", "r-uniq", "r-untimed"]
    assert out1.dups["r-early"] == 3            # earliest event won
    assert out1.dups["r-uniq"] == 0
    assert out1.dups["r-untimed"] == 0
    assert out1.event_time.isna()["r-untimed"]

    # batch 2: another copy arrives -> suppressed (state), no new output row
    _write(spark, in_dir, ["r2"], ["e"], ["same body"], ["2026-01-02 09:00"])
    out2 = run_once()
    assert len(out2) == 3                       # unchanged output


class _FakeState:
    """Minimal GroupState stand-in to drive the timeout path (Spark invokes
    the function with an empty batch iterator and hasTimedOut=True)."""

    def __init__(self, timed_out=False, value=None, watermark_ms=0):
        self.hasTimedOut = timed_out
        self.watermark_ms = watermark_ms
        self._value = value
        self.removed = False
        self.updated = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_stateful_timeout_evicts_state_and_emits_nothing():
    """TTL expiry: empty batch iterator + hasTimedOut -> state removed,
    empty output, NO crash (pd.concat on zero frames would raise)."""
    from deduplipy_spark.streaming.stateful import _dedup_one_sha

    state = _FakeState(timed_out=True, value=(1, pd.Timestamp("2026-01-01"), 3))
    out = list(_dedup_one_sha(("sha",), iter([]), state))
    assert state.removed is True
    assert state.updated is None            # no refresh on the way out
    assert sum(len(df) for df in out) == 0
    # yielded frame carries the full output schema (Spark requires columns)
    assert list(out[0].columns) == [
        "content_sha", "file_id", "event_time", "repo", "path", "dups"]


def test_stateful_normal_path_still_updates_state():
    from deduplipy_spark.streaming.stateful import _dedup_one_sha

    t = pd.Timestamp("2026-01-01")
    batch = pd.DataFrame({
        "content_sha": ["s"], "file_id": [7], "event_time": [t],
        "repo": ["r"], "path": ["p"], "event_ms": [t.value // 10**6],
    })
    state = _FakeState()
    out = pd.concat(list(_dedup_one_sha(("s",), iter([batch]), state)))
    assert len(out) == 1 and out.file_id.iloc[0] == 7
    assert state.updated == (7, pd.Timestamp("2026-01-01"), 0)
    # event-time TTL: newest event of the group + 24 h, in epoch ms
    assert state.timeout_ts == (t + pd.Timedelta(hours=24)).value // 10**6


def test_stateful_null_event_time_dedups_and_sets_ttl():
    """Rows without an event_time are still deduplicated by sha (after the
    timed rows), stored with a null first_time, and the TTL counts from the
    group's newest timed row, or from the watermark when there is none."""
    from deduplipy_spark.streaming.stateful import _TTL_MS, _dedup_one_sha

    t = pd.Timestamp("2026-01-01")
    untimed = pd.DataFrame({
        "content_sha": ["s", "s"], "file_id": [5, 3],
        "event_time": [pd.NaT, pd.NaT], "repo": ["r", "r"],
        "path": ["p", "q"], "event_ms": [np.nan, np.nan],
    })
    state = _FakeState(watermark_ms=1_000)
    out = pd.concat(list(_dedup_one_sha(("s",), iter([untimed]), state)))
    assert out.file_id.tolist() == [3] and out.dups.tolist() == [1]
    assert state.updated == (3, None, 1)
    assert state.timeout_ts == 1_000 + _TTL_MS

    mixed = untimed.copy()
    mixed.loc[2] = ["s", 9, t, "r", "o", t.value // 10**6]
    state = _FakeState(watermark_ms=1_000)
    out = pd.concat(list(_dedup_one_sha(("s",), iter([mixed]), state)))
    assert out.file_id.tolist() == [9] and out.dups.tolist() == [2]
    assert state.updated == (9, t, 2)
    assert state.timeout_ts == t.value // 10**6 + _TTL_MS
