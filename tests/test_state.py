"""Per-application state (skinnerdb_spark/state.py): the memo LRU."""

from __future__ import annotations

from skinnerdb_spark import state


def _frame(spark, i: int):
    return lambda: spark.range(1).selectExpr(f"{i} AS v")


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_memo_evicts_least_recently_used(spark, monkeypatch):
    """Past MEMO_CAP entries a miss evicts the least recently used entry and
    unpersists it; a hit returns the same frame and moves its entry to the
    back of the order."""
    monkeypatch.setattr(state, "_MEMO", {})
    sf = "memo-test"
    try:
        frames = [state.memo(spark, sf, f"f{i}", _frame(spark, i)) for i in range(state.MEMO_CAP)]
        assert len(state._MEMO) == state.MEMO_CAP and all(map(_cached, frames))

        state.memo(spark, sf, "past-cap", _frame(spark, -1))
        assert len(state._MEMO) == state.MEMO_CAP
        assert (sf, "f0") not in state._MEMO and not _cached(frames[0])

        # f1 is now the least recently used; a hit moves it to the back
        assert state.memo(spark, sf, "f1", _frame(spark, 1)) is frames[1]
        assert list(state._MEMO)[-1] == (sf, "f1")
        state.memo(spark, sf, "past-cap-2", _frame(spark, -2))
        assert (sf, "f1") in state._MEMO and _cached(frames[1])
        assert (sf, "f2") not in state._MEMO and not _cached(frames[2])
    finally:
        for df in state._MEMO.values():
            df.unpersist()
