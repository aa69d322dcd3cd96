"""The committed-epoch contract of streaming/epochs.EpochState, without
Spark: skip a replayed epoch, fold, then commit — and a fold that dies
leaves the marker where it was."""

from __future__ import annotations

import os

import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.epochs import (
    EpochState,
)


class _Recorder(EpochState):
    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.calls: list[tuple] = []
        self.fail = False

    def _fold(self, batch_df, epoch_id, last, *args) -> None:
        self.calls.append((batch_df, epoch_id, last, args))
        if self.fail:
            raise RuntimeError("crash inside the fold")


def test_fresh_root_has_no_committed_epoch(tmp_path):
    assert _Recorder(str(tmp_path / "state")).last_epoch() == -1


def test_fold_then_commit(tmp_path):
    st = _Recorder(str(tmp_path))
    assert st.apply_batch("b0", 0, "x", 7) is True
    assert st.calls == [("b0", 0, -1, ("x", 7))]
    assert st.last_epoch() == 0
    assert st.apply_batch("b1", 1) is True
    assert st.calls[-1] == ("b1", 1, 0, ())
    assert st.last_epoch() == 1


def test_replayed_epoch_is_skipped_without_folding(tmp_path):
    st = _Recorder(str(tmp_path))
    st.apply_batch("b0", 0)
    assert st.apply_batch("b0", 0) is False
    assert len(st.calls) == 1
    assert st.last_epoch() == 0
    # a fresh handle on the same root reads the committed marker
    again = _Recorder(str(tmp_path))
    assert again.apply_batch("b0", 0) is False
    assert again.calls == []


def test_crash_before_commit_refolds_the_epoch(tmp_path):
    st = _Recorder(str(tmp_path))
    st.apply_batch("b0", 0)
    st.fail = True
    with pytest.raises(RuntimeError):
        st.apply_batch("b1", 1)
    assert st.last_epoch() == 0
    st.fail = False
    assert st.apply_batch("b1", 1) is True
    assert st.calls[-1] == ("b1", 1, 0, ())
    assert st.last_epoch() == 1


def test_epoch_paths_stop_at_the_marker_and_match_the_prefix(tmp_path):
    st = _Recorder(str(tmp_path))
    for d in ("keys_epoch=0", "keys_epoch=2", "keys_epoch=10",
              "sketch_epoch=1", "xkeys_epoch=1"):
        os.makedirs(tmp_path / d)
    st.apply_batch("b", 2)
    got = st._epoch_paths("keys", st.last_epoch())
    assert got == [str(tmp_path / "keys_epoch=0"), str(tmp_path / "keys_epoch=2")]
    assert st._epoch_paths("keys", -1) == []
    assert st._epoch_path("keys", 3) == str(tmp_path / "keys_epoch=3")
