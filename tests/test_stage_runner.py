"""The manifest stage runner every ``run_*`` job is built on: skip what is
committed, commit what ran, stop at the first failure.  Plain callables,
no Spark."""

import pytest

from sparklog.lineage import Manifest, run_stages


def _stages(calls, names=("a", "b", "c"), fail=None):
    def make(name):
        def fn():
            calls.append(name)
            if name == fail:
                raise ValueError(f"stage {name} broke")
            return {"n": len(calls)}
        return fn
    return [(n, make(n)) for n in names]


def test_committed_stages_are_skipped_in_order(tmp_path):
    out = str(tmp_path)
    calls = []
    first = run_stages(out, _stages(calls))
    assert calls == ["a", "b", "c"]
    assert first["resumed_stages"] == []
    assert {k: v["n"] for k, v in first["stages"].items()} == {
        "a": 1, "b": 2, "c": 3}

    again = run_stages(out, _stages(calls, names=("c", "a", "d", "b")))
    assert calls == ["a", "b", "c", "d"]          # only the new stage ran
    assert again["resumed_stages"] == ["c", "a", "b"]
    assert again["stages"]["d"]["n"] == 4
    assert again["stages"]["a"]["n"] == 1         # commits are not rewritten


def test_fail_after_commits_then_raises_and_rerun_resumes(tmp_path):
    out = str(tmp_path)
    calls = []
    with pytest.raises(RuntimeError, match="injected failure after stage b"):
        run_stages(out, _stages(calls), fail_after="b")
    assert calls == ["a", "b"]
    assert set(Manifest(out).load()["stages"]) == {"a", "b"}

    rerun = run_stages(out, _stages(calls))
    assert rerun["resumed_stages"] == ["a", "b"]
    assert calls == ["a", "b", "c"]
    assert set(rerun["stages"]) == {"a", "b", "c"}


def test_raising_stage_is_not_committed_and_stops_the_run(tmp_path):
    out = str(tmp_path)
    calls = []
    with pytest.raises(ValueError, match="stage b broke"):
        run_stages(out, _stages(calls, fail="b"))
    assert calls == ["a", "b"]                    # c never ran
    assert set(Manifest(out).load()["stages"]) == {"a"}

    rerun = run_stages(out, _stages(calls))
    assert rerun["resumed_stages"] == ["a"]
    assert calls == ["a", "b", "b", "c"]
