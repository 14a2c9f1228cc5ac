"""Workload inputs are a pure function of the seed, and the output checks
accept a correct op and reject a wrong one (tiny sizes)."""

import pytest

from perfbench import workloads as W


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(W, "FRONTIER_CANDIDATES", 3000)
    monkeypatch.setattr(W, "FRONTIER_HOSTS", 20)
    monkeypatch.setattr(W, "FRONTIER_PATHS", 100)
    monkeypatch.setattr(W, "FRONTIER_BUDGET", 40)
    monkeypatch.setattr(W, "ARCHIVE_DOCS", 60)
    monkeypatch.setattr(W, "ARCHIVE_FILES", 4)


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_inputs(spark, tmp_path, tiny, name):
    def landed(seed, sub):
        wl = W.WORKLOADS[name](spark, str(tmp_path / sub), seed)
        wl.land(0)
        return wl.input_fingerprint()

    first = landed(5, "a")
    assert landed(5, "b") == first
    assert landed(6, "c") != first


def test_archive_query_checks(spark, tmp_path, tiny):
    wl = W.ArchiveQuery(spark, str(tmp_path), 3)
    wl.land(0)
    assert wl.check(wl.warm_up(), full=True) == []
    out = wl.op()
    assert out["items"] == 3 * (2 * 60 + 4) - 2 * wl.expect["dropped"]
    assert wl.check(out, full=False) == []
    out["fp"]["compare"] = []
    assert wl.check(out, full=False) != []
    assert wl.full_check(out) != []


def test_frontier_round_checks(spark, tmp_path, tiny):
    wl = W.FrontierRound(spark, str(tmp_path), 3)
    wl.land(0)
    ref = wl.warm_up()
    assert wl.check(ref, full=True) == []
    assert 0 < ref["fp"][0] < W.FRONTIER_CANDIDATES
    out = wl.op()
    assert wl.check(out, full=False) == []
    out["fp"] = (0, 0, 0)
    assert wl.check(out, full=False) != []
    # a budget below what the round kept is caught
    wl.warm_up()
    W.FRONTIER_BUDGET = 1
    assert "a host is over its budget" in wl.full_check(out)
