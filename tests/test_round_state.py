"""RoundState's durable path (operators/scratch.py): every fixpoint that
rolls its rounds through it — PageRank, connected components, DFS
preorder — returns the same rows from durable parquet as from the
in-memory default, whether the directory comes from ``scratch_dir`` or
``$RODDY_SCRATCH_DIR``, and leaves that directory empty on return or on
an exception mid-round."""

from __future__ import annotations

import pytest

from roddy_spark.config import CrawlConfig
from roddy_spark.operators.linkgraph import pagerank
from roddy_spark.operators.scratch import RoundState
from roddy_spark.operators.textdedup import connected_components
from roddy_spark.plans.dfs import dfs_preorder
from roddy_spark.sources.synthweb import WebConfig, synthweb_df


def _pagerank(spark, scratch_dir):
    edges = spark.createDataFrame(
        [(i % 11, (i * 5) % 13) for i in range(60)], ["src", "dst"])
    return pagerank(edges, iterations=4, scratch_dir=scratch_dir)


def _components(spark, scratch_dir):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20, 21), (22, 21), (30, 31)],
        ["id_a", "id_b"])
    return connected_components(pairs, scratch_dir=scratch_dir)


def _dfs(spark, scratch_dir):
    pages = synthweb_df(spark, WebConfig(n_hosts=2, n_pages=40,
                                         n_corpus=20), partitions=2)
    return dfs_preorder(spark, pages, ["http://h0.test/"],
                        CrawlConfig(max_depth=3), scratch_dir=scratch_dir)


FIXPOINTS = {"pagerank": _pagerank, "connected_components": _components,
             "dfs_preorder": _dfs}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(FIXPOINTS))
def test_durable_round_state_matches_memory_and_cleans_up(
        spark, tmp_path, monkeypatch, name):
    run = FIXPOINTS[name]
    monkeypatch.delenv("RODDY_SCRATCH_DIR", raising=False)
    want = _rows(run(spark, None))
    assert want

    # spy: record whether a durable version sat under the directory
    # after each roll, and fail the third roll when asked to
    real_roll = RoundState.roll
    spy = {"files": False, "rolls": 0, "fail_at": None}

    def roll(self, df, name_):
        out = real_roll(self, df, name_)
        spy["files"] |= any(p.is_file() for p in tmp_path.rglob("*"))
        spy["rolls"] += 1
        if spy["rolls"] == spy["fail_at"]:
            raise RuntimeError("injected mid-round failure")
        return out

    monkeypatch.setattr(RoundState, "roll", roll)

    for how in ("scratch_dir", "env"):
        d = tmp_path / how
        d.mkdir()
        spy["files"] = False
        if how == "env":
            monkeypatch.setenv("RODDY_SCRATCH_DIR", str(d))
            got = _rows(run(spark, None))
            monkeypatch.delenv("RODDY_SCRATCH_DIR")
        else:
            got = _rows(run(spark, str(d)))
        assert got == want, how
        assert spy["files"], f"{how}: round state never reached disk"
        assert list(d.iterdir()) == [], f"{how}: left {list(d.iterdir())}"

    d = tmp_path / "failing"
    d.mkdir()
    spy.update(files=False, rolls=0, fail_at=3)
    with pytest.raises(RuntimeError, match="injected"):
        run(spark, str(d))
    assert spy["files"]
    assert list(d.iterdir()) == [], list(d.iterdir())
