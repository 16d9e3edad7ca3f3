"""session.FrameOwner: every frame a call persists or checkpoints is
released when the call returns and when it raises, so no entry leaves
a cache pinned in the session."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from flink_project_userbehavioranalysis_spark import session
from flink_project_userbehavioranalysis_spark.operators import behavior as B
from flink_project_userbehavioranalysis_spark.operators import embeddings_ops as EMB
from flink_project_userbehavioranalysis_spark.operators import graph as G
from flink_project_userbehavioranalysis_spark.operators import llm_text as L
from flink_project_userbehavioranalysis_spark.operators import maintenance as MT
from flink_project_userbehavioranalysis_spark.operators import search as SE
from flink_project_userbehavioranalysis_spark.operators import similarity as S
from flink_project_userbehavioranalysis_spark.session import FrameOwner


@pytest.fixture
def cached_frames(spark, monkeypatch):
    """Every frame the code under test persists or caches."""
    cls = type(spark.range(1))
    seen = []
    for name in ("persist", "cache"):
        orig = getattr(cls, name)

        def record(self, *a, _orig=orig, **k):
            seen.append(self)
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, record)
    return seen


def _still_cached(frames) -> list:
    return [df for df in frames if df.storageLevel != StorageLevel.NONE]


def _ckpt_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_owner_releases_on_error_and_keeps_handed_off_frames(spark):
    owned0 = FrameOwner.owned
    with pytest.raises(ValueError):
        with FrameOwner() as own:
            cached = own.persisted(spark.range(10))
            cached.count()
            ckpt = own.checkpointed(spark.range(5))
            kept = own.keep(own.checkpointed(spark.range(3)))
            view = own.adopt(own.keep(own.checkpointed(spark.range(4))).filter("id > 0"))
            assert FrameOwner.owned == owned0 + 3
            assert list(own.frames.values()) == [cached, ckpt, view]
            raise ValueError
    assert FrameOwner.owned == owned0
    assert cached.storageLevel == StorageLevel.NONE
    live = _persistent_rdd_ids(spark)
    assert _ckpt_rdd_id(ckpt) not in live
    assert _ckpt_rdd_id(kept) in live
    # a filter over a checkpoint releases the checkpoint under it
    leaf = view._jdf.queryExecution().analyzed().children().head()
    assert leaf.rdd().id() not in live


def test_pagerank_releases_its_caches_when_a_round_raises(spark, sf_dir, cached_frames, monkeypatch):
    def boom(*_a, **_k):
        raise RuntimeError("injected round failure")

    owned0 = FrameOwner.owned
    monkeypatch.setattr(G.F, "broadcast", boom)
    with pytest.raises(RuntimeError, match="injected round failure"):
        G.item_pagerank(spark, sf_dir)
    assert FrameOwner.owned == owned0
    assert len(cached_frames) == 2  # edges, nodes
    assert not _still_cached(cached_frames)


@pytest.mark.parametrize(
    "entry",
    [
        MT.jsonl_roundtrip,
        L.bpe_train,
        L.bpe_encode,
        B.retention_rolling,
        EMB.kmeans_lloyd,
        S.near_dup_clusters_incremental,
        SE.fts_topk_diverse,
    ],
    ids=lambda f: f.__name__,
)
def test_entries_return_every_frame_they_own(spark, sf_dir, cached_frames, entry):
    """Twice per entry: after each call the owned-frame count is back
    at its start, nothing the call cached is still in the cache
    manager, and every checkpoint release found its blocks."""
    owned0 = FrameOwner.owned
    skipped0 = session.RELEASE_SKIPPED
    for _ in range(2):
        assert entry(spark, sf_dir).count() > 0
        assert FrameOwner.owned == owned0
        assert not _still_cached(cached_frames)
    assert session.RELEASE_SKIPPED == skipped0


@pytest.mark.parametrize(
    "entry", [G.item_pagerank, G.keyphrase_textrank], ids=lambda f: f.__name__
)
def test_lazy_power_iteration_persists_nothing(spark, sf_dir, cached_frames, entry):
    """``materialize=False`` returns a plan that no action has read, so
    the call stages nothing: no frame goes through the owner or the
    cache manager, and no new RDD is persisted."""
    owned0 = FrameOwner.owned
    live0 = _persistent_rdd_ids(spark)
    lazy = entry(spark, sf_dir, materialize=False)
    assert FrameOwner.owned == owned0
    assert cached_frames == []
    assert not _persistent_rdd_ids(spark) - live0
    assert lazy.count() > 0
