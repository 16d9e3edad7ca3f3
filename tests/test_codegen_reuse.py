"""Generated-code reuse: a warm ingest op with a split it has not seen
compiles almost nothing, because the session keeps the generated
classes of earlier ops (``session.get_spark``) and the batch split is
a persisted column, not a literal inlined into the cascade's stages
(``ingest._split_batches``)."""

from __future__ import annotations

from flink_project_userbehavioranalysis_spark import session
from flink_project_userbehavioranalysis_spark.operators import ingest as I
from tests.conftest import SF_DIR_MID

# A warm op recompiles only what a data-dependent plan change (another
# join strategy) makes new: 2-8 classes at sf0.01 and sf0.1, against
# ~360 when the cache evicts between ops.
WARM_COMPILES_MAX = 20


def test_session_keeps_generated_code(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_ingest_op_with_a_new_split_reuses_generated_code(spark, monkeypatch):
    """The first op may find some classes cached by earlier tests, so
    the bound is the larger of a fixed floor and a tenth of its count."""
    monkeypatch.setattr(I, "_MANIFEST_CACHE", {})

    def compiles(split2: int) -> int:
        n0, _ = session.codegen_compiles(spark)
        assert I.ingest_two_batch_indexed(spark, SF_DIR_MID, split2=split2).count() > 0
        return session.codegen_compiles(spark)[0] - n0

    first = compiles(300)
    warm = compiles(320)
    assert warm <= max(WARM_COMPILES_MAX, first // 10), (first, warm)
