"""localCheckpoint lifecycle (r12 verdict item 4): iterative operators
must not accumulate one block set per round per invocation for the
session lifetime. The contract under test is checkpoints.py's —
superseded round snapshots are released inside the loop; only the
final snapshot (owned by the returned DataFrame) may outlive a call.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL


def _n_persistent(spark) -> int:
    return spark._jsc.sc().getPersistentRDDs().size()


def test_release_frees_blocks_and_keeps_dependents(spark):
    from etl_verkada_spark.checkpoints import checkpoint_replacing, release

    base = _n_persistent(spark)
    c1 = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint(
        eager=True
    )
    c2 = checkpoint_replacing(c1.selectExpr("id", "y + 1 AS y"), replacing=c1)
    # c1's blocks are gone, c2's remain and still serve reads
    assert _n_persistent(spark) == base + 1
    assert c2.count() == 1000
    assert release(c2) is True
    assert _n_persistent(spark) == base
    # non-checkpoint plans are a safe no-op
    assert release(spark.range(5)) is False
    assert release(None) is False


def test_iteratives_release_superseded(spark):
    """Five back-to-back invocations of the checkpoint-heaviest
    iteratives leave at most ONE snapshot each (the returned result's
    own), not O(rounds) per call — the r12 steady-state leak."""
    from etl_verkada_spark.checkpoints import release
    from etl_verkada_spark.operators.graph import (
        PR_ITERS,
        graph_kcore,
        graph_pagerank,
    )

    base = _n_persistent(spark)
    results = []
    kept = []
    for i in range(5):
        df = graph_pagerank(spark, SF_SMALL)
        results.append(sorted(map(tuple, df.collect())))
        kept.append(df)
        # growth is bounded by one final snapshot per in-flight result,
        # never by rounds x invocations
        assert _n_persistent(spark) - base <= i + 1, (
            f"invocation {i}: {_n_persistent(spark) - base} persistent "
            f"RDDs (unbounded would be ~{(i + 1) * (PR_ITERS + 1)})"
        )
    assert results[0] == results[4]  # release never changed the answer
    for df in kept:
        release(df)
    assert _n_persistent(spark) <= base + 1

    # kcore releases both the per-round survivor set and the superseded
    # edge snapshot (2 checkpoints per peel round unbounded)
    before = _n_persistent(spark)
    df = graph_kcore(spark, SF_SMALL)
    assert df.count() > 0
    assert _n_persistent(spark) - before <= 1
    release(df)


@pytest.mark.parametrize(
    "name", ["llm_bpe_train", "llm_bpe_encode", "llm_tokenizer_fertility"]
)
def test_bpe_queries_leave_only_their_result(spark, name):
    """The BPE trainer returns its final vocabulary state AND its per-step
    merge tables, all checkpointed; each query keeps one half and must
    release the other, so releasing the result leaves no RDD the call
    persisted. Compared by RDD id, not by count: the ContextCleaner may
    free an earlier test's RDDs meanwhile."""
    from etl_verkada_spark.checkpoints import release
    from etl_verkada_spark.llm import bpe

    def persistent_ids() -> set:
        return set(spark._jsc.getPersistentRDDs().keys())

    before = persistent_ids()
    df = getattr(bpe, name)(spark, SF_SMALL)
    assert df.collect()
    release(df)
    assert persistent_ids() - before == set()
