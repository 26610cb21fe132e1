"""Catalog-wide physical-plan hygiene gate.

Every registered catalog query — all of them, not just the individually
plan-pinned ones — must be free of the two silent scale-killers:

- ``CartesianProduct`` — an unconditional cross join of two real
  relations (the 1-row scalar-broadcast BroadcastNestedLoopJoin shape is
  allowed, but only for the queries that document it);
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan. Python is
  allowed only at Arrow-batched boundaries (``MapInPandas`` /
  ``FlatMapGroupsInPandas`` / ``ArrowEvalPython``), and each such site
  must be enumerated in ``ARROW_EVAL_ALLOWED`` below with its rationale
  and an equivalence pin against the retained expression form — an
  un-allow-listed Arrow boundary fails the gate so the parity-pin
  discipline can't erode silently (r8 verdict item #6).

A new catalog entry that accidentally plans a cartesian or drops into a
row-at-a-time UDF fails HERE even if nobody wrote it a dedicated plan
test.
"""

from __future__ import annotations

import pytest

from .explain import plan_report
from data_warehouse_spark.queries_catalog import QUERIES

from .conftest import SF_DIR

# queries whose plan legitimately contains a BroadcastNestedLoopJoin —
# every one a broadcast of a 1-row scalar or a ≤|queries|-row literal set,
# never a data×data cross product
BNLJ_ALLOWED = {
    "tpch_subquery_suite",  # Q11/Q22 1-row total/average broadcast
    "ann_recall",  # brute-force baseline: ≤5 query vectors broadcast
    "ann_topk_methods",  # same brute-force arm
    "doc_dedup_baselines",  # documented O(n²) jaccard recall baseline
    "text_index_suite",  # BM25 1-row corpus-stats broadcast
    # auto-geometry arm: cell assignment broadcasts the ≤√N-row centroid
    # table against the corpus (similarity._assign_cells join path — the
    # plan-size-bounded alternative to n_cells literal expressions)
    "emb_semantic_dedup",
}


# queries whose plan legitimately crosses into Python at an Arrow-batched
# boundary. Every entry is a vectorized numpy pass whose expression form is
# RETAINED as the spec and pinned bit-parity-equivalent by a test
# (test_llm_ops.py: *_vectorized_equals_expr / the oracle hash checks) —
# a new Arrow site must be added here WITH its parity pin, or the gate
# fails it.
ARROW_EVAL_ALLOWED = {
    "media_suite",  # multimodal codecs: Arrow mapInPandas IS the operator
    "ann_recall",  # brute-force scan + IVF/PQ assignment numpy passes
    "ann_topk_methods",  # same vectorized ANN arms
    "emb_semantic_dedup",  # per-cell applyInPandas pair scoring
    "emb_neardup_pairs",  # per-bucket applyInPandas pair scoring
}

_ARROW_OPS = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_plan_hygiene(spark, name):
    rep = plan_report(QUERIES[name].fn(spark, SF_DIR))
    assert "CartesianProduct" not in rep.text, f"{name}: cartesian product\n{rep.text}"
    assert "BatchEvalPython" not in rep.text, f"{name}: row-at-a-time Python UDF\n{rep.text}"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in rep.text, (
            f"{name}: undocumented nested-loop join\n{rep.text}"
        )
    if name not in ARROW_EVAL_ALLOWED:
        for op in _ARROW_OPS:
            assert op not in rep.text, (
                f"{name}: un-allow-listed Arrow-batched Python boundary "
                f"({op}). Vectorized passes must retain the expression "
                f"form as the spec, pin bit-parity against it, and be "
                f"enumerated in ARROW_EVAL_ALLOWED.\n{rep.text}"
            )
