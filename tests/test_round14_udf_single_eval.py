"""Round-14 (optimization): pin the single-evaluation contract of the
pure pandas UDFs whose outputs Catalyst filters.

Catalyst infers constraints from downstream operators (the explode's
non-empty-array condition, the union branches' bloom_maybe equality
filters) and pushes them below the UDF's projection — duplicating the
UDF into a second ArrowEvalPython node so every row pays the Python
boundary twice (optimization guide §4.4; measured: tfidf_topk_bounded
14.4 -> 7.9 s at docs100x).  Both UDFs are pure, so the
asNondeterministic marking that forbids the duplication cannot change
values — these tests pin the plan shape so a refactor does not silently
re-open the double evaluation.
"""

import re

import pytest


def _eval_nodes(plan: str) -> list[str]:
    # each physical node prints once in the tree and once as a numbered
    # detail header; count the detail headers only
    return re.findall(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython)", plan)


@pytest.mark.parametrize("qname", ["tfidf_topk_docs", "tfidf_topk_bounded"])
def test_tfidf_fused_scorer_evaluates_once(spark, sf_dir, qname):
    import __spark_entry__ as entry

    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    plan = formatted_plan(entry.queries()[qname](spark, sf_dir))
    assert len(_eval_nodes(plan)) == 1, plan


def test_bloom_prefilter_membership_evaluates_once_per_branch(spark, sf_dir):
    import __spark_entry__ as entry

    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    plan = formatted_plan(
        entry.queries()["dedup_bloom_prefilter"](spark, sf_dir)
    )
    # one membership eval per union branch (verify + negatives); the
    # pre-fix plan carried two per branch plus a stray corpus-side eval
    # (five total)
    assert len(_eval_nodes(plan)) <= 2, plan


def test_flagship_blocked_chain_evaluates_once_on_every_core(spark):
    """The blocked rung's scorer chains with the flagship's cleaner and
    encoder into ONE ArrowEvalPython node: the label seed hash-shuffles to
    ``defaultParallelism`` partitions (AQE keeps an explicit count) and
    no round-robin re-spread of 768-d vectors follows. An outer generator
    keeps ``InferFiltersFromGenerate`` from pushing a ``size(...) > 0``
    filter below the seed shuffle, which would re-run the whole chain."""
    from asctb_ct_label_mapper_spark.operators.mapping import (
        map_labels_to_reference,
    )
    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    labels = spark.createDataFrame(
        [("s", f"basal cell {i}") for i in range(40)] + [("s", "basal cell 0")],
        "source string, raw_input_label string",
    )
    reference = spark.createDataFrame(
        [
            (f"C{i}", f"cell {i}", "d", f"cell {i} d", f"cell {i}",
             [float(i), 1.0] + [0.0] * 14)
            for i in range(5)
        ],
        "CT_ID string, CT_NAME string, definition string, all_text string, "
        "ct_name_cleaned string, embedding array<float>",
    )
    df = map_labels_to_reference(labels, reference, k=2, strategy="blocked")
    plan = formatted_plan(df)
    assert len(_eval_nodes(plan)) == 1, plan
    assert "blocked_topk_scores(" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan
    n = spark.sparkContext.defaultParallelism
    assert re.search(
        rf"hashpartitioning\(raw_input_label#\d+, {n}\), REPARTITION_BY_NUM", plan
    ), plan
    assert df.count() == 40
