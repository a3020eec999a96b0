"""Round-14 verdict #5: the flagship mapping path routes through the
cost-based rung selector, inheriting the broadcast-budget escape hatch.

At golden-reference scale auto must land on the fused cross-join rung
(plan-pinned); past the broadcast budget the selector routes to IVF
where the old hard-coded broadcast would have OOMed (decision-pinned —
running a 10^6-row reference in a unit test is not the point)."""

import pytest
from pyspark.sql import functions as F


def test_flagship_auto_selects_join_rung_at_reference_scale(spark, sf_dir):
    """mapping_report (default strategy='auto') at the golden scale:
    the plan carries the cross-join rung's BroadcastNestedLoopJoin and
    NOT the blocked rung's scoring UDF."""
    import __spark_entry__ as entry

    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    df = entry.queries()["mapping_report"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "blocked_topk_scores(" not in plan


def test_choose_impl_routes_flagship_scales():
    """The decision function at the flagship's regimes: golden scale ->
    join; beyond-broadcast reference -> ivf (the escape hatch the
    flagship now inherits)."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        choose_similarity_impl,
    )

    # golden CSV scale: ~600 labels x ~300 reference rows x dim 16
    assert choose_similarity_impl(600, 300, 16) == "join"
    # 10^6-row reference at dim 384: 3 GiB > 256 MiB budget -> ivf
    assert choose_similarity_impl(600, 1_000_000, 384) == "ivf"


def test_flagship_strategies_hash_identical(spark, sf_dir):
    """auto (join rung) and explicit blocked produce identical reports
    — the exact-rung equivalence the similarity oracle already proves,
    re-pinned through the full flagship plan."""
    import __spark_entry__ as entry

    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
    from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
    from asctb_ct_label_mapper_spark.operators.mapping import (
        map_labels_to_reference,
    )

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    labels = supp.select(
        F.lit("supplier").alias("source"),
        F.col("s_name").alias("raw_input_label"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_partkey") <= 50
    )
    reference = (
        part.select(
            F.col("p_partkey").cast("string").alias("CT_ID"),
            F.col("p_name").alias("CT_NAME"),
            F.col("p_type").alias("definition"),
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn(
            "ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME"))
        )
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    # scores rounded to 6dp — the repo's cross-rung convention (the
    # Catalyst dot product and numpy BLAS differ by ~1 ulp raw)
    cols = [
        F.col("source"), F.col("raw_input_label"),
        F.col("matched_asctb_id_1"), F.col("matched_asctb_id_2"),
        F.round("match_score_1", 6).alias("s1"),
    ]
    a = sorted(
        map_labels_to_reference(labels, reference, k=2, strategy="auto")
        .select(*cols).collect()
    )
    b = sorted(
        map_labels_to_reference(labels, reference, k=2, strategy="blocked")
        .select(*cols).collect()
    )
    assert a == b


def test_overwrite_exact_plain_join_matches_broadcast(spark):
    """broadcast_exact=False (the past-budget flagship path) must be
    row-identical to the broadcast form."""
    from asctb_ct_label_mapper_spark.operators.mapping import (
        overwrite_exact_matches,
    )

    report = spark.createDataFrame(
        [("s", "Basal Cell", "basal cell", 0.4, "X9", "x", "t",
          0.3, "X8", "y", "u")],
        "source string, raw_input_label string, cleaned_input_label string, "
        "match_score_1 double, matched_asctb_id_1 string, "
        "matched_asctb_label_1 string, matched_asctb_text_1 string, "
        "match_score_2 double, matched_asctb_id_2 string, "
        "matched_asctb_label_2 string, matched_asctb_text_2 string",
    )
    reference = spark.createDataFrame(
        [("C1", "basal cell", "def", "basal cell def", "basal cell", [1.0])],
        "CT_ID string, CT_NAME string, definition string, all_text string, "
        "ct_name_cleaned string, embedding array<double>",
    )
    got_b = overwrite_exact_matches(report, reference, k=2).collect()
    got_p = overwrite_exact_matches(
        report, reference, k=2, broadcast_exact=False
    ).collect()
    assert got_b == got_p
    assert got_b[0]["match_score_1"] == 1.0       # exact overwrite fired
    assert got_b[0]["matched_asctb_id_2"] is None  # rank-2 nulled
