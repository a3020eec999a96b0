"""The flagship mapping pipeline: raw labels -> ASCT+B translation report.

Reference: ``map_raw_labels_to_asctb`` (main.py:171-221) — a per-label Python
loop calling ``get_top_k_asctb_label_matches`` (main.py:67-100), scattering
results with masked writes (main.py:206-211), then
``overwrite_exact_asctb_matches`` (main.py:126-166).

Engine: ONE lazy DataFrame plan (SURVEY §3.2):

    seed (hash-partitioned to defaultParallelism, dedup)
         -> top-k (A1), by rung:
              join:    clean (F8) -> encode (F12) -> broadcast cross join
                       + cosine (J3/F13) -> window top-k
              blocked: score(encode(clean(raw))) as ONE ArrowEvalPython
                       chain per task -> posexplode_outer; payload joined
                       back by CT_ID
         -> pivot rank->columns (A2)
         -> exact-overwrite left join (J1) + rank>1 null-out (J2)

Divergences from the reference, both deliberate (SURVEY §4 item 3):
- tie-breaking is deterministic (ORDER BY score DESC, CT_ID ASC) where the
  reference inherits argsort order (main.py:91);
- when several reference rows share a cleaned name, the exact-overwrite
  picks the minimum CT_ID, where the reference takes ``.values[0]`` —
  an arbitrary row (main.py:119; collisions are real in the golden CSV).

The DEFAULT cleaner is the full six-step pipeline (``clean_text_full_udf``)
matching the reference's ``execute_nlp_pipeline`` (nlp_preprocessing.py:
42-70) — plural labels ('basal cells') exact-match singular CT_NAMEs
('basal cell') via the rstrip('s') step, as the reference does (ADVICE r4).
Pass ``clean=clean_text_expr`` for the codegen-only fast path when the
corpus has no contractions/numerics/plural variance.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
from asctb_ct_label_mapper_spark.operators.similarity import (
    REF_BROADCAST_BUDGET_BYTES,
    choose_similarity_impl,
    reference_stats,
    similarity_topk,
    top_k_similarity_join,
)

Encoder = Callable[[Column], Column]

# The narrowed reference projection every mapping consumer reads.
_REF_PROJ_COLS = (
    "CT_ID", "CT_NAME", "definition", "all_text", "ct_name_cleaned", "embedding"
)


def _is_persisted(df: DataFrame) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


@contextmanager
def reference_projection(reference: DataFrame):
    """Persist the narrowed reference projection for one or many
    ``map_labels_to_reference`` calls, releasing it deterministically on
    exit — the handle multi-organ loops need so per-call cache entries
    don't accumulate executor memory:

        with reference_projection(reference) as ref:
            for organ_labels in organs:
                map_labels_to_reference(organ_labels, ref, ...).write...

    Results must be MATERIALIZED inside the block (the lazy plans read the
    cache)."""
    proj = reference.select(*_REF_PROJ_COLS).persist()
    try:
        yield proj
    finally:
        proj.unpersist()


def map_labels_to_reference(
    labels: DataFrame,
    reference: DataFrame,
    k: int = 2,
    encoder: Encoder = stub_encode_udf,
    clean: Callable[[Column], Column] = clean_text_full_udf,
    strategy: str = "auto",
) -> DataFrame:
    """Translate ``labels(source, raw_input_label)`` against
    ``reference(CT_ID, CT_NAME, definition, all_text, ct_name_cleaned,
    embedding)`` producing the reference's report schema
    (FIXTURES §1.5): one row per input label with ``match_score_i``,
    ``matched_asctb_id_i``, ``matched_asctb_label_i``,
    ``matched_asctb_text_i`` for i=1..k.

    ``encoder`` defaults to the deterministic stub (tests / oracle); a real
    SentenceTransformer slots in as an iterator pandas UDF loading the model
    once per worker — same plan, different F12 expression.

    ``strategy`` picks the physical top-k. "auto" (default, r13 verdict
    #5) reads reference count+dim and query count (three cheap jobs on
    already-persisted/seed frames) and routes via
    :func:`choose_similarity_impl` — at golden-reference scale that
    lands on the fused cross-join + window rung; a reference past the
    flop budget streams through the blocked matmul; past the BROADCAST
    budget it routes to IVF, where the old hard-coded broadcast would
    have OOMed. Explicit "join" / "blocked" / "ivf" pin a rung. For
    every non-fused rung the CT_NAME/all_text payload joins back by
    CT_ID afterward — broadcast while the reference fits the budget, a
    plain equi-join past it — and the exact-overwrite aggregate obeys
    the same budget flag. Exact rungs are hash-identical (proven by
    cos_topk_join / cos_topk_blocked sharing one oracle).
    """
    # Hash-partition the seed to the session's parallelism: the explicit
    # count survives AQE coalescing, so the clean -> encode -> score chain
    # runs on every core instead of in the one task a ~10^4-row seed would
    # coalesce to. Hashing on raw_input_label alone (a subset of the dedup
    # key) already clusters the dedup, and stays valid when ``source`` is
    # a literal the aggregate re-aliases.
    seed = (
        labels.select("source", "raw_input_label")
        .repartition(
            labels.sparkSession.sparkContext.defaultParallelism, "raw_input_label"
        )
        .dropDuplicates()
    )
    cleaned = seed.withColumn("cleaned_input_label", clean(F.col("raw_input_label")))
    encoded = cleaned.withColumn("embedding", encoder(F.col("cleaned_input_label")))

    # The reference feeds THREE consumers (top-k matrix/collect, payload
    # join, exact-overwrite aggregate); it is broadcast-sized by
    # construction (10^2-10^4 rows, SURVEY §1.3), so persist the narrowed
    # projection once instead of re-running its encode/clean UDF chain per
    # consumer (measured 1.55s -> 0.88s at sf0.1). A caller-persisted exact
    # projection (the ``reference_projection`` context manager) is used
    # as-is — the caller owns its lifetime, so multi-organ loops release
    # executor memory deterministically instead of accumulating one
    # LRU-evictable cache entry per call.
    if not (
        list(reference.columns) == list(_REF_PROJ_COLS)
        and _is_persisted(reference)
    ):
        reference = reference.select(*_REF_PROJ_COLS).persist()

    if strategy == "auto":
        # route on cheap statistics: ref count+dim off the persisted
        # projection, query count off the pre-encode seed (same row
        # count as `encoded`, skips running the encoder UDF chain)
        n_refs, dim = reference_stats(reference, "embedding")
        rung = choose_similarity_impl(seed.count(), n_refs, dim)
        ref_in_budget = n_refs * dim * 8 <= REF_BROADCAST_BUDGET_BYTES
    else:
        rung, ref_in_budget = strategy, True

    if rung == "join":
        topk = top_k_similarity_join(
            encoded,
            reference,
            k=k,
            query_id_cols=["source", "raw_input_label", "cleaned_input_label"],
            ref_id_col="CT_ID",
            ref_payload_cols=["CT_NAME", "all_text"],
        )
    else:
        topk = similarity_topk(
            encoded,
            reference,
            k=k,
            query_id_cols=["source", "raw_input_label", "cleaned_input_label"],
            ref_id_col="CT_ID",
            impl=rung,
        )
        payload = reference.select("CT_ID", "CT_NAME", "all_text")
        if ref_in_budget:
            payload = F.broadcast(payload)
        topk = topk.join(
            payload, topk["ref_id"] == payload["CT_ID"], "left"
        ).drop("CT_ID")

    # A2: rank -> columns. first() per (group, rank) is deterministic because
    # row_number makes (group, rank) unique.
    wide = (
        topk.groupBy("source", "raw_input_label", "cleaned_input_label")
        .pivot("rank", list(range(1, k + 1)))
        .agg(
            F.first("score").alias("match_score"),
            F.first("ref_id").alias("matched_asctb_id"),
            F.first("CT_NAME").alias("matched_asctb_label"),
            F.first("all_text").alias("matched_asctb_text"),
        )
    )
    # pivot names columns "1_match_score" etc; normalize to reference names.
    for i in range(1, k + 1):
        for src, tgt in (
            ("match_score", f"match_score_{i}"),
            ("matched_asctb_id", f"matched_asctb_id_{i}"),
            ("matched_asctb_label", f"matched_asctb_label_{i}"),
            ("matched_asctb_text", f"matched_asctb_text_{i}"),
        ):
            wide = wide.withColumnRenamed(f"{i}_{src}", tgt)

    return overwrite_exact_matches(
        wide, reference, k=k, broadcast_exact=ref_in_budget
    )


def overwrite_exact_matches(
    report: DataFrame,
    reference: DataFrame,
    k: int,
    broadcast_exact: bool = True,
) -> DataFrame:
    """J1+J2 as one broadcast left join (replaces main.py:126-166's
    4x isin-mask + per-row lookup).

    Exact rows get rank-1 columns overwritten with the reference's values
    and score 1.0; ranks >= 2 are nulled. Collisions on ``ct_name_cleaned``
    resolve to the min CT_ID row (deterministic; see module docstring).

    ``broadcast_exact``: the exact-match aggregate is reference-grain;
    past the broadcast budget the flagship passes False and the
    overwrite becomes a plain equi-join (same rows, shuffled build).
    """
    exact = (
        reference.groupBy("ct_name_cleaned")
        .agg(
            F.min_by(
                F.struct(
                    F.col("CT_ID").alias("x_id"),
                    F.col("CT_NAME").alias("x_label"),
                    F.col("definition").alias("x_text"),
                ),
                F.col("CT_ID"),
            ).alias("x")
        )
        .select("ct_name_cleaned", "x.x_id", "x.x_label", "x.x_text")
    )

    if broadcast_exact:
        exact = F.broadcast(exact)
    joined = report.join(
        exact,
        report["cleaned_input_label"] == exact["ct_name_cleaned"],
        "left",
    )
    matched = F.col("x_id").isNotNull()
    out = (
        joined.withColumn(
            "match_score_1", F.when(matched, F.lit(1.0)).otherwise(F.col("match_score_1"))
        )
        .withColumn(
            "matched_asctb_id_1", F.when(matched, F.col("x_id")).otherwise(F.col("matched_asctb_id_1"))
        )
        .withColumn(
            "matched_asctb_label_1",
            F.when(matched, F.col("x_label")).otherwise(F.col("matched_asctb_label_1")),
        )
        .withColumn(
            "matched_asctb_text_1",
            F.when(matched, F.col("x_text")).otherwise(F.col("matched_asctb_text_1")),
        )
    )
    for i in range(2, k + 1):
        for c in (
            f"match_score_{i}",
            f"matched_asctb_id_{i}",
            f"matched_asctb_label_{i}",
            f"matched_asctb_text_{i}",
        ):
            out = out.withColumn(c, F.when(matched, F.lit(None)).otherwise(F.col(c)))
    return out.drop("ct_name_cleaned", "x_id", "x_label", "x_text")
