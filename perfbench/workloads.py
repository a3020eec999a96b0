"""The benchmark workloads. Each one calls only the package's public entry
points (``pipeline.*``, ``operators.*``, the ``__spark_entry__`` registry)
and times ``df.write.format("noop").mode("overwrite").save()``, so every
output column is computed.

A workload object has four phases:

- ``setup_round``: make the inputs from the seed and load them (repeated,
  so set-up time is a median);
- ``warmup``: run every op once and collect its output for the checks;
- ``op``: one timed operation;
- ``check``: compare the collected outputs with an independent result.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import re
import shutil

import numpy as np

import inputs


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def udf_name(fn) -> str:
    """The name a Python UDF gets in Spark plans, read off the column it
    builds."""
    from pyspark.sql import functions as F

    return re.search(r"(\w+)\(", str(fn(F.col("x")))).group(1)


# ---------------------------------------------------------------------------
# paper_e2e: the paper's pipeline, sheet -> translation report, as one op
# ---------------------------------------------------------------------------


def stub_vectors(texts: list[str], dim: int) -> np.ndarray:
    """Independent numpy restatement of the stub encoder's definition:
    hex-chained sha256 bytes -> big-endian uint32 -> [-1, 1) -> L2 unit ->
    float32."""
    nbytes = dim * 4
    rows = []
    for text in texts:
        h = hashlib.sha256(text.encode("utf-8")).hexdigest()
        stream = h
        while len(stream) < nbytes * 2:
            h = hashlib.sha256(h.encode("ascii")).hexdigest()
            stream += h
        rows.append(bytes.fromhex(stream[: nbytes * 2]))
    mat = np.frombuffer(b"".join(rows), dtype=">u4").reshape(len(texts), dim)
    mat = mat.astype(np.float64) / 2**31 - 1.0
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return (mat / norms).astype(np.float32)


class PaperE2E:
    """One op = ``build_reference_embeddings`` (offline ontology fixture,
    parquet cache) + ``map_raw_labels`` (k=2) + the noop action, with the
    same 768-d stub encoder on both sides."""

    name = "paper_e2e"
    item_name = "labels"
    min_passes = 2
    K = 2
    DIM = 768
    CHECK_SAMPLE = 256

    def __init__(self, seed: int, work: str, n_refs: int = 1000, n_labels: int = 10000) -> None:
        self.seed, self.work = seed, work
        self.n_refs, self.n_labels = n_refs, n_labels
        self.items_per_op = n_labels
        self._ops = 0

    def setup_round(self, spark) -> None:
        from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf

        data = inputs.mapping_inputs(self.seed, self.n_refs, self.n_labels)
        in_dir = os.path.join(self.work, "mapping-inputs")
        shutil.rmtree(in_dir, ignore_errors=True)
        inputs.write_tables(inputs.mapping_tables(data), in_dir)
        self.sheet = spark.read.parquet(f"{in_dir}/sheet.parquet")
        self.fixture = spark.read.parquet(f"{in_dir}/fixture.parquet")
        self.labels = spark.read.parquet(f"{in_dir}/labels.parquet")
        self.label_keys = set(data["labels"])
        self.encoder = functools.partial(stub_encode_udf, dim=self.DIM)

    def _cache_path(self) -> str:
        self._ops += 1
        return os.path.join(self.work, f"refcache-{self._ops}")

    def build_and_map(self, spark, tracer, op_id: str):
        from asctb_ct_label_mapper_spark import pipeline

        cache = self._cache_path()
        with tracer.span("pipeline.build_reference_embeddings", op_id):
            ref = pipeline.build_reference_embeddings(
                spark, self.sheet, cache_path=cache,
                ontology_fixture=self.fixture, encoder=self.encoder,
            )
        with tracer.span("pipeline.map_raw_labels", op_id):
            report = pipeline.map_raw_labels(
                spark, self.labels, ref, k=self.K, encoder=self.encoder
            )
        return ref, report, cache

    def op(self, spark, tracer, op_id: str):
        _, report, cache = self.build_and_map(spark, tracer, op_id)
        with tracer.span("action", op_id):
            noop_write(report)
        return report, lambda: shutil.rmtree(cache, ignore_errors=True)

    def ops_per_pass(self) -> int:
        return 1

    def warm_groups(self) -> list[str]:
        return ["warmup"]

    def warm_group(self, op: dict) -> str:
        return "warmup"

    def warmup(self, spark, tracer) -> dict:
        sc = spark.sparkContext
        sc.setJobGroup("warmup", "warmup")
        ref, report, cache = self.build_and_map(spark, tracer, "warmup")
        rows = [r.asDict() for r in report.collect()]
        sc.setJobGroup("warmup-refs", "warmup-refs")
        refs = ref.select("CT_ID", "ct_name_cleaned", "embedding").collect()
        shutil.rmtree(cache, ignore_errors=True)
        return {"rows": rows, "refs": refs}

    def check(self, payload: dict) -> tuple[int, list[str]]:
        """(rows checked, failure messages)."""
        rows, refs = payload["rows"], payload["refs"]
        errors: list[str] = []
        keys = [(r["source"], r["raw_input_label"]) for r in rows]
        if len(keys) != len(set(keys)):
            errors.append(f"{len(keys) - len(set(keys))} duplicate (source, raw_input_label) rows")
        if set(keys) != self.label_keys:
            errors.append(
                f"report keys differ from input keys: {len(set(keys) ^ self.label_keys)} differ"
            )
        ids = np.array([r["CT_ID"] for r in refs])
        mat = np.array([r["embedding"] for r in refs], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        exact_id: dict[str, str] = {}
        for r in refs:
            cur = exact_id.get(r["ct_name_cleaned"])
            if cur is None or r["CT_ID"] < cur:
                exact_id[r["ct_name_cleaned"]] = r["CT_ID"]
        inexact = []
        for r in rows:
            want = exact_id.get(r["cleaned_input_label"])
            if want is None:
                if r["match_score_1"] is None:
                    errors.append(f"NULL match_score_1 for non-exact {r['raw_input_label']!r}")
                inexact.append(r)
            elif (r["match_score_1"], r["matched_asctb_id_1"], r["match_score_2"],
                  r["matched_asctb_id_2"]) != (1.0, want, None, None):
                errors.append(f"exact match wrong for {r['raw_input_label']!r}")
        rng = np.random.default_rng(self.seed + 2)
        take = min(self.CHECK_SAMPLE, len(inexact))
        sample = [inexact[i] for i in rng.choice(len(inexact), take, replace=False)]
        vecs = stub_vectors([r["cleaned_input_label"] for r in sample], self.DIM)
        sims = vecs.astype(np.float64) @ mat.T
        for r, s in zip(sample, sims):
            order = np.lexsort((ids, -s))[: self.K]
            for rank, idx in enumerate(order, start=1):
                got_id, got = r[f"matched_asctb_id_{rank}"], r[f"match_score_{rank}"]
                got_s = s[np.flatnonzero(ids == got_id)[0]] if got_id in ids else math.nan
                if got is None or abs(got - s[idx]) > 1e-5 or abs(got_s - s[idx]) > 1e-5:
                    errors.append(
                        f"top-{rank} of {r['raw_input_label']!r}: got ({got_id}, {got}),"
                        f" want ({ids[idx]}, {s[idx]:.6f})"
                    )
        return len(rows), errors

    def udf_names(self) -> dict[str, str]:
        """Plan names of the cleaner (``functions.nlp``) and the encoder
        (``functions.vector``) UDFs the op runs."""
        from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf

        return {"nlp": udf_name(clean_text_full_udf), "vector": udf_name(self.encoder)}

    def check_stage(self, rows: list, payload: dict) -> list[str]:
        """The stage pass restates the package's mapping plan stage by
        stage, so its report must equal the warm-up report (keys, ids,
        scores) and pass the same check; otherwise its stage times no
        longer describe the package."""
        want = {(r["source"], r["raw_input_label"]): r for r in payload["rows"]}
        got = {(r["source"], r["raw_input_label"]): r.asDict() for r in rows}
        errors = []
        if len(got) != len(rows) or set(got) != set(want):
            errors.append("stage pass: report keys differ from the warm-up report")
        differ = 0
        for key in set(got) & set(want):
            g, w = got[key], want[key]
            for i in range(1, self.K + 1):
                gs, ws = g[f"match_score_{i}"], w[f"match_score_{i}"]
                if (g[f"matched_asctb_id_{i}"] != w[f"matched_asctb_id_{i}"]
                        or (gs is None) != (ws is None)
                        or (gs is not None and abs(gs - ws) > 1e-9)):
                    differ += 1
                    break
        if differ:
            errors.append(f"stage pass: {differ} rows differ from the warm-up report")
        _, check_errors = self.check({"rows": list(got.values()), "refs": payload["refs"]})
        return errors + [f"stage pass: {e}" for e in check_errors]

    def stage_pass(self, spark, tracer) -> tuple[dict, list]:
        """Materialise each pipeline stage from the persisted output of the
        previous one, so the per-stage times a fused lazy plan hides
        become visible. Returns the stage times with the count of distinct
        encoder inputs, and the collected final report for
        ``check_stage``."""
        from pyspark.sql import functions as F

        from asctb_ct_label_mapper_spark.functions.nlp import (
            clean_text_full_udf,
            embedding_text_expr,
        )
        from asctb_ct_label_mapper_spark.operators.enrich import enrich_with_definitions
        from asctb_ct_label_mapper_spark.operators.mapping import overwrite_exact_matches
        from asctb_ct_label_mapper_spark.operators.similarity import (
            REF_BROADCAST_BUDGET_BYTES,
            choose_similarity_impl,
            similarity_topk,
            top_k_similarity_join,
        )
        from asctb_ct_label_mapper_spark.operators.unpivot import ct_triplet_unpivot
        from asctb_ct_label_mapper_spark.sources.sinks import write_parquet

        held = []
        out: dict[str, float] = {}

        def stage(name: str, *dfs):
            dfs = [d.persist() for d in dfs]
            held.extend(dfs)
            with tracer.span(f"stage.{name}", "stage") as rec:
                for d in dfs:
                    noop_write(d)
            out[name] = rec["t1"] - rec["t0"]
            return dfs

        try:
            (ct,) = stage("unpivot", ct_triplet_unpivot(self.sheet))
            (enriched,) = stage("enrich", enrich_with_definitions(ct, fixture=self.fixture))
            ref_clean, lab_clean = stage(
                "clean",
                enriched.withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
                .withColumn("_embed_text", embedding_text_expr(F.col("all_text"), 150)),
                self.labels.select("source", "raw_input_label").dropDuplicates()
                .withColumn("cleaned_input_label", clean_text_full_udf(F.col("raw_input_label"))),
            )
            n_ref, n_lab = ref_clean.count(), lab_clean.count()
            distinct_texts = (
                ref_clean.select("_embed_text").distinct().count()
                + lab_clean.select("cleaned_input_label").distinct().count()
            )
            ref_enc, lab_enc = stage(
                "encode",
                ref_clean.withColumn("embedding", self.encoder(F.col("_embed_text")))
                .drop("_embed_text"),
                lab_clean.withColumn("embedding", self.encoder(F.col("cleaned_input_label"))),
            )
            path = os.path.join(self.work, "stage-refcache")
            with tracer.span("stage.parquet_write", "stage") as rec:
                write_parquet(ref_enc, path)
            out["parquet_write"] = rec["t1"] - rec["t0"]
            ref = spark.read.parquet(path).select(
                "CT_ID", "CT_NAME", "definition", "all_text", "ct_name_cleaned", "embedding"
            )
            rung = choose_similarity_impl(n_lab, n_ref, self.DIM)
            qcols = ["source", "raw_input_label", "cleaned_input_label"]
            if rung == "join":
                topk_df = top_k_similarity_join(
                    lab_enc, ref, k=self.K, query_id_cols=qcols, ref_id_col="CT_ID",
                    ref_payload_cols=["CT_NAME", "all_text"],
                )
            else:
                payload = ref.select("CT_ID", "CT_NAME", "all_text")
                if n_ref * self.DIM * 8 <= REF_BROADCAST_BUDGET_BYTES:
                    payload = F.broadcast(payload)
                topk_df = similarity_topk(
                    lab_enc, ref, k=self.K, query_id_cols=qcols, ref_id_col="CT_ID", impl=rung,
                )
                topk_df = topk_df.join(
                    payload, topk_df["ref_id"] == payload["CT_ID"], "left"
                ).drop("CT_ID")
            (topk,) = stage("topk", topk_df)
            wide = (
                topk.groupBy(*qcols)
                .pivot("rank", list(range(1, self.K + 1)))
                .agg(
                    F.first("score").alias("match_score"),
                    F.first("ref_id").alias("matched_asctb_id"),
                    F.first("CT_NAME").alias("matched_asctb_label"),
                    F.first("all_text").alias("matched_asctb_text"),
                )
            )
            for i in range(1, self.K + 1):
                for src in ("match_score", "matched_asctb_id", "matched_asctb_label",
                            "matched_asctb_text"):
                    wide = wide.withColumnRenamed(f"{i}_{src}", f"{src}_{i}")
            report = overwrite_exact_matches(wide, ref, k=self.K)
            with tracer.span("stage.pivot_overwrite", "stage") as rec:
                noop_write(report)
            out["pivot_overwrite"] = rec["t1"] - rec["t0"]
            out.update(distinct_texts=distinct_texts, rung=rung)
            rows = report.collect()
            shutil.rmtree(path, ignore_errors=True)
        finally:
            for d in held:
                d.unpersist()
        return out, rows


# ---------------------------------------------------------------------------
# registry_mix: registry queries, one op = one query
# ---------------------------------------------------------------------------

REGISTRY_MIX = (
    "q1_pricing_summary",
    "e_sessionize",
    "q21_waiting_suppliers",
    "cos_topk_hnsw",
    "dedup_embedding_groups",
)


class RegistryMix:
    """Registry queries over seeded TPC-H-ish tables, in a seed-permuted
    fixed order, ``spark.catalog.clearCache()`` before each (as the repo's
    bench does). Timed passes are whole passes, so every query weighs the
    same in every run.

    The tables are the same in every run (``TABLE_SEED``, as the
    repository's testdata is generated once with seed 42); ``--seed``
    permutes the query order. Seeded tables moved the work itself:
    ``dedup_embedding_groups`` runs one job per label-propagation round
    until the near-duplicate graph converges, and with seeded tables its
    time ranged 3.2-5.5 s across seeds.

    The mix has as many slow queries (``q21``, ``cos_topk_hnsw``,
    ``dedup_embedding_groups``, 2-4 s) as fast ones, so the median op
    falls among the similar-cost slow queries instead of on the gap
    between one fast and one slow query, where it moved by 20% from run
    to run."""

    name = "registry_mix"
    item_name = "queries"
    min_passes = 2
    TABLE_SEED = 42
    items_per_op = 1

    def __init__(self, seed: int, work: str, scale: float = 1.0) -> None:
        self.seed, self.work, self.scale = seed, work, scale
        rng = np.random.default_rng(seed)
        self.order = [REGISTRY_MIX[i] for i in rng.permutation(len(REGISTRY_MIX))]
        self.sf_dir = os.path.join(work, "tables")
        self._next = 0

    def setup_round(self, spark) -> None:
        import __spark_entry__ as entry

        shutil.rmtree(self.sf_dir, ignore_errors=True)
        inputs.write_tables(inputs.relational_tables(self.TABLE_SEED, self.scale), self.sf_dir)
        self.registry = entry.queries()

    def ops_per_pass(self) -> int:
        return len(self.order)

    def run_query(self, spark, tracer, op_id: str, name: str):
        spark.catalog.clearCache()
        with tracer.span("queries.build", op_id, query=name):
            return self.registry[name](spark, self.sf_dir)

    def op(self, spark, tracer, op_id: str):
        name = self.last_query = self.order[self._next % len(self.order)]
        self._next += 1
        df = self.run_query(spark, tracer, op_id, name)
        with tracer.span("action", op_id, query=name):
            noop_write(df)
        return df, None

    def warm_groups(self) -> list[str]:
        return [f"warmup-{name}" for name in self.order]

    def warm_group(self, op: dict) -> str:
        return f"warmup-{op['query']}"

    def warmup(self, spark, tracer) -> dict:
        results = {}
        for name in self.order:
            spark.sparkContext.setJobGroup(f"warmup-{name}", name)
            df = self.run_query(spark, tracer, "warmup", name)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        return {"results": results}

    def check(self, payload: dict) -> tuple[int, list[str]]:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import table_signature

        oracles = entry.oracle_sql()
        errors: list[str] = []
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
            for table in sorted(os.listdir(self.sf_dir)):
                view = table.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {view} AS SELECT * FROM '{self.sf_dir}/{table}'"
                )
            for name, (cols, rows) in payload["results"].items():
                if name not in oracles:
                    errors.append(f"{name}: no oracle")
                    continue
                rel = con.sql(oracles[name])
                want = table_signature(rel.columns, rel.fetchall())
                if table_signature(cols, rows) != want:
                    errors.append(f"{name}: differs from its DuckDB oracle")
        finally:
            con.close()
        return len(payload["results"]), errors


WORKLOADS = {w.name: w for w in (PaperE2E, RegistryMix)}

