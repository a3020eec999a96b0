"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test is the tiny-input smoke run of every workload (a few
minutes): it checks every metric name and unit against BENCHMARK.json,
the output checks, and that each timed plan keeps its Python, join and
Window operators.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_inputs_are_seeded():
    a = inputs.mapping_inputs(5, 200, 1000)
    b = inputs.mapping_inputs(5, 200, 1000)
    c = inputs.mapping_inputs(6, 200, 1000)
    assert a == b and a != c
    assert len({name for _, name, _ in a["sheet"]}) == 200
    t1, t2 = inputs.relational_tables(5, 0.05), inputs.relational_tables(5, 0.05)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_stub_vectors_match_the_package_encoder():
    from asctb_ct_label_mapper_spark.functions.vector import _stub_encode_batch

    texts = ["basal cell", "customer000000123", ""]
    want = np.array(_stub_encode_batch(texts, 768))
    assert np.array_equal(workloads.stub_vectors(texts, 768), want)


def test_tail_rule():
    assert run.tail([3.0, 1.0, 2.0])[0] == 3.0
    assert run.tail([float(i) for i in range(10)])[0] == 8.0
    value, desc = run.tail([float(i) for i in range(20)])
    assert value == 9.0 and desc == "p50 of n=20"


def test_covered_s_merges_overlaps():
    assert probes.covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert probes.covered_s([(0, 2), (1, 3)], 1.5, 2.5) == 1


def test_self_test_all_workloads():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--self-test"],
        capture_output=True, text=True, timeout=1500,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]


def test_metric_value_parses_ui_strings():
    assert probes.metric_value("9,960") == 9960
    assert probes.metric_value("16.0 MiB") == 16 * 2**20
    assert probes.metric_value(
        "total (min, med, max (stageId: taskId))\n752.0 KiB (184.3 KiB, 190.2 KiB, 190.6 KiB)"
    ) == 752 * 2**10


def test_python_eval_rows_matches_nodes_to_their_udfs():
    desc = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (5)\n"
        "+- == Final Plan ==\n"
        "   ArrowEvalPython (3)\n"
        "   +- ArrowEvalPython (2)\n"
        "      +- Scan parquet  (1)\n"
        "+- == Initial Plan ==\n"
        "   ArrowEvalPython (4)\n\n\n"
        "(1) Scan parquet \nOutput [1]: [t#1]\n\n"
        "(2) ArrowEvalPython\nArguments: [clean_udf(t#1)#2], [pythonUDF0#3], 200\n\n"
        "(3) ArrowEvalPython\nArguments: [_encode(pythonUDF0#3)#4], [pythonUDF1#5], 200\n\n"
        "(4) ArrowEvalPython\nArguments: [clean_udf(t#1)#2, _encode(t#1)#4]\n"
    )
    rows = lambda n: [{"name": "number of output rows", "value": n}]  # noqa: E731
    execution = {
        "planDescription": desc,
        "nodes": [
            {"nodeId": 0, "nodeName": "AdaptiveSparkPlan", "metrics": []},
            {"nodeId": 1, "nodeName": "ArrowEvalPython", "metrics": rows("7")},
            {"nodeId": 2, "nodeName": "ArrowEvalPython", "metrics": rows("1,000")},
        ],
    }
    assert probes.python_eval_rows(execution, "_encode") == 7
    assert probes.python_eval_rows(execution, "clean_udf") == 1000
    assert probes.python_eval_rows(execution, "other") == 0


def test_stage_check_catches_a_report_that_differs():
    from pyspark.sql import Row

    wl = workloads.PaperE2E(1, "unused", n_refs=3, n_labels=3)
    names = ["alpha cell", "beta cell", "gamma cell"]
    vecs = workloads.stub_vectors(names, wl.DIM)
    refs = [Row(CT_ID=f"CL:{i}", ct_name_cleaned=n, embedding=v.tolist())
            for i, (n, v) in enumerate(zip(names, vecs))]
    wl.label_keys = {("src", "beta cell"), ("src", "delta cell")}
    sims = workloads.stub_vectors(["delta cell"], wl.DIM).astype(np.float64) @ vecs.T.astype(
        np.float64)
    top = np.argsort(-sims[0])[:2]
    report = [
        {"source": "src", "raw_input_label": "beta cell", "cleaned_input_label": "beta cell",
         "match_score_1": 1.0, "matched_asctb_id_1": "CL:1",
         "match_score_2": None, "matched_asctb_id_2": None},
        {"source": "src", "raw_input_label": "delta cell", "cleaned_input_label": "delta cell",
         "match_score_1": float(sims[0, top[0]]), "matched_asctb_id_1": f"CL:{top[0]}",
         "match_score_2": float(sims[0, top[1]]), "matched_asctb_id_2": f"CL:{top[1]}"},
    ]
    payload = {"rows": report, "refs": refs}
    assert wl.check_stage([Row(**r) for r in report], payload) == []
    wrong = [report[0], dict(report[1], matched_asctb_id_2=f"CL:{top[0]}")]
    errors = wl.check_stage([Row(**r) for r in wrong], payload)
    assert "stage pass: 1 rows differ from the warm-up report" in errors, errors
    assert any(e.startswith("stage pass: top-2") for e in errors), errors
    errors = wl.check_stage([Row(**report[0])], payload)
    assert "stage pass: report keys differ from the warm-up report" in errors, errors
