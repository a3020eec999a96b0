"""Benchmark entry point.

    python3 perfbench/run.py --workload paper_e2e --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

One closed-loop client on ``local[4]``: each op is issued after the
previous one completes. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Spans and run details go to ``perfbench/.work/``; the run's own scratch
files go to ``perfbench/.work/run-<pid>/``, removed at exit. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
SETUP_ROUNDS = 3
NOISY_OTHER_BUSY = 0.10
PYTHON_OPS = ("EvalPython", "MapInPandas", "MapInArrow", "InPandas")
# The operator that marks each top-k rung of the mapping plan.
RUNG_SIGNATURE = {"join": "nested-loop join", "blocked": "MapInPandas", "ivf": "Generate"}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    conf_args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": confs["spark.local.dir"],
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")]),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} {conf_args} pyspark-shell"
        ),
    })
    for p in (REPO, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def tail(samples: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it. No
    percentile has ten beyond it in fewer than eleven samples; then the
    nearest-rank p90, which is the maximum below ten samples and the
    second-highest at ten, so one slow first op does not set it alone."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[math.ceil(0.9 * n) - 1], f"p90 (nearest rank) of n={n}, fewer than 11 samples"
    return s[n - 11], f"p{100 * (n - 10) / n:.0f} of n={n}"


def op_kinds(nodes) -> set[str]:
    """The operators a cheaper action could prune or a rewrite could swap:
    each Python node by name, nested-loop and equi joins, Window and
    Generate."""
    kinds = set()
    for node in nodes:
        if any(p in node for p in PYTHON_OPS):
            kinds.add(node)
        elif node.startswith(("BroadcastNestedLoopJoin", "CartesianProduct")):
            kinds.add("nested-loop join")
        elif "Join" in node:
            kinds.add("equi-join")
        elif node.startswith(("Window", "Generate")):
            kinds.add(node.removesuffix("GroupLimit"))
    return kinds


def exec_kinds(executions: list[dict]) -> set[str]:
    return op_kinds(n["nodeName"] for e in executions for n in e.get("nodes", []))


class Run:
    def __init__(self, args) -> None:
        import probes
        import workloads

        self.args = args
        self.probes = probes
        self.workloads = workloads
        self.tracer = probes.Tracer(args.trace == 1)
        cls = workloads.WORKLOADS[args.workload]
        if args.tiny:
            kw = {"n_refs": 40, "n_labels": 300} if cls is workloads.PaperE2E else {"scale": 0.1}
        else:
            kw = {}
        self.wl = cls(args.seed, args.run_dir, **kw)
        self.local_dir = os.path.join(args.run_dir, "spark-local")
        self.failed_ops = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        from pyspark import SparkContext

        from asctb_ct_label_mapper_spark.session import get_spark

        SparkContext._ensure_initialized()  # launch the JVM gateway
        launch_s = self.probes.process_age_s()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS)
        session_s = time.perf_counter() - t0
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.wl.setup_round(self.spark)
            rounds.append(time.perf_counter() - t0)
        self.status = self.probes.SparkStatus(self.spark)
        t0 = time.perf_counter()
        self.payload = self.wl.warmup(self.spark, self.tracer)
        warm_s = time.perf_counter() - t0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.setup_s = launch_s + session_s + statistics.median(rounds) + warm_s
        self.detail.update(launch_s=launch_s, session_start_s=session_s, input_rounds_s=rounds,
                           warmup_s=warm_s)

    # -- timed window -----------------------------------------------------------

    def window(self, tree, traced: bool, tag: str) -> dict:
        tracer = self.tracer if traced else self.probes.Tracer(False)
        sc = self.spark.sparkContext
        per_pass = self.wl.ops_per_pass()
        ops: list[dict] = []
        cpu0 = tree.cpu()
        t_start = time.perf_counter()
        while True:
            op_id = f"{tag}{len(ops)}"
            sc.setJobGroup(op_id, op_id)
            rec = {"id": op_id, "ok": False}
            cpu_a = tree.cpu() if traced else None
            bcast_a = self.probes.python_broadcast_files(self.local_dir) if traced else None
            with tracer.span("op", op_id) as root:
                t0 = time.perf_counter()
                try:
                    df, cleanup = self.wl.op(self.spark, tracer, op_id)
                    rec["ok"] = True
                except Exception:  # a failed op is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    df, cleanup = None, None
                rec["wall_s"] = time.perf_counter() - t0
            rec["query"] = getattr(self.wl, "last_query", None)
            if traced:
                rec["pyworker_s"] = tree.cpu()["pyworker_s"] - cpu_a["pyworker_s"]
                bcast_b = self.probes.python_broadcast_files(self.local_dir)
                rec["py_broadcast_bytes"] = sum(
                    size for path, size in bcast_b.items() if path not in bcast_a)
                rec["root"] = root["id"]
                rec["t0"], rec["t1"] = root["t0"], root["t1"]
                if df is not None:
                    rec["catalyst_ms"] = self.probes.catalyst_phases_ms(df)
                rec.update(self.status.group_counts(op_id))
            if cleanup is not None:
                cleanup()
            ops.append(rec)
            if (len(ops) % per_pass == 0 and len(ops) >= self.wl.min_passes * per_pass
                    and time.perf_counter() - t_start >= self.args.seconds):
                break
        elapsed = time.perf_counter() - t_start
        cpu1 = tree.cpu()
        sc.setLocalProperty("spark.jobGroup.id", None)
        other = (cpu1["box_s"] - cpu0["box_s"]) - (cpu1["tree_s"] - cpu0["tree_s"])
        cpu_s = elapsed * (os.cpu_count() or 1)
        self.attempted += len(ops)
        self.failed_ops += sum(not o["ok"] for o in ops)
        self.detail.update(other_busy_frac=max(0.0, other) / cpu_s,
                           steal_frac=(cpu1["steal_s"] - cpu0["steal_s"]) / cpu_s)
        return {"ops": ops, "elapsed_s": elapsed}

    # -- metrics ----------------------------------------------------------------

    def end_to_end(self, win: dict, peak_rss: int) -> dict:
        walls = [o["wall_s"] for o in win["ops"] if o["ok"]] or [float("nan")]
        tail_s, tail_desc = tail(walls)
        items = self.wl.items_per_op * sum(o["ok"] for o in win["ops"])
        self.detail.update(op_tail=tail_desc, op_walls_s=[o["wall_s"] for o in win["ops"]])
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (tail_s, "s"),
            "throughput_per_s": (items / win["elapsed_s"], "1/s"),
            "peak_rss_mb": (peak_rss / 2**20, "MiB"),
        }

    def per_layer(self, untraced: dict, traced: dict, stages: dict) -> dict:
        ops = [o for o in traced["ops"] if o["ok"]]
        tr = self.tracer
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

        def by_op(name: str) -> list[float]:
            per: dict[str, float] = {}
            for s in tr.spans:
                if s["name"] == name and s["op"] in {o["id"] for o in ops}:
                    per[s["op"]] = per.get(s["op"], 0.0) + s["t1"] - s["t0"]
            return list(per.values())

        stage_m = self.status.stage_metrics()
        jobs = self.status.job_intervals()
        udfs = self.wl.udf_names() if hasattr(self.wl, "udf_names") else {}
        jvm = {"run": [], "cpu": [], "gc": [], "shuffle": []}
        outside, prebuild, nlp_rows, encode_rows, shipped = [], [], [], [], []
        rungs = dict.fromkeys(RUNG_SIGNATURE, 0)
        map_spans = {s["op"]: s for s in tr.spans if s["name"] == "pipeline.map_raw_labels"}
        for o in ops:
            st = [stage_m[s] for s in o["stage_ids"] if s in stage_m]
            jvm["run"].append(sum(s["executorRunTime"] for s in st) / 1e3)
            jvm["cpu"].append(sum(s["executorCpuTime"] for s in st) / 1e9)
            jvm["gc"].append(sum(s["jvmGcTime"] for s in st) / 1e3)
            jvm["shuffle"].append(sum(s["shuffleWriteBytes"] for s in st) / 2**20)
            spans = [jobs[j] for j in o["job_ids"] if j in jobs]
            outside.append(o["t1"] - o["t0"] - self.probes.covered_s(spans, o["t0"], o["t1"]))
            execs = self.sql[o["id"]]
            if "nlp" in udfs:
                nlp_rows.append(sum(self.probes.python_eval_rows(e, udfs["nlp"]) for e in execs))
                encode_rows.append(
                    sum(self.probes.python_eval_rows(e, udfs["vector"]) for e in execs))
            shipped.append(o["py_broadcast_bytes"]
                           + sum(self.probes.broadcast_exchange_bytes(e) for e in execs))
            if o["id"] in map_spans:
                m = map_spans[o["id"]]
                prebuild.append(sum(m["t0"] <= a <= m["t1"] for a, _ in spans))
                if execs:
                    kinds = exec_kinds(execs[-1:])
                    for rung, sig in RUNG_SIGNATURE.items():
                        rungs[rung] += sig in kinds
        self.detail["py_broadcast_bytes"] = [o["py_broadcast_bytes"] for o in ops]
        p50_untraced = statistics.median(o["wall_s"] for o in untraced["ops"])
        p50_traced = statistics.median(o["wall_s"] for o in ops)
        out = {
            "session.start_s": (self.detail["session_start_s"], "s"),
            "pipeline.build_ref_s": (med(by_op("pipeline.build_reference_embeddings")), "s"),
            "sinks.parquet_write_s": (stages.get("parquet_write", 0.0), "s"),
            "nlp.clean_s": (stages.get("clean", 0.0), "s"),
            "nlp.rows": (med(nlp_rows), "count"),
            "vector.encode_s": (stages.get("encode", 0.0), "s"),
            "vector.encode_rows": (med(encode_rows), "count"),
            "vector.rows_per_distinct_text": (
                med(encode_rows) / stages["distinct_texts"] if stages else 0.0, "ratio"),
            "similarity.topk_s": (stages.get("topk", 0.0), "s"),
            "mapping.plan_build_s": (med(by_op("pipeline.map_raw_labels")), "s"),
            "mapping.prebuild_jobs": (med(prebuild), "count"),
            "mapping.pivot_overwrite_s": (stages.get("pivot_overwrite", 0.0), "s"),
            "queries.build_s": (med(by_op("queries.build")), "s"),
            "catalyst.analysis_ms": (med([o["catalyst_ms"]["analysis"] for o in ops]), "ms"),
            "catalyst.optimization_ms": (
                med([o["catalyst_ms"]["optimization"] for o in ops]), "ms"),
            "catalyst.planning_ms": (med([o["catalyst_ms"]["planning"] for o in ops]), "ms"),
            "spark.jobs_per_op": (med([len(o["job_ids"]) for o in ops]), "count"),
            "spark.stages_per_op": (med([len(o["stage_ids"]) for o in ops]), "count"),
            "spark.tasks_per_op": (med([o["tasks"] for o in ops]), "count"),
            "spark.failed_tasks": (sum(o["failed_tasks"] for o in ops), "count"),
            "jvm.task_run_s": (med(jvm["run"]), "s"),
            "jvm.task_cpu_s": (med(jvm["cpu"]), "s"),
            "jvm.gc_s": (med(jvm["gc"]), "s"),
            "jvm.shuffle_write_mb": (med(jvm["shuffle"]), "MiB"),
            "pyworker.cpu_s": (med([o["pyworker_s"] for o in ops]), "s"),
            "driver.outside_jobs_s": (med(outside), "s"),
            "trace.root_self_s": (med([tr.self_time(o["root"]) for o in ops]), "s"),
            "trace.overhead_s": (p50_traced - p50_untraced, "s"),
        }
        for rung, n in rungs.items():
            out[f"similarity.rung_{rung}"] = (n, "count")
        out["similarity.ref_bytes_shipped"] = (med(shipped), "bytes")
        for q in self.workloads.REGISTRY_MIX:
            walls = [o["wall_s"] for o in ops if o.get("query") == q]
            out[f"queries.{q}.wall_s"] = (med(walls), "s")
        return out

    def read_sql(self, ops: list[dict]) -> None:
        """Fetch the SQL executions of the traced ops, the warm-up and the
        stage pass, once every job of theirs has reached the REST store."""
        tracker = self.spark.sparkContext.statusTracker()
        groups = {o["id"]: set(o["job_ids"]) for o in ops}
        for g in [*self.wl.warm_groups(), "stage"]:
            groups[g] = set(tracker.getJobIdsForGroup(g))
        self.status.settle([j for gj in groups.values() for j in gj])
        self.sql = self.status.sql_by_group(groups)

    def check_plans(self, ops: list[dict]) -> None:
        """The timed noop write must keep every Python, join, Window and
        Generate operator that the warm-up's ``collect()`` of the same op
        ran, and the stage pass must run the same kinds of operators as a
        timed op."""
        for o in ops:
            timed, warm = self.sql[o["id"]], self.sql[self.wl.warm_group(o)]
            if not timed or not warm:
                self.errors.append(f"{o['id']}: no SQL execution recorded for plan check")
                continue
            lost = exec_kinds(warm[-1:]) - exec_kinds(timed[-1:])
            if lost:
                self.errors.append(f"{o['id']}: timed plan lost {sorted(lost)} operators")
        if self.sql["stage"] and ops:
            stage, timed = exec_kinds(self.sql["stage"]), exec_kinds(self.sql[ops[0]["id"]])
            if stage != timed:
                self.errors.append(f"stage pass runs {sorted(stage)}, a timed op {sorted(timed)}")
        self.detail["plan_kinds"] = {g: sorted(exec_kinds(e)) for g, e in self.sql.items()}

    # -- run ------------------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        with self.probes.ProcTree() as tree:
            try:
                self.setup()
                if args.trace:
                    untraced = self.window(tree, False, "u")
                    traced = self.window(tree, True, "t")
                    stages = {}
                    if hasattr(self.wl, "stage_pass"):
                        sc = self.spark.sparkContext
                        sc.setJobGroup("stage", "stage")
                        stages, rows = self.wl.stage_pass(self.spark, self.tracer)
                        sc.setLocalProperty("spark.jobGroup.id", None)
                        self.errors.extend(self.wl.check_stage(rows, self.payload))
                        self.detail["stages"] = stages
                    ok_ops = [o for o in traced["ops"] if o["ok"]]
                    self.read_sql(ok_ops)
                    self.check_plans(ok_ops)
                    metrics = self.per_layer(untraced, traced, stages)
                else:
                    win = self.window(tree, False, "op")
                    metrics = self.end_to_end(win, tree.peak_rss_bytes)
                checked, errors = self.wl.check(self.payload)
                self.attempted += 1
                self.errors.extend(errors)
                if errors:
                    self.failed_ops += 1
                self.detail["checked_rows"] = checked
            finally:
                self.stop(tree)
        self.detail["errors"] = self.errors[:50]
        self.detail["fail_frac"] = self.failed_ops / max(1, self.attempted)
        self.detail["noisy"] = (
            self.detail.get("other_busy_frac", 0.0) + self.detail.get("steal_frac", 0.0)
            > NOISY_OTHER_BUSY
        )
        self.detail["cpus"] = os.cpu_count()
        return metrics

    def stop(self, tree) -> None:
        """Stop Spark, the JVM gateway and every process this run started."""
        from pyspark import SparkContext

        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while tree.descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in tree.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run_workload(args) -> int:
    args.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(args.run_dir)
    run = Run(args)
    try:
        metrics = run.run()
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        run.tracer.dump(os.path.join(WORK, f"spans-{tag}.json"))
    with open(os.path.join(WORK, f"detail-{tag}.json"), "w") as f:
        json.dump(run.detail, f, default=str)
    d = run.detail
    summary = "  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {summary}")
    print(f"# fail_frac={d['fail_frac']:.6g} ratio ({run.failed_ops}/{run.attempted})"
          f"  op_tail={d.get('op_tail', '-')}  cpus={d['cpus']}"
          f"  other_busy_frac={d.get('other_busy_frac', 0.0):.3f}"
          f"  steal_frac={d.get('steal_frac', 0.0):.3f}"
          + ("  NOISY" if d["noisy"] else ""))
    print(f"# throughput_per_s counts {run.wl.item_name} per second")
    for e in run.errors[:20]:
        print(f"# check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.errors and run.failed_ops == 0,
        "attempted": run.attempted,
        "failed": run.failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def self_test() -> int:
    """Tiny-input run of every workload, traced and untraced: the last
    line must carry exactly the metric names and units BENCHMARK.json
    declares, the checks must pass, and (traced) the timed plans must keep
    their Python, join and Window operators."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
            else:
                res = json.loads(lines[-1])
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if got != want:
                    problems.append(f"metric names/units differ: {set(got.items()) ^ set(want.items())}")
                if not res["correct"] or res["failed"]:
                    problems.append(f"not correct: {proc.stderr[-2000:]}")
            failures += bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {wl['name']} trace={trace} {problems or ''}")
    return 1 if failures else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)
    if args.self_test:
        return self_test()
    if not args.workload:
        p.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
