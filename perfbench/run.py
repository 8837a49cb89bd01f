"""Linkage benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch_link --seed 1 --seconds 40 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics from a traced run. Lines before it repeat every metric with its
unit. Scratch files live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # fits beside the Python workers in a few GB of RAM


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=float,
        required=True,
        help="accepted for the benchmark interface; a run's work is fixed (see README)",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores",
        type=int,
        default=0,
        help="local[N] cores (default: the cores this process may run on)",
    )
    ap.add_argument(
        "--scaling",
        action="store_true",
        help="print speedup_4v1: the batch link at local[N] vs local[1]",
    )
    ap.add_argument(
        "--link-only",
        action="store_true",
        help="stop after the first LinkagePipeline.run (single-thread baseline)",
    )
    return ap.parse_args(argv)


def settings(cores: int, work: str, trace: bool) -> dict:
    """Pin the session through the engine's own knobs; recorded with results."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every Python worker it
    started have exited."""
    from pyspark import SparkContext

    from perfbench.workloads import process_tree

    started = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(_running(p) for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after stop: {started}")
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_to_end(facts: dict, setup_cpu_s: float, peak_mb: float) -> dict:
    """Times are CPU seconds of the driver's process tree (see README)."""
    from perfbench.workloads import _median

    return {
        "setup_s": setup_cpu_s,
        "turns_per_cpu_s": facts["turns"] / facts["link_cpu_s"],
        "op_cpu_p50_s": _median(facts["op_cpu"] or [facts["link_cpu_s"]]),
        "pairwise_f1": facts["pairwise_f1"],
        "bcubed_f1": facts["bcubed_f1"],
        "wh_bytes_per_input_byte": facts["wh_bytes"] / facts["input_bytes"],
        "peak_rss_mb": peak_mb,
    }


def layer_metrics(run, facts: dict, log_dir: str, wall_s: float) -> dict:
    """Per-layer metrics of a traced run (BENCHMARK.json ``per_layer``)."""
    from perfbench import tracing
    from perfbench.workloads import dir_bytes

    tracer = run.tracer
    self_s = tracer.self_times()
    ev = tracing.event_log_metrics(log_dir, tracer.spans)
    out: dict[str, float] = {}
    for layer in tracing.LAYERS:
        s = self_s.get(layer, 0.0)
        e = ev.get(layer, {})
        out[f"{layer}.self_s"] = s
        out[f"{layer}.jobs"] = e.get("jobs", 0)
        out[f"{layer}.tasks"] = e.get("tasks", 0)
        out[f"{layer}.busy_share"] = (
            e.get("run_ms", 0) / 1000.0 / (s * run.cores) if s > 0 else 0.0
        )
        out[f"{layer}.shuffle_bytes"] = e.get("shuffle_bytes", 0)
        out[f"{layer}.spill_bytes"] = e.get("spill_bytes", 0)
        out[f"{layer}.failed_tasks"] = e.get("failed_tasks", 0)
    for layer in tracing.SKEW_LAYERS:
        out[f"{layer}.task_skew"] = tracing.task_skew(ev.get(layer, {}).get("stage_tasks", {}))
    out["bench.self_s"] = self_s.get("bench", 0.0)
    out["trace.wall_s"] = wall_s
    out["trace.gc_s"] = sum(e["gc_ms"] for e in ev.values()) / 1000.0

    report = facts["report"] or {}
    wh = facts["wh_root"][0]
    lin = lambda name: _lineage_rows(wh, name)  # noqa: E731
    n_prof = lin("profiles") + facts.get("increment_convs", 0)
    n_cands = lin("candidates")
    n_scored = lin("scored_pairs")
    recall = (report.get("blocking") or {}).get("blocking_recall", 0.0)
    ann = run.workload.strategy == "ANN"
    out.update(
        {
            "rollup.turns_in": lin("transcripts") + facts.get("increment_turns", 0),
            "rollup.profiles_out": n_prof,
            "ground_truth.labeled_pairs": lin("gt_pairs"),
            "blocking.candidate_pairs": 0 if ann else n_cands,
            "blocking.recall": 0.0 if ann else recall,
            "blocking.pairs_per_profile": 0.0 if ann else n_cands / max(lin("profiles"), 1),
            "blocking.max_salt": facts.get("max_salt", 0),
            "ann_blocking.candidate_pairs": n_cands if ann else 0,
            "ann_blocking.recall": recall if ann else 0.0,
            "features.pairs": n_scored,
            "features.pairs_per_s": n_scored / self_s["features"]
            if self_s.get("features")
            else 0.0,
            "classifier.train_s": _span_time(tracer, "train_logistic_regression"),
            "classifier.score_s": _span_time(tracer, "tune_threshold"),
            "classifier.match_share": lin("match_edges") / n_scored if n_scored else 0.0,
            "clustering.edges_in": facts.get("edges", lin("match_edges")),
            "clustering.entities_out": facts.get(
                "entities_out", report.get("n_clusters", 0)
            ),
            "incremental_link.candidate_pairs": facts.get("increment_candidates", 0),
        }
    )
    size = files = 0
    for root in facts["wh_root"]:
        b, n = dir_bytes(root)
        size, files = size + b, files + n
    out["checkpoints.bytes_written"] = size
    out["checkpoints.files_written"] = files
    return out


def _lineage_rows(wh: str, name: str) -> int:
    try:
        with open(os.path.join(wh, name, "_LINEAGE.json")) as f:
            return int(json.load(f).get("row_count", 0))
    except (OSError, ValueError):
        return 0


def _span_time(tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)


def _link_s(args, cores: int) -> float:
    """Seconds of the workload's LinkagePipeline.run at local[cores], in its
    own process."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload",
        args.workload,
        "--seed",
        str(args.seed),
        "--seconds",
        "0",
        "--cores",
        str(cores),
        "--link-only",
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    info = [ln for ln in out.stdout.splitlines() if ln.startswith("settings ")]
    if out.returncode != 0 or not info:
        raise RuntimeError(f"{cmd} failed: {out.stderr[-2000:]}")
    return json.loads(info[-1].split(" ", 1)[1])["link_s"]


def scaling(args) -> int:
    """Single-thread baseline: the workload's batch link at local[N] and at
    local[1], each in a fresh process; prints speedup_4v1 = t1 / tN."""
    n = args.cores or len(os.sched_getaffinity(0))
    t_n = _link_s(args, n)
    t_1 = _link_s(args, 1)
    print(json.dumps({"cores": n, "link_s": t_n, "link_s_1core": t_1, "speedup_4v1": t_1 / t_n}))
    return 0


def execute(args, work: str, state: str):
    """Run one workload; returns (metrics, run, settings line)."""
    from perfbench import tracing, workloads

    w = workloads.WORKLOADS[args.workload]
    cores = args.cores or len(os.sched_getaffinity(0))
    conf = settings(cores, work, bool(args.trace))
    run = workloads.Run(
        workload=w,
        seed=args.seed,
        cores=cores,
        work=work,
        state=state,
        link_only=args.link_only,
    )
    from record_linkage_spark.session import get_spark

    m = workloads.Meter()
    run.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    run.timings["session"] = list(m.stop())
    try:
        if args.trace:
            run.tracer = tracing.Tracer(run.spark.sparkContext, f"{w.name}-{args.seed}")
            run.tracer.open("benchmark", "bench")
            run.untrace = tracing.install(run.tracer)
        try:
            facts = (
                workloads.run_incremental if w.incremental else workloads.run_batch
            )(run)
        finally:
            run.end_trace()
        peak_mb = workloads.tree_peak_rss_mb(os.getpid())
    finally:
        stop_spark(run.spark)
    # set-up is counted in CPU seconds, like the timed operations
    setup_cpu_s = sum(
        run.timings[k][1] for k in ("session", "input_write", "warmup", "base_link")
        if k in run.timings
    )
    metrics = end_to_end(facts, setup_cpu_s, peak_mb)
    if not args.trace and all(op[2] for op in run.ops):
        LinkTimes(state).add(w.name, args.seed, cores, facts["link_s"])
    info = {
        "workload": w.name,
        "seed": args.seed,
        "cores": cores,
        "driver_memory": DRIVER_MEM,
        "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "session_conf": conf,
        "input_turns": facts["turns"],
        "input_convs": facts["convs"],
        "input_bytes": facts["input_bytes"],
        "link_s": facts["link_s"],
        "ops": run.ops,
        "checksum": facts.get("checksum"),
        "checksum_checked": facts.get("checksum_checked", False),
        "errors": facts.get("errors", []),
        "report": {
            k: (facts["report"] or {}).get(k) for k in ("blocking", "global", "bcubed")
        },
        "setup_parts_wall_cpu_s": run.timings,
    }
    if args.trace:
        spans = run.tracer.spans
        wall_s = spans[0]["end"] - spans[0]["start"]
        metrics = layer_metrics(run, facts, os.path.join(work, "eventlog"), wall_s)
        base = LinkTimes(state).median(w.name, args.seed, cores)
        metrics["trace.overhead_s"] = facts["link_s"] - base if base else 0.0
        info["untraced_runs_for_overhead"] = LinkTimes(state).count(
            w.name, args.seed, cores
        )
        os.makedirs(os.path.join(state, "spans"), exist_ok=True)
        run.tracer.dump(os.path.join(state, "spans", f"{w.name}-seed{args.seed}.json"))
    return metrics, run, info


class LinkTimes:
    """link_s of the untraced runs made in this checkout, so that a traced
    run can report its overhead against untraced runs of the same seed."""

    def __init__(self, state: str):
        self.path = os.path.join(state, "untraced_link_s.jsonl")

    def add(self, workload: str, seed: int, cores: int, link_s: float) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps([workload, seed, cores, link_s]) + "\n")

    def _values(self, workload: str, seed: int, cores: int) -> list[float]:
        try:
            with open(self.path) as f:
                rows = [json.loads(line) for line in f if line.strip()]
        except OSError:
            return []
        return [r[3] for r in rows if r[:3] == [workload, seed, cores]]

    def median(self, workload: str, seed: int, cores: int) -> float:
        vals = self._values(workload, seed, cores)
        return statistics.median(vals) if vals else 0.0

    def count(self, workload: str, seed: int, cores: int) -> int:
        return len(self._values(workload, seed, cores))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "record_linkage_spark")):
        print("perfbench: record_linkage_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.scaling:
        return scaling(args)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        metrics, run, info = execute(args, work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if not op[2])
    units = declared_units(bool(args.trace))
    if set(units) != set(metrics):
        raise SystemExit(
            f"perfbench: metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}"
        )
    print("settings " + json.dumps(info))
    for name, value in metrics.items():
        print(f"{name:34s} {value:.6g} {units.get(name, '')}")
    print(f"{'error_rate':34s} {failed / max(attempted, 1):.6g} ratio")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
