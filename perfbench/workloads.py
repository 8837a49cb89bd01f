"""The benchmark's workloads, output checks and metrics.

batch_link
    One ``LinkagePipeline.run`` (strategy B1, clusterer cc) over long
    conversations whose opening turns are Zipf-skewed across entities.
incremental_link
    Set-up links a base corpus of short, typo-corrupted, highly duplicated
    conversations with ``LinkagePipeline.run`` (ANN blocking), whose trained
    model then scores the increments. The timed part is a closed loop with
    one client that commits ``timed_increments`` small increments, each sent
    only after the previous one is committed.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen, tracing

# 60% of entities open with one of 40 shared turns drawn Zipf(1.6), and
# 12-16 turns keep most conversations in one or two length buckets, so the
# hottest B1 block holds about a fifth of all profiles: more than the 1/8
# share at which candidate_pairs fans a key out over two or more salts.
LONG = gen.Profile(
    entities=500,
    turns=(12, 16),
    copies_p=(0.6, 0.3, 0.1),
    word_sub=0.06,
    typo=0.03,
    corrupt_opening=False,
    drop_turn=0.35,
    shared_open_p=0.6,
    shared_openings=40,
    open_zipf=1.6,
)
SHORT = gen.Profile(
    entities=200,
    turns=(2, 3),
    copies_p=(0.15, 0.35, 0.3, 0.2),
    word_sub=0.03,
    typo=0.04,
    corrupt_opening=True,
    drop_turn=0.0,
    shared_open_p=0.1,
    shared_openings=30,
    open_zipf=1.1,
)


@dataclass(frozen=True)
class Workload:
    name: str
    profile: gen.Profile
    strategy: str  # blocking of the (base) batch link
    f1_floor: float  # global F1 of the batch link over the labeled test pairs
    incremental: bool = False
    edge_f1_floor: float = 0.0  # pairwise F1 of the final edge set
    new_entities: int = 0
    increments: int = 0  # increments generated
    timed_increments: int = 0  # increments committed and timed per run
    late_dup_p: float = 0.0


WORKLOADS = {
    "batch_link": Workload("batch_link", LONG, "B1", f1_floor=0.9),
    "incremental_link": Workload(
        "incremental_link",
        SHORT,
        "ANN",
        f1_floor=0.78,
        incremental=True,
        edge_f1_floor=0.77,
        new_entities=150,
        increments=8,
        timed_increments=2,
        late_dup_p=0.25,
    ),
}
# increments are blocked on keys: link_increment has no ANN path
INCREMENT_STRATEGY = "B1"
CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "checksums.json")


@dataclass
class Run:
    """State of one benchmark run."""

    workload: Workload
    seed: int
    cores: int
    work: str  # per-run scratch directory, removed afterwards
    state: str  # directory kept across runs in the checkout
    link_only: bool = False
    spark: object = None
    tracer: tracing.Tracer | None = None
    untrace: object = None  # undoes tracing.install
    timings: dict = field(default_factory=dict)  # part -> [wall s, CPU s]
    ops: list = field(default_factory=list)  # [kind, wall s, ok, CPU s]
    facts: dict = field(default_factory=dict)

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def end_trace(self) -> None:
        """Close the traced window: the output checks are not traced."""
        if self.tracer is not None and self.untrace is not None:
            self.tracer.close(0)
            self.untrace()
            self.untrace = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, []))
    return tree


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and its descendants, from /proc."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``pid`` and its
    live descendants, from /proc. Time the hypervisor gave to other guests
    (steal) is not in it, nor is time spent waiting for a core."""
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICKS


class Meter:
    """Wall seconds and CPU seconds of this process tree over one window."""

    def __init__(self):
        self.wall0 = time.perf_counter()
        self.cpu0 = tree_cpu_s(os.getpid())

    def stop(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, tree_cpu_s(os.getpid()) - self.cpu0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def checksum(pairs) -> str:
    """Order-insensitive checksum of (conv_id, entity_id) rows."""
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a}\t{b}\n".encode())
    return h.hexdigest()


def bcubed_f1(assignment: dict[str, str], truth: dict[str, str]) -> float:
    """B-cubed F1 over records that have a valid hidden key."""
    recs = [c for c in assignment if c in truth]
    by_c: dict[str, list[str]] = {}
    by_k: dict[str, list[str]] = {}
    both: dict[tuple[str, str], int] = {}
    for c in recs:
        by_c.setdefault(assignment[c], []).append(c)
        by_k.setdefault(truth[c], []).append(c)
        key = (assignment[c], truth[c])
        both[key] = both.get(key, 0) + 1
    if not recs:
        return 0.0
    p = sum(both[(assignment[c], truth[c])] / len(by_c[assignment[c]]) for c in recs)
    r = sum(both[(assignment[c], truth[c])] / len(by_k[truth[c]]) for c in recs)
    p, r = p / len(recs), r / len(recs)
    return 2 * p * r / (p + r) if p + r else 0.0


def pairwise_f1(edges, truth: dict[str, str]) -> float:
    """Pairwise F1 of a match-edge set against the valid hidden keys."""
    pred = {tuple(sorted(e)) for e in edges if e[0] in truth and e[1] in truth}
    groups: dict[str, list[str]] = {}
    for c, k in truth.items():
        groups.setdefault(k, []).append(c)
    n_true = sum(len(g) * (len(g) - 1) // 2 for g in groups.values())
    tp = sum(truth[a] == truth[b] for a, b in pred)
    p = tp / len(pred) if pred else 0.0
    r = tp / n_true if n_true else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def valid_truth(tables: list[gen.Tables]) -> dict[str, str]:
    truth = {}
    for t in tables:
        for conv, key in zip(t.k["conv_id"], t.k["entity_key"]):
            if gen.key_is_valid(key):
                truth[conv] = key
    return truth


def expected_checksum(workload: str, seed: int, increments: int = 0) -> str | None:
    """The (conv_id, entity_id) checksum the engine's reference version gave
    for this workload and seed, from ``checksums.json`` (written only by
    ``record_checksums.py``); None for a seed it does not list."""
    try:
        with open(CHECKSUMS) as f:
            known = json.load(f)
    except FileNotFoundError:
        return None
    return known.get(checksum_key(workload, seed, increments))


def checksum_key(workload: str, seed: int, increments: int = 0) -> str:
    return f"{workload}:{seed}:{increments}"


def _write_inputs(run: Run, tables: list[tuple[str, gen.Tables]]) -> list[dict]:
    """Write every input table three times; set-up counts the median."""
    times, infos = [], []
    for _ in range(3):
        m = Meter()
        infos = [t.write(os.path.join(run.work, "input", name)) for name, t in tables]
        times.append(m.stop())
    run.timings["input_write"] = [_median([t[i] for t in times]) for i in (0, 1)]
    return infos


def _warm_up(run: Run, transcripts: str) -> None:
    """Untimed warm-up pass: fork the Python workers and run the Arrow
    kernel, the shuffle and the Parquet writer once on a small slice of the
    input, so the first timed job does not pay the JVM's cold start."""
    from record_linkage_spark.operators.rollup import rollup_conversations

    m = Meter()
    sample = run.spark.read.parquet(transcripts).limit(200)
    rollup_conversations(sample).drop("turns").write.mode("overwrite").parquet(
        os.path.join(run.work, "warmup")
    )
    run.timings["warmup"] = list(m.stop())


def _link(run: Run, info: dict, wh: str):
    """One ``LinkagePipeline.run(resume=False)``; returns (pipeline, report,
    wall seconds, CPU seconds)."""
    from record_linkage_spark.plans.pipeline import LinkagePipeline

    spark = run.spark
    pipe = LinkagePipeline(
        spark,
        wh,
        strategy=run.workload.strategy,
        clusterer="cc",
        transcripts_df=spark.read.parquet(info["transcripts"]),
        keys_df=spark.read.parquet(info["keys"]),
    )
    m = Meter()
    report = pipe.run(resume=False)
    return (pipe, report, *m.stop())


def _collect_pairs(spark, path: str, a: str, b: str) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in spark.read.parquet(path).select(a, b).collect()]


def _checksum_ok(run: Run, pairs, increments: int = 0) -> bool:
    """Compare with the recorded checksum; a seed it does not list passes
    and is reported as unchecked on the settings line."""
    got = checksum(pairs)
    want = expected_checksum(run.workload.name, run.seed, increments)
    run.facts.update(checksum=got, checksum_checked=want is not None)
    return want is None or want == got


def run_batch(run: Run) -> dict:
    w = run.workload
    tables = gen.generate_batch(w.profile, run.seed)
    (info,) = _write_inputs(run, [("corpus", tables)])
    _warm_up(run, info["transcripts"])
    run.facts.update(turns=info["turns"], convs=info["convs"], input_bytes=info["bytes"])
    wh = os.path.join(run.work, "wh")
    _, report, link_s, link_cpu = _link(run, info, wh)  # a link that raises ends the run
    run.end_trace()
    m_check = Meter()
    # untimed output checks
    with open(os.path.join(wh, "pipeline_report.json")) as f:
        written = json.load(f)
    asg = _collect_pairs(run.spark, os.path.join(wh, "clusters"), "conv_id", "entity_id")
    amap = dict(asg)
    bc = bcubed_f1(amap, valid_truth([tables]))
    ok = (
        written["global"]["f1"] >= w.f1_floor
        and len(amap) == len(asg) == info["convs"]
        and abs(bc - report["bcubed"]["bcubed_f1"]) < 1e-5
    )
    ok = _checksum_ok(run, asg) and ok
    run.ops.append(["link", link_s, ok, link_cpu])
    if run.tracer is not None:
        run.facts["max_salt"] = _max_salt(run.spark, os.path.join(wh, "profiles"), w.strategy)
    run.timings["check"] = list(m_check.stop())
    run.facts.update(
        wh_root=[wh],
        report=report,
        pairwise_f1=written["global"]["f1"],
        bcubed_f1=bc,
        wh_bytes=dir_bytes(wh)[0],
        link_s=link_s,
        link_cpu_s=link_cpu,
        op_cpu=[link_cpu],
    )
    return run.facts


def _max_salt(spark, profiles: str, strategy: str) -> int:
    """Largest salt fan-out ``candidate_pairs`` gives a block key of these
    profiles: the engine's planner over the same key counts and partition
    count."""
    from pyspark.sql import functions as F

    from record_linkage_spark.config import SALT_TARGET_BLOCK
    from record_linkage_spark.operators import blocking
    from record_linkage_spark.operators.skew import salting_plan

    names = blocking.STRATEGIES[strategy]["equality"]
    keys = spark.read.parquet(profiles).select(
        *[blocking._KEY_EXPRS[n]().alias(n) for n in names]
    )
    keys = keys.filter(F.concat_ws("", *names) != "").dropna()
    sizes = keys.groupBy(*names).agg(F.count("*").alias("_n"))
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    plan = salting_plan(
        sizes, n_partitions=n_parts, count_col="_n", salt_target=SALT_TARGET_BLOCK
    )
    return int(plan.agg(F.max("salt")).first()[0])


def run_incremental(run: Run) -> dict:
    from record_linkage_spark.operators import clustering
    from record_linkage_spark.sources.checkpoints import Warehouse

    w = run.workload
    spark = run.spark
    base, incs = gen.generate_incremental(
        w.profile, run.seed, w.new_entities, w.increments, w.late_dup_p
    )
    incs = incs[: w.timed_increments]
    infos = _write_inputs(
        run, [("base", base)] + [(f"inc{k:03d}", t) for k, t in enumerate(incs)]
    )
    _warm_up(run, infos[0]["transcripts"])
    wh = os.path.join(run.work, "wh")
    # set-up: the base link; nothing to increment if it fails
    pipe, report, link_s, link_cpu = _link(run, infos[0], wh)
    run.ops.append(["link", link_s, True, link_cpu])
    run.timings["base_link"] = [link_s, link_cpu]
    run.facts.update(
        turns=infos[0]["turns"],
        convs=infos[0]["convs"],
        link_s=link_s,
        link_cpu_s=link_cpu,
        report=report,
    )
    store = Warehouse(root=wh, spark=spark)
    known = [store.table_path("profiles")]
    scored_tables: list[str] = []
    assignment_path = store.table_path("clusters")
    n_known = infos[0]["convs"]
    inc_cpu: list[float] = []  # CPU seconds of each increment
    for k, info in enumerate([] if run.link_only else infos[1:]):
        name = f"increments/{k:03d}"
        m = Meter()
        try:
            _increment(run, store, name, info, known, assignment_path, pipe.model)
            ok = True
        except Exception as exc:  # an increment that raises counts as failed
            ok = False
            run.facts.setdefault("errors", []).append(repr(exc))
        dt, cpu = m.stop()
        n_known += info["convs"]
        known.append(store.table_path(f"{name}/profiles"))
        scored_tables.append(store.table_path(f"{name}/scored_pairs"))
        assignment_path = store.table_path(f"{name}/assignment")
        # per-increment check from the commit's lineage (no Spark job)
        rows = (store.lineage(f"{name}/assignment") or {}).get("row_count")
        run.ops.append(["increment", dt, ok and rows == n_known, cpu])
        inc_cpu.append(cpu)
        if not ok:
            break
    run.end_trace()
    m_check = Meter()

    # untimed output checks over the final state
    consumed = incs[: len(inc_cpu)]
    final = _collect_pairs(spark, assignment_path, "conv_id", "entity_id")
    all_edges = spark.read.parquet(store.table_path("match_edges")).select("src", "dst")
    if scored_tables:
        all_edges = all_edges.unionByName(_edges(spark.read.parquet(*scored_tables)))
    expected = clustering.assign_entities(
        spark.read.parquet(*known).select("conv_id"), all_edges
    )
    exp = [(r[0], r[1]) for r in expected.collect()]
    edges = [(r[0], r[1]) for r in all_edges.collect()]
    truth = valid_truth([base] + consumed)
    edge_f1 = pairwise_f1(edges, truth)
    chain_ok = (
        sorted(final) == sorted(exp)
        and len(dict(final)) == len(final) == n_known
        and report["global"]["f1"] >= w.f1_floor
        and edge_f1 >= w.edge_f1_floor
    )
    chain_ok = _checksum_ok(run, final, len(inc_cpu)) and chain_ok
    if not chain_ok:  # the chain is checked as a whole: all its ops fail
        for op in run.ops:
            op[2] = False
    run.timings["check"] = list(m_check.stop())
    run.facts.update(
        wh_root=[wh],
        pairwise_f1=edge_f1,
        bcubed_f1=bcubed_f1(dict(final), truth),
        wh_bytes=dir_bytes(wh)[0],
        input_bytes=sum(i["bytes"] for i in infos[: 1 + len(inc_cpu)]),
        op_cpu=inc_cpu,
        increment_turns=sum(t.n_turns for t in consumed),
        increment_convs=sum(t.n_convs for t in consumed),
        increment_candidates=sum(
            (store.lineage(f"increments/{k:03d}/scored_pairs") or {}).get("row_count", 0)
            for k in range(len(inc_cpu))
        ),
        edges=len(edges),
        entities_out=len(set(dict(final).values())),
    )
    return run.facts


def _edges(scored):
    from pyspark.sql import functions as F

    return scored.filter(F.col("pred") == 1).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )


def _increment(run: Run, store, name: str, info: dict, known, assignment_path, model):
    """One increment: roll up the new turns, link them against every known
    profile, fold the new match edges into the entity assignment, and
    commit profiles, scored pairs and assignment to the warehouse."""
    from pyspark.sql import functions as F

    from record_linkage_spark.operators import clustering, incremental_link, rollup

    spark = run.spark
    with run.span("increment", "incremental_link"):
        with run.span("write:profiles", "rollup"):
            prof = store.write(
                f"{name}/profiles",
                rollup.rollup_conversations(
                    spark.read.parquet(info["transcripts"])
                ).drop("turns"),
            )
        with run.span("write:scored_pairs", "incremental_link"):
            scored = store.write(
                f"{name}/scored_pairs",
                incremental_link.link_increment(
                    prof, spark.read.parquet(*known), model, INCREMENT_STRATEGY
                ),
            )
        seeded = spark.read.parquet(assignment_path).unionByName(
            prof.select("conv_id", F.col("conv_id").alias("entity_id"))
        )
        with run.span("write:assignment", "clustering"):
            store.write(
                f"{name}/assignment",
                clustering.incremental_components(seeded, _edges(scored)),
            )
