"""Benchmark worker: runs one workload in one Spark session on
``local[4]``, one client in a closed loop, and prints the result line.

Launched by ``run.py`` as ``python3 -m perfbench.harness`` with
PYTHONPATH at the checkout root. A run:

1. setup (timed as ``setup_s``): JVM and session start, then input
   generation and load, done three times (the median counts);
2. one measured pass over the workload's operations in the fresh
   session, cold, as a spark-submit job meets them. Each operation is
   timed from outside the library as build (the public call that
   returns a DataFrame; eager planner jobs run here) plus action (an
   order-independent digest of the output). The pass's CPU seconds,
   over every process of the run, is ``suite_cpu_s``; its wall time
   goes to the detail line (see README.md for why). Warm passes follow
   while fewer than ``--seconds`` have passed; they are reported in the
   detail line only;
3. checks on every operation's output; a mismatch is printed with the
   offending number and counted in ``failed``.

With ``--trace 1`` the measured pass is traced: the library's public
functions are wrapped in spans (trace.py) and the event log attributes
Spark work to them. End-to-end metrics come from untraced runs; the
traced pass's ``trace.suite_cpu_s`` against their ``suite_cpu_s`` is
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from . import gen, queries
from .trace import Tracer, parse_eventlog, subtree_totals

CORES = 4
# the join workloads read fixed tables, like the sf test tables;
# only the transcripts workload draws its inputs from --seed
TABLE_SEED = 42
LOAD_REPEATS = 3
THRESHOLD = 0.6
F1_FLOOR = 0.99
HERE = Path(__file__).resolve().parent


@dataclass(frozen=True)
class Sizes:
    convs: int
    documents: int
    part: int
    embeddings: int
    events: int
    users: int
    zipf: int


FULL = Sizes(convs=1000, documents=1000, part=2000, embeddings=1000, events=20000,
             users=300, zipf=12000)
TINY = Sizes(convs=120, documents=100, part=200, embeddings=200, events=1000, users=50,
             zipf=1000)
STAGES = ("records", "token_ranks", "tokens", "candidates", "scored", "clusters")


def digest(df) -> tuple[int, str]:
    """(rows, digest): count plus XOR and sum of per-row xxhash64 over
    every column except the row id and floating-point scores."""
    from pyspark.sql import functions as F

    cols = [f.name for f in df.schema.fields
            if f.name != "_id" and f.dataType.typeName() not in ("float", "double")]
    h = F.xxhash64(*cols)
    row = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
                 F.sum(F.pmod(h, F.lit(1 << 31))).alias("s")).first()
    x = (row["x"] or 0) & (2**64 - 1)
    return int(row["n"]), f"{x:016x}-{row['s'] or 0:x}"


def firsttouch_mbps(mib: int = 128) -> float:
    """MB/s of a first-touch fill over fresh pages: the host-health
    stamp (it collapses when the hypervisor demand-faults guest memory,
    and timings taken then are upper bounds)."""
    a = np.empty(mib * (1 << 20) // 8, dtype=np.float64)
    t0 = time.perf_counter()
    a.fill(1.0)
    return mib / (time.perf_counter() - t0)


def pairwise_f1(pred: dict[str, str], gold: dict[str, int]) -> float:
    """Pairwise F1 of predicted clusters against gold entities, counted
    in plain Python (independent of the library's evaluator)."""
    from collections import Counter

    def pairs(counter):
        return sum(c * (c - 1) // 2 for c in counter.values())

    pred_pairs = pairs(Counter(pred.values()))
    gold_pairs = pairs(Counter(gold[k] for k in pred))
    tp = pairs(Counter((v, gold[k]) for k, v in pred.items()))
    p = tp / pred_pairs if pred_pairs else 1.0
    r = tp / gold_pairs if gold_pairs else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


class Run:
    """Shared per-run state: session, tracer, and the ledger of
    attempted operations and failed (raised or wrong) ones."""

    def __init__(self, spark, work: Path, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.pass_no = 0
        self._bad: set[tuple[int, str]] = set()

    @property
    def failed(self) -> int:
        return len(self._bad)

    def span(self, name):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext({"id": None})

    def check(self, op: str, ok: bool, detail: str, pass_no: int | None = None) -> bool:
        """Count operation ``op`` of a pass as failed unless ``ok``."""
        if not ok:
            self._bad.add((self.pass_no if pass_no is None else pass_no, op))
            print(f"CHECK FAILED {op}: {detail}", file=sys.stderr, flush=True)
        return ok

    def op(self, name: str, build, ops: dict) -> tuple[int, str] | None:
        """Time one operation: build, then the digest action. Exceptions
        count as failures and the loop goes on (closed loop, one client)."""
        from sparksimjoin.cache import scoped_caches

        rec = {}
        self.attempted += 1
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.span(name) as top, scoped_caches():
                with self.span(f"{name}.build") as b:
                    df = build()
                t1 = time.perf_counter()
                with self.span(f"{name}.action") as a:
                    rows, dig = digest(df)
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.check(name, False, f"raised {type(e).__name__}: {str(e)[:300]}")
            return None
        rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                   cpu_s=cpu_seconds() - cpu0, rows=rows,
                   digest=dig, span=top["id"], build_span=b["id"], action_span=a["id"])
        ops[name] = rec
        return rows, dig


class JoinWorkload:
    """Every query of queries.py over fixed tables; outputs are checked
    against ``expected`` unless it is None (when recording it)."""

    def __init__(self, run: Run, seed: int, sizes: Sizes, expected: dict):
        self.run, self.sizes, self.expected = run, sizes, expected
        self.tables: dict = {}

    def load(self) -> None:
        spark, s = self.run.spark, self.sizes
        for df in self.tables.values():
            df.unpersist()
        self.tables = {
            "documents": spark.createDataFrame(gen.documents(s.documents, TABLE_SEED)),
            "part": spark.createDataFrame(gen.parts(s.part, TABLE_SEED)),
            "embeddings": spark.createDataFrame(gen.embeddings(s.embeddings, TABLE_SEED),
                                                "vec_id long, embedding array<float>"),
            "events": spark.createDataFrame(gen.events(s.events, TABLE_SEED, s.users)),
            "zipf": gen.zipf_skew_corpus(spark, s.zipf, TABLE_SEED),
        }
        for k, df in self.tables.items():
            self.tables[k] = df.repartition(CORES).cache()
            self.tables[k].count()

    def run_pass(self) -> dict:
        ops: dict = {}
        for q, query in queries.QUERIES.items():
            got = self.run.op(q, lambda build=query.build: build(self.tables), ops)
            if got is not None and self.expected is not None:
                want = self.expected.get(q)
                self.run.check(q, want is not None and list(got) == [want["rows"], want["digest"]],
                               f"rows/digest {got[0]}/{got[1]}, expected "
                               f"{want and (want['rows'], want['digest'])}")
        return {"ops": ops}

    def finish(self, passes: list[dict]) -> None:
        pass


class TranscriptsWorkload:
    """run_pipeline over 90% of conversations, then run_incremental on
    the last 10% against that base."""

    def __init__(self, run: Run, seed: int, sizes: Sizes, expected: dict):
        from sparksimjoin.pipeline import PipelineConfig

        self.run, self.seed, self.sizes = run, seed, sizes
        self.cfg = PipelineConfig(threshold=THRESHOLD)
        self.turns = None
        self.passes = 0

    def load(self) -> None:
        from pyspark.sql import functions as F

        if self.turns is not None:
            self.turns.unpersist()
        self.pdf, gold = gen.transcripts(self.sizes.convs, self.seed)
        self.gold = dict(zip(gold.conv_id, gold.entity_id))
        self.turns = self.run.spark.createDataFrame(self.pdf).repartition(CORES).cache()
        self.turns.count()
        self.cut = "conv%08d" % int(self.sizes.convs * 0.9)
        self.base = self.turns.where(F.col("conv_id") < self.cut)
        self.batch = self.turns.where(F.col("conv_id") >= self.cut)

    def run_pass(self) -> dict:
        from sparksimjoin.checkpoint import CheckpointManager
        from sparksimjoin.incremental import run_incremental
        from sparksimjoin.pipeline import run_pipeline

        spark, ops = self.run.spark, {}
        self.passes += 1
        wd = self.run.work / f"pass{self.passes}"
        base, inc = str(wd / "base"), str(wd / "inc")
        out: dict = {"ops": ops, "clusters": {}, "manifests": {}}
        for name, call, d in (
                ("pipeline", lambda: run_pipeline(spark, self.base, base, self.cfg), base),
                ("incremental",
                 lambda: run_incremental(spark, self.batch, base, inc, self.cfg), inc)):
            if self.run.op(name, call, ops) is None:
                break
            rows = spark.read.parquet(f"{d}/clusters").collect()
            out["clusters"][name] = {r["conv_id"]: r["component"] for r in rows}
            out["manifests"][name] = {
                m["stage"]: m for m in CheckpointManager(spark, d).all_manifests()}
        if "pipeline" in out["clusters"]:
            out["pairwise_f1"] = pairwise_f1(out["clusters"]["pipeline"], self.gold)
        shutil.rmtree(wd, ignore_errors=True)
        return out

    def finish(self, passes: list[dict]) -> None:
        """Untimed checks against a plain-Python recompute: the base
        clusters equal it over the base conversations, the incremental
        clusters equal it over all of them, and the base clusters reach
        the F1 floor against the generator's gold entities."""
        base_pdf = self.pdf[self.pdf.conv_id < self.cut]
        want = {"pipeline": link_clusters(base_pdf, THRESHOLD),
                "incremental": link_clusters(self.pdf, THRESHOLD)}
        for n, p in enumerate(passes):
            for name, got in p["clusters"].items():
                diff = sum(got.get(k) != v for k, v in want[name].items()) + len(
                    got.keys() - want[name].keys())
                self.run.check(name, diff == 0, f"{diff} of {len(want[name])} conversations "
                               "differ from the plain-Python recompute", n)
            if "pairwise_f1" in p:
                f1 = p["pairwise_f1"]
                self.run.check("pipeline", f1 >= F1_FLOOR,
                               f"pairwise F1 {f1:.4f} < {F1_FLOOR}", n)


def link_clusters(turns, threshold: float) -> dict[str, str]:
    """Reference linkage in plain Python: conversations whose whitespace
    token sets have Jaccard >= ``threshold`` are linked, and each
    connected component is labelled with its smallest conv_id."""
    sets = {c: frozenset(" ".join(g).split()) for c, g in turns.groupby("conv_id")["text"]}
    ids = sorted(sets, key=lambda c: len(sets[c]))
    parent = {c: c for c in ids}

    def root(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1:]:
            sb = sets[b]
            if len(sa) < threshold * len(sb):
                break  # sizes only grow from here: no Jaccard >= threshold
            inter = len(sa & sb)
            if inter >= threshold * (len(sa) + len(sb) - inter):
                ra, rb = root(a), root(b)
                parent[max(ra, rb)] = min(ra, rb)
    return {c: root(c) for c in ids}


WORKLOADS = {"transcripts": TranscriptsWorkload, "joins": JoinWorkload}

END_TO_END = {"setup_s": "s", "suite_cpu_s": "s", "peak_rss_mb": "MB", "ok_rate": "share"}
_PLANNER = ("joins.core.dup_factor", "joins.core.prefix_meeting_estimate",
            "joins.core.dense_band_pair_stats")
_MODULE_SPANS = ("prepare_sides", "string_dedup_maps", "candidate_pairs", "verify_pairs")
_TOTALS = ("executor_run_s", "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
           "spill_mb", "failed_tasks", "jobs")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. All are emitted on every
    workload; a layer the workload does not run reads 0."""
    u: dict[str, str] = {}
    for q in queries.QUERIES:
        u.update({f"{q}.build_s": "s", f"{q}.build_jobs": "count", f"{q}.action_s": "s",
                  f"{q}.executor_run_s": "s"})
    for op in ("pipeline", "incremental"):
        u[f"{op}.s"] = "s"
        u.update({f"{op}.{st}.s": "s" for st in STAGES})
    u.update({"pipeline.driver_s": "s", "pipeline.candidates.rows": "count",
              "verify.yield": "share",
              "pipeline.candidates.shuffle_mb": "MB", "pipeline.scored.shuffle_mb": "MB",
              "pipeline.spill_mb": "MB", "clustering.cc_rounds": "count",
              "pipeline.pairwise_f1": "share", "incremental.candidates.rows": "count",
              "joins.core.planner.s": "s", "joins.core.planner.jobs": "count"})
    u.update({f"joins.core.{m}.s": "s" for m in _MODULE_SPANS})
    u.update({"build_s": "s", "build_jobs": "count", "executor_run_s": "s",
              "executor_cpu_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
              "spill_mb": "MB", "failed_tasks": "count", "jobs": "count",
              "trace.self_time_share": "share", "trace.suite_s": "s",
              "trace.suite_cpu_s": "s",
              "host.firsttouch_mbps": "MB/s"})
    return u


def layer_metrics(tracer: Tracer, traced: dict, stamp: float) -> dict:
    """Per-layer values from the traced pass: its spans (with event-log
    totals attached) and, for transcripts, the checkpoint manifests."""
    v = dict.fromkeys(per_layer_units(), 0.0)
    kids = tracer.children()
    spans = tracer.spans
    ops = traced["ops"]
    for name, rec in ops.items():
        b = subtree_totals(tracer, rec["build_span"], kids)
        whole = subtree_totals(tracer, rec["span"], kids)
        if name in queries.QUERIES:
            v[f"{name}.build_s"] = rec["build_s"]
            v[f"{name}.build_jobs"] = b["jobs"]
            v[f"{name}.action_s"] = rec["action_s"]
            v[f"{name}.executor_run_s"] = whole["executor_run_s"]
        else:
            v[f"{name}.s"] = rec["wall_s"]
        v["build_s"] += rec["build_s"]
        v["build_jobs"] += b["jobs"]
        for k in _TOTALS:
            v[k] += whole[k]
    own = {sid for rec in ops.values() for sid in tracer.subtree(rec["span"], kids)}
    for sid in own:
        s = spans[sid]
        dur = s["end"] - s["start"]
        if s["name"] in _PLANNER:
            v["joins.core.planner.s"] += dur
            v["joins.core.planner.jobs"] += subtree_totals(tracer, sid, kids)["jobs"]
        for m in _MODULE_SPANS:
            if s["name"] == f"joins.core.{m}":
                v[f"joins.core.{m}.s"] += dur
        if s["name"] == "clustering.connected_components" and s.get("cc_rounds"):
            v["clustering.cc_rounds"] = s["cc_rounds"]
    wall = sum(rec["wall_s"] for rec in ops.values())
    v["trace.self_time_share"] = sum(tracer.self_time(s, kids) for s in own) / wall
    v["trace.suite_s"] = wall
    v["trace.suite_cpu_s"] = traced["cpu_s"]
    v["host.firsttouch_mbps"] = stamp
    for op, mans in traced.get("manifests", {}).items():
        for st in STAGES:
            if st in mans:
                v[f"{op}.{st}.s"] = mans[st]["wall_time_sec"]
        if "candidates" in mans:
            v[f"{op}.candidates.rows"] = mans["candidates"]["rows"]
    pm = traced.get("manifests", {}).get("pipeline")
    if pm and "pipeline" in ops:
        v["pipeline.driver_s"] = ops["pipeline"]["wall_s"] - sum(
            pm[st]["wall_time_sec"] for st in STAGES if st in pm)
        v["verify.yield"] = pm["scored"]["rows"] / max(pm["candidates"]["rows"], 1)
        v["pipeline.pairwise_f1"] = traced.get("pairwise_f1", 0.0)
        top = ops["pipeline"]["span"]
        for sid in tracer.subtree(top, kids):
            s = spans[sid]
            if s["name"] in ("checkpoint.candidates", "checkpoint.scored"):
                key = f"pipeline.{s['name'].split('.')[1]}.shuffle_mb"
                v[key] = subtree_totals(tracer, sid, kids)["shuffle_write_mb"]
        v["pipeline.spill_mb"] = subtree_totals(tracer, top, kids)["spill_mb"]
    return v


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jit_seconds(spark) -> float:
    """Seconds the JVM's JIT compilers have spent compiling so far."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1e3


def cpu_seconds() -> float:
    """User + system CPU seconds of every live process in this process's
    session (the driver, the JVM, Spark's Python workers) plus the
    children they reaped. The kernel does not charge a process for time
    the hypervisor stole from its CPU, so this moves far less than wall
    time when the host is contended."""
    sid = os.getsid(0)
    total = 0
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Seconds of CPU stolen from this VM by the hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(spark) -> float:
    jvm_pid = _jvm_pid(spark)
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def start_session(work: Path, trace: bool):
    from sparksimjoin.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap and young generation: peak RSS then follows the
    # workload's allocations, not G1's timing-dependent resizing
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn384m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": str(work / "eventlog")})
    return get_spark(app_name="perfbench", cores=CORES, shuffle_partitions=CORES,
                     driver_memory="2g", extra_conf=conf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--expected", default=str(HERE / "expected.json"))
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    stamp_pre = firsttouch_mbps()
    work = Path(args.work)
    sizes = TINY if args.tiny else FULL
    expected = json.loads(Path(args.expected).read_text())["tiny" if args.tiny else "full"]
    spark = start_session(work, bool(args.trace))
    jvm_s = time.perf_counter() - t_start
    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(spark, run_id) if args.trace else None
    run = Run(spark, work, None)
    wl = WORKLOADS[args.workload](run, args.seed, sizes, expected)

    load_s = []
    for _ in range(LOAD_REPEATS):
        t0 = time.perf_counter()
        wl.load()
        load_s.append(time.perf_counter() - t0)
    setup_s = jvm_s + statistics.median(load_s)

    # pass 1 is the measured one, cold, and traced in a trace run; warm
    # passes follow while time is left (detail line only)
    t_measure = time.perf_counter()
    passes: list[dict] = []
    while not passes or time.perf_counter() - t_measure < args.seconds:
        steal0, jit0 = host_steal_s(), jit_seconds(spark)
        use_trace = tracer is not None and not passes
        run.tracer = tracer if use_trace else None
        if use_trace:
            tracer.install()
        try:
            p = wl.run_pass()
        finally:
            if use_trace:
                tracer.uninstall()
        p["suite_s"] = sum(r["wall_s"] for r in p["ops"].values())
        p["cpu_s"] = sum(r["cpu_s"] for r in p["ops"].values())
        p["steal_s"], p["jit_s"] = host_steal_s() - steal0, jit_seconds(spark) - jit0
        p["traced"] = use_trace
        passes.append(p)
        run.pass_no += 1
    wl.finish(passes)

    first = passes[0]
    e2e = {
        "setup_s": setup_s,
        "suite_cpu_s": first["cpu_s"],
        "peak_rss_mb": _peak_rss_mb(spark),
        "ok_rate": 1.0 - run.failed / max(run.attempted, 1),
    }
    spark.stop()
    stamp_post = firsttouch_mbps()

    detail = {"workload": args.workload, "seed": args.seed, "cores": CORES,
              "firsttouch_mbps": [round(stamp_pre, 1), round(stamp_post, 1)],
              "setup": {"jvm_s": jvm_s, "load_s": load_s},
              "passes": [{"suite_s": p["suite_s"], "traced": p["traced"], "cpu_s": p["cpu_s"],
                          "steal_s": p["steal_s"], "jit_s": p["jit_s"],
                          "ops": {k: {f: r[f] for f in ("build_s", "action_s", "cpu_s", "rows",
                                                        "digest")}
                                  for k, r in p["ops"].items()}}
                         for p in passes],
              "end_to_end": e2e}
    if tracer is not None:
        logs = sorted((work / "eventlog").iterdir())
        tracer.attach(parse_eventlog(logs[-1]))
        spans_dir = HERE.parent / ".perfbench_work" / "spans"
        spans_dir.mkdir(parents=True, exist_ok=True)
        tracer.dump(spans_dir / f"{run_id}.json")
        layer = layer_metrics(tracer, first, stamp_pre)
        detail["per_layer"] = layer
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"detail": detail}), flush=True)
    print(f"# host first-touch MB/s before/after: {stamp_pre:.0f}/{stamp_post:.0f}",
          file=sys.stderr)
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
