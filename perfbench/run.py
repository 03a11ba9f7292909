#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one operation at a time.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads: analytics, llm_curation (see perfbench/README.md).
Each run builds its input tables (cached under perfbench/_work), sets the
engine up, checks every operation's output on an untimed pass, then times
whole passes over the workload's operations, in a seeded order, until
``--seconds`` have passed (at least one pass). The
last stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. ``--record`` rewrites the expected
results in perfbench/expected.json from this run instead of checking them.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time

PKG = "etl_open_source_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 42
CPUS = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEMORY = "2g"
# The whole heap is committed and touched at JVM start: otherwise the JVM's
# resident size depends on how far G1 happened to spread its allocations
# before the peak sample, and peak_rss_mb swings by a third between runs.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
MAX_LOAD = 2.0 * CPUS
QUIET_WAIT = 20.0

sys.path.insert(0, HERE)

from workloads import WORKLOADS, Ctx  # noqa: E402


# ------------------------------------------------------------ environment


def isolate(run_dir: str) -> None:
    """Keep every file the engine writes (temp dirs, shuffle, warehouse,
    JVM temp) inside this run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # no hsperfdata files under /tmp, from the launcher JVM either
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None


def wait_for_quiet_box() -> float:
    """bench.py's quiet gate: wait while max(1-min, 5-min) load is at or
    above MAX_LOAD, for at most QUIET_WAIT seconds. The threshold is twice
    the benchmark's cores, not bench.py's 2.0: back-to-back runs leave the
    previous run's own load in both averages, and a 2.0 gate would then
    stall every run."""
    waited = 0.0
    while max(os.getloadavg()[:2]) >= MAX_LOAD and waited < QUIET_WAIT:
        time.sleep(2)
        waited += 2
    return waited


def descendants() -> list[int]:
    """Live processes started, directly or not, by this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(d))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def stop_engine(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait until
    every process this run started has ended."""
    started = descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc. Each process counts
    its proportional share (Pss) of the pages it maps, so forked children
    sharing pages with their parent (Python workers, the JVM's short-lived
    fork before exec) are not counted twice. One sample walks the JVM's
    page tables (about 40 ms on a 3 GB process) and holds its mmap lock
    meanwhile, so samples are a second apart: at 0.2 s the sampler alone
    kept a fifth of a core busy beside the measured work."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period, self.peak, self.halt = period, 0, threading.Event()

    @staticmethod
    def pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def sample(self) -> int:
        return sum(self.pss_kb(pid) for pid in [os.getpid(), *descendants()]) * 1024

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak = max(self.peak, self.sample())
            self.halt.wait(self.period)

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak / 2**20


# ------------------------------------------------------------ engine calls


def cleanup(spark) -> None:
    """Isolation between operations: no cache survives into the next one."""
    spark.catalog.clearCache()
    importlib.import_module(f"{PKG}.operators.caching").release_operator_caches()


def run_op(op, ctx: Ctx) -> None:
    op(ctx).write.format("noop").mode("overwrite").save()


def set_up(workload: str, ctx: Ctx, ops: dict, preset: str, record: bool):
    """get_spark, the import of the query registry, and one untimed check
    pass over the measured inputs. The check pass verifies every
    operation's output; it also compiles every plan shape and makes the
    first read of every input, so the timed passes start warm."""
    t0 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    spark = importlib.import_module(f"{PKG}.session").get_spark(
        app_name="perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}"},
    )
    t1 = time.perf_counter()
    importlib.import_module(f"{PKG}.registry").get_registry()
    t2 = time.perf_counter()
    ctx.spark = spark
    got, failed = check_pass(workload, ctx, ops)
    cleanup(spark)
    failed += check_expected(preset, workload, got, failed, record)
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session_s": t1 - t0, "registry_s": t2 - t1,
                   "check_s": t3 - t2}, failed


def check_pass(workload: str, ctx: Ctx, ops: dict):
    """Every operation once, in the listed order, with its output digested
    (workloads.digest) instead of written to noop."""
    from workloads import digest

    got, failed, ctx.check_s = {}, [], {}
    for name in WORKLOADS[workload]:
        cleanup(ctx.spark)
        t0 = time.perf_counter()
        try:
            got[name] = digest(ops[name](ctx))
            ctx.check_s[name] = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 — counted in error_rate
            print(f"ERROR {workload}/{name}: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
            failed.append(name)
    return got, failed


# ------------------------------------------------------------ correctness


def check_expected(preset: str, workload: str, got: dict, failed: list, record: bool) -> list[str]:
    """Compare output digests with expected.json: row count always, the
    content hash unless the operation is listed under ``count_only``.
    Returns the mismatching operations; with ``record``, stores ``got``."""
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    if record:
        expected.setdefault(preset, {})[workload] = got
        expected.setdefault("count_only", [])
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        return []
    count_only = set(expected.get("count_only", []))
    bad = []
    for name, exp in expected.get(preset, {}).get(workload, {}).items():
        if name in failed:
            continue
        g = got.get(name)
        if g is None or g["rows"] != exp["rows"] or (
            name not in count_only and g["hash"] != exp["hash"]
        ):
            print(f"MISMATCH {workload}/{name}: got {g} expected {exp}", file=sys.stderr)
            bad.append(name)
    return bad


# ------------------------------------------------------------ timed passes


def timed_pass(workload, ctx, ops, order, tracer=None):
    """One pass in ``order``. Returns per-operation wall seconds, failures,
    and the traced per-operation records (when ``tracer`` is set)."""
    times, failed, traced = {}, [], []
    for name in order:
        cleanup(ctx.spark)
        try:
            if tracer is None:
                t0 = time.perf_counter()
                run_op(ops[name], ctx)
                times[name] = time.perf_counter() - t0
            else:
                rec = traced_op(tracer, workload, name, ops[name], ctx)
                times[name] = rec["wall"]
                traced.append(rec)
        except Exception as ex:  # noqa: BLE001 — counted in error_rate
            print(f"ERROR {workload}/{name}: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
            failed.append(name)
    return times, failed, traced


def traced_op(tracer, workload, name, op, ctx) -> dict:
    """Run one operation under spans and collect its Spark metrics."""
    tracer.op_id = name
    first_span = len(tracer.spans)
    sql_before = tracer.sql_count()
    plan_s = 0.0
    t0 = time.perf_counter()
    with tracer.span(name, "op"):
        with tracer.span(f"queries.{name}", "queries"):
            out = op(ctx)
        with tracer.span("plan", "spark.plan"):
            qe = out._jdf.queryExecution()
            qe.executedPlan()
        with tracer.span("exec", "spark.exec"):
            out.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    it = qe.tracker().phases().valuesIterator()
    while it.hasNext():
        plan_s += it.next().durationMs() / 1e3
    spans = tracer.spans[first_span:]
    jobs = {sp["id"]: tracer.jobs(sp) for sp in spans}
    tracker = tracer.sc.statusTracker()
    action_jobs = {j for sp in spans if sp["layer"] == "spark.exec" for j in jobs[sp["id"]]}
    all_jobs = sorted({j for js in jobs.values() for j in js})
    return {"name": name, "wall": wall, "spans": spans, "jobs": jobs,
            "stages": tracer.stage_metrics(all_jobs), "n_jobs": len(all_jobs),
            "plan_s": plan_s, "sql": tracer.sql_metrics(sql_before, action_jobs)}


# ------------------------------------------------------------ metrics


def layer_metrics(recs: list[dict]) -> dict:
    """Per-layer metrics of one traced pass (sums over its operations)."""
    from spans import self_times

    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    wall_total = 0.0
    for rec in recs:
        spans, jobs = rec["spans"], rec["jobs"]
        selfs = self_times(spans)
        by_id = {sp["id"]: sp for sp in spans}
        kids: dict[int, list[int]] = {}
        for sp in spans:
            kids.setdefault(sp["parent"], []).append(sp["id"])

        def subtree_jobs(root):
            n, todo = 0, [root]
            while todo:
                sid = todo.pop()
                n += len(jobs[sid])
                todo += kids.get(sid, [])
            return n

        def inside(sp, layer):
            p = sp["parent"]
            while p is not None:
                if by_id[p]["layer"] == layer:
                    return True
                p = by_id[p]["parent"]
            return False

        wall_total += rec["wall"]
        for sp in spans:
            dur, layer, own = sp["end"] - sp["start"], sp["layer"], selfs[sp["id"]]
            if layer == "op":
                add("trace.unattributed_s", own)
            elif layer == "queries":
                add("queries.build_s", own)
                add("queries.build_total_s", dur)
                add("queries.build_jobs", subtree_jobs(sp["id"]))
            elif layer == "readers":
                if not inside(sp, "readers"):
                    add("readers.calls", 1)
                    add("readers.s", dur)
                    add("readers.schema_jobs", subtree_jobs(sp["id"]))
            elif layer.startswith("operators."):
                add(f"{layer}.s", own)
                add(f"{layer}.eager_jobs", len(jobs[sp["id"]]))
            elif layer == "spark.exec":
                add("exec.s", dur)
        add("plan.s", rec["plan_s"])
        add("plan.exchanges", rec["sql"]["exchanges"])
        add("arrow.python_s", rec["sql"]["python_s"])
        add("arrow.to_python_mb", rec["sql"]["to_python_mb"])
        add("arrow.from_python_mb", rec["sql"]["from_python_mb"])
        add("exec.jobs", rec["n_jobs"])
        st = rec["stages"]
        add("exec.stages", len(st))
        for k in ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "input_mb"):
            add(f"exec.{k}", sum(s[k] for s in st))
        rec["hot"] = max(st, key=lambda s: s["task_s"]) if st else None
        if rec["hot"] and rec["hot"]["task_s"] > m.get("exec.hot_stage_task_s", -1.0):
            m["exec.hot_stage_task_s"] = rec["hot"]["task_s"]
            m["exec.hot_stage_tasks"] = rec["hot"]["tasks"]
    if wall_total:
        m["exec.slot_util"] = m.get("exec.task_s", 0.0) / (wall_total * CPUS)
        m["queries.build_share"] = m.get("queries.build_total_s", 0.0) / wall_total
        m["trace.unattributed_share"] = m.get("trace.unattributed_s", 0.0) / wall_total
    return m


# ------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected.json from this run's outputs")
    ap.add_argument("--preset", default="bench", choices=("bench", "smoke"),
                    help="table scale; the smoke test runs on 'smoke'")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    try:
        result = bench(args)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def bench(args) -> dict:
    import fixtures
    from workloads import ops_for, pass_order

    workload = args.workload
    ctx = Ctx(None, fixtures.build_tables(os.path.join(WORK, f"tables-{args.preset}"), args.preset))
    ops = ops_for(workload)

    waited = wait_for_quiet_box()
    load_before = os.getloadavg()
    rss = RssSampler()
    rss.start()
    spark, setup, failed = set_up(workload, ctx, ops, args.preset, args.record)
    attempted = len(WORKLOADS[workload])

    rng = random.Random(args.seed)
    untraced, traced_passes, op_times = [], [], {}
    tracer = None
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if args.trace and untraced and tracer is None:
            # the traced run alternates traced and untraced passes after
            # the first one; trace.overhead_s compares the two kinds
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        elif tracer is not None:
            tracer.enabled = not tracer.enabled
        if elapsed >= args.seconds and untraced and (
            not args.trace or (traced_passes and len(untraced) > 1)
        ):
            break
        order = pass_order(workload, rng)
        traced = tracer is not None and tracer.enabled
        times, bad, recs = timed_pass(workload, ctx, ops, order, tracer if traced else None)
        attempted += len(order)
        failed += bad
        if traced:
            traced_passes.append((sum(times.values()), layer_metrics(recs), recs))
            continue
        untraced.append(sum(times.values()))
        for k, v in times.items():
            op_times.setdefault(k, []).append(v)
    load_after = os.getloadavg()
    peak_mb = rss.stop()
    stop_engine(spark)

    n_failed = len(failed)
    pass_s = statistics.median(untraced)
    report = {
        "workload": workload, "seed": args.seed, "passes": len(untraced),
        "pass_s_all": [round(x, 4) for x in untraced],
        "op_s": {k: round(statistics.median(v), 4) for k, v in sorted(op_times.items())},
        "error_rate": n_failed / attempted, "failed_ops": sorted(set(failed)),
        "load_avg_before": [round(x, 2) for x in load_before],
        "load_avg_after": [round(x, 2) for x in load_after], "quiet_wait_s": waited,
        "setup_parts_s": {k: round(v, 3) for k, v in setup.items()},
        "check_op_s": {k: round(v, 3) for k, v in ctx.check_s.items()},
    }
    print("report " + json.dumps(report))
    metrics = {
        "pass_s": {"value": pass_s, "unit": "s"},
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }
    if args.trace:
        metrics = trace_metrics(workload, traced_passes, untraced, op_times, setup)
    return {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
            "metrics": metrics}


def trace_metrics(workload, traced_passes, untraced, op_times, setup) -> dict:
    """Every per-layer metric of BENCHMARK.json (0 where the workload does
    not reach the layer): medians over the traced passes, op_s.* over the
    untraced ones."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    per_pass = [m for _, m, _ in traced_passes]
    values = {k: statistics.median(p.get(k, 0.0) for p in per_pass)
              for k in {k for p in per_pass for k in p}}
    values.update({f"op_s.{k}": statistics.median(v) for k, v in op_times.items()})
    values["session.start_s"] = setup["session_s"]
    # against the untraced passes that ran between traced ones (the first
    # pass after set-up runs slower than later ones)
    values["trace.overhead_s"] = statistics.median(w for w, _, _ in traced_passes) - statistics.median(
        untraced[1:] or untraced)
    print_observations(workload, traced_passes[-1][2])
    print("trace " + json.dumps({k: round(v, 6) for k, v in sorted(values.items())}))
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}


def print_observations(workload, recs) -> None:
    """Per-operation accounting of the last traced pass, and the two ROADMAP
    observations this benchmark re-checks."""
    from spans import self_times

    build = wall = 0.0
    for rec in recs:
        selfs = self_times(rec["spans"])
        op_self = sum(selfs[sp["id"]] for sp in rec["spans"] if sp["layer"] == "op")
        exec_s = sum(sp["end"] - sp["start"] for sp in rec["spans"] if sp["layer"] == "spark.exec")
        hot = rec.get("hot") or {}
        build += sum(sp["end"] - sp["start"] for sp in rec["spans"] if sp["layer"] == "queries")
        wall += rec["wall"]
        print(f"trace-op {rec['name']} wall_s={rec['wall']:.4f} "
              f"span_self_s={sum(selfs.values()) - op_self - exec_s:.4f} exec_s={exec_s:.4f} "
              f"unattributed_share={op_self / rec['wall']:.4f} jobs={rec['n_jobs']} "
              f"stages={len(rec['stages'])} hot_stage_tasks={hot.get('tasks', 0)} "
              f"hot_stage_task_s={hot.get('task_s', 0.0):.3f} slots={CPUS}")
    if workload == "analytics" and wall:
        share = build / wall
        verdict = "confirmed" if 0.12 <= share <= 0.24 else "corrected"
        print(f"observation ROADMAP-1: plan building (query fn wall) is {share:.1%} of "
              f"analytics wall; recorded ~18% -> {verdict}")
    for rec in recs:
        if workload == "llm_curation" and rec["name"] == "q_dedup_ngram" and rec.get("hot"):
            hot = rec["hot"]
            verdict = "confirmed" if hot["tasks"] < CPUS else "corrected: its tasks fill the slots"
            print(f"observation ROADMAP-2: q_dedup_ngram hottest stage {hot['stage']} ran "
                  f"{hot['tasks']} tasks on {CPUS} slots ({hot['task_s']:.2f} task-s) "
                  f"-> few tasks relative to slots {verdict}")


if __name__ == "__main__":
    sys.exit(main())
