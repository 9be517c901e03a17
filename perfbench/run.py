"""Engine benchmark entry point.

    python3 perfbench/run.py --workload {crawl,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. One process drives the engine at
local[<usable cores>]; the serve workload's requests come from one
closed-loop client (each waits for the previous reply). Inputs are
generated from --seed; set-up runs first (reported as setup_s), then
the workload's operations run up to the first stopping point after
--seconds, then the correctness checks run outside the timed region.

--trace 0 prints the end-to-end metrics; --trace 1 records spans at
every call into the engine's modules, re-runs the lazy operator
builders over the last operation's inputs, and prints the per-layer
metrics (perfbench/TRACE.md). The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}. Everything else goes to
stderr or to .bench_work/ (spans and a per-run record).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


END_TO_END = {
    "setup_s": "s",
    "cpu_s_geomean": "s",
    "items_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "traced.op_ms_p50": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.driver_s_per_op": "s",
    "spark.shuffle_mb_per_op": "MB",
    "proc.cpu_s_geomean": "s",
    "store.commits_per_op": "count",
    "store.commit_s_per_op": "s",
    "store.bytes_written_mb_per_op": "MB",
    "store.compactions": "count",
    "store.write_amp": "ratio",
    "store.bytes_per_doc": "B",
    "crawl.run_round_self_pct": "%",
    "store.commit_pct": "%",
    "store.compact_pct": "%",
    "store.manifest_pct": "%",
    "store.read_pct": "%",
    "index_pipeline.refresh_pct": "%",
    "index_pipeline.search_plan_pct": "%",
    "index_pipeline.search_exec_pct": "%",
    "queries.catalog_pct": "%",
    "crawl.pages_per_round": "count",
    "crawl.fetch_ok_ratio": "ratio",
    "crawl.admit_ratio": "ratio",
    "crawl.new_ratio": "ratio",
    "spans.extract_pct": "%",
    "urls.normalize_pct": "%",
    "frontier.schedule_pct": "%",
    "frontier.admit_pct": "%",
    "frontier.dedup_batch_pct": "%",
    "seen.probe_pct": "%",
    "seen.merge_pct": "%",
    "seen.prefilter_pass_ratio": "ratio",
    "seen.filter_mb": "MB",
    "index.postings_build_pct": "%",
    "pagerank.pct": "%",
    "anchors.build_pct": "%",
    "search.jobs_per_query": "count",
    "search.input_rows_per_query": "count",
    "catalog.exchanges": "count",
}

# probe seconds -> per-layer share of the probed operation's wall
PROBE_SHARES = {
    "spans.extract_s": "spans.extract_pct",
    "urls.normalize_s": "urls.normalize_pct",
    "frontier.schedule_s": "frontier.schedule_pct",
    "frontier.admit_s": "frontier.admit_pct",
    "frontier.dedup_batch_s": "frontier.dedup_batch_pct",
    "seen.probe_s": "seen.probe_pct",
    "seen.merge_s": "seen.merge_pct",
    "index.postings_build_s": "index.postings_build_pct",
    "pagerank.s": "pagerank.pct",
    "anchors.build_s": "anchors.build_pct",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """Everything one benchmark process shares with its workload."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        self.workdir = os.path.join(WORK, stem)
        self.spark = None
        self.reader = None
        self.tracer = None
        self.ops: list = []


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(run: Run):
    from searchengine_spark.session import get_spark

    from perfbench.sparkstats import RETAIN_CONF

    tmp = os.path.join(run.workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    n = usable_cores()
    conf = {
        **RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run.workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.workdir, "warehouse"),
        # keep every file the JVM writes inside the checkout (no /tmp/hsperfdata)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the inputs are small; a 2 GB heap keeps the JVM's peak RSS
        # (a gated metric) from wandering with G1's heap growth
        "spark.driver.memory": "2g",
    }
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and its Python workers have exited."""
    from pyspark import SparkContext

    from perfbench.sparkstats import _jvm_tree

    pids = _jvm_tree(spark)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_ops(run: Run, workload, ledger) -> None:
    """Closed loop over the workload's operations until --seconds pass."""
    from perfbench.sparkstats import tree_cpu_s, worker_cpu_s
    from perfbench.workloads import Op

    t_start = time.perf_counter()
    gen = workload.ops()
    for kind, fn, items_fn, boundary in gen:
        ok, span = True, None
        cpu0, py0 = tree_cpu_s(run.spark), worker_cpu_s(run.spark)
        t0 = time.perf_counter()
        try:
            if run.tracer is not None:
                with run.tracer.span(f"op.{kind}", "perfbench") as rec:
                    span = rec["id"]
                    fn()
            else:
                fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            ok = False
            log(f"operation {kind} failed:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        proc_cpu = tree_cpu_s(run.spark) - cpu0
        py_cpu = worker_cpu_s(run.spark) - py0
        items = 0
        if ok:
            try:
                items = int(items_fn())
            except Exception:  # noqa: BLE001
                items = 0
        jobs = run.reader.new_jobs()
        run.ops.append(
            Op(kind, wall, proc_cpu, run.reader.stats(jobs).cpu_s, py_cpu, items, ok, jobs, span)
        )
        ledger.record(ok, f"operation {kind}")
        if not ok or (boundary and time.perf_counter() - t_start >= run.seconds):
            break
    gen.close()


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    """Geometric means over the run's operations, so a light operation
    that doubles its cost counts as much as a heavy one that doubles.
    An operation's CPU is its stages' executor CPU plus the Python
    workers' CPU (where extract_spans_udf and the other pandas UDFs
    run)."""
    from perfbench.stats import geomean

    ops = [o for o in run.ops if o.ok] or run.ops
    cpu = [o.cpu_s for o in ops]
    values = {
        "setup_s": setup_s,
        "cpu_s_geomean": geomean([max(c, 1e-3) for c in cpu]),
        "items_per_cpu_s": sum(o.items for o in ops) / max(sum(cpu), 1e-3),
        "peak_rss_mb": rss_mb,
    }
    return {k: (values[k], unit) for k, unit in END_TO_END.items()}


def wall_summary(run: Run) -> dict:
    """Wall-clock figures of the timed operations, for the run record:
    on a shared host they follow CPU steal, so they are reported here
    and not gated (perfbench/TRACE.md)."""
    from perfbench.stats import median

    ops = [o for o in run.ops if o.ok] or run.ops
    walls = [o.wall_s for o in ops]
    return {
        "op_ms_p50": 1000.0 * median(walls),
        "items_per_s": sum(o.items for o in ops) / sum(walls),
        "ops": [
            {"kind": o.kind, "wall_s": o.wall_s, "items": o.items, "proc_cpu_s": o.proc_cpu_s,
             "exec_cpu_s": o.exec_cpu_s, "py_cpu_s": o.py_cpu_s, "jobs": len(o.jobs)}
            for o in ops
        ],
    }


def per_layer(run: Run, workload, probes: dict, bases: dict, leaf_exchanges: int) -> tuple[dict, dict]:
    from perfbench.stats import geomean, median
    from perfbench.workloads import dir_bytes

    tr, rd = run.tracer, run.reader
    ops = [o for o in run.ops if o.ok] or run.ops
    n = len(ops)
    spans_by_id = {s["id"]: s for s in tr.spans}
    # shares are of the measured wall: the timed operations
    op_ids = {o.span for o in ops}
    timed_wall = sum(spans_by_id[i]["end"] - spans_by_id[i]["start"] for i in op_ids if i in spans_by_id)

    def under_op(s) -> bool:
        while s is not None:
            if s["id"] in op_ids:
                return True
            s = spans_by_id.get(s["parent"])
        return False

    spans = [s for s in tr.spans if under_op(s)]
    self_t = tr.self_times()
    tot = rd.stats([j for o in ops for j in o.jobs])
    driver_s = sum(o.wall_s - rd.stats(o.jobs).busy_s for o in ops)

    def dur(s):
        return s["end"] - s["start"]

    def pct(sel, self_time=True) -> float:
        t = sum(self_t[s["id"]] if self_time else dur(s) for s in spans if sel(s))
        return 100.0 * t / timed_wall

    commits = [s for s in spans if s["name"] == "store.commit"]
    commit_stats = {s["id"]: rd.stats(rd.job_ids_for_group(s["group"])) for s in commits}
    written = sum(st.output_b for st in commit_stats.values())
    docs_written = sum(commit_stats[s["id"]].output_b for s in commits if s.get("arg") == "docs")
    store_root = workload.store_root()
    search_ops = [o for o in ops if o.kind == "search"]
    search_stats = rd.stats([j for o in search_ops for j in o.jobs])

    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "traced.op_ms_p50": 1000.0 * median([o.wall_s for o in ops]),
        "spark.jobs_per_op": tot.jobs / n,
        "spark.stages_per_op": tot.stages / n,
        "spark.tasks_per_op": tot.tasks / n,
        "spark.cpu_s_per_op": tot.cpu_s / n,
        "spark.gc_s_per_op": tot.gc_s / n,
        "spark.driver_s_per_op": driver_s / n,
        "spark.shuffle_mb_per_op": (tot.shuffle_read_b + tot.shuffle_write_b) / 1e6 / n,
        "proc.cpu_s_geomean": geomean([max(o.proc_cpu_s, 1e-2) for o in ops]),
        "store.commits_per_op": len(commits) / n,
        "store.commit_s_per_op": sum(dur(s) for s in commits) / n,
        "store.bytes_written_mb_per_op": written / 1e6 / n,
        "store.compactions": float(sum(1 for s in spans if s["name"] == "store.compact")),
        "store.write_amp": written / docs_written if docs_written else 0.0,
        "crawl.run_round_self_pct": pct(lambda s: s["name"] == "crawl.run_round"),
        "store.commit_pct": pct(lambda s: s["name"] == "store.commit"),
        "store.compact_pct": pct(lambda s: s["name"] == "store.compact"),
        "store.manifest_pct": pct(lambda s: s["name"] == "store.commit_manifest"),
        "store.read_pct": pct(lambda s: s["name"] == "store.read"),
        "index_pipeline.refresh_pct": pct(lambda s: s["name"] == "serve.refresh"),
        "index_pipeline.search_plan_pct": pct(lambda s: s["name"] == "search.plan", self_time=False),
        "index_pipeline.search_exec_pct": pct(lambda s: s["name"] == "search.exec", self_time=False),
        "queries.catalog_pct": pct(lambda s: s["name"] in ("leaf.plan", "leaf.exec"), self_time=False),
        "search.jobs_per_query": search_stats.jobs / max(len(search_ops), 1),
        "search.input_rows_per_query": search_stats.input_records / max(len(search_ops), 1),
        "catalog.exchanges": float(leaf_exchanges),
    })
    m.update(workload.funnel())
    for src, dst in PROBE_SHARES.items():
        if src in probes and bases.get(src):
            m[dst] = 100.0 * probes[src] / bases[src]
    for k in ("seen.prefilter_pass_ratio", "seen.filter_mb"):
        if k in probes:
            m[k] = probes[k]
    n_docs = workload.doc_rows()
    m["store.bytes_per_doc"] = dir_bytes(store_root) / n_docs if n_docs else 0.0
    detail = {"probes_s": probes, "commit_s_by_table": {}}
    for s in commits:
        t = str(s.get("arg"))
        detail["commit_s_by_table"][t] = detail["commit_s_by_table"].get(t, 0.0) + dur(s)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}, detail


def op_summary(run: Run) -> dict:
    """Per-kind sample counts and medians for the stderr / record line."""
    from perfbench.stats import geomean, median

    out: dict = {}
    for kind in sorted({o.kind for o in run.ops}):
        walls = [o.wall_s for o in run.ops if o.kind == kind and o.ok]
        if walls:
            out[kind] = {"n": len(walls), "p50_s": median(walls), "geomean_s": geomean(walls)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("searchengine_spark/__init__.py", "bench.py", "tools/check_correctness.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        log(f"run from a full checkout: missing {', '.join(missing)} under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.sparkstats import HostHealth, StatusReader, own_cpu_s, peak_rss_mb, worker_cpu_s
    from perfbench.stats import Ledger, median, result_line
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    run = Run(args)
    os.makedirs(run.workdir, exist_ok=True)
    marks = [("start", time.perf_counter())]
    # bench._cpu_canary() costs ~2.5 s of 16 busy processes, so only the
    # traced run (whose timings are not the end-to-end ones) takes it;
    # every run records steal and load
    health = HostHealth(canary=run.trace)  # before the JVM exists
    ledger = Ledger()
    try:
        # set-up: the Spark session, then the workload's build (seeded
        # inputs, engine objects, the engine seeding the workload's
        # state), BUILDS times into fresh stores; the last build is the
        # one the operations use. setup_s is the median build, in the CPU
        # the operations are measured in: this process, plus the executor
        # and Python-worker CPU of the build's jobs. The session start is
        # left out of it: its cold JVM took 7-15 s of wall (18-26 CPU-s)
        # in otherwise alike runs. Every engine operation after set-up is
        # timed (a CLI run of the engine pays the same cold JVM).
        marks.append(("host_health", time.perf_counter()))
        run.spark = start_spark(run)
        run.reader = StatusReader(run.spark)
        run.reader.new_jobs()  # the session start's jobs belong to no build
        marks.append(("spark_start", time.perf_counter()))
        if run.trace:
            run.tracer = Tracer(run.spark)
        builds = []
        n_builds = WORKLOADS[args.workload].BUILDS
        for i in range(n_builds):
            py0 = worker_cpu_s(run.spark)
            t0, cpu0 = time.perf_counter(), own_cpu_s()
            workload = WORKLOADS[args.workload](run, i)
            workload.setup(run.tracer if i == n_builds - 1 else None)
            cpu1, t1 = own_cpu_s(), time.perf_counter()
            b = {
                "wall_s": t1 - t0,
                "own_cpu_s": cpu1 - cpu0,
                "exec_cpu_s": run.reader.stats(run.reader.new_jobs()).cpu_s,
                "py_cpu_s": worker_cpu_s(run.spark) - py0,
            }
            builds.append({**b, "cpu_s": b["own_cpu_s"] + b["exec_cpu_s"] + b["py_cpu_s"]})
        marks.append(("setup", time.perf_counter()))
        setup_s = median([b["cpu_s"] for b in builds])
        run_ops(run, workload, ledger)
        marks.append(("ops", time.perf_counter()))
        try:
            workload.check(ledger)
        except Exception:  # noqa: BLE001 - a crashed check is a failed check
            log(f"checks failed:\n{traceback.format_exc()}")
            ledger.check(False, "checks ran to completion")
        marks.append(("checks", time.perf_counter()))
        if run.trace:
            probes = workload.probes()
            bases = {k: workload.probe_base(run.ops, k) for k in PROBE_SHARES}
            metrics, detail = per_layer(run, workload, probes, bases, workload.leaf_exchanges())
        else:
            rss = peak_rss_mb(run.spark)
            metrics = end_to_end(run, setup_s, rss["total"])
            detail = {"peak_rss_mb": rss}
        marks.append(("metrics", time.perf_counter()))
        record = {
            "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
            "trace": run.trace, "setup_s": setup_s, "builds": builds,
            "ops": op_summary(run), "wall": wall_summary(run),
            "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            "failures": ledger.failures, "health": health.record(), **detail,
            "metrics": {k: v for k, (v, _u) in metrics.items()},
        }
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        stem = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}"
        with open(os.path.join(WORK, "runs", stem + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if run.tracer is not None:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(WORK, "traces", stem + ".json"), {"record": record})
        log(json.dumps({k: record[k] for k in ("ops", "wall", "phases_s", "failures", "health")}))
        print(result_line(ledger, metrics), flush=True)
        return 0
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
