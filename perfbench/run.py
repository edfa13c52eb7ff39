"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_sync --seed 7 --seconds 10 --trace 0

Run from the repository root. One run: start Spark, build the
workload's inputs from ``--seed``, run one warm-up pass (set-up ends
here), then time passes of identical work until ``--seconds`` have
passed (at least one; on 4 cores a pass lasts longer than 10 s), then
check the outputs. With ``--trace 1`` the event log is on, and after
the timed passes one traced pass (every call in a span, see
``spans.py``) and one more untraced pass give the per-layer metrics and
the tracing overhead.

Output: an environment record, a per-op record, a one-line summary and,
last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "ccgp_data_wrangling_spark")
sys.path[:0] = [HERE, ROOT]

# below physical RAM (session.py defaults to 16g), and pinned (-Xms = -Xmx):
# a growing G1 heap makes the JVM's VmHWM swing by ±20% between runs
DRIVER_MEMORY = "2g"
MERGE_METHODS = ("upsert", "insert_only", "array_union_set", "array_pull",
                 "update_where_in", "delete_keys")


def process_age() -> float:
    """Seconds since this process started, on the boot clock (/proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return kb / 1024.0


def source_id() -> str:
    """The commit when run from a git checkout, else a hash of the package source."""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha1()
        for p in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
            with open(p, "rb") as fh:
                h.update(fh.read())
        return "src-" + h.hexdigest()[:12]


def pin_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cores": cpus, "mem_gb": round(mem_kb / 2**20, 1),
            "driver_memory": DRIVER_MEMORY, "loadavg_start": os.getloadavg()}


def spark_conf(work: str, event_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def heap_peak_mb(spark) -> float:
    """Peak used bytes of the JVM heap pools since start."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if str(p.getType()) == "Heap memory") / 2**20


def install_merge_probe(tracer):
    """Wrap the public ParquetTable MERGE methods so each call is a
    ``merge.<method>`` span; the source's row count is taken first in a
    ``probe.`` span, which the layer metrics leave out."""
    from ccgp_data_wrangling_spark.operators.merge import ParquetTable

    originals = {m: getattr(ParquetTable, m) for m in MERGE_METHODS}
    sources: dict[str, int] = {}

    def wrap(method, orig):
        def call(self, source, *args, **kwargs):
            with tracer.span("probe.source_rows"):
                n = source.count()
            with tracer.span(f"merge.{method}") as s:
                sources[s.id] = n
                return orig(self, source, *args, **kwargs)
        return call

    for m, orig in originals.items():
        setattr(ParquetTable, m, wrap(m, orig))

    def restore():
        for m, orig in originals.items():
            setattr(ParquetTable, m, orig)
    return sources, restore


def timed(wl) -> tuple[float, list]:
    """One pass of the workload, from the state every pass starts in."""
    wl.rewind()
    t = time.perf_counter()
    ops = wl.run_pass()
    return time.perf_counter() - t, ops


def end_to_end(setup_s: float, passes: list[tuple[float, list]]) -> dict:
    """The end-to-end metrics of the timed passes. ``run_s`` is the
    median pass wall time; ``op_geomean_s`` weighs each op type's median
    equally; a workload whose op is a pipeline cycle ("stage." records)
    takes the stages as its types."""
    done = [(n, s) for _w, ops in passes for n, s in ops if s is not None]
    stages = [(n, s) for n, s in done if n.startswith("stage.")]
    by_type: dict[str, list[float]] = {}
    for n, s in stages or done:
        by_type.setdefault(n, []).append(s)
    med = [statistics.median(v) for v in by_type.values()]
    lat = [s for n, s in done if not n.startswith("stage.")]
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(w for w, _ops in passes),
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "op_p50_n": len(lat),
        "op_geomean_s": math.exp(sum(map(math.log, med)) / len(med)) if med else float("nan"),
    }


def per_layer(wl, tracer, log_path: str, window, sources: dict, extra: dict):
    """The per-layer metrics of the traced pass, and one record per span."""
    from spans import PYTHON_ACCUMS, SpanMetrics
    from workloads import CURATION_OPS, DAILY_STAGES

    sm = SpanMetrics(tracer, log_path, window)
    top = [s.id for s in tracer.spans.values() if s.parent is None]
    tot = sm.of(top)
    result_rows = max(wl.result_rows_total(), 1)
    m = {
        "jobs": tot["jobs"], "job_s": tot["job_s"], "driver_s": tot["driver_s"],
        "executor_cpu_s": tot["executor_cpu_s"], "shuffle_bytes": tot["shuffle_bytes"],
        "scan_rows_per_result_row": tot["scan_rows"] / result_rows,
        "task_skew": tot["task_skew"], "unattributed_jobs": float(sm.unattributed),
    }
    for name, _scale in PYTHON_ACCUMS.values():
        m[name] = tot[name]
    merge = sm.named_prefix("merge.")
    mt = sm.of(merge)
    src_rows = sum(sources.get(s, 0) for s in merge)
    m.update({
        "merge.calls": float(len(merge)), "merge.s": mt["wall_s"], "merge.jobs": mt["jobs"],
        "merge.bytes_written": mt["bytes_written"],
        "merge.rows_written_per_source_row": mt["rows_written"] / src_rows if src_rows else 0.0,
    })
    for stage in DAILY_STAGES:
        st = sm.of(sm.named(stage))
        m[f"{stage}.s"] = st["wall_s"]
    st = sm.of(sm.named("reads_sync"))
    m["reads_sync.jobs"], m["reads_sync.driver_s"] = st["jobs"], st["driver_s"]
    for op in CURATION_OPS:
        b, e = sm.of(sm.named(f"op.{op}.build")), sm.of(sm.named(f"op.{op}.exec"))
        m[f"op.{op}.build_s"], m[f"op.{op}.build_jobs"] = b["wall_s"], b["jobs"]
        m[f"op.{op}.exec_s"] = e["wall_s"]
    m.update(wl.layer_counters())
    m.update(extra)
    spans = []
    for sid, sp in tracer.spans.items():
        if not sp.name.startswith("probe."):
            inc = sm.of([sid])
            spans.append({"name": sp.name, "parent": sp.parent and tracer.spans[sp.parent].name,
                          "wall_s": inc["wall_s"], "self_s": sm.self_s(sid),
                          "own_jobs": sm.own_jobs(sid), "jobs": inc["jobs"],
                          "job_s": inc["job_s"], "driver_s": inc["driver_s"]})
    return m, spans


def child_pids(pid: int) -> set[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo.extend(kids)
    return out


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers; wait until all have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    spark.stop()
    proc = getattr(gw, "proc", None)
    workers = child_pids(proc.pid) if proc is not None else set()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    SparkContext._gateway = SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict, dict]:
    import pyspark

    import workloads
    from ccgp_data_wrangling_spark.session import get_spark
    from spans import Tracer

    env = pin_env(work)
    wl = workloads.make(args.workload)
    t0 = time.time()
    # a --trace 1 run has the event log on from the start, not from a
    # restarted SparkContext: a restart strands the operators' cached
    # intermediates (caching.rotating_scope) on the stopped context
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, log_dir))
    try:
        spark.range(1).count()
        session_s = time.time() - t0
        env.update({"source": source_id(), "spark": pyspark.__version__,
                    "python": platform.python_version(),
                    "java": spark._jvm.System.getProperty("java.version"),
                    "workload": args.workload, "seed": args.seed, **wl.describe()})

        t = time.perf_counter()
        wl.prepare(os.path.join(work, "input"), args.seed)
        prepare_s = time.perf_counter() - t
        wl.start(spark, Tracer(None))
        t = time.perf_counter()
        warm_ops = wl.warm_up()
        warm_up_s = time.perf_counter() - t
        setup_s = process_age()

        # the timed phase: passes of identical work until --seconds have
        # passed; the metrics are medians over them
        passes = []
        t = time.perf_counter()
        while not passes or time.perf_counter() - t < args.seconds:
            passes.append(timed(wl))
        if args.trace:
            # one traced pass, then one more untraced pass: the traced
            # wall against the mean of the untraced passes on either side
            # of it (same work, same state) is the tracing overhead
            tracer = wl.tracer = Tracer(spark.sparkContext)
            sources, restore = install_merge_probe(tracer)
            gc0 = gc_seconds(spark)
            window = (time.time(), 0.0)
            try:
                traced_s, traced_ops = timed(wl)
            finally:
                restore()
            window = (window[0], time.time())
            gc_s = gc_seconds(spark) - gc0
            wl.tracer = Tracer(None)
            after_s, after_ops = timed(wl)
            heap_mb = heap_peak_mb(spark)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        hwm = {"python_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm_pid)}
        rss_mb = sum(hwm.values())
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    t = time.perf_counter()
    problems = wl.check()
    check_s = time.perf_counter() - t
    ops = [op for _w, pass_ops in passes for op in pass_ops]
    if args.trace:
        ops += traced_ops + after_ops
    failed = sum(1 for n, s in ops if not n.startswith("stage.") and (s is None or n in problems))
    attempted = sum(1 for n, _ in ops if not n.startswith("stage."))
    e2e = end_to_end(setup_s, passes)
    e2e["peak_rss_mb"] = rss_mb
    e2e["failed_frac"] = failed / attempted
    layers, detail = {}, {"session_start_s": session_s, "prepare_s": prepare_s,
                          "warm_up_s": warm_up_s, "warm_up_ops": warm_ops,
                          "pass_s": [w for w, _ops in passes],
                          "ops": [pass_ops for _w, pass_ops in passes],
                          "stop_s": stop_s, "check_s": check_s,
                          "vm_hwm": hwm, "problems": problems}
    if args.trace:
        (log_path,) = glob.glob(os.path.join(log_dir, "*"))
        untraced = (passes[-1][0] + after_s) / 2
        detail["overhead_pass_s"] = [passes[-1][0], traced_s, after_s]
        detail["traced_ops"] = traced_ops
        layers, detail["spans"] = per_layer(wl, tracer, log_path, window, sources, {
            "session.start_s": session_s, "gc_s": gc_s, "jvm.heap_peak_mb": heap_mb,
            "trace.run_s": traced_s, "trace.warm_run_s": untraced,
            "trace.overhead_s": traced_s - untraced, "failed_frac": e2e["failed_frac"],
        })
    env["loadavg_end"] = os.getloadavg()
    result = {"correct": failed == 0 and not problems, "attempted": attempted, "failed": failed,
              "e2e": e2e, "layers": layers}
    return env, detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        env, detail, res = run(args, work)
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, layers = res.pop("e2e"), res.pop("layers")
    print(json.dumps({"env": env}))
    print(json.dumps({"detail": detail}, default=str))
    units = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_geomean_s": "s",
             "peak_rss_mb": "MB", "failed_frac": "ratio"}
    print("end_to_end: " + "  ".join(f"{k}={e2e[k]:.4f} {u}" for k, u in units.items())
          + f"  (op_p50_s over {e2e['op_p50_n']} ops)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({**res, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
