"""The engine's benchmark: one closed-loop workload per run, one client
thread, one process on ``local[<nproc>]``.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0

Inputs are the tables ``gen.py`` generates from the fixed DATA_SEED,
once per checkout under ``.perfbench_work/data/``; ``--seed`` shuffles
the op order. Everything else a run writes goes to a per-run directory
under ``.perfbench_work/`` that is removed at exit. Ops run in rounds:
every round runs each of the workload's op types once, in an order
shuffled by the seed, and a run measures
``max(1, seconds // round_budget_s)`` whole rounds, so every run with the
same ``--seconds`` measures the same op mix. Every op's output is
checked (``checks.py``); a mismatch counts the op as failed.

Output: a ``{"perfbench": ...}`` report line (run header, op tail,
failure ratio, per-op medians, checks; with ``--trace 1`` also span
totals), then as the LAST line ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). A traced run reports its tracing
overhead against an untraced run of the same workload and sources: an
earlier one's result, else a child run made after the traced one.
See README.md in this directory for the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

from checks import Checker, rows_fingerprint  # noqa: E402
from spans import Tracer, attribute, parse_event_log, self_times, tail  # noqa: E402

import gen  # noqa: E402
from workloads import WORKLOADS, storage_mb  # noqa: E402

# The input tables are the same for every seed, as the engine's own
# reference corpora are: the seed varies the op order, and a fixed
# dataset lets a checkout compute each DuckDB oracle result once.
DATA_SEED = 42
WARM_SF = 0.001
# Pinned JVM heap per workload, below the 15 GiB of the 4-core machines
# the benchmark was tuned on. The write-heavy workload gets about the
# smallest heap Spark starts with (450 MiB), so the smallest replica
# the engine's policy will not cache is small too (see _replica_multiple).
DRIVER_MEM = {"star_queries": "3g", "text_dedup": "3g", "warehouse_load": "512m"}
REPLICA_MIN, REPLICA_MAX = 4, 64

# The end-to-end metrics of the last line, as BENCHMARK.json lists them.
# op_p50_s, op_tail_s and failed_frac go to the report line: over 8-10
# seeds op_p50_s spread by 0.17-0.21 (the median of 10-15 ops of 5-15
# kinds jumps between neighbouring kinds), op_tail_s needs 40 ops per
# run and failed_frac is 0 on a correct run.
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}

_GENERIC_LAYERS = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "star.build_s": "s",
    "star.cache_mb": "MB",
    "plans.build_s": "s/op",
    "plans.analyze_s": "s/op",
    "exec.action_s": "s/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.task_wait_s": "s/op",
    "exec.executor_run_s": "s/op",
    "exec.executor_cpu_s": "s/op",
    "exec.gc_s": "s/op",
    "exec.shuffle_read_mb": "MB/op",
    "exec.shuffle_write_mb": "MB/op",
    "exec.spill_mb": "MB/op",
    "exec.output_mb": "MB/op",
    "cache.leaked_rdds": "count/op",
    "cache.storage_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.self_residual_s": "s",
}
_PIPELINE_LAYERS = {
    "star.zone_mb": "MB",
    "pipeline.publish_s": "s/op",
    "pipeline.rows_written": "count",
    "pipeline.bytes_written_mb": "MB",
    "pipeline.task_attempts": "count",
    "pipeline.tasks_failed": "count",
}


def per_layer_units(workloads: list[str]) -> dict[str, str]:
    """Per-layer metric name → unit printed by a traced run of any of
    ``workloads``; a run prints every name, 0 where it does not apply."""
    units = dict(_GENERIC_LAYERS)
    for w in workloads:
        wl = WORKLOADS[w]
        if w == "warehouse_load":
            units.update(_PIPELINE_LAYERS)
            continue
        for op in wl.ops:
            units[f"exec.action_s.{op}"] = "s"
            if w == "star_queries":
                units[f"plans.build_s.{op}"] = "s"
                units[f"plans.analyze_s.{op}"] = "s"
            else:
                units[f"cache.leaked_rdds.{op}"] = "count"
    return units


# The workloads BENCHMARK.json lists; their traced runs share one
# per-layer metric set so every listed name is printed by each.
LISTED = ["star_queries", "text_dedup"]


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its direct children
    (the JVM), sampled from /proc. The JVM's own children, the Python
    workers it forks, are left out: they share pages with their parent,
    so summing their RSS counted the same memory once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak_mb = interval, 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> float:
        me = os.getpid()
        pids = [me]
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                            pids.append(int(d))
                except (OSError, ValueError, IndexError):
                    pass
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total / 2**20

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self.sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak_mb, self.sample())


class Ctx:
    """State shared by the loop and the workload hooks."""

    def __init__(self, spark, tracer, sf_dir: str, work: Path) -> None:
        self.spark, self.tracer, self.sf_dir, self.work = spark, tracer, sf_dir, work
        self.checker = Checker()
        self.layer: dict[str, float] = {}
        self.latencies: list[float] = []
        self.leaked: dict[str, list[int]] = {}
        self.rows_out: dict[str, int] = {}
        self.oracle_cache = work.parent / "oracle"
        self.queries: dict = {}


def _pin_env(workload: str, work: Path) -> dict[str, str]:
    """Launch settings, identical on every commit; recorded in the header."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM[workload],
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE_DIR": str(work / "zone"),
        "TMPDIR": str(work / "tmp"),
    }
    for k in ("spark-local", "tmp"):
        (work / k).mkdir(parents=True, exist_ok=True)
    os.environ.update(pinned)
    return pinned


def _replica_multiple(spark, sf_dir: str) -> int:
    """Smallest multiple ≥ REPLICA_MIN of ``sf_dir`` for which the
    engine's auto policy picks the parquet zone under this heap (its
    probe: uncompressed input bytes × expansion > heap)."""
    from adi_226_datawarehouse_project_spark.model import star

    n = star._probe_input_bytes(sf_dir, spark)
    heap = star._heap_bytes(spark)
    for m in range(REPLICA_MIN, REPLICA_MAX + 1):
        if n * m * star._CACHE_EXPANSION > heap:
            return m
    raise RuntimeError(f"no replica of {sf_dir} up to {REPLICA_MAX}x exceeds the heap; use a larger --sf")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _warm_round(ctx, wl) -> None:
    """One untimed, untraced round of every op type on the run's inputs;
    what its ops record is dropped."""
    tracer, layer, ctx.tracer = ctx.tracer, dict(ctx.layer), Tracer(False)
    try:
        for name in wl.ops:
            wl.before_op(ctx, name)
            wl.run_op(ctx, name)
            wl.after_op(ctx, name)
    finally:
        ctx.tracer, ctx.layer, ctx.leaked, ctx.rows_out = tracer, layer, {}, {}


def run(args, work: Path) -> tuple[dict, dict]:
    load_start = os.getloadavg()
    rss = RssSampler()
    rss.start()
    wl = WORKLOADS[args.workload]()

    t_gen = time.perf_counter()
    data = work.parent / "data"
    sf = args.sf or wl.base_sf
    sf_dir = gen.generate(str(data / f"sf{sf}-seed{DATA_SEED}"), sf, DATA_SEED)
    warm_dir = gen.generate(str(data / f"sf{WARM_SF}-seed{DATA_SEED}"), WARM_SF, DATA_SEED)
    gen_s = time.perf_counter() - t_gen
    pinned = _pin_env(args.workload, work)
    tracer = Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # initial heap = max heap: heap growth during the first rounds
        # made their ops slower and peak RSS vary from run to run
        "spark.driver.extraJavaOptions": f"-Xms{pinned['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={work / 'tmp'}",
    }
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t_setup = time.perf_counter()
    import bench
    from adi_226_datawarehouse_project_spark.model.star import (
        materialize_warehouse,
        resolve_warehouse_policy,
    )
    from adi_226_datawarehouse_project_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    ctx = Ctx(spark, tracer, sf_dir, work)
    try:
        ctx.queries = bench.build_queries()
        with tracer.span("setup.warmup"):
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            if wl.star_warmup:
                materialize_warehouse(spark, warm_dir)
            if wl.warm_round:
                _warm_round(ctx, wl)
        inputs = {"seed": args.seed, "data_seed": DATA_SEED, "sf": sf}
        if args.workload == "warehouse_load":
            t_rep = time.perf_counter()
            m = _replica_multiple(spark, sf_dir)
            sys.path.insert(0, str(ROOT / "scripts"))
            from replicate_sf import replicate

            replica = work / "data" / f"sf{sf}_x{m}"
            replicate(spark, sf_dir, m, replica)
            ctx.sf_dir = sf_dir = str(replica)
            inputs["replica_multiple"] = m
            rep_s = time.perf_counter() - t_rep
            gen_s += rep_s
            t_setup += rep_s
        policy = resolve_warehouse_policy(spark, sf_dir)
        inputs["policy"] = policy
        if wl.expected_policy and policy != wl.expected_policy:
            raise RuntimeError(
                f"{args.workload}: warehouse policy {policy!r}, expected {wl.expected_policy!r}"
            )
        wl.prepare(ctx)
        setup_s = time.perf_counter() - t_setup

        rng = random.Random(args.seed)
        names: list[str] = []
        rounds = max(1, int(args.seconds // wl.round_budget_s))
        t_begin = time.perf_counter()
        for _ in range(rounds):
            order = list(wl.ops)
            rng.shuffle(order)
            for name in order:
                op_id = len(names)
                names.append(name)
                t = time.perf_counter()
                try:
                    wl.before_op(ctx, name)
                    with tracer.span("op", op_id=op_id) as sp:
                        if sp is not None:
                            sp["op"] = name
                        t = time.perf_counter()
                        kind, out = wl.run_op(ctx, name)
                        dt = time.perf_counter() - t
                    ctx.latencies.append(dt)
                    ctx.checker.observe(op_id, name, rows_fingerprint(*out) if kind == "rows" else out)
                    wl.after_op(ctx, name)
                except Exception as e:  # an op that raises is a failed op
                    if len(ctx.latencies) == op_id:
                        ctx.latencies.append(time.perf_counter() - t)
                    ctx.checker.fail(op_id, name, f"{type(e).__name__}: {str(e)[:300]}")
        window_s = time.perf_counter() - t_begin
        peak_rss_mb = rss.stop()  # before verify: DuckDB is not the engine
        ctx.layer["cache.storage_mb"] = storage_mb(spark)
        wl.verify(ctx)
        heap_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    finally:
        _stop_spark(spark)

    import pyspark

    failed = ctx.checker.failed
    ok = [dt for i, dt in enumerate(ctx.latencies) if i not in failed]
    lat = ok or ctx.latencies
    per_op = {}
    for n in wl.ops:
        xs = [dt for i, dt in enumerate(ctx.latencies) if names[i] == n and i not in failed]
        per_op[n] = {"n": len(xs), "p50_s": statistics.median(xs) if xs else None, "samples_s": xs}
    inputs["tables"] = gen.table_stats(sf_dir)
    report = {
        "workload": args.workload,
        "header": {
            "cores": {"nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": pinned["SPARK_GRAFT_CPUS"]},
            "memory": {"jvm_max_heap_mb": heap_mb, "pinned_env": pinned},
            "load": {"start": load_start, "end": os.getloadavg()},
            "versions": {"pyspark": pyspark.__version__, "java": java, "python": platform.python_version()},
            "inputs": inputs,
            "loop": {"clients": 1, "rounds": rounds, "window_s": window_s},
        },
        "gen_s": gen_s,
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {**tail(lat), "unit": "s"},
        "failed_frac": {"value": len(failed) / len(names), "unit": "ratio"},
        "per_op": per_op,
        "checks": ctx.checker.notes,
    }
    if ctx.rows_out:  # a correctness figure: the checks pin it per op type
        report["rows_out"] = ctx.rows_out
    e2e = {"setup_s": setup_s, "ops_per_s": len(ok) / window_s, "peak_rss_mb": peak_rss_mb}
    result = {
        "correct": not failed,
        "attempted": len(names),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
    }
    if args.trace:
        layers = _layer_metrics(ctx, wl, names, report["op_p50_s"]["value"], work, report)
        units = per_layer_units(LISTED if args.workload in LISTED else [args.workload])
        result["metrics"] = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        report["end_to_end"] = e2e
    return report, result


def _layer_metrics(ctx, wl, names, op_p50_s: float, work: Path, report: dict) -> dict:
    """Per-layer numbers from the spans and the Spark event log."""
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    out: dict[str, float] = dict(ctx.layer)
    n_ops = len(names)

    def durations(name, op=None):
        return [
            s["end"] - s["start"] for s in spans
            if s["name"] == name and (op is None or (s["op_id"] is not None and names[s["op_id"]] == op))
        ]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    for name, key in (("session.start", "session.start_s"), ("setup.warmup", "setup.warmup_s")):
        out[key] = sum(durations(name))
    out["star.build_s"] = mean(durations("star.build"))
    out["pipeline.publish_s"] = mean(durations("pipeline.publish"))
    for span, key in (("plans.build", "plans.build_s"), ("plans.analyze", "plans.analyze_s"),
                      ("exec.action", "exec.action_s")):
        out[key] = sum(durations(span)) / n_ops
        for op in wl.ops:
            xs = durations(span, op)
            if xs:
                out[f"{key}.{op}"] = statistics.median(xs)
    leaked = [x for xs in ctx.leaked.values() for x in xs]
    out["cache.leaked_rdds"] = mean(leaked)
    for op, xs in ctx.leaked.items():
        out[f"cache.leaked_rdds.{op}"] = statistics.median(xs)

    logs = sorted(p for p in (work / "eventlog").rglob("*") if p.is_file())
    totals: dict[str, float] = {}
    if logs:
        log = parse_event_log(str(logs[0]))
        for sid, b in attribute(spans, log).items():
            if sid is not None and spans[sid]["op_id"] is not None:
                for k, v in b.items():
                    totals[k] = totals.get(k, 0) + v
    mb = 2**20
    for key, src, scale in (
        ("exec.jobs", "jobs", 1), ("exec.stages", "stages", 1), ("exec.tasks", "tasks", 1),
        ("exec.task_wait_s", "task_wait_s", 1), ("exec.executor_run_s", "run_s", 1),
        ("exec.executor_cpu_s", "cpu_s", 1), ("exec.gc_s", "gc_s", 1),
        ("exec.shuffle_read_mb", "shuffle_read_b", mb), ("exec.shuffle_write_mb", "shuffle_write_b", mb),
        ("exec.spill_mb", "spill_b", mb), ("exec.output_mb", "output_b", mb),
    ):
        out[key] = totals.get(src, 0) / scale / n_ops

    # Each op span: wall = union of its children + self time.
    span_report: dict[str, dict] = {}
    residual = 0.0
    for s in spans:
        if s["name"] != "op":
            continue
        kids = [c for c in spans if c["parent"] == s["id"]]
        wall = s["end"] - s["start"]
        child_s = {c["name"]: c["end"] - c["start"] for c in kids}
        residual = max(residual, abs(sum(child_s.values()) + selfs[s["id"]] - wall))
        r = span_report.setdefault(s["op"], {"n": 0, "wall_s": 0.0, "self_s": 0.0, "children_s": {}})
        r["n"] += 1
        r["wall_s"] += wall
        r["self_s"] += selfs[s["id"]]
        for k, v in child_s.items():
            r["children_s"][k] = r["children_s"].get(k, 0.0) + v
    out["trace.self_residual_s"] = residual
    out["trace.op_p50_s"] = op_p50_s
    report["spans"] = span_report
    report["spans_file"] = _dump_trace(ctx.tracer, work)
    return out


def _dump_trace(tracer, work: Path) -> str:
    d = ROOT / ".perfbench_work" / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{work.name}.json"
    tracer.dump(str(path))
    return str(path.relative_to(ROOT))


def _work_dir(args, pid: int) -> Path:
    return ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-p{pid}"


def _sources_digest() -> str:
    """Digest of every Python source of the checkout: the engine, its
    entry points and this benchmark."""
    h = hashlib.sha256()
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT)
        if rel.parts[0].startswith("."):
            continue
        h.update(str(rel).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def _untraced_path(args) -> Path:
    """Where an untraced run keeps its op_p50_s for a traced run of the
    same sources, workload, scale and length. The seed only reorders a
    round's ops, so any seed's figure serves."""
    tag = f"{args.workload}-sf{args.sf}-t{args.seconds}-{_sources_digest()}"
    return ROOT / ".perfbench_work" / "untraced" / f"{tag}.json"


def _untraced_p50(args, timeout_s: float) -> tuple[float | None, str]:
    """op_p50_s of the same workload on the same sources without
    tracing, and where it came from: an earlier untraced run's result,
    else a child run made now within ``timeout_s``."""
    path = _untraced_path(args)
    if not path.exists():
        if timeout_s < 10:
            return None, "omitted: no time left for an untraced child run"
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        if args.sf:
            cmd += ["--sf", str(args.sf)]
        # its own process group, so a timeout also stops the child's JVM
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.DEVNULL, start_new_session=True)
        try:
            child.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            for _ in range(100):  # until the rest of the group has ended
                try:
                    os.killpg(child.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            shutil.rmtree(_work_dir(args, child.pid), ignore_errors=True)
            return None, f"omitted: the untraced child run took over {timeout_s:.0f} s"
        if not path.exists():
            return None, "omitted: the untraced child run failed or its ops did"
        source = "child run"
    else:
        source = "earlier untraced run"
    saved = json.loads(path.read_text())
    return saved["op_p50_s"], f"{source}, seed {saved['seed']}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default 0.1; 0.05 for warehouse_load, which replicates it)")
    args = ap.parse_args(argv)
    if not (ROOT / "adi_226_datawarehouse_project_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    work = _work_dir(args, os.getpid())
    work.mkdir(parents=True, exist_ok=True)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace and result["correct"]:
        _untraced_path(args).parent.mkdir(parents=True, exist_ok=True)
        _untraced_path(args).write_text(json.dumps(
            {"seed": args.seed, "op_p50_s": report["op_p50_s"]["value"]}))
    if args.trace:
        # the child, if one is needed, gets what is left of 170 s
        untraced, source = _untraced_p50(args, 170 - (time.monotonic() - t0))
        p50 = result["metrics"]["trace.op_p50_s"]["value"]
        overhead = p50 - untraced if untraced is not None else 0.0
        result["metrics"]["trace.overhead_s"]["value"] = overhead
        report["trace_overhead"] = {
            "traced_op_p50_s": p50, "untraced_op_p50_s": untraced, "untraced_from": source,
        }
    print(json.dumps({"perfbench": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
