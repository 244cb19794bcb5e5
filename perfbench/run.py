"""perfbench: end-to-end and per-layer benchmark of the sentiment engine.

    python3 perfbench/run.py --workload panel_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process starts Spark on local[N]
(N = min(4, usable cores)), makes the workload's inputs from the seed,
warms up, then runs the workload's operation in a closed loop (one client)
for ``--seconds`` and checks the outputs. The last line of stdout is the
result: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` spends half the
time on untraced ops and half on traced ops (spans around every layer call,
see tracing.py), reports the per-layer metrics that BENCHMARK.json declares
plus the tracing overhead, and writes the spans and every layer figure to
``.perfbench_work/traces/``. Everything the run writes
stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
SETUP_REPEATS = 3  # input generation is repeated; set-up reports the median


# ----------------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out[1:]


def tree_cpu_seconds(pid: int) -> float:
    """User + system CPU time of this process tree, reaped children included."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._halt.wait(self.interval)

    def stop(self):
        self._halt.set()
        self.join(timeout=10)


# --------------------------------------------------------------------- spark
def start_spark(work: Path):
    """The engine's recommended session (sentometrics_spark.session) on
    local[CORES], with the harness settings passed as submit arguments."""
    from sentometrics_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    retain = "100000"  # the traced run reads jobs and stages back from the status store
    harness = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": retain,
        "spark.ui.retainedStages": retain,
        "spark.sql.ui.retainedExecutions": retain,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in harness.items()) + " pyspark-shell"
    spark = build_session(f"local[{CORES}]", "perfbench", 2 * CORES, HEAP)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------------- timing
def summary(samples: list[float]) -> dict:
    """Median, and the highest percentile with >= 10 samples beyond it."""
    s = sorted(samples)
    n = len(s)
    tail = None
    if n >= 11:
        p = 100.0 * (n - 10) / n
        tail = {"p": round(p, 1), "value": s[n - 11]}
    return {"n": n, "p50": statistics.median(s) if s else None, "tail": tail}


def set_up(w, work: Path) -> float:
    """Generate the inputs SETUP_REPEATS times, each into a fresh directory,
    keep the last copy, then prepare. Returns the median generation time
    plus the prepare time."""
    gen_times = []
    for k in range(SETUP_REPEATS):
        w.work = str(work / f"inputs{k}")
        t0 = time.perf_counter()
        w.generate()
        gen_times.append(time.perf_counter() - t0)
        if k + 1 < SETUP_REPEATS:
            shutil.rmtree(w.work)
    t0 = time.perf_counter()
    w.prepare()
    return statistics.median(gen_times) + time.perf_counter() - t0


class Loop:
    """Closed loop, one client: run ops until the time is up."""

    def __init__(self, w):
        self.w = w
        self.next_op = 0
        self.failed_ops: set[int] = set()
        self.errors: list[str] = []
        self.attempted = 0
        self.cpu: list[float] = []

    def run(self, seconds: float, before=None, after=None) -> list[float]:
        """Wall seconds of each op; CPU seconds of the process tree per op
        are appended to ``self.cpu``."""
        times: list[float] = []
        end = time.perf_counter() + seconds
        # start another op while time is left; the last one may end late, so
        # every run of a workload times about the same number of ops
        while time.perf_counter() < end:
            i = self.next_op
            if before:
                before(i)
            c0, t0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
            try:
                out = self.w.op(i)
            except StopIteration:
                break
            times.append(time.perf_counter() - t0)
            self.cpu.append(tree_cpu_seconds(os.getpid()) - c0)
            self.attempted += 1
            self.next_op += 1
            if after:
                after(i, out)
            fails = self.w.check_op(i, out)
            if fails:
                self.failed_ops.add(i)
                self.errors += fails
        return times

    def final(self) -> None:
        fails = self.w.final_checks()
        if fails:
            self.failed_ops.add(self.next_op - 1)
            self.errors += fails


# ------------------------------------------------------------------- layers
def layer_metrics(tracer, w, untraced_ops: list[str], traced_ops: list[str]) -> dict:
    """Per-layer metrics: per traced op, sum each layer's span self time and
    counts and its Spark metrics, then take the median over ops."""
    from tracing import per_op

    spans = tracer.dump()
    groups = {s["id"]: f"{tracer.run_id}.s{s['id']}" for s in spans}
    free = [f"{tracer.run_id}.{op}" for op in untraced_ops + traced_ops]
    spark_m = tracer.spark_metrics(list(groups.values()) + free)

    def by_op(names, value) -> float:
        tot = {op: 0.0 for op in traced_ops}
        for s in spans:
            if s["name"] in names and s["op"] in tot:
                tot[s["op"]] += value(s)
        return per_op(tot)

    def t(*names):
        return by_op(names, lambda s: s["self_s"])

    def c(key, *names):
        return by_op(names, lambda s: s["counts"].get(key, 0))

    def sm(key, *names):
        return by_op(names, lambda s: spark_m[groups[s["id"]]][key])

    def untraced(key):
        return per_op({op: spark_m[f"{tracer.run_id}.{op}"][key] for op in untraced_ops})

    m: dict[str, tuple[float, str]] = {}
    docs_in = c("docs_in", "scoring.udf_engine")
    rows_scored = untraced("rows_scored") if docs_in else 0
    m["corpus.scan_s"] = (t("corpus.scan"), "s")
    m["corpus.rows_out"] = (c("rows_out", "corpus.scan"), "count")
    m["scoring.udf_engine.self_s"] = (t("scoring.udf_engine"), "s")
    m["scoring.udf_engine.docs_in"] = (docs_in, "count")
    m["scoring.udf_engine.rows_scored"] = (rows_scored, "count")
    m["scoring.udf_engine.rescore_ratio"] = (
        rows_scored / w.docs_per_op if docs_in else 0.0, "ratio")
    m["scoring.arrow_floor_s"] = (t("scoring.arrow_floor"), "s")
    m["aggregate.doc_agg.self_s"] = (t("aggregate.doc_agg"), "s")
    m["aggregate.doc_agg.shuffle_bytes"] = (sm("shuffle_bytes", "aggregate.doc_agg"), "B")
    m["aggregate.doc_agg.rows_out"] = (c("rows_out", "aggregate.doc_agg"), "count")
    m["aggregate.time_agg.fill_s"] = (t("aggregate.time_agg.fill"), "s")
    m["aggregate.time_agg.kernel_s"] = (t("aggregate.time_agg.kernel"), "s")
    m["aggregate.time_agg.rows_out"] = (c("rows_out", "aggregate.time_agg.kernel"), "count")
    m["aggregate.time_agg.shuffle_bytes"] = (
        sm("shuffle_bytes", "aggregate.time_agg.fill", "aggregate.time_agg.kernel"), "B")
    store_spans = ("aggregate.tiers.write", "aggregate.tiers.refresh",
                   "aggregate.tiers.retention")
    batch_spans = ("aggregate.tiers.refresh", "aggregate.tiers.retention")
    m["aggregate.tiers.write_s"] = (t("aggregate.tiers.write"), "s")
    m["aggregate.tiers.refresh_s"] = (t("aggregate.tiers.refresh"), "s")
    m["aggregate.tiers.retention_s"] = (t("aggregate.tiers.retention"), "s")
    m["aggregate.tiers.jobs_per_batch"] = (sm("jobs", *batch_spans), "count")
    m["aggregate.tiers.partitions_rewritten"] = (
        c("partitions_rewritten", "aggregate.tiers.refresh"), "count")
    m["aggregate.tiers.files_written"] = (sm("files_written", *store_spans), "count")
    m["aggregate.tiers.bytes_written"] = (sm("bytes_written", *store_spans), "B")
    new_bytes = c("new_bytes", "aggregate.tiers.refresh")
    batch_bytes = sm("bytes_written", *batch_spans, "streaming.apply")
    m["aggregate.tiers.write_amp"] = (batch_bytes / new_bytes if new_bytes else 0.0, "ratio")
    m["aggregate.tiers.store_bytes_per_row"] = (w.extra.get("store_bytes_per_row", 0.0), "B")
    m["streaming.stage_s"] = (t("streaming.apply"), "s")
    m["streaming.stage_bytes"] = (sm("bytes_written", "streaming.apply"), "B")
    m["storage.gorilla.pack_s"] = (t("storage.gorilla.pack"), "s")
    m["storage.gorilla.decode_s"] = (t("storage.gorilla.decode"), "s")
    m["storage.gorilla.blob_bytes"] = (c("blob_bytes", "storage.gorilla.pack"), "B")
    m["storage.gorilla.points"] = (c("points", "storage.gorilla.pack"), "count")
    m["storage.gorilla.bytes_per_point"] = (w.extra.get("gorilla_bytes_per_point", 0.0), "B")
    m["model.elasticnet.fit_s"] = (t("model.elasticnet.fit"), "s")
    m["model.attribution.self_s"] = (t("model.attribution"), "s")
    m["model.attribution.rows_out"] = (c("rows_out", "model.attribution"), "count")
    m["model.attribution.shuffle_bytes"] = (sm("shuffle_bytes", "model.attribution"), "B")
    m["model.attribution.spill_bytes"] = (sm("spill_bytes", "model.attribution"), "B")
    dedup_spans = ("textops.dedup.spans", "textops.dedup.minhash")
    in_bytes = getattr(w, "input_bytes", 0)
    m["textops.dedup.spans_s"] = (t("textops.dedup.spans"), "s")
    m["textops.dedup.minhash_s"] = (t("textops.dedup.minhash"), "s")
    m["textops.dedup.shuffle_bytes_per_input_byte"] = (
        sm("shuffle_bytes", *dedup_spans) / in_bytes if in_bytes else 0.0, "ratio")
    m["textops.dedup.spill_bytes"] = (sm("spill_bytes", *dedup_spans), "B")
    for key in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{key}"] = (untraced(key), "B" if key.endswith("bytes") else "count")
    return m


# ---------------------------------------------------------------------- run
def run_untraced(args, w, loop: Loop, phases: dict) -> tuple[dict, dict]:
    times = loop.run(args.seconds)
    t0 = time.perf_counter()
    loop.final()
    phases["checks_s"] = time.perf_counter() - t0
    p50 = statistics.median(times)
    report = {
        "op_s": summary(times), "op_cpu_s": summary(loop.cpu), "docs_per_op": w.docs_per_op,
        "stages": {k: summary(v) for k, v in w.stages.items()}, **w.report(p50),
    }
    metrics = {"op_p50_s": (p50, "s")}
    return metrics, report


def run_traced(args, w, loop: Loop, env: dict) -> tuple[dict, dict]:
    """Half the time untraced ops, half traced ops; per-layer metrics."""
    from tracing import Tracer
    from workloads import Workload, force, identity

    tracer = Tracer(w.spark, f"r{args.seed}")
    untraced_ops, traced_ops = [], []

    def untraced(i):
        untraced_ops.append(f"op{i}")
        tracer.group(f"op{i}")

    def traced(i):
        traced_ops.append(f"op{i}")
        tracer.group(f"op{i}")

    def after_traced(i, out):
        w.trace_extra(out)
        floor_df = w.floor_input()
        if floor_df is not None:
            with tracer.span("scoring.arrow_floor"):
                force(floor_df.mapInArrow(identity, floor_df.schema))
        tracer.release()

    times_u = loop.run(args.seconds / 2, before=untraced)
    with tracer.instrument(w.targets() + [(Workload, "scan", "corpus.scan", None)]):
        times_t = loop.run(args.seconds / 2, before=traced, after=after_traced)
    tracer.group("checks")
    loop.final()
    layers = layer_metrics(tracer, w, untraced_ops, traced_ops)
    layers["trace.overhead_s"] = (statistics.median(times_t) - statistics.median(times_u), "s")
    out_dir = ROOT / ".perfbench_work" / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    trace_file = out_dir / f"{args.workload}-seed{args.seed}.json"
    trace_file.write_text(json.dumps({
        "env": env, "spans": tracer.dump(),
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
    }, indent=1, default=str))
    report = {"untraced_op_s": summary(times_u), "traced_op_s": summary(times_t),
              "trace_file": str(trace_file.relative_to(ROOT))}
    declared = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    return {k: v for k, v in layers.items() if k in declared}, report


def run(args, work: Path, sampler: RssSampler) -> tuple[dict, dict]:
    import pyspark

    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(work)
    jvm_s = time.perf_counter() - t0
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": CORES,
        "spark_version": pyspark.__version__, "heap": HEAP,
    }
    try:
        w = WORKLOADS[args.workload](spark, str(work), args.seed, args.scale)
        inputs_s = set_up(w, work)
        t0 = time.perf_counter()
        warm_fails = w.warmup()
        warm_s = time.perf_counter() - t0
        phases = {"jvm_s": jvm_s, "inputs_s": inputs_s, "warmup_s": warm_s}
        loop = Loop(w)
        loop.errors += warm_fails
        if args.trace:
            metrics, report = run_traced(args, w, loop, env)
        else:
            metrics, report = run_untraced(args, w, loop, phases)
            metrics = {"setup_s": (jvm_s + inputs_s + warm_s, "s"), **metrics}
            report["phases"] = phases
    finally:
        stop_spark(spark)
    if args.trace:
        metrics["peak_rss_mb"] = (sampler.peak / 1e6, "MB")
    else:
        report["peak_rss_mb"] = sampler.peak / 1e6
    result = {
        "correct": not loop.failed_ops and not loop.errors,
        "attempted": loop.attempted,
        "failed": len(loop.failed_ops) + (1 if loop.errors and not loop.failed_ops else 0),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"env": env, "report": report, "errors": loop.errors[:20]}, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-tests run at a small scale)")
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import sentometrics_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(HERE), str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sampler = RssSampler()
    sampler.start()
    try:
        info, result = run(args, work, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
