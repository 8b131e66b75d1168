"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

From the root of a checkout. The run starts one SparkSession at
local[N] (N = min(2, nproc)) through the program's own `get_spark`,
generates the workload's inputs from --seed, warms up, then drives the
workload's job list in a closed loop (one job at a time) for --seconds.
Every job's output is checked. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before
it holds the details (environment, sample counts, per-job medians,
failures). --trace 0 reports the end-to-end metrics; --trace 1 reports
the per-layer metrics from a traced run, plus the tracing overhead.
All working files live under .perfbench_work/ in the checkout and are
removed at exit. Without the program next to perfbench/ the run exits
with code 2 and prints no result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two local cores, not all of them: the driver JVM's own threads, the
# Python driver and the Python workers get the rest, so a run does not
# measure the scheduler. A pass is bound by per-job fixed cost, not by
# executor cores (see README.md).
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
GEN_REPEATS = 3          # set-up generates the inputs this often; median reported
WARMUP_PASSES = 1        # the first pass pays class loading, JIT and codegen
DEADLINE_S = 150.0       # stop starting passes past this, to exit well inside 180 s
# C1 JIT only: on these small inputs a steady pass is as fast as with C2,
# warm-up is shorter, and no C2 recompilation lands inside a measured pass
# (see README.md, "Run time budget"). No perf-data file in /tmp.
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:-UsePerfData"


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _pin_environment(work: str) -> None:
    """The benchmark's own environment, never the caller's."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "OMP_NUM_THREADS": "1",
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _tree_digest(path: str) -> str:
    """Digest of every file under `path`, with `path` itself written as
    a placeholder (config files name their own absolute location)."""
    h = hashlib.sha256()
    for r, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(r, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read().replace(os.path.abspath(path).encode(), b"<root>"))
    return h.hexdigest()


def _environment(spark) -> dict:
    def cmd(args):
        try:
            return subprocess.run(args, capture_output=True, text=True, cwd=ROOT,
                                  timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_sha": cmd(["git", "rev-parse", "HEAD"]),
    }


class Run:
    """Counts and timings of one run's closed loop."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_s: list[float] = []
        self.job_s: dict[str, list[float]] = {}
        # per pass: CPU seconds of the process tree, driver JVM GC and JIT
        # ms, and the host's steal share (a busy host shows there)
        self.pass_cost: list[dict] = []

    def job(self, name: str, call, check, tracer, pass_no: int | None = None) -> float:
        """One closed-loop job (or, without a pass number, one layer call
        of the traced run): the call is timed, its check is not."""
        self.attempted += 1
        err = None
        with tracer.span(name, **({} if pass_no is None else {"pass": pass_no})):
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception as e:  # a failing job is recorded, the loop goes on
                err = f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
        if err is None:
            try:
                err = check(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
        if err:
            self.failures.append(f"{name}: {err}")
        self.job_s.setdefault(name, []).append(dt)
        return dt

    def one_pass(self, wl, tracer, pass_no: int) -> float:
        import harness

        wl.spark.catalog.clearCache()  # no plan-equality cache hits across passes
        cpu0, (gc0, jit0) = harness.tree_cpu_s(), harness.jvm_gc_compile_ms(wl.spark)
        steal0, ticks0 = harness.host_steal_ticks()
        dt = sum(self.job(n, c, k, tracer, pass_no) for n, c, k in wl.jobs())
        gc1, jit1 = harness.jvm_gc_compile_ms(wl.spark)
        steal1, ticks1 = harness.host_steal_ticks()
        self.pass_cost.append({"pass": pass_no, "cpu_s": harness.tree_cpu_s() - cpu0,
                               "gc_ms": gc1 - gc0, "jit_ms": jit1 - jit0,
                               "steal_share": (steal1 - steal0) / max(ticks1 - ticks0, 1)})
        return dt


def run(args, work: str, spec: dict) -> tuple[dict, dict]:
    import harness
    from workloads import WORKLOADS

    from op_etl_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JAVA_OPTIONS}",
        },
    )
    session_s = time.perf_counter() - T_PROCESS
    env = _environment(spark)
    tracer = harness.Tracer(spark, False, f"{args.workload}-{args.seed}")
    wl = WORKLOADS[args.workload](spark, args.seed, tracer)
    r = Run()

    gen_s, digests, infos = [], [], []
    for k in range(GEN_REPEATS):
        root = os.path.join(work, "inputs", str(k))
        t0 = time.perf_counter()
        infos.append(wl.generate(root))
        gen_s.append(time.perf_counter() - t0)
        digests.append(_tree_digest(root))
    for k in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(work, "inputs", str(k)))
    r.attempted += 1
    if len(set(digests)) != 1:
        r.failures.append("generator: the same seed wrote different bytes")

    t0 = time.perf_counter()
    wl.prepare(infos[0], os.path.join(work, "inputs", "0"))
    oracle_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    for k in range(WARMUP_PASSES):
        r.one_pass(wl, tracer, -1 - k)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + harness.median(gen_s) + build_s + warmup_s
    r.job_s.clear()
    wl.op_ms.clear()
    wl.recall.clear()

    # closed loop for --seconds; a traced run spends its second half traced
    t_measure = time.perf_counter()
    traced_pass_s: list[float] = []
    pass_no = 0
    while True:
        elapsed = time.perf_counter() - t_measure
        if args.trace and elapsed >= args.seconds / 2 and r.pass_s:
            tracer.enabled = True
        done = elapsed >= args.seconds and (traced_pass_s or not args.trace)
        late = time.perf_counter() - T_PROCESS > DEADLINE_S
        if r.pass_s and (done or late):
            break
        dt = r.one_pass(wl, tracer, pass_no)
        (traced_pass_s if tracer.enabled else r.pass_s).append(dt)
        pass_no += 1
    trace_enabled = tracer.enabled
    tracer.enabled = False

    t0 = time.perf_counter()
    for name, fn in wl.once_checks():
        r.attempted += 1
        try:
            err = fn()
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            r.failures.append(f"{name}: {err}")
    once_s = time.perf_counter() - t0

    pass_s = harness.median(r.pass_s)
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (wl.input_rows() / pass_s, "rows/s"),
            # a higher percentile would have fewer than ten samples beyond it
            "op_ms.p50": (harness.median(wl.op_ms), "ms"),
            "recall": (sum(wl.recall) / len(wl.recall), "ratio"),
            "stored_bytes_per_input_byte": (wl.stored_bytes() / wl.input_bytes(), "ratio"),
        }
    else:
        tracer.enabled = trace_enabled
        for name, call, check in wl.layer_calls():
            r.job(name, call, check, tracer)
        tracer.enabled = False
        layer = wl.layer_metrics(tracer)
        selfs = tracer.self_times()
        traced = [s for s in tracer.spans if s.get("pass", -1) >= 0]
        self_sum = {}
        for s in traced:
            self_sum[s["pass"]] = self_sum.get(s["pass"], 0.0) + selfs[s["id"]]
        coverage = harness.median(
            [self_sum[p] / t for p, t in zip(sorted(self_sum), traced_pass_s)])
        layer["trace.overhead_share"] = harness.median(traced_pass_s) / pass_s - 1.0
        layer["trace.self_time_coverage"] = coverage
        # what bounds a pass: executor time against the cores' wall time
        core_s = sum(traced_pass_s) * CPUS
        layer["trace.executor_cpu_share"] = sum(
            s["counters"]["executor_cpu_s"] for s in traced) / core_s
        layer["trace.executor_run_share"] = sum(
            s["counters"]["executor_run_s"] for s in traced) / core_s
        layer["trace.jobs_per_pass"] = sum(
            s["counters"]["jobs"] for s in traced) / len(traced_pass_s)
        # one list for both workloads: a layer this workload never calls reads 0
        metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}

    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "environment": env,
        "setup": {"session_s": session_s, "gen_s": gen_s, "build_s": build_s,
                  "warmup_s": warmup_s, "oracle_s": oracle_s, "once_checks_s": once_s},
        "passes": len(r.pass_s), "traced_passes": len(traced_pass_s),
        "pass_s": r.pass_s, "traced_pass_s": traced_pass_s,
        "pass_cost": r.pass_cost,
        "op_ms": wl.op_ms,
        "job_median_s": {k: harness.median(v) for k, v in r.job_s.items()},
        "failures": r.failures,
        "spans": _span_records(tracer),
    }
    result = {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


def _alive(pid: int) -> bool:
    """Running, not exited (a zombie left to another parent counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _span_records(tracer) -> list[dict]:
    """The traced spans, times relative to the first span's start."""
    if not tracer.spans:
        return []
    t0 = tracer.spans[0]["start"]
    selfs = tracer.self_times()
    return [{**{k: v for k, v in s.items() if k not in ("start", "end")},
             "start_s": s["start"] - t0, "duration_s": s["end"] - s["start"],
             "self_s": selfs[s["id"]]} for s in tracer.spans]


def _stop_spark() -> None:
    """Stop the session and its JVM, and wait for every process this run
    started (the JVM, the Python worker daemon and its workers) to end."""
    import harness

    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    started = harness.descendants()
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while started and time.monotonic() < deadline:
        started = {p for p in started if _alive(p)}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "op_etl_spark")):
        print(f"perfbench: the program (op_etl_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    spec = load_benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    sys.path[:0] = [HERE, ROOT]
    _pin_environment(work)
    import harness

    code = 0
    try:
        with harness.RssSampler() as rss:
            details, result = run(args, work, spec)
            _stop_spark()
        if args.trace:  # too variable run to run for an end-to-end bound
            result["metrics"]["session.peak_rss_mb"] = {
                "value": rss.peak_bytes / 2**20, "unit": "MB"}
        print(json.dumps(details, default=str))
        print(json.dumps(result))
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
