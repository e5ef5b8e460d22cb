"""The repository's benchmark: one closed-loop client validating a seeded
synthetic corpus at ``local[N]``, N = min(4, nproc).

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. One op (one full validation job) runs at
a time. A run starts the session, imports the rules and runs one cold op
(together: ``setup_s``), warms up, then runs ops for ``--seconds``.

``--trace 0`` prints the end-to-end metrics: ``run_s`` (median op wall
time), ``docs_per_s`` and ``setup_s``. ``--trace 1`` enables the Spark
event log, alternates untraced and traced ops, times every layer once
from outside the package (``workloads.layer_ledger``) and prints the
per-layer metrics. Every op's output is checked; an op that raises or
fails its check counts as failed. The last stdout line is the result
JSON; the line before it is the run's record (seed, sizes, host, op
quartiles), which is also appended to ``perfbench/.work/runs.jsonl``.

Inputs are generated from the seed in a separate process, so generation
never warms the measured JVM, and cached under ``perfbench/.work``.
Before the run exits, on every path out, it stops each JVM it started and
waits until every process it started has ended.
See ``perfbench/README.md`` for the workloads and the layer table.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from tracing import EVENT_LOG_LAYERS, Tracer, read_event_log

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
DEFAULT_SEED = 42
WARMUP_S = 10.0  # ops keep speeding up for 10-20 s after the cold op while the JIT works
MIN_OPS = 3

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s", "session.jvm_peak_rss_mb": "MB",
    "rules.import_s": "s", "rules.n_rules": "count",
    "sources.scan_s": "s", "sources.parse_s": "s",
    "sources.docs_in": "count", "sources.spans_in": "count",
    "sources.input_bytes": "bytes", "sources.corrupt_lines": "count",
    "sources.gen_s": "s",
    "pipeline.build_s": "s", "pipeline.plan_s": "s",
    "pipeline.jobs": "count", "pipeline.corpus_scans": "count",
    "row_checks.s": "s", "row_checks.violations": "count",
    "row_checks.docs_failing": "count", "row_checks.fail_ratio": "ratio",
    "set_checks.uniqueness_s": "s", "set_checks.referential_s": "s",
    "set_checks.refs_checked": "count", "set_checks.refs_missing": "count",
    "set_checks.dup_keys": "count",
    "report.violations_write_s": "s", "report.verdicts_write_s": "s",
    "report.aggregate_write_s": "s", "report.rows_written": "count",
    "report.bytes_written": "bytes",
}
EVENT_LOG_FIGURES = {
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes", "task_skew": "ratio", "tasks": "count",
}
SELF_TIME_LAYERS = ("sources", "row_checks", "set_checks", "report", "pipeline")


def per_layer_units() -> dict[str, str]:
    units = dict(PER_LAYER)
    for layer in EVENT_LOG_LAYERS:
        for fig, unit in EVENT_LOG_FIGURES.items():
            units[f"{layer}.{fig}"] = unit
    for layer in SELF_TIME_LAYERS:
        units[f"{layer}.self_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{min(4, nproc())}]"


def start_session(event_log: Path | None = None):
    """A ``local[N]`` session whose scratch files stay under ``WORK``."""
    from json_validator_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # no hsperfdata file under /tmp: every write stays under WORK
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name="perfbench", master=master(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark=None) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited.

    ``spark.stop()`` alone leaves the JVM running until this process
    exits, and it ends some time after that."""
    from pyspark import SparkContext

    if spark is None:
        spark = SparkContext._active_spark_context
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt the orphans of this process's children (a JVM whose Python
    parent was killed, a JVM's own helpers), so ``reap_children`` sees them."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: direct children are still waited for


def child_pids() -> list[int]:
    me, pids = str(os.getpid()), []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended meanwhile
        if fields[1] == me:
            pids.append(int(stat.parent.name))
    return pids


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process this one started, or adopted, has ended;
    kill those still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def input_dirs(wl, seed: int) -> tuple[Path, Path | None]:
    inputs = WORK / "inputs"
    cat = inputs / wl.catalog_key if wl.catalog_key else None
    return inputs / f"{wl.name}-seed{seed}-n{wl.n_docs}-c{wl.catalog_size}", cat


def generate(wl, seed: int) -> None:
    """Write the inputs for (workload, seed, size); ``meta.json`` last."""
    dest, cat = input_dirs(wl, seed)
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    spark = start_session()
    t0 = time.perf_counter()
    meta = wl.generate(spark, seed, tmp, cat)
    meta["gen_s"] = time.perf_counter() - t0
    stop_session(spark)
    meta |= {"workload": wl.name, "seed": seed, "n_docs": wl.n_docs}
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def ensure_inputs(wl, seed: int):
    from workloads import Inputs

    dest, cat = input_dirs(wl, seed)
    cached = (dest / "meta.json").exists() and (cat is None or cat.exists())
    if not cached:
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--generate",
             "--workload", wl.name, "--seed", str(seed)],
            check=True, stdout=sys.stderr, timeout=600,
        )
    meta = json.loads((dest / "meta.json").read_text())
    meta["cached"] = cached
    return Inputs(dest, cat, meta)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when the sample is too small for any."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(samples, n=100)[p - 1]
    return "max", max(samples)


def spread(samples: list[float]) -> dict:
    q = statistics.quantiles(samples, n=4) if len(samples) > 1 else samples * 3
    label, value = tail(samples)
    return {"n": len(samples), "q1": q[0], "median": q[1], "q3": q[2], label: value}


class Run:
    """One benchmark run: ops attempted and failed, and the checks."""

    def __init__(self, spark, wl, inp, rules, out: Path) -> None:
        self.spark, self.wl, self.inp, self.rules, self.out = spark, wl, inp, rules, out
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.reference: dict | None = None

    def op(self, tracer=None, op_id: str = "") -> float | None:
        """One op; its wall time, or None when it raised or its output
        differed from the first op's."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                raw = self.wl.op(self.spark, self.inp, self.rules, self.out)
            else:
                raw = self.wl.traced_op(
                    self.spark, self.inp, self.rules, self.out, tracer, op_id
                )
            dt = time.perf_counter() - t0
            result = self.wl.result(self.spark, raw, self.out)
        except Exception as e:  # an op failure is counted, not fatal
            self.failed += 1
            self.errors.append(f"op raised {type(e).__name__}: {e}"[:500])
            return None
        if self.reference is None:
            self.reference = result
        elif result != self.reference:
            self.failed += 1
            self.errors.append(f"output differs from first op: {result} != {self.reference}")
            return None
        return dt

    def fail(self, errs: list[str], ops: int) -> None:
        """A check over ``ops`` ops that found ``errs``."""
        if errs:
            self.errors += errs
            self.failed = min(self.attempted, self.failed + ops)


def expected_counts(wl, seed: int) -> dict | None:
    table = json.loads((BENCH / "expected_counts.json").read_text())
    entry = table.get(wl.name)
    if entry and entry["seed"] == seed and entry["n_docs"] == wl.n_docs:
        return entry["per_rule"]
    return None


def main(argv: list[str] | None = None) -> int:
    """Run the benchmark; on every way out, stop the JVM and wait for
    every process started here to end."""
    become_subreaper()
    # a terminated run still stops its JVM and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _main(argv)
    finally:
        if "pyspark" in sys.modules:
            stop_session()
        reap_children()


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / "json_validator_spark" / "__init__.py").is_file():
        print(f"perfbench: no json_validator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")  # wins over spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if args.generate:
        generate(wl, args.seed)
        return 0
    return measure(wl, args)


def measure(wl, args) -> int:
    from workloads import layer_ledger, ledger_per_rule

    load_before, cpu_before = load1(), cpu_times()
    inp = ensure_inputs(wl, args.seed)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    evdir = WORK / "eventlog" / f"{wl.name}-{args.seed}-{stamp}-{os.getpid()}" if args.trace else None
    out = WORK / "out" / wl.name

    t0 = time.perf_counter()
    spark = start_session(evdir)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    rules = wl.import_rules(WORK)
    import_s = time.perf_counter() - t0

    run = Run(spark, wl, inp, rules, out)
    cold_s = run.op()
    if cold_s is None:
        print(f"perfbench: cold op failed: {run.errors}", file=sys.stderr)
        return 1
    setup_s = session_s + import_s + cold_s

    # warm-up: the per-rule count evaluates the same pipeline once more,
    # so it warms the JIT like an op does; then ops until WARMUP_S
    t0 = time.perf_counter()
    counts = wl.per_rule(spark, inp, rules, run.reference)
    while time.perf_counter() - t0 < WARMUP_S:
        run.op()

    tracer = Tracer(spark) if args.trace else None
    plain: list[float] = []
    traced: list[float] = []
    t0 = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - t0
        enough = len(plain) >= MIN_OPS and (tracer is None or len(traced) >= MIN_OPS)
        # failing ops cannot keep the window open for ever
        if elapsed >= args.seconds and (enough or elapsed >= 4 * args.seconds):
            break
        if tracer and i % 2:
            dt = run.op(tracer, f"op{i:03d}")
            if dt is not None:
                traced.append(dt)
        else:
            dt = run.op()
            if dt is not None:
                plain.append(dt)
        i += 1
    if not plain:
        print(f"perfbench: every op failed: {run.errors[:3]}", file=sys.stderr)
        return 1

    # the per-rule counts are checked against the op's own output, the
    # counts recorded for the default seed, and (traced) the layers
    run.fail(wl.check(run.reference, counts, inp), run.attempted)
    expected = expected_counts(wl, args.seed)
    if expected is not None and dict(counts) != expected:
        run.fail([f"per-rule counts {dict(counts)} != recorded {expected}"], run.attempted)

    layers = None
    if tracer:
        layers = layer_ledger(spark, wl, inp, rules, tracer, WORK / "out" / f"{wl.name}-ledger")
        n_viol = run.reference["n_violations"]
        errs = []
        if ledger_per_rule(layers) != counts:
            errs.append(f"layer counts {dict(ledger_per_rule(layers))} != op per-rule {dict(counts)}")
        if layers["violation_rows_written"] != n_viol:
            errs.append(f"violation rows written {layers['violation_rows_written']} != {n_viol}")
        if layers["verdict_rows_written"] != inp.meta["n_lines"]:
            errs.append(f"verdict rows written {layers['verdict_rows_written']} != {inp.meta['n_lines']}")
        run.fail(errs, len(traced))
        jobs = [
            sum(len(spark.sparkContext.statusTracker().getJobIdsForGroup(f"{s.op_id}/{s.name}"))
                for s in tracer.spans if s.op_id == op_id and s.name.startswith("pipeline"))
            for op_id in sorted({s.op_id for s in tracer.spans if s.name == "pipeline"})
        ]
    rss_mb = jvm_peak_rss_mb(spark)
    stop_session(spark)  # flushes and closes the event log

    run_s = statistics.median(plain)
    # CPU time the hypervisor gave to other guests: host contention
    steal, total = (a - b for a, b in zip(cpu_times(), cpu_before))
    steal_pct = 100 * steal / max(1, total)
    record = {
        "workload": wl.name, "seed": args.seed, "n_docs": wl.n_docs,
        "catalog_size": wl.catalog_size, "trace": args.trace,
        "nproc": nproc(), "master": master(),
        "load1_before": load_before, "load1_after": load1(),
        "cpu_steal_pct": steal_pct,
        "input_cached": inp.meta["cached"], "gen_s": inp.meta["gen_s"],
        "session_s": session_s, "import_s": import_s, "cold_op_s": cold_s,
        "op_s": spread(plain), "op_samples": plain, "jvm_peak_rss_mb": rss_mb,
        "per_rule": dict(sorted(counts.items())), "errors": run.errors[:5],
    }
    if tracer:
        v = layer_metrics(wl, inp, tracer, layers, jobs, evdir) | {
            "session.start_s": session_s,
            "session.jvm_peak_rss_mb": rss_mb,
            "rules.import_s": import_s,
            "rules.n_rules": rules.n_rules,
            "trace.overhead_s": statistics.median(traced) - run_s,
        }
        metrics = {k: {"value": v[k], "unit": u} for k, u in per_layer_units().items()}
        record["traced_op_s"] = spread(traced)
        record["jobs_per_traced_op"] = jobs
        tracer.dump(WORK / "traces" / f"{wl.name}-seed{args.seed}-{stamp}.json")
        shutil.rmtree(evdir, ignore_errors=True)
    else:
        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "docs_per_s": {"value": inp.meta["n_lines"] / run_s, "unit": "docs/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with (WORK / "runs.jsonl").open("a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0


def layer_metrics(wl, inp, tracer, layers: dict, jobs: list[int], evdir: Path) -> dict:
    """Per-layer figures from the spans, the ledger's counts and the
    event log."""
    from workloads import dir_bytes

    figures, scans = read_event_log(evdir, wl.is_corpus_scan)
    last_op = sorted({s.op_id for s in tracer.spans if s.name == "pipeline"})[-1]

    def span_s(name: str) -> float:
        # spans inside traced ops first; the layer ledger's otherwise
        spans = [s for s in tracer.spans if s.name == name]
        spans = [s for s in spans if s.op_id != "layers"] or spans
        return statistics.median([s.end - s.start for s in spans] or [0.0])

    v = {
        "sources.scan_s": span_s("sources.scan"),
        "sources.parse_s": span_s("sources.parse"),
        "sources.docs_in": layers["docs_in"],
        "sources.spans_in": layers["spans_in"],
        "sources.input_bytes": dir_bytes(inp.dir),
        "sources.corrupt_lines": layers["corrupt_lines"],
        "sources.gen_s": inp.meta["gen_s"],
        "pipeline.build_s": span_s("pipeline.build"),
        "pipeline.plan_s": span_s("pipeline.plan"),
        "pipeline.jobs": jobs[-1],
        "pipeline.corpus_scans": sum(n for g, n in scans.items() if g.startswith(f"{last_op}/")),
        "row_checks.s": span_s("row_checks"),
        "row_checks.violations": sum(layers["row_rules"].values()),
        "row_checks.docs_failing": layers["docs_failing"],
        "row_checks.fail_ratio": layers["docs_failing"] / layers["docs_in"],
        "set_checks.uniqueness_s": span_s("set_checks.uniqueness"),
        "set_checks.referential_s": span_s("set_checks.referential"),
        "set_checks.refs_checked": layers["refs"],
        "set_checks.refs_missing": layers["refs_missing"],
        "set_checks.dup_keys": layers["dup_keys"],
        "report.violations_write_s": span_s("report.violations_write"),
        "report.verdicts_write_s": span_s("report.verdicts_write"),
        "report.aggregate_write_s": span_s("report.aggregate_write"),
        "report.rows_written": layers["rows_written"],
        "report.bytes_written": layers["bytes_written"],
    }
    empty = dict.fromkeys(EVENT_LOG_FIGURES, 0)
    for layer in EVENT_LOG_LAYERS:
        op_id = last_op if layer == "pipeline" else "layers"
        for fig, value in figures.get((op_id, layer), empty | {"task_skew": 1.0}).items():
            v[f"{layer}.{fig}"] = value
    for layer in SELF_TIME_LAYERS:
        v[f"{layer}.self_s"] = statistics.median(tracer.self_times(layer) or [0.0])
    return v


if __name__ == "__main__":
    sys.exit(main())
