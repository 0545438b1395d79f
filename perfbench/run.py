"""Benchmark driver for flint_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ticks_sql --seed 1 --seconds 6 --trace 0

Generates the workload's inputs from the seed, checks every call's
output against DuckDB in an untimed verification pass, sets the session
up three times, then runs full passes over the workload for
``--seconds``. The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The
full report (input record, per-pass times, plan counts, spans, tracing
overhead) goes to ``.perfbench_work/out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: session set-ups per run; setup_s is their median
SETUPS = 3
#: the driver heap, fixed (-Xms = -Xmx) so that peak RSS does not
#: depend on when G1 chose to grow it
DRIVER_MEM = "1g"

END_TO_END = [("pass_s", "s"), ("rows_per_s", "rows/s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]


def call_metrics(call) -> list[tuple[str, str]]:
    """Per-layer metrics of one batch call. Python CPU only where the
    call must run Python; Python-stage counts only where the workload
    asserts them."""
    out = [("s", "s"), ("jvm_cpu_s", "s"), ("jobs", "count"),
           ("tasks", "count"), ("shuffles", "count")]
    if call.python is not None:
        out.append(("python_stages", "count"))
    if call.python:
        out.insert(2, ("py_cpu_s", "s"))
    return [(f"{call.name}.{m}", u) for m, u in out]


def per_layer_spec(workloads) -> list[tuple[str, str]]:
    spec: dict[str, str] = {}
    for wl in workloads.values():
        for call in wl.calls:
            spec.update(dict(call_metrics(call)))
    return list(spec.items())


def pin_environment() -> dict:
    """The launcher's pinned environment, set before the JVM starts so
    the driver and every Python worker inherit it."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}" '
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"
            " pyspark-shell"),
    }
    os.environ.update(pinned)
    sys.path[:0] = [ROOT, HERE]
    return pinned


class Runner:
    def __init__(self, wl, data_dir):
        self.wl, self.data = wl, data_dir
        self.spark = None
        self.tree = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -------------------------------------------------------- session
    def start(self):
        from flint_spark import get_spark
        from probes import ProcTree
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tree is None:
            pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            self.tree = ProcTree(int(pid))

    def restart(self):
        """A new session over the same SparkContext, with every cache
        dropped, so work a set-up does is done again (stopping the
        context too would add a Python-worker restart to every set-up
        and push a run past its time budget)."""
        from flint_spark.operators.ema import release_scan_caches
        from flint_spark.pipeline._cache import release_caches
        release_scan_caches()
        release_caches()
        self.spark.catalog.clearCache()
        self.spark = self.spark.newSession()
        self.inputs = self.wl.register(self.spark, self.data)

    def shutdown(self):
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def _fail(self, what: str, exc: BaseException | None = None):
        self.failed += 1
        msg = what if exc is None else f"{what}: {exc!r}"
        self.errors.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    # ---------------------------------------------------- batch passes
    def run_call(self, call, traced=False, pass_no=0):
        """Build and run one call through the noop sink; returns wall
        seconds and, when traced, the counters around it."""
        sc = self.spark.sparkContext
        rec = {}
        if traced:
            group = f"{call.name}#{pass_no}"
            sc.setJobGroup(group, call.name)
            cpu0 = self.tree.cpu()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            call.build(self.inputs).write.format("noop").mode("overwrite") \
                .save()
        except Exception as exc:  # noqa: BLE001 — count it, keep running
            self._fail(call.name, exc)
        dt = time.perf_counter() - t0
        if traced:
            from probes import job_counts
            cpu1 = self.tree.cpu()
            rec = {"jvm_cpu_s": cpu1[0] - cpu0[0],
                   "py_cpu_s": cpu1[1] - cpu0[1], **job_counts(sc, group)}
        rec["s"] = dt
        return rec

    def batch_pass(self, tracer=None, pass_no=0):
        traced = tracer is not None and tracer.enabled
        recs = {}
        t0 = time.perf_counter()
        if traced:
            with tracer.span("pass"):
                for call in self.wl.calls:
                    with tracer.span(call.name):
                        recs[call.name] = self.run_call(call, True, pass_no)
        else:
            for call in self.wl.calls:
                recs[call.name] = self.run_call(call)
        return time.perf_counter() - t0, recs

    def warm_up(self):
        """Untimed warm-up pass with the calls run at once, one thread
        each, like the verification pass."""
        def one(call):
            call.build(self.inputs).write.format("noop").mode("overwrite") \
                .save()
        with ThreadPoolExecutor(len(self.wl.calls)) as pool:
            for fut in [pool.submit(one, c) for c in self.wl.calls]:
                fut.result()

    def verify_batch(self, want) -> dict:
        """Untimed verification pass: run each call once, compare with
        its oracle, read its final plan's counts. The calls run at once,
        one thread each, so the cold JVM's JIT and code generation
        overlap across the cores."""
        from check import compare
        from flint_spark.plans.audit import plan_counts

        def one(call):
            df = call.build(self.inputs)
            got = df.toArrow()
            return got, plan_counts(df, execute=False)

        with ThreadPoolExecutor(len(self.wl.calls)) as pool:
            futs = [(c, pool.submit(one, c)) for c in self.wl.calls]
            results = []
            for call, fut in futs:
                self.attempted += 1
                try:
                    results.append((call, *fut.result()))
                except Exception as exc:  # noqa: BLE001
                    self._fail(call.name, exc)
        t0 = time.perf_counter()
        counts = {}
        for call, got, pc in results:
            counts[call.name] = {"shuffles": pc["shuffles"],
                                 "python_stages": pc["python"],
                                 "out_rows": got.num_rows}
            bad = compare(got, want[call.name])
            if call.python is False and pc["python"] != 0:
                bad.append(f"{pc['python']} Python stages, expected none")
            if call.python is True and pc["python"] < 1:
                bad.append("no Python stage, expected at least one")
            if bad:
                self._fail(f"{call.name} wrong: " + "; ".join(bad))
        return {"plan": counts, "check_s": time.perf_counter() - t0}


def oracles(wl, data_dir) -> dict:
    import duckdb

    import workloads as W
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(WORK, "duck")})
    try:
        con.execute("SET TimeZone = 'UTC'")
        W.duck_views(con, data_dir)
        return {call.name: call.oracle(con) if callable(call.oracle)
                else con.execute(call.oracle).arrow() for call in wl.calls}
    finally:
        con.close()


def prepare(wl, seed, data_dir):
    """Inputs from the seed and the oracle's answers, with their times
    in the input record."""
    import numpy as np
    t0 = time.perf_counter()
    record = wl.generate(np.random.default_rng(seed), data_dir)
    record["gen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    want = oracles(wl, data_dir)
    record["oracle_s"] = time.perf_counter() - t0
    return record, want


#: timed passes per run, at least; pass_s is their median. More passes
#: buy little: the spread between runs is mostly run-level (one run's
#: passes are all fast or all slow), not pass-to-pass noise
MIN_PASSES = 2


def timed_phase(runner, seconds, traced, run_id) -> dict:
    """Full passes until ``seconds`` have elapsed and at least
    ``MIN_PASSES`` of each kind ran. With tracing, passes alternate
    untraced / traced so both see the same conditions."""
    from probes import RssSampler, Tracer, cpu_ticks
    tracer = Tracer(run_id, traced)
    plain, traced_passes = [], []
    t_end = time.perf_counter() + seconds
    ticks0 = cpu_ticks()
    with RssSampler(runner.tree) as rss:
        while time.perf_counter() < t_end or len(plain) < MIN_PASSES or \
                (traced and len(traced_passes) < MIN_PASSES):
            n = len(plain) + len(traced_passes)
            use_trace = traced and n % 2 == 1
            entry = runner.batch_pass(tracer if use_trace else None, n)
            (traced_passes if use_trace else plain).append(entry)
    ticks1 = cpu_ticks()
    return {"plain": plain, "traced": traced_passes, "tracer": tracer,
            "peak_rss": rss.peak,
            "peak_rss_parts": dict(zip(("jvm", "workers", "n_workers"),
                                       rss.parts)),
            "steal_frac": (ticks1[1] - ticks0[1])
            / max(ticks1[0] - ticks0[0], 1)}


def end_to_end(wl, plain, record, setups, peak) -> tuple[dict, dict]:
    import workloads as W
    pass_s = statistics.median(p for p, _ in plain)
    m = {
        "pass_s": pass_s,
        "rows_per_s": W.input_rows(record) / pass_s,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak / 1e6,
    }
    return m, {"passes": [p for p, _ in plain],
               "calls_s": [{n: r["s"] for n, r in recs.items()}
                           for _, recs in plain]}


def per_layer(wl, spec, traced, plan) -> tuple[dict, dict]:
    """Per-layer metric values (0 for calls this workload does not make)
    and, for the report, every traced counter's median per call."""
    medians = {
        call.name: {k: statistics.median(recs[call.name][k]
                                         for _, recs in traced)
                    for k in traced[0][1][call.name]}
        for call in wl.calls}
    for call in wl.calls:
        medians[call.name].update(plan.get(call.name, {}))
    vals = {name: 0.0 for name, _ in spec}
    for call in wl.calls:
        for name, _ in call_metrics(call):
            metric = name[len(call.name) + 1:]
            vals[name] = medians[call.name].get(metric, 0)
    return vals, medians


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pinned = pin_environment()
    try:
        import flint_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(flint_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: flint_spark resolved outside the checkout "
              f"({flint_spark.__file__})", file=sys.stderr)
        return 2
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]

    data_dir = os.path.join(WORK, "data", wl.name)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    runner = Runner(wl, data_dir)
    report = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "env": pinned}
    try:
        # set-up 1 starts the JVM; its warm-up pass is the verification
        # pass (minus the time spent comparing). Set-ups 2.. start a new
        # session and run a warm-up pass.
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(prepare, wl, args.seed, data_dir)
            runner.start()
            record, want = prepared.result()
        report["inputs"] = record
        runner.inputs = wl.register(runner.spark, data_dir)
        ver = runner.verify_batch(want)
        setups = [time.perf_counter() - t0 - ver["check_s"]]
        report["verification"] = ver
        for _ in range(SETUPS - 1):
            t0 = time.perf_counter()
            runner.restart()
            runner.warm_up()
            setups.append(time.perf_counter() - t0)
        report["setups_s"] = setups
        timed = timed_phase(runner, args.seconds, bool(args.trace),
                            f"{wl.name}-seed{args.seed}")
    finally:
        runner.shutdown()

    e2e, extra = end_to_end(wl, timed["plain"], record, setups,
                            timed["peak_rss"])
    report.update(extra)
    report["steal_frac"] = timed["steal_frac"]
    report["peak_rss_parts"] = timed["peak_rss_parts"]
    report["end_to_end"] = e2e
    report["failed_frac"] = runner.failed / max(runner.attempted, 1)
    report["errors"] = runner.errors
    spec = per_layer_spec(W.WORKLOADS)
    if args.trace:
        layer, report["traced_calls"] = per_layer(
            wl, spec, timed["traced"], ver["plan"])
        traced_s = statistics.median(p for p, _ in timed["traced"])
        report["tracing_overhead_s"] = traced_s - e2e["pass_s"]
        report["trace"] = timed["tracer"].dump()
        metrics = {n: {"value": layer[n], "unit": u} for n, u in spec}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    report["wall_s"] = time.perf_counter() - T_START

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for name, m in metrics.items():
        print(f"{name:52s} {m['value']:>14.6g} {m['unit']}")
    print(f"report: {os.path.relpath(path, ROOT)}  failed_frac="
          f"{report['failed_frac']:.4f}  wall={report['wall_s']:.1f}s")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
