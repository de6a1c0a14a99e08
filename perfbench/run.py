"""Benchmark of ilogtail_spark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (outside every metric), starts one Spark driver at local[nproc],
then repeats whole rounds of the workload's ops until `--seconds` have
passed since the first op started. Every op's output is checked against
DuckDB. The last line of stdout is one JSON object: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Progress goes to stderr. All files go under .bench_work/ in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """One run: the work directory, the Spark session, the DuckDB
    connection, and the measurement around each op."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = probes.Tracer(trace)
        self.records: list[dict] = []
        self.spark = None
        self.stats = None
        self.jvm_pid = None
        self._op_seq = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def log_inputs(self, what: str) -> None:
        log(f"seed {self.seed}: {what}")

    def timed_noop(self, span: str, build) -> float:
        """Wall seconds to build a DataFrame and run it into a noop sink."""
        t0 = time.perf_counter()
        with self.tracer.span(span):
            build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def duckdb(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{self.path('duck_tmp')}'")
        return con

    def start_spark(self):
        os.environ["TMPDIR"] = self.path("tmp")
        # the launcher JVM that spark-submit starts first, too
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        cpus = os.cpu_count() or 1
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        sys.path.insert(0, ROOT)
        from ilogtail_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "3g",
                "spark.local.dir": self.path("spark_local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("FATAL")
        self.session_start_s = time.perf_counter() - t0
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        if self.trace:
            self.stats = probes.SparkStats(spark)
        return spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None

    def op(self, kind: str, fn, check, *, known_fault: str | None = None) -> dict:
        """Time one op from outside the program, then check its output."""
        self._op_seq += 1
        self.tracer.op_id = self._op_seq
        first_job = self.stats.jobs_so_far() if self.stats else 0
        cpu0 = probes.tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        err = None
        try:
            with self.tracer.span(kind):
                result = fn()
        except Exception as exc:  # an op that raises is a failed op
            err = [f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"]
            log(traceback.format_exc(limit=3))
        wall = time.perf_counter() - t0
        cpu = probes.tree_cpu_s(self.jvm_pid) - cpu0
        spark_figures = (
            self.stats.figures(range(first_job, self.stats.jobs_so_far()), wall)
            if self.stats else None
        )
        if err is None:
            with self.tracer.span("checks"):
                err = check(result)
        rec = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "errors": err,
               "known_fault": known_fault}
        if spark_figures:
            rec["spark"] = spark_figures
        self.tracer.op_id = None
        self.records.append(rec)
        state = "ok" if not err else ("known fault" if known_fault else "FAILED")
        log(f"{kind} {wall:.3f}s cpu {cpu:.2f}s {state} {'; '.join(err or [])[:400]}")
        return rec


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ilogtail_spark", "__init__.py")):
        log(f"no ilogtail_spark package under {ROOT}: run from the root of a full checkout")
        return 2

    bench = Bench(args.workload, args.seed, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](bench)
    try:
        # inputs and expected outputs: outside every metric
        t_gen = time.perf_counter()
        con = bench.duckdb()
        wl.prepare(con)
        gen_s = time.perf_counter() - t_gen

        spark = bench.start_spark()
        wl.register(spark)
        setup_s = probes.process_age_s() - gen_s
        log(f"inputs {gen_s:.2f}s (not counted), setup {setup_s:.2f}s "
            f"(session {bench.session_start_s:.2f}s)")
        wl.expect()

        steal0 = probes.steal_s()
        t0 = time.perf_counter()
        while True:
            for kind, fn, check, fault in wl.round():
                bench.op(kind, fn, check, known_fault=fault)
            if time.perf_counter() - t0 >= args.seconds:
                break
        steal = probes.steal_s() - steal0
        layers = wl.layers() if bench.trace else {}
    finally:
        bench.stop_spark()

    main_ops = [r for r in bench.records if r["kind"] == wl.main_op]
    warm = workloads.measured(main_ops)
    failed = [r for r in bench.records if r["errors"]]
    unexpected = [r for r in failed if not r["known_fault"]]
    if bench.trace:
        metrics = {"session.start_s": (bench.session_start_s, "s"),
                   "host.steal_s": (steal, "s")}
        for name in probes.SPARK_METRICS:
            metrics[name] = (_median([r["spark"][name] for r in warm]), probes.SPARK_METRICS[name])
        metrics.update(workloads.all_layers(layers, wl.layer_units))
        bench.tracer.write(bench.path("..", f"spans-{args.workload}-{args.seed}.json"))
        for name, secs in sorted(bench.tracer.self_times().items(), key=lambda kv: -kv[1]):
            log(f"span self time {secs:9.3f}s  {name}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_op_s": (main_ops[0]["wall_s"], "s"),
            "op_s_p50": (_median([r["wall_s"] for r in warm]), "s"),
            "cpu_s_per_op": (_median([r["cpu_s"] for r in warm]), "s"),
        }
    for name in sorted(metrics):
        log(f"{name} = {metrics[name][0]:.6g} {metrics[name][1]}")
    log(f"{len(bench.records)} ops, {len(failed)} failed ({len(unexpected)} unexpected), "
        f"{len(warm)} warm ops, host steal {steal:.2f}s")
    shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({
        "correct": not unexpected,
        "attempted": len(bench.records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
