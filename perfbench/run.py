"""Benchmark of the extraction engine: one workload per run.

    python3 perfbench/run.py --workload {crawl_batch,book_requests}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its parquet inputs from the
seed, starts the engine's Spark session on local[N] (N = min(4, cores)),
measures the workload's ops for S seconds of op time, checks every op's
outputs, and prints ``name value unit`` lines followed by one JSON object:
end-to-end metrics when untraced, per-layer metrics when traced. Set-up is
measured twice per run (a cold session, then a restart in the same JVM)
and reported as the median. Everything a run writes lives under
``.bench_out/`` in the repository root; only the span dump of a traced run
is kept.
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

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4
MAX_RUN_S = 150  # stop starting ops after this much wall time
TAIL_MIN_BEYOND = 10
KEEP_OP = 1  # its outputs stay until the layer probes measure their size


def _setup_paths() -> None:
    """Put the repository on the driver's and the Python workers' path:
    JVM-spawned workers do not inherit ``sys.path``, only PYTHONPATH, so a
    run launched from outside the repository root needs it exported before
    the session starts."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = (
        ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(workdir: str, event_log: str | None) -> dict:
    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(cores: int, conf: dict):
    """Set-up as a user pays it: session start, then the first UDF batch
    (Python worker spawn and imports). Returns (spark, start_s, warmup_s)."""
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    page = spark.createDataFrame(
        [("warm-up", None, "Set-up ends after the first batch. It is short.")],
        "url string, html binary, text string",
    )
    rows = extract_chunks(page, num_partitions=1).collect()
    if len(rows) != 1:
        raise RuntimeError(f"warm-up batch returned {len(rows)} chunks")
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """End the gateway JVM and wait for it. A stopped session leaves the JVM
    running until the interpreter exits; the JVM exits when its stdin
    closes, and its Python workers end with the session."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it; the maximum when there are too few
    samples for that."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return 100.0, s[-1]
    k = n - TAIL_MIN_BEYOND  # 1-based rank with 10 samples above it
    return round(100.0 * k / n, 1), s[k - 1]


class Run:
    def __init__(self, args):
        from perfbench import gen
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.cores = min(MAX_CORES, os.cpu_count() or 1)
        self.workdir = os.path.join(
            ROOT, ".bench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.workdir, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.workdir, "tmp")
        self.tracer = Tracer(bool(args.trace))
        self.wl = WORKLOADS[args.workload](
            args.seed, self.workdir, gen.load_sentences(), self.cores)
        self.attempted = 0
        self.failed = 0
        self.leaked: list[int] = []
        self.setup: list[tuple[float, float]] = []
        self.keep_op = KEEP_OP
        self.t_phase = T0

    def op(self, spark, i: int, tracer, timed: list) -> None:
        """One op: run, count leaked RDDs, release them, check outputs."""
        from perfbench.workloads import persistent_rdds, release_persistent_rdds

        self.attempted += 1
        tracer.op_id = i + 1
        rec = None
        try:
            rec = self.wl.run(spark, i, tracer)
            self.leaked.append(persistent_rdds(spark))
            # released so later ops do not slow down by how many came before
            release_persistent_rdds(spark)
            errors = self.wl.check(spark, rec)
        except Exception:
            traceback.print_exc()
            errors = ["exception"]
        tracer.op_id = 0
        if errors:
            self.failed += 1
            print(f"op {i} FAILED: {errors[:5]}", file=sys.stderr)
        else:
            timed.append(rec)
        if rec is not None and i != self.keep_op:
            self.wl.cleanup(rec)

    def phase(self, name: str) -> None:
        """Wall time of each run phase, on stderr."""
        now = time.perf_counter()
        print(f"perfbench phase {name}: {now - self.t_phase:.2f} s", file=sys.stderr)
        self.t_phase = now

    def window(self, spark, seconds: float) -> tuple[list[dict], list[dict]]:
        """Ops until their summed wall time reaches ``seconds`` and at least
        the workload's ``min_ops`` have run. A traced run
        alternates traced and untraced ops, so the two sets see the same
        warm-up and their difference is the tracing overhead. Returns
        (traced ops, untraced ops)."""
        from perfbench.tracing import Tracer

        untraced = Tracer(False)
        sets: tuple[list[dict], list[dict]] = ([], [])
        spent = 0.0
        i = 1

        def more() -> bool:
            # a traced run needs at least one op of each kind
            return (spent < seconds or i <= self.wl.min_ops
                    or (self.tracer.enabled and not all(sets)))

        while more() and time.perf_counter() - self.t_start < MAX_RUN_S:
            traced = self.tracer.enabled and i % 2 == 1
            done = sets[0] if traced or not self.tracer.enabled else sets[1]
            n_before = len(done)
            t0 = time.perf_counter()
            self.op(spark, i, self.tracer if traced else untraced, done)
            spent += done[-1]["wall_s"] if len(done) > n_before else time.perf_counter() - t0
            i += 1
        return sets

    def main(self) -> dict:
        """Cold session -> (traced: one untimed op) -> measured window ->
        (traced: layer probes) -> a session restart in the same JVM, the
        second set-up sample. The window runs in the cold session: a
        restarted session inherits UDFs bound to the stopped session's
        accumulator."""
        from perfbench import layers as L
        from perfbench.tracing import RssSampler, Tracer

        self.t_start = T0
        args = self.args
        event_log = os.path.join(self.workdir, "eventlog") if args.trace else None
        self.phase("inputs")
        spark, s, w = start_session(self.cores, session_conf(self.workdir, event_log))
        self.setup.append((s, w))
        self.phase("cold session")
        self.tracer.bind(spark)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with RssSampler(jvm_pid) as rss:
            # a traced run warms up first: its traced and untraced ops must
            # differ only in tracing
            if args.trace:
                self.op(spark, 0, Tracer(False), [])  # checked, untimed
                self.phase("warm-up op")
            ops, untraced = self.window(spark, args.seconds)
            self.phase(f"window ({len(ops) + len(untraced)} ops)")
        probes = L.collect(self, spark, ops) if args.trace else {}
        spark.stop()
        self.phase("layer probes and stop")
        spark, s, w = start_session(self.cores, session_conf(self.workdir, None))
        self.setup.append((s, w))
        spark.stop()
        self.phase("restart")
        result = self.metrics(ops, rss.peak_mb)
        if args.trace:
            result["layers"] = L.finish(self, ops, untraced, probes, event_log,
                                        rss.peak_mb)
        return result

    def metrics(self, ops: list[dict], peak_mb: float) -> dict:
        walls = [r["wall_s"] for r in ops]
        p_tail, v_tail = tail(walls) if walls else (None, None)
        med = statistics.median(walls) if walls else None
        return {
            "setup_s": statistics.median(s + w for s, w in self.setup),
            "docs_per_s": self.wl.unit_docs / med if med else None,
            "latency_p50_ms": med * 1000 if med else None,
            "latency_tail_ms": v_tail * 1000 if walls else None,
            "peak_rss_mb": peak_mb,
            "error_rate": self.failed / max(1, self.attempted),
            "_tail_percentile": p_tail,
            "_samples": len(walls),
        }


UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "peak_rss_mb": "MB", "error_rate": "ratio",
}
# peak_rss_mb and error_rate are printed by every run but are per-layer
# metrics: which Python worker happens to take the batches holding the tail
# pages sets the peak, so it spreads by up to 39% between runs; error_rate
# is 0 on a correct run.
END_TO_END = ("setup_s", "docs_per_s", "latency_p50_ms", "latency_tail_ms")


def main(argv=None) -> int:
    _setup_paths()
    try:
        import textractssmlprocessor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    run = Run(args)
    try:
        res = run.main()
    finally:
        stop_jvm()
        if args.trace and run.tracer.spans:
            traces = os.path.join(ROOT, ".bench_out", "traces")
            run.tracer.dump(os.path.join(
                traces, f"{args.workload}-{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(run.workdir, ignore_errors=True)
    print(f"workload {args.workload} seed {args.seed} cores {run.cores}")
    for k, v in run.wl.inputs.items():
        print(f"input.{k} {v}")
    print(f"samples {res['_samples']} tail_percentile {res['_tail_percentile']}")
    print(f"error_rate {res['error_rate']:.6f} ratio "
          f"({run.failed} failed of {run.attempted} attempted)")
    print(f"peak_rss_mb {res['peak_rss_mb']} MB")
    if args.trace:
        from perfbench.layers import PER_LAYER

        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": UNITS[k]} for k in END_TO_END}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    ok = run.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
