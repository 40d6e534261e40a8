"""Pipeline benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The program is started only through
its public entry points; inputs come from the seeded generator
(perfbench/gen.py, a separate process). With ``--trace 0`` the result
holds every end-to-end metric named in BENCHMARK.json, with ``--trace 1``
every per-layer metric, and the run's spans are written to
``perfbench-run/out/<workload>.spans.json``. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

Exit status is non-zero, with no result line, if the program is not in
the checkout or a run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run that is not done by then is abandoned
DRIVER_MEM = "2g"  # the inputs are small; a modest heap leaves the machine room


class Ctx:
    """State of one run: arguments, working dirs, tracer and counters."""

    def __init__(self, args, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        from gen import SIZES

        self.size = args.size
        self.sizes = SIZES[args.size]
        self.tracer = tracer
        self.run_dir = os.path.join(ROOT, "perfbench-run", args.workload)
        self.out_dir = os.path.join(ROOT, "perfbench-run", "out")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.procs: list[subprocess.Popen] = []
        self.setup_s = None
        from spans import process_start_time

        self.t_process = process_start_time()

    def log(self, msg: str) -> None:
        print(f"perfbench: +{time.time() - self.t_process:.1f}s {msg}", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check: {msg}")

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_process
        self.log("set-up done")

    def session(self):
        from rabbit_data_pipeline_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    # -- generator process ---------------------------------------------------------
    def start_generator(self, args: list[str]) -> subprocess.Popen:
        env = {**os.environ, "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1"}
        # The generator runs in the checkout root and is given its directory
        # relative to it: queue_dir_publish rewrites every "/." in a path, so an
        # absolute path through a dot-directory would not be the queue's path.
        root = os.path.relpath(self.run_dir, ROOT)
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), *args, "--seed", str(self.seed), "--root", root]
        cmd += ["--size", self.size]
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.procs.append(p)
        return p

    @staticmethod
    def wait_generator(p: subprocess.Popen) -> None:
        p.stdin.close()
        if p.wait(timeout=120) != 0:
            raise RuntimeError(f"generator exited with {p.returncode}")

    @staticmethod
    def expect_line(p: subprocess.Popen, word: str, timeout: float) -> None:
        with selectors.DefaultSelector() as sel:
            sel.register(p.stdout, selectors.EVENT_READ)
            if not sel.select(timeout):
                raise TimeoutError(f"generator did not say {word!r} within {timeout:.0f} s")
        line = p.stdout.readline().strip()
        if line != word:
            raise RuntimeError(f"generator said {line!r}, expected {word!r}")

    def close(self) -> None:
        """Stop Spark, its JVM and the generator, and wait for each."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            try:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
            finally:
                jvm = getattr(gw, "proc", None)
                if gw is not None:
                    gw.shutdown()
                if jvm is not None:
                    self.procs.append(jvm)
                    jvm.stdin.close()  # the gateway exits on EOF
        for p in self.procs:
            for stream in (p.stdin, p.stdout):
                if stream is not None and not stream.closed:
                    stream.close()
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def _load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _setenv(run_root: str) -> None:
    """Keep Spark's scratch files inside the checkout and size the engine
    the way the repository's tests do (all cores)."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    # A fixed-size heap, so the JVM's heap resizing does not vary from run to run.
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _on_term(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through Ctx.close, which stops the JVM and generator


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Pipeline benchmark (see perfbench/README.md).")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: the benchmark's own smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rabbit_data_pipeline_spark")):
        print("perfbench: no rabbit_data_pipeline_spark package in this checkout", file=sys.stderr)
        return 2
    contract = _load_contract()
    sys.path.append(ROOT)
    from spans import RssSampler, Tracer, cpu_steal_s, median
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(RUN_LIMIT_S)
    ctx = Ctx(args, Tracer(bool(args.trace)))
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    _setenv(os.path.join(ROOT, "perfbench-run"))
    steal0 = cpu_steal_s()
    try:
        with RssSampler() as rss:
            try:
                e2e, layers = WORKLOADS[args.workload](ctx)
            finally:
                ctx.close()
    finally:
        signal.alarm(0)
    e2e["setup_s"] = ctx.setup_s
    layers["engine.peak_rss_mb"] = rss.peak / 2**20
    layers["engine.cpu_steal_s"] = cpu_steal_s() - steal0
    layers["session.get_spark_s"] = sum(ctx.tracer.durations("session.get_spark"))
    layers["pipeline.parse_s"] = median(ctx.tracer.durations("pipeline.parse"))
    layers["pipeline.build_s"] = median(ctx.tracer.durations("pipeline.build"))
    layers["traced.latency_p50_s"] = e2e["latency_p50_s"]
    layers["traced.rows_per_s"] = e2e["rows_per_s"]

    os.makedirs(ctx.out_dir, exist_ok=True)
    last = os.path.join(ctx.out_dir, f"{args.workload}.{args.size}.untraced.json")
    if args.trace:
        extra = {"workload": args.workload, "seed": args.seed, "traced_e2e": e2e}
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            extra["untraced_e2e"] = base
            extra["overhead"] = {k: e2e[k] - base[k] for k in ("latency_p50_s", "rows_per_s") if k in base}
            print(f"perfbench: tracing overhead vs last untraced run: {extra['overhead']}", file=sys.stderr)
        ctx.tracer.dump(os.path.join(ctx.out_dir, f"{args.workload}.spans.json"), extra)
    else:
        with open(last, "w") as f:
            json.dump(e2e, f)

    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {}
    for m in contract[section]:
        if m["name"] not in values:
            raise KeyError(f"workload {args.workload} produced no {m['name']}")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
