"""The repository benchmark: oracle-checked ``build`` and ``query``
workloads over seed-generated inputs on ``local[k]``.

    python3 kgbench/run.py --workload build --seed 1 --seconds 5 --trace 0
    python3 kgbench/run.py --workload query --seed 1 --seconds 5 --trace 1

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones from a
traced run. Progress and the steadiness self-check go to standard
error. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".kgbench_work")
OUT = os.path.join(REPO, ".kgbench_out")

CORES = min(3, os.cpu_count() or 1)
# the Spark JVM heap: bounded so several runs can share a host
JVM_HEAP = "4g"
# a run gives up after this many timed passes (failed ones included)
MAX_PASSES = 20


# (name, unit, better) of every end-to-end metric, in print order
E2E_METRICS = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("triples_per_s", "1/s", "higher"),
]


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with
    at least ten samples beyond it. Below twenty samples that
    percentile is under the median; the median stands in and is
    labelled p50."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def cpu_ticks() -> list[int]:
    """The aggregate CPU line of /proc/stat (user ... steal)."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class Harness:
    """One benchmark run: inputs, goldens, the Spark session, the oracle
    gate and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from goldens import Gate
        from spans import Tracer
        from workloads import WORKLOADS

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(enabled=False)
        self.work = WORK
        self.input_dir = os.path.join(WORK, "input")
        self.event_dir = os.path.join(WORK, "eventlog")
        self.spark = None
        self.gate = Gate()
        self.wl = WORKLOADS[workload](self)

    # -- session ------------------------------------------------------------

    def start_session(self) -> tuple[float, float]:
        from jsonld_spark.plans.session import ensure_package_shipped, get_spark

        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("kgbench", cores=CORES, extra_conf=conf)
        t1 = time.perf_counter()
        ensure_package_shipped(self.spark)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return t1 - t0, t2 - t1

    def shutdown(self) -> None:
        """Stop Spark, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def between_passes(self) -> None:
        from jsonld_spark.operators import scratch

        self.spark.catalog.clearCache()
        scratch.release()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def one_pass(self, i: int) -> dict | None:
        """A pass; an exception counts as one failed operation."""
        try:
            return self.wl.run_pass(i)
        except Exception:  # noqa: BLE001 - the run goes on and reports it
            self.gate.error(f"pass {i}:\n{traceback.format_exc()}")
            return None
        finally:
            self.between_passes()

    # -- the run ------------------------------------------------------------

    def execute(self) -> dict:
        import inputs
        from goldens import Goldens
        from spans import RssSampler

        wl = self.wl
        load_start, ticks_start = os.getloadavg()[0], cpu_ticks()
        os.makedirs(self.input_dir)
        events = os.path.join(self.input_dir, "events.parquet")
        inputs.write_events(events, self.seed, wl.n_events)
        self.goldens = Goldens(events, wl.n_lookups, self.seed, wl.mix)
        log(f"{wl.name} seed={self.seed} events={wl.n_events} triples={self.goldens.triples[0]} "
            f"profile={inputs.input_profile(self.seed)}")

        # the RSS sampler is tracing: it runs in traced runs only
        rss = RssSampler() if self.trace else contextlib.nullcontext()
        with rss:
            # set-up: the one session start of the run (the JVM launch,
            # then zipping and shipping the package) and the workload's
            # own preparation
            t0 = time.perf_counter()
            start_s, ship_s = self.start_session()
            session_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            wl.verify_setup()
            log(f"setup: session {session_s:.3f} (start {start_s:.3f} ship {ship_s:.3f}) "
                f"prepare {prepare_s:.3f}")

            warm = []
            for i in range(wl.warmup_passes):
                r = self.one_pass(-1 - i)
                warm.append(r["pass_s"] if r else float("nan"))
            log(f"warm-up passes: {[round(x, 3) for x in warm]}")

            plain, traced = [], []
            t_start = time.perf_counter()
            for i in range(MAX_PASSES):
                timed_out = time.perf_counter() - t_start >= self.seconds
                if self.trace:
                    # untraced and traced passes in whole ABBA blocks, so
                    # the tracing overhead is measured under the same load
                    # and a drift between passes falls on both sides alike
                    if timed_out and i >= 4 and i % 4 == 0:
                        break
                    self.tracer.enabled = i % 4 in (1, 2)
                elif timed_out and len(plain) >= wl.min_passes:
                    break
                r = self.one_pass(i)
                if r is not None:
                    (traced if self.tracer.enabled else plain).append(r)
            if not plain:
                raise RuntimeError(f"no timed pass of {wl.name} completed")
            self.tracer.enabled = self.trace
            lookups = [x for r in plain for x in r["lookups"]]
            probes = wl.probes() if self.trace else {}
            self.tracer.enabled = False

        load_end = os.getloadavg()[0]
        ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
        pass_times = [r["pass_s"] for r in plain]
        if traced:
            log(f"traced passes={[round(r['pass_s'], 3) for r in traced]}")
        log(f"steadiness: {'untraced ' if self.trace else ''}passes={[round(x, 3) for x in pass_times]} "
            f"first/last={pass_times[0] / pass_times[-1]:.3f} "
            f"loadavg start={load_start:.2f} end={load_end:.2f} "
            f"cpu steal={ticks[7] / max(1, sum(ticks)):.3f}")
        lookup_tail = tail(lookups) if lookups else None
        if lookups:
            log(f"lookup_p50_ms={1e3 * statistics.median(lookups):.1f} "
                f"lookup_tail_ms={1e3 * lookup_tail[0]:.1f} is p{lookup_tail[1]:.1f} "
                f"of {lookup_tail[2]} lookups")

        if self.trace:
            from layers import layer_metrics

            self.shutdown()
            os.makedirs(OUT, exist_ok=True)
            self.tracer.write(os.path.join(OUT, f"spans-{wl.name}-{self.seed}.json"))
            metrics = layer_metrics(self, plain, traced, start_s, ship_s, prepare_s,
                                    rss.peak / 1e6, probes, lookups, lookup_tail)
        else:
            values = {
                "setup_s": session_s + prepare_s,
                "pass_s": statistics.median(pass_times),
                "triples_per_s": statistics.median(r["triples"] / r["pass_s"] for r in plain),
            }
            metrics = {name: (values[name], unit) for name, unit, _ in E2E_METRICS}
        return {
            "correct": self.gate.failed == 0,
            "attempted": self.gate.attempted,
            "failed": self.gate.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "jsonld_spark")):
        log(f"no jsonld_spark package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    # keep every temporary file of Python, the JVMs and Spark inside
    # the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable

    run = Harness(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.execute()
    finally:
        run.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
