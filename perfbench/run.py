"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (removed at exit); the program sees only those
files. The loop is closed, one client: each op starts after the
previous one ended and ``session.release_caches`` ran, and keeps going
for ``--seconds``. Every op's output is checked outside the timed
region; an op that raises or returns a wrong output is counted as
failed, with its error class, and the run goes on.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md). The last stdout line is one
JSON object ``{correct, attempted, failed, metrics}``; the line before
it is the full report (raw samples, host-load evidence, errors), which
is also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

E2E_UNITS = {
    "setup_s": "s",
    "triples_per_s": "1/s",
    "op_latency_s.p50": "s",
    "peak_rss_mb": "MB",
}


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    if len(xs) < 11:
        return None
    i = len(xs) - 11
    return 100.0 * (i + 1) / len(xs), sorted(xs)[i]


def describe(e: BaseException) -> dict:
    cond = None
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(e, getter, None)
        if fn is not None:
            with contextlib.suppress(Exception):
                cond = fn()
            break
    lines = str(e).strip().splitlines()
    return {
        "class": type(e).__name__,
        "condition": cond,
        "message": lines[0][:300] if lines else "",
    }


class Bench:
    def __init__(self, args, root: str) -> None:
        from perfbench import procstat
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # 1 GB, not the program's 8 GB: with 8 GB the JVM's resident size
        # follows G1's heap growth, not the workload (peak_rss_mb spread
        # 0.25 over five edge_stream runs, 0.06-0.09 with 1 GB). A
        # driver that needs more heap shows as GC time (spark.gc_s) or
        # as an OutOfMemoryError, which fails the op
        os.environ["SPARK_DRIVER_MEM"] = "1g"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.cores = os.cpu_count() or 1
        self.wl = WORKLOADS[args.workload](self.work, args.seed)
        self.rss = procstat.RssSampler()
        self.spark = None
        self.report: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": self.cores,
            "loadavg_start": os.getloadavg(),
        }

    def conf(self, event_log: str | None = None) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self, event_log: str | None = None) -> tuple[float, float]:
        """(get_spark seconds, fixture + warm-up seconds)."""
        from remediner_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cores=self.cores,
            extra_conf=self.conf(event_log),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.wl.setup(self.spark)
        self.untimed_ops(self.wl.warmup_ops)
        return t1 - t0, time.perf_counter() - t1

    def untimed_ops(self, n: int) -> list[float]:
        """Runs ``n`` ops outside the timed loop and returns their
        latencies; an op that raises goes to the report's
        ``warmup_errors``."""
        from remediner_spark.session import release_caches

        latencies = []
        for j in range(n):
            t0 = time.perf_counter()
            try:
                self.wl.after_op(self.wl.op(self.spark, j))
            except Exception as e:
                self.report.setdefault("warmup_errors", []).append(describe(e))
            latencies.append(time.perf_counter() - t0)
            release_caches(self.spark)
        return latencies

    def prime(self) -> None:
        """The measured session's JIT-compiled code and Python workers
        warm up over its first ops, after its set-up: those run here,
        untimed and outside ``setup_s``."""
        self.report.setdefault("prime_samples_s", []).append(
            self.untimed_ops(self.wl.prime_ops)
        )

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.wl.prepare()
        self.report["prepare_s"] = time.perf_counter() - t0
        setup, get_spark_s, fixture_s = [], [], []
        for k in range(self.wl.setups):
            if k:
                self.stop_session()
            g, f = self.start_session()
            setup.append(g + f)
            get_spark_s.append(g)
            fixture_s.append(f)
        self.report.update(setup_samples_s=setup, get_spark_samples_s=get_spark_s,
                           fixture_samples_s=fixture_s)
        oracle = getattr(self.wl, "oracle_check", None)
        if oracle is not None:
            oracle(self.spark)
            self.report["oracle_ok"] = self.wl.oracle_ok
        self.prime()

    def measure(self, seconds: float, tracer=None) -> list[dict]:
        from perfbench import procstat
        from remediner_spark.session import release_caches

        wl, spark = self.wl, self.spark
        samples: list[dict] = []
        t_start = time.perf_counter()
        i = 0
        while not wl.exhausted():
            if i % wl.round_len == 0 and time.perf_counter() - t_start >= seconds:
                break
            if tracer is not None:
                tracer.op = i
            cpu = procstat.CpuWindow()
            self.rss.reset()
            res, err = None, None
            t0 = time.perf_counter()
            span = tracer.span("op") if tracer is not None else contextlib.nullcontext({})
            try:
                with span as op_span:
                    res = wl.op(spark, i)
            except Exception as e:
                err = describe(e)
            latency = time.perf_counter() - t0
            host = cpu.stop()
            rss = self.rss.peak_mb
            if err is None:
                try:
                    wl.check(spark, res)
                except Exception as e:
                    err = describe(e)
            res = res or {}
            if tracer is not None and "stream" in res:
                op_span["progress"] = [
                    json.loads(p.json) for p in res["stream"].recentProgress
                ]
            wl.after_op(res)
            r0 = time.perf_counter()
            release_caches(spark)
            samples.append({
                "op": i,
                "query": res.get("query"),
                "latency_s": latency,
                "release_caches_s": time.perf_counter() - r0,
                "triples": res.get("triples", 0) if err is None else 0,
                "mismatches": res.get("mismatches", 0),
                "error": err,
                "peak_rss_mb": rss,
                "peak_rss_parts_mb": self.rss.peak_parts,
                **host,
            })
            i += 1
        if tracer is not None:
            tracer.op = None
        return samples

    @staticmethod
    def summarize(samples: list[dict]) -> dict:
        done = [s for s in samples if s["error"] is None]
        lat = [s["latency_s"] for s in done]
        busy = sum(s["latency_s"] + s["release_caches_s"] for s in samples)
        t = tail(lat)
        return {
            "attempted": len(samples),
            "failed": len(samples) - len(done),
            "failed_share": (len(samples) - len(done)) / len(samples) if samples else 1.0,
            "ops_per_s": len(done) / busy if busy else 0.0,
            "op_latency_s.p50": statistics.median(lat) if lat else 0.0,
            "op_latency_s.tail": t[1] if t else None,
            "op_latency_tail_percentile": t[0] if t else None,
            "op_latency_samples": len(lat),
            # the median op's rate: a mean over ops follows the few ops
            # the host slowed
            "triples_per_s": statistics.median(
                s["triples"] / s["latency_s"] for s in done
            ) if done else 0.0,
            # the median op's peak: the loop's maximum (also kept) jumps
            # by up to 0.9 GB between runs of the same code
            "peak_rss_mb": statistics.median(s["peak_rss_mb"] for s in samples) if samples else 0.0,
            "loop_peak_rss_mb": max((s["peak_rss_mb"] for s in samples), default=0.0),
        }

    def final_check(self) -> tuple[bool, dict]:
        try:
            return True, self.wl.final_check(self.spark)
        except Exception as e:
            self.report["final_check_error"] = describe(e)
            return False, {}

    def run(self) -> dict:
        args = self.args
        self.setup()
        seconds = args.seconds / 2 if args.trace else args.seconds
        samples = self.measure(seconds)
        summary = self.summarize(samples)
        ok, quality = self.final_check()
        self.report.update(samples=samples, summary=summary, quality=quality)
        setup_s = statistics.median(self.report["setup_samples_s"])
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "triples_per_s": summary["triples_per_s"],
                "op_latency_s.p50": summary["op_latency_s.p50"],
                "peak_rss_mb": summary["peak_rss_mb"],
            }
            units = E2E_UNITS
        else:
            from perfbench import layers

            metrics, units = layers.traced_run(self, summary, quality)
        return {
            "correct": ok and summary["failed"] == 0,
            "attempted": summary["attempted"],
            "failed": summary["failed"],
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }

    def close(self) -> None:
        """Stops Spark, its JVM and every process this run started."""
        from perfbench import procstat

        with contextlib.suppress(Exception):
            self.stop_session()
        with contextlib.suppress(Exception):
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        procstat.reap_tree(procstat.descendants())
        self.rss.close()
        cleanup = getattr(self.wl, "cleanup", None)
        if cleanup is not None:
            cleanup()
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.work))


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = parse_args(argv)
    try:
        import remediner_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    bench = Bench(args, root)
    try:
        result = bench.run()
    finally:
        bench.close()
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report_path = os.path.join(
        out_dir, f"report_{args.workload}_s{args.seed}_t{args.trace}.json"
    )
    with open(report_path, "w") as fh:
        json.dump(bench.report, fh, indent=1, default=str)
    print(json.dumps(bench.report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
