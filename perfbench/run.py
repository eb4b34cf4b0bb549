"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_catalog --seed 1 --seconds 5 \
        --trace 0

Runs from the root of a checkout (any working directory works: the repo
root is put on the driver's and the Python workers' import path).  The
load is one process at local[nproc].  A run:

1. generates the workload's inputs from the seed and the ``gaia_ref``
   oracle's output digest, cached under ``.perfbench_cache/inputs``;
2. runs repetitions until ``--seconds`` have been measured and at least
   ``MIN_REPS`` have run (one, with ``--trace 1``).  Each repetition is a fresh child process
   (``--child``): ``session.get_spark`` starts the JVM, one untimed job
   over the same input warms it up (together: one setup), then the
   workload's ``timed_jobs`` timed jobs run and each output's digest is
   checked against the oracle's.  Every repetition has the same shape,
   so repetitions cannot drift with the JIT of a long-lived JVM;
3. with ``--trace 1``, sets up once more in this process and runs one
   traced job (spans around the program's entry points, Spark event
   log on); the per-layer metrics are printed instead of the
   end-to-end ones.

The metric names and units printed are exactly those in BENCHMARK.json.
Everything else (host stamp, per-repetition values, spans) goes on the
line before the result, as ``{"report": ...}``.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_REPS = 2
JOB_TIMEOUT_S = 60
#: a repetition (fresh process, setup, timed jobs) that takes longer is
#: killed and counted as failed, so a run stays well inside 180 s
REP_TIMEOUT_S = 75


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and wait until its JVM and the Python workers
    it started have exited."""
    from pyspark import SparkContext

    import host
    started = host.tree_pids(os.getpid())[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    host.wait_for_exit(started, timeout=30)


def _reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        import host
        import workloads

        self.host = host
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.digest = workloads.digest
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.work = os.path.join(self.cache, "tmp", str(os.getpid()))
        self.local = os.path.join(self.work, "local")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.pid = os.getpid()
        self.spark = None
        self.setups: list[dict] = []
        self.reps: list[dict] = []
        self.errors: list[str] = []
        self.versions: dict = {}

    # -- session -------------------------------------------------------
    def _session_env(self) -> None:
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        if self.args.trace:
            conf = json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF")
                              or "{}")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(conf)

    def setup_once(self) -> dict:
        from gaia_spark.session import get_spark
        self._session_env()
        _reset_dir(self.local)
        os.makedirs(self.eventlog, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench",
                               cpus=len(os.sched_getaffinity(0)))
        t1 = time.perf_counter()
        self.wl.before_job(self.work)
        self.wl.run(self.spark, self.inputs, self.work)()
        t2 = time.perf_counter()
        self.versions = {
            "spark": self.spark.version,
            "python": platform.python_version(),
            "java": self.spark.sparkContext._jvm.System.getProperty(
                "java.version"),
        }
        return {"get_spark_s": t1 - t0, "warmup_s": t2 - t1,
                "setup_s": t2 - t0}

    # -- one job ------------------------------------------------------
    def job(self, around=contextlib.nullcontext,
            final=contextlib.nullcontext, rss: bool = False) -> dict:
        """Run the job once: wall/CPU (and with ``rss`` the peak RSS),
        then the digest check.  ``around`` wraps the timed region,
        ``final`` the last action."""
        sc = self.spark.sparkContext
        timer = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        rep = {"ok": False}
        try:
            self.wl.before_job(self.work)
            cpu0 = self.host.tree_cpu_s(self.pid)
            with (self.host.PeakRss(self.pid) if rss
                  else contextlib.nullcontext()) as sampler:
                timer.start()
                t0 = time.perf_counter()
                with around():
                    fetch = self.wl.run(self.spark, self.inputs,
                                        self.work, final=final)
                rep["wall_s"] = time.perf_counter() - t0
                timer.cancel()
            rep["cpu_core_s"] = self.host.tree_cpu_s(self.pid) - cpu0
            if sampler is not None:
                rep["peak_rss_mb"] = sampler.peak / 2 ** 20
            rep["digest"] = self.digest(fetch())
            rep["ok"] = rep["digest"] == self.meta["digest"]
            if not rep["ok"]:
                self.errors.append("output digest differs from the oracle")
            # the timer cancels running Spark jobs only; a job that ran
            # past it between two Spark jobs still fails here
            if rep["wall_s"] > JOB_TIMEOUT_S:
                rep["ok"] = False
                self.errors.append(f"job ran past {JOB_TIMEOUT_S} s")
        except Exception as e:  # a failed job is counted, not fatal
            timer.cancel()
            rep["ok"] = False
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
        return rep

    # -- repetitions, each in a fresh process ----------------------------
    def child(self) -> int:
        """One repetition in this process: set up, then one timed job."""
        self.inputs, self.meta = self.wl.prepare(self.cache, self.args.seed)
        try:
            setup = self.setup_once()
            jobs = [self.job() for _ in range(self.wl.timed_jobs)]
        finally:
            if self.spark is not None:
                _stop_spark(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)
        for rep in jobs:
            rep.pop("digest", None)
        print(json.dumps({"setup": setup, "jobs": jobs,
                          "errors": self.errors, "versions": self.versions}))
        return 0

    def repetition(self) -> None:
        a = self.args
        cmd = [sys.executable, os.path.abspath(__file__), "--child",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", "0"]
        # its own process group: a timed-out child is killed together
        # with the JVM and Python workers it started
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=REP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            self.reps.append({"ok": False})
            self.errors.append(f"repetition ran past {REP_TIMEOUT_S} s")
            return
        try:
            if proc.returncode:
                raise RuntimeError(f"exit code {proc.returncode}")
            res = json.loads(out.strip().splitlines()[-1])
        except (RuntimeError, ValueError, IndexError) as e:
            self.reps.append({"ok": False})
            self.errors.append(f"repetition failed: {e}"[:500])
            return
        self.setups.append(res["setup"])
        self.reps += res["jobs"]
        self.errors += res["errors"]
        self.versions = res["versions"]

    def measure(self) -> None:
        # a traced run reports no end-to-end metric: one untraced
        # repetition gives the traced job's overhead and a second setup
        floor = 1 if self.args.trace else MIN_REPS
        # after a failed repetition only the floor is run: the run has
        # failed, and more repetitions would not change that
        for n in itertools.count(1):
            self.repetition()
            measured = sum(r["wall_s"] for r in self.reps if r["ok"])
            if n >= floor and (measured >= self.args.seconds
                               or not all(r["ok"] for r in self.reps)):
                return

    # -- results ------------------------------------------------------
    def end_to_end(self) -> dict:
        good = [r for r in self.reps if r["ok"]] or [{}]
        wall = _median([r.get("wall_s", 0.0) for r in good])
        return {
            "setup_s": _median([s["setup_s"] for s in self.setups]),
            "wall_s": wall,
            "items_per_s": self.meta[self.wl.item] / wall if wall else 0.0,
            "cpu_core_s": _median([r.get("cpu_core_s", 0.0) for r in good]),
        }

    def traced(self, layer_metrics: dict, report: dict) -> None:
        """Set up in this process and run the traced job."""
        import layers
        try:
            self.setups.append(self.setup_once())
            traced, m, report["trace"] = layers.traced_run(self)
            self.reps.append(traced)
            layer_metrics.update(m)
        finally:
            if self.spark is not None:
                _stop_spark(self.spark)
        layers.fold(self, layer_metrics, report["trace"])

    def run(self) -> int:
        args = self.args
        t_start = time.perf_counter()
        self.inputs, self.meta = self.wl.prepare(self.cache, args.seed)
        window = self.host.HostWindow()
        layer_metrics: dict = {}
        report: dict = {}
        try:
            self.measure()
            if args.trace:
                self.traced(layer_metrics, report)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

        failed = sum(1 for r in self.reps if not r["ok"])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        values = layer_metrics if args.trace else self.end_to_end()
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not computed: {missing}")
        report.update({
            "workload": args.workload, "seed": args.seed,
            "trace": report.get("trace", {}).get("summary"),
            "host": window.stamp(),
            "versions": self.versions,
            "inputs": {k: v for k, v in self.meta.items() if k != "digest"},
            "oracle_digest": self.meta["digest"],
            "setups": self.setups,
            "runs": [{k: v for k, v in r.items() if k != "digest"}
                     for r in self.reps],
            "errors": self.errors,
            "elapsed_s": time.perf_counter() - t_start,
        })
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": failed == 0 and bool(self.reps),
            "attempted": len(self.reps),
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]],
                                    "unit": m["unit"]} for m in wanted},
        }))
        return 0


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # local-mode Python workers inherit the driver's environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # temporary files stay inside the checkout: Python's, and the JVM's
    # (java.io.tmpdir; no hsperfdata file under /tmp)
    tmp = os.path.join(ROOT, ".perfbench_cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    bench = Bench(args)
    return bench.child() if args.child else bench.run()


if __name__ == "__main__":
    sys.exit(main())
