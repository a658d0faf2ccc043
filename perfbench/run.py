"""Extraction benchmark: one seeded workload per call.

    python3 perfbench/run.py --workload ocr_docs --seed 1 --seconds 1 \\
        --trace 0

Run from the repository root.  Per run: build (or reuse) the seeded
inputs and golden, set up a ``local[nproc]`` session once, from a
fresh JVM, then call the job in a closed loop (one client, next call
after the previous returns) for ``--seconds`` of job time, checking
every call's committed output against the golden.  BENCHMARK.json sets
``--seconds 1``, so a run is one job launch: set-up and one call.
``--trace 1`` instead makes a first, an untraced and a traced job call,
forces single layers through ``noop`` sinks and times the per-image
layers in-process, to explain where the job's time goes.  Before it
exits, the run waits for every process it started to end and reaps it.
See perfbench/README.md.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  The line before it carries context that is not a metric
(host GEMM anchor before/after, per-call timings).  Exits non-zero
when the program is missing or a job's output mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from rss import descendants

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"         # fits a 15 GB host; the session default is 48g
IMAGE_SAMPLE = 24         # images timed per-layer in the traced run
PR_SET_CHILD_SUBREAPER = 36  # prctl option, <linux/prctl.h>


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env() -> None:
    # before numpy/pyspark import: single-thread BLAS, and every file
    # Spark or the JVM writes stays inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Bench:
    """One run: inputs, sessions, job calls, checks."""

    def __init__(self, workload: str, seed: int) -> None:
        from ocr_pytorch_spark.config import PipelineConfig

        import workloads

        self.name = workload
        self.seed = seed
        self.wl = workloads.WORKLOADS[workload]
        self.kind = self.wl["kind"]
        self.inp = workloads.prepare(workload, seed, WORK)
        self.tiny = workloads.prepare(workload, 0, WORK, tiny=True)
        self.cfg = PipelineConfig.fixture()
        self.spark = None
        self.calls = 0
        self.raised = 0
        self.mismatch_docs = 0
        self._dst_n = 0

    # --- session set-up ---------------------------------------------

    def setup(self) -> tuple[float, float]:
        """get_spark plus one warm-up task on the tiny input: the job's
        heaviest operator through a noop sink, which starts the Python
        workers and loads their weights (OCR) -> (get_spark seconds,
        set-up seconds).  Called once per run, so it launches the JVM
        as a job launch does."""
        from ocr_pytorch_spark.operators import dedup, extract as X
        from ocr_pytorch_spark.sources import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(app=f"perfbench-{self.name}")
        t1 = time.perf_counter()
        d = self.tiny["dir"]
        if self.kind == "ocr":
            docs, imgs = self.ocr_tables(d)
            df = X.extract(docs, imgs, X.file_weights_spec(), self.cfg)
        else:
            docs = self.spark.read.parquet(
                os.path.join(d, "documents.parquet"))
            df = dedup.dup_components(docs, bucket_cap=1000)
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t0

    # --- the job ----------------------------------------------------

    def ocr_tables(self, d: str):
        r = self.spark.read
        return (r.parquet(os.path.join(d, "documents.parquet")),
                r.parquet(os.path.join(d, "images.parquet")))

    def _job(self, d: str, dst: str) -> dict:
        if self.kind == "ocr":
            from ocr_pytorch_spark.plans.lineage import run_extract_job

            docs, imgs = self.ocr_tables(d)
            return run_extract_job(self.spark, docs, imgs, dst, self.cfg)
        from jobs import clean_corpus

        docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        return clean_corpus.run(self.spark, docs, dst)

    def _fresh_dst(self) -> str:
        self._dst_n += 1
        dst = os.path.join(WORK, "out", f"{self.name}-{self._dst_n}")
        shutil.rmtree(dst, ignore_errors=True)
        return dst

    def timed_call(self, keep: bool = False) -> tuple[float, str]:
        """One job call into a fresh destination, timed until it returns
        with the result committed; then the output check (untimed)."""
        dst = self._fresh_dst()
        self.calls += 1
        t0 = time.perf_counter()
        try:
            self._job(self.inp["dir"], dst)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.raised += 1
            return time.perf_counter() - t0, dst
        dt = time.perf_counter() - t0
        bad = self.wl["check"](dst, self.inp["golden"])
        if bad:
            print(f"output check: {bad} documents differ from the golden",
                  file=sys.stderr)
        self.mismatch_docs += bad
        if not keep:
            shutil.rmtree(dst, ignore_errors=True)
        return dt, dst

    def result(self, metrics: dict) -> dict:
        docs = self.inp["meta"]["docs"]
        failed = self.mismatch_docs + self.raised * docs
        return {"correct": failed == 0, "attempted": self.calls * docs,
                "failed": failed, "metrics": metrics}

    def stop(self) -> None:
        """Stop the session and the JVM (it exits when its stdin
        closes) and wait for the JVM; its Python workers are waited for
        with every other descendant by ``end_descendants``."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants' orphans: a
    Python worker whose JVM has exited, or the multiprocessing resource
    tracker, is re-parented here instead of to init, so the run can
    wait for it and reap it before it exits."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(timeout: float = 60.0) -> None:
    """Stop the multiprocessing resource tracker (the spawn pools start
    one), then wait until every descendant has exited, reaping each;
    kill whatever is still there after ``timeout`` seconds."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        while True:  # reap every child that has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline + 10:
            print(f"processes left running: {left}", file=sys.stderr)
            return
        if time.monotonic() > deadline:
            for pid, _ in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(b: Bench, seconds: float, context: dict) -> dict:
    # one cold set-up: a second one in the same process would reuse the
    # JVM, and a fresh JVM per set-up costs more than the run can spend
    get_spark_s, setup_s = b.setup()
    # the first call pays the JVM's first pass over the job's full-size
    # plans, as the one call of a job launch does; calls after it run
    # warm and would pull the median down, so keep --seconds below one
    # call to time launches alone
    times: list[float] = []
    while sum(times) < seconds or not times:
        times.append(b.timed_call()[0])
    job_s = statistics.median(times)
    context.update(get_spark_s=get_spark_s, job_calls_s=times)
    docs = b.inp["meta"]["docs"]
    return {"job_s": _m(job_s, "s"),
            "docs_per_s": _m(docs / job_s, "1/s"),
            "setup_s": _m(setup_s, "s")}


def run(args, ap: argparse.ArgumentParser) -> int:
    import ocr_pytorch_spark  # noqa: F401  (BLAS core type before numpy)
    from bench import _gemm_anchor

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    context = {"workload": args.workload, "seed": args.seed,
               "nproc": _nproc(),
               "gemm_gflops_before": _gemm_anchor(0.25)}
    b = Bench(args.workload, args.seed)
    try:
        if args.trace:
            from layers import run_traced

            metrics = run_traced(b, context, WORK, IMAGE_SAMPLE)
        else:
            metrics = run_untraced(b, args.seconds, context)
    finally:
        b.stop()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    context["gemm_gflops_after"] = _gemm_anchor(0.25)
    result = b.result(metrics)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _configure_env()
    adopt_orphans()
    try:
        return run(args, ap)
    finally:
        end_descendants()


if __name__ == "__main__":
    sys.exit(main())
