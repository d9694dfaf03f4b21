"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload corpus  --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --recompute-oracles

Run it from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Lines before it summarize every timing (sample count, median, and the tail
percentile the count supports) and the operations attempted and failed.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up sample 0 counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("trickle", "corpus")
DRIVER_MEM = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--recompute-oracles", action="store_true",
                    help="recompute the cached DuckDB oracle results and exit")
    a = ap.parse_args(argv)
    if a.workload is None and not a.recompute_oracles:
        ap.error("--workload is required")
    return a


def _environment(scratch: str, cores: int) -> None:
    """Settings every run uses; all of them must precede the JVM launch."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the normalize UDF's Python workers import the program from the repo root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)


def _stop_jvm() -> None:
    """Stop the Spark gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _summaries(run) -> list[str]:
    from perfbench.stats import summary

    lines = []
    for kind, xs in sorted(run.ops.items()):
        s = summary(xs)
        tail = ", ".join(f"{k}={v:.4f}s" for k, v in s.items() if k not in ("n", "p50"))
        lines.append(
            f"# op {kind}: attempted={len(xs)} failed=0 n={s['n']} p50={s['p50']:.4f}s"
            + (f" {tail}" if tail else " (fewer than 40 samples: median only)")
            + " samples=" + ",".join(f"{x:.3f}" for x in xs)
        )
    s = summary(run.setup_samples)
    lines.append(f"# setup: n={s['n']} samples=" + ",".join(f"{x:.3f}" for x in run.setup_samples))
    return lines


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(HERE, ".scratch", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch)
    try:
        _environment(scratch, cores)
        from perfbench import inputs, oracles, workloads

        if args.recompute_oracles:
            oracles.expected(workloads.CORPUS, cores, recompute=True)
            print("oracles recomputed")
            return 0

        t_in = time.time()
        # a traced run also probes the other workload's layers (see README)
        segs = data_dir = want = None
        if args.workload == "trickle" or args.trace:
            wal_dir, segs = inputs.wal_segments(workloads.trickle_spec(args.seed))
            inputs.warm_page_cache(wal_dir)
        if args.workload == "corpus" or args.trace:
            data_dir = inputs.corpus_for_seed(workloads.CORPUS, args.seed)
            inputs.warm_page_cache(data_dir)
        if args.workload == "corpus":
            want = oracles.expected(workloads.CORPUS, cores)
        t_inputs = time.time() - t_in

        run = workloads.Run(args, scratch, cores, T_PROCESS)
        try:
            if args.workload == "trickle":
                e2e = workloads.run_trickle(run, t_inputs, segs, data_dir)
            else:
                e2e = workloads.run_corpus(run, t_inputs, data_dir, want, segs)
        finally:
            run.stop_session()
            _stop_jvm()
        e2e["setup_s"] = workloads._median(run.setup_samples)
        if args.trace:
            run.spans.dump(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json"))
        for line in run.notes + _summaries(run):
            print(line)
        if args.trace:
            for k in ("records_per_s", "main_op_p50_s", "side_op_p50_s"):
                run.layer[f"traced.{k}"] = e2e[k]
            units = workloads.PER_LAYER
            values = run.layer
        else:
            units = workloads.END_TO_END
            values = e2e
        result = {
            "correct": True,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
