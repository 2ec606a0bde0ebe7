"""Hybrid-search benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload contest-batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A ``# detail`` line before it carries sample counts, the
batch walls and the input digest. ``--smoke`` shrinks every input for the
self-test. Exits non-zero without a result line when the engine package is
missing or a run cannot complete.

All files go under ``.perfbench_work/`` in the repository root: inputs,
Spark scratch space, the event log of a traced run, and the oracle cache.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("contest-batch", "ingest-serve")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def default_cpus() -> int:
    """Half the host's cpus: Spark's task threads, their Python workers,
    the JVM's GC and JIT threads and the driver share the host, and at
    local[nproc] they oversubscribe it (on a 4-vCPU host a contest batch
    took 6.1 s at local[4] and 3.8 s at local[2], at half the CPU)."""
    return max(1, host_cpus() // 2)


def launch_env(run_dir: str, event_dir: str | None) -> dict[str, str]:
    """Every environment variable the benchmark sets. The driver heap
    (local mode runs all executors inside it) is 1 GiB: the workloads
    hold a few MB, and with a 3 GiB heap the JVM's RSS ranged from 1.0 to
    2.1 GB between runs of the same code as G1 sized the heap, so peak
    RSS spread past its bound.
    Scratch space stays inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 JIT only: in a run this short the C2 compiler threads never
    # settle (half a core all through the timed loop on a 4-vCPU host),
    # so a run's speed hung on when C2 got to the hot code
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    submit = [
        "--driver-java-options", jvm_opts,
        "--conf", f"spark.local.dir={tmp}",
    ]
    if event_dir:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    return {
        "SPARK_DRIVER_MEMORY": "1g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"'{a}'" if " " in a else a for a in submit)
        + " pyspark-shell",
    }


def tail_at(walls: list[float]) -> tuple[float, float] | None:
    """(percentile, wall) at the highest percentile with ≥ 10 samples beyond
    it; None below 11 samples."""
    if len(walls) < 11:
        return None
    s = sorted(walls)
    i = len(s) - 11
    return round(100.0 * (i + 1) / len(s), 1), s[i]


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Loop:
    """Closed loop with one client: the next batch starts only after the
    previous result has landed and been checked."""

    def __init__(self, wl, tracer, data, spec):
        self.wl, self.tr, self.data, self.spec = wl, tracer, data, spec
        self.next_b = 0
        self.attempted = self.failed = 0
        self.recall_sum = 0.0
        self.recall_n = 0
        self.errors: list[str] = []

    def run_one(self) -> tuple[float, float, float, list] | None:
        """One batch; (wall, search wall, CPU s of the Spark tree, spans),
        or None when it failed."""
        import inputs as I
        import procstat

        # batch 0 is the warm-up; the timed loop cycles over the others
        b = self.batch_index(self.next_b)
        self.next_b += 1
        self.attempted += 1
        cpu0 = procstat.tree_cpu_s()
        self.tr.batch_start()
        try:
            got = self.wl.batch(b)
        except Exception as e:  # a failed batch counts; the loop goes on
            self.failed += 1
            self.errors.append(f"batch {b}: {type(e).__name__}: {e}")
            return None
        wall, search, spans = self.tr.batch_walls()
        cpu = procstat.tree_cpu_s() - cpu0
        chk = I.check_batch(self.data.batches[b], self.data.rows_at(b), self.data.truth[b], got)
        self.recall_sum += chk.recall_sum
        self.recall_n += chk.n_queries
        if chk.bad_queries:
            self.failed += 1
            self.errors.append(f"batch {b}: {chk.bad_queries} bad queries; {chk.first_error}")
        return wall, search, cpu, spans

    def batch_index(self, i: int) -> int:
        return 0 if i == 0 else 1 + (i - 1) % (self.spec["n_batches"] - 1)

    @property
    def recall(self) -> float:
        return self.recall_sum / self.recall_n if self.recall_n else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process the
    session started (JVM, PySpark daemon, workers) has ended. A failure
    here is reported and never loses a result."""
    import procstat
    from pyspark import SparkContext

    started = set(procstat.tree(os.getpid()))
    try:
        spark.stop()
    except Exception as e:  # results are already in hand
        print(f"perfbench: spark.stop() failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=30)
        except Exception as e:
            print(f"perfbench: JVM shutdown: {e}", file=sys.stderr)
            proc.kill()
            proc.wait()
    if not procstat.wait_ended(started, 10):
        for pid in procstat.running(started):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        procstat.wait_ended(started, 10)


def run(args) -> int:
    if importlib.util.find_spec("sigmod_2024_contest_spark") is None:
        print("perfbench: the engine package sigmod_2024_contest_spark is not here",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    cache_dir = os.path.join(work, "cache")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    for d in (run_dir, cache_dir) + ((event_dir,) if event_dir else ()):
        os.makedirs(d, exist_ok=True)
    env = launch_env(run_dir, event_dir)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    try:
        return measure(args, run_dir, cache_dir, event_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir, cache_dir, event_dir, env) -> int:
    import procstat
    import spans
    import workloads

    spec = workloads.spec_for(args.workload, args.smoke)
    t_in = time.time()
    data = workloads.Inputs(args.workload, spec, args.seed, run_dir, cache_dir)
    inputs_s = time.time() - t_in
    cpus = args.cpus or default_cpus()
    spark = None
    result = None
    with procstat.Sampler() as sampler:
        try:
            from sigmod_2024_contest_spark.session import get_spark, ship_package

            t0 = time.time()
            spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
            ship_package(spark)
            session_s = time.time() - t0
            tracer = spans.Tracer(spark, enabled=bool(args.trace))
            wl = workloads.CLASSES[args.workload](spark, tracer, spec, data, run_dir)
            setup_walls = []
            for _ in range(spec["setup_reps"]):
                t = time.time()
                wl.setup()
                setup_walls.append(time.time() - t)
            loop = Loop(wl, tracer, data, spec)
            # warm-up batch: checked, never timed or traced (first run of
            # each plan shape; on ingest-serve it carries the compaction)
            tracer.enabled = False
            t = time.time()
            loop.run_one()
            warmup_s = time.time() - t
            deadline = time.time() + args.seconds
            trace_from = time.time() + args.seconds / 2 if args.trace else float("inf")
            untraced: list[tuple[float, float, float, list]] = []
            traced: list[tuple[float, float, float, list]] = []
            steal0 = procstat.steal_s()
            while True:
                now = time.time()
                if now >= deadline and untraced and (traced or not args.trace):
                    break
                if now > deadline + args.seconds + 60:
                    break  # batches keep failing
                # traced batches only after an untraced one, so both halves
                # of a traced run have samples
                tracer.enabled = bool(args.trace and untraced) and now >= trace_from
                got = loop.run_one()
                if got is not None:
                    (traced if tracer.enabled else untraced).append(got)
            steal = procstat.steal_s() - steal0
            result = (session_s, setup_walls, warmup_s, loop, untraced, traced, wl, tracer, steal)
        finally:
            if spark is not None:
                stop_spark(spark)
    session_s, setup_walls, warmup_s, loop, untraced, traced, wl, tracer, steal = result
    nq = spec["batch_q"]
    walls = [w for w, _, _, _ in untraced + traced]
    setup_s = session_s + statistics.median(setup_walls)
    correct = loop.failed == 0 and loop.recall >= spec["min_recall"]
    tail = tail_at([w for w, _, _, _ in untraced])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_sha256": data.digest, "cpus": cpus, "env": env,
        "inputs_s": round(inputs_s, 3), "session_s": round(session_s, 3),
        "setup_walls_s": [round(x, 3) for x in setup_walls], "warmup_s": round(warmup_s, 3),
        "batch_walls_s": [round(x, 3) for x in walls], "samples": len(walls),
        "tail": {"percentile": tail[0], "wall_s": tail[1]} if tail else None,
        "loop_steal_s": round(steal, 3), "rss_at_peak_mib": sampler.at_peak,
        "recall_at_100": loop.recall, "errors": loop.errors[:5],
    }
    if args.trace:
        import layers

        metrics = layers.fold(wl, tracer, traced, untraced, event_dir)
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "search_qps": metric(statistics.median(nq / s for _, s, _, _ in untraced), "queries/s"),
            "batch_p50_s": metric(statistics.median(walls), "s"),
            "recall_at_100": metric(loop.recall, "ratio"),
            "cpu_s_per_kq": metric(
                statistics.median(c * 1000.0 / nq for _, _, c, _ in untraced), "s/kq"
            ),
            "peak_rss_gib": metric(sampler.peak_rss / (1 << 30), "GiB"),
        }
    print("# detail " + json.dumps(detail))
    print(json.dumps({
        "correct": bool(correct), "attempted": loop.attempted, "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local[cpus] (default: see default_cpus)")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
