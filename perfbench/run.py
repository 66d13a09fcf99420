"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload upload_session --seed 1 --seconds 4 --trace 0

Starts a fresh ``local[N]`` Spark session (N = min(4, nproc)) with every
temporary path inside ``.perfbench_work/`` of the checkout, generates the
workload's inputs from the seed, warms up, then runs the number of rounds
of ops that take about ``--seconds`` seconds on a 4-core host, checking
every op's output.  Human-readable
lines go to stdout first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(rounds then alternate traced and untraced, which gives the tracing
overhead).  See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: input sizes.  ``bench`` uploads the reference's own unit (1,000
#: transactions, 104 customer lines over 100 customers, 8 products, about
#: 8 address-change rows per upload: ``SURVEY.md`` section 6)
SIZES = {
    "bench": {
        "workbook": {
            "n_txns": 1000, "n_customers": 100, "new_customers_per_upload": 0,
            "address_change_share": 0.06, "in_batch_dup_ids": 2, "malformed_lines": 2,
            "dangling_fk_share": 0.02, "garbage_amount_share": 0.01,
        },
        "stream": {
            "n_docs": 2000, "prefix": 200, "min_rows": 30, "max_rows": 50,
            "resend_share": 0.1, "threshold": 0.9, "centroids": 4,
        },
    },
    "tiny": {
        "workbook": {
            "n_txns": 30, "n_customers": 8, "new_customers_per_upload": 1,
            "address_change_share": 0.25, "in_batch_dup_ids": 1, "malformed_lines": 1,
            "dangling_fk_share": 0.05, "garbage_amount_share": 0.05,
        },
        "stream": {
            "n_docs": 400, "prefix": 60, "min_rows": 10, "max_rows": 20,
            "resend_share": 0.2, "threshold": 0.9, "centroids": 4,
        },
    },
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    ap.add_argument("--pins", default=os.path.join(ROOT, "perfbench", "pins.json"))
    return ap.parse_args(argv)


class Ctx:
    """What a workload sees: the session, its paths, and the tracing hooks."""

    def __init__(self, spark, work, seed, size, pins_path, tracer, jobs):
        self.spark, self.work, self.seed = spark, work, seed
        self.size, self.pins_path = size, pins_path
        self.tracer, self.jobs = tracer, jobs
        self.records: dict[int, dict] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def op_begin(self, i: int, build: bool = False) -> None:
        if not self.traced:
            return
        self.tracer.op = i
        self.jobs.start(f"op{i}.build" if build else f"op{i}")
        self.records[i] = {"build": build, "py4j_group": 0}

    def op_execute(self, i: int) -> None:
        """A query op moves from plan construction to execution."""
        if self.traced:
            before = self.tracer.py4j_calls
            self.jobs.start(f"op{i}")
            self.records[i]["py4j_group"] += self.tracer.py4j_calls - before

    def op_end(self, i: int) -> None:
        if not self.traced:
            return
        self.jobs.start("untraced")
        rec = self.records[i]
        rec["jobs"], rec["stages"], rec["tasks"] = self.jobs.count(f"op{i}")
        if rec["build"]:
            eager = self.jobs.count(f"op{i}.build")
            rec["eager_jobs"] = eager[0]
            rec["jobs"] += eager[0]
            rec["stages"] += eager[1]
            rec["tasks"] += eager[2]


def start_session(work: str, cores: int):
    from py_data_pipeline_app_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first writes nothing outside either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile that
    leaves at least ten samples beyond it, once that percentile lies
    above the median; the maximum for fewer than 21 samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n > 20:
        return xs[n - 11], 100.0 * (n - 10) / n, 10
    return xs[-1], 100.0, 0


def run(args, work: str) -> dict:
    from perfbench.trace import JobCounter, Tracer, install
    from perfbench.workloads import WORKLOADS, Op, dir_usage

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    size = SIZES[args.size]
    cores = min(4, os.cpu_count() or 1)
    load_before = os.getloadavg()[0]

    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        if args.trace:
            install(tracer)
        ctx = Ctx(
            spark, work, args.seed, size, args.pins, tracer,
            JobCounter(spark.sparkContext) if args.trace else None,
        )
        wl = WORKLOADS[args.workload](ctx)
        # set-up = session start + input generation (repeated; median) + warm-up
        prepare_s = []
        for _ in range(wl.prepares):
            t = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prepare_s) + warm_s
        # what the timed ops store is the growth over the warmed-up state
        stored_before = {k: (dir_usage(root), nb) for k, (root, nb) in wl.storage().items()}

        # the op count follows from --seconds alone, never from how fast
        # the ops turn out to be, so two runs of one length do the same work
        rounds = wl.rounds(args.seconds, traced=bool(args.trace))
        ops: list[tuple[int, bool, object]] = []  # (op index, traced, Op)
        i = 0
        start = time.perf_counter()
        for rnd in range(rounds):
            for pos in range(wl.round_size):
                # traced and untraced ops alternate, and swap places
                # between rounds, so both halves see the same op mix
                tracer.enabled = bool(args.trace) and (pos + rnd) % 2 == 0
                try:
                    op = wl.op(i)
                except Exception as e:  # noqa: BLE001 — a raising op counts as failed
                    traceback.print_exc()
                    tracer.abort()
                    op = Op(float("nan"), False, f"raised {type(e).__name__}: {e}")
                ops.append((i, tracer.enabled, op))
                i += 1
        tracer.enabled = False
        wall_s = time.perf_counter() - start
        try:
            final_note = wl.finish()
        except Exception as e:  # noqa: BLE001 — a raising final check fails the run's ops
            traceback.print_exc()
            final_note = f"final check raised {type(e).__name__}: {e}"
        storage = {}  # layer -> ((bytes, files) written by the timed ops, their input bytes)
        for k, (root, nb) in wl.storage().items():
            (b0, f0), nb0 = stored_before[k]
            b1, f1 = dir_usage(root)
            storage[k] = ((b1 - b0, f1 - f0), nb - nb0)
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)

    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    notes = [op.note for _, _, op in ops if not op.ok]
    if final_note:
        notes.append(final_note)
    failed = len(ops) if final_note else sum(1 for _, _, op in ops if not op.ok)
    untraced = [op.latency for _, tr, op in ops if not tr and op.ok]
    traced = [op.latency for _, tr, op in ops if tr and op.ok]
    timed = untraced if untraced else traced
    tail_v, tail_pct, beyond = tail(timed) if timed else (0.0, 0.0, 0)
    views = [op.extra["view"] for _, tr, op in ops if "view" in op.extra and not tr]
    stored = {k: b / max(nb, 1) for k, ((b, _), nb) in storage.items()}
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(timed) if timed else 0.0, "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "error_rate": (failed / max(len(ops), 1), "ratio"),
        "view_p50_s": (statistics.median(views) if views else 0.0, "s"),
        "stored_bytes_per_input_byte": (sum(stored.values()), "ratio"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "ops": len(ops), "rounds": rounds,
        "wall_s": round(wall_s, 3), "session_start_s": round(session_s, 3),
        "prepare_s": [round(x, 3) for x in prepare_s], "warm_up_s": round(warm_s, 3),
        "tail_percentile": round(tail_pct, 1), "tail_samples_beyond": beyond,
        "tail_samples": len(timed),
        "op_latencies_s": [round(op.latency, 3) for _, _, op in ops],
        "loadavg_before": load_before, "loadavg_after": os.getloadavg()[0],
    }
    print("perfbench " + json.dumps(info))
    for name, (value, unit) in e2e.items():
        print(f"  {name:<30} {value:>12.6g} {unit}")
    for note in notes[:10]:
        print(f"  FAILED: {note}")

    if args.trace:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(
            tracer, ctx.records, ops, storage, len(ops), jvm_rss, py_rss, e2e
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans_path)
        print(f"  spans written to {os.path.relpath(spans_path, ROOT)}")
        for name, m in metrics.items():
            print(f"  {name:<30} {m['value']:>12.6g} {m['unit']}")
    else:
        from perfbench.layers import END_TO_END

        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # every temporary path of the run, Spark's and Python's, lies in here
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only once no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
