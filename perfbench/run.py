"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Drives the program the way a user
would (``session``, ``controlplane.boot``, ``registry``), checks every
output against a reference computation, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
spans and listeners on and reports the per-layer metrics. Exits
non-zero, without a result line, when the program is not in the
checkout or a workload cannot run. NOTES.md has the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("connect_avro_upsert", "curation_cold")

#: end-to-end metrics and their units (every workload reports each)
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "catchup_records_per_s": "records/s",
    "freshness_p50_ms": "ms",
    "freshness_p90_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics and their units. A traced run reports every
    one; a layer the workload does not exercise did no work and reads 0."""
    from perfbench.batch import ANALYTICS, CURATION

    units = {
        "memory.peak_rss_mb": "MiB",
        "session.get_spark_s": "s",
        "session.configure_s": "s",
        "session.load_tables_s": "s",
        "controlplane.boot_s": "s",
        "controlplane.compile_s": "s",
        "streaming.trigger_ms_p50": "ms",
        "streaming.trigger_ms_p90": "ms",
        "streaming.latest_offset_ms_p50": "ms",
        "streaming.query_planning_ms_p50": "ms",
        "streaming.wal_commit_ms_p50": "ms",
        "streaming.add_batch_ms_p50": "ms",
        "streaming.records_per_batch_p50": "records",
        "streaming.batches": "count",
        "streaming.backlog_end_files": "count",
        "streaming.checkpoint_bytes": "bytes",
        "streaming.gen_lag_ms_p90": "ms",
        "streaming.catchup_local1_records_per_s": "records/s",
        "streaming.dlq_catchup_records_per_s": "records/s",
        "serde.avro_decode_records_per_s": "records/s",
        "serde.json_dlq_split_records_per_s": "records/s",
        "smt.chain_records_per_s": "records/s",
        "sinks.upsert_merge_s": "s",
        "sinks.upsert_bytes_written_per_input_byte": "ratio",
        "sinks.upsert_table_rows": "rows",
        "sinks.dlq_bytes_written_per_input_byte": "ratio",
    }
    for q in CURATION:
        units[f"operators.{q}.cold_s"] = "s"
        units[f"operators.{q}.warm_s"] = "s"
    units["llmops.index_build_s"] = "s"
    for q in ANALYTICS:
        units[f"operators.{q}_s"] = "s"
    units.update(
        {
            "spark.tasks": "count",
            "spark.stages": "count",
            "spark.failed_tasks": "count",
            "spark.shuffle_write_bytes": "bytes",
            "spark.spill_bytes": "bytes",
            "spark.gc_s": "s",
            "trace.job_s": "s",
        }
    )
    return units


class Context:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, run_dir: str, cache_root: str) -> None:
        from perfbench.harness import Tracer

        self.traced = bool(args.trace)
        self.tracer = Tracer(os.path.basename(run_dir), self.traced)
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = run_dir
        self.cache_root = cache_root
        self.spark = None
        self._stopped = False
        #: sampled from set-up until the measured job ends, so neither
        #: input generation nor the checker (DuckDB, pandas) counts
        self.rss = None

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, once; the DuckDB
        checks need neither."""
        if not self._stopped:
            self._stopped = True
            stop_spark(self.spark)

    @staticmethod
    def elapsed() -> float:
        return time.time() - T0

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python create inside the run's
    own scratch directory (removed at exit)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort at exit
            proc.kill()
            proc.wait(timeout=10)


#: prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux).
    Spark's Python worker daemon is a child of the JVM and exits only
    after the JVM has; re-parented here instead of to init, it can be
    waited for by ``reap_children``."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
            out.append(int(entry))
    return out


def reap_children(grace: float = 15.0) -> None:
    """Return once every process this run started has ended and been
    reaped. Children still running after ``grace`` seconds get SIGTERM,
    and SIGKILL ``grace`` seconds after that."""
    deadline, sig = time.time() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or not yet reaped
        if time.time() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.time() + grace, signal.SIGKILL
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # run as a script, sys.path[0] is this directory; import by package
    sys.path[0] = ROOT
    try:
        import heroku_kafka_connect_spark as program
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print("perfbench: the program was imported from outside this checkout", file=sys.stderr)
        return 2

    from perfbench.harness import RssSampler

    become_subreaper()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    cache_root = os.path.join(WORK, "cache")
    os.makedirs(run_dir)
    os.makedirs(cache_root, exist_ok=True)
    isolate(run_dir)
    ctx = Context(args, run_dir, cache_root)
    sampler = ctx.rss = RssSampler()
    result = None
    try:
        if args.workload.startswith("connect_"):
            from perfbench import streaming

            result = streaming.run_workload(args.workload, args, ctx)
        else:
            from perfbench import batch

            result = batch.run_workload(args.workload, args, ctx)
    finally:
        try:
            ctx.stop_spark()
        finally:
            reap_children()
        peak_mb = sampler.stop()
        if ctx.traced:
            ctx.tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = result["metrics"]
    if ctx.traced:
        metrics["memory.peak_rss_mb"] = peak_mb
    units = per_layer_units() if ctx.traced else END_TO_END
    out = {}
    if result["correct"]:
        missing = [k for k in metrics if k not in units]
        if missing:
            raise KeyError(f"metrics without a declared unit: {missing}")
        for name, unit in units.items():
            out[name] = {"value": float(metrics.get(name, 0)), "unit": unit}
        ctx.log(f"done in {time.time() - T0:.1f}s")
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": out,
            }
        ),
        flush=True,
    )
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
