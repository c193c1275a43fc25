"""Connect-style streaming workloads: a declared pipeline booted through
``controlplane.boot`` drains a backlog (catch-up), then serves an open
loop at a fixed offered rate (live).

Commit times come from the checkpoint: the source log
(``sources/0/<batch>``) maps every input file to the micro-batch that
read it, and ``commits/<batch>`` is written once the sink has finished
that batch. Record counts come from the generator and the sink
outputs, never from the engine's ``numInputRows``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .harness import SPARK_COUNTERS, quantile, stage_stats

WAIT_S = 60.0


class PipelineFailed(RuntimeError):
    """A pipeline did not start, or a micro-batch failed."""


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def put_file(table: pa.Table, stage: str, name: str) -> None:
    """Write atomically: the file source ignores names starting with '.'"""
    tmp = os.path.join(stage, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(stage, name))


class CheckpointLog:
    """Incremental reader of one query's checkpoint: which input file
    went into which batch, and when each batch was committed."""

    def __init__(self, query_dir: str) -> None:
        self.sources = os.path.join(query_dir, "sources", "0")
        self.commits = os.path.join(query_dir, "commits")
        self.file_batch: dict[str, int] = {}
        self.commit_time: dict[int, float] = {}
        self._seen: set[str] = set()

    def poll(self) -> None:
        if os.path.isdir(self.sources):
            for name in sorted(os.listdir(self.sources)):
                if name.startswith(".") or name in self._seen:
                    continue
                with open(os.path.join(self.sources, name)) as f:
                    lines = f.read().splitlines()
                for line in lines[1:]:  # first line is the log version
                    e = json.loads(line)
                    self.file_batch.setdefault(os.path.basename(e["path"]), e["batchId"])
                self._seen.add(name)
        if os.path.isdir(self.commits):
            for name in os.listdir(self.commits):
                if name.isdigit() and int(name) not in self.commit_time:
                    self.commit_time[int(name)] = os.stat(os.path.join(self.commits, name)).st_mtime

    def committed(self, file_name: str) -> float | None:
        b = self.file_batch.get(file_name)
        return None if b is None else self.commit_time.get(b)


class Pipeline:
    """One declared pipeline booted through ``controlplane.boot``."""

    def __init__(self, spark, tracer, name: str, config: dict, checkpoint_root: str) -> None:
        from heroku_kafka_connect_spark import controlplane

        self.spark = spark
        self.name = name
        self.log = CheckpointLog(os.path.join(checkpoint_root, name))
        env = {"CONNECTOR_NAMES": name, f"CONNECTOR_{name.upper()}": json.dumps(config)}
        self.t_boot = time.time()
        with tracer.span("controlplane.boot"):
            self.runtime, self.server, thread = controlplane.boot(
                spark, checkpoint_root=checkpoint_root, env=env, require_kafka_env=False
            )
        thread.join(WAIT_S)
        if name not in self.runtime.list_running():
            self.close()
            raise PipelineFailed(f"pipeline {name} did not start")

    def _check_alive(self) -> None:
        for q in self.spark.streams.active:
            if q.name == self.name:
                return
        raise PipelineFailed(f"pipeline {self.name} stopped: no longer active")

    def wait_committed(self, files: list[str], timeout: float = WAIT_S) -> dict[str, float]:
        deadline = time.time() + timeout
        next_alive_check = 0.0
        while True:
            self.log.poll()
            done = {f: self.log.committed(f) for f in files}
            if all(t is not None for t in done.values()):
                return done
            now = time.time()
            if now > deadline:
                raise PipelineFailed(f"{self.name}: inputs not committed within {timeout}s")
            if now > next_alive_check:
                self._check_alive()
                next_alive_check = now + 0.5
            time.sleep(0.005)

    def close(self) -> None:
        try:
            self.runtime.stop(self.name)
        finally:
            self.server.shutdown()


# --------------------------------------------------------------- workloads


class StreamWorkload:
    """What differs between the two declared pipelines (Avro → upsert,
    JSON → dlq-split): inputs, the declared config, and the correctness
    check of the sink output."""

    name: str
    file_records: int
    backlog_files: int
    live_rate: float  # records/s offered in the live phase, fixed
    tick_s = 0.25
    #: a trigger takes at most this many files. Live files are small (one
    #: tick's records), so the cap must stay far above the files that
    #: arrive during one batch, or it, not the pipeline, limits the
    #: sustainable rate: at 4, freshness jumped whenever a batch took
    #: longer than 4 ticks.
    max_files_per_trigger = 16

    def records(self, seed: int, n: int) -> pd.DataFrame:
        raise NotImplementedError

    def file_table(self, recs: pd.DataFrame) -> pa.Table:
        raise NotImplementedError

    def config(self, stage: str, sink: str) -> dict:
        raise NotImplementedError

    def check(self, spark, sink: str, recs: pd.DataFrame) -> list[str]:
        raise NotImplementedError


AVRO_SMT = {
    "transforms": "cast,mask,shard,rename",
    "transforms.cast.type": "cast",
    "transforms.cast.spec": json.dumps({"qty": "bigint"}),
    "transforms.mask.type": "maskField",
    "transforms.mask.field": "email",
    "transforms.shard.type": "insertField",
    "transforms.shard.name": "shard",
    "transforms.shard.value": "pmod(id, 16)",
    "transforms.rename.type": "replaceField",
    "transforms.rename.renames": json.dumps({"name": "customer_name"}),
    "transforms.rename.exclude": json.dumps(["note"]),
}


def upsert_replay(recs: pd.DataFrame) -> pd.DataFrame:
    """Reference for the upsert table: the latest record per id by seq,
    under the declared SMT chain (qty cast to long, email masked to
    null, shard = id mod 16, name renamed, note dropped; v1 records
    take the reader schema's country default)."""
    last = recs.sort_values("seq").groupby("id", sort=False).tail(1)
    out = pd.DataFrame(
        {
            "id": last["id"].astype("int64"),
            "seq": last["seq"].astype("int64"),
            "customer_name": last["name"],
            "email": None,
            "amount": last["amount"].astype("float64"),
            "qty": last["qty"].astype("int64"),
            "country": last["country"].where(last["schema_id"] == 2, "ZZ"),
            "shard": (last["id"] % 16).astype("int64"),
        }
    )
    return out.sort_values("id", ignore_index=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    got = got[list(want.columns)].sort_values(key, ignore_index=True)
    problems = []
    for c in want.columns:
        a, b = got[c], want[c]
        bad = ~((a == b) | (a.isna() & b.isna()))
        if bad.any():
            i = int(np.flatnonzero(bad.to_numpy())[0])
            problems.append(f"{c}: {int(bad.sum())} mismatches, e.g. {a.iloc[i]!r} != {b.iloc[i]!r}")
    return problems


class AvroUpsert(StreamWorkload):
    name = "avro_upsert"
    file_records = 1250
    backlog_files = 96
    live_rate = 6000.0  # about half the catch-up rate on a 4-CPU host
    key_space = 2_000_000

    def records(self, seed: int, n: int) -> pd.DataFrame:
        recs = gen.avro_records(seed, n, self.key_space)
        df = pd.DataFrame(recs)
        df["value"] = gen.avro_values(recs)
        return df

    def file_table(self, recs: pd.DataFrame) -> pa.Table:
        return pa.table({"value": pa.array(recs["value"].tolist(), pa.binary())})

    def config(self, stage: str, sink: str) -> dict:
        return {
            "source.format": "parquet",
            "source.path": stage,
            "source.schema": "value binary",
            "source.option.maxFilesPerTrigger": str(self.max_files_per_trigger),
            "value.converter": "avro",
            "value.converter.schemas": json.dumps({str(k): v for k, v in gen.AVRO_SCHEMAS.items()}),
            "value.converter.reader": json.dumps(gen.AVRO_READER),
            **AVRO_SMT,
            "sink.format": "parquet-upsert",
            "sink.path": os.path.join(sink, "table"),
            "sink.option.keys": "id",
            "sink.option.orderBy": "seq",
        }

    def check(self, spark, sink: str, recs: pd.DataFrame) -> list[str]:
        with open(os.path.join(sink, "table", "_current")) as f:
            got = spark.read.parquet(f.read().strip()).toPandas()
        return frames_differ(got, upsert_replay(recs), "id")


JSON_SMT = {
    "transforms": "cast,mask,lane,rename",
    "transforms.cast.type": "cast",
    "transforms.cast.spec": json.dumps({"part": "bigint"}),
    "transforms.mask.type": "maskField",
    "transforms.mask.field": "pii",
    "transforms.lane.type": "insertField",
    "transforms.lane.name": "lane",
    "transforms.lane.value": "pmod(rid, 8)",
    "transforms.rename.type": "replaceField",
    "transforms.rename.renames": json.dumps({"src": "source_topic"}),
}


def dlq_replay(recs: pd.DataFrame) -> dict:
    """Reference for the DLQ split: record ids on each side."""
    bad = recs["kind"].ne(0)
    return {"good": set(recs.loc[~bad, "rid"]), "bad": set(recs.loc[bad, "rid"])}


class JsonDlq(StreamWorkload):
    name = "json_dlq"
    file_records = 1500
    backlog_files = 16
    live_rate = 4000.0

    def records(self, seed: int, n: int) -> pd.DataFrame:
        cols = gen.json_records(seed, n)
        df = pd.DataFrame(cols)
        df["part"] = (df["rid"] % 3).astype("int32")
        return df

    def file_table(self, recs: pd.DataFrame) -> pa.Table:
        return pa.table(
            {
                "rid": pa.array(recs["rid"], pa.int64()),
                "part": pa.array(recs["part"], pa.int32()),
                "src": pa.array(recs["src"], pa.string()),
                "pii": pa.array(recs["pii"], pa.string()),
                "payload": pa.array(recs["payload"].tolist(), pa.string()),
            }
        )

    def config(self, stage: str, sink: str) -> dict:
        return {
            "source.format": "parquet",
            "source.path": stage,
            "source.schema": "rid long, part int, src string, pii string, payload string",
            "source.option.maxFilesPerTrigger": str(self.max_files_per_trigger),
            **JSON_SMT,
            "sink.format": "dlq-split",
            "sink.path": os.path.join(sink, "good"),
            "sink.dlqPath": os.path.join(sink, "dlq"),
            "sink.metricsPath": os.path.join(sink, "metrics"),
            "sink.option.jsonColumn": "payload",
            "sink.option.schema": gen.JSON_SCHEMA,
        }

    def check(self, spark, sink: str, recs: pd.DataFrame) -> list[str]:
        from heroku_kafka_connect_spark.controlplane import (
            read_dlq_exactly_once,
            read_metrics_exactly_once,
        )

        want = dlq_replay(recs)
        problems = []
        good = read_dlq_exactly_once(spark, os.path.join(sink, "good"), ["rid"])
        good = good.select("rid", "lane", "pii", "source_topic", "part").toPandas()
        bad = read_dlq_exactly_once(spark, os.path.join(sink, "dlq"), ["rid"])
        bad = bad.select("rid").toPandas()
        if set(good["rid"]) != want["good"] or len(good) != len(want["good"]):
            problems.append(f"valid side: {len(good)} rows, want {len(want['good'])}")
        if set(bad["rid"]) != want["bad"] or len(bad) != len(want["bad"]):
            problems.append(f"dlq side: {len(bad)} rows, want {len(want['bad'])}")
        if not (good["lane"] == good["rid"] % 8).all() or good["pii"].notna().any():
            problems.append("SMT chain not applied to the valid side")
        if not good["source_topic"].str.startswith("topic-").all():
            problems.append("replaceField rename missing")
        m = read_metrics_exactly_once(spark, os.path.join(sink, "metrics")).toPandas()
        if int(m["n_good"].sum()) != len(want["good"]) or int(m["n_bad"].sum()) != len(want["bad"]):
            problems.append(
                f"metrics sidecar {int(m['n_good'].sum())}/{int(m['n_bad'].sum())}, "
                f"want {len(want['good'])}/{len(want['bad'])}"
            )
        return problems


WORKLOADS = {"connect_avro_upsert": AvroUpsert}


# --------------------------------------------------------------- inputs


def build_records(out_dir: str, wl: StreamWorkload, seed: int, n: int) -> None:
    wl.records(seed, n).to_parquet(os.path.join(out_dir, "records.parquet"))


class Inputs:
    """The seeded records of one run, cached on disk per (seed, size),
    cut into backlog files and live files (one per tick)."""

    def __init__(self, wl: StreamWorkload, seed: int, seconds: int, cache_root: str) -> None:
        self.n_backlog = wl.backlog_files * wl.file_records
        self.live_per_file = max(1, round(wl.live_rate * wl.tick_s))
        self.n_live_files = max(1, math.ceil(seconds / wl.tick_s))
        # one full trigger, so the warm-up pays first-batch costs at the
        # measured batch size
        self.n_warm = wl.max_files_per_trigger * wl.file_records
        n = self.n_backlog + self.n_live_files * self.live_per_file + self.n_warm
        key = f"{wl.name}-v{gen.VERSION}-s{seed}-n{n}"

        path = gen.cached_dir(cache_root, key, build_records, wl, seed, n)
        recs = pd.read_parquet(os.path.join(path, "records.parquet"))
        fr = wl.file_records
        self.backlog = [
            (f"b{i:05d}.parquet", recs.iloc[i * fr : (i + 1) * fr]) for i in range(wl.backlog_files)
        ]
        lp, b0 = self.live_per_file, self.n_backlog
        self.live = [
            (f"l{i:05d}.parquet", recs.iloc[b0 + i * lp : b0 + (i + 1) * lp])
            for i in range(self.n_live_files)
        ]
        w0 = b0 + self.n_live_files * lp
        self.warm = [
            (f"w{i}.parquet", recs.iloc[w0 + i * fr : w0 + (i + 1) * fr])
            for i in range(wl.max_files_per_trigger)
        ]
        self.measured = recs.iloc[:w0]


# --------------------------------------------------------------- phases


def warm_up(spark, tracer, wl: StreamWorkload, inputs: Inputs, root: str) -> None:
    """Boot the same declared pipeline on a small separate input and
    wait until it is committed."""
    stage, sink, cp = (os.path.join(root, d) for d in ("stage", "sink", "cp"))
    os.makedirs(stage)
    for name, recs in inputs.warm:
        put_file(wl.file_table(recs), stage, name)
    p = Pipeline(spark, tracer, wl.name, wl.config(stage, sink), cp)
    try:
        p.wait_committed([n for n, _ in inputs.warm])
    finally:
        p.close()


def run_live(wl: StreamWorkload, inputs: Inputs, stage: str, tables: list[pa.Table]):
    """Open-loop generator on this one thread: live file k holds the
    records due in ``(t0 + k*tick, t0 + (k+1)*tick]`` and is written at
    the end of that interval, however far the pipeline lags. Returns
    (t0, write lateness per file in seconds)."""
    lateness: list[float] = []
    t0 = time.time() + 0.05
    for k, (name, _recs) in enumerate(inputs.live):
        due = t0 + (k + 1) * wl.tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        put_file(tables[k], stage, name)
        lateness.append(time.time() - due)
    return t0, lateness


def run_stream(spark, tracer, wl: StreamWorkload, inputs: Inputs, root: str, live: bool = True) -> dict:
    """Catch-up, then (optionally) the live phase. Returns measurements;
    raises PipelineFailed on a failed start or micro-batch."""
    stage, sink, cp = (os.path.join(root, d) for d in ("stage", "sink", "cp"))
    os.makedirs(stage)
    for name, recs in inputs.backlog:
        put_file(wl.file_table(recs), stage, name)
    live_tables = [wl.file_table(recs) for _name, recs in inputs.live]
    backlog_names = [n for n, _ in inputs.backlog]
    p = Pipeline(spark, tracer, wl.name, wl.config(stage, sink), cp)
    out: dict = {"stage": stage, "sink": sink, "query_dir": os.path.join(cp, wl.name)}
    try:
        done = p.wait_committed(backlog_names)
        t_caught = max(done.values())
        out["catchup_s"] = t_caught - p.t_boot
        out["catchup_records_per_s"] = inputs.n_backlog / out["catchup_s"]
        out["catchup_batch"] = p.log.file_batch[max(done, key=done.get)]
        if live:
            t0, lateness = run_live(wl, inputs, stage, live_tables)
            p.log.poll()
            live_names = [n for n, _ in inputs.live]
            out["backlog_end_files"] = sum(p.log.committed(n) is None for n in live_names)
            commits = p.wait_committed(live_names)
            m = inputs.live_per_file
            offsets = (np.arange(m) + 1) * (wl.tick_s / m)
            fresh = np.concatenate(
                [
                    commits[n] - (t0 + k * wl.tick_s + offsets)
                    for k, n in enumerate(live_names)
                ]
            )
            out["freshness_ms"] = fresh * 1000.0
            out["gen_lag_ms"] = np.asarray(lateness) * 1000.0
        p.log.poll()
        out["batches"] = len(p.log.commit_time)
        out["file_batch"] = dict(p.log.file_batch)
    finally:
        p.close()
    return out


def batch_records(wl: StreamWorkload, inputs: Inputs, file_batch: dict[str, int]) -> list[int]:
    sizes = {n: len(r) for n, r in inputs.backlog + inputs.live}
    per: dict[int, int] = {}
    for name, b in file_batch.items():
        per[b] = per.get(b, 0) + sizes.get(name, 0)
    return list(per.values())


# --------------------------------------------------------------- layer probes


def _median_rate(fn, n_records: int, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_records / float(np.median(times))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(spark, tracer, wl: StreamWorkload, inputs: Inputs, run: dict, root: str) -> dict:
    """Per-layer numbers timed from outside, on static inputs: one
    trigger's worth of backlog files."""
    from heroku_kafka_connect_spark import controlplane
    from heroku_kafka_connect_spark.serde import jsonserde
    from heroku_kafka_connect_spark.sinks import writers

    cfg = wl.config(run["stage"], run["sink"])
    files = [os.path.join(run["stage"], n) for n, _ in inputs.backlog[: wl.max_files_per_trigger]]
    n = sum(len(r) for _, r in inputs.backlog[: wl.max_files_per_trigger])
    static = spark.read.schema(cfg["source.schema"]).parquet(*files)
    m: dict[str, float] = {}
    rt = controlplane.SparkRuntime(spark, checkpoint_root=os.path.join(root, "probe-cp"))
    with tracer.span("controlplane.compile"):
        t0 = time.perf_counter()
        rt.compile(controlplane.PipelineSpec(wl.name, cfg))
        m["controlplane.compile_s"] = time.perf_counter() - t0
    if isinstance(wl, AvroUpsert):
        with tracer.span("serde.avro_decode"):
            m["serde.avro_decode_records_per_s"] = _median_rate(
                lambda: _noop(controlplane.apply_converter(static, cfg)), n
            )
        decoded = controlplane.apply_converter(static, cfg).cache()
    else:
        def split() -> None:
            good, bad = jsonserde.dlq_split(static, "payload", gen.JSON_SCHEMA)
            _noop(good)
            _noop(bad)

        with tracer.span("serde.json_dlq_split"):
            m["serde.json_dlq_split_records_per_s"] = _median_rate(split, n)
        decoded = static.cache()
    decoded.count()
    with tracer.span("smt.chain"):
        m["smt.chain_records_per_s"] = _median_rate(
            lambda: _noop(controlplane.apply_transform_chain(decoded, cfg)), n
        )
    in_bytes = sum(
        os.path.getsize(os.path.join(run["stage"], f)) for f in run["file_batch"]
    )
    if isinstance(wl, AvroUpsert):
        batch = controlplane.apply_transform_chain(decoded, cfg).cache()
        batch.count()
        table = os.path.join(root, "probe-table")
        os.makedirs(table)
        with open(os.path.join(table, "_current"), "w") as f:
            f.write(os.path.join(run["sink"], "table", f"state_{run['catchup_batch']}"))
        write = writers.foreach_batch_upsert_parquet(table, ["id"], ["seq"])
        with tracer.span("sinks.upsert_merge"):
            t0 = time.perf_counter()
            write(batch, 10**6)
            m["sinks.upsert_merge_s"] = time.perf_counter() - t0
        batch.unpersist()
        m["sinks.upsert_bytes_written_per_input_byte"] = du(os.path.join(run["sink"], "table")) / in_bytes
        with open(os.path.join(run["sink"], "table", "_current")) as f:
            m["sinks.upsert_table_rows"] = spark.read.parquet(f.read().strip()).count()
    else:
        m["sinks.dlq_bytes_written_per_input_byte"] = du(run["sink"]) / in_bytes
    decoded.unpersist()
    return m


def stream_layer_metrics(run: dict, progress: list[dict], wl, inputs) -> dict:
    ev = [e for e in progress if e["name"] == wl.name]

    def dur(key: str, q: float) -> float:
        vals = [e["ms"].get(key, 0) for e in ev]
        return quantile(vals, q) if vals else 0.0

    return {
        "streaming.trigger_ms_p50": dur("triggerExecution", 0.5),
        "streaming.trigger_ms_p90": dur("triggerExecution", 0.9),
        "streaming.latest_offset_ms_p50": dur("latestOffset", 0.5),
        "streaming.query_planning_ms_p50": dur("queryPlanning", 0.5),
        "streaming.wal_commit_ms_p50": dur("walCommit", 0.5),
        "streaming.add_batch_ms_p50": dur("addBatch", 0.5),
        "streaming.records_per_batch_p50": quantile(batch_records(wl, inputs, run["file_batch"]), 0.5),
        "streaming.batches": run["batches"],
        "streaming.backlog_end_files": run["backlog_end_files"],
        "streaming.checkpoint_bytes": du(run["query_dir"]),
        "streaming.gen_lag_ms_p90": quantile(run["gen_lag_ms"], 0.9),
    }


# --------------------------------------------------------------- entry


def dlq_probe(spark, ctx, seed: int) -> tuple[dict, list[str]]:
    """The JSON → SMT → dlq-split pipeline, catch-up only, with its
    exactly-once correctness gate: the DLQ sink's layers measured beside
    the upsert sink's."""
    wl = JsonDlq()
    inputs = Inputs(wl, seed, 0, ctx.cache_root)
    root = os.path.join(ctx.run_dir, "dlq")
    run = run_stream(spark, ctx.tracer, wl, inputs, root, live=False)
    problems = wl.check(spark, run["sink"], pd.concat([r for _, r in inputs.backlog]))
    m = layer_probes(spark, ctx.tracer, wl, inputs, run, root)
    m = {k: v for k, v in m.items() if k.startswith(("serde.", "sinks."))}
    m["streaming.dlq_catchup_records_per_s"] = run["catchup_records_per_s"]
    shutil.rmtree(root, ignore_errors=True)
    return m, problems


def run_workload(name: str, args, ctx) -> dict:
    """Run one streaming workload; returns the result fields."""
    from .harness import last_stage_id, make_progress_listener, set_up

    wl = WORKLOADS[name]()
    inputs = Inputs(wl, args.seed, args.seconds, ctx.cache_root)
    tracer = ctx.tracer
    ctx.log(f"inputs ready at {ctx.elapsed():.1f}s")
    spark, setup_s = set_up(
        tracer,
        ctx.cpus,
        lambda s: warm_up(s, tracer, wl, inputs, os.path.join(ctx.run_dir, "warm")),
        ctx.rss,
    )
    ctx.spark = spark
    ctx.log(f"set up at {ctx.elapsed():.1f}s")
    progress: list[dict] = []
    if ctx.traced:
        spark.streams.addListener(make_progress_listener(progress))
        stage0 = last_stage_id(spark)
    root = os.path.join(ctx.run_dir, "main")
    try:
        run = run_stream(spark, tracer, wl, inputs, root)
    except PipelineFailed as e:
        ctx.log(f"pipeline failed: {e}")
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    attempted = 1 + run["batches"]  # the pipeline start and its micro-batches
    ctx.log(
        f"{name}: backlog {inputs.n_backlog} records, live {len(run['freshness_ms'])} records "
        f"in {len(inputs.live)} files at {wl.live_rate:g}/s, {run['batches']} batches; "
        f"stream done at {ctx.elapsed():.1f}s"
    )
    ctx.rss.stop()
    problems = wl.check(spark, run["sink"], inputs.measured)
    if ctx.traced:
        layer = stream_layer_metrics(run, progress, wl, inputs)
        layer["trace.job_s"] = run["catchup_s"]
        st = stage_stats(spark, stage0)
        for k in SPARK_COUNTERS:
            layer[f"spark.{k}"] = st[k]
        boots = [x["end"] - x["start"] for x in tracer.spans if x["name"] == "controlplane.boot"]
        layer["controlplane.boot_s"] = float(np.median(boots))
        for s in ("session.get_spark", "session.configure"):
            layer[f"{s}_s"] = tracer.total(s)
        layer.update(layer_probes(spark, tracer, wl, inputs, run, root))
        dlq, dlq_problems = dlq_probe(spark, ctx, args.seed)
        layer.update(dlq)
        problems += dlq_problems
        layer["streaming.catchup_local1_records_per_s"] = local1_baseline(ctx, wl, inputs)
    for p in problems:
        ctx.log(f"MISMATCH {name}: {p}")
    if ctx.spark.streams.active:
        problems.append("streams still active at exit")
    ctx.log(f"checked at {ctx.elapsed():.1f}s")
    if ctx.traced:
        metrics = layer
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": run["catchup_s"],
            "catchup_records_per_s": run["catchup_records_per_s"],
            "freshness_p50_ms": quantile(run["freshness_ms"], 0.5),
            "freshness_p90_ms": quantile(run["freshness_ms"], 0.9),
        }
    shutil.rmtree(root, ignore_errors=True)
    return {"correct": not problems, "attempted": attempted, "failed": 0, "metrics": metrics}


def local1_baseline(ctx, wl: StreamWorkload, inputs: Inputs) -> float:
    """Single-threaded baseline: drain the same backlog at ``local[1]``
    in a fresh SparkContext (after its own warm-up)."""
    from .harness import start_session

    ctx.spark.stop()
    spark = start_session(ctx.tracer, 1)
    ctx.spark = spark
    warm_up(spark, ctx.tracer, wl, inputs, os.path.join(ctx.run_dir, "warm-local1"))
    run = run_stream(spark, ctx.tracer, wl, inputs, os.path.join(ctx.run_dir, "local1"), live=False)
    return run["catchup_records_per_s"]
