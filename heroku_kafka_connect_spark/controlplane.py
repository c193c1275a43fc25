"""Declarative pipeline control plane — §2.E, §3.2 (SURVEY.md).

This is the one part of the reference we re-implement *behaviorally*
rather than map to a Spark builtin: the ~100 lines of bash at
reference main.sh:94-208 that turn `CONNECTOR_${NAME}` JSON env vars
into running Kafka Connect connectors and keep the running set equal
to the declared set.

Mapping (reference → here):
  - env validation / fail-fast          main.sh:10-15  → PipelineSpec.validate / validate_env
  - connector JSON in CONNECTOR_${name} main.sh:148-151 → specs_from_env
  - upsert via PUT /connectors/{name}   main.sh:156-159 → Reconciler.upsert (stop+restart on config change — Connect restarts tasks on config change too)
  - list running GET /connectors        main.sh:117-128 → QueryRuntime.list_running
  - prune unmanaged                     main.sh:171-195 → Reconciler.prune
  - delete with retry (8 × 2s)          main.sh:130-141 → Reconciler._stop_with_retry
  - readiness probe (60 × 2s)           main.sh:99-111  → wait_ready
  - async reconcile at boot             main.sh:204-207 → Reconciler.run_background

The runtime is abstracted behind ``QueryRuntime`` so the reconcile
semantics are unit-testable without Spark (tests/test_controlplane.py
uses a fake); ``SparkRuntime`` binds it to ``spark.streams`` with the
spec compiler in this module.

At scale the control plane is driver-side-only Python — it never
touches the data path; each compiled pipeline is a Structured
Streaming query whose parallelism comes from its source partitions.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

ENV_PREFIX = "CONNECTOR_"
NAMES_VAR = "CONNECTOR_NAMES"

#: env vars the reference refuses to boot without (main.sh:10-15)
REQUIRED_BOOT_VARS = (
    "KAFKA_URL",
    "KAFKA_CLIENT_CERT",
    "KAFKA_CLIENT_CERT_KEY",
    "KAFKA_TRUSTED_CERT",
)


class SpecError(ValueError):
    """Invalid pipeline spec (the analog of Connect's 400 on PUT)."""


class ConflictError(RuntimeError):
    """Stop retries exhausted mid-mutation — the analog of Connect's
    409 under rebalance (main.sh retries exactly this, main.sh:130-141)."""


@dataclass(frozen=True)
class PipelineSpec:
    """One declarative pipeline — same shape as the reference's
    per-connector JSON (README.md:24-25): a name plus a flat config
    map with dotted keys (``source.format``, ``transforms`` ...)."""

    name: str
    config: Mapping[str, str]

    REQUIRED = ("source.format", "sink.format")

    def validate(self) -> None:
        if not self.name or not self.name.replace("-", "").replace("_", "").isalnum():
            raise SpecError(f"invalid pipeline name: {self.name!r}")
        missing = [k for k in self.REQUIRED if not self.config.get(k)]
        if missing:
            raise SpecError(f"{self.name}: missing required config {missing}")

    def fingerprint(self) -> str:
        """Canonical hash of the config — drives restart-on-change."""
        return json.dumps(dict(sorted(self.config.items())), separators=(",", ":"))


def validate_env(env: Mapping[str, str] | None = None) -> None:
    """Fail-fast boot validation (reference main.sh:10-15)."""
    env = os.environ if env is None else env
    missing = [v for v in REQUIRED_BOOT_VARS if not env.get(v)]
    if missing:
        raise SpecError(f"missing required environment: {missing}")


def specs_from_env(env: Mapping[str, str] | None = None) -> list[PipelineSpec]:
    """Desired state from env: ``CONNECTOR_NAMES="a b"`` names the
    set; ``CONNECTOR_<NAME>`` holds each JSON config
    (reference main.sh:148-151, README.md:24-25)."""
    env = os.environ if env is None else env
    names = (env.get(NAMES_VAR) or "").split()
    specs = []
    for name in names:
        raw = env.get(f"{ENV_PREFIX}{name.upper()}") or env.get(f"{ENV_PREFIX}{name}")
        if raw is None:
            raise SpecError(f"{NAMES_VAR} lists {name!r} but {ENV_PREFIX}{name.upper()} is unset")
        try:
            cfg = json.loads(raw)
        except json.JSONDecodeError as e:
            raise SpecError(f"{name}: config is not valid JSON: {e}") from e
        spec = PipelineSpec(name=name, config=cfg)
        spec.validate()
        specs.append(spec)
    return specs


# ---------------------------------------------------------------- runtime


class QueryRuntime:
    """What the reconciler needs from a runtime: the Connect REST
    surface (list / upsert / delete, main.sh:113-166) reduced to
    three methods."""

    def list_running(self) -> dict[str, str]:
        """name -> config fingerprint of every running pipeline."""
        raise NotImplementedError

    def start(self, spec: PipelineSpec) -> None:
        raise NotImplementedError

    def stop(self, name: str) -> None:
        raise NotImplementedError

    def is_ready(self) -> bool:
        return True


@dataclass
class ReconcileReport:
    started: list[str] = field(default_factory=list)
    restarted: list[str] = field(default_factory=list)
    unchanged: list[str] = field(default_factory=list)
    pruned: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)


class Reconciler:
    """Make running state equal declared state (main.sh:146-196)."""

    def __init__(
        self,
        runtime: QueryRuntime,
        *,
        stop_retries: int = 8,
        retry_sleep_s: float = 2.0,
        ready_tries: int = 60,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.runtime = runtime
        self.stop_retries = stop_retries
        self.retry_sleep_s = retry_sleep_s
        self.ready_tries = ready_tries
        self._sleep = sleep
        #: serializes ALL mutations through this reconciler — the boot
        #: thread's reconcile pass and any HTTP PUT/DELETE share one
        #: Reconciler (boot() wires the REST server to it), so without
        #: this an HTTP upsert could interleave stop/start with the
        #: background reconcile on the same pipeline name. Connect
        #: serializes through the herder queue; an RLock is the
        #: single-process analog.
        self.lock = threading.RLock()

    def wait_ready(self) -> bool:
        """Readiness probe: poll until the runtime answers
        (main.sh:99-111, 60 tries × 2 s)."""
        for _ in range(self.ready_tries):
            if self.runtime.is_ready():
                return True
            self._sleep(self.retry_sleep_s)
        return False

    def _stop_with_retry(self, name: str) -> bool:
        """DELETE with retries on conflict (main.sh:130-141)."""
        for attempt in range(self.stop_retries):
            try:
                self.runtime.stop(name)
                return True
            except Exception:  # noqa: BLE001 — runtime may 409 mid-rebalance
                if attempt == self.stop_retries - 1:
                    return False
                self._sleep(self.retry_sleep_s)
        return False

    def upsert(self, spec: PipelineSpec) -> str:
        """PUT semantics for ONE pipeline (main.sh:148-166): new →
        start ("started"); changed fingerprint → stop-with-retry +
        start ("restarted"); identical fingerprint → no-op
        ("unchanged", as a PUT of identical config is in Connect).
        Raises on validation or start failure — callers map that to
        their own error surface (reconcile report / HTTP 4xx-5xx)."""
        spec.validate()
        with self.lock:
            current = self.runtime.list_running().get(spec.name)
            if current is None:
                self.runtime.start(spec)
                return "started"
            if current != spec.fingerprint():
                if not self._stop_with_retry(spec.name):
                    raise ConflictError(f"{spec.name}: stop-for-restart failed")
                self.runtime.start(spec)
                return "restarted"
            return "unchanged"

    def delete(self, name: str) -> bool:
        """DELETE semantics (main.sh:130-141, 190-195): stop with the
        E8 retry ladder. True = stopped; False = retries exhausted
        (Connect's 409-under-rebalance analog)."""
        with self.lock:
            return self._stop_with_retry(name)

    def reconcile_once(self, desired: list[PipelineSpec]) -> ReconcileReport:
        report = ReconcileReport()
        with self.lock:
            return self._reconcile_locked(desired, report)

    def _reconcile_locked(
        self, desired: list[PipelineSpec], report: ReconcileReport
    ) -> ReconcileReport:
        running = self.runtime.list_running()
        desired_names = {s.name for s in desired}

        # upsert (main.sh:148-166) — per-pipeline failures isolated
        for spec in desired:
            try:
                outcome = self.upsert(spec)
                getattr(report, outcome).append(spec.name)
            except Exception as e:  # noqa: BLE001 — isolate per-pipeline failures
                report.failed[spec.name] = str(e)

        # prune unmanaged (main.sh:171-195)
        for name in running:
            if name not in desired_names:
                if self._stop_with_retry(name):
                    report.pruned.append(name)
                else:
                    report.failed[name] = "prune failed"
        return report

    def run_background(self, desired: list[PipelineSpec]) -> threading.Thread:
        """Boot-time async reconcile (main.sh:204-207): readiness
        probe then one reconcile pass, off the caller's thread."""

        def _run() -> None:
            if self.wait_ready():
                self.reconcile_once(desired)

        t = threading.Thread(target=_run, name="hkc-reconcile", daemon=True)
        t.start()
        return t


def boot(
    spark: SparkSession,
    *,
    checkpoint_root: str,
    env: Mapping[str, str] | None = None,
    status_port: int = 0,
    require_kafka_env: bool = True,
):
    """The reference's entire main() (main.sh:10-208) as one call:

      1. fail-fast env validation            (main.sh:10-15)
      2. compile desired state from env      (main.sh:148-151)
      3. serve the status REST endpoint      (main.sh:85-89)
      4. reconcile asynchronously at boot    (main.sh:204-207)

    Returns ``(runtime, status_server, reconcile_thread)``; the
    caller's thread stays free — Spark's streaming queries are the
    \"foreground worker\" the reference exec's. ``require_kafka_env=
    False`` skips step 1 for broker-less deployments (file→file
    pipelines need no Kafka credentials)."""
    from .rest import StatusServer

    if require_kafka_env:
        validate_env(env)
    specs = specs_from_env(env)
    runtime = SparkRuntime(spark, checkpoint_root=checkpoint_root)
    reconciler = Reconciler(runtime)
    # the REST server shares the boot reconciler: HTTP PUT/DELETE get
    # the same fingerprint-upsert and stop-retry semantics as the
    # declarative env reconcile (main.sh drives both through the same
    # Connect REST surface)
    server = StatusServer(runtime, port=status_port, reconciler=reconciler)
    server.start()
    thread = reconciler.run_background(specs)
    return runtime, server, thread


# ------------------------------------------------------- spec compiler


class SparkRuntime(QueryRuntime):
    """Binds the reconciler to Structured Streaming: compiles a
    PipelineSpec into a named StreamingQuery (the analog of Connect
    validating a config and spawning tasks, §3.2)."""

    def __init__(self, spark: SparkSession, *, checkpoint_root: str) -> None:
        # configure ships this package to the Python workers (the Avro
        # converter's pandas UDF imports it there) and pins the session
        # invariants; idempotent, so a pre-configured session is fine
        self.spark = configure(spark)
        self.checkpoint_root = checkpoint_root
        self._fingerprints: dict[str, str] = {}

    # -- runtime surface
    def list_running(self) -> dict[str, str]:
        active = {q.name for q in self.spark.streams.active if q.name}
        # forget fingerprints of queries that died outside our control
        self._fingerprints = {n: fp for n, fp in self._fingerprints.items() if n in active}
        return dict(self._fingerprints)

    def start(self, spec: PipelineSpec) -> None:
        spec.validate()
        df = self.compile(spec)
        # Durable sinks checkpoint per NAME — restarts resume the
        # stream exactly where it stopped, the offset-topic semantics
        # of main.sh:63. The memory sink truncates on restart and
        # cannot recover a checkpoint, so it gets a fresh one per
        # start (its state is ephemeral by definition).
        cfg = spec.config
        fmt = cfg["sink.format"]
        cp = os.path.join(self.checkpoint_root, spec.name)
        if fmt == "memory":
            cp = os.path.join(self.checkpoint_root, f"{spec.name}-{uuid.uuid4().hex[:8]}")
        if fmt == "dlq-split":
            # errors.tolerance=all + dead-letter topic (Connect worker
            # config, reference Dockerfile:4 [stack]): parse the
            # payload; valid rows → sink.path, corrupt → sink.dlqPath.
            # foreachBatch gives NO cross-write transaction — these are
            # two at-least-once parquet appends. A replayed batch after
            # partial failure re-appends rows, so each row carries its
            # __batch_id: readers needing exactly-once dedup on
            # (__batch_id, natural key) — the same contract Connect's
            # DLQ topic offers (at-least-once + record headers).
            # NB sink dirs created before __batch_id existed hold
            # mixed schemas: read those with mergeSchema=true.
            from .serde import jsonserde

            json_col = cfg["sink.option.jsonColumn"]
            schema = cfg["sink.option.schema"]
            good_path, dlq_path = cfg["sink.path"], cfg["sink.dlqPath"]

            def stamp(bdf: DataFrame, batch_id: int) -> DataFrame:
                # (__batch_id, __row_n) = stable row identity: __row_n
                # is a row_number over a TOTAL order of the batch's own
                # content, so a replayed batch (identical content by
                # construction) re-derives identical row numbers and
                # re-appended rows collide exactly. The total order is
                # (content-hash bucket, all columns): rows are hashed
                # into 64 buckets, ranked WITHIN their bucket, and a
                # broadcast prefix-sum of per-bucket counts turns local
                # ranks into the global ordinal — the same
                # offset+local-rank decomposition as the curriculum
                # ordinal (pipeline_queries.llm_curriculum_order). No
                # unpartitioned WindowExec: a fat micro-batch stamps
                # through 64 parallel tasks instead of funnelling its
                # full width through one sort task per trigger. The
                # bucket is xxhash64 of the row content (fixed seed),
                # so replay determinism is preserved; only the tiny
                # 64-row offset relation is prefix-summed serially.
                # Unorderable columns (maps, and arrays/structs
                # containing them) are serialized to JSON for the hash
                # + sort key — Spark rejects them in ordering
                # expressions, and silently skipping them would weaken
                # identity to a partial order (duplicate sort keys =
                # replay-order-dependent row numbers).
                from pyspark.sql import Window
                from pyspark.sql.types import ArrayType, MapType, StructType

                def orderable(dt) -> bool:
                    if isinstance(dt, MapType):
                        return False
                    if isinstance(dt, ArrayType):
                        return orderable(dt.elementType)
                    if isinstance(dt, StructType):
                        return all(orderable(f.dataType) for f in dt.fields)
                    return True

                keys = [
                    F.col(f.name) if orderable(f.dataType) else F.to_json(f.name)
                    for f in bdf.schema.fields
                ]
                nb = 64
                tmp = bdf.withColumn(
                    "__bkt", F.pmod(F.xxhash64(*keys), F.lit(nb)).cast("int")
                )
                counts = tmp.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__c"))
                # prefix sum over <=64 rows — allowlisted tiny-relation window
                woff = Window.orderBy("__bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
                offs = counts.select(
                    "__bkt",
                    F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
                )
                wrn = Window.partitionBy("__bkt").orderBy(*keys)
                return (
                    tmp.withColumn("__rn", F.row_number().over(wrn))
                    .join(F.broadcast(offs), "__bkt")
                    .withColumn(
                        "__row_n", (F.col("__off") + F.col("__rn")).cast("int")
                    )
                    .withColumn("__batch_id", F.lit(batch_id))
                    .drop("__bkt", "__rn", "__off")
                )

            metrics_path = cfg.get("sink.metricsPath")

            def split(batch_df: DataFrame, batch_id: int) -> None:
                from pyspark.sql import Observation

                valid, dlq = jsonserde.dlq_split(batch_df, json_col, schema)
                # persist the parsed halves for the stamp: its bucket-
                # count branch and its rank branch would otherwise each
                # re-run the JSON parse + split filter (2 extra source
                # scans per trigger, verified in the executed plan) —
                # the cache turns both branches into InMemoryTableScan
                # of one materialization. Unpersisted per batch.
                good_in = valid.withColumn("__parsed", F.to_json("__parsed")).persist()
                bad_in = dlq.persist()
                try:
                    good_df = stamp(good_in, batch_id)
                    bad_df = stamp(bad_in, batch_id)
                    # per-batch quality metrics ride the WRITE pass via
                    # the Observation API (accumulator-backed) — zero
                    # extra scans, the Connect task-metrics analog.
                    # Declared with sink.metricsPath; absent = no
                    # metric I/O at all.
                    if metrics_path:
                        ob_g, ob_b = Observation(), Observation()
                        good_df = good_df.observe(ob_g, F.count(F.lit(1)).alias("n"))
                        bad_df = bad_df.observe(ob_b, F.count(F.lit(1)).alias("n"))
                    good_df.write.mode("append").parquet(good_path)
                    bad_df.write.mode("append").parquet(dlq_path)
                    if metrics_path:
                        n_good = ob_g.get.get("n", 0)
                        n_bad = ob_b.get.get("n", 0)
                        # at-least-once like the data appends: a batch
                        # replayed after a crash between the data and
                        # metrics writes re-appends an IDENTICAL
                        # (batch_id, n_good, n_bad) row (the epoch is
                        # pinned at the checkpoint, so the replayed
                        # split is bit-identical). Readers restore
                        # exactly-once with read_metrics_exactly_once
                        # — the metrics analog of the stamped data
                        # paths' (__batch_id, __row_n) collision.
                        batch_df.sparkSession.createDataFrame(
                            [(int(batch_id), int(n_good), int(n_bad))],
                            "batch_id long, n_good long, n_bad long",
                        ).coalesce(1).write.mode("append").parquet(metrics_path)
                finally:
                    good_in.unpersist()
                    bad_in.unpersist()

            writer = df.writeStream.queryName(spec.name).foreachBatch(split).option(
                "checkpointLocation", cp
            )
        elif fmt in ("jdbc-upsert", "parquet-upsert"):
            # the Connect JDBC sink's insert.mode=upsert + pk.mode
            # (reference Dockerfile:28-40) — batch-dedup + idempotent
            # merge inside foreachBatch (SURVEY §4.3.2)
            from .sinks import writers as _writers

            keys = cfg["sink.option.keys"].split(",")
            order = cfg["sink.option.orderBy"].split(",")
            if fmt == "jdbc-upsert":
                extra = {
                    k.removeprefix("sink.option.jdbc."): v
                    for k, v in cfg.items()
                    if k.startswith("sink.option.jdbc.")
                }
                fb = _writers.foreach_batch_upsert(
                    cfg["sink.option.url"],
                    cfg["sink.option.table"],
                    keys,
                    order,
                    # per-pipeline stage table: two queries upserting
                    # the same target must not share a stage
                    stage_suffix=spec.name,
                    **extra,
                )
            else:
                fb = _writers.foreach_batch_upsert_parquet(cfg["sink.path"], keys, order)
            writer = df.writeStream.queryName(spec.name).foreachBatch(fb).option(
                "checkpointLocation", cp
            )
        else:
            writer = (
                df.writeStream.queryName(spec.name)
                .outputMode(cfg.get("sink.outputMode", "append"))
                .format(fmt)
                .option("checkpointLocation", cp)
            )
            for k, v in cfg.items():
                if k.startswith("sink.option."):
                    writer = writer.option(k.removeprefix("sink.option."), v)
            if fmt == "parquet":
                writer = writer.option("path", cfg["sink.path"])
        if cfg.get("trigger") == "availableNow":
            writer = writer.trigger(availableNow=True)
        writer.start()
        self._fingerprints[spec.name] = spec.fingerprint()

    def stop(self, name: str) -> None:
        qid = next((q.id for q in self.spark.streams.active if q.name == name), None)
        if qid is None:
            # Already stopped (died or finished on its own). The
            # reference treats a 404 on DELETE as success
            # (main.sh:130-141 retries only on real errors) — raising
            # here would make _stop_with_retry burn its 8×2s budget on
            # a query that is already gone.
            self._fingerprints.pop(name, None)
            return
        q = self.spark.streams.get(qid)
        q.stop()
        q.awaitTermination(30)
        self._fingerprints.pop(name, None)

    def is_ready(self) -> bool:
        try:
            return self.spark.sparkContext._jsc is not None  # noqa: SLF001
        except Exception:  # noqa: BLE001
            return False

    # -- compiler: spec → streaming DataFrame
    def compile(self, spec: PipelineSpec) -> DataFrame:
        cfg = spec.config
        fmt = cfg["source.format"]
        reader = self.spark.readStream.format(fmt)
        if "source.schema" in cfg:
            reader = reader.schema(cfg["source.schema"])
        for k, v in cfg.items():
            if k.startswith("source.option."):
                reader = reader.option(k.removeprefix("source.option."), v)
        df = reader.load(cfg["source.path"]) if "source.path" in cfg else reader.load()
        df = apply_converter(df, cfg)
        df = apply_transform_chain(df, cfg)
        # F4 `tasks.max`: cap the per-micro-batch parallelism into the
        # sink — every batch writes through exactly N tasks (Connect's
        # max concurrent sink tasks per connector). Source-side intake
        # is bounded separately via source.option.maxFilesPerTrigger /
        # maxOffsetsPerTrigger. F5 rebalancing falls out of the
        # reconciler: tasks.max participates in the spec fingerprint,
        # so scaling it up/down restarts the query with the new
        # parallelism from the same checkpoint — Connect's
        # rebalance-on-membership-change, driven by config instead
        # (tests/test_controlplane.py::test_tasks_max_and_rebalance).
        if "tasks.max" in cfg:
            try:
                n = int(cfg["tasks.max"])
            except ValueError:
                raise SpecError(
                    f"{spec.name}: tasks.max must be an integer, "
                    f"got {cfg['tasks.max']!r}"
                ) from None
            if n < 1:
                raise SpecError(f"{spec.name}: tasks.max must be >= 1, got {n}")
            df = df.repartition(n)
        return df


def read_dlq_exactly_once(spark: SparkSession, path: str, keys: list[str]) -> DataFrame:
    """Exactly-once READ over the at-least-once DLQ/valid parquet
    appends of the dlq-split sink (SparkRuntime.start, fmt=dlq-split).

    The writer is two non-transactional appends inside foreachBatch: a
    batch replayed after partial failure re-appends its rows — but
    Structured Streaming replays a batch under the SAME ``__batch_id``
    (the epoch is fixed at the checkpoint before the sink runs), and
    the writer stamps each row with ``__row_n``, a row_number over a
    total order of the batch's columns — identical on replay, since
    the replayed batch has identical content. Re-appended rows
    therefore collide exactly on (__batch_id, __row_n) and one
    dropDuplicates restores effective exactly-once WITHOUT collapsing
    distinct same-key records inside one batch (the failure mode of a
    keys-only dedup); identical payloads legitimately re-emitted in
    LATER batches (distinct __batch_id) survive — the same contract as
    deduping a Connect DLQ topic on (offset header, key).

    At scale this is one shuffle on the dedup key; mergeSchema covers
    sink dirs whose oldest files predate the stamps — their rows carry
    null __row_n and fall back to the (__batch_id, *keys) collision,
    which is why keys stays in the subset."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    subset = ["__batch_id", *keys] + (["__row_n"] if "__row_n" in df.columns else [])
    return df.dropDuplicates(subset)


def read_metrics_exactly_once(spark: SparkSession, path: str) -> DataFrame:
    """Exactly-once READ over the dlq-split metrics sidecar
    (``sink.metricsPath``): the writer appends one (batch_id, n_good,
    n_bad) row per trigger in a separate action AFTER the data writes,
    so a replayed micro-batch appends a duplicate row — identical by
    construction (the replayed epoch re-splits the same input). One
    max-agg per batch_id collapses replays; max (not ``any_value``)
    keeps the read deterministic even on a corrupt sidecar where
    replays somehow differ. Counts stay consistent with
    ``read_dlq_exactly_once`` over the corresponding data dirs. At
    scale: one map-side-combinable agg over a tiny relation (one row
    per trigger)."""
    return (
        spark.read.parquet(path)
        .groupBy("batch_id")
        .agg(
            F.max("n_good").alias("n_good"),
            F.max("n_bad").alias("n_bad"),
        )
    )


def apply_converter(df: DataFrame, cfg: Mapping[str, str]) -> DataFrame:
    """Connect's per-connector ``value.converter`` (main.sh:72-81),
    applied before the SMT chain exactly as Connect converts bytes →
    structured record before transforms run.

    ``value.converter: avro`` decodes a wire-format binary column
    (5-byte header + Avro body) by registry id:
      - ``value.converter.schemas``: JSON map id → writer schema
      - ``value.converter.reader``: JSON reader schema
      - ``value.converter.column``: binary col (default ``value``)
    ``value.converter: json`` parses a JSON string column with
    ``value.converter.schema`` (DDL). Decoded fields replace the raw
    column at the top level, so downstream SMTs address them by name.
    """
    # key.converter first (Connect converts key and value independently);
    # the decoded key stays a single `key` struct column — the envelope
    # keeps its shape and valueToKey-style SMTs still address `key.*`.
    key_kind = cfg.get("key.converter")
    if key_kind:
        kcol = cfg.get("key.converter.column", "key")
        if key_kind == "avro":
            from .serde import avro_wire

            kschemas = {int(k): v for k, v in json.loads(cfg["key.converter.schemas"]).items()}
            kreader = json.loads(cfg["key.converter.reader"])
            kdec = avro_wire.from_avro_framed_py(kschemas, kreader)
            df = df.withColumn(kcol, kdec(F.col(kcol)))
        elif key_kind == "json":
            # JsonConverter consumes BYTES (Kafka keys/values are
            # binary); the cast is a UTF-8 decode and a no-op on string
            df = df.withColumn(
                kcol, F.from_json(F.col(kcol).cast("string"), cfg["key.converter.schema"])
            )
        else:
            raise SpecError(f"unknown key.converter {key_kind!r}")

    kind = cfg.get("value.converter")
    if not kind:
        return df
    col = cfg.get("value.converter.column", "value")
    if kind == "avro":
        from .serde import avro_wire

        schemas = {int(k): v for k, v in json.loads(cfg["value.converter.schemas"]).items()}
        reader_schema = json.loads(cfg["value.converter.reader"])
        decoded_names = [f["name"] for f in reader_schema["fields"]]
        # errors.tolerance=all at the converter: corrupt records keep
        # flowing with null fields + `_corrupt_record`, ready for a
        # downstream dlq-split filter instead of a poisoned stream
        tolerant = cfg.get("value.converter.tolerant", "false").lower() == "true"
        if tolerant:
            decoded_names.append("_corrupt_record")
        dec = avro_wire.from_avro_framed_py(
            schemas, reader_schema, corrupt_col="_corrupt_record" if tolerant else None
        )
        others = _non_colliding(df.columns, col, decoded_names)
        return df.select(*others, dec(F.col(col)).alias("__rec")).select(*others, "__rec.*")
    if kind == "json":
        from pyspark.sql.types import StructType

        decoded_names = [f.name for f in StructType.fromDDL(cfg["value.converter.schema"])]
        parsed = F.from_json(F.col(col).cast("string"), cfg["value.converter.schema"])
        others = _non_colliding(df.columns, col, decoded_names)
        return df.select(*others, parsed.alias("__rec")).select(*others, "__rec.*")
    raise SpecError(f"unknown value.converter {kind!r}")


def _non_colliding(columns: list[str], value_col: str, decoded_names: list[str]) -> list[str]:
    """Envelope columns to keep alongside the flattened value fields.
    A value field named like an envelope column (`timestamp` is the
    classic) would otherwise produce duplicate column names and
    AMBIGUOUS_REFERENCE in every downstream SMT — the decoded record
    wins, matching Connect where the converted value REPLACES the raw
    one rather than merging with the envelope."""
    decoded = set(decoded_names)
    return [c for c in columns if c != value_col and c not in decoded]


def apply_transform_chain(df: DataFrame, cfg: Mapping[str, str]) -> DataFrame:
    """Apply the SMT chain declared in the spec — the analog of
    Connect's ``transforms=a,b`` + ``transforms.a.type=...`` config
    (§2.D). Each named transform maps to a Column-expression rewrite
    from functions/smt.py; the chain is ordered and shuffle-free."""
    from .functions import smt

    chain = [t for t in (cfg.get("transforms") or "").split(",") if t]
    for t in chain:
        p = f"transforms.{t}."
        kind = cfg.get(p + "type")
        if kind == "cast":
            df = smt.cast_fields(df, json.loads(cfg[p + "spec"]))
        elif kind == "filter":
            df = df.filter(cfg[p + "predicate"])
        elif kind == "insertField":
            df = smt.insert_field(df, cfg[p + "name"], F.expr(cfg[p + "value"]))
        elif kind == "maskField":
            df = smt.mask_field(df, cfg[p + "field"])
        elif kind == "replaceField":
            df = smt.replace_field(
                df,
                renames=json.loads(cfg.get(p + "renames", "{}")),
                exclude=json.loads(cfg.get(p + "exclude", "[]")),
            )
        elif kind == "regexRouter":
            df = smt.regex_router(df, cfg[p + "field"], cfg[p + "pattern"], cfg[p + "replacement"])
        elif kind == "valueToKey":
            df = smt.value_to_key(df, json.loads(cfg[p + "fields"]))
        elif kind == "flatten":
            df = smt.flatten(df, cfg[p + "field"], cfg.get(p + "delimiter", "_"))
        elif kind == "hoistField":
            df = smt.hoist_field(df, json.loads(cfg[p + "fields"]), cfg[p + "name"])
        elif kind == "extractField":
            df = smt.extract_field(df, cfg[p + "field"].split(".")[0], cfg[p + "field"].split(".", 1)[1])
        elif kind == "timestampConverter":
            df = smt.timestamp_converter(
                df, cfg[p + "field"], cfg[p + "target"],
                fmt=cfg.get(p + "format", "yyyy-MM-dd HH:mm:ss"),
            )
        elif kind == "timestampRouter":
            df = smt.timestamp_router(
                df, cfg[p + "field"], cfg[p + "ts"], fmt=cfg.get(p + "format", "yyyyMMdd")
            )
        elif kind == "insertHeader":
            df = smt.insert_header(df, cfg[p + "header"], F.expr(cfg[p + "value"]))
        elif kind == "headerFrom":
            df = smt.header_from(df, cfg[p + "field"], cfg[p + "header"])
        elif kind == "dropHeaders":
            df = smt.drop_headers(df, json.loads(cfg[p + "headers"]))
        else:
            raise SpecError(f"unknown transform type {kind!r} for {t!r}")
    return df
