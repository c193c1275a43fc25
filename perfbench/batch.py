"""The batch workload, ``curation_cold``: the LLM curation queries on a
corpus whose index memos start empty (the pass reads the corpus under a
new real path, which the memos key on), so every index build is paid.

Its traced run also runs relational, windowed-stream and UDF queries on
sf0.1-sized generated tables, so that ``session.load_tables`` and the
relational operators are measured too.

Outputs are checked, outside the timed region, against the registry's
DuckDB oracle; oracle results are hashed and cached per input
fingerprint.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq

from . import gen
from .harness import SPARK_COUNTERS, last_stage_id, quantile, set_up, stage_stats

#: run in this order: output freshness is measured from the start of
#: the pass, so a shuffled order would make it depend on the seed's
#: order more than on the program. ``llm_sim_topk`` is left out: it
#: ranks by the score rounded to four decimals, its oracle by the exact
#: cosine, so the two disagree whenever two of the top ten round to the
#: same score (3 of 20 seeded corpora; NOTES.md, "Defects").
CURATION = (
    "llm_curation_pipeline",
    "llm_dedup_near",
    "llm_dedup_semantic_centroid2",
)
#: what the set-up's warm-up pass runs, on a small separate corpus. The
#: cold index builds are what the workload measures, so the warm-up
#: leaves the indexed queries' code paths cold too.
WARM_QUERIES = ("llm_sim_topk", "udf_explode_tokens")
#: corpus size, generated per seed. The DuckDB oracle of the curation
#: queries costs 14 s per corpus at this size, 38 s at 1,040 vectors
#: (the smallest size with sf0.1's LSH geometry) and 190 s at sf0.1
#: (5,000 documents, 2,000 vectors), more than a run may take.
DOCS, VECS = 600, 300
#: seed of the warm-up corpus: one fixed input, generated once per checkout
WARM_SEED = 999_983

#: measured in the traced run only: one or two per physical-plan family:
#: scan+agg, star and shuffle joins, top-k, windows, grouping sets,
#: event-time stream windows and dedup, a pandas UDF, graph paths.
#: Outputs are small, so the times are the operators' rather than the
#: parquet writer's.
ANALYTICS = (
    "rel_agg_pricing_summary",
    "rel_join_broadcast_star",
    "rel_join_left",
    "rel_topk",
    "rel_window_rank",
    "rel_cube",
    "rel_funnel_time_percentiles",
    "stream_tumbling_window",
    "stream_window_topk",
    "stream_dedup",
    "udf_scalar_pandas",
    "rel_path_mining",
)


def table_rows(fixture: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(fixture, f)).num_rows
        for f in os.listdir(fixture)
        if f.endswith(".parquet")
    }


def run_query(spark, qs, name: str, sf_dir: str, out: str | None = None):
    """Run one registry query into the noop sink, or into parquet at
    ``out`` when its output is to be checked."""
    df = qs[name].fn(spark, sf_dir)
    if out is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.write.mode("overwrite").parquet(out)
    return df


# ------------------------------------------------------------ correctness


def canonical_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: sorted column names, their
    pandas dtypes, and the rows in a canonical order. Array cells are
    compared as tuples."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: repr(tuple(v.tolist() if hasattr(v, "tolist") else v))
                if v is not None and not isinstance(v, (str, bytes))
                else v
            )
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), na_position="last", ignore_index=True)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(pdf[c].dtype)] for c in pdf.columns]).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return h.hexdigest()


def oracle_hash(name: str, sql: str, sf_dir: str, fingerprint: str, cache_root: str) -> str:
    """DuckDB oracle result hash, computed once per input fingerprint."""
    key = hashlib.sha256(f"{name}\0{sql}\0{fingerprint}".encode()).hexdigest()[:32]
    path = os.path.join(cache_root, "oracle", f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["hash"]
    import duckdb

    from heroku_kafka_connect_spark.session import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        digest = canonical_hash(con.execute(sql).df())
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"query": name, "hash": digest}, f)
    os.replace(tmp, path)
    return digest


def check_outputs(qs, outputs: list[tuple[str, str]], sf_dir: str, fingerprint: str, cache_root: str, log) -> list[str]:
    """Compare each written output (query name, parquet path) with the
    DuckDB oracle's result."""
    from heroku_kafka_connect_spark.registry import resolve_oracle

    problems = []
    for name, path in outputs:
        got = canonical_hash(pq.read_table(path).to_pandas())
        want = oracle_hash(name, resolve_oracle(qs[name].oracle, sf_dir), sf_dir, fingerprint, cache_root)
        if got != want:
            problems.append(f"{name}: result differs from the DuckDB oracle")
            log(f"MISMATCH {name}")
    return problems


# ------------------------------------------------------------ entry


def analytics_probe(spark, ctx, qs, fixture: str, snapshot) -> tuple[dict, list[str]]:
    """``session.load_tables`` on a fresh snapshot, then two passes of
    the ANALYTICS queries, each on a fresh snapshot. The first pass
    compiles the plans; the second pass's per-query times are reported
    and its outputs checked against the oracle."""
    from heroku_kafka_connect_spark import session

    m: dict[str, float] = {}
    with ctx.tracer.span("session.load_tables"):
        t0 = time.perf_counter()
        session.load_tables(spark, snapshot(fixture))
        m["session.load_tables_s"] = time.perf_counter() - t0
    for i in range(2):
        d = snapshot(fixture)
        outputs = []
        for q in ANALYTICS:
            out = os.path.join(ctx.run_dir, f"analytics{i}", q)
            t0 = time.perf_counter()
            with ctx.tracer.span(f"operators.{q}"):
                run_query(spark, qs, q, d, out)
            m[f"operators.{q}_s"] = time.perf_counter() - t0
            outputs.append((q, out))
    problems = check_outputs(qs, outputs, d, os.path.basename(fixture), ctx.cache_root, ctx.log)
    return m, problems


def run_workload(name: str, args, ctx) -> dict:
    from heroku_kafka_connect_spark import registry

    fixture = gen.fixture_dir(ctx.cache_root, args.seed, 0.001, DOCS, VECS)
    warm_src = gen.fixture_dir(ctx.cache_root, WARM_SEED, 0.001, 200, 100)
    if ctx.traced:
        analytics_fixture = gen.fixture_dir(ctx.cache_root, args.seed, 0.1, 2000, 500)
    rows = table_rows(fixture)
    qs = registry.all_queries()
    tracer = ctx.tracer
    snapshots = itertools.count()

    def snapshot(src: str) -> str:
        """A new real path over ``src``: index memos and
        ``session.load_tables`` start empty."""
        return gen.link_fixture(src, os.path.join(ctx.run_dir, f"snap{next(snapshots)}"))

    def warm(spark) -> None:
        d = snapshot(warm_src)
        for q in WARM_QUERIES:
            run_query(spark, qs, q, d)

    ctx.log(f"inputs ready at {ctx.elapsed():.1f}s")
    spark, setup_s = set_up(tracer, ctx.cpus, warm, ctx.rss)
    ctx.spark = spark
    ctx.log(f"set up at {ctx.elapsed():.1f}s")
    if ctx.traced:
        stage0 = last_stage_id(spark)

    # one pass: first query call until every output is written
    d = snapshot(fixture)
    latencies: list[float] = []
    cold: dict[str, float] = {}
    outputs: list[tuple[str, str]] = []
    failed = 0
    t_pass = time.perf_counter()
    for q in CURATION:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"operators.{q}"):
                run_query(spark, qs, q, d, os.path.join(ctx.run_dir, "out", q))
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            failed += 1
            ctx.log(f"query {q} failed:\n{traceback.format_exc()}")
            continue
        done = time.perf_counter()
        latencies.append(done - t_pass)
        cold[q] = done - t0
        outputs.append((q, os.path.join(ctx.run_dir, "out", q)))
    job_s = time.perf_counter() - t_pass
    ctx.rss.stop()
    ctx.log(f"{name}: {len(CURATION)} queries in {job_s:.2f}s at {ctx.elapsed():.1f}s")

    layer: dict[str, float] = {}
    problems: list[str] = []
    if ctx.traced and not failed:
        layer["trace.job_s"] = job_s
        st = stage_stats(spark, stage0)
        for k in SPARK_COUNTERS:
            layer[f"spark.{k}"] = st[k]
        build = 0.0
        for q in CURATION:
            t0 = time.perf_counter()
            run_query(spark, qs, q, d)
            warm_s = time.perf_counter() - t0
            layer[f"operators.{q}.cold_s"] = cold[q]
            layer[f"operators.{q}.warm_s"] = warm_s
            build += cold[q] - warm_s
        layer["llmops.index_build_s"] = build
        for s in ("session.get_spark", "session.configure"):
            layer[f"{s}_s"] = tracer.total(s)
        m, problems = analytics_probe(spark, ctx, qs, analytics_fixture, snapshot)
        layer.update(m)

    ctx.stop_spark()
    problems += check_outputs(qs, outputs, d, os.path.basename(fixture), ctx.cache_root, ctx.log)
    ctx.log(f"checked at {ctx.elapsed():.1f}s")
    if ctx.traced:
        metrics = layer
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "catchup_records_per_s": (rows["documents"] + rows["embeddings"]) / job_s,
            "freshness_p50_ms": quantile(latencies, 0.5) * 1000.0,
            "freshness_p90_ms": quantile(latencies, 0.9) * 1000.0,
        }
    return {
        "correct": not problems and not failed,
        "attempted": len(CURATION),
        "failed": failed,
        "metrics": metrics,
    }
