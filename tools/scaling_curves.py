"""Measured scaling curves for the flagship LLM-pipeline families
(r10 verdict item 1): the 100 TB claims rested on plan SHAPES (pinned
in tests/test_plans.py) — this harness makes them EMPIRICAL.

It builds 1x/4x/16x (optionally 64x) synthetic corpora at sf0.1 volume
with the deterministic hkc_synthdocs DataSource (sources/synthetic.py,
SURVEY A8) plus a matching md5-derived embedding table, then runs each
flagship family COLD at every size and records, per run:

- wall seconds (min over --repeats passes, loadavg-stamped),
- shuffle read/write bytes, input/output bytes, executor run time and
  the max per-stage peakExecutionMemory — diffed from the Spark UI
  REST stage store (/api/v1/applications/<id>/stages), the same
  TaskMetrics the History Server shows on a real cluster.

Families (the verdict's list):
- dedup_cascade     llm_dedup_apply_full — the three-rung manifest
                    (exact -> shingle-Jaccard CC -> semantic CC)
- curation_pipeline llm_curation_pipeline — cascade + Gopher +
                    two-way decontamination + packing, end to end
- near_dup          llm_dedup_near — banded MinHash LSH + verify
- ivf_write         functions.vectors.ivf_write_index (16 centroids)
- ivf_probe         ivf_probe_topk against the materialized index —
                    the flat-vs-corpus-size claim, measured

Every family's session memos are released before every measured run,
so the walls are first-build (cold) costs — the number that scales
with the corpus, not the memo-read marginal.

Output: SCALING_CURVES.json (per family x scale metrics + fitted
log-log exponent alpha where wall ~ rows^alpha) and a stdout summary.
SCALE.md's "Measured scaling" section is written from this artifact.

r12 additions (r11 verdict item 1 + ADVICE item 2):

- ``--entropy realistic`` re-runs the sweep on the OPEN-VOCABULARY
  corpus (synthetic.py vocab=realistic: ~1e5 Zipf-weighted word types,
  constant planted 10% exact-clone + 10% near-clone dup mass). The
  24-word fixture vocab makes shingle buckets birthday-collide with
  ~n^2 mass, which r11 adjudicated as the cascade's residual
  alpha_shufW 1.3-1.55 — the realistic sweep measures whether that
  residual is really vocabulary mass (expected: lexical-rung alpha
  drops to ~1) instead of arguing it.
- a SEMANTIC RECALL curve: at every swept n, planted near-dup vector
  pairs (cos spanning ~0.4-0.99) are tested for capture by the
  production LSH blocking geometry — both the recall-holding default
  (L scales with P) and the old fixed L=10, so the recall-vs-cost
  tradeoff is a measured curve, not a formula in a docstring.
- SCALING_CURVES.json is now keyed by sweep: {"sweeps": {entropy:
  {families, semantic_recall, ...}}}; running one entropy preserves
  the other's committed points.

Usage:
    python tools/scaling_curves.py [--scales 1,4,16] [--repeats 2]
        [--base-docs 5000] [--base-vecs 2000] [--out SCALING_CURVES.json]
        [--entropy fixture|realistic] [--no-recall]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def get_ui_session() -> SparkSession:
    """bench-identical config except the UI stays ON: the REST stage
    store is the metrics source (statusTracker has no byte counters)."""
    from heroku_kafka_connect_spark.session import configure, default_parallelism

    cpus = default_parallelism()
    spark = (
        SparkSession.builder.appName("hkc-scaling-curves")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    return configure(spark)


# ----------------------------------------------------------- corpus builders


def build_scale_dir(
    spark: SparkSession,
    scale: int,
    base_docs: int,
    base_vecs: int,
    entropy: str = "fixture",
) -> str:
    """A fixture-shaped directory at ``scale``x sf0.1 volume: synthetic
    documents + embeddings (both pure functions of their id — same
    dup/lang/length distribution at every size, so growth in the
    measured walls is VOLUME, not a data-shape artifact), remaining
    tables symlinked from sf0.1 (the families here never read them).
    File count scales with the volume (8 files per 1x) so the scan's
    input-split count grows like a real lake's, not one giant file."""
    import hashlib

    app = spark.sparkContext.applicationId
    tag = hashlib.md5(
        f"{app}|{scale}|{base_docs}|{base_vecs}|{entropy}".encode()
    ).hexdigest()[:8]
    d = f"/tmp/hkcs_scalecurve_{entropy}_{scale}x_{tag}"
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    os.makedirs(d, exist_ok=True)

    n_files = 8 * scale
    docs = (
        spark.read.format("hkc_synthdocs")
        .option("rows", base_docs * scale)
        .option("partitions", n_files)
        .option("vocab", entropy)
        .load()
    )
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    # embeddings: 64 deterministic md5-derived dims in [-0.5, 0.5) —
    # one JVM-side SQL expression (no per-element py4j marshalling)
    dim = 64
    emb = spark.range(0, base_vecs * scale, 1, n_files).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, %d), j -> cast("
            "  cast(conv(substr(md5(concat(cast(id as string), ':', cast(j as string))), 1, 8), 16, 10) as double)"
            "  / 4294967296.0E0 - 0.5E0 as float))" % (dim - 1)
        ).alias("embedding"),
        F.expr(
            "cast(conv(substr(md5(concat('l:', cast(id as string))), 1, 4), 16, 10) % 10 as int)"
        ).alias("label"),
    )
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))

    sf01 = "/root/testdata/sf0.1"
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events"):
        link = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf01, f"{name}.parquet"), link)
    open(os.path.join(d, "_READY"), "w").close()
    return d


# ----------------------------------------------------------- metrics capture


def _stages(spark: SparkSession) -> dict[int, dict]:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return {(s["stageId"], s["attemptId"]): s for s in json.load(r)}


def measured_run(spark: SparkSession, fn, label: str | None = None) -> dict:
    """Run ``fn`` (an action) and return wall + TaskMetrics diffed from
    the REST stage store: only stages that completed during this run
    count. ``label`` becomes the job description so stage rows carry
    the FAMILY name instead of the useless
    `withThreadLocalCaptured at CompletableFuture.java` callsite (r11
    verdict item 6 — a future alpha regression should localize to an
    operator without re-running)."""
    before = _stages(spark)
    if label:
        spark.sparkContext.setJobDescription(f"scaling:{label}")
    t0 = time.time()
    try:
        fn()
    finally:
        if label:
            spark.sparkContext.setJobDescription(None)
    wall = time.time() - t0
    # the status store is async-updated; give it a beat to settle
    for _ in range(20):
        after = _stages(spark)
        if len(after) > len(before):
            break
        time.sleep(0.1)
    new = [s for k, s in after.items() if k not in before]
    # per-stage detail (r10 verdict asked per STAGE, not just totals):
    # the heaviest stages by moved bytes, with their own peak memory —
    # enough to localize a regression to the stage that grew
    top = sorted(
        new,
        key=lambda s: s.get("shuffleWriteBytes", 0)
        + s.get("shuffleReadBytes", 0)
        + s.get("inputBytes", 0),
        reverse=True,
    )[:5]
    return {
        "wall_sec": round(wall, 3),
        "n_stages": len(new),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "output_bytes": sum(s.get("outputBytes", 0) for s in new),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        "executor_run_time_ms": sum(s.get("executorRunTime", 0) for s in new),
        "peak_execution_memory": max(
            (s.get("peakExecutionMemory", 0) for s in new), default=0
        ),
        "stages_top": [
            {
                "stage_id": s.get("stageId"),
                "name": (s.get("name") or "")[:80],
                "description": (s.get("description") or "")[:80],
                # first engine-meaningful frame of the submission stack
                # (the REST `details` field) — names the operator when
                # the callsite name is an executor-pool anonfun
                "details_head": next(
                    (
                        ln.strip()[:120]
                        for ln in (s.get("details") or "").splitlines()
                        if (
                            "org.apache.spark.sql" in ln
                            and "anonfun" not in ln
                            and "SQLExecution" not in ln
                        )
                    ),
                    (s.get("details") or "").strip().splitlines()[0][:120]
                    if (s.get("details") or "").strip()
                    else "",
                ),
                "tasks": s.get("numCompleteTasks", s.get("numTasks", 0)),
                "input_bytes": s.get("inputBytes", 0),
                "shuffle_read_bytes": s.get("shuffleReadBytes", 0),
                "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                "peak_execution_memory": s.get("peakExecutionMemory", 0),
                "executor_run_time_ms": s.get("executorRunTime", 0),
            }
            for s in top
        ],
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_all_memos() -> None:
    from bench import MEMO_FAMILIES, release_family

    for qname in MEMO_FAMILIES:
        release_family(qname)


# ----------------------------------------------------------- family runners


def family_runs(spark: SparkSession, sf_dir: str) -> dict[str, callable]:
    """name -> zero-arg action executing the family cold at sf_dir."""
    from heroku_kafka_connect_spark.functions.vectors import (
        ivf_probe_topk,
        ivf_write_index,
    )
    from heroku_kafka_connect_spark.registry import all_queries
    from heroku_kafka_connect_spark.session import load_tables

    qs = all_queries()
    ivf_path = os.path.join(sf_dir, "ivf_index")

    def dedup_cascade():
        release_all_memos()
        _noop(qs["llm_dedup_apply_full"].fn(spark, sf_dir))

    def dedup_lexical():
        # the cascade's first two rungs alone (exact + MinHash near):
        # isolates the text-entropy claim (r11 verdict item 1) from
        # the semantic rung's recall-priced L-growth — the lexical
        # alpha is THE number the open-vocabulary sweep exists to
        # measure
        release_all_memos()
        _noop(qs["llm_dedup_apply"].fn(spark, sf_dir))

    def curation_pipeline():
        release_all_memos()
        _noop(qs["llm_curation_pipeline"].fn(spark, sf_dir))

    def near_dup():
        _noop(qs["llm_dedup_near"].fn(spark, sf_dir))

    def ivf_write():
        t = load_tables(spark, sf_dir)
        ivf_write_index(t.embeddings, ivf_path, n_centroids=16)

    def ivf_probe():
        t = load_tables(spark, sf_dir)
        q = t.embeddings.filter(F.col("vec_id") < 5)
        _noop(ivf_probe_topk(spark, ivf_path, q, 3, n_probe=4))

    def exact_substr():
        # r12 family: positional-gram span scan + corpus rewrite —
        # claimed O(total tokens) with the occurrence cap bounding the
        # gram self-join; the two-entropy sweep is the proof (fixture
        # vocab stresses the cap, open vocab stresses gram volume)
        release_all_memos()
        _noop(qs["llm_exact_substr_apply"].fn(spark, sf_dir))

    # ivf_write must precede ivf_probe (dict order is execution order)
    return {
        "dedup_cascade": dedup_cascade,
        "dedup_lexical": dedup_lexical,
        "curation_pipeline": curation_pipeline,
        "near_dup": near_dup,
        "ivf_write": ivf_write,
        "ivf_probe": ivf_probe,
        "exact_substr": exact_substr,
    }


#: Gaussian-mixture-style macro-clustered embedding construction for
#: the r13 corpus-SHAPE frontier (VERDICT r12 item 2): 32 md5-derived
#: cluster centers, member = mix·center + (1−mix)·own-noise. At
#: mix=0.55 the in-cluster member↔member cosine sits ≈ 0.6 (clusterable
#: but below the 0.7 dedup grade, so planted clones stay the only
#: dedup-grade truth) and the trained-k8 mean silhouette measures
#: ≈ 0.33 vs ≈ 0.11 on the uniform corpus — the regime SemDeDup's
#: centroid blocking was designed for.
SHAPE_N_CLUSTERS = 32
SHAPE_MIX = 0.55

_BASE_VEC = (
    "transform(sequence(0, 63), j -> "
    "cast(conv(substr(md5(concat(cast({i} as string), ':', cast(j as string))), 1, 8), 16, 10) as double)"
    " / 4294967296.0E0 - 0.5E0)"
)


def _vec_sql(shape: str, noise_i: str, cluster_i: str | None = None) -> str:
    """SQL expression for one synthetic embedding: `uniform` = the
    md5 base vector of ``noise_i``; `clustered` = mix·center(cluster)
    + (1−mix)·noise, with the cluster index derived from
    ``cluster_i`` (defaults to ``noise_i``) mod SHAPE_N_CLUSTERS."""
    if shape == "uniform":
        return _BASE_VEC.format(i=noise_i)
    ci = cluster_i if cluster_i is not None else noise_i
    center = _BASE_VEC.format(
        i=f"concat('ct:', cast(({ci}) % {SHAPE_N_CLUSTERS} as string))"
    )
    noise = _BASE_VEC.format(i=noise_i)
    return (
        f"zip_with({center}, {noise}, (c, f) -> "
        f"{SHAPE_MIX}E0 * c + {1.0 - SHAPE_MIX}E0 * f)"
    )


def _donor_sql(shape: str, id_expr: str = "id") -> str:
    """Donor id for a planted clone: any earlier id (uniform), or an
    earlier id in the SAME macro cluster (clustered — residue class
    mod SHAPE_N_CLUSTERS preserved), so planted dups are in-cluster
    exactly as SemDeDup's design assumes."""
    h = f"conv(substr(md5(concat('rd:', cast({id_expr} as string))), 1, 4), 16, 10)"
    if shape == "uniform":
        return f"greatest(0L, {id_expr} - 1 - {h} % 50)"
    c = SHAPE_N_CLUSTERS
    return f"greatest({id_expr} % {c}, {id_expr} - {c} * (1 + {h} % 40))"


def semantic_recall_point(
    spark: SparkSession, n_vecs: int, shape: str = "uniform"
) -> dict:
    """Measured blocking recall at corpus size ``n_vecs`` (r11 ADVICE
    item 2's 'record the recall-vs-n curve'): plant near-dup vector
    pairs with cosine spanning ~0.4-0.99 (embedding = a·donor +
    (1-a)·fresh, a ∈ [0.3, 0.95) md5-drawn), verify them exactly at
    the operator's 0.35 threshold, and measure what fraction the
    production LSH blocking captures — under BOTH the recall-holding
    default geometry (L = _emb_lsh_tables_for(P)) and the pre-r12
    fixed L=10. Collision of a specific pair depends only on that
    pair's buckets, so the capture test runs on the planted members
    only — cheap at any n while P/L are the FULL-corpus values."""
    from heroku_kafka_connect_spark.operators.llm import (
        _emb_lsh_planes_for,
        _emb_lsh_tables_for,
        _embedding_cosine_pairs,
    )

    planes = _emb_lsh_planes_for(n_vecs)
    tables_default = _emb_lsh_tables_for(planes)

    stride = max(1, n_vecs // 600)  # ~600 planted clones per point
    alpha = (
        "(0.3E0 + 0.65E0 * (conv(substr(md5(concat('ra:', cast(vec_id as string))), 1, 8), 16, 10)"
        " / 4294967296.0E0))"
    )
    # clone of a nearby donor (same macro cluster in `clustered`
    # shape), mixed with a fresh direction (also in-cluster when
    # clustered); donor label inherited so the (label, bucket)
    # blocking applies
    vecs = spark.range(0, n_vecs, stride).selectExpr(
        "id AS vec_id", _donor_sql(shape) + " AS donor_id"
    )
    members = (
        vecs.selectExpr(
            "vec_id",
            "donor_id",
            "zip_with(" + _vec_sql(shape, "donor_id") + ", "
            + _vec_sql(shape, "vec_id", cluster_i="donor_id")
            + f", (d, f) -> {alpha} * d + (1.0E0 - {alpha}) * f) AS embedding",
            "cast(donor_id % 10 AS int) AS label",
        )
        .union(
            vecs.selectExpr(
                "donor_id AS vec_id",
                "donor_id",
                _vec_sql(shape, "donor_id") + " AS embedding",
                "cast(donor_id % 10 AS int) AS label",
            )
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )

    # exact ground truth: planted (clone, donor) pairs that really
    # clear the operator threshold (cosine computed exactly)
    m = members.selectExpr("vec_id", "donor_id", "embedding",
                           "aggregate(zip_with(embedding, embedding, (x, y) -> x * y), 0E0, (a, x) -> a + x) AS sq")
    pairs = (
        m.alias("c")
        .join(m.selectExpr("vec_id AS d_id", "embedding AS d_emb", "sq AS d_sq").alias("d"),
              F.expr("c.donor_id = d.d_id AND c.vec_id != d.d_id"))
        .selectExpr(
            "least(c.vec_id, d.d_id) AS a",
            "greatest(c.vec_id, d.d_id) AS b",
            "aggregate(zip_with(c.embedding, d.d_emb, (x, y) -> x * y), 0E0, (p, x) -> p + x)"
            " / (sqrt(c.sq) * sqrt(d.d_sq)) AS cos",
        )
        .filter("cos >= 0.35E0")
    )
    truth = {(r.a, r.b): r.cos for r in pairs.collect()}
    # per-band ground truth: the geometry HOLDS the dedup-grade band
    # (cos >= 0.7, the design anchor); the borderline band (0.35-0.7)
    # is allowed to decay — this curve is where that decay is visible
    bands = {
        "dedup_grade": {k for k, c in truth.items() if c >= 0.7},
        "borderline": {k for k, c in truth.items() if c < 0.7},
    }

    emb_members = members.select("vec_id", "label", "embedding")
    out = {
        "n_vecs": n_vecs,
        "shape": shape,
        "planes": planes,
        "n_truth_pairs": len(truth),
        "n_dedup_grade": len(bands["dedup_grade"]),
        "n_borderline": len(bands["borderline"]),
    }
    for key, tabs in (("default", tables_default), ("fixed_l10", 10)):
        got = {
            (r.a, r.b)
            for r in _embedding_cosine_pairs(
                emb_members, threshold=-1.0, planes=planes, tables=tabs
            ).collect()
        }
        out[f"tables_{key}"] = tabs
        out[f"recall_{key}"] = (
            round(len(got & set(truth)) / len(truth), 4) if truth else None
        )
        for band, keys in bands.items():
            out[f"recall_{key}_{band}"] = (
                round(len(got & keys) / len(keys), 4) if keys else None
            )
    return out


def centroid_recall_point(
    spark: SparkSession, n_vecs: int, shape: str = "uniform", census_depth: int = 4
) -> dict:
    """Centroid-blocking (SemDeDup proper, `llm_dedup_semantic_centroid`)
    recall at corpus size ``n_vecs`` — the measured half of SCALE.md's
    scale-out decision rule for the semantic rung. Unlike LSH capture
    (a pure function of the pair's own buckets), same-cluster
    membership depends on the WHOLE corpus — the centroids are trained
    on it — so this point builds the full n-vector corpus: a
    background base vector for every id plus the same planted clone
    construction the LSH curve uses (cos 0.4–0.99 spread, ~600
    clones). Records per-band recall, the realized candidate mass
    Σ n_c·(n_c−1)/2 (the blocked verify cost the operator actually
    pays), cluster balance, and the n·k·iters assignment cost — the
    two sides of the SemDeDup trade, next to the LSH numbers."""
    from heroku_kafka_connect_spark import llmops
    from heroku_kafka_connect_spark.operators.llm import _centroid_k_for

    stride = max(1, n_vecs // 600)
    alpha = (
        "(0.3E0 + 0.65E0 * (conv(substr(md5(concat('ra:', cast(id as string))), 1, 8), 16, 10)"
        " / 4294967296.0E0))"
    )
    background = spark.range(0, n_vecs).selectExpr(
        "id AS vec_id", _vec_sql(shape, "id") + " AS embedding"
    )
    # clone ids offset by n_vecs; the clone's noise direction and its
    # macro cluster both derive from the PRE-offset id (donor is in
    # the same residue class, so the clone stays in-cluster)
    clones = spark.range(0, n_vecs, stride).selectExpr(
        f"id + {n_vecs} AS vec_id",
        _donor_sql(shape) + " AS donor_id",
        "zip_with(" + _vec_sql(shape, "donor_id") + ", "
        + _vec_sql(shape, "id")
        + f", (d, f) -> {alpha} * d + (1.0E0 - {alpha}) * f) AS embedding",
    )
    corpus = (
        background.select("vec_id", "embedding")
        .union(clones.select("vec_id", "embedding"))
        .localCheckpoint(eager=True)
    )
    n_corpus = corpus.count()
    k = _centroid_k_for(n_corpus)

    # exact ground truth: planted (clone, donor) cosine, banded like
    # the LSH leg (dedup_grade >= 0.7 is the design anchor)
    sq = "aggregate(zip_with(embedding, embedding, (x, y) -> x * y), 0E0, (a, x) -> a + x)"
    c = clones.selectExpr("vec_id", "donor_id", "embedding", f"{sq} AS sq").alias("c")
    d = background.selectExpr(
        "vec_id AS d_id", "embedding AS d_emb", f"{sq} AS d_sq"
    ).alias("d")
    truth = {
        (r.a, r.b): r.cos
        for r in c.join(d, F.expr("c.donor_id = d.d_id"))
        .selectExpr(
            "least(c.vec_id, d.d_id) AS a",
            "greatest(c.vec_id, d.d_id) AS b",
            "aggregate(zip_with(c.embedding, d.d_emb, (x, y) -> x * y), 0E0, (p, x) -> p + x)"
            " / (sqrt(c.sq) * sqrt(d.d_sq)) AS cos",
        )
        .filter("cos >= 0.35E0")
        .collect()
    }
    bands = {
        "dedup_grade": {p for p, cv in truth.items() if cv >= 0.7},
        "borderline": {p for p, cv in truth.items() if cv < 0.7},
    }

    # r15: the trainer is `kmeans_sampled` — above k = 32 (every sweep
    # octave) training runs on the md5 1/8 sample with ⌈√k⌉-cell
    # coarse-accelerated argmax, and the full-corpus rank goes through
    # `coarse_rank_centroids` instead of the exact n·k broadcast rank
    # that measured α 1.88 here through r14. train and assignment are
    # timed SEPARATELY so the octave table can state each leg's α.
    from collections import Counter

    from pyspark.sql import Window

    v3 = corpus.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    t0 = time.monotonic()
    cents, coarse = llmops.kmeans_sampled(corpus, k=k, iters=3)
    if coarse is not None:
        train_wall = round(time.monotonic() - t0, 3)  # checkpoints are eager
        trainer = "sampled"
        levels = coarse[0] if isinstance(coarse[0], (list, tuple)) else [coarse[0]]
        kc = levels[-1].count()
        t1 = time.monotonic()
        rankN = llmops.coarse_rank_centroids(v3, cents, coarse, census_depth)
    else:
        # tiny-scale exact path: train wall includes forcing the plan
        trainer = "exact"
        levels = []
        kc = 0
        rankN = llmops.rank_centroids(v3, cents, census_depth)
        train_wall = round(time.monotonic() - t0, 3)
        t1 = time.monotonic()
    # one ranking pass serves ALL probe depths: rank <= census_depth
    # collected, single-probe assignment is the rn == 1 subset,
    # probe-2 the rn <= 2 subset. Probe-3 exists because the r14 128x
    # octave measured probe-2 dedup-grade recall crossing below the
    # 0.87 floor (0.8717 at 64x -> 0.83 at 128x); probe-4 was added
    # when the r15 512x octave measured probe-3 crossing below it at
    # k = 4003 (0.838); the census depth is recorded in the emitted
    # point since r16 (ADVICE r15 item 4) and is NOT the production
    # rule (`_centroid_probe_for` stays measured).
    topN = rankN.select(F.col("__id").alias("vec_id"), "cid", "__rn").collect()
    rank_wall = round(time.monotonic() - t1, 3)
    cid_of = {r.vec_id: r.cid for r in topN if r["__rn"] == 1}
    sizes = sorted(Counter(cid_of.values()).values(), reverse=True)
    captured = {p for p in truth if cid_of.get(p[0]) == cid_of.get(p[1])}
    cids_at: dict[int, dict] = {p: {} for p in range(2, census_depth + 1)}
    for r in topN:
        for p in range(max(2, r["__rn"]), census_depth + 1):
            cids_at[p].setdefault(r.vec_id, set()).add(r.cid)
    captured_at: dict[int, set] = {}
    mass_at: dict[int, int] = {}
    for p in range(2, census_depth + 1):
        cp = cids_at[p]
        captured_at[p] = {
            q for q in truth if cp.get(q[0], set()) & cp.get(q[1], set())
        }
        szs = Counter(c for s in cp.values() for c in s)
        mass_at[p] = sum(s * (s - 1) // 2 for s in szs.values())
    mass2, mass3, mass4 = mass_at.get(2, 0), mass_at.get(3, 0), mass_at.get(4, 0)

    # LSH cost census on the SAME corpus (the other side of the shape
    # frontier): per-(table, bucket) sizes under the production
    # recall-holding geometry -> the pre-distinct verify-join mass
    # Σ n_b·(n_b−1)/2 and the hottest bucket. No pairs are generated —
    # group counts only — so the census stays cheap even where the
    # mass itself would not be. Single label = the worst case (the
    # production blocking also splits by label).
    from heroku_kafka_connect_spark.operators.llm import (
        _emb_lsh_planes_for,
        _emb_lsh_table_structs,
        _emb_lsh_tables_for,
        semantic_blocking_choice,
    )

    t2b = time.monotonic()
    planes = _emb_lsh_planes_for(n_corpus)
    tables = _emb_lsh_tables_for(planes)
    census = (
        corpus.select(F.explode(_emb_lsh_table_structs(planes, tables)).alias("tb"))
        .groupBy("tb.t", "tb.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("mass"),
            F.max("n").alias("max_bucket"),
        )
        .collect()[0]
    )
    lsh_census_wall = round(time.monotonic() - t2b, 3)

    # the executable shape trigger, read off the same corpus: the
    # chooser must say 'centroid' exactly where this point's numbers
    # show centroid blocking winning
    chooser = semantic_blocking_choice(corpus).collect()[0]

    out = {
        "n_vecs": n_vecs,
        "shape": shape,
        "lsh_planes": planes,
        "lsh_tables": tables,
        "lsh_candidate_mass": int(census["mass"] or 0),
        "lsh_max_bucket": int(census["max_bucket"] or 0),
        "lsh_census_wall_sec": lsh_census_wall,
        "chooser_mean_silhouette": chooser["mean_silhouette"],
        "chooser_max_share": chooser["max_share"],
        "chooser_blocking": chooser["blocking"],
        "n_corpus": n_corpus,
        "k": k,
        "iters": 3,
        "trainer": trainer,
        "k_coarse": kc,
        # per-pass argmax work: exact = n·k; sampled = the flat-IVF
        # envelope n·(k_c + probe·⌈k/k_c⌉) the coarse quantizer buys
        "assignment_rows_per_iter": (
            n_corpus * k
            if trainer == "exact"
            else n_corpus * (kc + 2 * -(-k // max(kc, 1)))
        ),
        "candidate_mass": sum(s * (s - 1) // 2 for s in sizes),
        "candidate_mass_probe2": mass2,
        "candidate_mass_probe3": mass3,
        "candidate_mass_probe4": mass4,
        "max_cluster": sizes[0] if sizes else 0,
        # census_depth + rank_wall_sec (r16, ADVICE r15 item 4): the
        # ranking pass is timed at the CENSUS depth, so cross-round
        # wall comparisons are self-describing; probe2_extra_wall_sec
        # is the legacy alias of the same measurement (depth 2 only
        # through r14, depth 4 in r15, depth = census_depth since r16)
        "census_depth": census_depth,
        "train_assign_wall_sec": round(train_wall + rank_wall, 3),
        "train_wall_sec": train_wall,
        "rank_wall_sec": rank_wall,
        "probe2_extra_wall_sec": rank_wall,
        # quantizer shape actually used (tree engages past
        # k_c > branch; env-forced in tree-measure runs)
        "quantizer_levels": max(1, len(levels)),
        "tree_branch": llmops._tree_branch(),
        "tree_beam": llmops._tree_beam(),
        "kmeans_update": llmops._kmeans_update_backend("explode"),
        "n_truth_pairs": len(truth),
        "recall_centroid": round(len(captured) / len(truth), 4) if truth else None,
    }
    for p in range(2, census_depth + 1):
        out[f"recall_centroid_probe{p}"] = (
            round(len(captured_at[p]) / len(truth), 4) if truth else None
        )
        if p > 4:
            out[f"candidate_mass_probe{p}"] = mass_at[p]
    for band, keys in bands.items():
        out[f"recall_centroid_{band}"] = (
            round(len(captured & keys) / len(keys), 4) if keys else None
        )
        for p in range(2, census_depth + 1):
            out[f"recall_centroid_probe{p}_{band}"] = (
                round(len(captured_at[p] & keys) / len(keys), 4) if keys else None
            )
    return out


#: 20-token boilerplate snippet for the ExactSubstr span-recall sweep:
#: long enough that grams FULLY inside it exist (needs >= 8) and the
#: dropped-gram hole exceeds what flanking kept-grams can bridge.
_BP_RUN = " ".join(f"bp{j}" for j in range(20))


def _px_run(pbase_expr: str, n: int, off: int = 0) -> str:
    """SQL for ``n`` pair-unique tokens px<pairbase>x<off+j> — each
    8-gram containing one of these occurs exactly twice in the corpus
    (the two pair docs), so it is KEPT by the 2..16 occurrence cap."""
    return (
        f"array_join(transform(sequence(0, {n - 1}), "
        f"j -> concat('px', {pbase_expr}, 'x', j + {off})), ' ')"
    )


def exact_substr_recall_point(
    spark: SparkSession, scale: int, base_docs: int, entropy: str = "realistic"
) -> dict:
    """Measured span-recall of the ExactSubstr extractor under its
    2..16 occurrence cap (r12 verdict item 4): plant verbatim shared
    runs of three classes into the synthetic corpus —

    - `clean`     40 pair-unique tokens (no over-cap grams): the cap
                  is invisible, expected token coverage 1.0;
    - `crossing`  15 unique + 20-token boilerplate + 15 unique: grams
                  fully inside the boilerplate are over-cap and
                  dropped, flanking grams bridge 7 tokens into it from
                  each side — expected coverage 44/50 = 0.88, the
                  split-not-lost case;
    - `short`     2 unique + boilerplate + 2 unique (24 tokens): both
                  split fragments fall under the 12-token minimum —
                  expected coverage 0.0, the honest loss case the
                  J237 docstring now documents.

    Every 50th doc also carries the bare boilerplate so its grams are
    over-cap at every scale (>= 100 carriers at 1x). Ground truth is
    the planted (doc, pos) set; recovered = positions covered by any
    extracted span on either side. Deterministic: expected values are
    exact, so the sweep measures that the cap's recall is SCALE-
    INDEPENDENT (the hole is a local property of the span, not of n)."""
    from heroku_kafka_connect_spark.operators.llm import _exact_substr_spans

    d = build_scale_dir(spark, scale, base_docs, 2000, entropy)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet")).select(
        "doc_id", "text"
    )
    runs = {
        "clean": (20, _px_run("pbase", 40)),
        "crossing": (
            40,
            f"concat({_px_run('pbase', 15)}, ' ', '{_BP_RUN}', ' ', {_px_run('pbase', 15, off=15)})",
        ),
        "short": (
            60,
            f"concat({_px_run('pbase', 2)}, ' ', '{_BP_RUN}', ' ', {_px_run('pbase', 2, off=2)})",
        ),
    }
    run_len = {"clean": 40, "crossing": 50, "short": 24}
    case = "CASE "
    for cls, (r, run_sql) in runs.items():
        case += (
            f"WHEN doc_id % 100 IN ({r}, {r + 1}) THEN "
            f"concat(text, ' ', {run_sql.replace('pbase', f'(doc_id - (doc_id % 100) + {r})')}) "
        )
    case += f"WHEN doc_id % 50 = 7 THEN concat(text, ' ', '{_BP_RUN}') ELSE text END"
    planted = docs.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS orig_n",
        case + " AS text",
    ).localCheckpoint(eager=True)

    cls_expr = (
        "CASE "
        + " ".join(
            f"WHEN doc_id % 100 IN ({r}, {r + 1}) THEN '{cls}'"
            for cls, (r, _) in runs.items()
        )
        + " END"
    )
    truth = (
        planted.selectExpr("doc_id", "orig_n", cls_expr + " AS cls")
        .filter("cls IS NOT NULL")
        .selectExpr(
            "doc_id",
            "cls",
            "explode(sequence(orig_n + 1, orig_n + "
            + "CASE cls WHEN 'clean' THEN 40 WHEN 'crossing' THEN 50 ELSE 24 END"
            + ")) AS pos",
        )
        .localCheckpoint(eager=True)
    )
    _ = run_len  # lengths inlined in the SQL above

    spans = _exact_substr_spans(planted.select("doc_id", "text"))
    tdocs = truth.select("doc_id").distinct()
    cov = (
        spans.join(tdocs.withColumnRenamed("doc_id", "a"), "a", "left_semi")
        .selectExpr(
            "a AS doc_id", "explode(sequence(start_a, start_a + span_tokens - 1)) AS pos"
        )
        .union(
            spans.join(tdocs.withColumnRenamed("doc_id", "b"), "b", "left_semi")
            .selectExpr(
                "b AS doc_id",
                "explode(sequence(start_b, start_b + span_tokens - 1)) AS pos",
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_cls = {
        r["cls"]: (r["n_cov"], r["n_truth"])
        for r in truth.join(cov, ["doc_id", "pos"], "left")
        .groupBy("cls")
        .agg(F.count("hit").alias("n_cov"), F.count(F.lit(1)).alias("n_truth"))
        .collect()
    }
    out = {"scale": scale, "n_docs": base_docs * scale, "entropy": entropy}
    tot_c = tot_t = 0
    for cls in runs:
        c, t = per_cls.get(cls, (0, 0))
        out[f"coverage_{cls}"] = round(c / t, 4) if t else None
        out[f"n_truth_{cls}"] = t
        tot_c += c
        tot_t += t
    out["coverage_overall"] = round(tot_c / tot_t, 4) if tot_t else None
    return out


def fit_alpha(points: list[tuple[int, float]]) -> float | None:
    """Least-squares slope of log(wall) vs log(scale) — wall ~ N^alpha.
    alpha ~ 1 is linear scaling; ivf_probe should sit near 0."""
    pts = [(math.log(s), math.log(w)) for s, w in points if w > 0]
    if len(pts) < 2:
        return None
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    denom = sum((x - mx) ** 2 for x, _ in pts)
    if denom == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y in pts) / denom, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--base-docs", type=int, default=5000)
    ap.add_argument("--base-vecs", type=int, default=2000)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_CURVES.json"))
    ap.add_argument(
        "--entropy",
        choices=("fixture", "realistic"),
        default="fixture",
        help="corpus vocabulary mode (realistic = open Zipf vocab + planted dup mass)",
    )
    ap.add_argument(
        "--families",
        default=None,
        help="comma-separated subset of families to run (default: all)",
    )
    ap.add_argument("--no-recall", action="store_true", help="skip the semantic recall curve")
    ap.add_argument(
        "--centroid-recall-only",
        action="store_true",
        help="measure ONLY the centroid-blocking recall points at the given "
        "scales and fold them into the existing sweep as `centroid_recall` "
        "(full-corpus k-means per point — heavier than the LSH capture test)",
    )
    ap.add_argument(
        "--emb-shape",
        choices=("uniform", "clustered"),
        default="uniform",
        help="embedding-space shape for the recall points (clustered = "
        "32-center Gaussian-mixture macro clusters, dups planted within)",
    )
    ap.add_argument(
        "--exact-substr-recall",
        action="store_true",
        help="measure ONLY the ExactSubstr span-recall-under-cap points "
        "(planted clean/crossing/short runs) at the given scales; folds "
        "into sweeps[<entropy>]['exact_substr_recall']",
    )
    ap.add_argument(
        "--census-depth",
        type=int,
        default=4,
        help="probe depth of the centroid recall census (probe-2..N recall "
        "columns; recorded in each point as census_depth)",
    )
    ap.add_argument(
        "--tree-branch",
        type=int,
        default=None,
        help="with --shape-frontier --centroid-only: force the tree "
        "quantizer's branch factor (SPARK_GRAFT_TREE_BRANCH) so a deep "
        "tree is measurable at an affordable octave; points fold into "
        "sweeps[emb_shape_<shape>]['tree_quantizer'] instead of "
        "centroid_recall",
    )
    ap.add_argument(
        "--tree-beam",
        type=int,
        default=None,
        help="with --tree-branch: beam width at the tree's upper levels "
        "(SPARK_GRAFT_TREE_BEAM)",
    )
    ap.add_argument(
        "--shape-frontier",
        action="store_true",
        help="run the r13 corpus-SHAPE frontier at the given scales: LSH "
        "capture recall + centroid recall + LSH bucket-mass census + the "
        "blocking chooser's readout, all on the --emb-shape corpus; writes "
        "sweeps['emb_shape_<shape>']",
    )
    ap.add_argument(
        "--centroid-only",
        action="store_true",
        help="with --shape-frontier: skip the LSH-capture leg and fold only "
        "the centroid points (r15 trainer re-measure — the LSH side is "
        "untouched by the sampled trainer, re-capturing it would only burn "
        "the octave budget)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    if args.exact_substr_recall:
        spark = get_ui_session()
        from heroku_kafka_connect_spark.sources.synthetic import (
            register_synthetic_sources,
        )

        assert register_synthetic_sources(spark), "Spark 4 DataSource API required"
        pts = []
        for scale in scales:
            p = exact_substr_recall_point(
                spark, scale, args.base_docs, entropy=args.entropy
            )
            pts.append(p)
            print(
                f"[{scale:>3}x] exact_substr span recall: overall "
                f"{p['coverage_overall']} (clean {p['coverage_clean']}, "
                f"crossing {p['coverage_crossing']}, short {p['coverage_short']})",
                flush=True,
            )
        existing = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                existing = json.load(f)
        existing.setdefault("sweeps", {}).setdefault(args.entropy, {})[
            "exact_substr_recall"
        ] = pts
        with open(args.out, "w") as f:
            json.dump(existing, f, indent=1, sort_keys=True)
        print(json.dumps({"exact_substr_recall_points": len(pts)}))
        return

    if args.shape_frontier:
        if args.tree_branch is not None:
            os.environ["SPARK_GRAFT_TREE_BRANCH"] = str(args.tree_branch)
        if args.tree_beam is not None:
            os.environ["SPARK_GRAFT_TREE_BEAM"] = str(args.tree_beam)
        spark = get_ui_session()
        sem_pts, cen_pts = [], []
        for scale in scales:
            if not args.centroid_only:
                rp = semantic_recall_point(
                    spark, args.base_vecs * scale, shape=args.emb_shape
                )
                rp["scale"] = scale
                sem_pts.append(rp)
                print(
                    f"[{scale:>3}x] {args.emb_shape} LSH capture: L={rp['tables_default']} "
                    f"-> {rp['recall_default']} (dedup_grade {rp['recall_default_dedup_grade']})",
                    flush=True,
                )
            cp = centroid_recall_point(
                spark,
                args.base_vecs * scale,
                shape=args.emb_shape,
                census_depth=args.census_depth,
            )
            cp["scale"] = scale
            cen_pts.append(cp)
            print(
                f"[{scale:>3}x] {args.emb_shape} centroid: k={cp['k']} -> "
                f"{cp['recall_centroid']} (dedup_grade {cp['recall_centroid_dedup_grade']}); "
                f"mass centroid {cp['candidate_mass']:,} vs LSH {cp['lsh_candidate_mass']:,} "
                f"(max bucket {cp['lsh_max_bucket']}); chooser: sil "
                f"{cp['chooser_mean_silhouette']} share {cp['chooser_max_share']} "
                f"-> {cp['chooser_blocking']}",
                flush=True,
            )
        existing = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                existing = json.load(f)
        key = f"emb_shape_{args.emb_shape}"
        prev = existing.setdefault("sweeps", {}).get(key, {})

        def _merge(old: list | None, new: list) -> list:
            # extend-an-octave runs (--scales 128) must FOLD into the
            # committed sweep, not clobber the measured lower scales
            by = {p["scale"]: p for p in old or []}
            for p in new:
                by[p["scale"]] = p
            return [by[s] for s in sorted(by)]

        if args.tree_branch is not None:
            # tree-forced runs are a SEPARATE series: same corpus and
            # truth as the flat centroid points at the same scale, a
            # different quantizer — never folded into centroid_recall
            tree_all = _merge(prev.get("tree_quantizer"), cen_pts)
            existing["sweeps"].setdefault(key, prev).update(
                {"tree_quantizer": tree_all}
            )
        else:
            sem_all = _merge(prev.get("semantic_recall"), sem_pts)
            cen_all = _merge(prev.get("centroid_recall"), cen_pts)
            existing["sweeps"][key] = {
                **prev,
                "shape": args.emb_shape,
                "base_vecs": args.base_vecs,
                "scales": sorted({p["scale"] for p in cen_all}),
                "semantic_recall": sem_all,
                "centroid_recall": cen_all,
            }
        with open(args.out, "w") as f:
            json.dump(existing, f, indent=1, sort_keys=True)
        print(json.dumps({"shape": args.emb_shape, "points": len(cen_all)}))
        return

    if args.centroid_recall_only:
        spark = get_ui_session()
        pts = []
        for scale in scales:
            cp = centroid_recall_point(
                spark, args.base_vecs * scale, census_depth=args.census_depth
            )
            cp["scale"] = scale
            pts.append(cp)
            print(
                f"[{scale:>3}x] centroid recall: k={cp['k']} -> "
                f"{cp['recall_centroid']} (dedup_grade {cp['recall_centroid_dedup_grade']}, "
                f"borderline {cp['recall_centroid_borderline']}); cand mass "
                f"{cp['candidate_mass']:,}, max cluster {cp['max_cluster']}, "
                f"train+assign {cp['train_assign_wall_sec']}s",
                flush=True,
            )
        with open(args.out) as f:
            existing = json.load(f)
        existing["sweeps"][args.entropy]["centroid_recall"] = pts
        with open(args.out, "w") as f:
            json.dump(existing, f, indent=1, sort_keys=True)
        print(json.dumps({"centroid_recall_points": len(pts)}))
        return

    spark = get_ui_session()
    from heroku_kafka_connect_spark.sources.synthetic import register_synthetic_sources

    assert register_synthetic_sources(spark), "Spark 4 DataSource API required"

    # warmup: JVM/codegen/Arrow worker pool, same as bench
    from heroku_kafka_connect_spark.registry import all_queries

    qs = all_queries()
    sf01 = "/root/testdata/sf0.1"
    _noop(qs["rel_agg_pricing_summary"].fn(spark, sf01))
    _noop(qs["udf_scalar_pandas"].fn(spark, sf01))

    results: dict[str, dict] = {}
    recall_points: list[dict] = []
    fam_subset = set(args.families.split(",")) if args.families else None
    for scale in scales:
        load_start = round(os.getloadavg()[0], 2)
        d = build_scale_dir(spark, scale, args.base_docs, args.base_vecs, args.entropy)
        runs = family_runs(spark, d)
        if fam_subset:
            runs = {f: a for f, a in runs.items() if f in fam_subset}
        if not args.no_recall:
            rp = semantic_recall_point(spark, args.base_vecs * scale)
            rp["scale"] = scale
            recall_points.append(rp)
            print(
                f"[{scale:>3}x] semantic recall: default L={rp['tables_default']} "
                f"-> {rp['recall_default']}, fixed L=10 -> {rp['recall_fixed_l10']} "
                f"(P={rp['planes']}, {rp['n_truth_pairs']} planted pairs)",
                flush=True,
            )
        for fam, action in runs.items():
            best: dict | None = None
            for rep in range(args.repeats):
                if fam == "ivf_write":  # fresh build each repeat
                    import shutil

                    shutil.rmtree(os.path.join(d, "ivf_index"), ignore_errors=True)
                m = measured_run(spark, action, label=fam)
                best = m if best is None or m["wall_sec"] < best["wall_sec"] else best
            best["scale"] = scale
            best["rows_docs"] = args.base_docs * scale
            best["rows_vecs"] = args.base_vecs * scale
            best["loadavg_start"] = load_start
            results.setdefault(fam, {"points": []})["points"].append(best)
            print(
                f"[{scale:>3}x] {fam:<18} wall {best['wall_sec']:>8.3f}s  "
                f"shuf R/W {best['shuffle_read_bytes']:>12,}/"
                f"{best['shuffle_write_bytes']:>12,} B  "
                f"peakmem {best['peak_execution_memory']:>12,} B  "
                f"stages {best['n_stages']}",
                flush=True,
            )

    for fam, rec in results.items():
        rec["alpha_wall"] = fit_alpha([(p["scale"], p["wall_sec"]) for p in rec["points"]])
        rec["alpha_shuffle_write"] = fit_alpha(
            [(p["scale"], p["shuffle_write_bytes"]) for p in rec["points"]]
        )

    sweep = {
        "entropy": args.entropy,
        "base_docs": args.base_docs,
        "base_vecs": args.base_vecs,
        "scales": scales,
        "repeats": args.repeats,
        "families": results,
        "semantic_recall": recall_points,
    }
    # merge into the committed artifact: one sweep per entropy mode
    # (running one mode preserves the other's points); a pre-r12
    # flat-format file is migrated as its fixture sweep
    existing: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            existing = json.load(f)
    if "families" in existing and "sweeps" not in existing:
        existing = {"sweeps": {"fixture": {**existing, "entropy": "fixture"}}}
    existing.setdefault("sweeps", {})
    if fam_subset and args.entropy in existing["sweeps"]:
        # subset run: fold the re-measured families into the sweep
        prev = existing["sweeps"][args.entropy]
        prev.setdefault("families", {}).update(results)
        if recall_points:
            prev["semantic_recall"] = recall_points
    else:
        existing["sweeps"][args.entropy] = sweep
    existing["method"] = (
        "cold per run (session memos released), min-of-repeats, "
        "TaskMetrics via UI REST stage diff; per-family job-description "
        "stage attribution; semantic_recall = planted-pair capture under "
        "the production blocking geometry (default vs fixed L=10)"
    )
    with open(args.out, "w") as f:
        json.dump(existing, f, indent=1, sort_keys=True)
    print(json.dumps({f: r["alpha_wall"] for f, r in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
