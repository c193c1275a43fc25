"""LLM-pipeline operator tests: dedup recall on planted near-dups,
similarity ranking sanity, text-function correctness (SURVEY.md §2.I)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from heroku_kafka_connect_spark import llmops
from heroku_kafka_connect_spark.functions import text as T
from heroku_kafka_connect_spark.functions import vectors as V


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # one-token edit → high Jaccard
    far = "completely different content about spark engines and parquet files"
    return spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, base)],  # 3 == exact dup of 0
        "doc_id bigint, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t"))


def test_shingles_and_jaccard(spark, docs):
    sh = docs.select("doc_id", llmops.shingles("text", 3).alias("sh"))
    a = sh.filter("doc_id = 0").select(F.col("sh").alias("a"))
    b = sh.filter("doc_id = 1").select(F.col("sh").alias("b"))
    j = a.crossJoin(b).select(llmops.jaccard(F.col("a"), F.col("b")).alias("j")).first().j
    assert 0.5 < j < 1.0
    # identical docs → jaccard 1
    jj = a.crossJoin(a.select(F.col("a").alias("b"))).select(
        llmops.jaccard(F.col("a"), F.col("b")).alias("j")
    ).first().j
    assert jj == 1.0


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = llmops.minhash_lsh_pairs(docs, threshold=0.5)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got or (1, 0) in got  # near-dup found
    assert (0, 3) in got or (3, 0) in got  # exact dup found
    assert not any({2} & {x, y} for x, y in got)  # unrelated doc not paired


def test_minhash_lsh_hot_bucket_cap(spark):
    """Adversarial corpus: 60 identical boilerplate docs would emit
    60·59/2 = 1770 pairs per band without the guard. With
    max_bucket=16 the hot buckets emit ZERO pairs (pair budget held),
    the overflow side output reports them, and a planted normal-sized
    near-dup pair elsewhere in the corpus still comes through."""
    boiler = [(i, "the same boilerplate footer text repeated " * 3) for i in range(60)]
    planted = [
        (100, "a unique document about distributed query engines and shuffles"),
        (101, "a unique document about distributed query engines and sorting"),
    ]
    docs = spark.createDataFrame(boiler + planted, "doc_id long, text string")
    pairs = llmops.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=16).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (100, 101) in got  # small buckets unaffected
    assert not any(x < 100 and y < 100 for x, y in got)  # capped bucket emitted nothing
    over = llmops.minhash_lsh_overflow(docs, max_bucket=16).collect()
    assert over and all(r.n_ids == 60 for r in over)
    assert set(over[0].ids) == set(range(60))


def test_simhash_pairs_finds_planted_pair(docs):
    pairs = llmops.simhash_pairs(docs, max_hamming=16)
    got = {frozenset((r.a, r.b)) for r in pairs.collect()}
    assert frozenset((0, 3)) in got  # identical → hamming 0
    assert all(2 not in p for p in got)


def test_cosine_topk_self_is_best(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.filter("vec_id = 0")
    top = V.brute_force_topk(emb, q, 3).orderBy("rank").collect()
    assert [r.vec_id for r in top] == [0, 1, 2]
    assert top[0].score == pytest.approx(1.0, abs=1e-4)
    assert top[1].score == pytest.approx(0.9939, abs=1e-3)


def test_ivf_assign_zero_norm_gets_real_centroid(spark):
    """r6 advice (vectors.py NaN guard): a zero-norm embedding makes
    every cosine NaN; the literal-array argmax fold must still assign
    a REAL centroid (the smallest centroid_id, matching the old
    NaN-greatest window tie-break), never the -1 init sentinel —
    otherwise such vectors silently vanish from every IVF probe."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm → cosine NaN vs everything
        (3, [0.9, 0.1, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.vec_id: r.centroid_id for r in V.ivf_assign(emb, n_centroids=2).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert -1 not in got.values()
    assert got[2] == 0  # all-NaN row lands on the smallest centroid_id
    assert got[0] == 0 and got[1] == 1 and got[3] == 0


def test_ivf_exhaustive_probe_is_exact(spark):
    """nprobe == ncentroids probes every bucket → IVF must equal brute
    force exactly; fewer probes still yields k rows per query (the
    recall/cost dial, SCALE.md)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.filter("vec_id < 3")
    exact = {(r.query_id, r.rank): r.vec_id for r in V.brute_force_topk(emb, q, 3).collect()}
    ivf_all = {
        (r.query_id, r.rank): r.vec_id
        for r in V.ivf_topk(emb, q, 3, n_centroids=4, n_probe=4).collect()
    }
    assert ivf_all == exact
    few = V.ivf_topk(emb, q, 3, n_centroids=4, n_probe=1)
    counts = {r.query_id: 0 for r in few.collect()}
    for r in few.collect():
        counts[r.query_id] += 1
    assert all(c == 3 for c in counts.values())


def test_ann_lsh_buckets_group_similar(spark):
    import random

    rng = random.Random(42)
    rows = []
    for i in range(50):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x + rng.gauss(0, 0.01)) for x in base]))  # near-twin
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = llmops.ann_lsh_join(emb, k=1, n_planes=6, dim=8)
    got = {r.a: r.b for r in out.collect()}
    # near-twins share every hyperplane side with high probability:
    # most vectors' nearest ANN hit is their twin
    hits = sum(1 for q, v in got.items() if v == q ^ 1)
    assert hits >= 0.8 * len(got) > 0


def test_text_functions(spark):
    df = spark.createDataFrame([("the cat sat on the mat",)], "text string")
    row = df.select(
        T.token_count("text").alias("n"),
        T.type_token_ratio("text").alias("ttr"),
        T.stopword_ratio("text", "en").alias("swr"),
        T.fingerprint("text").alias("fp"),
        T.language_guess("text").alias("lang"),
    ).first()
    assert row.n == 6
    assert row.ttr == pytest.approx(5 / 6, abs=1e-3)
    assert row.swr == pytest.approx(2 / 6, abs=1e-3)  # 'the' twice
    assert len(row.fp) == 32
    assert row.lang == "en"


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame([("b a c",), ("c b a",)], "text string")
    fps = [r.fp for r in df.select(T.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_dedup_idempotent(spark, docs):
    once = docs.dropDuplicates(["text"])
    twice = once.dropDuplicates(["text"])
    assert once.count() == twice.count() == 3


def test_winnowing_guarantee_shared_passage(spark):
    """Winnowing's core property: a shared token run of >= k+w-1
    tokens (here 8) MUST produce a shared fingerprint; disjoint texts
    share none."""
    from heroku_kafka_connect_spark.functions.text import winnow_fingerprints

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, f"intro words here {passage} closing remarks"),
        (1, f"{passage} totally different tail content follows now"),
        (2, "unrelated text with no overlap at all whatsoever here okay"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps: dict[int, set] = {r[0]: set() for r in rows}
    for r in winnow_fingerprints(df).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1]          # shared passage → shared fingerprint
    assert not (fps[0] & fps[2])    # disjoint text → disjoint fingerprints
    assert not (fps[1] & fps[2])


def test_custom_and_ml_minhash_agree(spark, sf_dir):
    """The custom fused-band-key path and the spark.ml builtin path
    must find the same near-dup pairs on the same input — mutual
    cross-validation of two independent MinHash implementations, on
    the deterministic 50% sample. Since r15 this gate IS the ml
    route's home: the query was demoted from the registry (slowest
    registered row, and validation is a test concern — verdict item
    4), so assert the strong form directly on the function's joined
    relation: every emitted pair was found by BOTH paths."""
    from heroku_kafka_connect_spark.operators.llm import (
        llm_dedup_near_ml,
        ml_cross_check_sample,
    )
    from heroku_kafka_connect_spark.session import load_tables

    sampled = ml_cross_check_sample(load_tables(spark, sf_dir).documents)
    custom = {
        (r.a, r.b) for r in llmops.minhash_lsh_pairs(sampled, threshold=0.5).collect()
    }
    joined = llm_dedup_near_ml(spark, sf_dir).collect()
    assert {(r.a, r.b) for r in joined} == custom and custom
    # full-outer semantics: an ML-only pair would materialize an extra
    # row, a custom-only pair would carry ml_found=False — both drift
    # modes land here
    assert all(r.ml_found for r in joined)


def test_connected_components_shapes(spark):
    """Path graph (worst diameter), two components, and pair — all
    converge to min-id labels; nodes in no edge never appear (they
    are their own trivial clusters by definition)."""
    edges = spark.createDataFrame(
        # path 1-2-3-4 (diameter 3) + separate pair 10-11
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "a long, b long",
    )
    got = {r.node: r.component for r in llmops.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    got2 = {
        r.node: r.component
        for r in llmops.connected_components(edges, algorithm="two_star").collect()
    }
    assert got2 == got


def test_two_star_matches_label_prop_on_random_graphs(spark, monkeypatch):
    """Property: the alternating large-star/small-star algorithm and
    min-label propagation produce identical (node → component) maps —
    checked against a pure-Python union-find ground truth — on seeded
    random graphs and the diameter-adversarial cases (path graphs,
    where propagation needs O(n) rounds but two-star needs O(log² n);
    max_iter=6 on the 40-path pins that two-star really converges
    fast, it cannot be propagation in disguise). Runs on both sides of
    the local-finish bound: at the default every case finishes on the
    driver; with the bound at 0 every non-empty case runs the
    distributed loops."""
    import random

    def union_find(edge_list):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    cases = []
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = rng.randint(20, 60)
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(10, 80))]
        )
    cases.append([(i, i + 1) for i in range(40)])          # path: diameter 40
    cases.append([(i, i + 1) for i in range(10)] + [(50, 51)])
    cases.append([(7, 7), (1, 2)])                          # self-loop node

    for bound in (llmops.CC_LOCAL_MAX_EDGES, 0):
        monkeypatch.setattr(llmops, "CC_LOCAL_MAX_EDGES", bound)
        for edge_list in cases:
            edges = spark.createDataFrame(edge_list, "a long, b long")
            truth = union_find(edge_list)
            lp = {
                r.node: r.component
                for r in llmops.connected_components(edges, max_iter=60).collect()
            }
            ts = {
                r.node: r.component
                for r in llmops.connected_components(
                    edges, algorithm="two_star", max_iter=6
                ).collect()
            }
            assert lp == truth, (bound, edge_list)
            assert ts == truth, (bound, edge_list)


def test_connected_components_empty_and_id_type(spark):
    """An empty edge list gives an empty (node, component) relation,
    and int32 ids stay int32 through the local finish."""
    from pyspark.sql.types import IntegerType, LongType

    out = llmops.connected_components(spark.createDataFrame([], "a long, b long"))
    assert out.columns == ["node", "component"]
    assert [f.dataType for f in out.schema.fields] == [LongType(), LongType()]
    assert out.collect() == []

    edges = spark.createDataFrame([(5, 3), (3, 9), (20, 21)], "a int, b int")
    out = llmops.connected_components(edges)
    assert [f.dataType for f in out.schema.fields] == [IntegerType(), IntegerType()]
    assert {r.node: r.component for r in out.collect()} == {
        3: 3, 5: 3, 9: 3, 20: 20, 21: 20
    }


def test_connected_components_small_graph_job_count(spark):
    """Below the bound CC costs the edge checkpoint and the bounded
    collect — at most 2 Spark jobs, counted from the status store
    (the distributed loops start about ten per round)."""
    import uuid

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (7, 8)], "a long, b long"
    )
    for alg in ("label_prop", "two_star"):
        group = f"cc-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "connected_components job count")
        try:
            llmops.connected_components(edges, algorithm=alg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 2, alg


def test_ffd_bin_packing_invariants(spark):
    """FFD invariants: every multi-doc bin within budget; an oversize
    doc sits alone; deterministic across runs; never more bins than
    the naive one-doc-per-bin bound and at least ceil(total/budget)."""
    import math

    rows = [(i, "en", t) for i, t in enumerate([1500, 900, 700, 600, 500, 300, 100, 3000])]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out1 = {r.doc_id: r.bin_id for r in llmops.pack_bins_ffd(docs, budget=2048).collect()}
    out2 = {r.doc_id: r.bin_id for r in llmops.pack_bins_ffd(docs, budget=2048).collect()}
    assert out1 == out2  # deterministic
    sizes = dict(rows and [(i, t) for i, _l, t in rows])
    by_bin: dict[int, list[int]] = {}
    for doc, b in out1.items():
        by_bin.setdefault(b, []).append(sizes[doc])
    for b, toks in by_bin.items():
        if len(toks) > 1:
            assert sum(toks) <= 2048, f"bin {b} over budget: {toks}"
    # the 3000-token doc must be alone
    big_bin = out1[7]
    assert len(by_bin[big_bin]) == 1
    total = sum(sizes.values())
    assert math.ceil((total - 3000) / 2048) <= len(by_bin) - 1 <= len(sizes) - 1


def test_ivf_partitioned_index_prunes(spark, tmp_path):
    """The IVF disk layout: index written partitionBy(centroid_id),
    probe read shows a PartitionFilters entry (pruning happens at
    file listing, before any IO) and returns exactly the probed
    partitions' vectors."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "ivf")
    V.ivf_write_index(emb, path, n_centroids=4)

    probed = V.ivf_read_probes(spark, path, [0, 2])
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:120]
    got_centroids = {r.centroid_id for r in probed.select("centroid_id").distinct().collect()}
    assert got_centroids <= {0, 2} and got_centroids
    # full index round-trips every vector exactly once
    full = spark.read.parquet(path)
    assert full.count() == 80 and full.select("vec_id").distinct().count() == 80


def test_ivf_indexed_query_matches_inline_and_prunes(spark, sf_dir):
    """The registered index-served IVF query returns the same result
    set as the inline ivf_topk path (same centroids, same assignment,
    same probes), and its physical plan prunes unprobed centroid
    partitions at file listing (PartitionFilters on centroid_id)."""
    from heroku_kafka_connect_spark.registry import all_queries

    qs = all_queries()
    indexed = qs["llm_knn_ivf_indexed"].fn(spark, sf_dir)
    inline = qs["llm_knn_ivf"].fn(spark, sf_dir)
    got = {(r.query_id, r.vec_id, r.score, r.rank) for r in indexed.collect()}
    want = {(r.query_id, r.vec_id, r.score, r.rank) for r in inline.collect()}
    assert got == want and got

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:160]


def test_ivf_trained_index_roundtrip_and_exactness(spark, tmp_path):
    """Lloyd-trained quantizer (train_iters>0) through the full
    materialized path: the sidecar holds the TRAINED centroids (not
    the smallest-id sample), every vector lands in exactly one
    partition, and probing every centroid still equals brute force
    (training moves the buckets, never the exactness guarantee)."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "ivf_trained")
    V.ivf_write_index(emb, path, n_centroids=4, train_iters=2)

    cents = spark.read.parquet(path + "/_centroids").collect()
    assert len(cents) == 4
    raw = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    trained_cvs = {tuple(round(x, 6) for x in r.cv) for r in cents}
    seed_cvs = {tuple(round(x, 6) for x in raw[i]) for i in range(4)}
    assert trained_cvs != seed_cvs  # training actually moved the centroids

    full = spark.read.parquet(path)
    assert full.count() == 80 and full.select("vec_id").distinct().count() == 80

    q = emb.filter("vec_id < 3")
    exact = {(r.query_id, r.rank): r.vec_id for r in V.brute_force_topk(emb, q, 3).collect()}
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in V.ivf_probe_topk(spark, path, q, 3, n_probe=4).collect()
    }
    assert got == exact


def test_kmeans_empty_cluster_carries_forward(spark):
    """A cluster with zero assigned vectors must keep its previous
    centroid (k rows out, always) — not vanish from the mean agg and
    shrink the IVF sidecar/partition count. Seeds 1 and 2 are the
    IDENTICAL vector; cosine ties break to the lower cid, so cluster 2
    gets zero members on every iteration."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    assign, cents = llmops.kmeans_lloyd(emb, k=3, iters=2)
    out = {r.cid: list(r.cv) for r in cents.collect()}
    assert sorted(out) == [1, 2, 3]
    assert out[2] == [1.0, 0.0]  # carried forward from its seed
    assigned_cids = {r.cid for r in assign.collect()}
    assert 2 not in assigned_cids  # the tie really does starve cluster 2


def test_ann_recall_floor(spark, sf_dir):
    """llm_knn_recall computes recall@3 of the hyperplane-LSH path vs
    exact brute force — but nothing failed if recall collapsed. Pin a
    floor so LSH parameter drift (n_planes, bucket width, hash family)
    breaks loudly instead of silently degrading ANN quality."""
    from heroku_kafka_connect_spark.registry import all_queries

    rows = all_queries()["llm_knn_recall"].fn(spark, sf_dir).collect()
    assert rows, "recall sample is empty — sample rate vs fixture size drifted"
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.7, f"mean recall@3 {mean_recall:.3f} < 0.7 floor"


def test_pii_scrub_counts_and_masks(spark):
    """Planted-PII unit check: each category counted on the text as the
    previous scrub stage left it (an already-redacted email's digits
    can never re-count as a phone), masks replace ALL occurrences."""
    rows = [
        (1, "write to a.user+tag@sub.example.org or b@x.io today"),
        (2, "server 192.168.0.1 and 10.0.255.7 up"),
        (3, "call +1 (555) 010-1234 now"),
        (4, "mixed bob@x.co at 10.1.1.1 tel +44 20 7946 0958 end"),
        (5, "clean text with no personal data at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_e, n_i, n_p, clean = T.pii_scrub("text")
    got = {
        r.doc_id: (r.ne, r.ni, r.np, r.c)
        for r in df.select(
            "doc_id", n_e.alias("ne"), n_i.alias("ni"), n_p.alias("np"), clean.alias("c")
        ).collect()
    }
    assert got[1][:3] == (2, 0, 0) and got[1][3] == "write to <EMAIL> or <EMAIL> today"
    assert got[2][:3] == (0, 2, 0) and got[2][3] == "server <IP> and <IP> up"
    assert got[3][:3] == (0, 0, 1) and got[3][3] == "call <PHONE> now"
    assert got[4][:3] == (1, 1, 1)
    assert got[4][3] == "mixed <EMAIL> at <IP> tel <PHONE> end"
    assert got[5][:3] == (0, 0, 0) and got[5][3] == rows[4][1]


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """The no-straddle invariant: every document shares its split with
    its canonical — so no exact/near duplicate pair ever crosses the
    train/eval boundary (the leakage a doc-id-hash split permits)."""
    from heroku_kafka_connect_spark.registry import all_queries

    rows = all_queries()["llm_split_leakage_safe"].fn(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    assert all(r.split == split_of[r.canonical_id] for r in rows)
    # and the split is non-degenerate on the fixture
    assert {r.split for r in rows} == {"train", "eval"}
    # leakage really occurs without the canonical indirection: at
    # least one non-canonical doc's OWN hash bucket disagrees with
    # its cluster's split (the bug this operator exists to prevent)
    from heroku_kafka_connect_spark import llmops
    from pyspark.sql import functions as F

    naive = {
        r.doc_id: r.b
        for r in spark.createDataFrame(
            [(r.doc_id,) for r in rows], "doc_id long"
        ).select(
            "doc_id",
            (llmops.md5_prefix_bucket(F.col("doc_id"), 100) < 90).alias("b"),
        ).collect()
    }
    would_leak = [
        r.doc_id
        for r in rows
        if r.doc_id != r.canonical_id
        and (naive[r.doc_id] != naive[r.canonical_id])
    ]
    assert would_leak, "fixture has no cross-split dup pair; invariant vacuous"


def test_incremental_classify_three_tiers(spark):
    """All three incremental-dedup tiers on planted data: an exact
    byte-copy of an indexed doc wins the exact tier (jaccard NULL), a
    one-token edit lands in near with its match, and unrelated
    content is 'new'. The fixture corpus has no byte-identical dups,
    so the exact tier is only exercisable here."""
    from heroku_kafka_connect_spark.operators.llm import incremental_classify

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark engines and parquet files"
    docs = spark.createDataFrame(
        [
            (0, base, "en", "s0"),
            (1, far, "en", "s0"),
            # new batch:
            (10, base, "en", "s1"),   # exact copy of 0
            (11, near, "en", "s1"),   # near-dup of 0
            (12, "totally unrelated words about gardening and soup", "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in incremental_classify(docs, split=10).collect()
    }
    assert got[10] == ("exact", 0, None)
    assert got[11][0] == "near" and got[11][1] == 0 and got[11][2] >= 0.5
    assert got[12] == ("new", None, None)


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Overlap-chunking invariants: chunks tile the doc with stride 16
    / size 32, end offsets clamp to doc length, every token index is
    inside at least one [start, end) span, and rejoining stride-sized
    prefixes reproduces the doc."""
    from heroku_kafka_connect_spark.registry import all_queries

    rows = all_queries()["llm_chunk_overlap"].fn(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in list(by_doc.items())[:50]:
        chunks.sort(key=lambda r: r.chunk_id)
        n = chunks[-1].end_tok  # last end clamps to doc length
        covered = set()
        for r in chunks:
            assert r.start_tok == r.chunk_id * 16
            assert r.end_tok <= n and r.end_tok - r.start_tok <= 32
            covered.update(range(r.start_tok, r.end_tok))
        assert covered == set(range(n)), f"doc {doc_id} has uncovered tokens"


def test_dataset_audit_counts_planted_anomalies(spark):
    """Every audit counter fires on a frame with planted problems:
    a doc missing its embedding, an orphan embedding, a wrong-dim
    vector, a NaN vector, a duplicate doc_id, a null text and an
    empty text."""
    from heroku_kafka_connect_spark.operators.llm import dataset_audit

    docs = spark.createDataFrame(
        [
            (1, "fine text"),
            (2, None),           # null text
            (3, "   "),          # empty after trim
            (3, "dup id"),       # duplicate doc_id
            (4, "no embedding"), # missing embedding
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [0.1] * 64),
            (2, [0.2] * 64),
            (3, [0.3] * 8),                      # bad dim
            (9, [0.4] * 64),                     # orphan
            (1, [float("nan")] + [0.0] * 63),    # nonfinite (dup vec row ok)
        ],
        "vec_id long, embedding array<double>",
    )
    r = dataset_audit(docs, emb).collect()[0]
    assert r.n_docs == 5 and r.n_embeddings == 5
    assert r.n_docs_missing_embedding == 1   # doc 4
    assert r.n_orphan_embeddings == 1        # vec 9
    assert r.n_bad_dim == 1
    assert r.n_nonfinite == 1
    assert r.n_dup_doc_ids == 1
    assert r.n_null_text == 1
    assert r.n_empty_docs == 2               # null text counts as empty too


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    """Priority sampling invariants: exactly k rows, priorities are
    u/weight for the documented hash, and weighting by n_chars pulls
    the sample's mean length above the corpus mean."""
    import hashlib

    from heroku_kafka_connect_spark.registry import all_queries
    from heroku_kafka_connect_spark.session import load_tables

    rows = all_queries()["llm_sample_weighted"].fn(spark, sf_dir).collect()
    assert len(rows) == 100
    for r in rows[:20]:
        u = int(hashlib.md5(f"ws:{r.doc_id}".encode()).hexdigest()[:8], 16) / 2**32
        assert r.priority == u / r.n_chars
    docs = load_tables(spark, sf_dir).documents
    corpus_mean = docs.agg({"n_chars": "avg"}).collect()[0][0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean  # length-weighted sample skews long


def test_bpe_pair_counts_match_pure_python(spark, sf_dir):
    """Third-engine check: recompute frequency-weighted symbol-pair
    counts in pure Python over the same fixture and compare the full
    relation (Spark vs DuckDB is already the registered oracle; this
    pins both against a from-scratch implementation)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from heroku_kafka_connect_spark.registry import all_queries

    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    wf = Counter()
    for t in texts.column("text").to_pylist():
        for w in t.split(" "):
            if w:
                wf[w] += 1
    expect = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            expect[(w[i], w[i + 1])] += f
    got = {
        (r.left_sym, r.right_sym): r.pair_count
        for r in all_queries()["llm_bpe_pair_counts"].fn(spark, sf_dir).collect()
    }
    assert got == dict(expect)


def test_vocab_encode_roundtrip_and_rates(spark, sf_dir):
    """Encoding invariants: id sequence length == n_tokens, OOV rate
    consistent with counts, every non-negative id is in [0, 16), and
    decoding non-OOV ids through the vocab reproduces the original
    tokens in position order."""
    from heroku_kafka_connect_spark.registry import all_queries
    from heroku_kafka_connect_spark.session import load_tables

    enc = {
        r.doc_id: r
        for r in all_queries()["llm_vocab_encode"].fn(spark, sf_dir).collect()
    }
    docs = load_tables(spark, sf_dir).documents
    # rebuild the vocab the same way to decode
    from collections import Counter

    wf = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            if w:
                wf[w] += 1
    vocab = [w for w, _ in sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:16]]
    for row in docs.select("doc_id", "text").limit(50).collect():
        toks = [w for w in row.text.split(" ") if w]
        r = enc[row.doc_id]
        ids = [int(x) for x in r.token_ids.split(",")]
        assert len(ids) == r.n_tokens == len(toks)
        assert r.n_oov == sum(1 for i in ids if i == -1)
        assert r.oov_rate == round(r.n_oov / r.n_tokens, 4)
        for tok, tid in zip(toks, ids):
            if tid >= 0:
                assert 0 <= tid < 16 and vocab[tid] == tok
            else:
                assert tok not in vocab


def test_textrank_matches_pure_python(spark, sf_dir):
    """Third-engine check for the TextRank query: re-run the weighted
    PageRank (same rounding contract — 9-dp contributions summed as
    scaled longs, 9-dp ranks) in pure Python over the same fixture and
    compare the top-20 exactly. Also pins the damping floor: every
    rank must exceed the (1-d) base mass of 0.15."""
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq

    from heroku_kafka_connect_spark.registry import all_queries

    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    edges = Counter()
    for t in texts.column("text").to_pylist():
        ts = [w for w in t.split(" ") if w]
        for x, y in zip(ts, ts[1:]):
            if x != y:
                edges[(min(x, y), max(x, y))] += 1
    de = defaultdict(list)
    tw = Counter()
    for (a, b), w in edges.items():
        de[a].append((b, w))
        de[b].append((a, w))
        tw[a] += w
        tw[b] += w
    r = {u: 1.0 for u in tw}
    for _ in range(3):
        s = Counter()
        for u, outs in de.items():
            for v, w in outs:
                s[v] += int(round((r[u] * w / tw[u]) * 1_000_000_000))
        r = {v: round(0.15 + 0.85 * (s[v] / 1_000_000_000.0), 9) for v in s}
    expect = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (row.token, row.rank, row.total_cooc)
        for row in all_queries()["text_textrank"].fn(spark, sf_dir).collect()
    ]
    assert [(tok, rk) for tok, rk, _ in got] == expect
    for tok, rk, cooc in got:
        assert rk > 0.15 and cooc == tw[tok]
