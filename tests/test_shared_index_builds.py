"""Cold index builds that share work across consumers: one exact-Lloyd
train per corpus snapshot feeds both the semantic blocking chooser and
the 2-probe centroid leg, without changing either output; the sampled
k-means trainer's empty-sample case; and bench's cold-wall release of
the shared memo."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from heroku_kafka_connect_spark import llmops
from heroku_kafka_connect_spark.operators import llm as L
from heroku_kafka_connect_spark.session import load_tables
from test_round14_ops import _clustered_fixture


def _release_semantic_memos() -> None:
    for memo in (L._BLOCKING_CHOICE_MEMO, L._CENTROID2_PAIRS_MEMO, L._LLOYD_CENTS_MEMO):
        L.release_memo(memo)


def test_shared_lloyd_memo_changes_no_output(spark, tmp_path, monkeypatch):
    """On the round-13 clustered corpus (written as a fixture dir), the
    memoized chooser row and centroid-2 pair set equal the standalone
    `semantic_blocking_choice` / `_centroid2_pairs` results, and the
    memo path trains the k-means exactly once for both consumers."""
    d = _clustered_fixture(tmp_path)
    emb = load_tables(spark, d).embeddings
    k = L._centroid_k_for(L._n_embeddings(d))
    assert k == L.CHOOSER_K  # the geometry where the train is shared

    trains: list[int] = []
    real_lloyd = llmops.kmeans_lloyd

    def counting_lloyd(*args, **kwargs):
        trains.append(kwargs.get("k"))
        return real_lloyd(*args, **kwargs)

    _release_semantic_memos()
    with monkeypatch.context() as m:
        m.setattr(llmops, "kmeans_lloyd", counting_lloyd)
        memo_row = L._blocking_choice_for(spark, d)
        memo_pairs = {
            tuple(r) for r in L._centroid2_pairs_for(spark, d, emb).collect()
        }
    assert trains == [L.CHOOSER_K]
    assert len(L._LLOYD_CENTS_MEMO) == 1

    alone_row = L.semantic_blocking_choice(emb).collect()[0]
    alone_pairs = {tuple(r) for r in L._centroid2_pairs(emb, k).collect()}
    assert memo_row.asDict() == alone_row.asDict()
    assert memo_row["blocking"] == "centroid"
    assert memo_pairs == alone_pairs and memo_pairs
    _release_semantic_memos()


def test_lloyd_memo_release_and_stale_eviction(spark, tmp_path):
    """release_memo empties the shared centroid memo; an entry from a
    stopped application, and a same-dir entry whose fixture changed in
    place, are evicted when the next snapshot's centroids are built."""
    d = _clustered_fixture(tmp_path, n=300)
    real = os.path.realpath(d)
    emb = load_tables(spark, d).embeddings
    L.release_memo(L._LLOYD_CENTS_MEMO)

    L._lloyd_cents_for(spark, d, emb, L.CHOOSER_K)
    assert len(L._LLOYD_CENTS_MEMO) == 1
    L.release_memo(L._LLOYD_CENTS_MEMO)
    assert not L._LLOYD_CENTS_MEMO

    L._LLOYD_CENTS_MEMO[("app-stopped-long-ago", real, (), L.CHOOSER_K, L.KMEANS_ITERS)] = None
    first = L._lloyd_cents_for(spark, d, emb, L.CHOOSER_K)
    assert [k[0] for k in L._LLOYD_CENTS_MEMO] == [spark.sparkContext.applicationId]
    assert L._lloyd_cents_for(spark, d, emb, L.CHOOSER_K) is first  # memo hit

    # rewrite embeddings.parquet in place with fewer rows: new
    # fingerprint, so the old same-dir entry is released and replaced
    p = os.path.join(d, "embeddings.parquet")
    t = pq.read_table(p)
    pq.write_table(t.slice(0, t.num_rows - 10), p)
    emb2 = load_tables(spark, d).embeddings
    second = L._lloyd_cents_for(spark, d, emb2, L.CHOOSER_K)
    assert second is not first
    assert len([k for k in L._LLOYD_CENTS_MEMO if k[1] == real]) == 1
    assert second.count() == L.CHOOSER_K
    L.release_memo(L._LLOYD_CENTS_MEMO)


def test_bench_cold_walls_release_the_shared_centroids():
    """bench.py's cold pass for the centroid-2 family and the full
    manifest must also release the shared Lloyd centroids, or those
    cold walls read half warm."""
    from bench import MEMO_FAMILIES, release_family

    for family in ("llm_dedup_semantic_centroid2", "llm_dedup_apply_full"):
        assert "_LLOYD_CENTS_MEMO" in MEMO_FAMILIES[family]
        L._LLOYD_CENTS_MEMO[("app", "/nowhere", (), 8, 3)] = None
        release_family(family)
        assert not L._LLOYD_CENTS_MEMO
    for attrs in MEMO_FAMILIES.values():
        assert all(isinstance(getattr(L, a), dict) for a in attrs)


def test_kmeans_sampled_empty_sample(spark):
    """The sampled trainer on a corpus whose md5 training sample is
    empty — an empty corpus, and a non-empty one with no id in sample
    bucket 0 — returns empty centroids and cells instead of failing."""
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    rows = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, 1.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    off_sample = rows.filter(
        llmops.md5_prefix_bucket(F.col("vec_id"), llmops.KMEANS_SAMPLE_BUCKETS) != 0
    )
    assert off_sample.count() > 0
    for corpus in (empty, off_sample):
        cents, (levels, cells) = llmops.kmeans_sampled(corpus, k=40, iters=2)
        assert cents.collect() == [] and cells.collect() == []
