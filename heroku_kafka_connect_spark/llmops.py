"""LLM-data-pipeline operators — §2.I: dedup family, similarity
search, text fingerprinting. Designed scale-first:

- exact dedup    → hash groupBy (one shuffle on the hash)
- MinHash LSH    → shingle → k minhashes → band keys → bucket join;
                   candidate pairs only, verified by exact Jaccard.
                   O(n·k) + join on band keys instead of O(n²).
- SimHash        → 64-bit signature per doc (JVM md5 bit votes),
                   banded by 16-bit chunks, Hamming-verified with
                   JVM-side bit_count(xor).
- ANN (vectors)  → random-hyperplane LSH buckets; brute force only
                   within buckets.

Everything is deterministic (fixed seeds / hash functions) so results
are stable across runs and cluster sizes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column | str, pattern: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, pattern)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles (the MinHash input set)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


#: Cross-engine hash family. Every sketch below (MinHash, SimHash,
#: winnowing) derives its bits from ``md5`` — the one hash both Spark
#: and DuckDB compute identically — so each sketch query can carry a
#: full SQL oracle instead of a rows-only check. ``hex32`` turns the
#: first 8 hex chars into a 32-bit int; k independent MinHash
#: functions come from the affine universal family
#: ``h_i(x) = (A_i·x + B_i) mod P32`` (Carter–Wegman), with constants
#: from a FIXED seeded PRNG, small enough that ``A_i·x`` stays under
#: 2^63 in both engines (no overflow, no wrap divergence).
P32 = 4_294_967_311  # smallest prime > 2^32
_MAX_A = 1 << 30

def _affine_params(n: int = 32, seed: int = 0x5EED) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MAX_A), rng.randrange(0, _MAX_A)) for _ in range(n)]


AFFINE = _affine_params()


def hex32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative long — the cross-engine
    base hash. ``sql_hex32`` is its DuckDB spelling; keep them
    adjacent so a change to one is a change to both."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def sql_hex32(x: str) -> str:
    """DuckDB fragment computing exactly ``hex32(x)`` — THE single
    SQL spelling; every sketch oracle must use it rather than restate
    the idiom (a restated copy silently de-syncs if the prefix width
    ever changes)."""
    return f"CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


def sql_md5_prefix_bucket(key: str, buckets: int) -> str:
    """DuckDB fragment computing exactly ``md5_prefix_bucket(key,
    buckets)`` (16-bit prefix, mod) — the single SQL spelling for the
    sampling/split/shard bucket idiom."""
    return (
        f"CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 4)) AS BIGINT)"
        f" % {buckets}"
    )


def md5_prefix_bucket(key: Column, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) from the 16-bit md5 prefix
    of the key — the engine-portable substitute for RNG
    sampling/splitting/sharding (DuckDB:
    ``CAST('0x' || substr(md5(CAST(k AS VARCHAR)),1,4) AS BIGINT) %
    buckets``). THE single definition — sampling, splits, and shards
    across queries stay aligned only while they share it."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long") % buckets
    )


def ordered_pairs(members: Column) -> Column:
    """All (x, y) element pairs with x strictly before y in ``members``
    (pass a SORTED array column for deterministic x < y pairs). The
    in-bucket pair generator shared by every LSH family below: candidate
    pairs are emitted from ONE groupBy of the banded/bucketed rows
    instead of a self-join, which would shuffle — and recompute — the
    signature lineage twice."""
    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def token_blocks(text: Column | str, size: int = 16) -> Column:
    """Consecutive ``size``-token blocks (stride = size, last block
    ragged) — the paragraph stand-in for the fixture's single-line
    texts. Same slice semantics as DuckDB list slicing (1-based,
    end-clamped), so block strings — and their md5s — agree across
    engines."""
    toks = tokens(text)
    nb = F.ceil(F.size(toks) / F.lit(float(size))).cast("int")
    # positive guard: sequence(0, -1) counts DOWN to [0, -1] — a
    # zero-token input must yield zero blocks (the oracle's empty
    # generate_series), not two bogus ones
    idx = F.when(nb > 0, F.sequence(F.lit(0), nb - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * size + 1, size), " ")
    )


def jaccard(a: Column, b: Column, scale: int = 4) -> Column:
    """Exact Jaccard over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, scale)


def minhash_signatures(sh: DataFrame, k: int) -> DataFrame:
    """(__id, m0..m{k-1}) minhash signature relation from a per-doc
    shingle relation (__id, __sh) — the sketch state itself, shared by
    the LSH banding front half and the estimator-accuracy monitor
    (llm_minhash_est_error). explode_OUTER: plain explode makes
    InferFiltersFromGenerate add a `size(shingles) > 0` filter that
    Catalyst then pushes BELOW the repartition — re-evaluating the
    whole shingle expression on the scan side, single-task on a
    one-file input (measured 2.7 s of a 5.3 s query). Non-null text
    always yields >= 1 shingle, so outer and inner explode are
    semantically identical here."""
    xs = sh.select("__id", F.explode_outer("__sh").alias("__s")).select(
        "__id", hex32(F.col("__s")).alias("__x")
    )
    return xs.groupBy("__id").agg(
        *[
            F.min((F.lit(a) * F.col("__x") + F.lit(b)) % F.lit(P32)).alias(f"m{i}")
            for i, (a, b) in enumerate(AFFINE[:k])
        ]
    )


def _lsh_shingle_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    bands: int,
    rows: int,
    checkpoint_sh: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: (per-doc shingle sets, per-bucket sorted
    id arrays), on the cross-engine md5+affine hash family.

    Shape: explode shingles → ONE md5 per shingle → ``groupBy(id)``
    with k affine-min aggregates. The explode is narrow (shingle rows
    never leave their map task) and the aggregation is map-side
    combinable, so the exchange carries one row of k longs per doc —
    same volume as a per-row array expression, but each md5 is
    provably computed once (an array formulation references the
    shingle-hash array k times and projection collapse re-inlines the
    md5 per reference; measured 8-32× blowup on the xxhash64
    predecessor). Band key = md5 over the band's r minhashes; the
    bucket groupBy is the second and last exchange, carrying ids
    only."""
    k = bands * rows
    if k > len(AFFINE):
        raise ValueError(f"bands*rows={k} exceeds {len(AFFINE)} affine hash fns")
    # spread the hash computation even when the scan yields few input
    # splits (one small parquet file = one task = 1/32 of local[32]);
    # with par == spark.sql.shuffle.partitions the groupBy below reuses
    # this partitioning, so it costs no extra exchange — on a cluster
    # whose scan already has enough splits, drop it
    par = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.filter(F.col(text_col).isNotNull()).repartition(par, F.col(id_col))
    sh = docs.select(F.col(id_col).alias("__id"), shingles(text_col, shingle_n).alias("__sh"))
    if checkpoint_sh:
        # r16 opt-in (default False keeps every committed caller plan
        # byte-identical): a caller that consumes BOTH halves — the
        # banded chain and per-doc shingle sets for its verify joins —
        # otherwise recomputes the shingle pass once per consumer
        # (3× in incremental_classify). Per-call, within one
        # execution; guide §2.4/§5.
        sh = sh.localCheckpoint(eager=True)
    mins = minhash_signatures(sh, k)
    banded = mins.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.lit(str(j)),
                            *[F.col(f"m{j * rows + r}").cast("string") for r in range(rows)],
                        )
                    )
                    for j in range(bands)
                ]
            )
        ).alias("key"),
    )
    buckets = banded.groupBy("key").agg(F.sort_array(F.collect_set("__id")).alias("ids"))
    return sh, buckets


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 256,
) -> DataFrame:
    """I3 near-duplicate pairs via MinHash+LSH, Jaccard-verified, on
    the cross-engine md5+affine family (SQL-oracle-checkable — see
    ``_lsh_shingle_buckets`` for the plan shape and why each md5 is
    computed exactly once). Banded (band, key) rows carry ONLY the id
    (never the shingle arrays — shuffling arrays per band multiplies
    IO by bands×); the bucket groupBy emits candidate pairs in-bucket
    (a self-join would shuffle — and recompute — the banded set
    twice); the shingle sets are joined back just for the pairs that
    need exact-Jaccard verification. At 100 TB the bucket grouping
    replaces an impossible O(n²) cross join.

    ``max_bucket`` is the hot-bucket guard: a pathological bucket
    (boilerplate/empty docs all sharing a band key) is an LSH-inherent
    O(|bucket|²), and ONE such bucket at corpus scale can exceed every
    other bucket combined. Buckets larger than the cap emit no pairs
    here — inspect them via ``minhash_lsh_overflow`` (same keys, same
    plan front half) and handle them out-of-band (exact-dedup them:
    near-identical boilerplate is better served by the exact path).

    Verify joins re-shingle ONLY candidate docs: ``cand_ids`` (every
    id in an under-cap bucket, derived from the same bucket exchange,
    so it reuses rather than recomputes the front half) broadcasts
    into a join against the raw docs, and the shingle expression runs
    post-join on the survivors. At corpus scale candidates are a tiny
    fraction of docs — the old shape (joining the full-corpus shingle
    relation on each side) shingled 100 TB twice more and paid two
    full-width exchanges for it."""
    _, buckets = _lsh_shingle_buckets(docs, id_col, text_col, shingle_n, bands, rows)
    live = buckets.filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    cand = (
        live.select(F.explode(ordered_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    cand_ids = live.select(F.explode("ids").alias("__id")).distinct()
    # no broadcast HINT on cand_ids: on boilerplate-heavy corpora most
    # docs land in SOME under-cap bucket, making the candidate set
    # O(corpus) — a forced broadcast there is a driver/executor OOM.
    # AQE (enabled in session.py) sees the actual post-agg size at
    # runtime and picks broadcast when the set really is small.
    sh_cand = (
        docs.join(cand_ids, F.col(id_col) == F.col("__id"))
        .select("__id", shingles(text_col, shingle_n).alias("__sh"))
    )
    verified = (
        cand.join(sh_cand.select(F.col("__id").alias("a"), F.col("__sh").alias("sh_a")), "a")
        .join(sh_cand.select(F.col("__id").alias("b"), F.col("__sh").alias("sh_b")), "b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return verified.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def minhash_lsh_overflow(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 8,
    rows: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Side output for ``minhash_lsh_pairs``'s hot-bucket cap: the
    (key, n_ids, ids) of every bucket the cap excluded, so capped
    groups are observable and routable (e.g. into exact dedup) rather
    than silently dropped."""
    _, buckets = _lsh_shingle_buckets(docs, id_col, text_col, shingle_n, bands, rows)
    return buckets.filter(F.size("ids") > max_bucket).select(
        "key", F.size("ids").alias("n_ids"), "ids"
    )


def simhash_chunks(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc as four 16-bit chunk values (the LSH
    banding unit) — entirely JVM expressions on the cross-engine md5
    base hash, so the sketch is SQL-oracle-checkable.

    Shape: explode whitespace tokens (narrow — token rows never leave
    their map task), take 64 bits per token from md5 (two 32-bit hex
    words), then ONE map-side-combinable ``groupBy(id)`` with 64
    ``sum(±1)`` bit votes. Bit b of the signature is set iff the
    majority of token hashes set bit b (vote sum > 0); chunk c packs
    votes 16c..16c+15. The exchange carries one row of 64 small longs
    per doc. Replaces a blake2b pandas UDF: the vote aggregation is
    the same math, minus the Python worker round-trip."""
    lo = hex32(F.col("__t"))
    hi = F.conv(F.substring(F.md5(F.col("__t")), 9, 8), 16, 10).cast("long")
    # id-hash repartition spreads the token hashing across the cluster
    # on few-split scans; the vote groupBy reuses the partitioning.
    # explode_OUTER + isNotNull: see _lsh_shingle_buckets — a plain
    # explode would re-evaluate the split below the repartition
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .repartition(par, F.col(id_col))
        .select(F.col(id_col).alias("__id"), F.explode_outer(tokens(text_col)).alias("__t"))
        .select("__id", lo.alias("__lo"), hi.alias("__hi"))
    )
    votes = toks.groupBy("__id").agg(
        *[
            F.sum(
                F.shiftright(F.col("__lo" if b < 32 else "__hi"), b % 32)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    chunk = lambda c: sum(
        [
            F.when(F.col(f"v{16 * c + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(1, 16)
        ],
        F.when(F.col(f"v{16 * c}") > 0, F.lit(1)).otherwise(F.lit(0)),
    ).cast("long")
    return votes.select("__id", F.array(*[chunk(c) for c in range(4)]).alias("chunks"))


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """I-SimHash: near-dup pairs with Hamming(sig_a, sig_b) <= k.
    Banded by the four 16-bit chunks (pigeonhole: any pair within
    Hamming 8 shares at least one exact chunk only heuristically —
    standard SimHash banding recall tradeoff). Verification uses JVM
    bit_count(xor) per chunk. One shuffle after the signature groupBy:
    rows bucket by (band, chunk) and pairs are emitted in-bucket via
    ``ordered_pairs`` — sigs travel with the ids so verification needs
    no join back."""
    sig = simhash_chunks(docs, id_col=id_col, text_col=text_col)
    bc = sig.select("__id", "chunks", F.posexplode("chunks").alias("band", "chunk"))
    members = F.sort_array(
        F.collect_set(F.struct(F.col("__id").alias("id"), F.col("chunks").alias("chunks")))
    )
    cand = (
        bc.groupBy("band", "chunk")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(ordered_pairs(F.col("ms"))).alias("p"))
        .select(
            F.col("p.x.id").alias("a"),
            F.col("p.y.id").alias("b"),
            F.col("p.x.chunks").alias("ca"),
            F.col("p.y.chunks").alias("cb"),
        )
        .dropDuplicates(["a", "b"])
    )
    hamming = sum(
        [
            F.bit_count(F.col("ca").getItem(i).bitwiseXOR(F.col("cb").getItem(i)))
            for i in range(1, 4)
        ],
        F.bit_count(F.col("ca").getItem(0).bitwiseXOR(F.col("cb").getItem(0))),
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def hyperplane_component(seed: int, p: int, d: int) -> float:
    """Deterministic hyperplane component in [-1, 1): splitmix-style
    integer mix of (seed, plane, dim) → a dyadic rational k/32768.
    Shared by the Spark bucketing and the oracle-SQL builder so both
    engines project onto bit-identical planes."""
    x = (seed * 0x9E3779B97F4A7C15 + p * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & (
        (1 << 64) - 1
    )
    x ^= x >> 31
    x = (x * 0xD6E8FEB86659FD93) & ((1 << 64) - 1)
    x ^= x >> 27
    return ((x & 0xFFFF) / 32768.0) - 1.0


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """I5 scale path: sign-random-projection buckets. Hyperplane
    components are deterministic pseudo-randoms derived from
    (seed, plane, dim) via a splitmix-style integer mix
    (``hyperplane_component`` — driver-side; the components land in
    the plan as double literals), evaluated JVM-side — the whole
    bucketing is one narrow projection. The literals are dyadic
    rationals (k/32768), so their decimal repr round-trips exactly
    into any IEEE-754 engine — which is what lets an oracle SQL embed
    the identical planes."""
    bucket = lsh_bucket_expr(F.col(vec_col), n_planes=n_planes, dim=dim, seed=seed)
    return vectors.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_bucket_expr(vec: Column, *, n_planes: int, dim: int, seed: int) -> Column:
    """The sign-random-projection bucket id as a column expression —
    shared by the single-table path above and the multi-table
    ``ann_lsh_join`` (each table re-derives planes from seed+t)."""
    v = vec.cast("array<double>")
    bits = []
    for p in range(n_planes):
        plane = [hyperplane_component(seed, p, d) for d in range(dim)]
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(c) for c in plane]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << p))
    return sum(bits[1:], bits[0])


def ann_lsh_join(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    n_planes: int = 10,
    dim: int = 64,
    n_tables: int = 1,
    seed: int = 42,
    queries: DataFrame | None = None,
) -> DataFrame:
    """I5: approximate KNN self-join — brute-force cosine only within
    LSH buckets. Candidate count ≈ n²/2^planes per table, tunable to
    the cluster. With ``n_tables=1``: one shuffle — each vector
    hashes to exactly ONE bucket, a single groupBy collects bucket
    members and emits every directed in-bucket pair once (no
    self-join → the hyperplane projections are computed once, and no
    dedup pass is needed).

    ``n_tables>1`` is standard multi-table LSH — the recall knob: one
    table of many planes has per-true-neighbor hit probability
    cos_sim^planes-ish, which COLLAPSES on weakly-clustered data
    (measured 0.03 recall@3 with 8 planes × 1 table on the random
    fixture). L independent tables (planes re-derived from seed+t)
    union their candidates: hit probability 1-(1-p)^L, cost L bucket
    passes + one (a,b) dedup shuffle. Tables × planes trades recall
    against candidate count; recall is MONITORED, not assumed —
    llm_knn_recall + the pytest floor pins it ≥ 0.7."""
    from pyspark.sql import Window

    from .functions.vectors import cosine

    par = vectors.sparkSession.sparkContext.defaultParallelism
    v = F.col(vec_col).cast("array<double>")
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket_expr(v, n_planes=n_planes, dim=dim, seed=seed + t).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    b = (
        vectors.repartition(par, F.col(id_col))
        .select(F.col(id_col).alias("__id"), v.alias("__v"), F.explode(tables).alias("tb"))
        .select("__id", "__v", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    )
    if queries is not None:
        # monitoring path (llm_knn_recall): every vector participates
        # as a CANDIDATE, but only the sampled query ids anchor pairs.
        # Flag bucket members as queries BEFORE the bucket groupBy and
        # build directed pairs only FROM flagged members — the pair
        # explode shrinks by the sample rate (vs exploding |bucket|²
        # and semi-joining after, which materializes every in-bucket
        # pair with both 64-double vectors first; at fixture scale the
        # win is noise, at 100 TB it is the difference between the
        # monitor costing sample_rate·|bucket|² and |bucket|²).
        qf = queries.select(F.col("a").alias("__id"), F.lit(True).alias("__isq"))
        b = b.join(F.broadcast(qf), "__id", "left").withColumn(
            "__isq", F.coalesce("__isq", F.lit(False))
        )
    else:
        b = b.withColumn("__isq", F.lit(True))
    ms = F.col("ms")
    directed = F.flatten(
        F.transform(
            F.filter(ms, lambda x: x["isq"]),
            lambda x: F.transform(
                F.filter(ms, lambda y: y["id"] != x["id"]),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    pairs = (
        b.groupBy("t", "bucket")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("__id").alias("id"),
                    F.col("__v").alias("v"),
                    F.col("__isq").alias("isq"),
                )
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
        .select(F.explode(directed).alias("p"))
    )
    flat = pairs.select(
        F.col("p.x.id").alias("a"),
        F.col("p.y.id").alias("b"),
        F.col("p.x.v").alias("__av"),
        F.col("p.y.v").alias("__bv"),
    )
    if n_tables > 1:
        # the same pair can surface from several tables — dedup before
        # scoring so cosine is computed once per candidate
        flat = flat.dropDuplicates(["a", "b"])
    scored = flat.select(
        "a",
        "b",
        F.round(cosine(F.col("__av"), F.col("__bv")), 4).alias("score"),
    )
    w = Window.partitionBy("a").orderBy(F.col("score").desc(), F.col("b").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: Edge count up to which `connected_components` finishes on the
#: driver. Why 100,000: on a 4-core local[4] host, a 100,000-edge graph
#: of 3-node clusters took 0.9 s through the local finish (bounded
#: collect, Python union-find, driver-built relation; tens of MB of
#: driver memory) against 3.9-4.2 s through either distributed loop
#: (~30 Spark jobs: about ten per round, whatever the graph size).
#: The driver's share grows linearly past that (the union-find pass
#: alone takes 1.7 s at 1,000,000 edges) while the distributed rounds
#: spread over executors, so above the bound the distributed loop is
#: the only path.
CC_LOCAL_MAX_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    *,
    max_iter: int = 25,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over an undirected edge list → (node,
    component) with component = min node id in the component. The
    final stage of every dedup pipeline: pairwise near-dup matches
    become duplicate CLUSTERS, from which one canonical doc per
    cluster survives. Nodes keep the input's id type.

    Local finish: the edge list is checkpointed once and read back
    with ONE bounded collect (``limit(CC_LOCAL_MAX_EDGES + 1)``). With
    at most CC_LOCAL_MAX_EDGES edges (B = 100,000; the measured reason
    sits beside the constant) the components are finished on the
    driver — union-find with min-id roots, returned through
    ``createDataFrame`` — so the whole call costs two Spark jobs
    instead of about ten per distributed round. ``algorithm`` then
    does not matter: both algorithms define the same output. A null
    id connects nothing (it labels itself null), as in ``two_star``.

    Above B the checkpointed edges run one of two interchangeable
    distributed algorithms (identical output, property-tested equal
    on seeded random + path graphs, and equal to the local finish):

    - ``label_prop`` (default): distributed min-label propagation —
      each round every node takes the min label among itself and its
      neighbors (one shuffle per round: an edge⋈label join + a
      groupBy-min, both map-side-combinable). Converges in O(graph
      diameter) rounds; dup clusters are near-cliques (diameter
      ≤ ~3), so 3-4 rounds in practice.
    - ``two_star``: the alternating large-star/small-star algorithm
      of Kiveris et al., "Connected Components in MapReduce and
      Beyond" (SoCC'14) — O(log² n) rounds regardless of diameter,
      the 100 TB choice for adversarial long-path graphs (chained
      near-dups, web graphs). Same per-round shuffle shape
      (groupBy-min + join), same output contract.

    ``max_iter`` is a runaway bound; convergence is checked with a
    cheap probe per round. Each round's result is localCheckpoint'ed:
    iterative plans otherwise grow lineage exponentially and
    re-execute every prior round.
    """
    if algorithm not in ("label_prop", "two_star"):
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    head = pairs.limit(CC_LOCAL_MAX_EDGES + 1).toArrow()
    if head.num_rows <= CC_LOCAL_MAX_EDGES:
        id_type = pairs.select("u").union(pairs.select("v")).schema[0].dataType
        return _cc_local(pairs.sparkSession, head, id_type)
    if algorithm == "two_star":
        return _cc_two_star(pairs, "u", "v", max_iter=max_iter)
    sym = pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "label")
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        new_labels = (
            labels.unionByName(nbr_min)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def _cc_local(spark, pairs, id_type) -> DataFrame:
    """Driver finish of `connected_components` over a collected (u, v)
    pyarrow Table, output ids typed ``id_type``: union-find whose root is always its set's min id (the
    smaller root wins every union), so find(x) IS the component label;
    path compression keeps the pass near-linear."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pairs.column("u").to_pylist(), pairs.column("v").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    at = to_arrow_type(id_type)
    table = pa.table(
        {"node": pa.array(nodes, at), "component": pa.array([find(n) for n in nodes], at)}
    )
    schema = StructType([StructField("node", id_type), StructField("component", id_type)])
    return spark.createDataFrame(table, schema)


def _cc_two_star(
    edges: DataFrame, src: str = "a", dst: str = "b", *, max_iter: int = 25
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., SoCC'14). Converges in O(log² n) rounds
    independent of graph diameter, vs O(diameter) for label
    propagation — the difference between 3 rounds and 10⁶ rounds on a
    path graph.

    Per round, on the current edge set E (kept oriented big→small, so
    every edge (u, v) has u > v):

    - **large-star**: for every node u with symmetric neighborhood
      Γ(u) and m = min(Γ(u) ∪ {u}), emit (v, m) for each v ∈ Γ(u)
      with v > u. Implemented as a groupBy-min (map-side-combinable)
      joined back to the edge list — no neighborhood is ever
      materialized as an array, so high-degree hubs cost a balanced
      shuffle, not a hot task.
    - **small-star**: on the big→small orientation, for every u with
      m = min of its out-neighbors, emit (u, m) and (v, m) for the
      other out-neighbors v. Same groupBy-min + join shape.

    Terminates when a full round leaves the edge set unchanged — at
    that point E is a star forest: every non-root node points
    directly at its component min. Roots appear only as targets, so
    labels come from a left join of the original node set against the
    star edges, with root/isolated-by-self-loop nodes labelling
    themselves."""
    sym0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        sym0.select("u")
        .union(sym0.select(F.col("v").alias("u")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical big→small orientation; self-loops carry no connectivity
    cur = (
        sym0.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    for _ in range(max_iter):
        # large-star over the symmetric view
        s = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            s.groupBy("u").agg(F.min("v").alias("mv")).select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            s.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the big→small orientation (large's output
        # already satisfies u > v: emitted v > u ≥ m)
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = small.count()
        changed = (
            n_new != n_cur
            or small.exceptAll(cur).limit(1).count() > 0
        )
        cur, n_cur = small, n_new
        if not changed:
            break
    star = cur.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
    return (
        nodes.withColumnRenamed("u", "node")
        .join(star, "node", "left")
        .select("node", F.coalesce("lbl", "node").alias("component"))
    )


def pack_bins_ffd(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
) -> DataFrame:
    """True bin packing per group via first-fit-decreasing — the
    sequential counterpart of offset-based sequence packing
    (`llm_pack_sequences`): no doc straddles a boundary and bins stay
    under budget (a doc longer than the budget gets a bin alone).

    FFD is inherently sequential WITHIN a group, so it runs as an
    ``applyInPandas`` grouped map: Spark distributes groups across
    executors (one shuffle on the group key) and the Python loop only
    ever sees one group's docs — the parallelism unit at 100 TB is
    the (lang, date-bucket, shard) group, kept small enough that a
    group's doc list fits one task. Deterministic: docs are ordered
    by (tokens desc, id) before placement, so the assignment is a
    pure function of the group's contents."""

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        order = sorted(
            zip(pdf[tokens_col].tolist(), pdf[id_col].tolist()), key=lambda t: (-t[0], t[1])
        )
        remaining: list[int] = []
        assigned: dict[int, int] = {}
        for tokens, doc in order:
            for i, cap in enumerate(remaining):
                if tokens <= cap:
                    remaining[i] = cap - tokens
                    assigned[doc] = i
                    break
            else:
                remaining.append(budget - tokens)
                assigned[doc] = len(remaining) - 1
        out = pdf[[id_col, group_col, tokens_col]].copy()
        out["bin_id"] = out[id_col].map(assigned)
        return out

    schema = f"{id_col} long, {group_col} string, {tokens_col} long, bin_id long"
    return docs.select(id_col, group_col, tokens_col).groupBy(group_col).applyInPandas(ffd, schema)


def _kmeans_update_backend(default: str = "explode") -> str:
    """SPARK_GRAFT_KMEANS_UPDATE override for the centroid-update
    formulation; one knob so the sweep can A/B either trainer.
    "explode" is the default EVERYWHERE — the r16 interleaved A/B
    measured the explode-free `_mean_update_dims` ~60% SLOWER on the
    sampled trainer (64 variable-length decimal(38,12) agg buffers
    lose to the single-buffer (cid, dim) hash agg; see
    OPTIMIZATION_r16.md item 2) — a measured negative result kept
    behind the env switch with its parity gate."""
    import os

    return os.environ.get("SPARK_GRAFT_KMEANS_UPDATE") or default


def _mean_update_explode(assign: DataFrame, vec_col: str = "__v") -> DataFrame:
    """The original (cid, dim) posexplode decimal-mean update — the
    SQL-oracle-replayable reference formulation and the committed
    fixture-plan shape; `_mean_update_dims` is the explode-free
    equivalent (bit-identical, see its docstring)."""
    return (
        assign.select("cid", F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )


def _mean_update_dims(assign: DataFrame, d: int, vec_col: str = "__v") -> DataFrame:
    """(cid, cv) decimal-mean centroid update WITHOUT the (cid, dim)
    row explode: ONE groupBy(cid) carrying d per-dimension
    `sum(decimal(28,12))` aggregates plus the count, then
    round(sum/count, 6) assembled back into the array — guide §2.3
    "aggregate before you shuffle": the hash aggregate partial-
    aggregates map-side over n input rows instead of materializing
    n·d (cid, dim, val) rows through posexplode. Bit-identical to the
    explode formulation by construction: the same decimal sums
    (order-independent), the same count, the same round-6 division,
    the same dim order — pinned by the parity gate in
    tests/test_round16_ops.py. Out-of-contract inputs (ragged or
    empty vectors) diverge: posexplode drops what element_at nulls;
    both trainers require fixed-dim embeddings."""
    sums = [
        F.sum(F.element_at(F.col(vec_col), i + 1).cast("decimal(28,12)")).alias(
            f"__s{i}"
        )
        for i in range(d)
    ]
    return (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("__n"), *sums)
        .select(
            "cid",
            F.array(
                *[
                    F.round(F.col(f"__s{i}").cast("double") / F.col("__n"), 6)
                    for i in range(d)
                ]
            ).alias("cv"),
        )
    )


def kmeans_lloyd(
    vectors: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    update: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an embedding column, cross-engine
    deterministic — the training step for the IVF coarse quantizer
    (functions.vectors), replacing smallest-id placeholder centroids
    with real ones. Returns (assignments, centroids) after ``iters``
    rounds.

    Assignment metric is COSINE (argmax), not squared-L2: the IVF
    index this trains for assigns and probes by cosine
    (functions.vectors), and a quantizer trained under a different
    metric than it serves partitions the data it was not optimized
    for. Centroid update stays the arithmetic mean (cosine k-means).

    Determinism contract (the reason an SQL oracle can replay this
    exactly): (1) init = the k smallest-id vectors; (2) similarities
    are LEFT FOLDS in array order of IEEE double ops (Spark
    F.aggregate == DuckDB list_reduce), bit-identical across
    engines; (3) argmax ties break on cid; (4) centroid updates go
    through decimal sums (order-independent) divided by the count,
    rounded to 6 — so FP-addition order, which differs between
    engines and between cluster sizes, never leaks into the result.

    Scale: per iteration ONE broadcast of k centroids into a corpus
    scan (assignment is narrow), one (cid, dim)-key aggregation for
    the update — the k-means|| shape minus the sampling pass. The
    loop is driver-side over ITERS, not data; each round's plan is
    independent (no lineage growth worth checkpointing at 3 rounds).

    ``update`` picks the centroid-update formulation: "explode" (the
    committed fixture-plan shape, posexplode → (cid, dim) agg) or
    "dims" (`_mean_update_dims` — same decimal sums, no row explode;
    bit-identical output, see its docstring). Default from env
    SPARK_GRAFT_KMEANS_UPDATE, falling back to "explode"."""
    from pyspark.sql import Window

    upd = update or _kmeans_update_backend()
    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    d_dims = len(v.select("__v").head()[0]) if upd == "dims" else 0
    rnd6 = lambda c: F.transform(c, lambda x: F.round(x, 6))  # noqa: E731
    cents = (
        v.orderBy("__id")
        .limit(k)
        .select(F.col("__id").cast("int").alias("cid"), rnd6(F.col("__v")).alias("cv"))
    )
    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    assign = None
    for _ in range(iters):
        d = v.crossJoin(F.broadcast(cents))
        cos = fold_sum(F.zip_with("__v", "cv", lambda x, y: x * y)) / (
            F.sqrt(fold_sum(F.transform("__v", lambda x: x * x)))
            * F.sqrt(fold_sum(F.transform("cv", lambda x: x * x)))
        )
        w = Window.partitionBy("__id").orderBy(F.col("__cos").desc(), F.col("cid").asc())
        assign = (
            d.select("__id", "__v", "cid", cos.alias("__cos"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("__id", "__v", "cid")
        )
        new_cents = (
            _mean_update_dims(assign, d_dims)
            if upd == "dims"
            else _mean_update_explode(assign)
        )
        # a cid with zero assigned vectors vanishes from the mean agg;
        # carry its previous centroid forward so the centroid set
        # stays exactly k rows (an index built from it — ivf_write_-
        # index — would otherwise silently write fewer partitions than
        # n_probe cost assumptions expect). No-op when every cluster
        # is populated, which is also the path the SQL oracle replays.
        cents = (
            cents.select("cid", F.col("cv").alias("__prev_cv"))
            .join(new_cents, "cid", "left")
            .select("cid", F.coalesce("cv", "__prev_cv").alias("cv"))
        )
    return assign, cents


# --------------------------------------------------------------- sampled k-means

#: k at or below which `kmeans_sampled` runs the EXACT Lloyd trainer.
#: Every oracle fixture gate (k = 8 at the driver fixtures, k = 9 at
#: the constructed >2048-vector parity gates) sits far under it, so
#: the SQL-replayable path — and every committed plan/oracle — is
#: bit-identical to the pre-r15 behavior; the sampled path is the
#: at-scale branch, pytest-gated on recall rather than value-oracled.
KMEANS_EXACT_MAX_K = 32
#: Fine-training sample = 1 / KMEANS_SAMPLE_BUCKETS of the corpus by
#: md5 bucket. At the k = ⌈n/256⌉ geometry this is EXACTLY 32 sampled
#: vectors per centroid (256 / 8) — the fixed per-centroid training
#: budget (FAISS trains IVF quantizers the same way: a bounded
#: points-per-centroid subsample, not the corpus).
KMEANS_SAMPLE_BUCKETS = 8
#: Coarse-quantizer training set: 256 vectors per coarse centroid,
#: md5-order-deterministic. Coarse Lloyd cost is then
#: 256·k_c² ≈ 256·k ≈ n per round — linear in the corpus.
KMEANS_COARSE_PER_CENTROID = 256
#: Coarse cells probed when the coarse quantizer accelerates an
#: argmax/top-probe pass (training rounds AND the downstream corpus
#: assignment). 2 is the same Voronoi-boundary mitigation as the fine
#: 2-probe rung; the r15 recall gate measures the combined effect.
KMEANS_COARSE_PROBE = 2
#: r16 tree quantizer: when the coarse-cell count k_c = ⌈√k⌉ exceeds
#: this branch factor, `kmeans_sampled` stacks further quantizer
#: levels ABOVE the cells (each ⌈prev/branch⌉ nodes, built by exact
#: Lloyd over the previous level's centroids — cheap: level sizes are
#: k_c, k_c/256, ...) and the ranking pass descends the tree instead
#: of scoring all k_c cells, so per-vector coarse work is
#: O(branch·beam·depth) = O(log k) blocks of bounded size instead of
#: √k. Engages at k > TREE_BRANCH² = 65,536 (n ≳ 16.7M vectors at the
#: ⌈n/256⌉ geometry) — every committed octave through 1024× keeps the
#: single-level flat-IVF path bit-identical. Env override
#: SPARK_GRAFT_TREE_BRANCH lets the sweep force a small branch to
#: measure a deep tree at an affordable octave.
TREE_BRANCH = 256
#: Beam width at the tree's upper levels (top-`beam` nodes expanded
#: per level; the LAST level still takes `coarse_probe` cells). The
#: multi-probe analog of the probe ladder one level up: beam 4 keeps
#: a cell reachable when its parent is not the vector's nearest
#: upper node. Env override SPARK_GRAFT_TREE_BEAM.
TREE_BEAM = 4
#: Byte ceiling for broadcasting the FINE centroid block into the
#: Arrow rank kernel (k·d·8 bytes — the r15-documented cliff at
#: k ≈ 10⁵). Past it the fine leg leaves the broadcast: the kernel
#: emits (id, vec, cell) descent rows and the fine ranking becomes a
#: cell-cogrouped Arrow stage (per-task block = one cell's ~256
#: centroids, O(branch·d) regardless of k). Env override
#: SPARK_GRAFT_RANK_BCAST_MAX (bytes; tests force it tiny to parity-
#: gate the cogroup leg against the broadcast leg).
RANK_BCAST_MAX_BYTES = 256 << 20


def _tree_branch() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_TREE_BRANCH", TREE_BRANCH))


def _tree_beam() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_TREE_BEAM", TREE_BEAM))


def _rank_bcast_max() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_RANK_BCAST_MAX", RANK_BCAST_MAX_BYTES))


#: Spark Broadcast handles created by `coarse_rank_centroids_arrow`,
#: tracked so iterative callers (the Lloyd loop in `kmeans_sampled`)
#: can unpersist a round's centroid blocks once the round's action has
#: materialized, instead of accumulating one ~MB block per iteration
#: for the life of the session (r15 ADVICE item 2). `unpersist` (not
#: `destroy`): a lazily re-executed consumer can still re-fetch from
#: the driver copy, so releasing early is safe.
_LIVE_RANK_BCASTS: list = []


def release_rank_broadcasts() -> None:
    """Unpersist every tracked rank-kernel broadcast (executor copies
    only; the driver copy survives, so lazy re-execution re-ships)."""
    while _LIVE_RANK_BCASTS:
        b = _LIVE_RANK_BCASTS.pop()
        try:
            b.unpersist()
        except Exception:
            pass


def _coarse_k_for(k: int) -> int:
    """⌈√k⌉ coarse cells — the flat-IVF optimum: per-vector assignment
    work k_c + p·k/k_c is minimized (≈ 2√k) when k_c = √k, which is
    what turns the exact trainer's measured α 1.88 (n·k = n²/256) into
    the n·√k assignment envelope (α 1.25 asymptotic; the remaining gap
    to α 1.0 needs a log-depth tree quantizer — see SCALE.md r15)."""
    import math

    # ⌈√k⌉ == isqrt(k−1) + 1 for every k ≥ 1
    return max(2, math.isqrt(max(k - 1, 1)) + 1)


def rank_centroids(
    vectors: DataFrame,
    cents: DataFrame,
    probe: int,
    *,
    id_col: str = "__id",
    vec_col: str = "__v",
) -> DataFrame:
    """(id, cid, __rn) — each vector's ``probe`` nearest centroids by
    cosine (ties on cid asc), the shared brute-force ranking pass of
    `kmeans_lloyd` / `_centroid2_pairs` / the chooser, factored out so
    the coarse-accelerated variant (`coarse_rank_centroids`) is a
    drop-in. One broadcast of cents into the corpus scan, one window
    keyed on the vector id."""
    from pyspark.sql import Window

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    d = vectors.crossJoin(F.broadcast(cents))
    cos = fold_sum(F.zip_with(vec_col, "cv", lambda x, y: x * y)) / (
        F.sqrt(fold_sum(F.transform(vec_col, lambda x: x * x)))
        * F.sqrt(fold_sum(F.transform("cv", lambda x: x * x)))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cos").desc(), F.col("cid").asc())
    return (
        d.select(id_col, vec_col, "cid", cos.alias("__cos"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= probe)
        .select(id_col, vec_col, "cid", "__rn")
    )


#: Backend for the coarse-accelerated centroid ranking pass. The r15
#: shape sweep measured the per-row expression fold chains (zip_with +
#: aggregate per candidate row) as the assignment kernel's binding
#: constant factor — SCALE.md's "real at-scale requirement (1)": the
#: pass must be a batched matrix product, not per-row lambda chains.
#: "arrow" (default) runs `coarse_rank_centroids_arrow` (one
#: mapInArrow stage, NumPy tile matmuls against broadcast centroid
#: blocks); "expr" keeps the pure-relational path (the SQL-replayable
#: reference the parity gate compares against). Env override:
#: SPARK_GRAFT_RANK_BACKEND. Only the k > KMEANS_EXACT_MAX_K sampled
#: branch ever reaches this code — no registered fixture query's plan
#: or output is affected by the switch.
def _rank_backend() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_RANK_BACKEND", "arrow")


def _np_vectors(vec, n: int, d: int):
    """float64 (n, d) matrix from an Arrow ListArray of embeddings.
    Zero-copy reshape fast path ONLY when the offsets prove the values
    buffer is exactly the n·d contiguous doubles in row order
    (offs[0] == 0 and every list length == d) — `ListArray.values`
    ignores slice offsets, so the r15 guard (`offs[-1] == n·d` alone)
    could silently scramble a sliced batch (ADVICE r15 item 1)."""
    import numpy as np

    offs = np.asarray(vec.offsets)
    if offs[0] == 0 and offs.size == n + 1 and np.all(np.diff(offs) == d):
        flat = np.asarray(vec.values, dtype=np.float64)
        return flat[: n * d].reshape(n, d)
    return np.array(vec.to_pylist(), dtype=np.float64)


def _unit_rows(vecs: list):
    """Row-normalized float64 (n, d) matrix of collected centroid
    vectors. No rows (a corpus whose training sample is empty) gives a
    (0, 0) matrix, so the norm and the scoring matmuls still apply."""
    import numpy as np

    mat = np.array(vecs, dtype=np.float64)
    if not vecs:
        mat = mat.reshape(0, 0)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _collect_levels(levels_df: list[DataFrame]):
    """Collect quantizer levels (root → cells) to NumPy blocks:
    [(ids, unit_mat, parent_pos)], parent_pos indexing the PREVIOUS
    level's row order (None at the root). Bounded collects — level
    sizes are ≤ branch, ≤ branch², …, k_c (the fine block is NOT
    here), the same bytes the expression path's BroadcastExchange
    would move."""
    import numpy as np

    lvls = []
    prev_pos: dict | None = None
    for li, ldf in enumerate(levels_df):
        rows = sorted(ldf.collect(), key=lambda r: r["cid"])
        ids = np.array([r["cid"] for r in rows], dtype=np.int64)
        mat = _unit_rows([list(r["cv"]) for r in rows])
        parent = (
            None
            if li == 0
            else np.array([prev_pos[int(r["parent"])] for r in rows], dtype=np.int64)
        )
        prev_pos = {int(c): i for i, c in enumerate(ids)}
        lvls.append((ids, mat, parent))
    return lvls


def _descend(vn, lvls, beam_w: int, cprobe: int):
    """Tree descent for one normalized batch: beam-search the levels
    (top-`beam_w` nodes per upper level, top-`cprobe` at the cell
    level), scoring at each level only the children of the beam —
    per-row work O(levels · beam · branch) instead of k_c. Returns an
    (n, ≤cprobe) array of BOTTOM-level cell ids, −1-padded where a
    beam dead-ends. With a single level this is exactly the flat-IVF
    coarse tile: score all cells, stable-argsort top-cprobe (ids are
    cid-ascending, so stable argsort == ties on cid asc)."""
    import numpy as np

    beam = None
    for li, (ids, mat, parent) in enumerate(lvls):
        width = cprobe if li == len(lvls) - 1 else beam_w
        if beam is None:
            take = min(width, mat.shape[0])
            beam = np.argsort(-(vn @ mat.T), axis=1, kind="stable")[:, :take]
            if take < width:
                beam = np.pad(beam, ((0, 0), (0, width - take)), constant_values=-1)
        else:
            n = vn.shape[0]
            nb = np.full((n, width), -1, dtype=np.int64)
            combos, inv = np.unique(np.sort(beam, axis=1), axis=0, return_inverse=True)
            inv = inv.ravel()
            for gi in range(len(combos)):
                combo = combos[gi]
                combo = combo[combo >= 0]
                if combo.size == 0:
                    continue
                rows = np.flatnonzero(inv == gi)
                cand = np.flatnonzero(np.isin(parent, combo))
                if cand.size == 0:
                    continue
                s = vn[rows] @ mat[cand].T
                take = min(width, cand.size)
                rk = np.argsort(-s, axis=1, kind="stable")[:, :take]
                nb[rows[:, None], np.arange(take)[None, :]] = cand[rk]
            beam = nb
    ids_bottom = lvls[-1][0]
    return np.where(beam >= 0, ids_bottom[np.clip(beam, 0, None)], np.int64(-1))


def descend_cells(
    vectors: DataFrame,
    levels_df: list[DataFrame],
    cprobe: int,
    *,
    id_col: str = "__id",
    vec_col: str = "__v",
    beam_w: int | None = None,
) -> DataFrame:
    """(id, vec, cell) — each vector's top-`cprobe` quantizer cells
    via the Arrow tree-descent kernel, WITHOUT the fine block: the
    broadcast is the quantizer levels only (≤ k_c·d doubles — ~5 MB
    even at k = 10⁸/k_c = 10⁴), so this stage has no k-proportional
    memory. The fine ranking attaches afterwards (broadcast when the
    fine block fits, cell-cogrouped Arrow stage when it does not),
    and `kmeans_sampled.cells_of` uses it at probe 1 to place fine
    centroids into cells without the k·k_c brute-force rank."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    lvls = _collect_levels(levels_df)
    bw = _tree_beam() if beam_w is None else beam_w
    sc = vectors.sparkSession.sparkContext
    blocks = sc.broadcast((lvls, int(cprobe), int(bw)))
    _LIVE_RANK_BCASTS.append(blocks)

    in_fields = {f.name: f for f in vectors.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            in_fields[vec_col],
            T.StructField("cell", T.LongType(), False),
        ]
    )

    def kernel(batches):
        lvls, cprobe, bw = blocks.value
        d = lvls[0][1].shape[1]
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vec = b.column(1)
            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            vs = _np_vectors(vec, n, d)
            vn = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            cells = _descend(vn, lvls, bw, cprobe)
            rows, cols = np.nonzero(cells >= 0)
            if rows.size == 0:
                continue
            yield pa.record_batch(
                [
                    b.column(0).take(pa.array(rows)),
                    vec.take(pa.array(rows)),
                    pa.array(cells[rows, cols], type=pa.int64()),
                ],
                names=[id_col, vec_col, "cell"],
            )

    return vectors.select(id_col, vec_col).mapInArrow(kernel, out_schema)


def _rank_fine_cogrouped(
    vectors: DataFrame,
    cents: DataFrame,
    coarse: tuple,
    probe: int,
    *,
    id_col: str,
    vec_col: str,
    coarse_probe: int,
) -> DataFrame:
    """The Arrow rank kernel PAST the fine-block broadcast ceiling
    (guide §3.1/§5: a build side that no longer fits a broadcast must
    become a shuffle join): descend to cells with the levels-only
    kernel, then score fine candidates in a CELL-COGROUPED Arrow
    stage — vectors exploded to their probed cells are cogrouped with
    the (cell, cid, cv) fine relation, so the per-task block is ONE
    cell's ~256 centroids (O(branch·d) regardless of k) and the fine
    centroids arrive as shuffled rows, never as a broadcast. Each
    cell group emits its LOCAL top-`probe` (sufficient: the global
    top-probe of a union is a subset of the per-cell top-probes), and
    one window keyed on the vector id takes the global top-probe with
    the same (score desc, cid asc) tie contract as the kernel's
    stable argsort. Same (id, cid, __rn) rows as the broadcast leg —
    pinned by the forced-tiny-ceiling parity gate in
    tests/test_round16_ops.py."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql import types as T

    coarse_cents, fine_cells = coarse
    levels_df = (
        list(coarse_cents)
        if isinstance(coarse_cents, (list, tuple))
        else [coarse_cents]
    )
    hits = descend_cells(
        vectors, levels_df, coarse_probe, id_col=id_col, vec_col=vec_col
    )
    fine = cents.join(fine_cells, "cid").select(
        F.col("cell").cast("long").alias("cell"), "cid", "cv"
    )

    in_fields = {f.name: f for f in vectors.schema.fields}
    cid_t = cents.schema["cid"].dataType
    out_schema = T.StructType(
        [
            in_fields[id_col],
            in_fields[vec_col],
            T.StructField("cid", cid_t, True),
            T.StructField("__s", T.DoubleType(), False),
        ]
    )
    fprobe = int(probe)
    cid_pa = pa.int32() if isinstance(cid_t, T.IntegerType) else pa.int64()

    def score(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if left.num_rows == 0 or right.num_rows == 0:
            return pa.table(
                {
                    id_col: pa.array([], type=left.schema.field(id_col).type),
                    vec_col: pa.array([], type=left.schema.field(vec_col).type),
                    "cid": pa.array([], type=cid_pa),
                    "__s": pa.array([], type=pa.float64()),
                }
            )
        n = left.num_rows
        vec = left.column(vec_col).combine_chunks()
        cids = np.asarray(right.column("cid").combine_chunks(), dtype=np.int64)
        order = np.argsort(cids, kind="stable")  # cid-asc: tie contract
        fmat = np.array(right.column("cv").to_pylist(), dtype=np.float64)[order]
        fmat /= np.linalg.norm(fmat, axis=1, keepdims=True)
        cids = cids[order]
        vs = _np_vectors(vec, n, fmat.shape[1])
        vn = vs / np.linalg.norm(vs, axis=1, keepdims=True)
        s = vn @ fmat.T
        take = min(fprobe, fmat.shape[0])
        rk = np.argsort(-s, axis=1, kind="stable")[:, :take]
        rows = np.repeat(np.arange(n), take)
        cols = rk.ravel()
        return pa.table(
            {
                id_col: left.column(id_col).combine_chunks().take(pa.array(rows)),
                vec_col: vec.take(pa.array(rows)),
                "cid": pa.array(cids[cols], type=cid_pa),
                "__s": pa.array(s[rows, cols], type=pa.float64()),
            }
        )

    scored = (
        hits.groupBy("cell")
        .cogroup(fine.groupBy("cell"))
        .applyInArrow(score, out_schema)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__s").desc(), F.col("cid").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= probe)
        .select(id_col, vec_col, "cid", "__rn")
    )


def coarse_rank_centroids_arrow(
    vectors: DataFrame,
    cents: DataFrame,
    coarse: tuple[DataFrame, DataFrame],
    probe: int,
    *,
    id_col: str = "__id",
    vec_col: str = "__v",
    coarse_probe: int = KMEANS_COARSE_PROBE,
) -> DataFrame:
    """`coarse_rank_centroids` as ONE Arrow-batched NumPy kernel —
    identical contract ((id, vec, cid, __rn ≤ probe), cosine scores,
    ties on cid asc, a vector whose probed cells hold no fine centroid
    yields no rows), different execution: instead of materializing
    n·(k_c + 2√k) candidate ROWS and folding a lambda chain per row,
    each Arrow batch of vectors is normalized once and pushed through
    two tile matmuls (batch × coarse cells, then per-cell-combo batch
    slices × their fine-centroid blocks). guide §4.2/§4.5: vectorized
    native code inside the Python stage, centroid blocks constructed
    once per task via a Spark broadcast variable.

    The centroid relations are collected to the driver first — a
    BOUNDED k-row collect (k = ⌈n/256⌉ capped by the broadcast
    contract, ~1 MB at the 256× sweep), the exact bytes the expression
    path moves through its BroadcastExchange; same class as the
    chooser's memoized 1-row decision collect, not a corpus collect.
    Past k ≈ 10⁵ the fine block outgrows a broadcast and this kernel's
    per-cell blocks become a shuffle join on cell (unchanged envelope
    — see `coarse_rank_centroids`' contract note).

    Determinism: NumPy float64 dot products instead of the expression
    path's left-fold IEEE chains — equal inputs rank identically
    (stable argsort over cid-ascending blocks reproduces the tie
    contract), but scores can differ in the last ulp, so an
    infinitesimally-near tie may flip between backends. The sampled
    branch is recall-gated, not value-oracled, precisely so backend
    choice is free; the parity pytest pins row-identical output on the
    planted-clone fixture. Zero-norm vectors are out of contract on
    both paths (NaN scores; the engines order NaN differently)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    coarse_cents, fine_cells = coarse
    levels_df = (
        list(coarse_cents)
        if isinstance(coarse_cents, (list, tuple))
        else [coarse_cents]
    )

    lvls = _collect_levels(levels_df)
    d = lvls[0][1].shape[1]
    if cents.count() * d * 8 > _rank_bcast_max():
        return _rank_fine_cogrouped(
            vectors,
            cents,
            (levels_df, fine_cells),
            probe,
            id_col=id_col,
            vec_col=vec_col,
            coarse_probe=coarse_probe,
        )

    cell_of = {r["cid"]: r["cell"] for r in fine_cells.collect()}
    # match the expression path's inner-join semantics: a centroid
    # with no fine_cells row is unreachable, not a driver KeyError
    # (ADVICE r15 item 3)
    fr = sorted(
        (r for r in cents.collect() if int(r["cid"]) in cell_of),
        key=lambda r: r["cid"],
    )  # cid-asc: stable
    f_ids = np.array([r["cid"] for r in fr], dtype=np.int64)
    fmat = _unit_rows([list(r["cv"]) for r in fr])
    f_cell = np.array([cell_of[int(i)] for i in f_ids], dtype=np.int64)

    sc = vectors.sparkSession.sparkContext
    blocks = sc.broadcast(
        (lvls, f_ids, fmat, f_cell, int(coarse_probe), int(probe), _tree_beam())
    )
    _LIVE_RANK_BCASTS.append(blocks)

    in_fields = {f.name: f for f in vectors.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            in_fields[vec_col],
            T.StructField("cid", cents.schema["cid"].dataType, True),
            T.StructField("__rn", T.IntegerType(), False),
        ]
    )
    cid_pa = (
        pa.int32()
        if isinstance(cents.schema["cid"].dataType, T.IntegerType)
        else pa.int64()
    )

    def kernel(batches):
        lvls, f_ids, fmat, f_cell, cprobe, fprobe, beam_w = blocks.value
        d = lvls[0][1].shape[1]
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vec = b.column(1)
            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            vs = _np_vectors(vec, n, d)
            vn = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            # coarse leg: single level = the flat tile (score all
            # cells, top-cprobe); multi level = beam descent
            cells = _descend(vn, lvls, beam_w, cprobe)
            out_row, out_cid, out_rn = [], [], []
            combos, inv = np.unique(np.sort(cells, axis=1), axis=0, return_inverse=True)
            inv = inv.ravel()  # numpy >= 2.1 returns (n, 1) for axis=0
            for gi in range(len(combos)):
                rows = np.flatnonzero(inv == gi)
                combo = combos[gi]
                cand = np.flatnonzero(np.isin(f_cell, combo[combo >= 0]))
                if cand.size == 0:
                    continue
                s = vn[rows] @ fmat[cand].T
                take = min(int(fprobe), cand.size)
                # cand is cid-ascending (fr sorted), so stable sort
                # reproduces the tie contract
                rk = np.argsort(-s, axis=1, kind="stable")[:, :take]
                out_row.append(np.repeat(rows, take))
                out_cid.append(f_ids[cand][rk].ravel())
                out_rn.append(np.tile(np.arange(1, take + 1), len(rows)))
            if not out_row:
                continue
            rows = np.concatenate(out_row)
            yield pa.record_batch(
                [
                    b.column(0).take(pa.array(rows)),
                    vec.take(pa.array(rows)),
                    pa.array(np.concatenate(out_cid), type=cid_pa),
                    pa.array(np.concatenate(out_rn), type=pa.int32()),
                ],
                names=[id_col, vec_col, "cid", "__rn"],
            )

    return vectors.select(id_col, vec_col).mapInArrow(kernel, out_schema)


def coarse_rank_centroids(
    vectors: DataFrame,
    cents: DataFrame,
    coarse: tuple[DataFrame, DataFrame],
    probe: int,
    *,
    id_col: str = "__id",
    vec_col: str = "__v",
    coarse_probe: int = KMEANS_COARSE_PROBE,
) -> DataFrame:
    """Coarse-quantizer-accelerated `rank_centroids`: rank the k_c≈√k
    COARSE cells brute-force (n·√k), then rank only the fine centroids
    living in the vector's top-``coarse_probe`` cells (n·p·k/√k ≈
    n·p·√k) — the flat-IVF assignment envelope, replacing the exact
    n·k argmax that measured α 1.88 at the k = ⌈n/256⌉ geometry.
    APPROXIMATE by design: a fine centroid outside the probed coarse
    cells is invisible to that vector (the r15 recall gate + shape
    sweep measure the cost); a vector whose probed cells hold no fine
    centroid yields no rows, exactly like an empty LSH bucket.

    Plan shape: two broadcasts (coarse cells, then the cell-tagged
    fine centroids) and ONE exchange — the second window reuses the
    vec-id hash partitioning the first window installed, so the
    accelerated pass shuffles n·k_c thin rows instead of ranking n·k.
    At 100 TB-scale k (k ≳ 10⁵) the fine side outgrows a broadcast and
    becomes a shuffle join on cell — same per-cell-bounded mass.

    r15 (optimization round): dispatches to the Arrow tile kernel
    (`coarse_rank_centroids_arrow`, SPARK_GRAFT_RANK_BACKEND=arrow,
    the default) — same contract, matrix-product execution; this
    expression path remains the SQL-replayable reference backend
    (SPARK_GRAFT_RANK_BACKEND=expr) and the parity-gate baseline."""
    from pyspark.sql import Window

    if _rank_backend() == "arrow":
        return coarse_rank_centroids_arrow(
            vectors,
            cents,
            coarse,
            probe,
            id_col=id_col,
            vec_col=vec_col,
            coarse_probe=coarse_probe,
        )

    coarse_cents, fine_cells = coarse
    levels_df = (
        list(coarse_cents)
        if isinstance(coarse_cents, (list, tuple))
        else [coarse_cents]
    )

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    beam = _tree_beam()
    cur = rank_centroids(
        vectors,
        levels_df[0],
        coarse_probe if len(levels_df) == 1 else beam,
        id_col=id_col,
        vec_col=vec_col,
    ).select(id_col, vec_col, "cid")
    for li, lvl in enumerate(levels_df[1:], start=1):
        width = coarse_probe if li == len(levels_df) - 1 else beam
        cand = cur.select(id_col, vec_col, F.col("cid").alias("__parent")).join(
            lvl.select("cid", "cv", F.col("parent").alias("__parent")), "__parent"
        )
        cos_l = fold_sum(F.zip_with(vec_col, "cv", lambda x, y: x * y)) / (
            F.sqrt(fold_sum(F.transform(vec_col, lambda x: x * x)))
            * F.sqrt(fold_sum(F.transform("cv", lambda x: x * x)))
        )
        wl = Window.partitionBy(id_col).orderBy(
            F.col("__cos").desc(), F.col("cid").asc()
        )
        cur = (
            cand.select(id_col, vec_col, "cid", cos_l.alias("__cos"))
            .withColumn("__rn", F.row_number().over(wl))
            .filter(F.col("__rn") <= width)
            .select(id_col, vec_col, "cid")
        )
    vcells = cur.select(id_col, vec_col, F.col("cid").alias("cell"))
    fine = F.broadcast(
        cents.join(fine_cells, "cid").select("cid", "cell", "cv")
    )
    cos = fold_sum(F.zip_with(vec_col, "cv", lambda x, y: x * y)) / (
        F.sqrt(fold_sum(F.transform(vec_col, lambda x: x * x)))
        * F.sqrt(fold_sum(F.transform("cv", lambda x: x * x)))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cos").desc(), F.col("cid").asc())
    return (
        vcells.join(fine, "cell")
        .select(id_col, vec_col, "cid", cos.alias("__cos"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= probe)
        .select(id_col, vec_col, "cid", "__rn")
    )


def kmeans_sampled(
    vectors: DataFrame,
    *,
    k: int,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, tuple[DataFrame, DataFrame] | None]:
    """SAMPLE-TRAINED k-means + coarse quantizer — the r15 fix for the
    filed α-1.88 exact trainer (SCALE.md 100 TB table: exact-argmax
    Lloyd at k = ⌈n/256⌉ is n·k = n²/256). Returns ``(cents, coarse)``
    where ``cents`` is the (cid, cv) fine-centroid relation and
    ``coarse`` is ``(coarse_cents, fine_cells)`` for
    `coarse_rank_centroids` — or ``None`` when k ≤ KMEANS_EXACT_MAX_K,
    in which case the EXACT `kmeans_lloyd` ran and every committed
    plan/oracle is untouched (all fixture gates).

    The sampled path:
    1. fine-training sample = md5-bucket 1/8 of the corpus — 32
       vectors per centroid at the ⌈n/256⌉ geometry, deterministic in
       the ids (the md5-order idiom: re-runs and engines agree);
    2. coarse quantizer: EXACT `kmeans_lloyd` with k_c = ⌈√k⌉ over the
       256·k_c md5-smallest sample vectors (256·k_c² ≈ 256·k ≈ n ops
       per round — linear);
    3. fine Lloyd rounds over the sample with COARSE-ACCELERATED
       argmax (sample·2√k per round instead of sample·k), init = the
       k md5-smallest sample vectors, same decimal-mean/round-6
       determinism contract as `kmeans_lloyd`, empty clusters carry
       forward.

    Cost envelope: training is O(n) per round (constants: 1/8 sample ×
    2√k-accelerated argmax ≈ n·√k/4), the downstream full-corpus
    assignment is n·(√k + p·√k) — α 1.25 asymptotic vs the exact
    trainer's 2.0, and the measured octave (SCALING_CURVES
    `sampled_trainer`) is the evidence the 100 TB table now cites."""
    if k <= KMEANS_EXACT_MAX_K:
        _, cents = kmeans_lloyd(vectors, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
        return cents, None

    kc = _coarse_k_for(k)
    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    rnd6 = lambda c: F.transform(c, lambda x: F.round(x, 6))  # noqa: E731
    sample = (
        v.withColumn("__ord", F.md5(F.col("__id").cast("string")))
        .filter(md5_prefix_bucket(F.col("__id"), KMEANS_SAMPLE_BUCKETS) == 0)
        .localCheckpoint(eager=True)
    )
    upd = _kmeans_update_backend("explode")
    d_dims = len(sample.select("__v").head()[0]) if upd == "dims" else 0
    # r16 (measured at the 64x octave): orderBy().limit() yields a
    # SINGLE-partition relation whose sort+limit subplan re-executes
    # for every Lloyd-round consumer — the coarse train was 10 s of
    # the 16 s train wall, every stage one task. Checkpoint the
    # training set ONCE and spread it to a row-budget task grain
    # (guide §2.4/§5); set-of-rows unchanged, so the decimal-sum /
    # smallest-id-init determinism contract is untouched.
    ct_rows = KMEANS_COARSE_PER_CENTROID * kc
    par = max(
        1,
        min(vectors.sparkSession.sparkContext.defaultParallelism, ct_rows // 640 + 1),
    )
    coarse_train = (
        sample.orderBy("__ord", "__id")
        .limit(ct_rows)
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    _, coarse_cents = kmeans_lloyd(
        coarse_train, k=kc, iters=iters, vec_col="__v", id_col="__id", update=upd
    )
    coarse_cents = coarse_cents.localCheckpoint(eager=True)

    # r16 tree quantizer: when the cell count k_c itself exceeds the
    # branch factor (k > branch² — never a committed octave at the
    # default 256), stack quantizer levels ABOVE the cells: each level
    # is an exact Lloyd over the PREVIOUS level's centroids (sizes
    # k_c, ⌈k_c/b⌉, … — cheap), each node keeping its nearest
    # upper-level parent, so the ranking pass beam-descends
    # O(branch·beam) blocks per level instead of scoring all k_c
    # cells, and no per-task block ever scales with k.
    branch = _tree_branch()
    below: list[DataFrame] = []  # levels UNDER the current top, cells last
    top, n_top = coarse_cents, kc
    while n_top > branch:
        k_up = max(2, -(-n_top // branch))
        _, up = kmeans_lloyd(
            top.select(F.col("cid").alias("__id"), F.col("cv").alias("__v")),
            k=k_up,
            iters=2,
            vec_col="__v",
            id_col="__id",
            update=upd,
        )
        up = up.localCheckpoint(eager=True)
        par = rank_centroids(
            top.select(F.col("cid").alias("__nid"), F.col("cv").alias("__nv")),
            up,
            1,
            id_col="__nid",
            vec_col="__nv",
        ).select(F.col("__nid").alias("cid"), F.col("cid").alias("parent"))
        below.insert(0, top.join(par, "cid").localCheckpoint(eager=True))
        top, n_top = up, k_up
    levels: DataFrame | list[DataFrame] = (
        coarse_cents if not below else [top, *below]
    )

    cents = (
        sample.orderBy("__ord", "__id")
        .limit(k)
        .select(F.col("__id").alias("cid"), rnd6(F.col("__v")).alias("cv"))
    )

    def cells_of(c: DataFrame) -> DataFrame:
        """fine centroid → its coarse cell. Flat: exact k·k_c rank.
        Tree: the same beam descent the corpus pass uses (probe 1) —
        k·branch·depth instead of k·k_c, the leg that would otherwise
        reintroduce the √k factor at tree-scale k."""
        fv = c.select(F.col("cid").alias("__fid"), F.col("cv").alias("__fv"))
        if below:
            return descend_cells(
                fv, [top, *below], 1, id_col="__fid", vec_col="__fv"
            ).select(F.col("__fid").alias("cid"), F.col("cell").cast("int").alias("cell"))
        return rank_centroids(
            fv, coarse_cents, 1, id_col="__fid", vec_col="__fv"
        ).select(F.col("__fid").alias("cid"), F.col("cid").alias("cell"))

    strain = sample.select("__id", "__v")
    for _ in range(iters):
        fine_cells = cells_of(cents)
        assign = coarse_rank_centroids(strain, cents, (levels, fine_cells), 1)
        new_cents = (
            _mean_update_dims(assign, d_dims)
            if upd == "dims"
            else _mean_update_explode(assign)
        )
        cents = (
            cents.select("cid", F.col("cv").alias("__prev_cv"))
            .join(new_cents, "cid", "left")
            .select("cid", F.coalesce("cv", "__prev_cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
        # this round's centroid-block broadcasts were consumed by the
        # eager checkpoint above — release the executor copies instead
        # of accumulating one per iteration (ADVICE r15 item 2)
        release_rank_broadcasts()
    fine_cells = cells_of(cents).localCheckpoint(eager=True)
    release_rank_broadcasts()
    return cents, (levels, fine_cells)
