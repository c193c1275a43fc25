"""Seeded input generators owned by the benchmark.

Every input a workload reads is made here from the workload seed; the
program under test only ever sees the files.  Generators are pure
functions of ``(seed, size)`` and their outputs are cached on disk per
``(generator, version, seed, size)`` so a repeated seed skips the work.
Generation always happens outside the timed regions.

- Avro change records in the Confluent wire format (magic byte, 4-byte
  big-endian schema id, Avro binary body), encoded by the minimal
  encoder below, two writer-schema versions, Zipf-skewed keys.
- JSON payloads with a planted share of corrupt and null records.
- A fixture directory in the shape the query registry reads (ten
  tables, FIXTURES.md schemas): TPC-H-like star schema, an events
  table, and an open-vocabulary document corpus plus clustered
  embeddings with planted exact and near duplicates.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import struct
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator's output changes, so stale caches are not reused
VERSION = 2

# ------------------------------------------------------------ Avro encoding

MAGIC = 0
AVRO_V1 = {
    "type": "record",
    "name": "Customer",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "seq", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "email", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "qty", "type": "int"},
    ],
}
#: v2 adds two fields with defaults; it is also the reader schema
AVRO_V2 = {
    "type": "record",
    "name": "Customer",
    "fields": AVRO_V1["fields"]
    + [
        {"name": "country", "type": "string", "default": "ZZ"},
        {"name": "note", "type": "string", "default": ""},
    ],
}
AVRO_SCHEMAS = {1: AVRO_V1, 2: AVRO_V2}
AVRO_READER = AVRO_V2


def zigzag(n: int) -> bytes:
    """Avro ``long``: zigzag then little-endian base-128 varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _encode_field(value, avro_type: str) -> bytes:
    if avro_type in ("int", "long"):
        return zigzag(int(value))
    if avro_type == "double":
        return struct.pack("<d", float(value))
    if avro_type == "string":
        b = value.encode("utf-8")
        return zigzag(len(b)) + b
    raise ValueError(f"encoder does not support {avro_type!r}")


def encode_avro(record: dict, schema: dict) -> bytes:
    """Avro binary body of a flat record of long/int/double/string."""
    return b"".join(_encode_field(record[f["name"]], f["type"]) for f in schema["fields"])


def wire(schema_id: int, body: bytes) -> bytes:
    """Confluent wire format: magic byte + 4-byte big-endian id + body."""
    return bytes([MAGIC]) + schema_id.to_bytes(4, "big") + body


# ---------------------------------------------------------------- streams

_FIRST = ["ana", "bo", "cy", "dee", "eli", "fay", "gus", "hal", "ivy", "jo", "kai", "lu"]
_COUNTRIES = ["DE", "FR", "US", "BR", "IN", "JP", "NG", "AU"]


def avro_records(seed: int, n: int, key_space: int, seq0: int = 0) -> list[dict]:
    """``n`` change records over ``key_space`` keys: 30% are updates of
    Zipf(1.2)-skewed hot keys, 70% draw uniformly from the key space, so
    most are inserts and the upserted table keeps growing. ``seq`` is a
    global total order (the upsert's orderBy). About 40% are written
    with the older v1 schema."""
    rng = np.random.default_rng([seed, 11, seq0])
    hot = (rng.zipf(1.2, n) - 1) % key_space
    # scatter the hot ranks over the key space so hot keys are not all small
    hot = (hot * 2654435761 + seed) % key_space
    ids = np.where(rng.random(n) < 0.3, hot, rng.integers(0, key_space, n))
    amounts = rng.integers(0, 10_000_000, n) / 100.0
    qty = rng.integers(0, 500, n)
    v1 = rng.random(n) < 0.4
    first = rng.integers(0, len(_FIRST), n)
    country = rng.integers(0, len(_COUNTRIES), n)
    out = []
    for i in range(n):
        rid = int(ids[i])
        rec = {
            "id": rid,
            "seq": seq0 + i,
            "name": f"{_FIRST[first[i]]}-{rid}",
            "email": f"user{rid}@example.org",
            "amount": float(amounts[i]),
            "qty": int(qty[i]),
            "schema_id": 1 if v1[i] else 2,
        }
        if not v1[i]:
            rec["country"] = _COUNTRIES[country[i]]
            rec["note"] = f"n{i % 97}"
        out.append(rec)
    return out


def avro_values(records: list[dict]) -> list[bytes]:
    return [wire(r["schema_id"], encode_avro(r, AVRO_SCHEMAS[r["schema_id"]])) for r in records]


#: planted shares of the JSON stream
JSON_CORRUPT_SHARE = 0.04
JSON_NULL_SHARE = 0.02


def json_records(seed: int, n: int, rid0: int = 0) -> dict[str, list]:
    """Columns of the JSON source: ``rid`` (record id), ``src``, ``pii``
    and ``payload``, plus ``kind`` (0 valid, 1 corrupt, 2 null), which
    is not written to the stream. Exactly ``round(n * share)`` payloads are corrupt
    (truncated JSON) and null, at seeded positions."""
    rng = np.random.default_rng([seed, 23, rid0])
    n_bad = round(n * JSON_CORRUPT_SHARE)
    n_null = round(n * JSON_NULL_SHARE)
    kind = np.zeros(n, dtype=np.int8)
    pos = rng.permutation(n)
    kind[pos[:n_bad]] = 1
    kind[pos[n_bad : n_bad + n_null]] = 2
    users = rng.integers(0, 50_000, n)
    amounts = rng.integers(0, 1_000_000, n) / 100.0
    qty = rng.integers(0, 100, n)
    payload: list[str | None] = []
    for i in range(n):
        text = json.dumps(
            {
                "id": rid0 + i,
                "user": f"u{users[i]}",
                "amount": float(amounts[i]),
                "qty": int(qty[i]),
                "tags": ["t" + str(users[i] % 7), "t" + str(qty[i] % 5)],
            }
        )
        if kind[i] == 1:
            text = text[: len(text) // 2]
        payload.append(None if kind[i] == 2 else text)
    return {
        "rid": [rid0 + i for i in range(n)],
        "src": [f"topic-{u % 4}" for u in users.tolist()],
        "pii": [f"card-{u:08d}" for u in users.tolist()],
        "payload": payload,
        "kind": kind.tolist(),
    }


JSON_SCHEMA = "id long, user string, amount double, qty int, tags array<string>"


# ---------------------------------------------------------------- fixtures

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "small", "red", "steel", "old", "blue", "quick"]
_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "nut", "plate", "spring"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _vocab(rng, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 9, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return sorted(words)


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Open-vocabulary documents (Zipf word frequencies over a large
    random vocabulary) with planted duplicates: 6% exact copies and 10%
    near copies (about one word in twenty replaced) of earlier
    documents. Embeddings: 10 clusters in 64 dimensions, 8% planted
    near-duplicate vectors (an earlier vector plus tiny noise)."""
    rng = np.random.default_rng([seed, 31])
    vocab = _vocab(rng, 20_000)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:
            words = texts[int(rng.integers(0, i))].split()
            for j in range(len(words)):
                if rng.random() < 0.05:
                    words[j] = vocab[int(rng.zipf(1.3)) % len(vocab)]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(12, 90))
            idx = (rng.zipf(1.3, n_words) - 1) % len(vocab)
            texts.append(" ".join(vocab[k] for k in idx))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in rng.integers(0, 5, n_docs)], pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0, 0.3, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.12, (n_vecs, 64))
    for i in range(10, n_vecs):
        if rng.random() < 0.08:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(0, 0.002, 64)
            labels[i] = labels[src]
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The eight non-LLM fixture tables at ``sf`` (sf0.1 = 600k
    lineitems), in the FIXTURES.md schemas and value domains."""
    rng = np.random.default_rng([seed, 41])
    n_cust, n_supp = max(15, round(150_000 * sf)), max(10, round(10_000 * sf))
    n_part, n_ord = max(20, round(200_000 * sf)), max(150, round(1_500_000 * sf))
    n_line, n_ev = round(6_000_000 * sf), max(1000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(
                [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)], pa.string()
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array([_PTYPES[k] for k in rng.integers(0, 6, n_part)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, pa.float64()),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
            "o_orderdate": _ts_us("1995-01-01", order_days * _DAY_US),
            "o_orderpriority": pa.array([_PRIOS[k] for k in rng.integers(0, 5, n_ord)]),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship_days = np.minimum(order_days[l_order] + rng.integers(1, 122, n_line), 2499)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_us("1995-01-01", ship_days * _DAY_US),
        }
    )
    ev_off = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us("2024-01-01", ev_off),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array([_ETYPES[k] for k in rng.integers(0, 5, n_ev)]),
            "value": pa.array(_money(rng, 0.0, 560.0, n_ev), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


# ---------------------------------------------------------------- caching


#: the child interpreter of ``cached_dir``: unpickles ``(build, args)``
#: from stdin and calls it, with the checkout root on ``sys.path``
_BUILD_CHILD = (
    "import pickle, sys; sys.path.insert(0, sys.argv[1]); "
    "build, args = pickle.load(sys.stdin.buffer); build(*args)"
)


def cached_dir(cache_root: str, key: str, build, *args) -> str:
    """Directory ``cache_root/key`` filled once by ``build(tmp_dir,
    *args)``, a module-level function run in a child interpreter so the
    generator's memory never counts towards the benchmark process's
    peak. The child is a plain subprocess, waited for: multiprocessing's
    spawn context would also start a resource-tracker process that
    outlives the benchmark. Built into a temporary sibling and renamed,
    so a crashed build never leaves a half-written cache entry."""
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    tmp = os.path.join(cache_root, f".tmp-{key}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, "-c", _BUILD_CHILD, root],
            input=pickle.dumps((build, (tmp, *args))),
            check=False,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"building {key} failed with exit code {proc.returncode}")
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):  # else another run built it first
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def build_fixture(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    write_tables(star_tables(seed, sf), out_dir)
    write_tables(corpus_tables(seed, n_docs, n_vecs), out_dir)


def fixture_dir(cache_root: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> str:
    """A ten-table fixture directory for the query registry."""
    key = f"fixture-v{VERSION}-s{seed}-sf{sf}-d{n_docs}-v{n_vecs}"
    return cached_dir(cache_root, key, build_fixture, seed, sf, n_docs, n_vecs)


def link_fixture(src_dir: str, dst_dir: str) -> str:
    """A fresh directory whose tables are symlinks into ``src_dir``: the
    same bytes under a new real path, which the registry's index memos
    treat as a new corpus snapshot (their key includes the realpath)."""
    os.makedirs(dst_dir)
    for name in os.listdir(src_dir):
        os.symlink(os.path.join(os.path.abspath(src_dir), name), os.path.join(dst_dir, name))
    return dst_dir
