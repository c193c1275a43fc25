"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from heroku_kafka_connect_spark.serde import avro_codec  # noqa: E402
from perfbench import batch, gen, streaming  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from perfbench.run import END_TO_END, per_layer_units  # noqa: E402

# ------------------------------------------------------------ generators


def test_avro_records_deterministic_per_seed():
    a = gen.avro_records(7, 500, 10_000)
    assert a == gen.avro_records(7, 500, 10_000)
    assert a != gen.avro_records(8, 500, 10_000)
    assert gen.avro_values(a) == gen.avro_values(gen.avro_records(7, 500, 10_000))


def test_json_records_deterministic_and_planted_shares():
    a = gen.json_records(3, 1000)
    assert a == gen.json_records(3, 1000)
    assert a["payload"] != gen.json_records(4, 1000)["payload"]
    kinds = np.asarray(a["kind"])
    assert (kinds == 1).sum() == round(1000 * gen.JSON_CORRUPT_SHARE)
    assert (kinds == 2).sum() == round(1000 * gen.JSON_NULL_SHARE)
    for payload, kind in zip(a["payload"], a["kind"]):
        if kind == 0:
            json.loads(payload)
        elif kind == 1:
            with pytest.raises(json.JSONDecodeError):
                json.loads(payload)
        else:
            assert payload is None


def test_fixture_tables_deterministic_per_seed():
    a = gen.star_tables(5, 0.0005) | gen.corpus_tables(5, 60, 40)
    b = gen.star_tables(5, 0.0005) | gen.corpus_tables(5, 60, 40)
    c = gen.corpus_tables(6, 60, 40)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["documents"].equals(c["documents"])


def test_corpus_has_planted_duplicates():
    docs = gen.corpus_tables(9, 400, 50)["documents"]["text"].to_pylist()
    exact = len(docs) - len(set(docs))
    assert 0.02 * len(docs) < exact < 0.12 * len(docs)


# ------------------------------------------------------------ Avro encoder


@pytest.mark.parametrize("n", [0, 1, -1, 63, -64, 64, 2**31 - 1, -(2**31), 2**62, -(2**63)])
def test_zigzag_matches_codec(n):
    assert gen.zigzag(n) == avro_codec._zigzag_encode(n)
    assert avro_codec._zigzag_decode(gen.zigzag(n), 0) == (n, len(gen.zigzag(n)))


def test_avro_wire_round_trips_through_codec():
    for rec in gen.avro_records(2, 200, 5000):
        framed = gen.wire(rec["schema_id"], gen.encode_avro(rec, gen.AVRO_SCHEMAS[rec["schema_id"]]))
        assert framed[0] == 0
        sid = int.from_bytes(framed[1:5], "big")
        assert sid == rec["schema_id"]
        out = avro_codec.decode_record(framed[5:], gen.AVRO_SCHEMAS[sid], gen.AVRO_READER)
        want = {k: rec[k] for k in ("id", "seq", "name", "email", "amount", "qty")}
        want["country"] = rec.get("country", "ZZ")
        want["note"] = rec.get("note", "")
        assert out == want


# ------------------------------------------------------------ reference replays


def test_upsert_replay_latest_per_key_under_smt():
    recs = pd.DataFrame(
        [
            {"id": 5, "seq": 0, "name": "a", "email": "x", "amount": 1.5, "qty": 1, "schema_id": 2, "country": "DE", "note": "n"},
            {"id": 5, "seq": 2, "name": "b", "email": "y", "amount": 2.5, "qty": 2, "schema_id": 1, "country": None, "note": None},
            {"id": 17, "seq": 1, "name": "c", "email": "z", "amount": 3.0, "qty": 3, "schema_id": 2, "country": "FR", "note": "m"},
        ]
    )
    out = streaming.upsert_replay(recs)
    assert list(out["id"]) == [5, 17]
    assert list(out["seq"]) == [2, 1]
    assert list(out["customer_name"]) == ["b", "c"]
    assert list(out["country"]) == ["ZZ", "FR"]  # v1 record takes the reader default
    assert list(out["shard"]) == [5, 1]
    assert out["email"].isna().all()
    assert "note" not in out.columns and "name" not in out.columns


def test_frames_differ_detects_value_and_row_changes():
    want = pd.DataFrame({"id": [1, 2], "v": [1.0, None]})
    assert streaming.frames_differ(want.iloc[::-1].reset_index(drop=True), want, "id") == []
    assert streaming.frames_differ(want.assign(v=[1.0, 2.0]), want, "id")
    assert streaming.frames_differ(want.iloc[:1], want, "id")


def test_dlq_replay_splits_by_planted_kind():
    recs = pd.DataFrame({"rid": [0, 1, 2, 3], "kind": [0, 1, 2, 0]})
    assert streaming.dlq_replay(recs) == {"good": {0, 3}, "bad": {1, 2}}


def test_canonical_hash_ignores_row_and_column_order_but_not_dtypes():
    a = pd.DataFrame({"k": [2, 1], "s": ["b", "a"], "v": [np.array([1.0, 2.0]), np.array([3.0])]})
    b = pd.DataFrame({"v": [[3.0], [1.0, 2.0]], "s": ["a", "b"], "k": [1, 2]})
    assert batch.canonical_hash(a) == batch.canonical_hash(b)
    assert batch.canonical_hash(a) != batch.canonical_hash(a.astype({"k": "int32"}))
    assert batch.canonical_hash(a) != batch.canonical_hash(a.assign(s=["b", "c"]))


# ------------------------------------------------------------ measurement plumbing


def test_checkpoint_log_maps_files_to_commits(tmp_path):
    q = tmp_path / "q"
    (q / "sources" / "0").mkdir(parents=True)
    (q / "commits").mkdir()
    entry = lambda name, b: json.dumps({"path": f"file:///stage/{name}", "timestamp": 1, "batchId": b})  # noqa: E731
    (q / "sources" / "0" / "0").write_text("v1\n" + entry("a.parquet", 0) + "\n")
    (q / "sources" / "0" / "1.compact").write_text(
        "v1\n" + entry("a.parquet", 0) + "\n" + entry("b.parquet", 1) + "\n"
    )
    (q / "commits" / "0").write_text("v1\n{}")
    log = streaming.CheckpointLog(str(q))
    log.poll()
    assert log.file_batch == {"a.parquet": 0, "b.parquet": 1}
    assert log.committed("a.parquet") is not None
    assert log.committed("b.parquet") is None
    (q / "commits" / "1").write_text("v1\n{}")
    log.poll()
    assert log.committed("b.parquet") is not None


def test_tracer_records_parent_and_run_id():
    t = Tracer("run-1", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner["name"], inner["parent"], inner["run_id"]) == ("inner", "outer", "run-1")
    assert outer["parent"] is None and outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# ------------------------------------------------------------ the declared metrics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_printed_metric_has_a_name_and_a_unit():
    bench = _benchmark_json()
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == END_TO_END
    assert declared_layer == per_layer_units()
    for name, unit in {**END_TO_END, **per_layer_units()}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)


def test_benchmark_json_shape():
    bench = _benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in bench["workloads"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run fails fast and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_work", "__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation_cold", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_reap_children_waits_for_orphaned_grandchildren():
    """A grandchild whose parent has exited (as Spark's Python worker
    daemon is once the JVM exits) is re-parented to the run and waited
    for: after ``reap_children`` the run has no child left."""
    code = (
        "import os, subprocess, sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench.run import become_subreaper, child_pids, reap_children;"
        "become_subreaper();"
        "subprocess.run(['sh', '-c', 'sleep 1 &'], check=True);"
        "assert child_pids(), 'the orphan was not re-parented';"
        "reap_children();"
        "assert not child_pids();"
        "print('reaped')"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, ROOT], capture_output=True, text=True, timeout=60
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "reaped"
