"""Benchmark harness — runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines: a full per-query
detail line, then a compact FINAL headline line (the one the driver
parses — kept < 1900 chars so tail-truncation can't eat it):
{"metric": "headline_corpus_wall_sec", "value": total_sec,
 "unit": "sec", "timing": "min_of_3", "queries": {<headline only>},
 "sf": ...}

Queries execute via the noop sink (full execution, no driver
collect), which measures engine throughput rather than Arrow
transfer. A warmup query initializes the JVM/codegen so timings
reflect steady state. Since r8 the corpus runs as two FULL passes in
opposite orders plus a third headline-only pass, and each query
reports its min across passes — consecutive same-query runs let one
noisy host interval masquerade as a family-level regression (the r7
SMT artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from heroku_kafka_connect_spark.registry import all_queries  # noqa: E402
from heroku_kafka_connect_spark.session import get_spark  # noqa: E402

#: headline set: one per physical-plan family (scan+agg, star join,
#: shuffle join, top-k, window, streaming window, text explode+agg,
#: hash dedup, vector top-k, LSH near-dup, Arrow UDTF)
HEADLINE = [
    "rel_agg_pricing_summary",
    "rel_join_broadcast_star",
    "rel_join_inner",
    "rel_topk",
    "rel_window_running_sum",
    "stream_tumbling_window",
    "stream_session_window",
    "llm_text_wordcount",
    "llm_dedup_exact",
    "llm_sim_topk",
    "llm_dedup_near",
    "udf_explode_tokens",
    # the end-to-end curation DAG (normalize-dedup -> quality ->
    # decontaminate -> pack) — the closest query to the north-star
    # 100 TB workload, benched as a unit since r9
    "llm_curation_pipeline",
]

#: memoized front-halves (session-scoped localCheckpoint indexes): the
#: representative consumer that triggers each build, and the memo dicts
#: to clear for a COLD measurement (a family's own memo plus any shared
#: memo its build reads — the per-snapshot Lloyd centroids — so the
#: cold wall is not half warm). min-across-passes otherwise reports
#: only the warm-marginal cost for these families (disclosed in
#: BASELINE.md; the cold number is what a first-build regression gate
#: needs).
MEMO_FAMILIES = {
    "llm_dedup_apply": ("_MANIFEST_MEMO",),
    "llm_dedup_embedding": ("_SEM_PAIRS_MEMO",),
    "llm_knn_recall": ("_LSH_MONITOR_MEMO",),
    "llm_substring_dup_rate": ("_GRAMS4_MEMO",),
    "llm_pq_encode": ("_PQ_MEMO",),
    # r10: the near-contamination sketch+verify pass and the resolved
    # three-rung manifest, both shared with llm_curation_pipeline
    "llm_contamination_near": ("_NC_PAIRS_MEMO",),
    "llm_dedup_apply_full": ("_FULL_MANIFEST_MEMO", "_LLOYD_CENTS_MEMO"),
    # r12: the centroid-blocked SemDeDup twin's train+verify pass,
    # and the cross-doc ExactSubstr span scan (report + apply share it)
    "llm_dedup_semantic_centroid": ("_CENTROID_PAIRS_MEMO",),
    "llm_exact_substr_spans": ("_XSPANS_MEMO",),
    # r13: the 2-probe centroid twin (the frontier's operative form)
    "llm_dedup_semantic_centroid2": ("_CENTROID2_PAIRS_MEMO", "_LLOYD_CENTS_MEMO"),
    # r14: the incremental semantic tier's index-side build (chooser
    # train + dispatched new×indexed candidate/verify pass)
    "llm_dedup_incremental_semantic": ("_INC_SEM_MEMO",),
    # r15: the lexical classifier relation (corpus banding + verified
    # best match per new doc), shared by both incremental dedup rows
    # and the incremental curation manifest
    "llm_dedup_incremental": ("_INC_CLASSIFY_MEMO",),
    # r16: the spark.ml approxSimilarityJoin reference pair set of the
    # near_ml cross-check (verdict r15 item 7's admissible
    # optimization: persist the model's transformed signatures under
    # the same memo discipline; output hash unchanged)
    "llm_dedup_near_ml": ("_ML_PAIRS_MEMO",),
}


def release_family(qname: str) -> None:
    """Unpersist and clear every memo of one MEMO_FAMILIES entry."""
    from heroku_kafka_connect_spark.operators import llm

    for attr in MEMO_FAMILIES[qname]:
        llm.release_memo(getattr(llm, attr))


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_cold_floors(
    cold: dict[str, float], floors: dict[str, float], tolerance: float = 2.0
) -> list[dict]:
    """Cold-build regression gate (r9 verdict item 4): entries whose
    first-build wall exceeds ``tolerance``× the committed quiet-host
    floor (BENCH_COLD_FLOORS.json). The 2× tolerance is deliberately
    generous — shared-host walls drift ±25% both directions with no
    code change — so anything flagged is structural, same spirit as
    the plan pins. Families without a committed floor (newly added
    this round) are skipped; add their floor with the round's quiet
    bench."""
    return [
        {
            "query": k,
            "cold_sec": v,
            "floor_sec": floors[k],
            "limit_sec": round(tolerance * floors[k], 3),
        }
        for k, v in cold.items()
        if isinstance(floors.get(k), (int, float)) and v > tolerance * floors[k]
    ]


def update_history(
    timings: dict[str, float],
    cold: dict[str, float] | None,
    sf: float,
    loadavg: list[float],
    path: str | None = None,
    round_no: int | None = None,
) -> dict:
    """Cross-round per-query minima ledger (r10 verdict item 5):
    BASELINE.md's codegen-eviction adjudication had to be rebuilt by
    hand from BENCH_r*.json tails each round — instead every bench run
    folds its walls into BENCH_HISTORY.json as the running MIN per
    (round, sf, query), with the loadavg stamps of every contributing
    run kept alongside. Gates nothing; next round's watch-list is one
    jq away:  jq '.[] | {round, q: .queries.llm_text_wordcount}'."""
    path = path or os.path.join(REPO, "BENCH_HISTORY.json")
    if round_no is None:
        env = os.environ.get("SPARK_GRAFT_ROUND")
        if env is not None:
            round_no = int(env)
        else:
            # Fallback inference is AMBIGUOUS for any run between the
            # driver writing BENCH_r{N}.json and the next round's first
            # commit (it would mint a phantom round N+1 — r11 ADVICE
            # item 5). Prefer the env var; when falling back, take the
            # max of (committed artifact tail + 1) and the ledger's own
            # latest round, and say so on stderr.
            import glob
            import re

            ns = [
                int(m.group(1))
                for f in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
                if (m := re.search(r"BENCH_r(\d+)\.json$", f))
            ]
            ledger = os.path.join(REPO, "BENCH_HISTORY.json")
            hist_max = 0
            if os.path.exists(ledger):
                with open(ledger) as f:
                    hist_max = max((r["round"] for r in json.load(f)), default=0)
            round_no = max(max(ns) + 1 if ns else 1, hist_max)
            print(
                f"bench: SPARK_GRAFT_ROUND unset — inferred round {round_no} "
                f"(artifact tail {max(ns) if ns else 0}, ledger max {hist_max}); "
                "export SPARK_GRAFT_ROUND to pin",
                file=sys.stderr,
            )
    hist: list[dict] = []
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    rec = next(
        (r for r in hist if r["round"] == round_no and r["sf"] == sf), None
    )
    if rec is None:
        rec = {
            "round": round_no,
            "sf": sf,
            "scope": "full_corpus",
            "queries": {},
            "cold_build": {},
            "loadavgs": [],
        }
        hist.append(rec)
    for name, w in timings.items():
        cur = rec["queries"].get(name)
        rec["queries"][name] = w if cur is None else min(cur, w)
    for name, w in (cold or {}).items():
        cur = rec["cold_build"].get(name)
        rec["cold_build"][name] = w if cur is None else min(cur, w)
    rec["loadavgs"].append(loadavg)
    rec["n_queries"] = len(rec["queries"])
    hist.sort(key=lambda r: (r["round"], r["sf"]))
    with open(path, "w") as f:
        json.dump(hist, f, indent=1, sort_keys=True)
    return rec


def build_output_lines(
    timings: dict[str, float],
    sf: float,
    loadavg: list[float] | None = None,
    cold: dict[str, float] | None = None,
    cold_regressions: list[dict] | None = None,
) -> tuple[str, str]:
    """(detail_line, summary_line) for stdout.

    Output contract: the driver keeps only the TAIL of stdout and
    parses the FINAL line as the headline JSON, so that line must stay
    compact (< 1900 chars — round 2's full-corpus map blew the window
    and the headline was lost). Full per-query detail goes on its own
    PRECEDING line; the final line carries only the headline timings.
    "timing" records the methodology so rounds measured differently
    aren't compared as if identical; "loadavg" records 1-min system
    load sampled before/after the run so a uniform wall shift can be
    attributed to ambient co-tenant load (the r4→r5 +20% ambiguity)
    instead of being read as an engine regression.
    """
    headline_total = round(sum(timings[n] for n in HEADLINE), 3)
    detail = json.dumps(
        {
            "detail": "full_corpus_per_query_sec",
            "queries": timings,
            "cold_build": cold or {},
            "cold_regressions": cold_regressions or [],
            "sf": sf,
            "loadavg": loadavg,
        }
    )
    summary = json.dumps(
        {
            "metric": "headline_corpus_wall_sec",
            "value": headline_total,
            "unit": "sec",
            "timing": "min3_headline_min2_corpus_opposite_order_passes",
            "full_corpus_wall_sec": round(sum(timings.values()), 3),
            "n_queries": len(timings),
            "queries": {n: timings[n] for n in HEADLINE},
            "sf": sf,
            "loadavg": loadavg,
        }
    )
    assert len(summary) < 1900, f"headline line too long: {len(summary)}"
    return detail, summary


def wait_for_quiet_host(
    max_load: float | None = None, budget_sec: float | None = None
) -> float:
    """Block until the 1-min loadavg drops below ``max_load`` (default
    2.0, env SPARK_GRAFT_QUIET_LOAD) or ``budget_sec`` elapses (default
    600, env SPARK_GRAFT_QUIET_WAIT; 0 disables). r11 verdict item 5:
    two rounds running, the committed BENCH_r{N}.json line was a
    busy-host pass (loadavg 6+) while the quiet number lived only in
    the ledger — the artifact should self-select quiet weather instead
    of depending on when the driver happens to invoke it. Returns the
    seconds waited."""
    max_load = float(
        os.environ.get("SPARK_GRAFT_QUIET_LOAD", max_load if max_load is not None else 2.0)
    )
    budget = float(
        os.environ.get("SPARK_GRAFT_QUIET_WAIT", budget_sec if budget_sec is not None else 600.0)
    )
    t0 = time.time()
    while budget > 0 and os.getloadavg()[0] >= max_load:
        waited = time.time() - t0
        if waited >= budget:
            print(
                f"bench: host still busy after {waited:.0f}s "
                f"(loadavg {os.getloadavg()[0]:.2f} >= {max_load}) — proceeding; "
                "walls will read high, trust the ledger minima",
                file=sys.stderr,
            )
            break
        print(
            f"bench: waiting for quiet host (loadavg {os.getloadavg()[0]:.2f} "
            f">= {max_load}, {waited:.0f}/{budget:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(min(15.0, budget - waited))
    return round(time.time() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    wait_for_quiet_host()
    spark = get_spark("hkc-bench")
    qs = all_queries()

    # warmup: JVM + codegen + parquet footer caches + Python/Arrow
    # worker pool (pandas-UDF queries otherwise pay ~3s one-time
    # worker fork+import inside their first timing; the Python
    # DataSource runtime likewise pays ~4.5s one-time plan/worker
    # setup — steady-state src_python_datasource is 0.6s)
    execute(qs["rel_agg_pricing_summary"].fn(spark, sf_dir))
    execute(qs["udf_scalar_pandas"].fn(spark, sf_dir))
    execute(qs["src_python_datasource"].fn(spark, sf_dir))

    # Headline queries take best-of-3, corpus min-of-2: on a shared
    # host single-shot walls drift ±20-30% with ambient load
    # (measured: identical code, 16.2→23.7s), and min-of-N reports
    # the code's actual cost rather than the noisiest co-tenant's.
    # r8 de-bias: the min-of-N runs used to be CONSECUTIVE per query,
    # so one noisy host interval inflated every run of whichever
    # queries it overlapped — in r7 the late-alphabet SMT family
    # absorbed a loadavg spike and read as a 3.3-3.7× family
    # regression with unchanged plans. Now each run belongs to a full
    # corpus PASS and the two corpus passes execute in OPPOSITE
    # orders, so a query's min-of-2 samples two different points of
    # host weather; the third (headline-only) pass runs last.
    order = HEADLINE + sorted(n for n in qs if n not in HEADLINE)
    load_start = round(os.getloadavg()[0], 2)
    walls: dict[str, list[float]] = {n: [] for n in order}
    for pass_names in (order, list(reversed(order)), HEADLINE):
        for name in pass_names:
            t0 = time.time()
            execute(qs[name].fn(spark, sf_dir))
            walls[name].append(time.time() - t0)
    timings = {n: round(min(w), 3) for n, w in walls.items()}

    # cold-build pass (r8 verdict #4): clear each memoized index and
    # re-run its representative consumer once — cold_build records
    # index-build + query cost so regression gating sees first-build
    # walls, not just the cache-warm marginal the min-of-N reports.
    # release_memo (not bare .clear()) unpersists the checkpointed
    # relations first — clearing alone orphans their executor blocks
    # until GC, skewing later cold timings under memory pressure.
    cold: dict[str, float] = {}
    for qname in MEMO_FAMILIES:
        release_family(qname)
        t0 = time.time()
        execute(qs[qname].fn(spark, sf_dir))
        cold[qname] = round(time.time() - t0, 3)
    loadavg = [load_start, round(os.getloadavg()[0], 2)]

    # gate the cold walls against the committed quiet-host floors —
    # regressions surface in the detail line AND on stderr the round
    # they land instead of waiting for a judge to diff BENCH_DETAILs
    floors_path = os.path.join(REPO, "BENCH_COLD_FLOORS.json")
    cold_regressions: list[dict] = []
    if os.path.exists(floors_path):
        with open(floors_path) as f:
            floors = json.load(f)
        cold_regressions = check_cold_floors(cold, floors)
        for r in cold_regressions:
            print(
                f"COLD-REGRESSION: {r['query']} first-build {r['cold_sec']}s "
                f"> limit {r['limit_sec']}s (floor {r['floor_sec']}s)",
                file=sys.stderr,
            )

    update_history(timings, cold, sf, loadavg)
    detail, summary = build_output_lines(timings, sf, loadavg, cold, cold_regressions)
    # sidecar: the full per-query map survives even if the driver's
    # stdout tail-capture window truncates the detail line (it did in
    # r2/r3 — the window is ~2000 chars)
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        f.write(detail + "\n")
    print(detail)
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
