"""``query_batch``: declared queries over generated sf0.01 star tables.

Each pass runs every query below once, in an order drawn from the seed,
timing each from the builder call to ``toPandas()``. Results are checked
against the query's DuckDB oracle outside the timed region.

*floor* queries cost a fixed 0.1-0.5 s, most of it driver compose,
planning and job launch; *heavy* queries spend their time in executor
stages, Arrow kernels or jobs run eagerly while composing.
"""

from __future__ import annotations

import os
import random
import time

from harness import Run, frame_rows, same_result
from stats import class_p50, median, tail

FLOOR = ["company_profile", "top_k_orders", "coalesce_priority",
         "window_dedup_priority", "event_rollup", "event_cube",
         "event_distinct_users", "event_percentiles", "doc_train_test_split",
         "doc_stratified_sample", "doc_token_stats", "doc_bpe_encode"]
# one heavy query per mechanism: executor stages (statements_annual),
# and jobs run eagerly while composing plus Arrow kernels
# (emb_ivf_pq_ann_topk); more would not fit a run's time budget
HEAVY = ["statements_annual", "emb_ivf_pq_ann_topk"]
# a floor on the pass count, so the median does not flip between pass
# counts as the host's speed drifts; the heavy queries still speed up
# over the first measured passes, and a median of four damps that
MIN_PASSES = 4
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_results(data: str, names: list[str], sql: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        return {n: frame_rows(con.sql(sql[n]).fetch_arrow_table()
                              .to_pandas(date_as_object=True))
                for n in names}
    finally:
        con.close()


def run(r: Run) -> dict:
    import gen
    import __spark_entry__ as entry

    data = os.path.join(r.work, "data")
    gen.write_star(data, r.seed)
    builders = entry.queries()
    want = oracle_results(data, FLOOR + HEAVY, entry.oracle_sql())
    r.step("oracle", queries=len(want))

    spark = r.start_session()

    def one(name: str, pass_no: int, traced: bool) -> dict | None:
        rec = {"query": name, "pass": pass_no, "traced": traced}
        group = f"q{pass_no}.{'floor' if name in FLOOR else 'heavy'}.{name}"
        try:
            t0 = time.perf_counter()
            if traced:
                r.job_group(group + ".compose")
            df = builders[name](spark, data)
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if traced:
                r.job_group(group + ".run")
            pdf = df.toPandas()
            t3 = time.perf_counter()
            if traced:
                r.job_group(None)
                rec.update(compose_s=t1 - t0, plan_s=t2 - t1, fetch_s=t3 - t2,
                           compose_jobs=r.jobs_in(group + ".compose"),
                           group=group)
            rec["cached_rdds_left"] = r.persistent_rdds()
            rec["wall_s"] = t3 - t0
            bad = same_result(frame_rows(pdf), want[name])
        except Exception as e:  # noqa: BLE001 - one query must not end the run
            bad = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            r.job_group(None)
            spark.catalog.clearCache()
        r.tally.record(bad is None, f"{name}: {bad}")
        if bad:
            rec["error"] = bad
        r.step("query", **rec)
        return None if bad else rec

    # pass 0 warms every query and is checked; with the cold session
    # start before it, its query time is the set-up time
    names = FLOOR + HEAVY
    warm = [one(name, 0, False) for name in names]
    setup_s = r.session_start_s + sum(x["wall_s"] for x in warm if x)
    r.step("setup", session_start_s=r.session_start_s, setup_s=setup_s)
    passes: list[list[dict]] = []
    t_end = time.perf_counter() + r.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        p = len(passes) + 1
        order = names[:]
        random.Random(r.seed * 1000 + p).shuffle(order)
        traced = r.trace and p % 2 == 1
        passes.append([x for x in (one(n, p, traced) for n in order) if x])
    peak = r.peak_rss_mb()
    r.stop()
    return summarize(r, passes, setup_s, peak)


def _class_sum(recs: list[dict], cls: list[str], key: str = "wall_s") -> float:
    return sum(x[key] for x in recs if x["query"] in cls)


def _floor_p50(passes) -> float:
    """Floor-class latency in ms: each floor query's median over the
    passes, averaged over the queries."""
    by_query: dict[str, list[float]] = {}
    for p in passes:
        for x in p:
            by_query.setdefault(x["query"], []).append(x["wall_s"] * 1e3)
    return class_p50(by_query, dict.fromkeys(FLOOR, 1.0))


def summarize(r: Run, passes, setup_s, peak) -> dict:
    def view(ps):
        floor_ms = [x["wall_s"] * 1e3 for p in ps for x in p if x["query"] in FLOOR]
        p_tail, v_tail = tail(floor_ms) if floor_ms else (0, 0.0)
        return {
            "op_p50_ms": _floor_p50(ps),
            "op_tail_ms": v_tail, "tail_pct": p_tail, "samples": len(floor_ms),
            "work_s": median([_class_sum(p, HEAVY) for p in ps]) if ps else 0.0,
            "query_floor_s": median([_class_sum(p, FLOOR) for p in ps]) if ps else 0.0,
        }

    untraced = [p for p in passes if not any(x["traced"] for x in p)]
    m = view(untraced)
    r.step("report", workload="query_batch", passes=len(untraced),
           query_floor_s=m["query_floor_s"], query_heavy_s=m["work_s"],
           floor_p50_ms=m["op_p50_ms"],
           floor_tail_ms=m["op_tail_ms"], tail_percentile=m["tail_pct"],
           floor_samples=m["samples"])
    out = {"setup_s": setup_s, "op_p50_ms": m["op_p50_ms"],
           "op_tail_ms": m["op_tail_ms"], "work_s": m["work_s"],
           "peak_rss_mb": peak}
    if r.trace:
        out["layers"] = layers(r, passes, m)
    return out


def layers(r: Run, passes, untraced_view) -> dict:
    from tracing import EXEC_KEYS, fold_event_log, sum_groups

    traced = [p for p in passes if any(x["traced"] for x in p)]
    folded = fold_event_log(r.event_dir)
    n = max(1, len(traced))
    lay: dict[str, float] = {}
    for cls, names in (("floor", FLOOR), ("heavy", HEAVY)):
        lay[f"plans.compose_s.{cls}"] = median([_class_sum(p, names, "compose_s") for p in traced])
        lay[f"plans.compose_jobs.{cls}"] = median([_class_sum(p, names, "compose_jobs") for p in traced])
        lay[f"catalyst.plan_s.{cls}"] = median([_class_sum(p, names, "plan_s") for p in traced])
    ex = dict.fromkeys(EXEC_KEYS, 0.0)
    transfer = 0.0
    for p in traced:
        for x in p:
            run_jobs = sum_groups(folded, x["group"] + ".run")
            transfer += max(0.0, x["fetch_s"] - run_jobs["job_s"])
            tot = sum_groups(folded, x["group"] + ".")
            for k in ex:
                ex[k] += tot[k]
    lay.update({f"exec.{k}": v / n for k, v in ex.items()})
    lay["transfer.arrow_s"] = transfer / n
    lay["plans.cached_rdds_left"] = max(
        (x["cached_rdds_left"] for p in passes for x in p), default=0)
    lay["session.start_s"] = r.session_start_s
    tv = {"op_p50_ms": 0.0, "op_tail_ms": 0.0, "work_s": 0.0}
    floor_ms = [x["wall_s"] * 1e3 for p in traced for x in p if x["query"] in FLOOR]
    if floor_ms:
        tv = {"op_p50_ms": _floor_p50(traced), "op_tail_ms": tail(floor_ms)[1],
              "work_s": median([_class_sum(p, HEAVY) for p in traced])}
    for k, v in tv.items():
        lay[f"trace.overhead.{k}"] = v - untraced_view[k]
    return lay
