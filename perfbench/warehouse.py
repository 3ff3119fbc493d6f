"""``warehouse``: the reference's write-and-serve lifecycle -- ingest,
build, refresh, serve, stream.

Set-up: launch a JVM, start the session and ingest a 2-company warm-up
corpus. Then generated SEC companyfacts JSON for ``COMPANIES`` companies
is ingested (read, flatten, natural-key dedup,
``sinks.append_if_absent`` into facts and filings) and the marts are
built by a first ``materialize.refresh_marts_incremental``. Then:

1. generations, for half the measuring time and at least
   ``MIN_GENERATIONS``, each amending 10% of the companies, ingesting
   their re-served documents and refreshing the marts incrementally;
   the first one warms the incremental path and is not measured;
2. a short closed loop with ``nproc`` clients against the WSGI app from
   ``api.create_app`` over the refreshed marts, for goodput, then an
   open loop against it for the other half;
3. ``STREAM_BATCHES`` micro-batch of events through the upsert, HLL,
   KMV, Count-Min and histogram sinks.
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import nullcontext
from concurrent.futures import ThreadPoolExecutor

from harness import REL, Run, frame_rows, same_result
from stats import class_p50, median, open_loop_latency, percentile, tail

COMPANIES = 100
EVENT_ROWS = 2000      # rows per micro-batch
STREAM_SINKS = ("upsert", "hll", "kmv", "cm", "histogram")
AUDIT = ("created_at", "updated_at")

RATE = 8.0           # open-loop arrivals per second
CLOSED_S = 2.0       # closed-loop phase before the open loop
STREAM_BATCHES = 1
# the first generation is an unmeasured warm-up; the traced run
# alternates tracing over the others
MIN_GENERATIONS = 3
BATCH = 16           # requests per closed-loop batch
LIMIT_MS = 1000.0    # latency limit for goodput
MIX = (("company", 0.40), ("ratios", 0.40), ("screener", 0.20))
UNKNOWN_FRAC = 0.05  # unknown tickers, expect 404
INVALID_FRAC = 0.02  # invalid parameters, expect 422


# ---- requests and their independent answers -----------------------------------

def request_mix(seed: int, tickers: list[str], n: int) -> list[tuple[str, str, str]]:
    """``n`` (kind, path, query string) requests: the endpoint mix in
    exact proportions, Zipf-skewed tickers, and exact shares of unknown
    tickers and invalid parameters, in a seeded order."""
    rng = random.Random(seed)
    weights = [1.0 / (rank + 1) ** 1.1 for rank in range(len(tickers))]
    ranked = tickers[:]
    rng.shuffle(ranked)
    kinds = [k for k, share in MIX for _ in range(round(n * share))][:n]
    kinds += ["company"] * (n - len(kinds))
    rng.shuffle(kinds)
    non_screener = [i for i, k in enumerate(kinds) if k != "screener"]
    unknown = set(rng.sample(non_screener, round(n * UNKNOWN_FRAC)))
    with_params = [i for i, k in enumerate(kinds)
                   if k != "company" and i not in unknown]
    invalids = set(rng.sample(with_params, round(n * INVALID_FRAC)))
    out = []
    for i, kind in enumerate(kinds):
        ticker = f"NOPE{i}" if i in unknown else rng.choices(ranked, weights)[0]
        invalid = i in invalids
        if kind == "company":
            out.append((kind, f"/company/{ticker}", ""))
        elif kind == "ratios":
            limit = "0" if invalid else str(rng.choice((5, 10, 50)))
            out.append((kind, f"/ratios/{ticker}", f"limit={limit}"))
        else:
            qs = [f"limit={'abc' if invalid else rng.choice((10, 25, 50))}"]
            if rng.random() < 0.5:
                qs.append(f"year={rng.randint(2015, 2020)}")
            for p, vals in (("min_roe", (0.0, 0.05, 0.1)),
                            ("min_net_margin", (0.0, 0.05)),
                            ("min_fcf_margin", (0.0,))):
                if rng.random() < 0.4:
                    qs.append(f"{p}={rng.choice(vals)}")
            out.append((kind, "/screener", "&".join(qs)))
    return out


def call(app, path: str, qs: str) -> tuple[int, bytes]:
    status = []
    env = {"REQUEST_METHOD": "GET", "PATH_INFO": path, "QUERY_STRING": qs}
    body = b"".join(app(env, lambda s, h: status.append(s)))
    return int(status[0].split()[0]), body


class Expected:
    """The endpoints' answers computed with pandas from the marts'
    parquet files, independently of the engine's query builders."""

    RATIO_FIELDS = ("fiscal_year", "gross_margin", "operating_margin",
                    "net_margin", "roa", "roe", "leverage", "fcf_margin",
                    "asset_turnover")

    def __init__(self, companies_dir: str, ratios_dir: str):
        import pandas as pd

        self.comp = pd.read_parquet(companies_dir)[["cik", "ticker", "name"]]
        self.ratios = pd.read_parquet(ratios_dir)
        self.cache: dict[tuple[str, str], tuple[int, object]] = {}

    @staticmethod
    def _rows(df, fields) -> list[dict]:
        return [{f: (None if v != v else v) for f, v in zip(fields, r)}
                for r in df[list(fields)].itertuples(index=False, name=None)]

    def answer(self, path: str, qs: str) -> tuple[int, object]:
        if (path, qs) not in self.cache:
            self.cache[(path, qs)] = self._answer(path, qs)
        return self.cache[(path, qs)]

    def _answer(self, path: str, qs: str) -> tuple[int, object]:
        from urllib.parse import parse_qs

        q = {k: v[0] for k, v in parse_qs(qs).items()}
        parts = [p for p in path.split("/") if p]
        if parts[0] in ("company", "ratios"):
            hit = self.comp[self.comp.ticker == parts[1].upper()]
            if parts[0] == "ratios":
                limit = int(q.get("limit", 10))
                if not 1 <= limit <= 50:
                    return 422, None
            if hit.empty:
                return 404, {"detail": "Ticker not found"}
            if parts[0] == "company":
                return 200, self._rows(hit, ("cik", "ticker", "name"))[0]
            rows = self.ratios[self.ratios.cik == hit.cik.iloc[0]]
            rows = rows.sort_values("fiscal_year", ascending=False).head(limit)
            return 200, {"ticker": parts[1].upper(),
                         "years": self._rows(rows, self.RATIO_FIELDS)}
        try:
            limit = int(q.get("limit", 25))
            flt = {k: float(q[k]) for k in ("min_roe", "min_fcf_margin",
                                            "min_net_margin") if k in q}
        except ValueError:
            return 422, None
        if not 1 <= limit <= 200:
            return 422, None
        r = self.ratios
        if "year" in q:
            r = r[r.fiscal_year == int(q["year"])]
        for k, v in flt.items():
            r = r[r[k[4:]] >= v]
        r = r.merge(self.comp, on="cik").sort_values(
            ["fiscal_year", "roe", "cik"], ascending=[False, False, True],
            na_position="last").head(limit)
        return 200, {"results": self._rows(
            r, ("ticker", "name", "fiscal_year", "roe", "fcf_margin",
                "net_margin"))}


def same_payload(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_payload(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_payload(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return a == b or abs(a - b) <= REL * max(abs(a), abs(b))
    return a == b


# ---- the workload ---------------------------------------------------------------

def run(r: Run) -> dict:
    import pyarrow.parquet as pq

    import gen
    from sec_xbrl_finwarehouse_spark import api, materialize, serving, sinks
    from sec_xbrl_finwarehouse_spark.materialize import FACT_KEYS
    from sec_xbrl_finwarehouse_spark.plans import api_queries
    from sec_xbrl_finwarehouse_spark.plans.ratios import compute_ratios
    from sec_xbrl_finwarehouse_spark.plans.statements import build_statements
    from sec_xbrl_finwarehouse_spark.sources import companyfacts as cf_src
    from sec_xbrl_finwarehouse_spark.streaming import (
        cm_stream, histogram_stream, hll_stream, kmv_stream, stream_sink)

    w = r.work
    corpus = gen.CompanyFacts(r.seed, COMPANIES)
    sf_dir = os.path.join(w, "sf")
    os.makedirs(sf_dir)
    pq.write_table(corpus.supplier_table(), os.path.join(sf_dir, "supplier.parquet"))
    tickers = [f"CO{cik}" for cik in corpus.ciks]
    reqs = request_mix(r.seed, tickers, 5000)
    gen.CompanyFacts(r.seed + 1, 2).write(os.path.join(w, "json_warm"))

    def ingest(spark, json_dir: str, wh: str) -> None:
        facts = cf_src.dedup_facts(cf_src.flatten_facts(
            cf_src.read_companyfacts_json(spark, json_dir)))
        sinks.append_if_absent(spark, f"{wh}/filings",
                               cf_src.derive_filings(facts),
                               keys=["accession_no"])
        sinks.append_if_absent(spark, f"{wh}/facts", facts, keys=list(FACT_KEYS))

    wh, marts, stream = (os.path.join(w, d) for d in ("warehouse", "marts", "stream"))
    facts_path = f"{wh}/facts"
    sink_fns = {
        "upsert": stream_sink.foreach_batch_upsert(
            f"{stream}/events", ["event_id"], app_id="bench-events"),
        "hll": hll_stream.foreach_batch_hll(
            f"{stream}/hll", "event_type", "user_id", app_id="bench-hll"),
        "kmv": kmv_stream.foreach_batch_kmv(
            f"{stream}/kmv", "event_type", "user_id", app_id="bench-kmv"),
        "cm": cm_stream.foreach_batch_cm(
            f"{stream}/cm", "event_type", "user_id", app_id="bench-cm"),
        "histogram": histogram_stream.foreach_batch_histogram(
            f"{stream}/hist", "event_type", "value", app_id="bench-hist"),
    }
    patches = [(api_queries, "company_profile", "plans.api_compose"),
               (api_queries, "company_ratios", "plans.api_compose"),
               (api_queries, "screener", "plans.api_compose"),
               (serving, "collect_response", "serving.collect"),
               (sinks, "append_if_absent", "sinks.append_if_absent"),
               (sinks, "upsert", "sinks.upsert"),
               (sinks, "write_replace", "sinks.write_replace"),
               (materialize, "refresh_marts_incremental", "materialize.refresh"),
               (materialize, "build_statements", "plans.build_statements")]
    log: dict[str, list] = {"gen": [], "commit": [], "req": [], "late": []}
    cursor = iter(range(len(reqs)))

    def step(name: str, fn, traced: bool):
        """Run one write step; (seconds, result), or None when it failed."""
        try:
            r.job_group(f"etl.{name}" if traced else None)
            t0 = time.perf_counter()
            with r.tracer.span(name) if traced else nullcontext():
                out = fn()
            return time.perf_counter() - t0, out
        except Exception as e:  # noqa: BLE001 - the caller counts the failure, the run goes on
            r.step(name, error=f"{type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            r.job_group(None)

    def serve(app, i: int, due: float | None, phase: str, traced: bool) -> dict:
        kind, path, qs = reqs[i]
        rec = {"i": i, "kind": kind, "phase": phase, "traced": traced, "due": due}
        group = f"api.{kind}.{i}"
        r.job_group(group if traced else None)
        try:
            rec["start"] = time.perf_counter()
            with r.tracer.span("api.request", req=i) if traced else nullcontext() as sp:
                rec["status"], rec["body"] = call(app, path, qs)
            if traced:
                rec["span"], rec["jobs"] = sp["id"], r.jobs_in(group)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rec["end"] = time.perf_counter()
            r.job_group(None)
        return rec

    def check(recs: list[dict], expected: Expected) -> None:
        for rec in recs:
            _, path, qs = reqs[rec["i"]]
            want_status, want = expected.answer(path, qs)
            rec["ok"] = r.tally.record(
                "error" not in rec and rec["status"] == want_status
                and (want is None or same_payload(json.loads(rec["body"]), want)),
                f"{path}?{qs}: {rec.get('error') or rec.get('status')}")
            rec.pop("body", None)
        log["req"].extend(recs)

    def open_loop(pool, app, traced: bool, seconds: float) -> list[dict]:
        t0 = time.perf_counter() + 0.05
        futs = []
        for k in range(int(seconds * RATE)):
            due = t0 + k / RATE
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            log["late"].append((traced, max(0.0, time.perf_counter() - due)))
            futs.append(pool.submit(serve, app, next(cursor), due, "open", traced))
        return [f.result() for f in futs]

    def new_app():
        companies = sinks.read_table(spark, f"{marts}/companies")
        ratios = sinks.read_table(spark, f"{marts}/ratios_annual")
        return (api.create_app(companies, ratios),
                Expected(sinks.current_data_dir(f"{marts}/companies"),
                         sinks.current_data_dir(f"{marts}/ratios_annual")))

    # set-up: a cold JVM and session, then a warm-up ingest
    t0 = time.perf_counter()
    spark = r.start_session()
    warmed = step("warm_ingest", lambda: ingest(
        spark, os.path.join(w, "json_warm"), os.path.join(w, "warm")), False)
    r.tally.record(warmed is not None, "warm-up ingest")
    setup_s = time.perf_counter() - t0
    r.step("setup", session_start_s=r.session_start_s, setup_s=setup_s)

    # first ingest and full build (reported once, not part of a metric)
    json_bytes = corpus.write(os.path.join(w, "json0"))
    ing = step("ingest0", lambda: ingest(spark, os.path.join(w, "json0"), wh), r.trace)
    r.tally.record(ing is not None, "ingest0")
    build = step("build", lambda: materialize.refresh_marts_incremental(
        spark, facts_path, marts, sf_dir), r.trace)
    r.tally.record(build is not None, "build")
    written = sum(sinks.table_bytes(f"{wh}/{t}") for t in ("facts", "filings"))
    r.step("ingest", json_bytes=json_bytes, ingest_s=ing and ing[0],
           build_s=build and build[0], table_bytes=written)

    def generation(g: int, measured: bool, traced: bool) -> None:
        with r.tracer.patch(patches) if traced else nullcontext():
            touched = corpus.advance()
            corpus.write(os.path.join(w, f"json{g}"), touched)
            ing_g = step(f"g{g}.ingest", lambda: ingest(
                spark, os.path.join(w, f"json{g}"), wh), traced)
            ref = step(f"g{g}.refresh", lambda: materialize.refresh_marts_incremental(
                spark, facts_path, marts, sf_dir), traced)
        ok = ing_g is not None and ref is not None \
            and ref[1]["touched_ciks"] == len(touched)
        r.tally.record(ok, f"generation {g}: refresh {ref and ref[1]}, "
                           f"{len(touched)} companies amended")
        if ok and measured:
            log["gen"].append({"g": g, "traced": traced, "ingest_s": ing_g[0],
                               "refresh_s": ref[0], "touched": ref[1]["touched_ciks"]})
        r.step("generation", g=g, measured=measured, traced=traced,
               touched=len(touched), ingest_s=ing_g and ing_g[0],
               refresh_s=ref and ref[0])

    # generation 1 warms the incremental path and is not measured; the
    # traced run then alternates traced and untraced generations
    t_end = time.perf_counter() + r.seconds / 2
    g = 0
    while time.perf_counter() < t_end or g < MIN_GENERATIONS:
        g += 1
        generation(g, g > 1, r.trace and g % 2 == 0)

    # serve the refreshed marts: closed loop, then open loop
    batches: list[float] = []
    made = step("serve.app", new_app, False)
    r.tally.record(made is not None, "create_app over the refreshed marts")
    if made is not None:
        app, expected = made[1]
        warmed = step("serve.warm", lambda: [  # warm the serving path
            call(app, *next(x for x in reqs if x[0] == kind)[1:])
            for kind in ("company", "ratios", "screener")], False)
        r.tally.record(warmed is not None, "serving warm-up requests")
        open_s = r.seconds / 2
        with ThreadPoolExecutor(max_workers=r.cpus) as pool:
            # the closed loop runs first: it measures goodput and warms
            # the serving path for the open loop's latencies
            t_closed = time.perf_counter() + CLOSED_S
            while time.perf_counter() < t_closed or len(batches) < 2:
                t0 = time.perf_counter()
                recs = list(pool.map(lambda i: serve(app, i, None, "closed", False),
                                     [next(cursor) for _ in range(BATCH)]))
                batches.append(time.perf_counter() - t0)
                check(recs, expected)
            # the traced run serves traced and untraced quarters in ABBA
            # order, so drift and warm-up weigh on both alike
            for traced in (False, True, True, False) if r.trace else (False,):
                quarter = open_s / 4 if r.trace else open_s
                with r.tracer.patch(patches) if traced else nullcontext():
                    check(open_loop(pool, app, traced, quarter), expected)
    cached_left = r.persistent_rdds()
    r.step("serve", closed_batches=len(batches), open_latency_ms=[
        (x["kind"][0], round(v, 1)) for x in log["req"] if x["phase"] == "open"
        for v in _lat_ms([x])])

    # stream micro-batches through every sink, then replay the last one
    last = None  # (batch id, frame) of the last batch created
    for b in range(1, STREAM_BATCHES + 1):
        created = step(f"b{b}.make", lambda: spark.createDataFrame(
            gen.events_batch(r.seed, b, EVENT_ROWS).to_pandas()), False)
        r.tally.record(created is not None, f"batch {b} creation")
        if created is None:
            continue
        batch = created[1]
        last = (b, batch)
        with r.tracer.patch(patches) if r.trace else nullcontext():
            for name in STREAM_SINKS:
                res = step(f"b{b}.{name}", lambda: sink_fns[name](batch, b), r.trace)
                r.tally.record(res is not None, f"batch {b} {name}")
                if res is not None:
                    log["commit"].append({"sink": name, "traced": r.trace,
                                          "ms": res[0] * 1e3})
        r.step("batch", b=b, commits_ms=[round(c["ms"], 1) for c in log["commit"][-5:]])

    def checked(what: str, fn) -> None:
        """Run one end-of-run check: ``fn`` returns None when it holds,
        else a reason. A check that raises fails; the run goes on."""
        try:
            bad = fn()
        except Exception as e:  # noqa: BLE001 - counted as a failed check
            bad = f"{type(e).__name__}: {str(e)[:300]}"
        r.tally.record(bad is None, f"{what}: {bad}")

    def replay() -> str | None:
        def version():
            versions = sinks.list_versions(f"{stream}/events")
            return versions[0]["version"] if versions else None
        before = version()
        if last is None or before is None:
            return "no batch was committed"
        sink_fns["upsert"](last[1], last[0])
        after = version()
        return None if after == before else f"published version {after} over {before}"

    def fact_rows() -> str | None:
        n = sinks.read_table(spark, facts_path).count()
        return None if n == len(corpus.keys) else \
            f"{n} rows != {len(corpus.keys)} natural keys"

    def mart(name: str) -> str | None:
        stmt = build_statements(sinks.read_table(spark, facts_path), version="v3")
        scratch = stmt if name == "statements_annual" else compute_ratios(stmt)
        stored = sinks.read_table(spark, f"{marts}/{name}").drop(*AUDIT)
        return same_result(frame_rows(stored.toPandas()),
                           frame_rows(scratch.drop(*AUDIT).toPandas()))

    # stored facts, and the refreshed marts against a from-scratch build
    checked("replayed batch", replay)
    checked("facts rows", fact_rows)
    for name in ("statements_annual", "ratios_annual"):
        checked(f"{name} after refresh", lambda: mart(name))
    peak = r.peak_rss_mb()
    r.stop()
    extra = {"json_bytes": json_bytes, "written": written,
             "cached_left": cached_left, "batches": batches,
             "ingest0_s": ing and ing[0], "build_s": build and build[0]}
    return summarize(r, log, setup_s, peak, extra)


def _lat_ms(recs: list[dict]) -> list[float]:
    return [open_loop_latency(x["due"], x["start"], x["end"])["latency"] * 1e3
            for x in recs if x.get("ok", True) and "error" not in x]


def _view(log: dict, traced: bool) -> dict:
    reqs = [x for x in log["req"] if x["phase"] == "open" and x["traced"] == traced]
    lat = _lat_ms(reqs)
    # per endpoint, over the requests it answered with data: the fast
    # 404/422 answers would otherwise pull an endpoint's median down by
    # however many of them a window happened to draw
    by_kind = {k: _lat_ms([x for x in reqs if x["kind"] == k and x.get("status") == 200])
               for k, _ in MIX}
    gens = [s for s in log["gen"] if s["traced"] == traced]
    ms = [c["ms"] for c in log["commit"] if c["traced"] == traced]
    return {
        "op_p50_ms": class_p50(by_kind, dict(MIX)),
        "pooled_p50_ms": percentile(lat, 50) if lat else 0.0,
        "op_tail": tail(lat) if lat else (0.0, 0.0), "open_requests": len(lat),
        "work_s": median([s["ingest_s"] + s["refresh_s"] for s in gens]) if gens else 0.0,
        "refresh_s": median([s["refresh_s"] for s in gens]) if gens else 0.0,
        "delta_ingest_s": median([s["ingest_s"] for s in gens]) if gens else 0.0,
        "commit_p50_ms": percentile(ms, 50) if ms else 0.0,
        "commit_tail": tail(ms) if ms else (0.0, 0.0),
        "generations": len(gens), "commits": len(ms),
    }


def summarize(r: Run, log, setup_s, peak, extra) -> dict:
    m = _view(log, r.trace)
    closed = [x for x in log["req"] if x["phase"] == "closed"]
    good = sum(x["ok"] and (x["end"] - x["start"]) * 1e3 <= LIMIT_MS for x in closed)
    closed_s = sum(extra["batches"])
    r.step("report", workload="warehouse", companies=COMPANIES,
           etl_ingest_s=extra["ingest0_s"], etl_build_s=extra["build_s"],
           etl_refresh_s=m["refresh_s"], delta_ingest_s=m["delta_ingest_s"],
           generations=m["generations"],
           stream_commit_ms=m["commit_p50_ms"], commit_tail_ms=m["commit_tail"][1],
           commit_tail_percentile=m["commit_tail"][0], commits=m["commits"],
           api_rate_per_s=RATE, api_p50_ms=m["pooled_p50_ms"],
           api_class_p50_ms=m["op_p50_ms"],
           api_tail_ms=m["op_tail"][1], api_tail_percentile=m["op_tail"][0],
           open_requests=m["open_requests"],
           api_goodput_rps=good / closed_s if closed_s else 0.0,
           latency_limit_ms=LIMIT_MS, closed_batch_s=extra["batches"],
           generator_late_max_ms=max((v for _, v in log["late"]), default=0.0) * 1e3,
           json_bytes=extra["json_bytes"])
    out = {"setup_s": setup_s, "op_p50_ms": m["op_p50_ms"],
           "work_s": m["work_s"], "peak_rss_mb": peak}
    if r.trace:
        out["layers"] = layers(r, log, m, extra)
    return out


def layers(r: Run, log, traced_view, extra) -> dict:
    from tracing import fold_event_log, sum_groups

    tr = r.tracer
    gens = [s for s in log["gen"] if s["traced"]]
    n = max(1, len(gens))
    reqs = [x for x in log["req"] if x["phase"] == "open" and x["traced"] and x["ok"]]
    lay: dict[str, float] = {
        "session.start_s": r.session_start_s,
        "api.cached_rdds_left": extra["cached_left"],
        "sources.json_bytes": extra["json_bytes"],
        "sinks.bytes_written_per_input_byte": extra["written"] / extra["json_bytes"],
    }
    for kind in ("company", "ratios", "screener"):
        lat = _lat_ms([x for x in reqs if x["kind"] == kind])
        lay[f"api.{kind}_p50_ms"] = percentile(lat, 50) if lat else 0.0
        jobs = [x["jobs"] for x in reqs if x["kind"] == kind]
        lay[f"api.jobs_per_request.{kind}"] = median(jobs) if jobs else 0.0
    by_parent: dict[int, dict[str, float]] = {}
    for s in tr.spans:
        if s["parent"] is not None and s["end"] is not None:
            d = by_parent.setdefault(s["parent"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
    for name, key in (("plans.api_compose", "plans.api_compose_ms"),
                      ("serving.collect", "serving.collect_ms")):
        vals = [by_parent.get(x["span"], {}).get(name, 0.0) * 1e3 for x in reqs]
        lay[key] = median(vals) if vals else 0.0
    waits = [open_loop_latency(x["due"], x["start"], x["end"])["queue_wait"] * 1e3
             for x in reqs]
    lay["api.queue_wait_ms"] = median(waits) if waits else 0.0
    late = [v * 1e3 for t, v in log["late"] if t]
    lay["api.generator_late_ms"] = median(late) if late else 0.0
    write_spans = [s for s in tr.spans if s["name"].startswith("g")]
    for span, key in (("sinks.append_if_absent", "sinks.append_if_absent_s"),
                      ("sinks.upsert", "sinks.upsert_s"),
                      ("sinks.write_replace", "sinks.write_replace_s")):
        lay[key] = sum(s["end"] - s["start"] for s in tr.spans if s["name"] == span
                       and _under(tr, s, write_spans)) / n
    lay["materialize.refresh_self_s"] = sum(
        tr.self_time(s) for s in tr.spans if s["name"] == "materialize.refresh"
        and _under(tr, s, write_spans)) / n
    lay["materialize.touched_ciks"] = median([s["touched"] for s in gens]) if gens else 0
    lay["sinks.versions_published"] = sum(
        1 for s in tr.spans if s["name"] in ("sinks.write_replace", "sinks.append_if_absent")
        and s.get("ret") != 0 and _under(tr, s, write_spans)) / n
    # append_if_absent returns the number of part files it committed
    lay["sinks.files_written"] = sum(
        s.get("ret", 0) for s in tr.spans if s["name"] == "sinks.append_if_absent"
        and _under(tr, s, write_spans)) / n
    for name in STREAM_SINKS:
        ms = [c["ms"] for c in log["commit"] if c["traced"] and c["sink"] == name]
        lay[f"streaming.commit_ms.{name}"] = percentile(ms, 50) if ms else 0.0
    tot = sum_groups(fold_event_log(r.event_dir), "etl.g")
    lay.update({f"exec.{k}": v / n for k, v in tot.items()})
    plain = _view(log, False)
    if plain["generations"] and plain["open_requests"]:
        lay["trace.overhead.op_p50_ms"] = traced_view["op_p50_ms"] - plain["op_p50_ms"]
        lay["trace.overhead.op_tail_ms"] = traced_view["op_tail"][1] - plain["op_tail"][1]
        lay["trace.overhead.work_s"] = traced_view["work_s"] - plain["work_s"]
    return lay


def _under(tr, span: dict, roots: list[dict]) -> bool:
    """Whether ``span`` descends from one of ``roots`` (the generation
    steps), so set-up and first-build writes are not counted."""
    ids = {s["id"] for s in roots}
    p = span["parent"]
    while p is not None:
        if p in ids:
            return True
        p = tr.spans[p]["parent"]
    return False
