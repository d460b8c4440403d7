"""``query_mix``: registry queries over the generated sf0.1 warehouse.

Two families (``common.QUERY_FAMILIES``): relational queries bound by
scan and shuffle work, and an iterative one bound by the eager jobs
its builder runs. Set-up runs the whole mix once on small tables (the
warm-up pass). The timed region runs one pass over the mix, then more
queries in mix order while they fit in ``seconds``; each query is
followed by one full scan of orders + lineitem. An op is one query,
and the figures come from per-query medians. Every query is timed in
three spans —
build (the registry call, including any eager jobs it runs), plan
(physical planning) and exec (``toPandas``) — and every result is
checked against its DuckDB twin from ``registry.oracle_sql()`` after
the timed region.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import gen
from common import (
    QUERY_FAMILIES,
    QUERY_LAYER_KEYS,
    Laps,
    fits,
    peak_rss_mb,
    quantile,
    scan_s,
    start_session,
)
from observe import Counters, Spans, StatusStore, session_metrics

QUERY_SF = 0.1
# the warm-up pass runs the mix on small tables: it compiles the same
# code as the timed queries at a fraction of their cost
WARMUP_SF = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def results_differ(pdf, ddf) -> str | None:
    """None when a Spark result equals the DuckDB one, order- and
    column-order-insensitively (floats to 6 places); otherwise why."""
    s_cols, d_cols = sorted(pdf.columns), sorted(ddf.columns)
    if s_cols != d_cols:
        return f"columns differ: {s_cols} vs {d_cols}"
    if len(pdf) != len(ddf):
        return f"row count {len(pdf)} vs {len(ddf)}"

    def rows(df):
        return sorted(tuple(str(_norm(v)) for v in r) for r in df[s_cols].itertuples(index=False))

    for a, b in zip(rows(pdf), rows(ddf)):
        if a != b:
            return f"row differs: spark={a} duckdb={b}"
    return None


def run_queries(seed: int, seconds: float, trace: bool, cores: int, work: str) -> dict:
    import duckdb

    from bireme_spark import registry

    laps = Laps()
    spark = start_session(cores, work)
    laps.lap("session")
    sf_dir = os.path.join(work, "tables")
    gen.make_tables(seed, sf_dir, QUERY_SF)
    warm_dir = os.path.join(work, "warm-tables")
    gen.make_tables(seed, warm_dir, WARMUP_SF)
    laps.lap("tables")
    queries, oracle = registry.queries(), registry.oracle_sql()
    failures: list[str] = []
    mix = []
    for fam, qs in QUERY_FAMILIES.items():
        for name in qs:
            try:
                queries[name](spark, warm_dir).toPandas()
                mix.append((fam, name))
            except Exception as e:  # failed op; left out of the timed region
                failures.append(f"{name} (warm-up): {type(e).__name__}: {str(e)[:300]}")
    from bireme_spark.sources.tables import load_table

    scans: list[float] = []
    scan_error: list[str] = []

    def scan() -> None:
        """One timed full scan of orders + lineitem into ``scans``; after
        a scan raises, none more."""
        if scan_error:
            return
        try:
            scans.append(scan_s(lambda: [load_table(spark, sf_dir, t) for t in ("orders", "lineitem")]))
        except Exception as e:  # an unreadable table has no scan time
            scan_error.append(f"scan: {type(e).__name__}: {str(e)[:300]}")

    scan()
    scans.clear()  # the warm-up scan
    laps.lap("warmup")
    store = StatusStore(spark) if trace else None
    setup_s = laps.total

    spans = Spans()
    walls: dict[str, list[float]] = {q: [] for _, q in mix}
    layer = {q: dict.fromkeys(QUERY_LAYER_KEYS, 0.0) for _, q in mix}
    session_c = Counters()
    results: list[tuple[str, object]] = []
    attempted = len(failures)
    ops = 0
    t0 = time.perf_counter()
    # one pass over the mix, then (untraced) more queries in mix order
    # while they fit; each query is followed by one scan
    while mix and (ops < len(mix) or (not trace and fits(t0, ops, seconds))):
        fam, name = mix[ops % len(mix)]
        ops += 1
        attempted += 1
        try:
            with spans.span(f"queries.{fam}.{name}"):
                with spans.span("build") as build:
                    df = queries[name](spark, sf_dir)
                c_build = store.read() if store else Counters()
                with spans.span("plan") as plan:
                    df._jdf.queryExecution().executedPlan()
                with spans.span("exec") as ex:
                    results.append((name, df.toPandas()))
                c_exec = store.read() if store else Counters()
        except Exception as e:  # a query that raises is a failed op
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        secs = {k: s["end"] - s["start"] for k, s in zip(QUERY_LAYER_KEYS, (build, plan, ex))}
        walls[name].append(sum(secs.values()))
        lay = layer[name]
        for k, v in secs.items():
            lay[k] += v
        lay["jobs_build"] += len(c_build.jobs)
        lay["jobs_exec"] += len(c_exec.jobs)
        lay["stages"] += len(c_build.stages) + len(c_exec.stages)
        session_c = session_c + c_build + c_exec
        if not trace:
            scan()
    wall = time.perf_counter() - t0
    if trace:
        scan()
    failures += scan_error

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected, oracle_errors = {}, {}
    for name, pdf in results:
        if name not in expected and name not in oracle_errors:
            try:
                expected[name] = con.execute(oracle[name]).fetchdf()
            except Exception as e:  # no reference: the result is unchecked
                oracle_errors[name] = f"oracle: {type(e).__name__}: {str(e)[:300]}"
        why = oracle_errors.get(name) or results_differ(pdf, expected[name])
        if why:
            failures.append(f"{name}: {why}")

    # per-query medians: the figures do not depend on which queries
    # the last, partial pass over the mix reached
    per_query = {q: statistics.median(v) for q, v in walls.items() if v}
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(per_query) / sum(per_query.values()) if per_query else 0.0,
        "op_p50_s": quantile(list(per_query.values()), 0.5),
        "scan_s": quantile(scans, 0.5),
    }
    named = {
        f"query_{fam}_s": (sum(per_query.get(q, 0.0) for q in qs), "s")
        for fam, qs in QUERY_FAMILIES.items()
    }
    named["queries_run"] = (sum(len(v) for v in walls.values()), "count")
    named["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
    info = {
        "failures": failures,
        "setup_phases": laps.laps,
        "op_times": [w for v in walls.values() for w in v],
        "scan_times": scans,
        "named": named,
    }
    layers = None
    if trace:
        layers = {}
        for fam, qs in QUERY_FAMILIES.items():
            for k in QUERY_LAYER_KEYS:
                layers[f"queries.{fam}.{k}"] = sum(layer[q][k] for q in qs)
        for _, q in mix:
            layers[f"queries.{q}.wall_s"] = per_query.get(q, 0.0)
            layers[f"queries.{q}.jobs"] = layer[q]["jobs_build"] + layer[q]["jobs_exec"]
        layers.update(session_metrics(session_c, wall, cores))
        layers["session.peak_rss_mb"] = named["peak_rss_mb"][0]
        info["spans"] = spans.dump()
    return {
        "attempted": attempted,
        "failed": len(failures),
        "e2e": e2e,
        "info": info,
        "layers": layers,
    }
