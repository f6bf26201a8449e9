"""The benchmark's workloads: crawl_polite and query_suite.

Each workload function takes the run context and a started session and
returns a ``Result``. Work before the timed region (the warm-up pass)
is timed separately and lands in ``setup_s``; correctness checks run
after the timed region and are not timed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.eventlog import busy_core_s, read_dir
from perfbench.layers import PER_LAYER, SPARK_LABELS, STAGED_TABLES
from perfbench.tracing import Tracer, self_time

# --seconds sets the amount of timed work through these nominal step
# times, so one --seconds value always means the same work
ROUND_NOMINAL_S = 5.5  # one crawl_polite round at local[4]
PASS_NOMINAL_S = 20.0  # one pass over the 34 queries at local[4]

# With 250 seed titles every page host has more than 64 pages queued from
# round 1 on, so the page budget binds and each round fetches 4 x 64 pages
# whatever the seed. The crawl is breadth-first and the title pages'
# children fill the queues for several rounds, so no media fetch lands in
# a timed round (the simulator shows rounds 1-5 at 256 fetches for every
# seed in 0-59; the first media arrive in round 6 or later). With fewer
# titles media joined from round 3 or 4 in seed-dependent numbers, and
# the timings followed the seed's media count, not the engine.
CRAWL_SEEDS = 250
WARM_ROUNDS = 1  # round 0
BUDGET_HTML, BUDGET_IMG = 64, 512


@dataclass
class Context:
    root: str  # checkout root
    work: str  # this run's scratch directory
    seed: int
    seconds: int
    cores: int
    tracer: Tracer | None


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    warm_s: float  # the workload's warm-up pass, part of setup_s
    step_s: list[float]  # timed steps (rounds or passes)
    layer: dict[str, float] = field(default_factory=dict)
    # traced runs: the timed steps' windows and crawl rounds, for the
    # event-log figures read once the session has stopped
    spark_steps: list[tuple[float, float]] = field(default_factory=list)
    spark_rounds: set[int] = field(default_factory=set)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _span_or_none(tracer: Tracer | None, name: str, detail: str, label: str):
    return tracer.span(name, detail=detail, label=label) if tracer else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# crawl_polite
# ---------------------------------------------------------------------------


def _manifests(wh: str) -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(wh, "_commits", "*.json")):
        with open(path) as f:
            m = json.load(f)
        out[m["iteration"]] = m.get("summary", {})
    return out


def _table_rows(wh: str, table: str, it: int, columns=None):
    import pyarrow.parquet as pq

    d = os.path.join(wh, table, f"it={it}")
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return [pq.read_table(f, columns=columns) for f in files]


def _dir_mb(d: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(d):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total / 1e6


def crawl_polite(ctx: Context, spark) -> Result:
    from film_crawler_spark.operators.politeness import PolitenessConfig
    from film_crawler_spark.plans import crawl_loop
    from film_crawler_spark.sources.synthetic_site import SiteConfig, make_seed_ids

    rounds = max(3, math.ceil(ctx.seconds / ROUND_NOMINAL_S))
    wh = os.path.join(ctx.work, "warehouse")
    # no permanent 404s: every fetch attempt can succeed, so a dead
    # letter is a failure of the engine, not of the synthetic site
    site = SiteConfig(seed=ctx.seed, p_404=0.0)
    pol = PolitenessConfig(budget_html=BUDGET_HTML, budget_img=BUDGET_IMG)
    seeds = make_seed_ids(CRAWL_SEEDS, ctx.seed)
    timed = range(WARM_ROUNDS, WARM_ROUNDS + rounds)
    cfg = crawl_loop.CrawlConfig(
        warehouse=wh, site=site, politeness=pol, max_iterations=timed.stop)

    # one run_crawl call: frontier init and the warm rounds (JIT,
    # first-touch, first plans) are the warm-up, each later run_iteration
    # call is one timed step
    ends, walls = [], []
    run_iteration = crawl_loop.run_iteration

    def timed_iteration(*a, **k):
        t = time.perf_counter()
        try:
            return run_iteration(*a, **k)
        finally:
            ends.append(time.perf_counter())
            walls.append(ends[-1] - t)

    crawl_loop.run_iteration = timed_iteration
    try:
        t = time.perf_counter()
        res = crawl_loop.run_crawl(spark, seeds, cfg)
        crawl_s = time.perf_counter() - t
    finally:
        crawl_loop.run_iteration = run_iteration
    if [s["iteration"] for s in res["iterations"]] != list(range(timed.stop)):
        raise RuntimeError("the timed rounds did not all run (frontier drained?)")
    warm_s = ends[timed.start - 1] - t
    walls = walls[timed.start:]

    # --- checks (untimed) ---
    from film_crawler_spark.simulator import simulate

    man = _manifests(wh)
    fetched = [man[i]["fetched"] for i in range(timed.stop)]
    sim = simulate(seeds, site, pol, reverse_seeds=True, max_iterations=timed.stop)
    expected = [sum(len(v) for v in d.values()) for d in sim.per_iteration]
    seq_ok = fetched == expected
    seen_ok = man[timed[-1]]["seen_total"] == sum(fetched)
    attempted = sum(fetched[timed.start:])
    dead = sum(t.num_rows for i in timed for t in _table_rows(wh, "dead_letter", i))
    log(f"[crawl_polite] fetched per round {fetched} (simulator {expected}); "
        f"round walls {[round(w, 3) for w in walls]}, crawl wall {crawl_s:.3f}s; "
        f"dead letters {dead}")

    result = Result(
        correct=seq_ok and seen_ok, attempted=attempted, failed=dead,
        warm_s=warm_s, step_s=walls,
    )
    if ctx.tracer is not None:
        result.layer = _crawl_layers(ctx, wh, man, timed, dead)
        rs = {s.round: s for s in ctx.tracer.spans if s.name == "crawl_loop.run_iteration"}
        result.spark_steps = [(rs[r].start, rs[r].end) for r in timed]
        result.spark_rounds = set(timed)
    return result


def _crawl_layers(ctx: Context, wh: str, man: dict, timed: range, dead: int) -> dict:
    spans = ctx.tracer.spans
    out: dict[str, float] = {}

    def per_round(fn) -> float:
        return stats.median([fn(r) for r in timed])

    def in_round(name, r, detail=None):
        return [s for s in spans if s.name == name and s.round == r
                and (detail is None or s.detail == detail)]

    rounds = {s.round: s for s in spans if s.name == "crawl_loop.run_iteration"}
    out["crawl_loop.round_s"] = per_round(lambda r: rounds[r].duration)
    out["crawl_loop.floor_s"] = per_round(
        lambda r: rounds[r].duration
        - sum(s.duration for s in in_round("tableio.stage", r, "fetch_log")))
    out["crawl_loop.self_s"] = per_round(lambda r: self_time(rounds[r], spans))
    init = next(s for s in spans if s.name == "crawl_loop.run_crawl")
    out["crawl_loop.init_s"] = init.duration - sum(
        s.duration for s in spans if s.parent == init.id and s.name == "crawl_loop.run_iteration")
    for t in STAGED_TABLES:
        out[f"tableio.stage_s.{t}"] = per_round(
            lambda r, t=t: sum(s.duration for s in in_round("tableio.stage", r, t)))
    out["tableio.stage_calls"] = per_round(
        lambda r: len(in_round("tableio.stage", r)) + len(in_round("tableio.stage_empty", r)))
    for key, name in (("commit_s", "tableio.commit"), ("read_snapshot_s", "tableio.read_snapshot"),
                      ("read_log_s", "tableio.read_log")):
        out[f"tableio.{key}"] = per_round(
            lambda r, name=name: sum(s.duration for s in in_round(name, r)))
    out["tableio.staged_mb"] = per_round(
        lambda r: sum(_dir_mb(d) for d in glob.glob(os.path.join(wh, "*", f"it={r}"))))
    out["fused_staging.stage_thin_tables_s"] = per_round(
        lambda r: sum(s.duration for s in in_round("fused_staging.stage_thin_tables", r)))

    n_fetched = sum(man[r]["fetched"] for r in timed)
    n_ok = sum(man[r]["ok"] for r in timed)
    logs = [t for r in timed for t in _table_rows(wh, "fetch_log", r,
                                                   ["n_attempts", "budget_denied"])]
    denied = sum(sum(t.column("budget_denied").to_pylist()) for t in logs)
    tries = sum(sum(t.column("n_attempts").to_pylist()) for t in logs)
    out["fetch.attempts"] = float(n_fetched)
    out["fetch.ok_share"] = n_ok / n_fetched
    out["fetch.retry_share"] = (tries - (n_fetched - denied)) / max(1, n_fetched - denied)
    out["fetch.budget_denied"] = float(denied)
    out["fetch.dead_letters"] = float(dead)
    out["frontier.pending_next"] = float(man[timed[-1]]["pending_next"])
    return out


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def _oracle(data: str, names: list[str]) -> dict[str, tuple[list[str], int]]:
    """DuckDB runs each query's SQL twin on the same parquet files:
    (column names, row count) per query."""
    import duckdb

    from film_crawler_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in glob.glob(os.path.join(data, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        out = {}
        for name in names:
            sql = REGISTRY[name][1]
            cols = con.sql(sql).columns
            (n,) = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()
            out[name] = (cols, n)
        return out
    finally:
        con.close()


def query_suite(ctx: Context, spark) -> Result:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from film_crawler_spark.operators.caching import cache_scope
    from film_crawler_spark.queries import REGISTRY

    data = os.path.join(ctx.root, "perfbench", "data", "sf0.01")
    order = sorted(REGISTRY)
    random.Random(ctx.seed).shuffle(order)
    passes = max(1, int(ctx.seconds // PASS_NOMINAL_S))
    jsc = spark.sparkContext._jsc

    def run_query(name: str):
        """One query forced with a noop sink inside a cache_scope; its
        row count rides the action as an Observation. Returns (columns,
        rows, seconds)."""
        obs = Observation()
        t = time.perf_counter()
        with cache_scope():
            df = REGISTRY[name][0](spark, data)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        return df.columns, obs.get["n"], dt

    def one_pass(per_query: dict[str, list[float]]):
        """All queries once, in order. Returns the pass wall and
        {name: (columns, rows, leaked RDDs) or the exception}."""
        out = {}
        tp = time.perf_counter()
        for name in order:
            try:
                with _span_or_none(ctx.tracer, "queries.run", name, f"query.{name}"):
                    cols, n, dt = run_query(name)
                out[name] = (cols, n, jsc.getPersistentRDDs().size())
                per_query[name].append(dt)
            except Exception as e:  # a failing query is counted, not fatal
                out[name] = e
        return time.perf_counter() - tp, out

    # warm-up: every query once, cold, in the timed shape. The cold pass
    # waits on the driver (JIT, code generation, planning) with most cores
    # idle, so it runs ``ctx.cores`` queries at a time.
    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        futures = {name: pool.submit(run_query, name) for name in order}
    warm_s = time.perf_counter() - t
    leaked_after_warm = jsc.getPersistentRDDs().size()
    warm_out = {}
    for name, fut in futures.items():
        exc = fut.exception()
        warm_out[name] = exc if exc is not None else (*fut.result()[:2], leaked_after_warm)

    walls, windows, outs = [], [], []
    per_query: dict[str, list[float]] = {name: [] for name in order}
    for _ in range(passes):
        lo = time.time()
        wall, out = one_pass(per_query)
        windows.append((lo, time.time()))
        walls.append(wall)
        outs.append(out)

    # --- checks (untimed): column names and row counts against DuckDB ---
    oracle = _oracle(data, order)

    def bad(name, got) -> str | None:
        if isinstance(got, Exception):
            return f"raised {got!r:.300}"
        cols, n, leaked = got
        want_cols, want_n = oracle[name]
        if sorted(cols) != sorted(want_cols):
            return f"columns {cols} != oracle {want_cols}"
        if n != want_n:
            return f"{n} rows != oracle {want_n}"
        if leaked:
            return f"left {leaked} cached RDDs"
        return None

    wrong = {name: bad(name, warm_out[name]) for name in order}
    wrong = {name: why for name, why in wrong.items() if why}
    failed = 0
    for out in outs:
        for name in order:
            why = bad(name, out[name])
            if why:
                wrong.setdefault(name, why)
                failed += 1
    for name, why in sorted(wrong.items()):
        log(f"[query_suite] {name}: {why}")
    attempted = passes * len(order)
    log(f"[query_suite] pass walls {[round(w, 3) for w in walls]}; warm-up pass "
        f"{warm_s:.3f}s; {len(wrong)} queries failed a check")

    result = Result(
        correct=not wrong, attempted=attempted, failed=failed, warm_s=warm_s,
        step_s=walls,
    )
    if ctx.tracer is not None:
        layer = {f"queries.{n}_s": stats.median(v) for n, v in per_query.items() if v}
        layer["queries.pass_s"] = stats.median(walls)
        layer["queries.leaked_rdds"] = float(sum(
            out[n][2] for out in outs for n in order if not isinstance(out[n], Exception)))
        result.layer = layer
        result.spark_steps = windows
    return result


# ---------------------------------------------------------------------------
# shared
# ---------------------------------------------------------------------------


def _label_key(label: str) -> str:
    if label.startswith("read."):
        return "read"
    if label.startswith("query."):
        return "queries"
    return label


def spark_layers(ctx: Context, steps: list[tuple[float, float]], rounds: set[int]) -> dict:
    """Per-step Spark figures from the event log: a task belongs to the
    timed steps when its job's round is one of ``rounds``, or, for jobs
    with no round, when it started inside a step's window."""
    log = read_dir(os.path.join(ctx.work, "eventlog"))

    def inside(rnd, when):
        if rnd is not None:
            return rnd in rounds
        return any(a <= when <= b for a, b in steps)

    tasks = [t for t in log.tasks if inside(t.round, t.launch)]
    jobs = [j for j in log.jobs if inside(j.round, j.submitted)]
    n = len(steps)
    out = {"spark.jobs": len(jobs) / n}
    out["spark.idle_core_s"] = stats.median(
        [ctx.cores * (b - a) - busy_core_s(log.tasks, a, b) for a, b in steps])
    for lab in SPARK_LABELS:
        mine = [t for t in tasks if _label_key(t.label) == lab]
        out[f"spark.executor_s.{lab}"] = sum(t.run_s for t in mine) / n
        out[f"spark.cpu_s.{lab}"] = sum(t.cpu_s for t in mine) / n
        out[f"spark.tasks.{lab}"] = len(mine) / n
        out[f"spark.shuffle_mb.{lab}"] = sum(t.shuffle_mb for t in mine) / n
    return out


def complete_layers(layer: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, 0.0 where the workload does not reach the
    layer (a query pass stages no table; a crawl runs no query)."""
    return {name: float(layer.get(name, 0.0)) for name in PER_LAYER}
