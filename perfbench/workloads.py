"""The benchmark workloads and their output checks.

Each workload function takes a ``Run`` (session, tracer, work dir,
operation counters) and returns a ``Result``. A workload sets itself
up (session, seeded inputs, warm-up), then repeats its cycle until the
cycles' timed work reaches ``--seconds`` (at least one cycle), then
checks the program's outputs outside the timed region.

Cycles and steps (the units of the end-to-end metrics):

| workload | cycle | step |
|---|---|---|
| olist_full_load | one full load of the landing drop into a fresh lake, from the first bronze_ingest call until metrics_build returns | a pipeline stage call |
| olist_incremental | one landing batch, from its last file closed until metrics_build returns | a pipeline stage call |
| headline_queries | one steady pass: an IVF index build plus the 29 bench queries | one query execution |
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from gen import OLIST_TABLES, OlistLanding, write_sf_tables
from spans import TABLE_OPS, Job, NullTracer, Tracer, median, span_stats

STAGES = ("bronze_ingest", "silver_conform", "gold_build", "metrics_build")
CLOCK = datetime(2024, 1, 1)
# sizes at --scale 1: a run, set-up, checks and clean-up included,
# takes about a minute on 4 cores
FULL_ORDERS = 10_000
INCR_BASE_ORDERS = 5_000
BATCH_SHARE = 0.01
QUERY_SF = 0.01
GEN_REPEATS = 3  # input generation is repeated; setup_s takes the median
CHECK_THREADS = 4  # output checks submit their Spark jobs concurrently

# the 29 queries registered with bench=True when this benchmark was
# defined; fixed here so that flagging another query does not change
# the workload
HEADLINE = (
    "entity_resolution_parts", "lsh_candidate_pairs", "ngram_jaccard_pairs",
    "ivf_index_ann_topk", "copurchase_part_pairs", "copurchase_pagerank",
    "bpe_learned_merges", "pricing_summary", "revenue_by_nation_status",
    "fact_orders_preagg", "dedup_latest", "top3_orders_per_customer",
    "doc_token_stats", "minhash_signatures", "image_pixel_stats",
    "paragraph_dedup_reassembled", "cosine_topk_bruteforce", "semantic_dedup_lsh",
    "pq_adc_topk", "tumbling_hourly_events", "sessionize_events",
    "asof_last_click_before_purchase", "promo_window_shipments", "trailing_7d_revenue",
    "nb_lang_classifier", "regional_local_supplier_revenue", "bm25_keyword_search",
    "q3_shipping_priority", "q17_small_quantity_revenue",
)
GOLD_FACTS = ("fact_orders", "fact_payments", "fact_reviews")
GOLD_DIMS = ("dim_customers", "dim_products", "dim_sellers", "dim_geolocation")
MARTS = ("metrics_revenue", "metrics_orders", "metrics_customers")
LAKE_TABLES = (
    [("silver", t) for t in OLIST_TABLES]
    + [("gold", t) for t in GOLD_DIMS + GOLD_FACTS]
    + [("metrics", t) for t in MARTS]
)


@dataclass
class Result:
    setup_s: float
    cycles: list[float]
    steps: list[float]
    # bytes the cycle left stored per byte of its input
    stored_ratio: float
    detail: dict = field(default_factory=dict)
    # traced runs: per-layer metrics from the folded event log's jobs
    layers: Callable[[list[Job]], dict[str, float]] | None = None


@dataclass
class Run:
    work: str
    seed: int
    seconds: float
    scale: float
    start_session: object  # () -> (spark, seconds)
    tracer: Tracer | NullTracer
    spark: object = None
    session_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, name: str, fn, *args):  # noqa: ANN001, ANN002, ANN201
        """One operation: counted as attempted; a raise counts as
        failed and propagates."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                return fn(*args)
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: raised")
            traceback.print_exc()
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        self.checks += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self) -> None:
        self.spark, self.session_s = self.start_session()


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _write_counts(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    new = {p: s for p, s in after.items() if before.get(p) != s}
    return {
        "commits": sum(1 for p in new if f"{os.sep}_log{os.sep}" in p and p.endswith(".json")),
        "files_written": sum(1 for p in new if p.endswith(".parquet")),
        "bytes_written": sum(new.values()),
    }


def _settle() -> None:
    """Flush dirty pages before a measured cycle, so that what the cycle
    deletes or rewrites is on disk every time rather than only when the
    kernel's writeback happened to reach it (deleting a flushed file
    costs far more on a discard-mounted disk)."""
    os.sync()


def _median_gen(make) -> tuple[float, object]:  # noqa: ANN001
    """Generate the inputs GEN_REPEATS times into fresh directories and
    keep the last; returns the median generation time."""
    times, out = [], None
    for i in range(GEN_REPEATS):
        t = time.perf_counter()
        out = make(i, i == GEN_REPEATS - 1)
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


# ------------------------------------------------------------------ olist

def _pipeline(run: Run, lake: str, landing: str, clock: datetime):  # noqa: ANN202
    from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import OlistPipeline

    return OlistPipeline(run.spark, lake, landing, clock=clock)


def _load(run: Run, pipe, steps: list[float] | None = None) -> float:  # noqa: ANN001
    t0 = time.perf_counter()
    for stage in STAGES:
        t = time.perf_counter()
        run.op(f"olist.{stage}", getattr(pipe, stage))
        if steps is not None:
            steps.append(time.perf_counter() - t)
    return time.perf_counter() - t0


def _olist_landing(run: Run, n_orders: int) -> tuple[float, OlistLanding]:
    def make(i: int, keep: bool) -> OlistLanding:
        landing = run.path(f"landing{i}")
        gen = OlistLanding(landing, run.seed, n_orders, BATCH_SHARE)
        gen.write_first()
        if not keep:
            shutil.rmtree(landing)
        return gen

    return _median_gen(make)


def _canon(spark, lake: str, layer: str, name: str):  # noqa: ANN001, ANN202
    """A lake table without processing timestamps, floats rounded."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    df = LakeTable(spark, os.path.join(lake, layer, name)).read()
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        if f.name.endswith("_ts"):
            continue
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 9)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def _diff_rows(a, b) -> int:  # noqa: ANN001
    """Rows in one table and not the other, multiplicities counted."""
    from pyspark.sql import functions as F

    cols = a.columns
    side = a.withColumn("__n", F.lit(1)).unionByName(b.withColumn("__n", F.lit(-1)))
    out = (
        side.groupBy(*cols).agg(F.sum("__n").alias("__n"))
        .agg(F.sum(F.abs("__n")).alias("d")).collect()[0]["d"]
    )
    return int(out or 0)


def _write_layers(writes: list[dict], input_bytes: list[int]) -> dict[str, float]:
    """Lake writes per cycle; write amplification against the cycle's input."""
    n = len(writes)
    return {
        "tables.commits": sum(w["commits"] for w in writes) / n,
        "tables.files_written": sum(w["files_written"] for w in writes) / n,
        "tables.bytes_written_mb": sum(w["bytes_written"] for w in writes) / n / 1e6,
        "tables.write_amp": median([w["bytes_written"] / b for w, b in zip(writes, input_bytes)]),
    }


def _call_layers(run: Run, cycles: int) -> dict:
    """Self time and calls per cycle of the wrapped table and streaming
    entry points."""
    out = {}
    names = [f"tables.{op}" for op in TABLE_OPS] + [
        "streaming.run_available_now", "streaming.incremental_runner",
    ]
    for name in names:
        spans = run.tracer.select(name)
        out[f"{name}.s"] = sum(s.self_s for s in spans) / max(cycles, 1)
        out[f"{name}.calls"] = len(spans) / max(cycles, 1)
    return out


def _check_silver_counts(run: Run, lake: str, gen: OlistLanding) -> None:
    """Each silver table holds one row per valid distinct key landed."""
    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    def count(t: str) -> int:
        return LakeTable(run.spark, os.path.join(lake, "silver", t)).read().count()

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        counts = dict(zip(OLIST_TABLES, pool.map(count, OLIST_TABLES)))
    for t in OLIST_TABLES:
        got, want = counts[t], len(gen.valid_keys[t])
        run.check(f"silver.{t}.rows", got == want, f"silver {got} rows, {want} valid keys")


def _table_digest(spark, lake: str, layer: str, name: str) -> str:  # noqa: ANN001
    rows = [tuple(r) for r in _canon(spark, lake, layer, name).collect()]
    return _digest_rows(rows)


def _olist_layers(run: Run, jobs: list[Job]) -> dict[str, float]:
    pl = {}
    for stage in STAGES:
        spans = run.tracer.select(f"olist.{stage}")
        pl[f"olist.{stage}.s"] = median([s.wall for s in spans])
        for k, v in span_stats(spans, jobs).per_call().items():
            pl[f"olist.{stage}.{k}"] = v
    return pl


def olist_full_load(run: Run) -> Result:
    t0 = time.perf_counter()
    run.session()
    gen_s, gen = _olist_landing(run, int(FULL_ORDERS * run.scale))
    drop = gen.drops[0]
    lakes, cycles, steps, writes, stored = [], [], [], [], []

    def load(measured: bool = True) -> float:
        # a fresh lake each time: no checkpoint, table or state to reuse
        lake = run.path(f"lake{len(lakes)}")
        lakes.append(lake)
        if measured:
            _settle()
        took = _load(run, _pipeline(run, lake, gen.landing, CLOCK), steps if measured else None)
        if measured:
            files = _dir_files(lake)
            cycles.append(took)
            writes.append(_write_counts({}, files))
            stored.append(sum(files.values()) / drop.bytes)
        return took

    warm_s = load(measured=False)  # cold: JIT, code generation, first plans
    setup_s = run.session_s + gen_s + warm_s
    print(f"# setup {time.perf_counter() - t0:.2f}s; drop rows={drop.total_rows} "
          f"bytes={drop.bytes}; cold load {warm_s:.2f}s", flush=True)

    run.tracer.phase = "measure"
    with run.tracer.patch():
        while sum(cycles) < run.seconds:
            load()
    run.tracer.phase = "check"
    _check_silver_counts(run, lakes[-1], gen)
    # every load of the same drop with the same clock, the cold one
    # included, writes the same gold and mart rows
    tables = [("gold", t) for t in GOLD_DIMS + GOLD_FACTS] + [("metrics", t) for t in MARTS]
    for layer, t in tables:
        digests = {_table_digest(run.spark, lake, layer, t) for lake in lakes}
        run.check(f"full_load.{layer}.{t}.stable", len(digests) == 1,
                  f"{len(digests)} different contents over {len(lakes)} loads of one drop")
    print(f"# checks done at {time.perf_counter() - t0:.2f}s", flush=True)
    res = Result(setup_s, cycles, steps, median(stored), {
        "loads": len(cycles), "drop_rows": drop.rows, "drop_bytes": drop.bytes,
        "cold_load_s": round(warm_s, 3),
    })

    def layers(jobs: list[Job]) -> dict[str, float]:
        pl = _olist_layers(run, jobs)
        pl.update(_call_layers(run, len(cycles)))
        pl.update(_write_layers(writes, [drop.bytes] * len(writes)))
        return pl

    if run.tracer.enabled:
        res.layers = layers
    return res


def olist_incremental(run: Run) -> Result:
    """Not registered in BENCHMARK.json while its equivalence check
    fails on the program's gold merges (perfbench/README.md); run it
    by name. Its incremental-to-full stage ratios and differing rows
    go to the provenance line."""
    t0 = time.perf_counter()
    run.session()
    gen_s, gen = _olist_landing(run, int(INCR_BASE_ORDERS * run.scale))
    lake = run.path("lake")
    cycles, steps, writes, growth = [], [], [], []

    def batch(measured: bool = True) -> float:
        # closed loop, one client: the next batch lands only after the
        # previous batch's marts committed
        if measured:
            _settle()
        drop = gen.write_batch(run.path("staging"))
        before = _dir_files(lake)
        clock = CLOCK + timedelta(hours=drop.seq)
        _load(run, _pipeline(run, lake, gen.landing, clock), steps if measured else None)
        took = time.perf_counter() - drop.closed_at
        if measured:
            after = _dir_files(lake)
            cycles.append(took)
            writes.append(_write_counts(before, after))
            growth.append((sum(after.values()) - sum(before.values())) / drop.bytes)
        return took

    # the base load runs cold; one batch then compiles the merge plans,
    # which first writes into empty tables never run
    base_s = _load(run, _pipeline(run, lake, gen.landing, CLOCK))
    setup_s = run.session_s + gen_s + base_s + batch(measured=False)
    print(f"# setup {time.perf_counter() - t0:.2f}s; base drop rows={gen.drops[0].total_rows} "
          f"bytes={gen.drops[0].bytes}; base load {base_s:.2f}s", flush=True)

    run.tracer.phase = "measure"
    with run.tracer.patch():
        while sum(cycles) < run.seconds:
            batch()
    run.tracer.phase = "check"
    # from scratch over the same landing files: the reference for the
    # equivalence check, and (warm) the full-load side of incr_full_ratio
    scratch = run.path("scratch_lake")
    full_steps: list[float] = []
    _load(run, _pipeline(run, scratch, gen.landing, CLOCK), full_steps)

    def diff(table: tuple[str, str]) -> int:
        layer, t = table
        return _diff_rows(_canon(run.spark, lake, layer, t), _canon(run.spark, scratch, layer, t))

    with ThreadPoolExecutor(CHECK_THREADS) as pool:  # independent Spark jobs
        diffs = dict(zip((t for _, t in LAKE_TABLES), pool.map(diff, LAKE_TABLES)))
    for layer, t in LAKE_TABLES:
        run.check(f"incr_vs_full.{layer}.{t}", diffs[t] == 0,
                  f"{diffs[t]} rows differ from a from-scratch load of the same landing files")
    _check_silver_counts(run, scratch, gen)
    print(f"# checks done at {time.perf_counter() - t0:.2f}s", flush=True)
    batches = gen.drops[2:]  # after the warm-up batch
    n = len(STAGES)
    res = Result(setup_s, cycles, steps, median(growth), {
        "batches": len(batches),
        "batch_rows": [d.total_rows for d in batches],
        "batch_bytes": [d.bytes for d in batches],
        "batch_new_updated_orders": [(d.new_orders, d.updated_orders) for d in batches],
        # median batch stage time over the same stage's time in the
        # warm from-scratch load of the check
        "incr_full_ratio": {st: round(median(steps[i::n]) / full_steps[i], 3)
                            for i, st in enumerate(STAGES)},
        "incr_vs_full_diff_rows": {t: d for t, d in diffs.items() if d},
    })

    def layers(jobs: list[Job]) -> dict[str, float]:
        pl = _olist_layers(run, jobs)
        pl.update(_call_layers(run, len(cycles)))
        pl.update(_write_layers(writes, [d.bytes for d in batches]))
        return pl

    if run.tracer.enabled:
        res.layers = layers
    return res


# ---------------------------------------------------------------- queries

def headline_queries(run: Run) -> Result:
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import release_cached
    from real_time_e_commerce_analytics_lakehouse_spark.operators.vecindex import build_ivf_index
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        KM_ROUNDS,
        _adaptive_cells,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    t0 = time.perf_counter()
    run.session()
    spark = run.spark
    names = list(HEADLINE)

    def make(i: int, keep: bool) -> str:
        d = run.path(f"sf{i}")
        write_sf_tables(d, run.seed, QUERY_SF * run.scale)
        if not keep:
            shutil.rmtree(d)
        return d

    gen_s, sf_dir = _median_gen(make)
    input_bytes = sum(_dir_files(sf_dir).values())
    rows: dict[str, list[list]] = {n: [] for n in names}

    def execute(name: str) -> list:
        def go() -> list:
            spark.catalog.clearCache()
            df = QUERIES[name].builder(spark, sf_dir)
            out = [tuple(r) for r in df.collect()]
            release_cached(df)
            rows[name].append((df.columns, out))
            return out

        return run.op(f"plans.{name}", go)

    def each_query(times: list[float] | None) -> None:
        for name in names:
            t = time.perf_counter()
            try:
                execute(name)
            except Exception:  # noqa: BLE001 - counted by run.op; next query
                continue
            if times is not None:
                times.append(time.perf_counter() - t)

    cold_t = time.perf_counter()
    each_query(None)  # cold pass: the warm-up
    cold_s = time.perf_counter() - cold_t
    setup_s = run.session_s + gen_s + cold_s
    print(f"# setup {time.perf_counter() - t0:.2f}s; cold pass {cold_s:.2f}s; "
          f"input bytes={input_bytes}", flush=True)

    emb = table(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    run.tracer.phase = "measure"
    cycles, steps, builds, stored, writes = [], [], [], 0, []
    with run.tracer.patch():
        while sum(cycles) < run.seconds:
            idx = run.path("ivf", str(len(cycles)))
            t = time.perf_counter()
            run.op("operators.vecindex.build_ivf_index", build_ivf_index,
                   spark, emb, idx, _adaptive_cells(n_emb), KM_ROUNDS)
            builds.append(time.perf_counter() - t)
            with run.tracer.span("plans.suite"):
                each_query(steps)
            cycles.append(time.perf_counter() - t)
            run.tracer.phase = "check"
            files = _dir_files(idx)
            stored = sum(files.values())
            if run.tracer.enabled:
                writes.append(_write_counts({}, files))
            shutil.rmtree(idx)
            run.tracer.phase = "measure"

    run.tracer.phase = "check"
    t_check = time.perf_counter()
    _check_queries(run, names, sf_dir, rows)
    print(f"# oracle checks {time.perf_counter() - t_check:.2f}s", flush=True)
    res = Result(setup_s, cycles, steps, stored / input_bytes, {
        "passes": len(cycles), "cold_pass_s": round(cold_s, 3),
        "ivf_build_s": [round(b, 3) for b in builds],
        "query_suite_s": round(sum(steps) / len(cycles), 3),
        "query_p50_s": round(median(steps), 4),
        "query_s": sorted(round(x, 3) for x in steps),
    })

    def layers(jobs: list[Job]) -> dict[str, float]:
        pl = {}
        for n in names:
            spans = run.tracer.select(f"plans.{n}")
            pl[f"plans.{n}.s"] = median([s.wall for s in spans])
            pl[f"plans.{n}.jobs"] = span_stats(spans, jobs).per_call()["jobs"]
        suite = span_stats(run.tracer.select("plans.suite"), jobs).per_call()
        for k in ("jobs", "exec_run_s", "shuffle_mb", "driver_only_s"):
            pl[f"plans.suite.{k}"] = suite[k]
        ivf = span_stats(run.tracer.select("operators.vecindex.build_ivf_index"), jobs)
        for k in ("jobs", "exec_run_s", "driver_only_s"):
            pl[f"operators.vecindex.build_ivf_index.{k}"] = ivf.per_call()[k]
        pl.update(_call_layers(run, len(cycles)))
        pl.update(_write_layers(writes, [input_bytes] * len(writes)))
        return pl

    if run.tracer.enabled:
        res.layers = layers
    return res


def _check_queries(run: Run, names: list[str], sf_dir: str, rows: dict) -> None:
    """Each query against its DuckDB oracle (tools/check_correctness);
    a query without one must return rows, the same on every execution."""
    from tools.check_correctness import _rowset, run_duckdb

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES

    for name in names:
        runs = rows[name]
        if not runs:
            continue  # every execution raised: already counted as failed
        cols, got = runs[-1]
        oracle = QUERIES[name].oracle
        if oracle is None:
            stable = len({_digest_rows(r) for _, r in runs}) == 1
            run.check(f"query.{name}", bool(got) and stable, "empty or unstable output")
            continue
        want, ocols = run_duckdb(oracle, sf_dir)
        ok = sorted(cols) == sorted(ocols) and _rowset(got, cols) == _rowset(want, ocols)
        if not ok and name in TIE_BREAK and sorted(cols) == sorted(ocols):
            ok = _ranked_as_specified(got, cols, want, ocols, *TIE_BREAK[name])
        run.check(f"query.{name}", ok, f"differs from its oracle ({len(got)} vs {len(want)} rows)")


# ranked outputs: query -> (id column, score column) of its ordering,
# score descending and the id ascending among ties
TIE_BREAK = {"bm25_keyword_search": ("doc_id", "bm25")}


def _ranked_as_specified(got: list[tuple], cols: list[str], want: list[tuple],
                         ocols: list[str], id_col: str, score_col: str) -> bool:
    """For documents whose scores are equal in exact arithmetic, the
    oracle's ``rank`` follows the last bit of its own float sum (terms
    added in another order), not the id tie-break. Accept when the rows
    equal the oracle's apart from ``rank``, and the program's ranks are
    1..n in the query's stated order: score descending, id ascending."""
    from tools.check_correctness import _rowset

    def without_rank(rows: list[tuple], cs: list[str]) -> list[tuple]:
        keep = [i for i, c in enumerate(cs) if c != "rank"]
        return _rowset([tuple(r[i] for i in keep) for r in rows], [cs[i] for i in keep])

    if without_rank(got, cols) != without_rank(want, ocols):
        return False
    r, i, s = cols.index("rank"), cols.index(id_col), cols.index(score_col)
    by_rank = sorted(got, key=lambda t: t[r])
    specified = sorted(got, key=lambda t: (-t[s], t[i]))
    return [t[r] for t in by_rank] == list(range(1, len(got) + 1)) and by_rank == specified


def _digest_rows(rows: list[tuple]) -> str:
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


WORKLOADS = {
    "olist_full_load": olist_full_load,
    "olist_incremental": olist_incremental,
    "headline_queries": headline_queries,
}
