"""The two workloads: registry queries and the medallion pipeline
cycle, each with its output checks.

A query operation runs one registry query function and collects its result to
the client (``toPandas``); a pipeline operation runs one full
collector -> review -> ETL cycle with archival. The client is closed
loop: one operation at a time, the next only after the previous ends.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import random
import shutil
import time
from dataclasses import dataclass

import pandas as pd

import inputs
import meter as tr

# ---------------------------------------------------------------------------
# Query mixes
# ---------------------------------------------------------------------------

#: Short queries: one schema-inference job per table read at
#: construction (tpch_q5 reads six tables), sub-second execution, so
#: per-query fixed cost dominates.
INTERACTIVE = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "user_kpis",
    "events_user_sessions",
    "top3_orders_per_customer",
    "text_quality",
    "asof_last_click_before_purchase",
]

#: A multi-pass query: its BPE merge loop pins each round's state and
#: runs about twenty jobs while the DataFrame is being built.
MULTIPASS = ["bpe_merges_topn"]

#: Relative tolerance for float columns compared with the oracle:
#: summation order differs between engines (events_dwell_percentiles is
#: 1 ulp off at some scales).
REL_TOL = 1e-9


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: "<NULL>" if _isnull(v) else str(v))
        elif str(df[c].dtype).lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    # Exact columns first: floats equal within the tolerance may still
    # sort differently between the two sides.
    floats = [c for c in df.columns if df[c].dtype == "float64"]
    by = [c for c in df.columns if c not in floats] + floats
    return df.sort_values(by=by, ignore_index=True)


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when ``got`` equals ``want`` as a bag of rows (floats
    within :data:`REL_TOL`), else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _canonical(got), _canonical(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == "float64" and y.dtype == "float64":
            both_nan = x.isna() & y.isna()
            close = (x - y).abs() <= REL_TOL * pd.concat(
                [x.abs(), y.abs()], axis=1
            ).max(axis=1)
            ok = both_nan | (x == y) | close
        else:
            ok = x.astype(str) == y.astype(str)
        if not ok.all():
            i = int((~ok).to_numpy().argmax())
            return f"column {c}: {int((~ok).sum())} rows differ, e.g. {x[i]!r} vs {y[i]!r}"
    return None


class QueryMix:
    """One registry query per operation, in a seeded order per pass."""

    #: Passes the metrics cover: 56 queries, so the tail is the 82nd
    #: percentile (ten samples beyond it). It falls on the middle of the
    #: seven tpch_q5 samples, between the short queries and
    #: bpe_merges_topn; with four passes it fell on the top edge of the
    #: short queries and moved with their outliers. The first measured
    #: pass, 10-25% slower than later ones while the JVM still warms up,
    #: also weighs less.
    measured_passes = 7

    def __init__(self, names, spark, tables_dir, oracle_cache, probe, tracer, seed) -> None:
        from ai_powered_e_commerce_analytics_spark.plans import (
            oracle_sql_map,
            query_map,
        )

        self.names = list(names)
        self.spark, self.tables_dir = spark, tables_dir
        self.oracle_cache = oracle_cache
        self.probe, self.tracer = probe, tracer
        self.rng = random.Random(seed)
        self.queries = query_map()
        self.oracle_sql = oracle_sql_map()
        self.incorrect: dict[str, str] = {}
        self.failed: dict[str, str] = {}

    def passes(self):
        """Endless seeded passes, each every query exactly once."""
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            yield order

    def prepare(self) -> None:
        """Untimed: the oracle output each query is checked against."""
        self.oracles = inputs.oracle_results(
            self.tables_dir, self.oracle_cache, self.names, self.oracle_sql
        )

    def warmup(self) -> float:
        """One full pass, outputs checked against the oracles. Returns
        the pass time without the comparisons."""
        spent = 0.0
        for name in self.names:
            start = time.perf_counter()
            try:
                got = self._run(name, f"warm-{name}")
            except Exception as exc:  # noqa: BLE001 - reported, not fatal
                self.failed[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            finally:
                spent += time.perf_counter() - start
            err = compare_frames(got, self.oracles[name])
            if err:
                self.incorrect[name] = err
        return spent

    def _run(self, name: str, gid: str) -> pd.DataFrame:
        tracer, probe = self.tracer, self.probe
        probe.set_group(gid)
        with tracer.span("plans.build"):
            df = self.queries[name](self.spark, self.tables_dir)
        probe.set_group(gid + "-x")
        with tracer.span("plans.exec"):
            out = df.toPandas()
        probe.set_group(None)
        if tracer.enabled:  # kept for the executing-scan census
            self._df = df
        return out

    def op(self, name: str, gid: str) -> None:
        self._run(name, gid)

    def verify(self, name: str) -> bool:
        """Whether the query's output was correct in the checked pass."""
        return name not in self.incorrect and name not in self.failed

    def account(self, gid: str, since_exec: int, latency: float) -> None:
        """Traced run only: Spark counters of the operation just run."""
        from ai_powered_e_commerce_analytics_spark.plans.probes import (
            executing_scan_census,
        )

        p, t = self.probe, self.tracer
        build_jobs, exec_jobs = p.jobs(gid), p.jobs(gid + "-x")
        read_jobs = p.jobs(gid + "-r")
        jobs = build_jobs + exec_jobs + read_jobs
        t.add("plans.build_jobs", len(build_jobs) + len(read_jobs))
        t.add("plans.exec_jobs", len(exec_jobs))
        t.add("sources.schema_jobs", len(read_jobs))
        _add_stage_counts(t, p, jobs, exec_jobs)
        t.add("plans.python_rows", p.python_rows(jobs, since_exec))
        t.add(
            "plans.executing_scans",
            executing_scan_census(self._df)["executing_scans"],
        )
        self._df = None

    def failures(self) -> dict[str, str]:
        return {**self.failed, **self.incorrect}

    def final_check(self) -> list[str]:
        return []


def _add_stage_counts(t: tr.Tracer, p: tr.SparkProbe, jobs, exec_jobs) -> None:
    st = p.stage_metrics(jobs)
    for key, metric in (
        ("stages", "plans.stages"), ("tasks", "plans.tasks"),
        ("shuffle_read", "plans.shuffle_read_bytes"),
        ("shuffle_write", "plans.shuffle_write_bytes"),
        ("spill", "plans.spill_bytes"), ("scan", "plans.scan_bytes"),
    ):
        t.add(metric, st[key])
    t.add("plans.exec_run_ms", p.stage_metrics(exec_jobs)["run_ms"])


# ---------------------------------------------------------------------------
# Medallion pipeline cycles
# ---------------------------------------------------------------------------

PULLS_PER_CYCLE = 10          # collector flush size (collector.py:110)
MAX_ATTEMPTS = 3              # EngineConfig default (enricher.go:16-21)
#: Shares (per mille) of LLM batches whose first attempt fails (in-task
#: retry recovers it) and, for sentiment batches, whose every in-task
#: attempt fails (null-filled, then re-enriched by retry_residuals).
SOFT_FAIL_PERMILLE = 100
HARD_FAIL_PERMILLE = 30
PHASES = ("collect", "review", "etl")
POSITIVE_TOKENS = ("great", "excellent", "love", "amazing", "good", "perfect")


def _stub_client_cls():
    from ai_powered_e_commerce_analytics_spark.operators.enrich import (
        StubLLMClient,
    )

    @dataclass
    class CountingLLM(StubLLMClient):
        """The shipped stub LLM behind a counting, failure-injecting
        wrapper. Counts go to Spark accumulators; which batches fail is
        a seeded function of the batch content."""

        accs: tuple = ()
        seed: int = 0
        marker_dir: str = ""

        def __post_init__(self) -> None:
            self._attempts: dict[str, int] = {}

        def _call(self, method: str, batch: list[dict], batch_index: int):
            calls, firsts, fails, busy_us, rows, nulled = self.accs
            key = method + json.dumps(batch[0], sort_keys=True, default=str)
            n = self._attempts.get(key, 0)
            self._attempts[key] = n + 1
            calls.add(1)
            firsts.add(1 if n == 0 else 0)
            rows.add(len(batch))
            h = int(hashlib.sha1(f"{self.seed}|{key}".encode()).hexdigest()[:8], 16) % 1000
            marked = [
                os.path.exists(os.path.join(self.marker_dir, str(r["item_id"])))
                for r in batch
            ]
            start = time.perf_counter()
            try:
                if not all(marked):
                    if h < SOFT_FAIL_PERMILLE and n == 0:
                        raise RuntimeError("injected first-attempt failure")
                    if method == "classify_sentiments" and h >= 1000 - HARD_FAIL_PERMILLE:
                        if n + 1 >= MAX_ATTEMPTS:
                            for r in batch:
                                open(os.path.join(self.marker_dir, str(r["item_id"])), "w").close()
                            nulled.add(len(batch))
                        raise RuntimeError("injected persistent failure")
                return getattr(StubLLMClient, method)(self, batch, batch_index)
            except RuntimeError:
                fails.add(1)
                raise
            finally:
                busy_us.add(int((time.perf_counter() - start) * 1e6))

        def classify_sentiments(self, batch, batch_index):
            return self._call("classify_sentiments", batch, batch_index)

        def generate_reviews(self, batch, batch_index):
            return self._call("generate_reviews", batch, batch_index)

    return CountingLLM


def expected_cycle(rows: list[dict], cfg) -> pd.DataFrame:
    """Reference formulas, recomputed in pandas for every input row: the
    collector's pool assignment (rows in ``(date, product_name, price)``
    order, row i gets ``pool[i % len(pool)]`` of the pool after a seeded
    shuffle) and the stub review and sentiment rules (FIXTURES.md §7)."""
    from ai_powered_e_commerce_analytics_spark.operators.enrich import (
        make_shop_pool,
        make_user_pool,
    )

    df = pd.DataFrame(rows).sort_values(
        ["date", "product_name", "price"], ignore_index=True
    )
    for col, pool, seed in (
        ("id", make_user_pool(cfg.user_pool_size, seed=cfg.user_pool_seed),
         cfg.user_pool_seed),
        ("shop_id", make_shop_pool(cfg.shop_pool_size), cfg.shop_pool_seed),
    ):
        random.Random(seed).shuffle(pool)
        df[col] = [pool[i % len(pool)] for i in range(len(df))]
    desc = df["description"].fillna("")
    cat = df["category"].fillna("general").str.lower()
    polarity = desc.str.len().mod(2).map({0: "great", 1: "disappointing"})
    review = "A " + polarity + " " + cat + " item: " + desc.str.slice(0, 64)
    df["sentiment"] = review.str.lower().map(
        lambda r: any(t in r for t in POSITIVE_TOKENS)
    )
    return df


def expected_kpis(df: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The three KPI tables one cycle upserts, per key: mean price,
    positive and negative review counts, likeness score and its min-max
    normalization over the cycle's keys; mean price per date."""
    out = {}
    for table, key, mean_col in (
        ("user_kpis", "id", "average_spent"),
        ("shop_kpis", "shop_id", "average_profit"),
    ):
        g = df.assign(pos=df["sentiment"].astype("int64")).groupby(key)
        t = pd.DataFrame({
            mean_col: g["price"].mean(),
            "positive_reviews": g["pos"].sum(),
            "negative_reviews": g.size() - g["pos"].sum(),
        }).reset_index()
        neg = t["negative_reviews"]
        like = (t["positive_reviews"] / neg.where(neg > 0, 1)).astype("float64")
        span = like.max() - like.min()
        t["likeness_score"] = like
        t["normalized_likeness_score"] = (like - like.min()) / span if span else like * 0.0
        out[table] = t
    out["date_kpis"] = (
        df.groupby("date")["price"].mean()
        .rename("average_profit_per_day").reset_index()
    )
    return out


KPI_KEYS = {"user_kpis": "id", "shop_kpis": "shop_id", "date_kpis": "date"}


class Medallion:
    """Seeded pull batches through ``run_collector`` ->
    ``run_review_pipeline`` -> ``run_etl_pipeline`` with archival."""

    #: Passes (cycles) the metrics cover: a third would push the driver's
    #: runs of both workloads past its hour.
    measured_passes = 2

    def __init__(self, spark, work, probe, tracer, seed, rows_per_pull) -> None:
        from ai_powered_e_commerce_analytics_spark.pipeline import EngineConfig

        self.spark, self.probe, self.tracer, self.seed = spark, probe, tracer, seed
        self.rows_per_pull = rows_per_pull
        self.cfg = EngineConfig()
        self.base = os.path.join(work, "medallion")
        shutil.rmtree(self.base, ignore_errors=True)
        self.d = {
            k: os.path.join(self.base, *k.split("/"))
            for k in ("bronze/new", "bronze/archive", "silver/to_process",
                      "silver/archive", "gold", "kpi", "llm-markers")
        }
        for path in self.d.values():
            os.makedirs(path)
        sc = spark.sparkContext
        self.accs = tuple(sc.accumulator(0) for _ in range(6))
        self.factory = functools.partial(
            _stub_client_cls(), accs=self.accs, seed=seed,
            marker_dir=self.d["llm-markers"],
        )
        self.cycle_no = 0
        self.input_rows = 0
        self.input_bytes = 0
        #: Expected KPI tables: last writer wins per key, as the upsert.
        self.kpis: dict[str, pd.DataFrame] = {}
        self.problems: list[str] = []

    def passes(self):
        while True:
            yield ["cycle"]

    def prepare(self) -> None:
        pass

    def warmup(self) -> float:
        start = time.perf_counter()
        self.op("cycle", "warm-cycle")
        spent = time.perf_counter() - start
        self.verify("cycle")
        return spent

    def _pulls(self):
        pulls = inputs.make_pulls(
            self.seed, self.cycle_no, PULLS_PER_CYCLE, self.rows_per_pull
        )
        self.input_bytes += inputs.pulls_bytes(pulls)
        it = iter(pulls)
        return pulls, lambda: next(it, None)

    def op(self, _name: str, gid: str) -> None:
        from ai_powered_e_commerce_analytics_spark import pipeline

        pulls, fetch = self._pulls()
        rows = [r for p in pulls for r in p]
        snaps = set(os.listdir(self.d["gold"]))
        for f in os.listdir(self.d["llm-markers"]):
            os.remove(os.path.join(self.d["llm-markers"], f))
        t, probe = self.tracer, self.probe
        try:
            probe.set_group(f"{gid}-collect")
            with t.span("pipeline.collect"):
                a = pipeline.run_collector(
                    self.spark, fetch, self.d["bronze/new"],
                    pulls=PULLS_PER_CYCLE, config=self.cfg,
                )
            written = _count_json(self.d["bronze/new"])
            probe.set_group(f"{gid}-review")
            with t.span("pipeline.review"):
                b = pipeline.run_review_pipeline(
                    self.spark, self.d["bronze/new"], self.d["silver/to_process"],
                    self.d["bronze/archive"], config=self.cfg,
                    client_factory=self.factory,
                )
            silver_written = _count_json(self.d["silver/to_process"])
            probe.set_group(f"{gid}-etl")
            with t.span("pipeline.etl"):
                c = pipeline.run_etl_pipeline(
                    self.spark, self.d["silver/to_process"], self.d["gold"],
                    self.d["kpi"], self.d["silver/archive"], config=self.cfg,
                    client_factory=self.factory,
                )
        finally:
            probe.set_group(None)
        self.cycle_no += 1
        self.input_rows += len(rows)
        new_snaps = set(os.listdir(self.d["gold"])) - snaps
        self._pending = (rows, (a, b, c), written, silver_written, new_snaps)

    def verify(self, _name: str) -> bool:
        """Untimed checks of the cycle just run."""
        rows, results, written, silver_written, snaps = self._pending
        n = len(rows)
        bad = []
        if [r["rows"] for r in results] != [n, n, n]:
            bad.append(f"stage row counts {[r['rows'] for r in results]} != {n}")
        if _count_json(self.d["bronze/new"]) or _count_json(self.d["silver/to_process"]):
            bad.append("files left unarchived")
        self.archived_expected = getattr(self, "archived_expected", 0) + written + silver_written
        gold_rows = sum(_count_lines(os.path.join(self.d["gold"], s)) for s in snaps)
        if len(snaps) != 1 or gold_rows != n:
            bad.append(f"{len(snaps)} gold snapshots with {gold_rows} rows, input {n}")
        for table, new in expected_kpis(expected_cycle(rows, self.cfg)).items():
            old = self.kpis.get(table)
            if old is not None:
                kept = old[~old[KPI_KEYS[table]].isin(new[KPI_KEYS[table]])]
                new = pd.concat([kept, new], ignore_index=True) if len(kept) else new
            self.kpis[table] = new
        self.problems.extend(f"cycle {self.cycle_no}: {m}" for m in bad)
        return not bad

    def account(self, gid: str, since_exec: int, latency: float) -> None:
        p, t = self.probe, self.tracer
        read_jobs = p.jobs(gid + "-r")
        jobs = list(read_jobs)
        for phase in PHASES:
            phase_jobs = p.jobs(f"{gid}-{phase}")
            t.add(f"pipeline.{phase}_jobs", len(phase_jobs))
            jobs += phase_jobs
        t.add("plans.exec_jobs", len(jobs))
        t.add("sources.schema_jobs", len(read_jobs))
        _add_stage_counts(t, p, jobs, jobs)
        t.add("plans.python_rows", p.python_rows(jobs, since_exec))
        t.add("plans.exec_s", latency)

    def final_check(self) -> list[str]:
        """KPI tables read back through the engine's manifest reader and
        compared with the pandas recomputation; archive completeness."""
        from ai_powered_e_commerce_analytics_spark.sinks import read_upsert_table

        problems = list(self.problems)
        for table, want in self.kpis.items():
            got = read_upsert_table(self.spark, f"{self.d['kpi']}/{table}").toPandas()
            err = compare_frames(got, want)
            if err:
                problems.append(f"{table}: {err}")
        archived = _count_json(self.d["bronze/archive"]) + _count_json(self.d["silver/archive"])
        if archived != self.archived_expected:
            problems.append(f"archived {archived} files, written {self.archived_expected}")
        return problems

    def enrich_counts(self) -> dict[str, float]:
        calls, firsts, fails, busy_us, rows, nulled = (a.value for a in self.accs)
        return {
            "calls": calls, "retries": calls - firsts, "failures": fails,
            "busy_s": busy_us / 1e6, "rows": rows, "null_filled": nulled,
        }

    def failures(self) -> dict[str, str]:
        return {}


def _count_json(path: str) -> int:
    n = 0
    for _dp, _dirs, files in os.walk(path):
        n += sum(f.endswith(".json") for f in files)
    return n


def _count_lines(path: str) -> int:
    n = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".json"):
                with open(os.path.join(dp, f), "rb") as fh:
                    n += sum(1 for _ in fh)
    return n
