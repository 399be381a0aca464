"""Benchmark inputs: the ten registry tables, seeded product pulls for
the medallion pipeline, and cached DuckDB oracle results.

The tables under ``perfbench/data/<sf>/`` are copies of the engine's
synthetic test tables (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``, data seed 42) at scale factors 0.01
and 0.001. They are fixed, so the oracle results computed once per
checkout stay valid; the run's ``--seed`` only orders the queries and
generates pipeline input.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pandas as pd

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def oracle_results(
    tables_dir: str, cache: str, names: list[str], sql: dict[str, str]
) -> dict[str, pd.DataFrame]:
    """DuckDB oracle output of each query on the tables in ``tables_dir``,
    computed on first use and kept under ``cache``, keyed by the tables'
    directory name and a hash of the SQL (some oracles take tens of
    seconds)."""
    import duckdb

    cache = os.path.join(cache, os.path.basename(tables_dir))
    os.makedirs(cache, exist_ok=True)
    out: dict[str, pd.DataFrame] = {}
    con = None
    for name in names:
        key = hashlib.sha256(sql[name].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')"
                    )
            df = con.execute(sql[name]).fetchdf()
            tmp = f"{path}.tmp{os.getpid()}"
            df.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        out[name] = pd.read_parquet(path)
    if con is not None:
        con.close()
    return out


# ---------------------------------------------------------------------------
# Medallion pipeline input
# ---------------------------------------------------------------------------

CATEGORIES = [
    "Electronics", "Food", "Clothing", "Books", "Toys",
    "Home", "Garden", "Sports", "Beauty", "Automotive",
]
_DESC_WORDS = (
    "sturdy light compact durable cheap premium red blue soft warm fast "
    "good great handy quiet classic modern simple"
).split()


def make_pulls(seed: int, cycle: int, pulls: int, rows_per_pull: int) -> list[list[dict]]:
    """The API pulls one collector flush consumes, as the reference's
    product API returns them (FIXTURES.md §1). ``(date, product_name,
    price)`` is unique within a flush so item-id and pool assignment are
    fully determined by the input."""
    rng = random.Random(f"{seed}:{cycle}")
    seen: set[tuple] = set()
    out: list[list[dict]] = []
    for _ in range(pulls):
        batch = []
        while len(batch) < rows_per_pull:
            row = {
                "product_name": f"Product_{rng.randint(1, 500)}",
                "price": round(rng.uniform(1.0, 500.0), 2),
                "quantity": rng.randint(1, 20),
                "category": rng.choice(CATEGORIES),
                "description": " ".join(
                    rng.choice(_DESC_WORDS) for _ in range(rng.randint(3, 14))
                ),
                "availability": rng.random() < 0.9,
                "discount_percentage": round(rng.uniform(0.0, 50.0), 2),
                "date": f"2024-03-{rng.randint(1, 30):02d}",
            }
            k = (row["date"], row["product_name"], row["price"])
            if k not in seen:
                seen.add(k)
                batch.append(row)
        out.append(batch)
    return out


def pulls_bytes(pulls: list[list[dict]]) -> int:
    """Generated input size: the pulls as the JSON the API would send."""
    return sum(len(json.dumps(p).encode()) for p in pulls)
