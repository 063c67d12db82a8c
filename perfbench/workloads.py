"""The benchmark's workloads: their inputs, operations and expected results.

A batch workload is a fixed list of driver-contract queries
(``__spark_entry__.queries()``); one pass builds and collects each query
once.  The serving workload is a seeded block of ``serve.QueryService``
operations; one pass sends the block once, closed loop, one client.
Expected rows come from the queries' ``oracle_sql()`` twins and from
plain SQL over the same files, both on DuckDB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb
import numpy as np

from tools.verify_local import canon

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings", "videos")


@dataclass(frozen=True)
class Workload:
    profile: str  # gen_fixture profile
    queries: tuple[str, ...] = ()
    serve: bool = False


WORKLOADS: dict[str, Workload] = {
    # Phase 1: one query from each batch family.  heavydup changes only the
    # documents and embeddings tables; the TPC-H tables equal the base
    # profile's for the same seed.
    "batch_mixed": Workload("heavydup", ("a3_global_price_stats", "g14_weighted_paths", "d10_semantic_dedup")),
    # Phase 2: the serving facade over a videos table derived from events.
    "serve_mixed": Workload("base", serve=True),
}

# One serving pass: live ops per class (85% of the pass), one hit on
# every cached artifact (12.5%) and one refresh (2.5%).  Which ops run is
# fixed; the seed picks their arguments.
LIVE_BLOCK = {"lookup": 16, "search_range": 8, "search_count": 6, "top_k": 4}
REFRESHED = "categorystats"
LIVE_OPS = tuple(LIVE_BLOCK)
CATEGORIES = ("click", "view", "purchase", "signup", "error")


def serve_block(seed: int, video_ids: list[str], cached: list[str]) -> list[tuple]:
    """The seeded op block of one serving pass: ``(kind, *args)`` tuples."""
    rng = np.random.default_rng([seed, 0x5E])
    ops: list[tuple] = [("serve", name) for name in cached] + [("refresh", REFRESHED)]
    for _ in range(LIVE_BLOCK["lookup"]):
        ops.append(("lookup", video_ids[int(rng.integers(0, len(video_ids)))]))
    for i in range(LIVE_BLOCK["search_range"]):
        if i % 2:
            lo = int(rng.integers(0, 490_000))
            ops.append(("search_range", "views", lo, lo + 1_000))
        else:
            lo = float(rng.integers(0, 2990))
            ops.append(("search_range", "length", lo, lo + 6.0))
    for _ in range(LIVE_BLOCK["search_count"]):
        conds = (("category", "eq", CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]),
                 ("views", "ge", int(rng.integers(0, 400_000))), ("rate", "le", float(rng.integers(1, 6))))
        ops.append(("search_count", conds))
    for i in range(LIVE_BLOCK["top_k"]):
        ops.append(("top_k", ("views", "length")[i % 2], int(rng.choice([5, 10, 20]))))
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


def run_op(svc, op: tuple):
    """Send one op; returns the DataFrame to collect, or None (refresh)."""
    kind, *args = op
    if kind == "search_count":
        return svc.search_count(list(args[0]))
    if kind == "refresh":
        svc.refresh(args[0])
        return None
    return getattr(svc, kind)(*args)


_SQL_OPS = {"eq": "=", "ge": ">=", "le": "<="}


def op_sql(op: tuple) -> str | None:
    """DuckDB SQL for a live op over the same videos parquet."""
    kind, *args = op
    if kind == "lookup":
        return f"SELECT * FROM videos WHERE video_id = '{args[0]}'"
    if kind == "search_range":
        col, lo, hi = args
        return f"SELECT * FROM videos WHERE {col} BETWEEN {lo!r} AND {hi!r}"
    if kind == "search_count":
        preds = " AND ".join(
            f"{c} {_SQL_OPS[o]} " + (f"'{v}'" if isinstance(v, str) else repr(v)) for c, o, v in args[0]
        )
        return f"SELECT count(*) AS num_matches FROM videos WHERE {preds}"
    if kind == "top_k":
        col, k = args
        return f"SELECT * FROM videos ORDER BY {col} DESC, video_id ASC LIMIT {k}"
    return None


def canonical(rows, cols) -> list[tuple]:
    """verify_local.canon over plain tuples; decimals compare as floats
    (a JSON artifact round trip reads them back as doubles)."""
    return canon([tuple(float(v) if isinstance(v, Decimal) else v for v in r) for r in rows], list(cols))


@dataclass
class Oracle:
    """DuckDB views over one generated directory."""

    sf_dir: str
    con: duckdb.DuckDBPyConnection = field(init=False)

    def __post_init__(self):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def rows(self, sql: str) -> list[tuple]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return canonical(res.fetchall(), cols)

    def close(self):
        self.con.close()
