"""Output checks, run outside the timed region.

The reference side never touches the engine: DuckDB recomputes the corpus
from the same flat parquet with the engine's own exact-integer derivation
SQL (``sources/derive.py``), searches are compared with a brute-force
numpy scan of that table, and batch jobs with the repo's DuckDB oracle
builders.  Expected row sets are cached by a digest of the oracle SQL and
the corpus fingerprint, so a repeated seed skips the oracle.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np

from hilbert_curve_spark.sources import derive

from . import inputs


def canonical(rows) -> list[tuple]:
    """Rows (Spark Rows or tuples) as sorted tuples of plain ints/strings."""
    out = []
    for r in rows:
        out.append(tuple(int(v) if isinstance(v, (int, np.integer)) else str(v) for v in r))
    out.sort()
    return out


class Reference:
    """DuckDB copy of the corpus plus a numpy view for the search checks."""

    def __init__(self, corpus_dir: str, corpus_fp: str, amp: int):
        self.fp = corpus_fp
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute(f"SET temp_directory = '{inputs.STATE}/duckdb-tmp'")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_dir}/documents.parquet')"
        )
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{corpus_dir}/events.parquet')"
        )
        self.con.execute(
            f"CREATE TABLE doc_geo AS {derive.doc_geo_select_sql('documents', amp)} ORDER BY doc_key"
        )
        df = self.con.execute("SELECT * FROM doc_geo ORDER BY doc_key").fetchdf()
        self.doc_id = df["doc_key"].to_numpy()
        self.x = df["x"].to_numpy(np.int64)
        self.y = df["y"].to_numpy(np.int64)
        self.kw = df[[f"kw{j}" for j in range(derive.KW_PER_DOC)]].to_numpy()
        self.pos = {d: i for i, d in enumerate(self.doc_id)}

    # -- brute-force search references ------------------------------------

    def in_box(self, box) -> np.ndarray:
        x_lo, x_hi, y_lo, y_hi = box
        return (self.x >= x_lo) & (self.x <= x_hi) & (self.y >= y_lo) & (self.y <= y_hi)

    def kw_any(self, kws) -> np.ndarray:
        return np.isin(self.kw, kws).any(axis=1)

    def kw_all(self, kws) -> np.ndarray:
        m = np.ones(len(self.x), dtype=bool)
        for k in kws:
            m &= (self.kw == k).any(axis=1)
        return m

    def dist2(self, qx: int, qy: int) -> np.ndarray:
        return (self.x - qx) ** 2 + (self.y - qy) ** 2

    def ids(self, mask: np.ndarray) -> list[tuple]:
        return sorted((str(d),) for d in self.doc_id[mask])

    def knn(self, qx: int, qy: int, k: int) -> list[tuple]:
        d2 = self.dist2(qx, qy)
        order = np.lexsort((self.doc_id, d2))[:k]
        return [(str(self.doc_id[i]), int(d2[i])) for i in order]

    def live_mask(self, live: set) -> np.ndarray:
        m = np.zeros(len(self.x), dtype=bool)
        m[[self.pos[d] for d in live]] = True
        return m

    # -- DuckDB oracles ---------------------------------------------------

    def oracle(self, sql: str, extra=None, prepare=None) -> list[tuple]:
        """Run an oracle query, caching its canonical rows by SQL + corpus
        (+ ``extra``: whatever else the SQL's tables depend on; ``prepare``
        builds those tables, and runs only when the cache misses)."""
        key = inputs.digest([sql, self.fp, extra])
        path = os.path.join(inputs.STATE, "expected", key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return [tuple(r) for r in json.load(f)]
        if prepare is not None:
            prepare()
        rows = canonical(self.con.execute(sql).fetchall())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(path + ".tmp", path)
        return rows

    def region_table(self, name: str, box) -> None:
        x_lo, x_hi, y_lo, y_hi = box
        self.con.execute(
            f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM doc_geo "
            f"WHERE x BETWEEN {x_lo} AND {x_hi} AND y BETWEEN {y_lo} AND {y_hi}"
        )

    def close(self) -> None:
        self.con.close()
