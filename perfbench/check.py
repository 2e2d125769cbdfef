"""Results check: each query against its DuckDB oracle twin.

The comparison is the one ``scripts/verify.py`` makes (columns compared
by sorted lower-cased name, rows compared order-insensitively after its
float normalization, then its type-kind audit of the oracle's Arrow
schema); its helpers are imported, not copied.  A query without an
oracle whose name ends in ``_approx`` checks its row count against the
exact twin's oracle; any other rows-only query checks that it returned
rows.
"""

from __future__ import annotations

import os
import sys


class OracleCheck:
    def __init__(self, root: str, data_dir: str, queries: dict) -> None:
        sys.path.insert(0, os.path.join(root, "scripts"))
        import duckdb
        import verify

        self._v = verify
        self._queries = queries
        self._con = duckdb.connect()
        for t in verify.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, df) -> tuple[bool, str]:
        """(ok, reason) for the rows *df* holds."""
        v = self._v
        srows = [tuple(r) for r in df.collect()]
        oracle = self._queries[name].oracle
        if oracle is None:
            twin = self._queries.get(name.removesuffix("_approx"))
            if twin is not None and twin.oracle is not None:
                n = self._con.execute(f"SELECT count(*) FROM ({twin.oracle}) t").fetchone()[0]
                return len(srows) == n, f"rows {len(srows)} vs exact twin {n}"
            return len(srows) > 0, f"rows-only: {len(srows)} rows"
        cur = self._con.execute(oracle)
        odesc = [c for c, *_ in cur.description]
        orows = cur.fetchall()
        scols = sorted(c.lower() for c in df.columns)
        if scols != sorted(c.lower() for c in odesc):
            return False, f"schema {scols} vs {sorted(odesc)}"
        sidx = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(df.columns))]
        oidx = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(odesc))]
        s_sorted = v.norm_rows(tuple(r[i] for i in sidx) for r in srows)
        o_sorted = v.norm_rows(tuple(r[i] for i in oidx) for r in orows)
        if len(s_sorted) != len(o_sorted):
            return False, f"rowcount {len(s_sorted)} vs {len(o_sorted)}"
        if s_sorted != o_sorted:
            return False, "value mismatch"
        bad = v.kind_audit(
            df, self._con.execute(f"SELECT * FROM ({oracle}) __kind_probe LIMIT 0").arrow()
        )
        if bad:
            return False, f"type-kind mismatch {bad}"
        return True, f"{len(s_sorted)} rows"
