"""Independent DuckDB oracles for every checked output, cached per seed.

Query outputs are compared the way tools/check_contract.py does it:
its `normalize` (columns by name, rows sorted, floats as %.9g) plus its
type-parity rule (an integer SUM that DuckDB widens to HUGEINT/DECIMAL,
or any mapped type that differs, is a mismatch). Oracle time is spent
before any timer starts and is in no metric. Results are cached under
the work root keyed by workload, seed and input size, so a seed pays
for its oracles once per checkout.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import tempfile

import duckdb

_TYPEMAP = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
}


def _check_contract(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_contract", os.path.join(root, "tools", "check_contract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    path = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = path  # the tool prepends its own checkout path on import
    return mod


class Oracles:
    def __init__(self, root: str, cache_dir: str, key: str):
        self.normalize = _check_contract(root).normalize
        self.path = os.path.join(cache_dir, f"{key}.json")
        self.cache: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.cache = json.load(fh)
        self.dirty = False

    def get(self, name: str, compute):
        if name not in self.cache:
            self.cache[name] = compute()
            self.dirty = True
        return self.cache[name]

    def save(self) -> None:
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.path)

    # -- query oracles ------------------------------------------------------

    def query(self, con, name: str, sql: str) -> dict:
        def run():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            return {
                "cols": cols,
                "types": {d[0]: str(d[1]) for d in res.description},
                "rows": self.normalize(res.fetchall(), cols),
            }

        return self.get(name, run)

    def mismatch(self, want: dict, cols: list[str], dtypes: dict, rows) -> str | None:
        """None when the Spark result equals the oracle, else why not."""
        if sorted(cols) != sorted(want["cols"]):
            return f"columns {sorted(cols)} != {sorted(want['cols'])}"
        for cname, duckt in want["types"].items():
            ok = _TYPEMAP.get(duckt)
            if ok is None:
                if duckt in ("HUGEINT", "UHUGEINT") or duckt.startswith("DECIMAL"):
                    return f"type drift {cname}: duckdb={duckt}"
                continue
            if dtypes.get(cname) not in ok:
                return f"type drift {cname}: duckdb={duckt} spark={dtypes.get(cname)}"
        got = self.normalize([tuple(r) for r in rows], cols)
        if len(got) != len(want["rows"]):
            return f"{len(got)} rows != {len(want['rows'])}"
        if got != want["rows"]:
            extra = sorted(set(got) - set(want["rows"]))[:2]
            return f"values differ, e.g. {extra}"
        return None


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per {name: parquet path or SELECT}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for name, src in views.items():
        body = src if src.lstrip().upper().startswith("SELECT") else f"SELECT * FROM '{src}'"
        con.execute(f"CREATE VIEW {name} AS {body}")
    return con
