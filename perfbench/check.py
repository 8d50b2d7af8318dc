"""Output check, run outside the timed region.

Oracle-backed keys are compared with their DuckDB oracle using the
repository's parity recipe (scripts/verify_keys.py): columns sorted by
name, every value through pandas ``astype(str)`` with no rounding on
the compare side, rows sorted, one md5 over the rows. Keys without an
oracle must return rows, and the same number on every execution.

An oracle answer is a pure function of its SQL, the DuckDB version and
the input files, so it may be memoised on disk under exactly that key.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from ojo_daps_mirror_spark.sources import TABLES


def result_hash(pdf) -> tuple[int, str]:
    """(row count, value hash) of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(map(tuple, pdf[cols].astype(str).values.tolist()))
    h = hashlib.md5()
    h.update("\x1f".join(cols).encode())
    h.update(b"\x1d")
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


class Oracles:
    """DuckDB oracle answers, one connection per input directory, memoised
    in ``cache_dir`` when one is given."""

    def __init__(self, oracle_sql: dict[str, str], cache_dir: str | None = None) -> None:
        self.sql = oracle_sql
        self.cache_dir = cache_dir
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def expected(self, key: str, data_dir: str) -> tuple[int, str] | None:
        """The oracle's (rows, hash), or None for a rows-only key."""
        if key not in self.sql:
            return None
        if self.cache_dir is None:
            return self._run(key, data_dir)
        inputs = [duckdb.__version__, self.sql[key]]
        for t in TABLES:
            path = f"{data_dir}/{t}.parquet"
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    inputs.append(hashlib.sha256(fh.read()).hexdigest())
        tag = hashlib.sha256(json.dumps(inputs).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{tag}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        want = self._run(key, data_dir)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(want, fh)
        os.replace(path + ".tmp", path)
        return want

    def _run(self, key: str, data_dir: str) -> tuple[int, str]:
        con = self._cons.get(data_dir)
        if con is None:
            con = self._cons[data_dir] = duckdb.connect()
            for t in TABLES:
                path = f"{data_dir}/{t}.parquet"
                if os.path.exists(path):  # a capped corpus has documents only
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return result_hash(con.sql(self.sql[key]).df())


def verdicts(
    observed: dict[tuple[str, str], list], oracles: Oracles
) -> dict[tuple[str, str], list[bool]]:
    """Per (dataset dir, key), one pass/fail per execution.

    ``observed`` holds, per execution, the (rows, hash) of the result or
    None if the execution raised.
    """
    out = {}
    for (data_dir, key), results in observed.items():
        want = oracles.expected(key, data_dir)
        if want is None:
            counts = {r[0] for r in results if r is not None}
            stable = len(counts) == 1 and counts.pop() > 0
            out[(data_dir, key)] = [r is not None and stable for r in results]
        else:
            out[(data_dir, key)] = [r == want for r in results]
    return out
