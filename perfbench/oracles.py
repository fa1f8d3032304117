"""Correctness checks behind ``error_rate``.

- :func:`fold_changes` is the last-write-wins fold (by ``lsn``) of a
  change feed: the state a keyed CDC sink must hold after applying it.
- :class:`BatchChecker` compares a query's Arrow result with its DuckDB
  oracle SQL in the canonical form of ``tests/oracle_harness.py``. The
  oracle answers are cached on disk, keyed on the SQL and on the input
  files' sizes and mtimes, so they are computed once per data set and
  never inside a timed window.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_harness import canonical_rows, duckdb_con


def fold_changes(events) -> dict[str, dict]:
    """``events``: iterable of ``(lsn, key, after_or_None)``. Returns the
    surviving rows by key; a delete removes the key, a later insert of
    the same key brings it back."""
    state: dict[str, tuple[int, dict | None]] = {}
    for lsn, key, after in events:
        cur = state.get(key)
        if cur is None or lsn > cur[0]:
            state[key] = (lsn, after)
    return {k: row for k, (_, row) in state.items() if row is not None}


def _pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    return [str(c) for c in pdf.columns], [tuple(t[1:]) for t in pdf.itertuples(name=None)]


def digest_pandas(pdf) -> str:
    """Canonical-form hash of a pandas result (column order and row
    order do not matter; value type classes do)."""
    cols, rows = _pandas_rows(pdf)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in canonical_rows(cols, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def digest(table) -> str:
    """Canonical-form hash of an Arrow result, fetched through pandas as
    the harness fetches both engines."""
    return digest_pandas(table.to_pandas())


def data_fingerprint(data_dir: str) -> str:
    parts = []
    for name in sorted(os.listdir(data_dir)):
        st = os.stat(os.path.join(data_dir, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


class BatchChecker:
    """Expected digests per query: the oracle's where one applies to this
    data, else the query's own first-call result."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fp = data_fingerprint(data_dir)
        self._con = None

    def _cache_path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(f"{self.fp}|{name}|{sql}".encode()).hexdigest()[:24]
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def oracle_digest(self, name: str, sql: str) -> str:
        path = self._cache_path(name, sql)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["digest"]
        if self._con is None:
            self._con = duckdb_con(self.data_dir)
        d = digest_pandas(self._con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"digest": d}, f)
        os.replace(tmp, path)
        return d

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
