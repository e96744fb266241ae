"""Correctness check: each query's Spark result against its DuckDB oracle,
with the comparison of ``tools/check_oracle.py`` (and its staged oracle
where that tool uses one).

The DuckDB side runs on a background thread while Spark computes the same
queries, so the check costs about as long as one pass of Spark work.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time


def _tools(root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    import staged_oracles

    return check_oracle, staged_oracles


def rebase_fixtures(sql: str, root: str) -> str:
    """Oracles name fixture files by an absolute path of the tree they were
    written in; point them at this checkout's ``fixtures/``."""
    return re.sub(r"'[^']*?/fixtures/", f"'{root}/fixtures/", sql)


class _Answer:
    """A fetched DuckDB result, in the shape ``check_oracle.compare`` reads."""

    def __init__(self, description, rows) -> None:
        self.description = description
        self._rows = rows

    def fetchall(self):
        return self._rows


def check(spark, specs: dict, names: list[str], data_dir: str, root: str) -> dict:
    """query name -> {"problems": [...] (empty when the query matches),
    "s": seconds the Spark side and the comparison took}."""
    check_oracle, staged_oracles = _tools(root)
    con = check_oracle.duck_connect(data_dir)
    con.execute("SET threads = 1")
    staged = {n for n in names
              if n in staged_oracles.STAGED and staged_oracles.STAGED[n][0](con)}
    answers: dict[str, object] = {}
    ready = {n: threading.Event() for n in names}

    def duck() -> None:
        for n in names:
            if n not in staged:
                try:
                    rel = con.execute(rebase_fixtures(specs[n].oracle, root))
                    answers[n] = _Answer(rel.description, rel.fetchall())
                except Exception as ex:  # noqa: BLE001 - reported per query
                    answers[n] = ex
            ready[n].set()

    worker = threading.Thread(target=duck, daemon=True)
    worker.start()
    out = {}
    for name in names:
        t = time.perf_counter()
        try:
            if name in staged:
                ready[name].wait()
                problems = staged_oracles.STAGED[name][1](spark, data_dir)
            else:
                df = specs[name].fn(spark, data_dir)
                rows = [tuple(r) for r in df.collect()]
                ready[name].wait()
                ans = answers[name]
                if isinstance(ans, Exception):
                    raise ans
                problems = check_oracle.compare(name, _Collected(df.columns, rows), ans)
        except Exception as ex:  # noqa: BLE001 - a failing query is a result
            problems = [f"{type(ex).__name__}: {ex}"]
        out[name] = {"problems": problems, "s": time.perf_counter() - t}
    worker.join()
    con.close()
    return out


class _Collected:
    """Collected Spark rows, in the shape ``check_oracle.compare`` reads."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows
