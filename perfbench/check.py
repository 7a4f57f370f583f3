"""Answer checking: DuckDB answer keys, hashed with the repository's
own oracle normalisation (``tools/check_oracle.py``), compared with
the hashed Spark results."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def load_check_oracle(repo_root: str):
    """Import ``tools/check_oracle.py`` from the checkout by path (the
    ``tools`` directory is not a package)."""
    path = os.path.join(repo_root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plain(v):
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def pandas_rows(pdf: pd.DataFrame, dtypes: list[tuple[str, str]]) -> list[tuple]:
    """Rows of a ``toPandas`` result as ``collect()`` would give them:
    NULLs as None, integral columns that pandas widened to float (a
    nullable integer) back to int, arrays as lists."""
    cols = []
    for (_name, dtype), series in zip(dtypes, (pdf.iloc[:, i] for i in range(pdf.shape[1]))):
        values = series.astype(object).where(series.notna(), None).tolist()
        if dtype in _INTEGRAL and series.dtype.kind == "f":
            values = [None if v is None else int(v) for v in values]
        elif series.dtype == object:
            values = [_plain(v) for v in values]
        cols.append(values)
    return list(zip(*cols)) if cols else [() for _ in range(len(pdf))]


class AnswerKey:
    """Expected (columns, row count, value hash) per query.

    Queries with a DuckDB oracle are keyed from it. Queries without one
    are keyed from their first Spark result in the run, so later
    executions are checked for agreement with it."""

    def __init__(self, check_oracle, sf_dir: str, oracles: dict[str, str], names):
        self.co = check_oracle
        self.keys: dict[str, tuple] = {}
        con = check_oracle.oracle_connection(sf_dir)
        try:
            for name in names:
                sql = oracles.get(name)
                if sql is None:
                    continue
                cols, rows = check_oracle.oracle_fetch(con.sql(sql))
                self.keys[name] = self._key(cols, rows)
        finally:
            con.close()

    def _key(self, cols: list[str], rows: list[tuple]) -> tuple:
        return (tuple(sorted(c.lower() for c in cols)), len(rows),
                self.co.value_hash([c.lower() for c in cols], rows))

    def check(self, name: str, pdf: pd.DataFrame, dtypes) -> str | None:
        """None when the result matches the key, else a description."""
        cols = [c.lower() for c in pdf.columns]
        got = self._key(cols, pandas_rows(pdf, dtypes))
        want = self.keys.setdefault(name, got)
        if got == want:
            return None
        return f"{name}: got cols/rows/hash {got}, want {want}"
