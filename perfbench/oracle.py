"""Untimed correctness pass: each distinct query of a run against DuckDB.

Φ queries compare with ``phi_to_sql(q, relation_sql=catalog.SALES_VIEW_SQL)``
and registry operators with ``registry.oracle_sqls`` resolved at the run's
own data directory; an operator without an oracle only has to return rows.
Frames are compared exactly after ``scripts/crosscheck.py``'s ``canon``.
Each oracle runs on a helper thread while Spark collects.  The pass has a
time budget and each oracle a cap; queries past either stay unchecked and
are reported so.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb
import pandas as pd


@dataclass
class Check:
    label: str
    collect: Callable[[], pd.DataFrame]  # the program's output
    oracle_sql: str | None  # None: rows-only check


def _canon(repo: str):
    path = os.path.join(repo, "scripts", "crosscheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_crosscheck", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)  # the script prepends a fixed checkout path
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


def _differs(canon, got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    try:
        got, exp = canon(got), canon(exp)
        if list(got.columns) != list(exp.columns):
            return f"columns {list(got.columns)} vs {list(exp.columns)}"
        if len(got) != len(exp):
            return f"rows {len(got)} vs {len(exp)}"
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=0, atol=0)
    except AssertionError as exc:
        return str(exc).replace("\n", " | ")[:300]
    return None


def run_checks(
    checks: list[Check], sf_dir: str, tables, budget_s: float, cap_s: float, repo: str
) -> dict:
    """Check queries in order until ``budget_s`` is spent and at least one
    query is checked.  An oracle that takes longer than ``cap_s`` is
    abandoned and its query counted as unchecked, not wrong.  Returns ``{"checked", "slow_oracle", "wrong"}``;
    ``wrong`` lists ``(label, reason)`` for every output that differs."""
    canon = _canon(repo)
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    wrong: list[tuple[str, str]] = []
    slow: list[str] = []
    checked = 0
    t_end = time.perf_counter() + budget_s
    with ThreadPoolExecutor(max_workers=1) as pool:
        for c in checks:
            if time.perf_counter() > t_end and checked:
                break
            fut = pool.submit(lambda s=c.oracle_sql: con.sql(s).df()) if c.oracle_sql else None
            try:
                got = c.collect()
                if fut is None:
                    reason = None if len(got) else "no rows"
                else:
                    try:
                        exp = fut.result(timeout=cap_s)
                    except TimeoutError:
                        con.interrupt()
                        fut.exception()  # wait for the interrupted query to end
                        slow.append(c.label)
                        continue
                    reason = _differs(canon, got, exp)
            except Exception as exc:  # a query that cannot be checked is wrong
                reason = f"{type(exc).__name__}: {str(exc)[:200]}"
            checked += 1
            if reason is not None:
                wrong.append((c.label, reason))
    con.close()
    return {"checked": checked, "slow_oracle": slow, "wrong": wrong}
