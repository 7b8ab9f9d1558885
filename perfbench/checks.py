"""Input and output checks, never timed.

- Registry input: every parquet file of the sf directory matches its
  ``SHA256SUMS`` line, so the run reads the test data it claims to.
- Oracle-checked registry queries: the last result must equal DuckDB's
  run of ``QueryDef.oracle`` over the same tables, compared with
  ``tools/oracle_check.py``'s ``canon``/``compare``.
- Rows-only queries: the row count must be the same in every pass.
- Served balances: equal to the generator's model within a small
  relative tolerance (double sums are summed in another order).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import sys

REL_TOL = 1e-9
ABS_TOL = 1e-9


@functools.lru_cache(maxsize=1)
def _oracle_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import oracle_check

    return oracle_check


@functools.lru_cache(maxsize=2)
def _duck(sf_dir: str):
    import duckdb

    from ethereum_analytical_db_spark.plans.registry import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def verify_inputs(sf_dir: str) -> None:
    """Raise unless the files of ``sf_dir`` are exactly those its
    ``SHA256SUMS`` lists, with those digests."""
    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        want = {name: digest for digest, name in (line.split() for line in f)}
    have = sorted(n for n in os.listdir(sf_dir) if n != "SHA256SUMS")
    if have != sorted(want):
        raise ValueError(f"{sf_dir} holds {have}, SHA256SUMS lists {sorted(want)}")
    for name, digest in want.items():
        with open(os.path.join(sf_dir, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise ValueError(f"{sf_dir}/{name} does not match SHA256SUMS")


def check_query(qdef, sf_dir: str, outs: list) -> str | None:
    """None when the query's results are right, else what is wrong."""
    if not outs:
        return "no successful execution"
    counts = {len(o) for o in outs}
    if len(counts) != 1:
        return f"row count differs between passes: {sorted(counts)}"
    if qdef.oracle is None:
        return None
    want = _duck(sf_dir).execute(qdef.oracle).fetchdf()
    problems = _oracle_module().compare(qdef.name, outs[-1], want)
    return "; ".join(problems) or None


def compare_balances(got: dict[str, float], want: dict[str, float]) -> str | None:
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"addresses differ: missing {missing}, unexpected {extra}"
    for addr, w in want.items():
        g = got[addr]
        if g is None or not math.isclose(g, w, rel_tol=REL_TOL, abs_tol=ABS_TOL):
            return f"{addr}: served {g!r}, model {w!r}"
    return None
