"""Expected job outputs from the registry's DuckDB oracles.

Each op's expected result is reduced to a row count plus an
order-insensitive digest of its canonical rows, using the same
canonicalisation the repo's parity tests use (``tests/parity.py``), so
a job verifies here exactly when it would pass the parity check.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import pandas as pd

from cdc_pubsub_spark.registry import REGISTRY
from tests.parity import canonical_rows, duck_connection


@dataclass(frozen=True)
class Expected:
    rows: int
    digest: str
    msgs: int  # messages one verified run of the op delivers


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """Row count and sha256 over the sorted canonical rows."""
    rows = canonical_rows(pdf)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(pdf.columns)).encode())
    for row in rows:
        h.update(b"\x1e")
        h.update("\x1f".join(row).encode())
    return len(rows), h.hexdigest()


def expected_outputs(
    sf_dir: str, ops: tuple[str, ...], sink_columns: dict[str, str]
) -> dict[str, Expected]:
    """Every op's expected output on the (read-only) tree at ``sf_dir``.

    An op listed in ``sink_columns`` delivers the sum of that oracle
    column as messages (changefeed lines landed in its topic sinks);
    any other op delivers its result rows. Results are cached in the
    tree's directory, keyed by the oracle SQL and the counted column, so
    a changed oracle is re-run.
    """
    cache_path = os.path.join(sf_dir, "expected.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    out, con = {}, None
    try:
        for op in ops:
            sql = REGISTRY[op].oracle
            if sql is None:
                raise ValueError(f"{op} has no DuckDB oracle to verify against")
            col = sink_columns.get(op)
            key = hashlib.sha256(f"{op}\0{col}\0{sql}".encode()).hexdigest()
            if key not in cache:
                con = con or duck_connection(sf_dir)
                pdf = con.sql(sql).df()
                n, dig = digest(pdf)
                msgs = int(pdf[col].sum()) if col else n
                cache[key] = asdict(Expected(rows=n, digest=dig, msgs=msgs))
            out[op] = Expected(**cache[key])
    finally:
        if con is not None:
            con.close()
            tmp = f"{cache_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, cache_path)
    return out


def matches(expected: Expected, columns: list[str], rows: list) -> bool:
    """True when collected Spark rows equal the oracle's, in any order."""
    if len(rows) != expected.rows:
        return False
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return digest(pdf) == (expected.rows, expected.digest)
