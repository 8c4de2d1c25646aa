"""Output checks.

Query rows are compared with digests of their DuckDB ``oracle_sql()``
results, computed once by ``regen_digests.py`` and committed in
``oracle_digests.json``.  A digest hashes the rows as
``tools/check_correctness.py`` compares them: columns sorted by name,
rows sorted by ``normalize``, floats as exact doubles and every other
value by its string form, so two results share a digest exactly when
``values_close`` holds for every pair of values.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "oracle_digests.json")


def load_check_correctness(root: str):
    """``tools/check_correctness.py`` of the checkout at ``root``."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(v + 0.0)  # -0.0 == 0.0, as in values_close
    return str(v)


def rows_digest(cc, rows, cols) -> dict:
    """Digest record of a result: row count, column names and a hash.
    ``cc`` is the check_correctness module."""
    norm, sorted_cols = cc.normalize([tuple(r) for r in rows], list(cols))
    h = hashlib.sha256()
    for row in norm:
        h.update("\x1f".join(_canon(v) for v in row).encode())
        h.update(b"\x1e")
    return {
        "rows": len(norm),
        "columns": [c.lower() for c in sorted_cols],
        "sha256": h.hexdigest(),
    }


def spark_digest(cc, df) -> dict:
    return rows_digest(cc, df.collect(), df.columns)


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def _rounded(v, digits: int):
    """``v`` with every float, also inside a JSON string, rounded to
    ``digits`` significant digits."""
    if isinstance(v, float):
        return float(f"{v:.{digits}g}")
    if isinstance(v, list):
        return [_rounded(x, digits) for x in v]
    if isinstance(v, dict):
        return {k: _rounded(x, digits) for k, x in v.items()}
    if isinstance(v, str) and v[:1] in "[{":
        try:
            return json.dumps(_rounded(json.loads(v), digits), sort_keys=True)
        except ValueError:
            return v
    return v


def same_rows(cc, got, want, cols, digits: int | None = None) -> bool:
    """Order-insensitive row equality under ``values_close``; with
    ``digits``, floats are first rounded to that many significant
    digits."""
    def prep(rows):
        rows = [tuple(r) for r in rows]
        if digits:
            rows = [tuple(_rounded(v, digits) for v in r) for r in rows]
        return cc.normalize(rows, list(cols))[0]

    a, b = prep(got), prep(want)
    return len(a) == len(b) and all(
        len(ra) == len(rb) and all(cc.values_close(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(a, b)
    )
