"""Order-insensitive output fingerprints: row count plus a hash of the
rows after ``unimib_simpss_spark.testing``'s normalisation (column
order by name, floats to 12 significant digits, rows sorted)."""

from __future__ import annotations

import hashlib
import json
import os

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    from unimib_simpss_spark.testing import _norm_rows

    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in _norm_rows(list(columns), [tuple(r) for r in rows]):
        h.update(repr(r).encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


def of_dataframe(df) -> dict:
    return fingerprint(list(df.columns), df.collect())


def load_pinned() -> dict:
    with open(PINNED) as f:
        return json.load(f)


def check(name: str, got: dict, pinned: dict) -> str | None:
    """None when ``got`` matches the pin, else a one-line reason."""
    want = pinned.get("queries", {}).get(name)
    if want is None:
        return f"{name}: no pinned fingerprint"
    if got["rows"] != want["rows"]:
        return f"{name}: {got['rows']} rows, pinned {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"{name}: value hash {got['hash']} != pinned {want['hash']}"
    return None
