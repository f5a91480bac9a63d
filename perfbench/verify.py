"""Output checks: the engine's DuckDB oracles where they run in
seconds, recorded digests of canonicalized rows where they do not."""

from __future__ import annotations

import hashlib
import json
import os

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[list]:
    """Rows with columns in name order, values canonicalized the way
    ``pim_orc_spark.oracle._canon`` does, sorted order-insensitively."""
    from pim_orc_spark.oracle import _canon

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [[_canon(r[i]) for i in order] for r in rows]
    return sorted(canon, key=lambda r: json.dumps(r, default=repr))


def digest(columns: list[str], rows: list[tuple]) -> str:
    payload = {
        "columns": sorted(columns),
        "rows": canonical_rows(columns, rows),
    }
    return hashlib.sha256(json.dumps(payload, default=repr).encode()).hexdigest()


def load_digests() -> dict:
    try:
        with open(DIGESTS_PATH) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def check(df, slot: str, sf_dir: str, oracle_sql: str | None, digests: dict, corpus: str) -> tuple[bool, str]:
    """(ok, message) for one slot's output DataFrame."""
    if slot in digests:
        rec = digests[slot]
        if rec.get("corpus") != corpus:
            return False, f"digest recorded for corpus {rec.get('corpus')}, inputs are {corpus}"
        got = digest(list(df.columns), [tuple(r) for r in df.collect()])
        return (got == rec["sha256"]), ("ok (digest)" if got == rec["sha256"] else f"digest {got[:12]} != {rec['sha256'][:12]}")
    if oracle_sql is None:
        return False, "no oracle and no recorded digest"
    from pim_orc_spark.oracle import compare

    return compare(df, oracle_sql, sf_dir)
