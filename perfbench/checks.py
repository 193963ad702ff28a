"""Output checks: the engine's table against the oracle replay.

Pure Python, no Spark, so the benchmark's own tests can feed it corrupted
states. Every function returns a list of problems; an empty list means the
output is correct.

Rows are plain dicts ``{"doc_id", "tokens", "n_tok", "source"}``. The
engine side is a *list* of rows (so a second live row for one key is
visible); the oracle side is ``concept_catalog_etl_spark.oracle.replay``'s
state, a dict keyed by ``doc_id``.
"""

from __future__ import annotations

import zlib

COLUMNS = ("doc_id", "tokens", "n_tok", "source")
MAX_REPORTED = 5


def row_text(row: dict) -> str:
    """The text the scan checksums per row; the Spark side builds the same
    string with ``concat_ws('|', doc_id, array_join(tokens, ','), n_tok,
    source)``."""
    return "|".join((
        row["doc_id"],
        ",".join(str(int(t)) for t in row["tokens"]),
        str(int(row["n_tok"])),
        row["source"],
    ))


def fingerprint(rows) -> tuple[int, int]:
    """(row count, order-independent checksum): the sum of each row's CRC-32."""
    n = s = 0
    for r in rows:
        n += 1
        s += zlib.crc32(row_text(r).encode())
    return n, s


def _norm(row: dict) -> dict:
    return {
        "doc_id": row["doc_id"],
        "tokens": None if row["tokens"] is None else [int(t) for t in row["tokens"]],
        "n_tok": None if row["n_tok"] is None else int(row["n_tok"]),
        "source": row["source"],
    }


def check_rows(engine_rows: list[dict], expected: dict[str, dict]) -> list[str]:
    """Row-for-row, token-for-token equality plus the table invariants:
    ``n_tok == size(tokens)`` on every row and at most one live row per
    ``doc_id``."""
    problems: list[str] = []
    seen: dict[str, dict] = {}
    for raw in engine_rows:
        r = _norm(raw)
        if r["tokens"] is None or r["n_tok"] != len(r["tokens"]):
            problems.append(f"n_tok != size(tokens) for {r['doc_id']}")
        if r["doc_id"] in seen:
            problems.append(f"more than one live row for {r['doc_id']}")
        seen[r["doc_id"]] = r
    missing = sorted(set(expected) - set(seen))
    extra = sorted(set(seen) - set(expected))
    if missing:
        problems.append(f"{len(missing)} oracle rows missing, e.g. {missing[:MAX_REPORTED]}")
    if extra:
        problems.append(f"{len(extra)} rows the oracle does not have, e.g. {extra[:MAX_REPORTED]}")
    diff = [k for k in seen.keys() & expected.keys()
            if seen[k] != {c: expected[k][c] for c in COLUMNS}]
    if diff:
        problems.append(f"{len(diff)} rows differ from the oracle, e.g. {sorted(diff)[:MAX_REPORTED]}")
    return problems


def check_lookup(engine_rows: list[dict], keys: list[str],
                 expected: dict[str, dict]) -> list[str]:
    """A point lookup returns exactly the oracle's rows for its keys."""
    want = {k: expected[k] for k in keys if k in expected}
    return [f"lookup {keys}: {p}" for p in check_rows(engine_rows, want)]


def check_fingerprint(what: str, got: tuple[int, int],
                      want: tuple[int, int]) -> list[str]:
    if tuple(got) != tuple(want):
        return [f"{what}: (rows, checksum) {tuple(got)} != expected {tuple(want)}"]
    return []


def check_counts(events_applied: int, lines: int, dlq: int, oracle_dlq: int) -> list[str]:
    out = []
    if events_applied != lines:
        out.append(f"engine applied {events_applied} events, inputs hold {lines} lines")
    if dlq != oracle_dlq:
        out.append(f"engine dead-lettered {dlq} events, oracle {oracle_dlq}")
    return out
