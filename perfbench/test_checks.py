"""The checker rejects corrupted states.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: a small binlog from the benchmark's generator is replayed by the
oracle, the oracle's own rows stand in for the engine's table, and each
test corrupts them one way.
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from concept_catalog_etl_spark import oracle  # noqa: E402


@pytest.fixture(scope="module")
def replayed(tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog")
    files, line_keys, _ = gen.write_binlog(str(d), "t", 3, 2_000, 300, (5, 0), start_lsn=0)
    state, _schema, stats = oracle.replay(files)
    return files, line_keys, state, stats


def rows_of(state):
    return [copy.deepcopy(r) for r in state.values()]


def test_clean_state_passes(replayed):
    _files, _lk, state, stats = replayed
    assert stats["dlq"] > 0 and stats["deletes"] > 0
    assert checks.check_rows(rows_of(state), state) == []


def test_one_changed_token_is_rejected(replayed):
    state = replayed[2]
    rows = rows_of(state)
    rows[0]["tokens"][0] += 1
    assert checks.check_rows(rows, state)
    assert checks.check_fingerprint("scan", checks.fingerprint(rows),
                                    checks.fingerprint(state.values()))


def test_extra_live_row_is_rejected(replayed):
    state = replayed[2]
    rows = rows_of(state)
    rows.append(copy.deepcopy(rows[-1]))
    problems = checks.check_rows(rows, state)
    assert any("more than one live row" in p for p in problems)


def test_resurrected_delete_is_rejected(replayed):
    files, _lk, state, _stats = replayed
    # a key whose last event is a delete: present in the input, absent from
    # the oracle's final state; give it back a row
    deleted = None
    for path in files:
        with open(path) as f:
            for line in f:
                if '"op":"delete"' in line:
                    k = line.split('"doc_id":"')[1].split('"')[0]
                    if k not in state:
                        deleted = k
    assert deleted is not None
    rows = rows_of(state)
    rows.append({"doc_id": deleted, "tokens": [1, 2], "n_tok": 2, "source": "crawl"})
    problems = checks.check_rows(rows, state)
    assert any("oracle does not have" in p for p in problems)


def test_wrong_n_tok_is_rejected(replayed):
    state = replayed[2]
    rows = rows_of(state)
    rows[1]["n_tok"] += 1
    problems = checks.check_rows(rows, state)
    assert any("n_tok != size(tokens)" in p for p in problems)


def test_lookup_must_match_exactly(replayed):
    state = replayed[2]
    keys = sorted(state)[:3] + ["doc-9999999"]
    got = [copy.deepcopy(state[k]) for k in keys[:3]]
    assert checks.check_lookup(got, keys, state) == []
    assert checks.check_lookup(got[:2], keys, state)
    got[2]["source"] = "curated" if got[2]["source"] != "curated" else "crawl"
    assert checks.check_lookup(got, keys, state)


def test_counts_must_match():
    assert checks.check_counts(10, 10, 2, 2) == []
    assert checks.check_counts(9, 10, 2, 2)
    assert checks.check_counts(10, 10, 1, 2)


def test_generator_is_seeded(tmp_path):
    a, ka, _ = gen.write_binlog(str(tmp_path / "a"), "t", 2, 500, 100, (1, 0), start_lsn=0)
    b, kb, _ = gen.write_binlog(str(tmp_path / "b"), "t", 2, 500, 100, (1, 0), start_lsn=0)
    c, _, _ = gen.write_binlog(str(tmp_path / "c"), "t", 2, 500, 100, (2, 0), start_lsn=0)
    read = lambda ps: [open(p).read() for p in ps]  # noqa: E731
    assert read(a) == read(b) and read(a) != read(c)
    assert all((x == y).all() for x, y in zip(ka, kb))
    assert all(len(open(p).read().splitlines()) == 500 for p in a)
