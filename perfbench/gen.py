"""Seeded change-event generator for the benchmark.

The benchmark makes its own inputs so that a change to the engine's
``sources/`` package cannot change what is measured. Each line is one
JSON change event in the engine's text envelope:

    {"op", "doc_id", "event_ts", "lsn", "schema_version", "payload",
     "schema_change"}

The mix exercises every per-event path of the apply kernel:

* Zipf-distributed keys (exponent ``ZIPF_S``): a few keys take most of the
  updates, the long tail is touched about once;
* inserts, updates and deletes (``P_DELETE``);
* payloads in the wrapped text form ``"{'no': '1 2 3'}"`` (``P_WRAPPED``),
  with a wrong or missing ``n_tok`` (``P_WRONG_NTOK``, ``P_NULL_NTOK``);
* malformed lines (``P_MALFORMED``): a line torn in mid-string (not
  JSON), an unknown op and a null key, in turn. These go to the
  dead-letter queue.

Every file has exactly ``events_per_file`` lines, so every batch of a run
carries the same number of events whatever the seed. Alongside the files
the generator returns, per file, the key index of every line (-1 where the
line has no key), which lets the checker gather one key's events without
parsing the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

ZIPF_S = 1.1
P_DELETE = 0.05
P_INSERT = 0.30
P_WRAPPED = 0.15
P_WRONG_NTOK = 0.10
P_NULL_NTOK = 0.05
P_MALFORMED = 0.01
SOURCES = ("crawl", "curated", "synthetic", " Curated ", "unknown-src")
VOCAB = 50_257
MAX_TOKENS = 32
EPOCH = dt.datetime(2024, 1, 1)


def doc_id(i: int) -> str:
    return f"doc-{i:07d}"


def _iso(us: int) -> str:
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%dT%H:%M:%S.%f")


def zipf_keys(rng: np.random.Generator, n_docs: int, n: int) -> np.ndarray:
    """``n`` key indices in ``[0, n_docs)``, Zipf-distributed over a seeded
    permutation (so the hot keys land in arbitrary buckets)."""
    w = 1.0 / np.arange(1, n_docs + 1) ** ZIPF_S
    perm = rng.permutation(n_docs)
    return perm[rng.choice(n_docs, size=n, p=w / w.sum())]


def write_binlog(
    out_dir: str,
    prefix: str,
    n_files: int,
    events_per_file: int,
    n_docs: int,
    seed: int | tuple[int, ...],
    start_lsn: int,
    start_us: int = 0,
    cover_all_keys: bool = False,
) -> tuple[list[str], list[np.ndarray], int]:
    """Write ``n_files`` JSON-line files ``<prefix>-NNNNNN.jsonl``.

    ``cover_all_keys`` makes the first ``n_docs`` events insert every key
    once (in a seeded order), so a preload leaves a table of ``n_docs``
    rows minus later deletes. Returns ``(paths, key index per line per
    file, end timestamp in microseconds)``."""
    rng = np.random.default_rng(list(seed) if isinstance(seed, tuple) else seed)
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * events_per_file
    keys = zipf_keys(rng, n_docs, n)
    op_r = rng.random(n)
    ops = np.where(op_r < P_DELETE, 2, np.where(op_r < P_DELETE + P_INSERT, 0, 1))
    if cover_all_keys:
        m = min(n, n_docs)
        keys[:m] = rng.permutation(n_docs)[:m]
        ops[:m] = 0
    lens = rng.integers(1, MAX_TOKENS + 1, n)
    tok0 = rng.integers(0, VOCAB, n)
    src = rng.integers(0, len(SOURCES), n)
    wrapped = rng.random(n) < P_WRAPPED
    ntok_r = rng.random(n)
    malformed = rng.random(n) < P_MALFORMED
    # event time advances ~2 ms per event with +-3 ms jitter, so arrival
    # order and event-time order disagree and LWW must use (event_ts, lsn)
    ts = start_us + np.cumsum(rng.integers(0, 4_000, n)) + rng.integers(-3_000, 3_000, n)
    ts = np.maximum(ts, 0)

    paths: list[str] = []
    line_keys: list[np.ndarray] = []
    for fi in range(n_files):
        path = os.path.join(out_dir, f"{prefix}-{fi:06d}.jsonl")
        lk = np.empty(events_per_file, dtype=np.int64)
        out: list[str] = []
        for j in range(events_per_file):
            e = fi * events_per_file + j
            lsn = start_lsn + e
            k = int(keys[e])
            lk[j] = k
            if malformed[e]:
                kind = e % 3
                if kind == 0:
                    # a torn line: valid JSON up to a cut in mid-string
                    out.append(f'{{"lsn":{lsn},"op":"update","doc_id":"{doc_id(k)}","event_ts":"')
                    lk[j] = -1
                    continue
                ev = {"op": "upsert" if kind == 1 else "update",
                      "doc_id": doc_id(k) if kind == 1 else None,
                      "event_ts": _iso(ts[e]), "lsn": lsn,
                      "schema_version": 1, "payload": None,
                      "schema_change": None}
                if kind == 2:
                    lk[j] = -1
                out.append(json.dumps(ev, separators=(",", ":")))
                continue
            op = ("insert", "update", "delete")[ops[e]]
            payload = None
            if op != "delete":
                toks = ((tok0[e] + np.arange(lens[e]) * 7919) % VOCAB).tolist()
                n_tok = len(toks)
                if ntok_r[e] < P_NULL_NTOK:
                    n_tok = None
                elif ntok_r[e] < P_NULL_NTOK + P_WRONG_NTOK:
                    n_tok = n_tok + 5
                payload = {"n_tok": n_tok, "source": SOURCES[src[e]]}
                if wrapped[e]:
                    payload["tokens"] = None
                    payload["tokens_raw"] = "{'no': '" + " ".join(map(str, toks)) + "'}"
                else:
                    payload["tokens"] = toks
                    payload["tokens_raw"] = None
            out.append(json.dumps(
                {"op": op, "doc_id": doc_id(k), "event_ts": _iso(ts[e]),
                 "lsn": lsn, "schema_version": 1, "payload": payload,
                 "schema_change": None},
                separators=(",", ":"),
            ))
        with open(path, "w") as f:
            f.write("\n".join(out) + "\n")
        paths.append(path)
        line_keys.append(lk)
    return paths, line_keys, int(ts.max()) + 1


def write_columnar(text_path: str, out_path: str) -> str:
    """The same events as one typed parquet file: the shape a columnar CDC
    feed delivers (``op, doc_id, event_ts, lsn, schema_version, payload,
    schema_change``, plus ``_raw``, the original text of a line that could
    not be typed). Written here with pyarrow, not by the engine's
    converter, so the engine's ``sources/`` cannot change the input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payload_t = pa.struct([("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
                           ("source", pa.string()), ("tokens_raw", pa.string())])
    change_t = pa.struct([(n, pa.string()) for n in
                          ("kind", "column", "new_name", "new_type", "new_default")])
    schema = pa.schema([
        ("op", pa.string()), ("doc_id", pa.string()),
        ("event_ts", pa.timestamp("us", tz="UTC")), ("lsn", pa.int64()),
        ("schema_version", pa.int32()), ("payload", payload_t),
        ("schema_change", change_t), ("_raw", pa.string()),
    ])
    cols: dict[str, list] = {n: [] for n in schema.names}
    utc = dt.timezone.utc
    with open(text_path) as f:
        for line in f.read().splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                for n in schema.names:
                    cols[n].append(None)
                cols["_raw"][-1] = line
                continue
            cols["op"].append(ev["op"])
            cols["doc_id"].append(ev["doc_id"])
            cols["event_ts"].append(dt.datetime.fromisoformat(ev["event_ts"]).replace(tzinfo=utc))
            cols["lsn"].append(ev["lsn"])
            cols["schema_version"].append(ev["schema_version"])
            cols["payload"].append(ev["payload"])
            cols["schema_change"].append(None)
            cols["_raw"].append(None)
    table = pa.Table.from_pydict(cols, schema=schema)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(table, out_path)
    return out_path
