"""Seeded inputs for the engine benchmark.

* ``test_fixture(sf)`` is the read-only fixture of the engine's own tests
  at scale factor ``sf``, as TESTDATA.md lists it.  It is read, never
  written.
* ``replica(src, out, k)`` builds a k-times replica of it with
  ``tools/scale_fixtures.py`` (key offsets, salted document words, rolled
  and sign-flipped embeddings).
* ``permuted(seed, src, out)`` is the benchmark seed's copy of a fixture:
  the same rows, in the seed's order, so file layout and partition
  contents change with the seed while every query's answer stays the same.
* ``trade_files(seed, ...)`` plans the trade-event files the ingest
  generator lands: event ids rise with event time, a fixed share of each
  file replays rows of earlier files, and a fixed share arrives late.

Every function is a pure function of its arguments: the same seed gives
byte-identical inputs.
"""
import contextlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def test_fixture(sf):
    """Directory of the fixture TESTDATA.md lists for scale factor ``sf``
    (a string, as in its table: "0.1")."""
    with open("TESTDATA.md") as f:
        for line in f:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) >= 2 and cells[0] == sf:
                d = cells[1].strip("`").rstrip("/")
                if not os.path.isdir(d):
                    raise SystemExit(f"fixture sf{sf} not found at {d}")
                return d
    raise SystemExit(f"TESTDATA.md lists no sf{sf} fixture")


def replica(src, out, k):
    """k-times replica of ``src`` by tools/scale_fixtures.py."""
    if "tools" not in sys.path:
        sys.path.insert(0, "tools")
    import scale_fixtures  # the repo's replicate-with-remap rules
    with contextlib.redirect_stdout(sys.stderr):
        scale_fixtures.main(src, out, k)
    return sizes(out)


def permuted(seed, src, out):
    """Every table of ``src`` with its rows in the order ``seed`` draws."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    for fname in sorted(os.listdir(src)):
        if fname.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, fname))
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            pq.write_table(t, os.path.join(out, fname), compression="snappy")
    return sizes(out)


def sizes(d):
    """{table: {"rows": n, "bytes": b}} for every parquet file in ``d``."""
    out = {}
    for fname in sorted(os.listdir(d)):
        if fname.endswith(".parquet"):
            p = os.path.join(d, fname)
            out[fname[:-8]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                               "bytes": os.path.getsize(p)}
    return out


def cached(root, key, build, keep=None):
    """Run ``build(tmp_dir)`` once per ``key`` under ``root``; a finished
    directory carries _SIZES.json, so an interrupted build is redone.  With
    ``keep``, at most that many directories sharing the key's prefix (up
    to its last '-') stay; the least recently used go first."""
    d = os.path.join(root, key)
    meta = os.path.join(d, "_SIZES.json")
    if not os.path.exists(meta):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        info = build(tmp)
        with open(os.path.join(tmp, "_SIZES.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(meta)
    if keep:
        prefix = key.rsplit("-", 1)[0] + "-"
        same = sorted((p for p in os.listdir(root) if p.startswith(prefix)
                       and not p.endswith(".tmp")),
                      key=lambda p: os.path.getmtime(
                          os.path.join(root, p, "_SIZES.json")))
        for old in same[:-keep]:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    with open(meta) as f:
        return d, json.load(f)


# --- trade_ingest inputs ----------------------------------------------------

TRADE_POOLS = 64          # user_id plays pool_id: candles key on it
FILE_EVENT_SEC = 20       # event time covered by one landed file
DUP_SHARE = 0.05          # rows replayed verbatim from the previous files
LATE_SHARE = 0.05         # rows whose event time lags the file by 30-240 s
LATE_MAX_SEC = 240        # < the stream's 10-minute watermark delay


def trade_files(seed, n_files, rows_per_file):
    """List of pyarrow tables, one per landed file, in landing order."""
    rng = np.random.default_rng([seed, 7])
    t0 = np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64)
    files, prev, next_id = [], [], 0
    for i in range(n_files):
        n_dup = int(rows_per_file * DUP_SHARE) if prev else 0
        n_new = rows_per_file - n_dup
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        lo = t0 + i * FILE_EVENT_SEC * 10**6
        ts = np.sort(lo + rng.integers(0, FILE_EVENT_SEC * 10**6, n_new))
        late = rng.random(n_new) < LATE_SHARE
        ts[late] -= rng.integers(30 * 10**6, LATE_MAX_SEC * 10**6,
                                 int(late.sum()))
        t = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), TS),
            "user_id": pa.array(rng.integers(0, TRADE_POOLS, n_new),
                                pa.int64()),
            "event_type": pa.array(["purchase"] * n_new),
            "value": _money(rng, 0.5, 100.0, n_new),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_new)])})
        if n_dup:
            src = pa.concat_tables(prev[-3:])
            t = pa.concat_tables([t, src.take(pa.array(
                rng.choice(src.num_rows, n_dup, replace=False)))])
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        files.append(t)
        prev.append(t)
    return files
