"""Seeded input generators. The same seed gives byte-identical files.

The engine only ever sees the files written here: Parquet images made
by the repo's own ``testing.datagen`` (so the numpy codec and pHash run
during set-up, never in a measured pass), TPC-H-``orders``-shaped CSV
batches, all made with numpy in this process and written with pyarrow.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# -- image_table --------------------------------------------------------------

# pixel content of the image corpus; the run's seed picks the rows
CORPUS_SEED = 99


def images(out: str, seed: int, appends: int, rows_per_append: int) -> dict:
    """Append batches plus the three MERGE sources of one image pass, as
    Parquet files. Rows come from the repo's ``testing.datagen`` batch
    generator (the one ``images_df`` maps over), run in this process.

    The generator draws each row's base image from a Zipf law over a
    corpus of bases. The corpus is fixed and the seed selects the row ids
    (hence the Zipf draws and captions): with a seeded corpus the few
    head images alone would swing bytes per row by 15% between seeds.
    The corpus is large, so most blobs are distinct and a Parquet
    dictionary overflows early in every file; with a few hundred bases,
    whether a file's distinct blobs fit its 1 MB dictionary moved live
    bytes per row by up to 40% between seeds.

    Returns paths, ids and the on-disk bytes of everything a pass feeds in."""
    from medalforge_lakehouse_data_spark.testing.datagen import (
        IMAGES_SCHEMA, generate_batch)

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64())])
    assert schema.names == IMAGES_SCHEMA.fieldNames()
    n = appends * rows_per_append
    n_bases = 20 * n

    first = seed * 10_000_000

    def batch(ids, tag=None):
        pdf = generate_batch(np.asarray(ids, dtype=np.int64) + first,
                             CORPUS_SEED, n_bases)
        if tag:
            pdf["caption"] = tag + pdf["caption"]
        return pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)

    paths = {"appends": []}
    for i in range(appends):
        paths["appends"].append(os.path.join(out, f"append_{i}.parquet"))
        _write(batch(range(i * rows_per_append, (i + 1) * rows_per_append)),
               paths["appends"][-1])
    n_ins = max(1, n // 100)
    ids = np.arange(n)
    sources = {
        # copy-on-write: 5% updates + 1% inserts
        "cow": [batch(ids[ids % 20 == 3], "v2 "),
                batch(np.arange(n_ins) + 5_000_000)],
        # trickle: 12 keys
        "trickle": [batch(ids[7::max(1, n // 12)][:12], "v3 ")],
        # merge-on-read: another 5% updates + 1% inserts
        "mor": [batch(ids[ids % 20 == 11], "v4 "),
                batch(np.arange(n_ins) + 9_000_000)],
    }
    for k, parts in sources.items():
        paths[k] = os.path.join(out, f"{k}.parquet")
        _write(pa.concat_tables(parts), paths[k])
    return {
        "paths": paths,
        "rows": n,
        "first_id": first,
        "inserts": {"cow": n_ins, "trickle": 0, "mor": n_ins},
        "user_bytes": dir_bytes(out),
    }


# -- medallion_incremental ----------------------------------------------------

ORDERS_COLUMNS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "string"),
]


def _orders(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    # ~2% of prices fall outside the silver contract's range (quarantine
    # and clamp remediation), keys divisible by 1000 are rejected
    price = np.round(rng.uniform(900.0, 408_000.0, n), 2)
    prio = rng.integers(0, len(PRIORITIES), n)
    pad = rng.random(n) < 0.05
    days = np.datetime64("1992-01-01") + rng.integers(0, 2400, n)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, 15_000, n).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": price,
        "o_orderdate": days.astype(str),
        "o_orderpriority": [(" " + PRIORITIES[p] + " ") if d else PRIORITIES[p]
                            for p, d in zip(prio, pad)],
    })


def orders(out: str, seed: int, initial: int, windows: int, per_window: int,
           upserts: int, deletes: int) -> dict:
    """Raw order batches (window 0 is the initial load) and, per later
    window, an upsert slice and a delete slice of earlier live keys."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    sizes = [initial] + [per_window] * windows
    total = sum(sizes)
    # sparse, unique, unordered keys as in TPC-H
    keys = np.arange(1, total + 1, dtype=np.int64) * 4 - rng.integers(0, 4, total)
    rng.shuffle(keys)
    batches, upsert_files, delete_files = [], [], []
    live: list[int] = []
    pos = 0
    expected_live = []
    for w, size in enumerate(sizes):
        new = keys[pos:pos + size]
        pos += size
        # the bronze contract lands CSV
        batches.append(os.path.join(out, f"raw_w{w}.csv"))
        pcsv.write_csv(_orders(rng, new), batches[-1])
        if w > 0:
            pick = rng.choice(len(live), upserts + deletes, replace=False)
            chosen = np.array(live, dtype=np.int64)[pick]
            up, gone = chosen[:upserts], chosen[upserts:]
            upsert_files.append(os.path.join(out, f"upsert_w{w}.parquet"))
            _write(_orders(rng, up), upsert_files[-1])
            delete_files.append(os.path.join(out, f"delete_w{w}.parquet"))
            _write(_orders(rng, gone), delete_files[-1])
            gone_set = set(gone.tolist())
            live = [k for k in live if k not in gone_set]
        live.extend(new.tolist())
        expected_live.append(len(live))
    return {
        "raw": batches,
        "upserts": upsert_files,
        "deletes": delete_files,
        "live_rows": expected_live,
        "user_bytes": dir_bytes(out),
    }

