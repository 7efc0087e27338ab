"""Seeded input generator: every workload's inputs, staged as files.

The engine under test only ever sees the files written here.  The same
seed gives byte-identical files (pyarrow writes deterministically), and
``content_hash`` over them is recorded in every result so two runs can
be shown to have used the same inputs.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALES_SCHEMA = pa.schema([("id", pa.int64()), ("region", pa.string()),
                          ("day", pa.string()), ("user_id", pa.int64()),
                          ("amount", pa.float64()), ("note", pa.string())])
EVENT_SCHEMA = pa.schema([("user_id", pa.int64()), ("value", pa.float64()),
                          ("region", pa.string()), ("day", pa.string())])
DOC_SCHEMA = pa.schema([("id", pa.int64()), ("block", pa.string()),
                        ("text", pa.string())])

# forced file-source mtimes: ascending, 60 s apart, so a file stream with
# one file per trigger replays the staged order
STREAM_MTIME0 = 1_000_000_000


def day_name(i: int) -> str:
    return (_dt.date(2024, 1, 1) + _dt.timedelta(days=i)).isoformat()


def zipf_probs(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    """Zipf(s) weights over ``n`` items in a seeded random order, so the
    hot item differs from seed to seed."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return (w / w.sum())[rng.permutation(n)]


def _keys(regions: int, days: int, day0: int = 0) -> list[tuple[str, str]]:
    return [(f"r{r}", day_name(day0 + d))
            for r in range(regions) for d in range(days)]


def _sales(rng: np.random.Generator, n: int, id0: int,
           keys: list[tuple[str, str]], probs: np.ndarray | None) -> pa.Table:
    idx = rng.choice(len(keys), size=n, p=probs)
    return pa.table({
        "id": np.arange(id0, id0 + n, dtype=np.int64),
        "region": [keys[i][0] for i in idx],
        "day": [keys[i][1] for i in idx],
        "user_id": rng.integers(0, 5000, size=n, dtype=np.int64),
        # whole-valued doubles: sums are exact in every engine and order
        "amount": rng.integers(1, 10_000, size=n).astype(np.float64),
        "note": [f"n{v:06x}" for v in rng.integers(0, 1 << 24, size=n)],
    }, schema=SALES_SCHEMA)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def content_hash(root: str) -> str:
    """sha256 over every staged file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def stage_ingest(rng, shape, dest):
    n = shape["rows_per_batch"]
    keys = _keys(shape["regions"], shape["days"])
    probs = zipf_probs(rng, len(keys), shape["zipf_s"])
    files = {}
    id0 = 0

    def put(name, tbl):
        nonlocal id0
        files[name] = _write(tbl, f"{dest}/{name}.parquet")
        id0 += tbl.num_rows

    put("create", _sales(rng, n, id0, keys, probs))
    for i in range(shape["append_batches"]):
        put(f"append_{i}", _sales(rng, n, id0, keys, probs))
    new_keys = _keys(shape["regions"], shape["new_key_days"], shape["days"])
    put("create_new_keys", _sales(rng, n, id0, new_keys, None))
    ow = [keys[i] for i in rng.choice(len(keys), shape["overwrite_partitions"],
                                      replace=False)]
    put("overwrite", _sales(rng, max(10, n // 4), id0, ow, None))
    # the ORC and Avro batches cover one region: every format path runs,
    # at half the per-file cost
    one = [i for i, k in enumerate(keys) if k[0] == "r0"]
    one_keys, one_p = [keys[i] for i in one], probs[one] / probs[one].sum()
    put("orc", _sales(rng, n // 2, id0, one_keys, one_p))
    put("avro", _sales(rng, n // 2, id0, one_keys, one_p))
    return {"files": files, "stream": _stage_events(rng, shape, dest)}


def stage_lookup(rng, shape, dest):
    keys = _keys(shape["regions"], shape["days"])
    probs = zipf_probs(rng, len(keys), shape["zipf_s"])
    base = _sales(rng, shape["base_rows"], 0, keys, probs)
    files = {"base": _write(base, f"{dest}/base.parquet")}
    ids = base.column("id").to_numpy()
    regions = base.column("region").to_pylist()
    days = base.column("day").to_pylist()
    by_key: dict[tuple[str, str], list[int]] = {}
    for i, r, d in zip(ids, regions, days):
        by_key.setdefault((r, d), []).append(int(i))
    populated = sorted(by_key)
    next_id = int(ids.max()) + 1
    merges = []
    for m in range(shape["merge_batches"]):
        touched = [populated[i] for i in rng.choice(
            len(populated), shape["merge_partitions"], replace=False)]
        cols = {f.name: [] for f in SALES_SCHEMA}
        for r, d in touched:
            pool = by_key[(r, d)]
            take = rng.choice(pool, min(len(pool),
                                        shape["merge_rows_per_partition"]),
                              replace=False).tolist()
            new = list(range(next_id, next_id + shape["merge_new_rows"]))
            next_id += len(new)
            by_key[(r, d)] = pool + new
            for i in take + new:
                cols["id"].append(int(i))
                cols["region"].append(r)
                cols["day"].append(d)
                cols["user_id"].append(int(rng.integers(0, 5000)))
                cols["amount"].append(float(rng.integers(1, 10_000)))
                cols["note"].append(f"m{m:02d}")
        files[f"merge_{m:02d}"] = _write(pa.table(cols, schema=SALES_SCHEMA),
                                         f"{dest}/merge_{m:02d}.parquet")
        merges.append(f"merge_{m:02d}")
    # every run of ``lookups_per_merge`` lookups holds the same mix, in
    # seeded order, so one cycle costs the same on every seed
    per = shape["lookups_per_merge"]
    chunk = [kind for kind, share in shape["mix"].items()
             for _ in range(int(round(share * per)))]
    chunk = (chunk + ["point"] * per)[:per]
    kinds = [k for _ in range(-(-shape["lookups"] // per))
             for k in rng.permutation(chunk)][:shape["lookups"]]
    lookups = []
    for kind in kinds:
        r = f"r{int(rng.integers(0, shape['regions']))}"
        if kind == "point":
            # sample keys by their own skew, as a user drilling into
            # the busy partitions would
            r, d = keys[int(rng.choice(len(keys), p=probs))]
            lookups.append({"kind": "point", "region": r, "day": d})
        elif kind == "range":
            d0 = int(rng.integers(0, shape["days"] - shape["range_days"]))
            lookups.append({"kind": "range", "region": r,
                            "lo": day_name(d0),
                            "hi": day_name(d0 + shape["range_days"] - 1)})
        else:
            lookups.append({"kind": "full"})
    path = f"{dest}/lookups.json"
    with open(path, "w") as f:
        json.dump(lookups, f)
    files["lookups"] = path
    return {"files": files, "merges": merges, "lookups": lookups}


def _mutate(rng, words: list[str], rate: float, vocab: int,
            probs: np.ndarray) -> list[str]:
    out = list(words)
    n_sub = int(round(rate * len(out)))
    for pos in rng.choice(len(out), n_sub, replace=False):
        out[pos] = f"w{int(rng.choice(vocab, p=probs))}"
    return out


def stage_dedup(rng, shape, dest):
    n_docs = shape["docs"]
    n_clusters = shape["dup_clusters"]
    vocab = shape["vocab"]
    probs = zipf_probs(rng, vocab, shape["zipf_s"])
    n_orig = n_docs - n_clusters * shape["copies_max"]
    ids, blocks, texts = [], [], []
    for i in range(n_orig):
        words = [f"w{w}" for w in rng.choice(vocab, shape["words_per_doc"],
                                              p=probs)]
        ids.append(i)
        blocks.append(f"b{int(rng.integers(0, shape['blocks']))}")
        texts.append(" ".join(words))
    clusters = []
    next_id = n_orig
    for src in rng.choice(n_orig, n_clusters, replace=False):
        members = [int(src)]
        for _ in range(int(rng.integers(1, shape["copies_max"] + 1))):
            rate = float(rng.choice(shape["mutation_rates"]))
            words = _mutate(rng, texts[src].split(" "), rate, vocab, probs)
            ids.append(next_id)
            blocks.append(blocks[src])
            texts.append(" ".join(words))
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    # shuffle the row order so duplicates are not file-adjacent
    order = rng.permutation(len(ids))
    tbl = pa.table({"id": np.asarray(ids, dtype=np.int64)[order],
                    "block": [blocks[i] for i in order],
                    "text": [texts[i] for i in order]}, schema=DOC_SCHEMA)
    return {"files": {"corpus": _write(tbl, f"{dest}/corpus.parquet")},
            "clusters": clusters}


def _stage_events(rng, shape, dest) -> dict:
    """Event files for the streaming half of the ingest workload, with
    forced ascending mtimes (see STREAM_MTIME0)."""
    n = shape["stream_rows_per_file"]
    keys = _keys(shape["regions"], shape["stream_days"])
    user_p = zipf_probs(rng, shape["users"], shape["zipf_s"])
    src = f"{dest}/stream"
    files = {}
    for i in range(shape["stream_files"]):
        idx = rng.integers(0, len(keys), size=n)
        tbl = pa.table({
            "user_id": rng.choice(shape["users"], size=n, p=user_p
                                  ).astype(np.int64),
            "value": rng.integers(1, 1000, size=n).astype(np.float64),
            "region": [keys[j][0] for j in idx],
            "day": [keys[j][1] for j in idx],
        }, schema=EVENT_SCHEMA)
        p = _write(tbl, f"{src}/{i:02d}.parquet")
        os.utime(p, (STREAM_MTIME0 + i * 60, STREAM_MTIME0 + i * 60))
        files[f"{i:02d}"] = p
    return {"src": src, "files": files, "rows": n * len(files)}


STAGERS = {"ingest_partitioned": stage_ingest,
           "partition_lookup": stage_lookup,
           "corpus_dedup": stage_dedup}


def stage(workload: str, seed: int, shape: dict, dest: str) -> dict:
    """Generate and write ``workload``'s inputs under ``dest`` (which
    must not exist yet); returns the staged-file map, the row count of
    each staged Parquet file, workload facts the correctness gate needs,
    and the inputs' content hash."""
    os.makedirs(dest)
    rng = np.random.default_rng(seed)
    staged = STAGERS[workload](rng, shape, dest)
    staged["rows"] = {k: pq.ParquetFile(p).metadata.num_rows
                      for k, p in staged["files"].items()
                      if p.endswith(".parquet")}
    staged["hash"] = content_hash(dest)
    return staged
