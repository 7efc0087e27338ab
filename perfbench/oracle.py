"""Correctness gate: recompute every checked answer from the staged
inputs with DuckDB (or plain Python for set similarity) and compare.

Nothing here imports the engine.  Read-back of what the engine wrote
goes through DuckDB for Parquet, pyarrow for ORC, and the small Avro
container reader below, so an engine-side codec bug cannot hide behind
the engine's own reader.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import zlib

import duckdb
import pyarrow as pa
import pyarrow.orc as orc


def connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 1})


def sql_list(paths) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def state_sql(relation: str, payload: list[str]) -> str:
    """Per-partition row count and order-insensitive checksum."""
    return (f"SELECT region, day, count(*) AS n, "
            f"sum(hash({', '.join(payload)})::HUGEINT) AS h "
            f"FROM ({relation}) GROUP BY region, day")


def partition_state(con, relation: str, payload: list[str]) -> dict:
    return {(r, d): (n, int(h)) for r, d, n, h in
            con.execute(state_sql(relation, payload)).fetchall()}


def parquet_tree(path: str) -> str:
    """Relation over a Hive-partitioned Parquet tree; partition columns
    stay strings, as the engine writes them."""
    return (f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)")


def _hive_values(path: str, root: str) -> dict[str, str]:
    rel = os.path.relpath(os.path.dirname(path), root)
    return dict(part.split("=", 1) for part in rel.split(os.sep) if "=" in part)


def _files(root: str, suffix: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, f) for f in filenames
                if f.endswith(suffix) and not f.startswith((".", "_"))]
    return sorted(out)


def orc_tree(root: str) -> pa.Table:
    parts = []
    for p in _files(root, ".orc"):
        t = orc.ORCFile(p).read()
        for k, v in _hive_values(p, root).items():
            t = t.append_column(k, pa.array([v] * t.num_rows, pa.string()))
        parts.append(t)
    return pa.concat_tables(parts, promote_options="default")


# ------------------------------------------------------------ Avro read

def _long(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


def _value(buf: memoryview, pos: int, typ) -> tuple[object, int]:
    if isinstance(typ, list):
        branch, pos = _long(buf, pos)
        return _value(buf, pos, typ[branch])
    if typ == "null":
        return None, pos
    if typ in ("long", "int"):
        return _long(buf, pos)
    if typ == "double":
        return float(memoryview(bytes(buf[pos:pos + 8])).cast("d")[0]), pos + 8
    if typ == "string":
        n, pos = _long(buf, pos)
        return str(buf[pos:pos + n], "utf-8"), pos + n
    raise ValueError(f"avro type {typ!r} is not used by the benchmark")


def read_avro_file(path: str) -> tuple[list[str], list[tuple]]:
    """Decode one Avro object container (null or deflate codec)."""
    with open(path, "rb") as f:
        buf = memoryview(f.read())
    if bytes(buf[:4]) != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro container")
    pos, meta = 4, {}
    while True:
        n, pos = _long(buf, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = _long(buf, pos)
        for _ in range(n):
            kl, pos = _long(buf, pos)
            k = str(buf[pos:pos + kl], "utf-8")
            pos += kl
            vl, pos = _long(buf, pos)
            meta[k] = bytes(buf[pos:pos + vl])
            pos += vl
    fields = json.loads(meta["avro.schema"])["fields"]
    codec = meta.get("avro.codec", b"null").decode()
    pos += 16
    rows = []
    while pos < len(buf):
        count, pos = _long(buf, pos)
        size, pos = _long(buf, pos)
        blk = bytes(buf[pos:pos + size])
        pos += size + 16
        if codec == "deflate":
            blk = zlib.decompress(blk, wbits=-15)
        elif codec != "null":
            raise ValueError(f"{path}: codec {codec!r}")
        mv, bpos = memoryview(blk), 0
        for _ in range(count):
            row = []
            for fd in fields:
                v, bpos = _value(mv, bpos, fd["type"])
                row.append(v)
            rows.append(tuple(row))
    return [fd["name"] for fd in fields], rows


def avro_tree(root: str, schema: pa.Schema) -> pa.Table:
    cols = {f.name: [] for f in schema}
    for p in _files(root, ".avro"):
        names, rows = read_avro_file(p)
        hive = _hive_values(p, root)
        for row in rows:
            rec = dict(zip(names, row), **hive)
            for c in cols:
                cols[c].append(rec[c])
    return pa.table(cols, schema=schema)


# ------------------------------------------------------- set similarity

def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams of lower-cased, whitespace-split text."""
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def round4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return round4(len(a & b) / union) if union else 0.0


def brute_force_pairs(docs: dict[int, frozenset], threshold: float) -> set:
    """Every (id_a < id_b, jaccard) pair at or above ``threshold``."""
    out = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        j = jaccard(docs[a], docs[b])
        if j >= threshold:
            out.add((a, b, j))
    return out


def components(pairs) -> dict[int, int]:
    """doc id -> smallest id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class Gate:
    """Collects named checks; a failed check is one wrong operation."""

    def __init__(self):
        self.checks: list[dict] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"check": name, "ok": bool(ok),
                            "detail": "" if ok else detail[:500]})
        return ok

    def same(self, name: str, got, want) -> bool:
        if got == want:
            return self.check(name, True)
        if isinstance(got, dict) and isinstance(want, dict):
            diff = sorted(k for k in set(got) | set(want)
                          if got.get(k) != want.get(k))
            detail = f"{len(diff)} keys differ, e.g. " + "; ".join(
                f"{k}: got {got.get(k)} want {want.get(k)}" for k in diff[:3])
        else:
            detail = f"got {str(got)[:200]} want {str(want)[:200]}"
        return self.check(name, False, detail)

    @property
    def failed(self) -> int:
        return sum(not c["ok"] for c in self.checks)
