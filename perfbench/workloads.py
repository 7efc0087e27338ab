"""The three workloads.  Each one drives the engine's public API from
outside, one call at a time (a closed loop with one client), and keeps
what the calls returned so the correctness gate can check it after the
timed section.

See :class:`Workload` for the interface the run loop uses.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import oracle
from spans import quantile, tail_percentile

PAYLOAD = ["id", "user_id", "amount", "note"]


def data_files(root: str) -> list[str]:
    """Data files of a written tree: no hidden, ``_``-prefixed or
    checksum files, no streaming metadata."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, f) for f in filenames
                if not f.startswith(("_", "."))]
    return out


def n_partitions(root: str) -> int:
    return len({os.path.dirname(p) for p in data_files(root)})


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in data_files(root))


class Ctx:
    """Per-run state shared by the run loop and a workload."""

    def __init__(self, spark, tracer, work: str, shape: dict):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.shape = shape
        self.staged: dict = {}
        self.out = ""
        self.ops: list[float] = []
        self.untimed_ops = 0      # operations outside ``op_mean_ms``

    @contextmanager
    def op(self, name: str | None = None):
        """One user-visible operation: its latency counts toward
        ``op_mean_ms``; ``name`` also opens a span around it."""
        t = time.perf_counter()
        if name is None:
            yield
        else:
            with self.tracer.span(name):
                yield
        self.ops.append(time.perf_counter() - t)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def returned(self) -> None:
        self.tracer.returned()


class Workload:
    """Interface between the run loop and one workload."""

    name = ""

    def prepare(self, ctx) -> None:
        """Set-up beyond staging the input files."""

    def cycle(self, ctx, i: int) -> int:
        """One timed repetition; returns the input rows it consumed and
        appends each user-visible operation's latency to ``ctx.ops``."""
        raise NotImplementedError

    def after_cycle(self, ctx) -> None:
        """Bookkeeping after a cycle, outside its wall time."""

    def exhausted(self, ctx) -> bool:
        """True when the staged inputs cannot feed another cycle."""
        return False

    def verify(self, ctx, gate) -> None:
        """Check everything the cycles returned or wrote (untimed)."""
        raise NotImplementedError

    def counters(self, ctx, spans: list[dict], traced: list[int]) -> dict:
        """The workload's extra layer counters, from the traced cycles."""
        return {}

    def stored(self, ctx) -> tuple[int, int]:
        """(data bytes, rows) of what the last cycle left on disk."""
        raise NotImplementedError

    def recall(self, ctx) -> float:
        """Share of the expected answer the engine returned."""
        raise NotImplementedError

    def close(self, ctx) -> None:
        """Release session-level hooks."""


# ------------------------------------------------------------------ ingest

class Ingest(Workload):
    name = "ingest_partitioned"

    def __init__(self):
        self.cycles: list[str] = []
        self.stream = StreamIngest()

    def prepare(self, ctx) -> None:
        self.stream.prepare(ctx)

    def close(self, ctx) -> None:
        self.stream.close(ctx)

    def cycle(self, ctx, i: int) -> int:
        from dynamic_partitioner_spark import SinkSpec, write_partitioned

        spark, f = ctx.spark, ctx.staged["files"]
        out = f"{ctx.out}/c{i}"
        keys = ["region", "day"]
        create = SinkSpec(name="sales", field_names=keys)
        append = SinkSpec(name="sales", field_names=keys,
                          append_to_partition="CREATE_OR_APPEND")
        overwrite = SinkSpec(name="sales", field_names=keys,
                             append_to_partition="CREATE_OR_APPEND",
                             overwrite_partitions=True)
        plan = ([("create", create, "partitioned_write.write", "main")]
                + [(k, append, "partitioned_write.write", "main")
                   for k in sorted(f) if k.startswith("append_")]
                + [("create_new_keys", create,
                    "partitioned_write.create_existing", "main"),
                   ("overwrite", overwrite, "partitioned_write.write", "main"),
                   ("orc", SinkSpec(name="sales_orc", field_names=keys,
                                    fmt="orc"),
                    "partitioned_write.write", "orc"),
                   ("avro", SinkSpec(name="sales_avro", field_names=keys,
                                     fmt="avro"),
                    "avro_py.write", "avro")])
        rows = 0
        for batch, spec, span, table in plan:
            with ctx.op():
                df = spark.read.parquet(f[batch])
                with ctx.span(span):
                    write_partitioned(df, spec, f"{out}/{table}")
            rows += ctx.staged["rows"][batch]
        self.cycles.append(out)
        return rows + self.stream.run(ctx, i)

    def after_cycle(self, ctx) -> None:
        self.stream.after(ctx)

    def _expected_main(self, f) -> str:
        kept = [f[k] for k in sorted(f)
                if k == "create" or k.startswith("append_")
                or k == "create_new_keys"]
        return (f"SELECT * FROM read_parquet({oracle.sql_list(kept)}) t "
                f"WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{f['overwrite']}')"
                " o WHERE o.region = t.region AND o.day = t.day) "
                f"UNION ALL SELECT * FROM read_parquet('{f['overwrite']}')")

    def verify(self, ctx, gate) -> None:
        f = ctx.staged["files"]
        con = oracle.connect()
        from gen import SALES_SCHEMA
        want_main = oracle.partition_state(con, self._expected_main(f), PAYLOAD)
        want_orc = oracle.partition_state(
            con, f"SELECT * FROM read_parquet('{f['orc']}')", PAYLOAD)
        want_avro = oracle.partition_state(
            con, f"SELECT * FROM read_parquet('{f['avro']}')", PAYLOAD)
        self.found = self.expected = 0
        self.main_rows = sum(n for n, _ in want_main.values())
        for i, out in enumerate(self.cycles):
            got = oracle.partition_state(con, oracle.parquet_tree(f"{out}/main"),
                                         PAYLOAD)
            gate.same(f"c{i}.main.partitions", got, want_main)
            self.expected += sum(n for n, _ in want_main.values())
            self.found += sum(min(got.get(k, (0, 0))[0], n)
                              for k, (n, _) in want_main.items())
            con.register("orc_t", oracle.orc_tree(f"{out}/orc"))
            gate.same(f"c{i}.orc.partitions",
                      oracle.partition_state(con, "SELECT * FROM orc_t", PAYLOAD),
                      want_orc)
            con.register("avro_t", oracle.avro_tree(f"{out}/avro", SALES_SCHEMA))
            gate.same(f"c{i}.avro.partitions",
                      oracle.partition_state(con, "SELECT * FROM avro_t", PAYLOAD),
                      want_avro)
        con.close()
        self.stream.verify(ctx, gate)

    def counters(self, ctx, spans, traced) -> dict:
        main = [f"{self.cycles[i]}/main" for i in traced]
        files = sum(len(data_files(m)) for m in main)
        return {"partitioned_write.files": files / len(main),
                "partitioned_write.files_per_partition":
                    files / sum(n_partitions(m) for m in main),
                **self.stream.counters(ctx, spans, traced)}

    def stored(self, ctx) -> tuple[int, int]:
        out, rows = self.cycles[-1], ctx.staged["rows"]
        sink_bytes, sink_rows = self.stream.stored(ctx)
        return (sum(tree_bytes(f"{out}/{t}") for t in ("main", "orc", "avro"))
                + sink_bytes,
                self.main_rows + rows["orc"] + rows["avro"] + sink_rows)

    def recall(self, ctx) -> float:
        return ((self.found + self.stream.found)
                / (self.expected + self.stream.expected))


# ------------------------------------------------------------------ lookup

class Lookup(Workload):
    name = "partition_lookup"

    def __init__(self):
        self.answers: list[tuple[int, int, list]] = []
        self.merged = 0
        self.next = 0
        self.matched_rows: list[int] = []
        self.merge_s: list[float] = []

    def _spec(self):
        from dynamic_partitioner_spark import SinkSpec
        return SinkSpec(name="sales", field_names=["region", "day"],
                        append_to_partition="CREATE_OR_APPEND")

    def prepare(self, ctx) -> None:
        from dynamic_partitioner_spark import SinkSpec, write_partitioned
        self.table = f"{ctx.out}/table"
        base = ctx.spark.read.parquet(ctx.staged["files"]["base"])
        write_partitioned(base, SinkSpec(name="sales",
                                         field_names=["region", "day"]),
                          self.table)

    @staticmethod
    def _query(df, q):
        from pyspark.sql import functions as F
        agg = [F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")]
        if q["kind"] == "point":
            return df.where((F.col("region") == q["region"])
                            & (F.col("day") == q["day"])).agg(*agg)
        if q["kind"] == "range":
            return df.where((F.col("region") == q["region"])
                            & F.col("day").between(q["lo"], q["hi"])).agg(*agg)
        return df.groupBy("region").agg(*agg).orderBy("region")

    def exhausted(self, ctx) -> bool:
        per = ctx.shape["lookups_per_merge"]
        return (self.next + per > len(ctx.staged["lookups"])
                or self.merged >= len(ctx.staged["merges"]))

    def cycle(self, ctx, i: int) -> int:
        from dynamic_partitioner_spark import merge_upsert, read_partitioned

        spark, lookups = ctx.spark, ctx.staged["lookups"]
        rows = 0
        for _ in range(ctx.shape["lookups_per_merge"]):
            q = lookups[self.next]
            with ctx.op("lookup"):
                with ctx.span("read.discover"):
                    df = read_partitioned(spark, self.table)
                with ctx.span("read.scan", lookup=self.next):
                    res = [tuple(r) for r in self._query(df, q).collect()]
            self.answers.append((self.next, self.merged, res))
            self.matched_rows.append(sum(r[-2] for r in res))
            # every lookup is posed against the whole table
            rows += ctx.staged["rows"]["base"]
            self.next += 1
        name = ctx.staged["merges"][self.merged]
        t = time.perf_counter()
        updates = spark.read.parquet(ctx.staged["files"][name])
        with ctx.span("partitioned_write.merge"):
            merge_upsert(spark, self.table, updates, self._spec(), ["id"])
        self.merge_s.append(time.perf_counter() - t)
        ctx.untimed_ops += 1
        self.merged += 1
        return rows

    def verify(self, ctx, gate) -> None:
        f = ctx.staged["files"]
        con = oracle.connect()
        con.execute(f"CREATE TABLE state AS SELECT * FROM read_parquet('{f['base']}')")
        applied = 0

        def apply_merges(upto: int) -> None:
            nonlocal applied
            for name in ctx.staged["merges"][applied:upto]:
                m = f[name]
                con.execute(f"DELETE FROM state WHERE id IN "
                            f"(SELECT id FROM read_parquet('{m}'))")
                con.execute(f"INSERT INTO state SELECT * FROM read_parquet('{m}')")
            applied = max(applied, upto)

        sql = {
            "point": "SELECT count(*), sum(amount) FROM state "
                     "WHERE region = ? AND day = ?",
            "range": "SELECT count(*), sum(amount) FROM state "
                     "WHERE region = ? AND day BETWEEN ? AND ?",
            "full": "SELECT region, count(*), sum(amount) FROM state "
                    "GROUP BY region ORDER BY region"}
        for idx, merged, got in self.answers:
            apply_merges(merged)
            q = ctx.staged["lookups"][idx]
            args = [q[k] for k in ("region", "day", "lo", "hi") if k in q]
            want = [tuple(r) for r in con.execute(sql[q["kind"]], args).fetchall()]
            gate.same(f"lookup.{idx}.{q['kind']}", got, want)
        apply_merges(self.merged)
        self.want = oracle.partition_state(con, "SELECT * FROM state", PAYLOAD)
        self.got = oracle.partition_state(con, oracle.parquet_tree(self.table),
                                          PAYLOAD)
        gate.same("lookup.final_state_after_merges", self.got, self.want)
        con.close()

    def counters(self, ctx, spans, traced) -> dict:
        files = len(data_files(self.table))
        scans = [s for s in spans if s["name"] == "read.scan"]
        read = sum(s["input_records"] for s in scans)
        returned = sum(self.matched_rows[s["lookup"]] for s in scans)
        return {"partitioned_write.files": files,
                "partitioned_write.files_per_partition":
                    files / n_partitions(self.table),
                "read.rows_read_per_row_returned": read / max(returned, 1),
                "partitioned_write.merge_p50_ms":
                    1000 * quantile(self.merge_s, 0.5),
                **lookup_tail(ctx.ops)}

    def stored(self, ctx) -> tuple[int, int]:
        return tree_bytes(self.table), sum(n for n, _ in self.got.values())

    def recall(self, ctx) -> float:
        want = sum(n for n, _ in self.want.values())
        return sum(min(self.got.get(k, (0, 0))[0], n)
                   for k, (n, _) in self.want.items()) / want


# ------------------------------------------------------------------- dedup

class Dedup(Workload):
    name = "corpus_dedup"

    def __init__(self):
        self.results: list[dict] = []

    def cycle(self, ctx, i: int) -> int:
        from dynamic_partitioner_spark import SinkSpec, write_partitioned
        from dynamic_partitioner_spark.operators.dedup import (
            apply_dedup, near_dup_minhash, ngram_jaccard_pairs)

        spark, shape = ctx.spark, ctx.shape
        out = f"{ctx.out}/c{i}/kept"
        corpus = spark.read.parquet(ctx.staged["files"]["corpus"])
        with ctx.op("dedup.minhash"):
            pairs_df = near_dup_minhash(corpus, "id", "text",
                                        threshold=shape["minhash_threshold"]
                                        ).persist()
            ctx.returned()
            pairs = [tuple(r) for r in pairs_df.collect()]
        with ctx.op("dedup.apply"):
            kept_df = apply_dedup(corpus, pairs_df, "id").persist()
            ctx.returned()
            kept = {r[0] for r in kept_df.select("id").collect()}
        with ctx.op("dedup.ngram"):
            ngram_df = ngram_jaccard_pairs(corpus, "id", "text", "block",
                                           threshold=shape["ngram_threshold"])
            ctx.returned()
            ngram = [tuple(r) for r in ngram_df.collect()]
        with ctx.op("partitioned_write.write"):
            write_partitioned(kept_df, SinkSpec(name="kept",
                                                field_names=["block"]), out)
        self.results.append({"pairs": pairs, "kept": kept, "ngram": ngram,
                             "out": out})
        return ctx.staged["rows"]["corpus"]

    def _docs(self, ctx) -> dict:
        if not hasattr(self, "_doc_cache"):
            import pyarrow.parquet as pq
            t = pq.read_table(ctx.staged["files"]["corpus"]).to_pydict()
            self._doc_cache = {
                i: (b, oracle.shingle_set(x))
                for i, b, x in zip(t["id"], t["block"], t["text"])}
        return self._doc_cache

    def planted(self, ctx) -> set:
        docs, t = self._docs(ctx), ctx.shape["minhash_threshold"]
        out = set()
        for members in ctx.staged["clusters"]:
            for a in members:
                for b in members:
                    if a < b and oracle.jaccard(docs[a][1], docs[b][1]) >= t:
                        out.add((a, b))
        return out

    def verify(self, ctx, gate) -> None:
        docs, shape = self._docs(ctx), ctx.shape
        blk = shape["brute_force_block"]
        in_blk = {i: s for i, (b, s) in docs.items() if b == blk}
        brute = oracle.brute_force_pairs(in_blk, shape["ngram_threshold"])
        con = oracle.connect()
        corpus = ctx.staged["files"]["corpus"]
        for c, r in enumerate(self.results):
            bad = [p for p in r["pairs"]
                   if not (p[0] < p[1] and p[2] >= shape["minhash_threshold"]
                           and oracle.jaccard(docs[p[0]][1], docs[p[1]][1]) == p[2])]
            gate.check(f"c{c}.minhash.pairs_recomputed", not bad,
                       f"{len(bad)} pairs fail recomputation, e.g. {bad[:3]}")
            root = oracle.components((a, b) for a, b, _ in r["pairs"])
            want_kept = {i for i in docs if root.get(i, i) == i}
            gate.same(f"c{c}.apply.kept_ids", r["kept"], want_kept)
            bad = [p for p in r["ngram"]
                   if not (p[0] < p[1] and p[2] >= shape["ngram_threshold"]
                           and oracle.jaccard(docs[p[0]][1], docs[p[1]][1]) == p[2])]
            gate.check(f"c{c}.ngram.pairs_recomputed", not bad,
                       f"{len(bad)} pairs fail recomputation, e.g. {bad[:3]}")
            got_blk = {p for p in r["ngram"] if p[0] in in_blk and p[1] in in_blk}
            gate.same(f"c{c}.ngram.brute_force_block_{blk}", got_blk, brute)
            con.execute("CREATE OR REPLACE TEMP TABLE kept_ids (id BIGINT)")
            con.executemany("INSERT INTO kept_ids VALUES (?)",
                            [(i,) for i in sorted(want_kept)])
            want = con.execute(
                f"SELECT block, count(*), sum(hash(id, text)::HUGEINT) "
                f"FROM read_parquet('{corpus}') WHERE id IN (SELECT id FROM kept_ids) "
                "GROUP BY block").fetchall()
            got = con.execute(
                f"SELECT block, count(*), sum(hash(id, text)::HUGEINT) "
                f"FROM ({oracle.parquet_tree(r['out'])}) GROUP BY block").fetchall()
            gate.same(f"c{c}.kept_write.partitions", sorted(got), sorted(want))
        con.close()

    def counters(self, ctx, spans, traced) -> dict:
        from pyspark.sql import functions as F
        from dynamic_partitioner_spark.operators.dedup import (
            lsh_candidate_pairs, minhash_signature_batched, shingle_bases,
            shingles_batched)

        # the same signatures near_dup_minhash bands (n=3, k=32, 8x4)
        corpus = ctx.spark.read.parquet(ctx.staged["files"]["corpus"])
        base = corpus.select(F.col("id").alias("_id"),
                             shingles_batched(F.col("text"), 3).alias("sh"))
        sigs = base.select("_id", minhash_signature_batched(
            shingle_bases(F.col("sh")), 32).alias("sig"))
        cand = lsh_candidate_pairs(sigs, "_id", "sig", 8, 4).count()
        ngram = [s for s in spans if s["name"] == "dedup.ngram"]
        return {"dedup.lsh_candidates": cand,
                "dedup.verify_yield": len(self.results[-1]["pairs"]) / max(cand, 1),
                "dedup.ngram_join_rows":
                    sum(s.get("join_rows", 0) for s in ngram) / max(len(ngram), 1)}

    def stored(self, ctx) -> tuple[int, int]:
        r = self.results[-1]
        return tree_bytes(r["out"]), len(r["kept"])

    def recall(self, ctx) -> float:
        planted = self.planted(ctx)
        found = {(a, b) for a, b, _ in self.results[-1]["pairs"]}
        return len(planted & found) / len(planted)


# ------------------------------------------------ streaming half of ingest

def progress_log():
    """A StreamingQueryListener that keeps every query's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.by_name: dict[str, str] = {}
            self.progress: dict[str, list[dict]] = {}
            self.ended: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                if event.name:
                    self.by_name[event.name] = str(event.runId)

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators
            rec = {"batch": p.batchId, "rows": p.numInputRows,
                   "durationMs": dict(p.durationMs),
                   "state_rows": ops[0].numRowsTotal if ops else None,
                   "state_commit_ms": ops[0].commitTimeMs if ops else None}
            with self.lock:
                self.progress.setdefault(str(p.runId), []).append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.ended.add(str(event.runId))

        def batches(self, run_id: str, timeout: float = 30.0) -> list[dict]:
            """Progress of ``run_id``'s data batches, once its
            termination event (posted after its last progress) arrived."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if run_id in self.ended:
                        return [p for p in self.progress.get(run_id, [])
                                if p["rows"] > 0]
                time.sleep(0.02)
            raise TimeoutError(f"no termination event for query {run_id}")

    return ProgressLog()


class StreamIngest:
    """The streaming half of ``ingest_partitioned``: staged files with
    forced ascending mtimes, one file per trigger, ``availableNow``,
    drained through the partitioned sink and through keyed state."""

    def __init__(self):
        self.results: list[dict] = []
        self.log = None

    def prepare(self, ctx) -> None:
        self.log = progress_log()
        ctx.spark.streams.addListener(self.log)

    def close(self, ctx) -> None:
        if self.log is not None:
            ctx.spark.streams.removeListener(self.log)
            self.log = None

    def run(self, ctx, i: int) -> int:
        from dynamic_partitioner_spark import SinkSpec
        from dynamic_partitioner_spark.streaming.stateful import run_stateful_user_stats
        from dynamic_partitioner_spark.streaming.write import (
            run_stream_to_completion, stream_from_files, stream_write_partitioned)

        spark, src = ctx.spark, ctx.staged["stream"]["src"]
        out = f"{ctx.out}/c{i}"
        spec = SinkSpec(name="events", field_names=["region", "day"],
                        append_to_partition="CREATE_OR_APPEND")
        table = f"perfbench_state_{os.getpid()}_{i}"
        with ctx.span("stream.sink") as sp:
            sdf = stream_from_files(spark, src, max_files_per_trigger=1)
            q = stream_write_partitioned(sdf, spec, f"{out}/sink", f"{out}/ck")
            ctx.returned()
            run_stream_to_completion(q, 120)
            if sp is not None:
                sp["stream_runs"] = [str(q.runId)]
        sink_run = str(q.runId)
        with ctx.span("stream.state") as sp:
            final = run_stateful_user_stats(spark, src, table)
            ctx.returned()
            state = {r[0]: (r[1], r[2]) for r in final.collect()}
            if sp is not None:
                sp["stream_runs"] = [self.log.by_name[table]]
        spark.catalog.dropTempView(table)
        self.results.append({"out": f"{out}/sink", "state": state,
                             "runs": (sink_run, self.log.by_name[table])})
        return ctx.staged["stream"]["rows"]

    def after(self, ctx) -> None:
        """Micro-batch latencies become the cycle's operations (read
        once the listener has every batch; outside the cycle's wall)."""
        r = self.results[-1]
        r["batches"] = [self.log.batches(run) for run in r["runs"]]
        ctx.ops.extend(b["durationMs"]["triggerExecution"] / 1000
                       for bs in r["batches"] for b in bs)

    def verify(self, ctx, gate) -> None:
        con = oracle.connect()
        src = f"read_parquet('{ctx.staged['stream']['src']}/*.parquet')"
        want = oracle.partition_state(con, f"SELECT * FROM {src}",
                                      ["user_id", "value"])
        want_state = {u: (n, round(s, 2)) for u, n, s in con.execute(
            f"SELECT user_id, count(*), sum(value) FROM {src} GROUP BY user_id"
        ).fetchall()}
        n_files = len(ctx.staged["stream"]["files"])
        self.found = self.expected = 0
        for c, r in enumerate(self.results):
            got = oracle.partition_state(con, oracle.parquet_tree(r["out"]),
                                         ["user_id", "value"])
            gate.same(f"c{c}.stream_sink.partitions", got, want)
            self.expected += sum(n for n, _ in want.values())
            self.found += sum(min(got.get(k, (0, 0))[0], n)
                              for k, (n, _) in want.items())
            gate.same(f"c{c}.stream_state.per_user", r["state"], want_state)
            gate.same(f"c{c}.micro_batches",
                      [len(b) for b in r["batches"]], [n_files, n_files])
        con.close()

    def counters(self, ctx, spans, traced) -> dict:
        runs = [self.results[i] for i in traced]
        bs = [b for r in runs for q in r["batches"] for b in q]
        state = [r["batches"][1][-1]["state_rows"] for r in runs]
        return {"stream.batches": len(bs) / len(runs),
                "stream.add_batch_ms_p50":
                    quantile([b["durationMs"]["addBatch"] for b in bs], 0.5),
                "stream.commit_ms_p50":
                    quantile([b["durationMs"].get("commitOffsets", 0)
                              + b["durationMs"].get("walCommit", 0)
                              for b in bs], 0.5),
                "stream.state_rows": quantile(state, 0.5)}

    def stored(self, ctx) -> tuple[int, int]:
        return tree_bytes(self.results[-1]["out"]), ctx.staged["stream"]["rows"]


WORKLOADS = {w.name: w for w in (Ingest, Lookup, Dedup)}


def lookup_tail(latencies: list[float]) -> dict:
    """The lookup tail by the percentile rule, with its sample count."""
    q = tail_percentile(len(latencies))
    return {"read.lookups": len(latencies),
            "read.lookup_tail_pct": 100 * q if q else 0.0,
            "read.lookup_tail_ms": 1000 * quantile(latencies, q) if q else 0.0}
