"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Set-up starts the engine's Spark
session, runs one untimed warm-up cycle on a different seed, and stages
the seeded inputs (several times; the median counts).  The timed section
repeats the workload's cycle, one engine call at a time, until
``--seconds`` of cycles have run.  The correctness gate then checks every
result against DuckDB.  The last stdout line is the result object; the
full record (host signature, input hash, checks, cycles) and, when
traced, the spans go to ``perfbench/out/``.

Exit codes: 0 measured and correct, 1 a check failed or an operation
raised (result still printed), 2 could not run (no result printed).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from statistics import mean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARM_SEED_OFFSET = 7_919
SETUP_REPS = 3              # stagings per run; their median counts

# spans the layer table reports, one per public call (read.* split the
# lookup into the eager partition listing and the scan)
SPANS = ["partitioned_write.write", "partitioned_write.create_existing",
         "partitioned_write.merge", "avro_py.write", "read.discover",
         "read.scan", "dedup.minhash", "dedup.ngram", "dedup.apply",
         "stream.sink", "stream.state"]


class SetupError(Exception):
    """The benchmark cannot run here; no result is printed."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True


def make_workdir() -> str:
    """Per-pid scratch under the benchmark's own directory; leftovers
    of dead runs are removed first."""
    root = os.path.join(HERE, ".work")
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(root):
        pid = name.removeprefix("run-")
        if pid.isdigit() and int(pid) != os.getpid() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    work = os.path.join(root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def configure_env(work: str) -> None:
    """Everything the JVM and the Python workers inherit: the package
    path (workers import it by name), the core count, and scratch dirs
    inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_signature(sc) -> dict:
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version")}


def load_config() -> tuple[dict, dict]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "shapes.json")) as f:
            shapes = json.load(f)
    except (OSError, ValueError) as e:
        raise SetupError(f"benchmark config unreadable: {e}") from e
    if not os.path.isfile(os.path.join(ROOT, "dynamic_partitioner_spark",
                                       "__init__.py")):
        raise SetupError(f"engine package dynamic_partitioner_spark not "
                         f"found next to {HERE}")
    return bench, shapes


class Run:
    def __init__(self, args, shapes: dict, work: str):
        self.args = args
        self.shapes = shapes
        self.work = work
        self.spark = None
        self.jvm = None

    # ------------------------------------------------------------ set-up
    def start(self) -> None:
        sys.path.insert(0, ROOT)
        self.load_start = os.getloadavg()[:2]
        t = time.perf_counter()
        from dynamic_partitioner_spark import get_spark
        cwd = os.getcwd()
        os.chdir(self.work)       # the session's warehouse dir follows cwd
        try:
            self.spark = get_spark("perfbench")
        finally:
            os.chdir(cwd)
        self.get_spark_s = time.perf_counter() - t
        sc = self.spark.sparkContext
        self.jvm = sc._gateway.proc
        self.host = host_signature(sc)

    def stage(self, ctx, seed: int, shape: dict, tag: str) -> None:
        import gen
        ctx.shape = shape
        ctx.staged = gen.stage(self.args.workload, seed, shape,
                               os.path.join(self.work, f"in-{tag}"))
        ctx.out = os.path.join(self.work, f"out-{tag}")

    def discard(self, tag: str) -> None:
        self.spark.catalog.clearCache()
        for d in (f"in-{tag}", f"out-{tag}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        from spans import SparkUI, Tracer, attribute
        from workloads import WORKLOADS, Ctx

        args = self.args
        wl_cls = WORKLOADS[args.workload]
        self.start()
        sc = self.spark.sparkContext
        tracer = Tracer(sc, f"{args.workload}-{args.seed}-{os.getpid()}")
        ctx = Ctx(self.spark, tracer, self.work, {})

        # the warm-up runs every code path of a cycle on the workload's
        # smaller "warmup" shape: a full-size warm-up cost 4-6 s more per
        # run and did not make the timed cycle measurably steadier
        shape = {k: v for k, v in self.shapes[args.workload].items()
                 if k != "warmup"}
        t = time.perf_counter()
        self.stage(ctx, args.seed + WARM_SEED_OFFSET,
                   {**shape, **self.shapes[args.workload].get("warmup", {})},
                   "warm")
        warm = wl_cls()
        warm.prepare(ctx)
        warm.cycle(ctx, 0)
        warm.after_cycle(ctx)
        warm.close(ctx)
        self.discard("warm")
        warmup_s = time.perf_counter() - t

        # staging is repeated and its median counts; the session and the
        # warm-up cannot be repeated in one process
        stage_s = []
        for r in range(SETUP_REPS):
            if r:
                self.discard(f"r{r - 1}")
            t = time.perf_counter()
            self.stage(ctx, args.seed, shape, f"r{r}")
            stage_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl = wl_cls()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t
        setup_s = self.get_spark_s + warmup_s + median(stage_s) + prepare_s

        cycles, traced, errors = [], [], []
        ctx.ops, ctx.untimed_ops = [], 0
        measured = 0.0
        while True:
            i = len(cycles)
            # traced runs interleave untraced and traced cycles as
            # U T T U, so the warm-up trend cancels out of the overhead
            is_traced = bool(args.trace) and i % 4 in (1, 2)
            self.spark.catalog.clearCache()
            tracer.on = is_traced
            t = time.perf_counter()
            try:
                with tracer.span("cycle", cycle=i):
                    rows = wl.cycle(ctx, i)
            except Exception:                       # an operation failed
                errors.append(traceback.format_exc())
                tracer.on = False
                break
            wall = time.perf_counter() - t
            tracer.on = False
            wl.after_cycle(ctx)
            if is_traced:
                traced.append(i)
            cycles.append({"cycle": i, "wall_s": wall, "rows": rows,
                           "traced": is_traced})
            measured += wall
            enough = measured >= args.seconds and (
                not args.trace or len(cycles) % 4 == 0)
            if enough or wl.exhausted(ctx):
                break

        if traced:
            # once, after the timed section: querying the UI between
            # cycles slowed the next cycles by up to a quarter
            attribute(sc, SparkUI(sc), tracer.spans,
                      want_sql=args.workload == "corpus_dedup")

        from oracle import Gate
        gate = Gate()
        attempted = len(ctx.ops) + ctx.untimed_ops + len(errors)
        if not errors:
            try:
                wl.verify(ctx, gate)
            except Exception:         # output the gate could not even read
                gate.check("verify", False, traceback.format_exc())
        failed = min(attempted, len(errors) + gate.failed)
        result = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "host": self.host, "inputs_sha256": ctx.staged["hash"],
                  "setup": {"get_spark_s": self.get_spark_s,
                            "warmup_s": warmup_s, "stage_s": stage_s,
                            "prepare_s": prepare_s},
                  "cycles": cycles, "ops_s": ctx.ops,
                  "checks": gate.checks, "errors": errors,
                  "attempted": attempted, "failed": failed}
        if errors or gate.failed:
            result["metrics"] = {}
        elif args.trace:
            result["metrics"] = self.layer_metrics(
                wl, ctx, tracer, cycles, traced)
        else:
            result["metrics"] = self.e2e_metrics(wl, ctx, setup_s, cycles)
        wl.close(ctx)
        result["load"] = {"start": self.load_start, "end": os.getloadavg()[:2]}
        result["spans"] = tracer.spans
        return result

    # ----------------------------------------------------------- metrics
    def e2e_metrics(self, wl, ctx, setup_s: float, cycles: list) -> dict:
        untraced = [c for c in cycles if not c["traced"]]
        data_bytes, rows = wl.stored(ctx)
        return {"setup_s": setup_s,
                "wall_s": median([c["wall_s"] for c in untraced]),
                "rows_per_s": median([c["rows"] / c["wall_s"] for c in untraced]),
                "op_mean_ms": 1000 * mean(ctx.ops),
                "stored_bytes_per_row": data_bytes / rows,
                "recall": wl.recall(ctx)}

    def layer_metrics(self, wl, ctx, tracer, cycles, traced) -> dict:
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        tr = tracer.spans                     # recorded in traced cycles only
        n = len(traced)
        # peak RSS varied by 10-30 % between seeds, so it is a layer
        # metric rather than a bounded end-to-end one
        out = {"session.get_spark_s": self.get_spark_s,
               "session.peak_rss_mb": (vm_hwm_mb(os.getpid())
                                       + vm_hwm_mb(self.jvm.pid))}
        for name in SPANS:
            ss = [s for s in tr if s["name"] == name]
            out[f"{name}.s"] = sum(s["end"] - s["start"] for s in ss) / n
            out[f"{name}.construct_s"] = sum(s["returned"] - s["start"]
                                             for s in ss) / n
            for k in ("jobs", "tasks", "task_run_s", "gap_s"):
                out[f"{name}.{k}"] = sum(s[k] for s in ss) / n
        walls = {c["cycle"]: c["wall_s"] for c in cycles}
        out["spark.busy_ratio"] = (sum(s["task_run_s"] for s in tr)
                                   / (sum(walls[i] for i in traced) * cores))
        out["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"]
                                            for s in tr) / 1e6 / n
        out["spark.spill_mb"] = sum(s["spill_bytes"] for s in tr) / 1e6 / n
        out["trace.overhead_ratio"] = (
            mean(walls[i] for i in traced)
            / mean(w for i, w in walls.items() if i not in traced))
        out.update(wl.counters(ctx, tr, traced))
        return out


def emit(bench: dict, result: dict, trace: int) -> dict:
    """The result line: exactly the metrics BENCHMARK.json declares for
    this mode; a layer the workload does not exercise reads 0."""
    declared = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    ok = not result["errors"] and all(c["ok"] for c in result["checks"])
    metrics = {}
    if ok:
        names = {m["name"] for m in declared}
        undeclared = sorted(set(got) - names)
        missing = [] if trace else sorted(names - set(got))
        if undeclared or missing:
            raise RuntimeError(f"BENCHMARK.json and the run disagree: "
                               f"undeclared {undeclared}, missing {missing}")
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in declared}
    return {"correct": ok, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_session(run: Run) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    if run.spark is None:
        return
    run.spark.stop()
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if run.jvm is not None:
        try:
            run.jvm.stdin.close()
        except OSError:
            pass
        try:
            run.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            run.jvm.kill()
            run.jvm.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        bench, shapes = load_config()
        names = [w["name"] for w in bench["workloads"]]
        if args.workload not in names or args.workload not in shapes:
            raise SetupError(f"unknown workload {args.workload!r}; one of {names}")
        if args.seconds <= 0:
            raise SetupError("--seconds must be positive")
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = make_workdir()
    configure_env(work)
    run = Run(args, shapes, work)
    try:
        result = run.run()
    except Exception:
        traceback.print_exc()
        print("perfbench: run aborted before a result", file=sys.stderr)
        return 2
    finally:
        try:
            stop_session(run)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    line = emit(bench, result, args.trace)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}"
                                 f"-{os.getpid()}")
    spans = result.pop("spans")
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    result["result_line"] = line
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1)
    for c in result["checks"]:
        if not c["ok"]:
            print(f"perfbench: CHECK FAILED {c['check']}: {c['detail']}",
                  file=sys.stderr)
    for e in result["errors"]:
        print(e, file=sys.stderr)
    for name, m in line["metrics"].items():
        print(f"  {name:48s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"host": result["host"], "load": result["load"],
                      "inputs_sha256": result["inputs_sha256"],
                      "record": os.path.relpath(stem + ".json", os.getcwd())}))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
