"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload corpus_pass --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around every
call into a layer and prints the per-layer metrics instead, writing the
spans to ``perfbench/out/trace-<workload>-<seed>.json``. Inputs, Spark's
local directories and temporary files live in a run-private directory
under ``.perfbench_run/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_p50_s": "s",
    "op_cpu_s": "CPU-s",
    "jvm_live_heap_mb": "MB",
    "py_peak_rss_mb": "MB",
}

SPAN_METRICS = (
    "schema.metaschema", "engine.compile", "lowering.build", "pipeline.call",
    "engine.verdicts", "engine.violations", "engine.partition_verdicts",
    "operators.stats", "operators.uniqueness", "operators.referential",
    "operators.drift", "variant.verdicts", "batch.violations",
)
PER_LAYER = {
    **{f"{name}_s": "s" for name in SPAN_METRICS},
    "lowering.variant_requests": "count",
    "lowering.batch_requests": "count",
    "catalyst.analyze_s": "s",
    "catalyst.optimize_s": "s",
    "catalyst.physical_s": "s",
    "codegen.classes": "count",
    "codegen.compile_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "CPU-s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.python_worker_cpu_s": "CPU-s",
    "variant.verdicts_cpu_s": "CPU-s",
    "batch.violations_cpu_s": "CPU-s",
    "batch.full_walk_docs": "count",
    "trace.op_wall_s": "s",
}
# counted per round of requests rather than per op
PER_ROUND = ("lowering.variant_requests", "lowering.batch_requests")

SETUP_BUILDS = 3
# The first op compiles every generated class and the JIT keeps speeding
# ops up for a few more; a round of several ops after the warm-up gives
# every run the same stretch of that curve.
WARMUP_OPS = 2
OPS_PER_ROUND = 3


class Op:
    """One timed operation of a round."""

    def __init__(self, run, expected_failure: bool = False) -> None:
        self.run = run  # (tracer, op id) -> (docs verdicted, errors, facts)
        self.expected_failure = expected_failure


class CorpusPass:
    name = "corpus_pass"

    def __init__(self, spark, run_dir: str, seed: int, scale: float) -> None:
        self.spark, self.run_dir, self.seed, self.scale = spark, run_dir, seed, scale

    def build(self, k: int) -> None:
        import corpus

        self.path = os.path.join(self.run_dir, f"corpus-{k}")
        corpus.generate(self.seed, self.path, round(corpus.N_ROWS * self.scale))
        self.docs = self.spark.read.parquet(self.path)

    def prepare(self) -> None:
        import duckdb

        import corpus

        self.con = duckdb.connect()
        self.expected = corpus.oracle(self.con, self.path)

    def warmup(self) -> list:
        import corpus

        return [lambda: corpus.run_op(self.spark, self.docs)] * WARMUP_OPS

    def round(self, r: int) -> list[Op]:
        return [self._op() for _ in range(OPS_PER_ROUND)]

    def _op(self) -> Op:
        import corpus

        def run(tracer, op):
            out, facts = corpus.run_op(self.spark, self.docs, tracer, op)
            errs = corpus.check(self.con, self.expected, out)
            return out["verdicts"].num_rows, errs, facts

        return Op(run)


class JsonDocs:
    name = "json_docs"

    def __init__(self, spark, run_dir: str, seed: int, scale: float) -> None:
        self.spark, self.run_dir, self.seed, self.scale = spark, run_dir, seed, scale

    def build(self, k: int) -> None:
        import jsondocs

        from jschon_spark import ConstraintEngine

        path = os.path.join(self.run_dir, f"docs-{k}")
        docs, self.faults = jsondocs.generate(
            self.seed, round(jsondocs.N_DOCS * self.scale))
        self.n_docs = len(docs)
        jsondocs.write(docs, path)
        self.docs = self.spark.read.parquet(path)
        self.compiled = ConstraintEngine(assert_formats=True).compile(jsondocs.SCHEMA)

    def prepare(self) -> None:
        import jsondocs

        self.fast = jsondocs.fastpath_compiles(jsondocs.SCHEMA)

    def warmup(self) -> list:
        import jsondocs

        return [lambda: jsondocs.run_op(self.compiled, self.docs)] * WARMUP_OPS

    def round(self, r: int) -> list[Op]:
        return [self._op() for _ in range(OPS_PER_ROUND)]

    def _op(self) -> Op:
        import jsondocs

        def run(tracer, op):
            out, facts = jsondocs.run_op(self.compiled, self.docs, tracer, op)
            errs = jsondocs.check(self.n_docs, self.faults, out)
            if tracer is not None:
                failing = len(set(out["violations"].column("doc_id").to_pylist()))
                facts["batch.full_walk_docs"] = failing if self.fast else self.n_docs
            return self.n_docs, errs, facts

        return Op(run)


class SchemaRequests:
    name = "schema_requests"

    def __init__(self, spark, run_dir: str, seed: int, scale: float) -> None:
        import schema_requests

        self.spark, self.seed = spark, seed
        self.cases = schema_requests.load_cases()
        self.plan = schema_requests.Plan(self.cases, seed)
        self.table = None

    def build(self, k: int) -> None:
        import schema_requests

        if self.table is not None:
            self.table.unpersist(blocking=True)
        self.table = schema_requests.build_table(self.spark, self.cases)

    def prepare(self) -> None:
        pass

    def warmup(self) -> list:
        return [lambda op=self._op(i, rebuilt): op.run(None, -1)
                for i, rebuilt in self.plan.warmup()]

    def round(self, r: int) -> list[Op]:
        return [self._op(i, rebuilt) for i, rebuilt in self.plan.round(r)]

    def _op(self, case_id: int, rebuilt: bool) -> Op:
        import schema_requests

        case, assert_formats = self.cases[case_id]

        def run(tracer, op):
            rows, facts = schema_requests.run_op(
                self.table, case, assert_formats, rebuilt, case_id, tracer, op)
            return len(rows), schema_requests.check(case, rows), facts

        return Op(run, expected_failure=case_id in self.plan.big)


WORKLOADS = {w.name: w for w in (CorpusPass, JsonDocs, SchemaRequests)}


def run(args, t_process: float) -> dict:
    import harness

    tracer = harness.Tracer() if args.trace else None
    spark = harness.start_spark(args.run_dir)
    try:
        t_session = time.time() - t_process
        w = WORKLOADS[args.workload](spark, args.run_dir, args.seed, args.scale)
        builds = []
        for k in range(SETUP_BUILDS):
            t = time.perf_counter()
            w.build(k)
            builds.append(time.perf_counter() - t)
        w.prepare()
        t = time.perf_counter()
        for warm in w.warmup():
            warm()
        t_warmup = time.perf_counter() - t
        print(f"setup: session {t_session:.2f}s, input builds "
              f"{', '.join(f'{b:.2f}' for b in builds)}s, warm-up {t_warmup:.2f}s",
              file=sys.stderr)
        counters = harness.SparkCounters(spark) if tracer else None

        walls, cpus, docs, layer = [], [], [], []
        attempted = failed = rounds = 0
        unexpected: list[str] = []
        t_start = time.perf_counter()
        while rounds == 0 or time.perf_counter() - t_start < args.seconds:
            for op in w.round(rounds):
                cpu0, workers0 = harness.tree_cpu()
                t = time.perf_counter()
                if tracer:
                    with tracer.span("op", attempted):
                        n_docs, errs, facts = op.run(tracer, attempted)
                else:
                    n_docs, errs, facts = op.run(None, attempted)
                wall = time.perf_counter() - t
                cpu1, workers1 = harness.tree_cpu()
                attempted += 1
                walls.append(wall)
                cpus.append(cpu1 - cpu0)
                docs.append(n_docs)
                if errs:
                    failed += 1
                    if not op.expected_failure:
                        unexpected += errs
                if tracer:
                    facts.update(counters.take())
                    facts["exec.python_worker_cpu_s"] = workers1 - workers0
                    facts["trace.op_wall_s"] = wall
                    layer.append(facts)
            rounds += 1

        if tracer:
            metrics = _per_layer(tracer, layer, rounds)
        else:
            metrics = {
                "setup_s": t_session + statistics.median(builds) + t_warmup,
                "docs_per_s": sum(docs) / sum(walls),
                "op_p50_s": statistics.median(walls),
                "op_cpu_s": statistics.median(cpus),
                "jvm_live_heap_mb": harness.jvm_live_heap_mb(spark),
                "py_peak_rss_mb": harness.peak_rss_mb(),
            }
        print(f"ops: {len(walls)} in {rounds} rounds, wall "
              f"{', '.join(f'{x:.3f}' for x in walls)}s", file=sys.stderr)
        for e in unexpected:
            print(f"check failed: {e}", file=sys.stderr)
    finally:
        harness.stop_spark(spark)
    if tracer:
        _write_trace(args, tracer)
    units = PER_LAYER if tracer else END_TO_END
    return {
        "correct": not unexpected,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _per_layer(tracer, layer: list[dict], rounds: int) -> dict:
    """Per-op means of every layer metric; request counts per round."""
    n = len(layer)
    out = {k: 0.0 for k in PER_LAYER}
    for name in SPAN_METRICS:
        out[f"{name}_s"] = tracer.total(name) / n
    for facts in layer:
        for k, v in facts.items():
            out[k] += v / (rounds if k in PER_ROUND else n)
    return out


def _write_trace(args, tracer) -> None:
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.spans}, f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for smoke tests")
    args = p.parse_args()
    # turn SIGTERM into SystemExit so the session and run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "jschon_spark", "__init__.py")):
        print(f"no jschon_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness

    t_process = harness.process_start_epoch()
    args.run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    tmp = os.path.join(args.run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(args.run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    try:
        result = run(args, t_process)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.run_dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
