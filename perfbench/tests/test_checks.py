"""The benchmark's correctness checks accept the program's real outputs and
reject them after one verdict is flipped or one violation row dropped;
every workload runs end to end at smoke size."""

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pytest

import corpus
import jsondocs
import run as bench
import schema_requests
from conftest import BENCH, ROOT


def _flip_first(table: pa.Table, col: str) -> pa.Table:
    values = table.column(col).to_pylist()
    values[0] = not values[0]
    return table.set_column(table.schema.get_field_index(col), col,
                            pa.array(values, pa.bool_()))


@pytest.fixture(scope="module")
def corpus_run(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus"))
    corpus.generate(5, path, 4000)
    con = duckdb.connect()
    expected = corpus.oracle(con, path)
    out, _ = corpus.run_op(spark, spark.read.parquet(path))
    return con, expected, out


def test_corpus_outputs_match_the_oracle(corpus_run):
    con, expected, out = corpus_run
    assert corpus.check(con, expected, out) == []
    assert expected["metrics"]["n_failed"] > 0
    assert expected["metrics"]["n_duplicate_url_groups"] > 0
    assert expected["metrics"]["n_lang_violations"] > 0


def test_corpus_check_rejects_a_flipped_verdict(corpus_run):
    con, expected, out = corpus_run
    bad = dict(out, verdicts=_flip_first(out["verdicts"], "passed"))
    assert any("verdicts" in e for e in corpus.check(con, expected, bad))


def test_corpus_check_rejects_a_dropped_violation(corpus_run):
    con, expected, out = corpus_run
    bad = dict(out, violations=out["violations"].slice(1))
    errs = corpus.check(con, expected, bad)
    assert any("violations" in e for e in errs)
    assert any("(keyword, instance_path) counts" in e for e in errs)


def test_corpus_check_rejects_wrong_aggregates(corpus_run):
    con, expected, out = corpus_run
    parts = out["partition_verdicts"]
    n = parts.column("n_failed").to_pylist()
    n[0] += 1
    bad = dict(out, partition_verdicts=parts.set_column(
        parts.schema.get_field_index("n_failed"), "n_failed", pa.array(n, pa.int64())))
    assert corpus.check(con, expected, bad) == ["partition_verdicts differ from the oracle"]
    drift = [dict(d) for d in out["drift"]]
    drift[0]["n"] += 1
    assert corpus.check(con, expected, dict(out, drift=drift))
    metrics = dict(out["metrics"], n_lang_violations=-1)
    assert corpus.check(con, expected, dict(out, metrics=metrics))


@pytest.fixture(scope="module")
def json_run(spark, tmp_path_factory):
    from jschon_spark import ConstraintEngine

    path = str(tmp_path_factory.mktemp("docs"))
    docs, faults = jsondocs.generate(7, 600)
    jsondocs.write(docs, path)
    compiled = ConstraintEngine(assert_formats=True).compile(jsondocs.SCHEMA)
    out, _ = jsondocs.run_op(compiled, spark.read.parquet(path))
    return len(docs), faults, out


def test_json_outputs_match_the_planted_faults(json_run):
    n, faults, out = json_run
    assert len({kw for kw, _ in faults.values()}) >= 6
    assert jsondocs.check(n, faults, out) == []


def test_json_check_rejects_a_flipped_verdict(json_run):
    n, faults, out = json_run
    bad = dict(out, verdicts=_flip_first(out["verdicts"], "passed"))
    assert jsondocs.check(n, faults, bad)


def test_json_check_rejects_a_dropped_violation(json_run):
    n, faults, out = json_run
    bad = dict(out, violations=out["violations"].slice(1))
    assert jsondocs.check(n, faults, bad)


def test_json_schema_lowers_onto_variant_and_fastpath(spark):
    from jschon_spark import ConstraintEngine

    compiled = ConstraintEngine(assert_formats=True).compile(jsondocs.SCHEMA)
    df = spark.createDataFrame([(0, "{}")], "doc_id long, doc string")
    plan = compiled.apply_json(df, "doc")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert jsondocs.fastpath_compiles(jsondocs.SCHEMA)


def test_schema_requests_check_expected_verdicts(spark):
    cases = schema_requests.load_cases()
    table = schema_requests.build_table(spark, cases)
    plan = schema_requests.Plan(cases, seed=3)
    case_id = next(i for i, _ in plan.round(0) if i not in plan.big)
    case, fmt = cases[case_id]
    rows, _ = schema_requests.run_op(table, case, fmt, True, case_id)
    assert schema_requests.check(case, rows) == []
    flipped = [dict(r.asDict(), passed=not r["passed"]) if k == 0 else r.asDict()
               for k, r in enumerate(rows)]
    assert schema_requests.check(case, flipped)
    assert schema_requests.check(case, [r.asDict() for r in rows[1:]])
    for big in plan.big:
        case, fmt = cases[big]
        rows, _ = schema_requests.run_op(table, case, fmt, False, big)
        assert schema_requests.check(case, rows), case["description"]
    table.unpersist()


def test_schema_request_rounds_are_whole_and_seeded():
    cases = schema_requests.load_cases()
    a, b = schema_requests.Plan(cases, 1), schema_requests.Plan(cases, 1)
    assert a.round(2) == b.round(2)
    reqs = a.round(0)
    assert len(reqs) == 2 * (schema_requests.SAMPLE + 3)
    assert sum(1 for i, _ in reqs if i in a.big) == 6
    ids = [i for i, _ in reqs]
    assert all(ids.count(i) == 2 for i in ids)
    assert not set(ids) & {i for i, _ in a.warmup()}


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def _run(args, cwd, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_runs_end_to_end(workload, trace):
    p = _run(["--workload", workload, "--seed", "4", "--seconds", "1",
              "--trace", trace, "--scale", "0.05"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    units = bench.PER_LAYER if trace == "1" else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if workload == "schema_requests":
        assert result["failed"] * (schema_requests.SAMPLE + 3) == result["attempted"] * 3
    else:
        assert result["failed"] == 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "corpus_pass", "--seed", "1", "--seconds", "1",
              "--trace", "0"], tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
