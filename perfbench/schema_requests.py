"""``schema_requests``: a closed loop with one client, one conformance
schema per request, checked against the corpus's hand-authored verdicts.

A request compiles its schema with a fresh ``ConstraintEngine``, applies
it with ``apply_json`` to that case's documents (one cached table built
in setup) and collects the verdicts. A round takes ``SAMPLE`` distinct
schemas spread over the whole corpus (see ``Plan``), adds the three
big-integer cases, and requests each schema twice, the second time as a
separately built equal dict, in seeded order: half of all requests repeat
content.

The big-integer cases fail on every request: ``try_parse_json`` reads an
integer beyond double range as +-Infinity, so the Variant path misjudges
``type: integer`` and ``multipleOf`` on it.
"""

from __future__ import annotations

import copy
import json
import random

SAMPLE = 16
WARMUP = 10
BIG_INTEGER_CASES = (
    "type integer beyond float range",
    "type list with integer beyond float range",
    "multipleOf two on huge integer",
)


def load_cases() -> list[tuple[dict, bool]]:
    """(case, assert_formats) for every case, in corpus order."""
    from jschon_spark.conformance_corpus import FORMAT_CASES, all_cases

    return ([(c, False) for c in all_cases()]
            + [(c, True) for c in FORMAT_CASES])


def case_rows(cases) -> list[tuple[int, int, str, bool]]:
    return [(ci, ti, json.dumps(doc), valid)
            for ci, (case, _) in enumerate(cases)
            for ti, (doc, valid) in enumerate(case["tests"])]


def build_table(spark, cases):
    """Every case's documents as one cached table."""
    df = spark.createDataFrame(
        case_rows(cases),
        "case_id int, test_id int, doc string, expected boolean",
    ).cache()
    df.count()
    return df


class Plan:
    """The seeded order of requests: warm-up cases, then whole rounds.

    The sample is systematic and the same for every seed: the corpus (in
    its own order, which groups cases by keyword family) is cut into
    ``SAMPLE`` blocks and round r takes the r-th case past the middle of
    each block. Request costs differ several-fold between cases, so a
    seeded draw of this size would make the median request depend on the
    draw; the seed picks the warm-up cases and the order of the requests.
    """

    def __init__(self, cases, seed: int) -> None:
        self.seed = seed
        self.big = [i for i, (c, _) in enumerate(cases)
                    if c["description"] in BIG_INTEGER_CASES]
        if len(self.big) != len(BIG_INTEGER_CASES):
            raise ValueError("big-integer conformance cases not found")
        pool = [i for i in range(len(cases)) if i not in self.big]
        self.blocks = [pool[k * len(pool) // SAMPLE:(k + 1) * len(pool) // SAMPLE]
                       for k in range(SAMPLE)]
        first = set(self.sample(0))
        self.warm = random.Random(seed).sample(
            [i for i in pool if i not in first], WARMUP)

    def sample(self, r: int) -> list[int]:
        return [b[(len(b) // 2 + r) % len(b)] for b in self.blocks]

    def warmup(self) -> list[tuple[int, bool]]:
        return [(i, False) for i in self.warm]

    def round(self, r: int) -> list[tuple[int, bool]]:
        """(case index, use a rebuilt copy) for every request of round r."""
        reqs = [(i, rebuilt) for i in self.sample(r) + self.big
                for rebuilt in (False, True)]
        random.Random(self.seed * 100_003 + r).shuffle(reqs)
        return reqs


def check(case: dict, rows) -> list[str]:
    want = {ti: valid for ti, (_, valid) in enumerate(case["tests"])}
    got = {r["test_id"]: r["passed"] for r in rows}
    if got != want:
        bad = sorted(t for t in want if got.get(t) != want[t])
        return [f"{case['description']!r}: wrong verdict for tests {bad}"]
    return []


def run_op(table, case: dict, assert_formats: bool, rebuilt: bool,
           case_id: int, tracer=None, op: int = 0):
    """One request: compile, apply, collect. Returns (rows, layer facts)."""
    from pyspark.sql import functions as F

    from jschon_spark import ConstraintEngine

    from harness import force_catalyst

    schema = copy.deepcopy(case["schema"]) if rebuilt else case["schema"]
    docs = table.filter(F.col("case_id") == case_id)
    if tracer is None:
        compiled = ConstraintEngine(assert_formats=assert_formats).compile(schema)
        out = compiled.apply_json(docs, "doc").select("test_id", "passed")
        return out.collect(), {}

    from jschon_spark.schema.metaschema import validate_schema_document

    with tracer.span("schema.metaschema", op):
        validate_schema_document(schema)
    with tracer.span("engine.compile", op):
        compiled = ConstraintEngine(assert_formats=assert_formats).compile(
            schema, validate_schema=False)
    with tracer.span("lowering.build", op):
        out = compiled.apply_json(docs, "doc").select("test_id", "passed")
    facts = force_catalyst(out, tracer, op)
    plan = out._jdf.queryExecution().executedPlan().toString()
    batch = "ArrowEvalPython" in plan
    facts["lowering.batch_requests"] = int(batch)
    facts["lowering.variant_requests"] = int(not batch)
    with tracer.span("collect", op):
        rows = out.collect()
    return rows, facts
