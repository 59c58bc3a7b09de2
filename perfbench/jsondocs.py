"""``json_docs``: seeded JSON page documents validated on the two
dynamic-JSON paths, checked against the faults the generator planted.

Verdicts go through ``CompiledSchema.apply_json`` (Variant lowering);
violation rows go through ``apply_json(prefer_variant=False)`` (the
Arrow batch evaluator and its fastpath). One doc in eight carries
exactly one planted fault whose keyword and instance path are known.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 16_000
N_FILES = 8
FAULT_SHARE = 0.125

# Lowers onto Variant: every keyword below has a Variant form.
SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://perfbench.example/page-doc",
    "type": "object",
    "required": ["url", "fetched_at", "title", "links", "meta"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://", "maxLength": 200},
        "fetched_at": {"type": "string", "format": "date-time"},
        "title": {"type": "string", "minLength": 1, "maxLength": 80},
        "links": {
            "type": "array",
            "maxItems": 16,
            "items": {"type": "string", "pattern": "^https?://"},
        },
        "meta": {
            "type": "object",
            "required": ["lang", "words"],
            "properties": {
                "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
                "words": {"type": "integer"},
            },
            "additionalProperties": False,
        },
    },
    "additionalProperties": False,
}

WORDS = (
    "crawl web page data spark schema valid token index shard batch "
    "stream filter join group sort merge hash scan query plan stage"
).split()
LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "sv", "pl", "ja"]


def _clean(rng: random.Random, i: int) -> dict:
    host = f"{rng.choice(WORDS)}.example"
    return {
        "url": f"https://{host}/p/{i}",
        "fetched_at": (f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
                       f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                       f"{rng.randint(0, 59):02d}Z"),
        "title": " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 8))),
        "links": [f"https://{rng.choice(WORDS)}.example/p/{rng.randint(0, 10**6)}"
                  for _ in range(rng.randint(0, 12))],
        "meta": {"lang": rng.choice(LANGS), "words": rng.randint(0, 5000)},
    }


def _plant(rng: random.Random, doc: dict) -> tuple[str, str]:
    """Apply one fault to ``doc``; return its (keyword, instance path)."""
    kind = rng.randrange(12)
    if kind == 0:
        del doc["title"]
        return "required", ""
    if kind == 1:
        doc["url"] = "ftp" + doc["url"][5:]
        return "pattern", "/url"
    if kind == 2:
        doc["fetched_at"] = doc["fetched_at"].replace("T", " ")
        return "format", "/fetched_at"
    if kind == 3:
        doc["title"] = "x" * 81
        return "maxLength", "/title"
    if kind == 4:
        doc["title"] = ""
        return "minLength", "/title"
    if kind == 5:
        doc["links"] = [f"https://a.example/{k}" for k in range(17)]
        return "maxItems", "/links"
    if kind == 6:
        doc["links"].append("mailto:someone@a.example")
        return "pattern", f"/links/{len(doc['links']) - 1}"
    if kind == 7:
        doc["links"].append(404)
        return "type", f"/links/{len(doc['links']) - 1}"
    if kind == 8:
        doc["meta"]["charset"] = "utf-8"
        return "additionalProperties", "/meta/charset"
    if kind == 9:
        doc["meta"]["lang"] = doc["meta"]["lang"].upper()
        return "pattern", "/meta/lang"
    if kind == 10:
        doc["tracking"] = "utm"
        return "additionalProperties", "/tracking"
    doc["meta"]["words"] = str(doc["meta"]["words"])
    return "type", "/meta/words"


def generate(seed: int, n_docs: int = N_DOCS) -> tuple[list[str], dict[int, tuple[str, str]]]:
    """(documents as JSON text, doc id -> planted (keyword, instance path))."""
    rng = random.Random(seed)
    docs, faults = [], {}
    for i in range(n_docs):
        doc = _clean(rng, i)
        if rng.random() < FAULT_SHARE:
            faults[i] = _plant(rng, doc)
        docs.append(json.dumps(doc))
    return docs, faults


def write(docs: list[str], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                      "doc": pa.array(docs, pa.string())})
    step = -(-len(docs) // N_FILES)
    for f in range(N_FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(out_dir, f"part-{f:02d}.parquet"))


def check(n_docs: int, faults: dict, out: dict) -> list[str]:
    """Compare one op's outputs with the planted faults."""
    errs = []
    verdicts = out["verdicts"]
    ids = verdicts.column("doc_id").to_pylist()
    passed = verdicts.column("passed").to_pylist()
    if len(ids) != n_docs or len(set(ids)) != n_docs:
        errs.append(f"verdicts: {len(ids)} rows for {n_docs} documents")
    variant_failed = {i for i, p in zip(ids, passed) if p is not True}
    if variant_failed != set(faults):
        errs.append(f"variant verdicts: {len(variant_failed ^ set(faults))} "
                    f"documents disagree with the planted faults")
    rows = out["violations"]
    got = sorted(zip(rows.column("doc_id").to_pylist(),
                     rows.column("keyword").to_pylist(),
                     rows.column("instance_path").to_pylist()))
    want = sorted((i, kw, path) for i, (kw, path) in faults.items())
    if got != want:
        errs.append(f"batch violations: {len(set(got) ^ set(want))} rows "
                    f"disagree with the planted faults")
    batch_failed = set(rows.column("doc_id").to_pylist())
    if batch_failed != variant_failed:
        errs.append(f"{len(batch_failed ^ variant_failed)} documents have a "
                    f"Variant verdict unlike their batch verdict")
    return errs


def run_op(compiled, docs_df, tracer=None, op: int = 0) -> tuple[dict, dict]:
    """Variant verdicts for every document, then the batch path's
    violation rows (its fastpath passes clean documents without the
    full walk)."""
    from pyspark.sql import functions as F

    from harness import force_catalyst, tree_cpu

    def verdicts():
        return compiled.apply_json(docs_df, "doc").select("doc_id", "passed")

    def violations():
        out = compiled.apply_json(docs_df, "doc", prefer_variant=False)
        return out.filter(~F.col("passed")).select(
            "doc_id", F.explode("violations").alias("v")
        ).select("doc_id", "v.keyword", "v.instance_path")

    if tracer is None:
        return {"verdicts": verdicts().toArrow(),
                "violations": violations().toArrow()}, {}
    out, facts = {}, {}
    for span, key, build in (("variant.verdicts", "verdicts", verdicts),
                             ("batch.violations", "violations", violations)):
        cpu = tree_cpu()[0]
        with tracer.span(span, op):
            with tracer.span("lowering.build", op):
                df = build()
            for k, v in force_catalyst(df, tracer, op).items():
                facts[k] = facts.get(k, 0.0) + v
            out[key] = df.toArrow()
        facts[f"{span}_cpu_s"] = tree_cpu()[0] - cpu
    return out, facts


def fastpath_compiles(schema: dict) -> bool:
    """Whether the batch evaluator's fastpath covers ``schema``; when it
    does, only documents it rejects get the full evaluator walk."""
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.fastpath import compile_valid
    from jschon_spark.schema.catalog import SchemaCatalog

    catalog = SchemaCatalog()
    base = catalog.register(schema)
    ev = Evaluator(catalog, assert_formats=True)
    return compile_valid(schema, catalog, base, True, ev.formats) is not None
