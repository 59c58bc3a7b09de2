"""``corpus_pass``: the full corpus validation pass over a seeded web-page
corpus, checked against DuckDB over the same parquet files.

The corpus has the shape ``url, warc_ts, html, text, lang`` and this
dirt: ~1% duplicate urls, ~0.2% NULL urls, ~40% of rows on one hot day,
~1% empty texts, ~0.3% NULL html+text pairs, ~0.5% invalid langs and
~0.3% NULL langs. It is built with NumPy and written with pyarrow, so
neither the inputs nor the expected outputs pass through Spark.
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 40_000
N_FILES = 8
N_DAYS = 30
BASE_EPOCH_S = 1_748_736_000  # 2025-06-01T00:00:00Z
DRIFT_BINS = 20
DRIFT_HI = 2000.0
DRIFT_PSI_MAX = 0.2
# HyperLogLog++ at Spark's default 5% relative standard deviation;
# five standard deviations keeps a correct sketch from ever failing.
HLL_REL_TOL = 0.25

VOCAB = (
    "the quick brown fox jumps over lazy dog crawl web page data spark "
    "schema valid token index shard batch stream filter join group sort "
    "merge hash scan query plan stage task row and of to in is it that "
    "for der und nicht le les est el los que por"
).split()
DOMAINS = [f"{w}.example" for w in ("alpha", "beta", "gamma", "delta",
                                    "epsilon", "zeta", "eta", "theta")]
BAD_LANGS = ["zz", "x1", "q9"]

OUTPUTS = (
    "verdicts", "violations", "partition_verdicts", "stats",
    "duplicate_urls", "lang_violations", "drift",
)


def lang_codes() -> list[str]:
    """The referential dimension's keys, as the program ships them."""
    from jschon_spark.sources.webpages import LANG_CODES

    return [c for c, _ in LANG_CODES]


def generate(seed: int, out_dir: str, n_rows: int = N_ROWS) -> None:
    """Write the seeded corpus as ``N_FILES`` parquet files."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n_rows)
    dup = rng.random(n_rows) < 0.01
    dup[0] = False
    url_id = np.where(dup, ids - 1, ids)
    domain = (url_id * 2654435761 + seed) % len(DOMAINS)
    null_url = rng.random(n_rows) < 0.002

    hot_day = int(rng.integers(0, N_DAYS))
    day = np.where(rng.random(n_rows) < 0.4, hot_day,
                   rng.integers(0, N_DAYS, n_rows))
    ts_us = (BASE_EPOCH_S + day * 86400 + rng.integers(0, 86400, n_rows)) * 10**6

    n_words = rng.integers(1, 61, n_rows)
    word_ix = rng.integers(0, len(VOCAB), int(n_words.sum()))
    empty = rng.random(n_rows) < 0.01
    amp = rng.random(n_rows) < 1 / 7
    null_doc = rng.random(n_rows) < 0.003
    title_ix = rng.integers(0, len(VOCAB), n_rows)

    codes = lang_codes()
    lang_ix = rng.integers(0, len(codes), n_rows)
    bad_lang = rng.random(n_rows) < 0.005
    bad_ix = rng.integers(0, len(BAD_LANGS), n_rows)
    null_lang = rng.random(n_rows) < 0.003

    urls, texts, htmls, langs = [], [], [], []
    pos = 0
    for i in range(n_rows):
        k = int(n_words[i])
        words = [VOCAB[j] for j in word_ix[pos:pos + k]]
        pos += k
        urls.append(None if null_url[i] else
                    f"https://{DOMAINS[domain[i]]}/page/{url_id[i]}")
        if null_doc[i]:
            texts.append(None)
            htmls.append(None)
        else:
            text = "" if empty[i] else " ".join(words) + (" cats & <dogs>" if amp[i] else "")
            esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            texts.append(text)
            htmls.append(
                f"<html><head><title>{VOCAB[title_ix[i]]}</title></head>"
                f"<body><p>{esc}</p></body></html>".encode()
            )
        langs.append(None if null_lang[i] else
                     BAD_LANGS[bad_ix[i]] if bad_lang[i] else codes[lang_ix[i]])

    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    step = math.ceil(n_rows / N_FILES)
    for f in range(N_FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(out_dir, f"part-{f:02d}.parquet"))


# -- the independent oracle ----------------------------------------------------

_DOCS_SQL = """
CREATE OR REPLACE VIEW docs AS
SELECT *, strftime(make_timestamp(epoch_us(warc_ts)), '%Y-%m-%d') AS day
FROM read_parquet('{path}/*.parquet')
"""

# PAGE_SCHEMA, keyword by keyword, over the row as a JSON object: a NULL
# column is an absent property, so every NULL lands in one `required`.
_VIOLATIONS_SQL = """
SELECT url, 'required' AS keyword, '' AS instance_path FROM docs
  WHERE url IS NULL OR warc_ts IS NULL OR text IS NULL OR lang IS NULL
UNION ALL SELECT url, 'pattern', '/url' FROM docs
  WHERE NOT regexp_matches(url, '^https?://')
UNION ALL SELECT url, 'maxLength', '/url' FROM docs WHERE length(url) > 2048
UNION ALL SELECT url, 'minLength', '/text' FROM docs WHERE length(text) < 1
UNION ALL SELECT url, 'maxLength', '/text' FROM docs WHERE length(text) > 1000000
UNION ALL SELECT url, 'pattern', '/lang' FROM docs
  WHERE NOT regexp_matches(lang, '^[a-z]{2}$')
"""

_PASSED_SQL = """
url IS NOT NULL AND warc_ts IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
AND regexp_matches(url, '^https?://') AND length(url) <= 2048
AND length(text) BETWEEN 1 AND 1000000 AND regexp_matches(lang, '^[a-z]{2}$')
"""


def psi_ks(expected: list[float], actual: list[float], eps: float = 1e-6):
    psi = sum((max(a, eps) - max(e, eps)) * math.log(max(a, eps) / max(e, eps))
              for e, a in zip(expected, actual))
    ks, ce, ca = 0.0, 0.0, 0.0
    for e, a in zip(expected, actual):
        ce += e
        ca += a
        ks = max(ks, abs(ce - ca))
    return psi, ks


def oracle(con, path: str) -> dict:
    """Every expected output, from DuckDB over the parquet files."""
    con.execute(_DOCS_SQL.format(path=path))
    con.execute("CREATE OR REPLACE TABLE lang_dim AS SELECT unnest(?) AS code",
                [lang_codes()])
    con.execute(f"CREATE OR REPLACE TABLE exp_verdicts AS "
                f"SELECT url, day, ({_PASSED_SQL}) IS TRUE AS passed FROM docs")
    con.execute(f"CREATE OR REPLACE TABLE exp_violations AS {_VIOLATIONS_SQL}")
    con.execute("""CREATE OR REPLACE TABLE exp_dups AS
        SELECT url, count(*) AS n_dup FROM docs WHERE url IS NOT NULL
        GROUP BY url HAVING count(*) > 1""")
    con.execute("""CREATE OR REPLACE TABLE exp_lang AS
        SELECT url, lang FROM docs d
        WHERE NOT EXISTS (SELECT 1 FROM lang_dim WHERE code = d.lang)""")
    partitions = {
        day: (n, f)
        for day, n, f in con.execute(
            "SELECT day, count(*), count(*) FILTER (WHERE NOT passed) "
            "FROM exp_verdicts GROUP BY day").fetchall()
    }
    stats = {}
    for c in ("url", "text", "lang"):
        stats[c] = con.execute(
            f"SELECT count(*), count(*) - count({c}), count(DISTINCT {c}), "
            f"min({c}), max({c}) FROM docs").fetchone()
    step = DRIFT_HI / DRIFT_BINS
    bins = con.execute(f"""
        SELECT day, least(greatest(floor(length(text) / {step}), 0),
                          {DRIFT_BINS - 1})::BIGINT AS bucket, count(*)
        FROM docs WHERE text IS NOT NULL GROUP BY ALL""").fetchall()
    glob = [0.0] * DRIFT_BINS
    per_day: dict[str, list[float]] = {}
    for day, b, n in bins:
        glob[b] += n
        per_day.setdefault(day, [0.0] * DRIFT_BINS)[b] += n
    g = [x / sum(glob) for x in glob]
    drift = {}
    for day, counts in per_day.items():
        psi, ks = psi_ks(g, [x / sum(counts) for x in counts])
        drift[day] = (int(sum(counts)), psi, ks)
    n_failed = sum(f for _, f in partitions.values())
    return {
        "partitions": partitions,
        "stats": stats,
        "drift": drift,
        "metrics": {
            "n_docs": sum(n for n, _ in partitions.values()),
            "n_failed": n_failed,
            "n_duplicate_url_groups": con.execute(
                "SELECT count(*) FROM exp_dups").fetchone()[0],
            "n_lang_violations": con.execute(
                "SELECT count(*) FROM exp_lang").fetchone()[0],
            "n_drift_partitions_failed": sum(
                1 for _, psi, _ in drift.values() if psi > DRIFT_PSI_MAX),
        },
    }


# -- the checks ------------------------------------------------------------------


def _multiset_diff(con, got: pa.Table, expected_table: str, cols: str) -> int:
    """Rows in one side and not the other, counted with multiplicity."""
    con.register("got_rows", got)
    try:
        return con.execute(f"""
            SELECT (SELECT count(*) FROM (SELECT {cols} FROM got_rows
                    EXCEPT ALL SELECT {cols} FROM {expected_table}))
                 + (SELECT count(*) FROM (SELECT {cols} FROM {expected_table}
                    EXCEPT ALL SELECT {cols} FROM got_rows))""").fetchone()[0]
    finally:
        con.unregister("got_rows")


def check(con, exp: dict, out: dict) -> list[str]:
    """Compare one op's outputs with the oracle; [] when all agree."""
    errs = []
    for name, table, cols in (
        ("verdicts", "exp_verdicts", "url, day, passed"),
        ("violations", "exp_violations", "url, keyword, instance_path"),
        ("duplicate_urls", "exp_dups", "url, n_dup"),
        ("lang_violations", "exp_lang", "url, lang"),
    ):
        n = _multiset_diff(con, out[name], table, cols)
        if n:
            errs.append(f"{name}: {n} rows differ from the oracle")
    con.register("got_rows", out["violations"])
    try:
        per_kw = con.execute("""
            SELECT count(*) FROM (
              SELECT keyword, instance_path, count(*) FROM got_rows GROUP BY ALL
              EXCEPT SELECT keyword, instance_path, count(*) FROM exp_violations
              GROUP BY ALL)""").fetchone()[0]
    finally:
        con.unregister("got_rows")
    if per_kw:
        errs.append(f"violations: {per_kw} (keyword, instance_path) counts differ")

    got_parts = {r["partition"]: (r["n_docs"], r["n_failed"], r["passed"])
                 for r in out["partition_verdicts"].to_pylist()}
    want_parts = {d: (n, f, f == 0) for d, (n, f) in exp["partitions"].items()}
    if got_parts != want_parts:
        errs.append("partition_verdicts differ from the oracle")

    for r in out["stats"].to_pylist():
        n, nulls, distinct, lo, hi = exp["stats"][r["col_name"]]
        if (r["n_rows"], r["n_nulls"], r["min_str"], r["max_str"]) != (n, nulls, lo, hi):
            errs.append(f"stats[{r['col_name']}] differ from the oracle")
        if abs(r["n_distinct"] - distinct) > HLL_REL_TOL * distinct:
            errs.append(f"stats[{r['col_name']}].n_distinct {r['n_distinct']} "
                        f"is not within the sketch error of {distinct}")
    if sorted(r["col_name"] for r in out["stats"].to_pylist()) != sorted(exp["stats"]):
        errs.append("stats: wrong set of columns")

    got_drift = {d["partition"]: d for d in out["drift"]}
    if set(got_drift) != set(exp["drift"]):
        errs.append("drift: wrong set of partitions")
    else:
        for day, (n, psi, ks) in exp["drift"].items():
            d = got_drift[day]
            if (d["n"] != n or not math.isclose(d["psi"], psi, rel_tol=1e-9, abs_tol=1e-12)
                    or not math.isclose(d["ks"], ks, rel_tol=1e-9, abs_tol=1e-12)
                    or d["passed"] != (psi <= DRIFT_PSI_MAX)):
                errs.append(f"drift[{day}] differs from the oracle")

    m = out["metrics"]
    for k, v in exp["metrics"].items():
        if m.get(k) != v:
            errs.append(f"metrics[{k}] = {m.get(k)!r}, oracle {v!r}")
    return errs


# -- the op ----------------------------------------------------------------------


def _collect(df) -> pa.Table:
    return df.toArrow()


def run_op(spark, docs, tracer=None, op: int = 0) -> tuple[dict, dict]:
    """One ``validate_corpus`` call with library defaults, then all seven
    outputs materialized. Untraced, the outputs are submitted together
    from at most nproc threads; traced, each is forced alone and its
    Catalyst phases are timed first."""
    from jschon_spark.pipeline import validate_corpus

    from harness import force_catalyst, nproc

    if tracer is None:
        report = validate_corpus(spark, docs)
        frames = {
            "verdicts": report.verdicts,
            "violations": report.violations,
            "partition_verdicts": report.partition_verdicts,
            "stats": report.stats,
            "duplicate_urls": report.duplicate_urls,
            "lang_violations": report.lang_violations,
        }
        with ThreadPoolExecutor(max_workers=min(len(OUTPUTS), nproc())) as pool:
            futs = {k: pool.submit(_collect, df) for k, df in frames.items()}
            drift = pool.submit(lambda: report.drift)
            out = {k: f.result() for k, f in futs.items()}
            out["drift"] = drift.result()
        out["metrics"] = report.metrics
        return out, {}

    with tracer.span("pipeline.call", op):
        report = validate_corpus(spark, docs)
    out, facts = {"metrics": report.metrics}, {}
    spans = (
        ("engine.verdicts", "verdicts", report.verdicts),
        ("engine.violations", "violations", report.violations),
        ("engine.partition_verdicts", "partition_verdicts", report.partition_verdicts),
        ("operators.stats", "stats", report.stats),
        ("operators.uniqueness", "duplicate_urls", report.duplicate_urls),
        ("operators.referential", "lang_violations", report.lang_violations),
        ("operators.drift", "drift", report.drift_bins),
    )
    for span, key, df in spans:
        with tracer.span(span, op):
            for k, v in force_catalyst(df, tracer, op).items():
                facts[k] = facts.get(k, 0.0) + v
            out[key] = _collect(df)
    out["drift"] = report.drift
    return out, facts
