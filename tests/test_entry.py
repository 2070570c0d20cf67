"""Driver-contract tests: every queries() entry runs and matches its
DuckDB oracle at sf0.001 (the same comparison the driver performs at
sf0.01 — see scripts/check_oracles.py for the full-size run)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from scripts.check_oracles import TABLES, canon  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_entry_smoke(spark):
    rows = E.entry(spark).collect()
    assert len(rows) > 0
    assert {f.name for f in E.entry(spark).schema} == {"polygon_id", "n_points", "n_cells"}


def test_every_query_has_oracle_or_reason(spark):
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    # round 3: every query has a DuckDB oracle (the md5 hash family made
    # the minhash/simhash/winnow/lang_id pipelines engine-portable)
    assert set(qs) == set(oracles)


@pytest.mark.parametrize("name", sorted(E.oracle_sql().keys()))
def test_query_matches_oracle(spark, con, cache_entries, name):
    before = cache_entries()
    sdf = E.queries()[name](spark, SF_DIR).toPandas()
    # no query leaves a cache behind in the session
    assert cache_entries() <= before, f"{name}: left a CacheManager entry"
    odf = con.execute(E.oracle_sql()[name]).df()
    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    assert a.equals(b), f"{name}: value mismatch"


def test_minhash_recall_vs_exact_jaccard(spark, con):
    """LSH candidates must include (almost) all true near-dup pairs:
    with 4 bands of 8 rows, P(miss at J=0.95) = (1-0.95^8)^4 ≈ 3%."""
    cand = {(r["da"], r["db"]) for r in
            E.queries()["minhash_candidates"](spark, SF_DIR).collect()}
    truth = con.execute("""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
            FROM documents)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) c
                  FROM toks a JOIN toks b ON a.tok=b.tok AND a.doc_id<b.doc_id
                  GROUP BY 1,2)
        SELECT da, db, c*1.0/(sa.sz+sb.sz-c) AS j
        FROM inter JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
        WHERE c*1.0/(sa.sz+sb.sz-c) >= 0.95
    """).df()
    high = {(int(r.da), int(r.db)) for r in truth.itertuples()}
    if high:
        recall = len(high & cand) / len(high)
        assert recall >= 0.9


def test_coverage_doc_query_names_exist():
    """Every `query <name>` referenced in COVERAGE.md must be a real
    entry in __spark_entry__.queries() (VERDICT r5 item 6: doc drift
    once claimed a nonexistent oracle query)."""
    import re
    import __spark_entry__ as E
    names = set(E.queries())
    text = open(os.path.join(os.path.dirname(__file__), "..",
                             "COVERAGE.md")).read()
    cited = set(re.findall(r"quer(?:y|ies)\s+([a-z0-9_]+)", text))
    # drop generic words and glob-prefix cites like "queries pip_*"
    cited = {c for c in cited if "_" in c and not c.endswith("_")}
    missing = sorted(c for c in cited if c not in names)
    assert not missing, f"COVERAGE.md cites nonexistent queries: {missing}"
