"""Output checks, run after timing on the results the cold pass collected.

* Oracled queries: the Spark result must match the query's DuckDB
  ``oracle_sql`` twin over the same parquet files, compared the way the
  repo's test suite compares them (``tests/conftest.py``: sorted columns,
  sorted rows, floats at 9 significant digits), and an integer column may
  not come back as a float column on one side only.
* Rows-only queries: non-empty, and identical on two executions.
* WordCount: the DataFrame result, the MapReduce-shim result and a Python
  ``Counter`` over the same documents agree.
* DFS round trip: the retrieved bytes hash to the source's sha256.
"""

from __future__ import annotations

import re
from collections import Counter

from tests.conftest import _assert_dtype_symmetry, _canon, duck_con

#: the README tokenizer of ``workloads/wordcount.py``
WORD_PATTERN = re.compile(r"[a-z0-9_]+")


def oracle_mismatch(spark_pdf, con, oracle_sql: str) -> str | None:
    """None when ``spark_pdf`` matches the oracle, else the reason."""
    oracle_pdf = con.sql(oracle_sql).fetchdf()
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"{len(spark_pdf)} rows != oracle {len(oracle_pdf)}"
    try:
        _assert_dtype_symmetry("oracle", spark_pdf, oracle_pdf)
    except AssertionError as exc:
        return str(exc).split(" — ")[0]
    if _canon(spark_pdf) != _canon(oracle_pdf):
        return "values differ from oracle"
    return None


def rows_only_mismatch(first_pdf, second_pdf) -> str | None:
    if len(first_pdf) == 0:
        return "empty result"
    if _canon(first_pdf) != _canon(second_pdf):
        return "result differs between two executions"
    return None


def word_counts(texts) -> Counter:
    c: Counter = Counter()
    for t in texts:
        c.update(WORD_PATTERN.findall(t.lower()))
    return c


def wordcount_mismatch(results: dict, documents_pdf) -> str | None:
    """``results`` maps query name -> pandas result with (word, cnt)."""
    expected = word_counts(documents_pdf["text"])
    for name, pdf in results.items():
        got = dict(zip(pdf["word"], pdf["cnt"]))
        if got != expected:
            return f"{name} disagrees with a Python Counter"
    return None


def check_queries(spark, data_dir: str, results: dict, oracles: dict, queries: dict) -> dict:
    """Check each query's collected result (``results``: name -> pandas).
    A rows-only query is executed once more for the comparison.  Returns
    {query: reason} for every wrong or failing output."""
    wrong: dict[str, str] = {}
    con = duck_con(data_dir)
    try:
        for name, pdf in results.items():
            try:
                if name in oracles:
                    reason = oracle_mismatch(pdf, con, oracles[name])
                else:
                    again = queries[name](spark, data_dir).toPandas()
                    reason = rows_only_mismatch(pdf, again)
            except Exception as exc:  # noqa: BLE001 - a failing check names its query
                reason = f"{type(exc).__name__}: {exc}"[:300]
            if reason:
                wrong[name] = reason
        wc = {n: results[n] for n in ("wordcount", "mapreduce_wordcount") if n in results}
        if wc:
            docs = con.sql("SELECT text FROM documents").fetchdf()
            reason = wordcount_mismatch(wc, docs)
            if reason:
                wrong["wordcount_counter"] = reason
    finally:
        con.close()
    return wrong
