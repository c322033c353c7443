"""Differential fuzz of the shared text/numeric kernels against DuckDB.

The oracle-parity suite checks every operator on the driver corpora; these
tests instead feed ADVERSARIAL generated inputs (punctuation runs, digit
soup, empty/whitespace-only strings, negative and boundary decimals)
through the column builders most operators ride on — normalized_text,
token_count, stable_sum — and require the DuckDB twin to agree exactly.
A divergence here would surface as a driver hash-mismatch only on a corpus
that happens to contain the pathological shape; this catches it first.

Deterministic: fixed seed, fixed corpus size — no flaky examples.
"""

from __future__ import annotations

import random
import string

import duckdb
import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
    sql_stable_sum,
    stable_sum,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.text import (
    SQL_NORMALIZED_TEXT,
    normalized_text,
    token_count,
)

_PUNCT = "!@#$%^&*()_+-=[]{}|;':\",./<>?`~"


def _gen_texts(n: int = 300) -> list[str]:
    rng = random.Random(0xFAB)
    out = ["", " ", "   ", "a", ".", "...", "a  b", " leading", "trailing "]
    # The non-ASCII alphabets exercise normalized_text's regex-fallback
    # branch (any char outside the kept ASCII set trips the junk detector)
    # — the one place Java regex/Unicode lower() and DuckDB's RE2/utf8proc
    # could legitimately diverge.
    non_ascii = "éüñßÅÆçøœ中文😀"
    alphabets = [
        string.ascii_lowercase,
        string.ascii_letters,
        string.digits,
        _PUNCT,
        string.ascii_lowercase + " ",
        string.ascii_letters + string.digits + _PUNCT + "  ",
        non_ascii,
        string.ascii_lowercase + non_ascii + " " + _PUNCT,
    ]
    while len(out) < n:
        alpha = rng.choice(alphabets)
        out.append("".join(rng.choice(alpha) for _ in range(rng.randint(1, 80))))
    return out


@pytest.fixture(scope="module")
def text_tables(spark):
    texts = _gen_texts()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)))
    return df, con


def test_normalized_text_matches_duckdb_on_adversarial_strings(text_tables):
    df, con = text_tables
    got = {
        r.doc_id: r.norm
        for r in df.select("doc_id", normalized_text().alias("norm")).collect()
    }
    want = dict(
        con.execute(
            f"SELECT doc_id, {SQL_NORMALIZED_TEXT.format(t='text')} FROM docs"
        ).fetchall()
    )
    assert got == want


def test_token_count_matches_duckdb_on_adversarial_strings(text_tables):
    df, con = text_tables
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", token_count().alias("n")).collect()
    }
    want = dict(
        con.execute(
            "SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) FROM docs"
        ).fetchall()
    )
    assert got == want


def test_stable_sum_matches_duckdb_on_boundary_decimals(spark):
    """Random 0-6-decimal values, negatives, and exact .5-micro-unit ties —
    the micro-unit encoding must reproduce DuckDB's decimal sum bit-for-bit
    (this is the kernel every revenue aggregate rides)."""
    rng = random.Random(0xFAB2)
    vals = [0.0, -0.0, 0.5e-6, -0.5e-6, 1.5e-6, 123456.654321, -999999.999999]
    while len(vals) < 500:
        # values constructed AS exact micro-unit multiples (the operator's
        # documented domain): integer micro-units / 1e6
        vals.append(rng.randint(-10**12, 10**12) / 1e6)
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = df.agg(stable_sum("value").alias("s")).collect()[0].s
    con = duckdb.connect()
    con.execute("CREATE TABLE v (value DOUBLE)")
    con.executemany("INSERT INTO v VALUES (?)", [(v,) for v in vals])
    want = con.execute(f"SELECT {sql_stable_sum('value')} FROM v").fetchone()[0]
    assert got == want


def test_pii_scrub_null_text_matches_oracle(spark):
    """Round-5 review finding: the literal guard's otherwise branch must
    propagate NULL for NULL text (the oracle's LEN(REGEXP_EXTRACT_ALL(
    NULL, ...)) is NULL, not 0). Differential on a synthetic frame with
    NULL/empty/PII-bearing texts."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.text_analysis import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        pii_scrub_exprs,
    )

    texts = [None, "", "no pii here", "a@b.co and x@y.org", "+1-555-0000",
             "mix a@b.cd +1-555-1234", "@", "+1-555-", "  "]
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    ne, np_, scrubbed = pii_scrub_exprs(F.col("text"))
    got = {
        r.doc_id: (r.ne, r.np, r.fp)
        for r in sdf.select(
            "doc_id",
            ne.cast("long").alias("ne"),
            np_.cast("long").alias("np"),
            F.md5(scrubbed).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tx (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO tx VALUES (?, ?)", list(enumerate(texts)))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(f"""
            SELECT doc_id,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_EMAIL_RE}')) AS BIGINT),
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_PHONE_RE}')) AS BIGINT),
                   MD5(REGEXP_REPLACE(REGEXP_REPLACE(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                                      '{PII_PHONE_RE}', '[PHONE]', 'g'))
            FROM tx
        """).fetchall()
    }
    con.close()
    assert got == want
    assert got[0] == (None, None, None)  # the NULL row stays NULL


def test_scd2_null_event_type_matches_oracle(spark):
    """Round-5 review finding: the change flag must use null-safe equality
    (IS DISTINCT FROM) — a plain != merges NULL states into the previous
    run. Differential on a synthetic stream with NULL event_types,
    including NULL-leading and NULL-repeated runs."""
    import pandas as pd

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.changes import (
        scd2_intervals,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
        REGISTRY,
        _ensure_loaded,
    )

    _ensure_loaded()
    rows = [
        (1, None, "2024-01-01 00:00:00", 1),
        (1, "a", "2024-01-01 00:01:00", 2),
        (1, None, "2024-01-01 00:02:00", 3),
        (1, None, "2024-01-01 00:03:00", 4),
        (2, "b", "2024-01-01 00:00:00", 5),
        (2, "b", "2024-01-01 00:01:00", 6),
        (2, None, "2024-01-01 00:02:00", 7),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    got = sorted(
        (r.user_id, str(r.event_type), r.run_id, str(r.valid_from),
         str(r.valid_to), r.n_events)
        for r in scd2_intervals(spark.createDataFrame(pdf)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, event_type VARCHAR,"
        " ts TIMESTAMP, event_id BIGINT)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", rows)
    want = sorted(
        (r[0], str(r[1]), r[2], str(r[3]), str(r[4]), r[5])
        for r in con.execute(REGISTRY["cdc_scd2_intervals"].oracle).fetchall()
    )
    con.close()
    assert got == want
    # run integrity: user 1 = 3 runs (NULL, a, NULL-NULL collapsed);
    # user 2 = 2 runs (b-b collapsed, NULL). A plain != would have
    # merged user 1's trailing NULLs into run "a".
    runs_per_user = {}
    for u, *_ in got:
        runs_per_user[u] = runs_per_user.get(u, 0) + 1
    assert runs_per_user == {1: 3, 2: 2}


def test_funnel_viewer_without_later_purchase_matches_oracle(spark):
    """A viewer whose only purchase comes BEFORE the first view leaves an
    empty filtered purchase array. ``element_at(..., 1)`` on it aborted
    the whole query under ANSI mode (INVALID_ARRAY_INDEX_IN_ELEMENT_AT);
    the user must simply drop out, as in the entry's DuckDB oracle."""
    import pandas as pd

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.events import (
        events_funnel_conversion,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
        REGISTRY,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = [
        (1, "view", "2024-01-01 10:00:00"),
        (1, "purchase", "2024-01-01 11:00:00"),
        (2, "purchase", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    got = sorted(
        (r.user_id, str(r.first_view), str(r.first_purchase))
        for r in events_funnel_conversion.raw(
            spark, {"events": spark.createDataFrame(pdf)}
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, event_type VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
    want = sorted(
        (r[0], str(r[1]), str(r[2]))
        for r in con.execute(REGISTRY["events_funnel_conversion"].oracle).fetchall()
    )
    con.close()
    assert got == want == [(1, "2024-01-01 10:00:00", "2024-01-01 11:00:00")]
