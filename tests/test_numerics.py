"""Stable-sum micro-unit range guard (ADVICE r02): the 2^63 cap is a real
bound this corpus reaches near sf40 on a global sum — verify the documented
math against the actual data and exercise the runtime guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
    assert_microunit_headroom,
    stable_sum_wide,
)

from conftest import SF_ORACLE


def test_headroom_ok_on_small_corpus(spark):
    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    ratio = assert_microunit_headroom(df, "rev")
    assert ratio > 1.0


def test_documented_sf40_bound_matches_data(spark):
    """Global revenue is ~2.3e11 per sf unit, so the guard's exact
    SUM(|x|) bound caps the safe sf near 40 — far below the old
    'past ~sf200' claim (r09 note: the first-cut COUNT x MAX bound was
    ~3x tighter still and falsely aborted the sf30 bench leg)."""
    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    total = df.agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).head()[0]
    per_sf = total / 0.01  # this file is sf0.01
    safe_sf_actual = (2**63 - 1) / 1e6 / per_sf
    assert 20 < safe_sf_actual < 80  # ~sf40, not ~sf200


def test_grouped_guard_binds_at_group_grain(spark):
    """The grouped form must bound the LARGEST per-group total, not the
    corpus total: a two-group frame whose total exceeds 2^63 micro-units
    but whose groups each stay inside must PASS at the group grain and
    FAIL at the global grain (exactly the sf30 bench situation)."""
    df = spark.range(2000).select(
        (F.col("id") % 2).alias("g"), F.lit(3.0e9).alias("x")
    )
    # total: 2000 x 3e9 x 1e6 = 6e18 < 2^63... scale up to straddle:
    df = spark.range(4000).select(
        (F.col("id") % 2).alias("g"), F.lit(3.0e9).alias("x")
    )
    # total 1.2e19 > 2^63; per group 6e18 < 2^63
    with pytest.raises(OverflowError):
        assert_microunit_headroom(df, "x")
    ratio = assert_microunit_headroom(df, "x", group_cols=["g"])
    assert ratio > 1.0


def test_guard_raises_past_range(spark):
    df = spark.range(1000).select((F.col("id") * 1e13).alias("x"))
    with pytest.raises(OverflowError, match="stable_sum_wide"):
        assert_microunit_headroom(df, "x")


def test_guard_trips_before_wrapped_sum(spark):
    """The failure the guard exists to prevent: with ANSI off, a long SUM
    past 2^63 micro-units wraps silently to a *wrong* total. Prove the
    guard's SUM(|x|) bound fires on exactly such an input, so any
    caller that checks first can never see the wrapped number."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
        stable_sum,
    )

    # 4096 rows x 3e12 = 1.2e16 value units -> 1.2e22 micro-units >> 2^63.
    df = spark.range(4096).select(F.lit(3.0e12).alias("x"))
    true_total = 4096 * 3.0e12
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        wrapped = df.agg(stable_sum("x").alias("s")).head()["s"]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    # the wrap really happens (the sum is not even close to the truth) ...
    assert abs(wrapped - true_total) > 1e15
    # ... and the guard refuses the same input before any sum runs.
    with pytest.raises(OverflowError, match="stable_sum_wide"):
        assert_microunit_headroom(df, "x")


def test_wide_form_exact_past_microunit_range(spark):
    # 200 rows x 1e11 = 2e13 total: micro-units would need 2e19 > 2^63
    # (guard refuses), while each value still fits decimal(18,6) and the
    # decimal accumulator sums it exactly.
    df = spark.range(200).select(F.lit(1.0e11).alias("x"))
    with pytest.raises(OverflowError):
        assert_microunit_headroom(df, "x")
    wide = df.agg(stable_sum_wide("x").alias("s")).head()["s"]
    assert wide == pytest.approx(2.0e13)


def test_wide_sums_mode_keeps_oracle_parity(spark):
    """The over-range degradation path (bench.py flips set_wide_sums when
    the headroom guard trips past ~sf55): with wide mode ON, every
    stable_sum/stable_avg builds its decimal-accumulator form — and the
    values must STILL match the narrow DuckDB oracle bitwise, because
    both forms produce the correctly-rounded double of the same exact
    rational (decimal(28,6) -> double conversion vs exact-long / 1e6; the
    sums here are far below 2^53 so the narrow form's long->double step
    is exact too). Proven on the heaviest money rollup, tpch_q1."""
    import duckdb

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
        set_wide_sums,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
        oracle_sql,
        queries,
    )

    prev = set_wide_sums(True)
    try:
        sdf = queries()["tpch_q1_pricing_summary"](spark, SF_ORACLE)
        spark_rows = sorted(tuple(r) for r in sdf.collect())
    finally:
        set_wide_sums(prev)

    con = duckdb.connect()
    for t in ("lineitem",):
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    duck_rows = sorted(tuple(r) for r in con.execute(oracle_sql()["tpch_q1_pricing_summary"]).fetchall())
    con.close()
    assert len(spark_rows) == len(duck_rows) > 0
    for s, d in zip(spark_rows, duck_rows):
        assert s == d


def _duck_one(sql: str, rows: list[tuple]) -> float:
    """Run one aggregate SQL over an in-memory table t(x) in DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    out = con.execute(sql).fetchone()[0]
    con.close()
    return out


def test_wide_mode_parity_in_the_rounding_regime(spark):
    """ADVICE r11: the tpch_q1 parity test runs at sf0.01 where micro-unit
    sums (~6e14) sit below 2^53, so the long->double conversion is exact
    and the regime wide mode actually runs in — a ROUNDED int->double
    conversion (BigDecimal.doubleValue vs l2d, both IEEE
    round-to-nearest-even of the same exact integer) — was never
    exercised. Pin it synthetically: a group sum strictly between 2^53
    and 2^63 whose integer is NOT double-representable, asserting the
    wide form, the narrow form, and the DuckDB BIGINT oracle are all
    bitwise-equal."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
        set_wide_sums,
        sql_stable_avg,
        sql_stable_sum,
        stable_avg,
        stable_sum,
    )

    n = 1000
    # micro_i = 2e14 + i exactly; S = 2e17 + 499500: above 2^53 (~9.0e15),
    # below 2^63 (~9.2e18), and 499500 is not a multiple of the double
    # spacing at 2e17 (32) — so the final int->double conversion MUST round.
    s_micro = n * 200_000_000_000_000 + sum(range(n))
    assert 2**53 < s_micro < 2**63
    assert float(s_micro) != s_micro  # the conversion genuinely rounds
    df = spark.range(n).select(
        (F.lit(2.0e8) + F.col("id") * F.lit(1e-6)).alias("x")
    )
    narrow = df.agg(
        stable_sum("x").alias("s"), stable_avg("x").alias("a")
    ).head()
    prev = set_wide_sums(True)
    try:
        wide = df.agg(
            stable_sum("x").alias("s"), stable_avg("x").alias("a")
        ).head()
    finally:
        set_wide_sums(prev)
    rows = [(2.0e8 + i * 1e-6,) for i in range(n)]
    duck_s = _duck_one(f"SELECT {sql_stable_sum('x')} FROM t", rows)
    duck_a = _duck_one(f"SELECT {sql_stable_avg('x')} FROM t", rows)
    assert narrow["s"] == wide["s"] == duck_s
    assert narrow["a"] == wide["a"] == duck_a


def test_wide_mode_parity_past_long_range(spark):
    """The wide-only regime (group sum past 2^63, reachable near sf60 on
    q1's largest group): the narrow long accumulator would wrap, so wide
    mode is the ONLY Spark form — pin it bitwise against the DuckDB
    HUGEINT (int128) oracle, i.e. BigDecimal(38,0).doubleValue vs DuckDB's
    int128->double on the same exact integer."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
        set_wide_sums,
        stable_sum,
    )

    n = 4096
    # micro_i = 3e15 + (i mod 3) < 2^53 per term (each exact in double);
    # S = 1.2288e19 + 4095 > 2^63 — long would wrap, decimal(38,0) holds —
    # and 4095 is odd, so S is not a multiple of the double spacing at
    # 1.2e19 (2048): the int->double conversion genuinely rounds. (A plain
    # +i increment makes the remainder Σi = n(n-1)/2, which at n=4096 is
    # exactly divisible by 2048 — silently exact, defeating the test.)
    s_micro = n * 3_000_000_000_000_000 + sum(i % 3 for i in range(n))
    assert s_micro > 2**63
    assert float(s_micro) != s_micro
    df = spark.range(n).select(
        (F.lit(3.0e9) + (F.col("id") % 3) * F.lit(1e-6)).alias("x")
    )
    with pytest.raises(OverflowError):
        assert_microunit_headroom(df, "x")
    prev = set_wide_sums(True)
    try:
        wide = df.agg(stable_sum("x").alias("s")).head()["s"]
    finally:
        set_wide_sums(prev)
    rows = [(3.0e9 + (i % 3) * 1e-6,) for i in range(n)]
    duck = _duck_one(
        "SELECT SUM(CAST(ROUND(x * 1000000.0) AS HUGEINT)) / 1000000.0"
        " FROM t",
        rows,
    )
    assert wide == duck


def test_served_sum_overflow_fails_loudly_wide_answers_exactly(spark):
    """A served group whose micro-unit total passes 2^63 (10k orders of
    1e9 = 1e13 value units = 1e19 micro-units) must come back as an
    overflow failure under ANSI, never as a wrapped number; with wide sums
    on, the same question answers exactly. Runs on its own session so its
    tiny orders/customer views never shadow the shared corpus views."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.engine import (
        DataFabricEngine,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.numerics import (
        set_wide_sums,
    )

    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.range(10_000).select(
        F.col("id").alias("o_orderkey"),
        F.lit(1).cast("bigint").alias("o_custkey"),
        F.lit(1.0e9).alias("o_totalprice"),
    ).createOrReplaceTempView("orders")
    s.createDataFrame(
        [(1, "Customer#1")], "c_custkey bigint, c_name string"
    ).createOrReplaceTempView("customer")
    question = "top 3 customers by total spending"

    def ask():
        eng = DataFabricEngine(
            s, tables={"orders", "customer"}, default_table="customer",
            llm_provider=False,
        )
        return eng.process(question)

    out = ask()
    assert out["success"] is False
    assert "overflow" in out["error"].lower(), out["error"]
    assert out["data"] == []
    prev = set_wide_sums(True)
    try:
        out = ask()
    finally:
        set_wide_sums(prev)
    assert out["success"] is True, out.get("error")
    assert "DECIMAL(18,6)" in out["sql_query"]
    # the serializer stringifies values (reference response shape)
    assert [float(r["total_spent"]) for r in out["data"]] == [1.0e13]
