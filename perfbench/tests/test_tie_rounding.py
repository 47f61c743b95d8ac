"""The second DuckDB rounding that record_digests.py records at a tie."""

import duckdb

from record_digests import tie_rounding_oracle


def test_rewrite_routes_column_casts_through_varchar():
    sql = "SELECT CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) FROM t"
    assert tie_rounding_oracle(sql) == (
        "SELECT CAST(SUM(CAST(CAST(quality AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE) FROM t"
    )


def test_the_two_roundings_differ_only_at_a_tie():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (0.6638124999999999::DOUBLE),"
        " (0.6919375::DOUBLE), (0.12345649::DOUBLE)) v(quality)"
    )
    sql = "SELECT CAST(quality AS DECIMAL(18,6)) FROM t ORDER BY quality"
    default = [str(r[0]) for r in con.execute(sql).fetchall()]
    shortest = [str(r[0]) for r in con.execute(tie_rounding_oracle(sql)).fetchall()]
    # 0.6638124999999999 lies an ulp below the tie 0.6638125: DuckDB's
    # binary scaling rounds it up, its shortest string rounds down (as
    # Spark's cast does)
    assert default == ["0.123456", "0.663813", "0.691938"]
    assert shortest == ["0.123456", "0.663812", "0.691938"]
