"""Redshift functions that Spark runs natively, built through load_warehouse.

NVL, LEN, MEDIAN and LISTAGG pass through the dialect shim untouched.  The
tests below build CTAS relations that use them over a small source table
and read the published tables: the pinned cases keep the values and types
of the former regex rewrites, the others are cases those rewrites got wrong
(LISTAGG ordered by another column, DESC, the window form, an all-NULL
group) plus a TO_DATE nested in TO_CHAR.  The last tests check that the
shim's call rewrites see past comments and nested parentheses, and that a
nested call is scanned once however deep it sits.
"""

from decimal import Decimal

import pytest

from arthur_redshift_etl_spark.design import ColumnDefinition, TableDesign
from arthur_redshift_etl_spark.functions import compat, rewrite_redshift_sql
from arthur_redshift_etl_spark.loader import LoadContext, load_warehouse
from arthur_redshift_etl_spark.monitor import EventStore
from arthur_redshift_etl_spark.relations import Relation

# g, s, o, n, d, m, ymd
ROWS = [
    (1, "b", 3, None, 1.5, Decimal("10.25"), "20240315"),
    (1, "a", 2, "x", 2.5, Decimal("20.50"), "20240401"),
    (1, "c", 1, "y", 4.0, Decimal("30.75"), "20231231"),
    (1, "a", 4, None, 7.0, Decimal("1.00"), "20240102"),
    (2, "z", 5, "w", None, None, "20240229"),
    (3, "q", 6, None, 0.5, Decimal("5.00"), "20240701"),
]
COLUMNS = [
    ColumnDefinition("g", "int"),
    ColumnDefinition("s", "string"),
    ColumnDefinition("o", "int"),
    ColumnDefinition("n", "string"),
    ColumnDefinition("d", "double"),
    ColumnDefinition("m", "decimal", sql_type="decimal(12,2)"),
    ColumnDefinition("ymd", "string"),
]

# name -> (query over dialect_src.words, expected (k, v) rows sorted by k,
# expected Spark type of v)
PINNED = {
    "nvl": (
        "SELECT o AS k, NVL(n, 'none') AS v FROM dialect_src.words",
        [(1, "y"), (2, "x"), (3, "none"), (4, "none"), (5, "w"), (6, "none")],
        "string",
    ),
    "len": (
        "SELECT o AS k, LEN(n) AS v FROM dialect_src.words",
        [(1, 1), (2, 1), (3, None), (4, None), (5, 1), (6, None)],
        "int",
    ),
    "median_int": (
        "SELECT g AS k, MEDIAN(o) AS v FROM dialect_src.words GROUP BY g",
        [(1, 2.5), (2, 5.0), (3, 6.0)],
        "double",
    ),
    "median_double": (
        "SELECT g AS k, MEDIAN(d) AS v FROM dialect_src.words GROUP BY g",
        [(1, 3.25), (2, None), (3, 0.5)],
        "double",
    ),
    "median_decimal": (
        "SELECT g AS k, MEDIAN(m) AS v FROM dialect_src.words GROUP BY g",
        [(1, 15.375), (2, None), (3, 5.0)],
        "double",
    ),
    "listagg_same_column": (
        "SELECT g AS k, LISTAGG(s, ',') WITHIN GROUP (ORDER BY s) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "a,a,b,c"), (2, "z"), (3, "q")],
        "string",
    ),
    "listagg_distinct": (
        "SELECT g AS k, LISTAGG(DISTINCT s, '|') WITHIN GROUP (ORDER BY s) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "a|b|c"), (2, "z"), (3, "q")],
        "string",
    ),
    "listagg_int": (
        "SELECT g AS k, LISTAGG(o, '|') WITHIN GROUP (ORDER BY o) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "1|2|3|4"), (2, "5"), (3, "6")],
        "string",
    ),
}

# cases the regex rewrites got wrong or could not build
FIXED = {
    # ordered by another column: o runs 1..4 over c, a, b, a
    "listagg_other_column": (
        "SELECT g AS k, LISTAGG(s, ',') WITHIN GROUP (ORDER BY o) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "c,a,b,a"), (2, "z"), (3, "q")],
    ),
    "listagg_desc": (
        "SELECT g AS k, LISTAGG(s, ',') WITHIN GROUP (ORDER BY s DESC) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "c,b,a,a"), (2, "z"), (3, "q")],
    ),
    "listagg_window": (
        "SELECT o AS k, LISTAGG(s, ',') WITHIN GROUP (ORDER BY o) "
        "OVER (PARTITION BY g) AS v FROM dialect_src.words",
        [(1, "c,a,b,a"), (2, "c,a,b,a"), (3, "c,a,b,a"), (4, "c,a,b,a"),
         (5, "z"), (6, "q")],
    ),
    # group 3 holds only NULLs: NULL, like any SQL aggregate (and DuckDB's
    # string_agg), not an empty string
    "listagg_all_null": (
        "SELECT g AS k, LISTAGG(n, ',') WITHIN GROUP (ORDER BY n) AS v "
        "FROM dialect_src.words GROUP BY g",
        [(1, "x,y"), (2, "w"), (3, None)],
    ),
    "to_char_of_to_date": (
        "SELECT o AS k, TO_CHAR(TO_DATE(ymd, 'YYYYMMDD'), 'YYYY-MM') AS v "
        "FROM dialect_src.words",
        [(1, "2023-12"), (2, "2024-04"), (3, "2024-03"), (4, "2024-01"),
         (5, "2024-02"), (6, "2024-07")],
    ),
}


def _ctas(name: str, query: str) -> Relation:
    return Relation(
        design=TableDesign(
            name=f"dialect_dw.{name}",
            source_name="CTAS",
            columns=[ColumnDefinition("k"), ColumnDefinition("v")],
            depends_on=["dialect_src.words"],
        ),
        query=query,
    )


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    """Load the source and every CTAS above in one load_warehouse."""
    root = tmp_path_factory.mktemp("dialect")
    data = str(root / "words")
    schema = ", ".join(f"{c.name} {c.spark_type().simpleString()}" for c in COLUMNS)
    spark.createDataFrame(ROWS, schema).write.parquet(data)
    source = Relation(
        design=TableDesign(
            name="dialect_src.words", source_name="up.public.words", columns=COLUMNS
        ),
        data_location=data,
    )
    ctas = [_ctas(name, q) for name, (q, *_) in {**PINNED, **FIXED}.items()]
    ctx = LoadContext(spark=spark, data_root=str(root / "lake"), store=EventStore())
    built = load_warehouse(ctx, [source, *ctas])
    yield built
    for db in ("dialect_src", "dialect_dw"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _published_rows(spark, name):
    df = spark.table(f"dialect_dw.{name}")
    return sorted(tuple(r) for r in df.collect()), df.schema["v"].dataType.simpleString()


@pytest.mark.parametrize("name", sorted(PINNED))
def test_native_function_keeps_the_rewritten_values_and_type(spark, published, name):
    _, want_rows, want_type = PINNED[name]
    assert published[f"dialect_dw.{name}"] == 1
    rows, vtype = _published_rows(spark, name)
    assert rows == want_rows
    assert vtype == want_type


@pytest.mark.parametrize("name", sorted(FIXED))
def test_native_function_fixes_what_the_rewrite_got_wrong(spark, published, name):
    _, want_rows = FIXED[name]
    assert published[f"dialect_dw.{name}"] == 1
    rows, vtype = _published_rows(spark, name)
    assert rows == want_rows
    assert vtype == "string"


def test_call_rewrites_see_past_comments_and_nested_parens():
    # an apostrophe in a comment must not open a string literal
    assert rewrite_redshift_sql("-- don't\nSELECT TO_CHAR(d, 'YYYY-MM') FROM t") == (
        "-- don't\nSELECT date_format(d, 'yyyy-MM') FROM t"
    )
    assert rewrite_redshift_sql(
        "SELECT CONVERT_TIMEZONE('America/New_York', CAST(s AS TIMESTAMP)), "
        "STRTOL(lower(h), 16) FROM t"
    ) == (
        "SELECT from_utc_timestamp(CAST(s AS TIMESTAMP), 'America/New_York'), "
        "conv(lower(h), 16, 10) FROM t"
    )


def test_nested_calls_left_as_written_are_transformed_once_each():
    seen = []

    def keep(args):
        seen.append(args)
        return None

    depth = 14
    sql = "SELECT " + "F(1, " * depth + "x" + ")" * depth + " FROM t"
    assert compat._rewrite_calls(sql, compat._call_rules([("F", keep)])) == sql
    assert len(seen) == depth
    # the same holds through the shim's own rules: DATE_PART('year', ...)
    # and one-argument TO_DATE are left to Spark, the innermost call is not
    inner = "DATE_PART('year', TO_DATE(" * depth + "TO_DATE(s, 'YYYYMMDD')"
    assert rewrite_redshift_sql(inner + "))" * depth) == (
        "DATE_PART('year', TO_DATE(" * depth + "to_date(s, 'yyyyMMdd')" + "))" * depth
    )


def test_one_scan_rewrites_different_rules_nested_in_each_other():
    assert rewrite_redshift_sql(
        "SELECT DECODE(CHARINDEX('@', f_sha256(e)), 0, NULL, 1), "
        "STRTOL(DECODE(k, 1, 'ff', '0'), 16) FROM t"
    ) == (
        "SELECT CASE WHEN instr(sha2(e, 256), '@') = 0 THEN NULL ELSE 1 END, "
        "conv(CASE WHEN k = 1 THEN 'ff' ELSE '0' END, 16, 10) FROM t"
    )
