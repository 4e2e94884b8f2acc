"""Unit tests for the pure-Python core: names, designs, types, compat shim."""

import doctest

import pytest

import arthur_redshift_etl_spark.design as design_mod
import arthur_redshift_etl_spark.functions.compat as compat_mod
import arthur_redshift_etl_spark.names as names_mod
from arthur_redshift_etl_spark.design import (
    ColumnDefinition,
    TableDesign,
    column_from_attribute,
    generic_to_spark_type,
)
from arthur_redshift_etl_spark.design.validate import load_design
from arthur_redshift_etl_spark.errors import (
    TableDesignSemanticError,
    TableDesignSyntaxError,
)
from arthur_redshift_etl_spark.names import TableName, TableSelector


@pytest.mark.parametrize("mod", [names_mod, design_mod, compat_mod])
def test_doctests(mod):
    failures, _ = doctest.testmod(mod, verbose=False)
    assert failures == 0


def test_table_name_staging_roundtrip():
    tn = TableName("dw", "orders")
    assert tn.as_staging().schema == "etl_staging__dw"
    assert tn.as_staging().is_staging
    assert not tn.is_staging
    assert tn.quoted() == "`dw`.`orders`"


def test_selector_schema_only_pattern():
    sel = TableSelector(["dw"])
    assert sel.match(TableName("dw", "anything"))
    assert not sel.match(TableName("other", "anything"))
    assert sel.match_schema("dw") and not sel.match_schema("other")


def test_generic_type_mapping_decimal_passthrough():
    from pyspark.sql import types as T

    assert generic_to_spark_type("decimal", "numeric(20,4)") == T.DecimalType(20, 4)
    assert generic_to_spark_type("timestamp") == T.TimestampNTZType()


def test_design_schema_and_metadata():
    d = TableDesign(
        name="dw.t",
        source_name="CTAS",
        columns=[
            ColumnDefinition("id", "long", not_null=True, identity=True),
            ColumnDefinition("name", "string", sql_type="varchar(255)"),
            ColumnDefinition("hidden", "string", skipped=True),
        ],
    )
    schema = d.to_spark_schema()
    assert [f.name for f in schema.fields] == ["id", "name"]
    assert not schema["id"].nullable
    assert schema["name"].metadata["varchar_length"] == 255


def test_validate_rejects_view_with_constraints():
    doc = {
        "name": "dw.v",
        "source_name": "VIEW",
        "columns": [{"name": "a"}],
        "constraints": [{"primary_key": ["a"]}],
    }
    with pytest.raises(TableDesignSemanticError):
        load_design(doc)


def test_validate_rejects_bad_split_by():
    doc = {
        "name": "src.t",
        "source_name": "db.public.t",
        "columns": [{"name": "k", "type": "string"}],
        "extract_settings": {"split_by": ["k"]},
    }
    with pytest.raises(TableDesignSemanticError):
        load_design(doc)


def test_validate_rejects_bucket_by_on_external():
    """EXTERNAL files were not written by the engine, so they were never
    bucketed; a bucket spec on them would register a layout they lack."""
    doc = {
        "name": "ext.t",
        "source_name": "EXTERNAL",
        "columns": [{"name": "k", "type": "long"}],
        "attributes": {
            "location": "/lake/ext/t",
            "bucket_by": {"columns": ["k"], "buckets": 4},
        },
    }
    with pytest.raises(TableDesignSemanticError, match="bucket_by"):
        load_design(doc)
    del doc["attributes"]["bucket_by"]
    assert load_design(doc).kind == "EXTERNAL"


def test_validate_rejects_missing_keys_and_bad_types():
    with pytest.raises(TableDesignSyntaxError):
        load_design({"name": "a.b", "columns": [{"name": "x"}]})
    with pytest.raises(TableDesignSyntaxError):
        load_design(
            {
                "name": "a.b",
                "source_name": "CTAS",
                "columns": [{"name": "x", "type": "varchar"}],
            }
        )


def test_surrogate_key_must_be_identity():
    doc = {
        "name": "dw.dim",
        "source_name": "CTAS",
        "columns": [{"name": "key", "type": "long"}, {"name": "x"}],
        "constraints": [{"surrogate_key": ["key"]}],
    }
    with pytest.raises(TableDesignSemanticError):
        load_design(doc)
    doc["columns"][0]["identity"] = True
    assert load_design(doc).identity_column.name == "key"


def test_column_from_attribute_fallback():
    c = column_from_attribute("e", "user_defined_enum")
    assert c.sql_type == "varchar(10000)" and c.type == "string"


def test_compat_dateadd_untouched_listagg_rewritten(spark):
    from arthur_redshift_etl_spark.functions import rewrite_redshift_sql

    spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "c"), (2, "z")], "g INT, name STRING"
    ).createOrReplaceTempView("compat_names")
    sql = (
        "SELECT g, LISTAGG(name, ', ') WITHIN GROUP (ORDER BY name) AS v "
        "FROM compat_names GROUP BY g ORDER BY g"
    )
    out = spark.sql(rewrite_redshift_sql(sql)).collect()
    assert [tuple(r) for r in out] == [(1, "a, b, c"), (2, "z")]
    # no WITHIN GROUP → no order, the same members
    out2 = spark.sql(rewrite_redshift_sql(
        "SELECT g, LISTAGG(name, ',') AS v FROM compat_names GROUP BY g ORDER BY g"
    )).collect()
    assert [(r.g, sorted(r.v.split(","))) for r in out2] == [
        (1, ["a", "b", "c"]), (2, ["z"])
    ]
    assert rewrite_redshift_sql("SELECT dateadd(day, 1, d) FROM t") == (
        "SELECT dateadd(day, 1, d) FROM t"
    )
    # CHARINDEX swaps its arguments into instr; STRPOS keeps order
    assert rewrite_redshift_sql("SELECT CHARINDEX('@', email) FROM t") == (
        "SELECT instr(email, '@') FROM t"
    )
    assert rewrite_redshift_sql("SELECT STRPOS(email, '@') FROM t") == (
        "SELECT instr(email, '@') FROM t"
    )


def test_warehouse_config_model(tmp_path):
    from arthur_redshift_etl_spark.config import WarehouseConfig

    doc = {
        "schemas": [
            {"name": "erp", "read_access": "ERP_DSN", "data_format": {"format": "csv", "compression": "gzip"}},
            {"name": "files", "s3_path": "/lake/files"},
            {"name": "ext", "external": True},
            {"name": "dw", "unload_target": "exports"},
        ],
        "required_for_success": ["dw.*"],
    }
    cfg = WarehouseConfig.from_dict(doc)
    assert [s.kind for s in cfg.schemas] == [
        "database_source", "static_source", "external", "transformation",
    ]
    assert cfg.schema("erp").data_format.format == "csv"
    assert [s.name for s in cfg.source_schemas] == ["erp", "files"]
    assert cfg.required_selector.match_schema("dw")
    import pytest as _pytest
    from arthur_redshift_etl_spark.errors import ETLConfigError

    with _pytest.raises(ETLConfigError):
        WarehouseConfig.from_dict({"schemas": [{"name": "a"}, {"name": "a"}]})


def test_compat_rewrite_is_idempotent_over_dialect_corpus():
    """rewrite(rewrite(x)) == rewrite(x): the shim's output must be valid
    Spark SQL that a second pass leaves untouched — a rewrite that
    re-triggers on its own output (e.g. QUALIFY unwrapping twice, DECODE
    matching a produced CASE) would corrupt staged-query pipelines that
    pass SQL through the shim more than once (loader staging rewrites do)."""
    from arthur_redshift_etl_spark.functions import rewrite_redshift_sql

    corpus = [
        "SELECT GETDATE(), SYSDATE FROM t",
        "SELECT NVL(a, b), NVL2(a, b, c) FROM t",
        "SELECT DECODE(status, 'O', 'open', 'C', 'closed', 'other') FROM t",
        "SELECT LISTAGG(name, ', ') WITHIN GROUP (ORDER BY name) FROM t GROUP BY g",
        "SELECT LISTAGG(DISTINCT name, ',') FROM t GROUP BY g",
        "SELECT MEDIAN(x) FROM t GROUP BY g",
        "SELECT CONVERT_TIMEZONE('America/New_York', ts) FROM t",
        "SELECT DATEADD(day, 3, d), DATEDIFF(hour, a, b) FROM t",
        "SELECT * FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) = 1",
        "SELECT TO_CHAR(ts, 'YYYY-MM') FROM t",
        "SELECT JSON_EXTRACT_PATH_TEXT(j, 'a', 'b') FROM t",
        "SELECT CHARINDEX('x', name), STRPOS(name, 'y'), LEN(name) FROM t",
        ("SELECT DECODE(a, 1, NVL(b, c), MEDIAN(d)) FROM t "
         "QUALIFY RANK() OVER (ORDER BY e) <= 2"),
    ]
    for sql in corpus:
        once = rewrite_redshift_sql(sql)
        twice = rewrite_redshift_sql(once)
        assert twice == once, f"not idempotent for: {sql}\nonce: {once}\ntwice: {twice}"
