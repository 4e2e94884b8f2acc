"""The benchmark's warehouse: a DuckDB upstream, the design repo over it,
and the DuckDB-side expectations every published relation is checked
against.

Seven relations over three transformation levels, pinned here so a later
change to the repo's fixtures cannot change what is measured:

- 3 SOURCE tables ``src.customer`` (primary key and a unique name),
  ``src.orders`` (primary key) and ``src.lineitem`` (no key: its
  ``(l_orderkey, l_linenumber)`` pairs repeat in the generated data, as
  in the fixture data); ``stats_columns`` on the join keys;
- level 1: ``dw.fact_order_line``, the 4x-orders fact join, with
  ``distribution``/``compound_sort``/``stats_columns``;
- level 2: ``dw.customer_revenue`` and the view ``dw.v_revenue_by_segment``;
- level 3: ``dw.top_customers``.

Every transformation is plain SQL that Spark and DuckDB evaluate to the
same values: money is summed as DECIMAL and cast to DOUBLE at the end, and
rankings break ties on a key.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import duckdb
import yaml

from datagen import SOURCE_TABLES

_TYPES = {
    "INTEGER": "int",
    "BIGINT": "long",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
}

_KEYS = {"customer": ["c_custkey"], "orders": ["o_orderkey"]}
_UNIQUE = {"customer": ["c_name"]}
_STATS = {"customer": ["c_custkey"], "orders": ["o_orderkey", "o_custkey"]}
_SPLIT = {"orders": "o_orderkey", "lineitem": "l_orderkey"}

_REVENUE = "CAST(SUM(CAST({} AS DECIMAL(18,4))) AS DOUBLE)"

# (name, kind, depends_on, constraints, attributes, sql)
TRANSFORMS = [
    (
        "dw.fact_order_line", "CTAS", ["src.lineitem", "src.orders"],
        [],
        {
            "distribution": ["o_custkey"],
            "compound_sort": ["o_orderdate"],
            "stats_columns": ["o_custkey"],
        },
        """
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
       o.o_custkey, o.o_orderdate, l.l_quantity,
       CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
            AS DOUBLE) AS gross
FROM src.lineitem l
JOIN src.orders o ON l.l_orderkey = o.o_orderkey
""",
    ),
    (
        "dw.customer_revenue", "CTAS", ["dw.fact_order_line", "src.customer"],
        [{"primary_key": ["c_custkey"]}], {},
        f"""
SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
       COUNT(*) AS order_lines, {_REVENUE.format("f.gross")} AS revenue
FROM dw.fact_order_line f
JOIN src.customer c ON f.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_nationkey, c.c_mktsegment
""",
    ),
    (
        "dw.v_revenue_by_segment", "VIEW", ["dw.fact_order_line", "src.customer"],
        [], {},
        f"""
SELECT c.c_mktsegment, COUNT(*) AS order_lines,
       {_REVENUE.format("f.gross")} AS revenue
FROM dw.fact_order_line f
JOIN src.customer c ON f.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    ),
    (
        "dw.top_customers", "CTAS", ["dw.customer_revenue"],
        [{"primary_key": ["c_nationkey", "rnk"]}], {},
        """
SELECT c_nationkey, c_custkey, revenue, rnk
FROM (
  SELECT c_nationkey, c_custkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY revenue DESC, c_custkey) AS rnk
  FROM dw.customer_revenue
) ranked
WHERE rnk <= 3
""",
    ),
]

# result column types of the transformations, for their design files
_TRANSFORM_TYPES = {
    "c_custkey": "long", "c_nationkey": "int", "c_mktsegment": "string",
    "l_orderkey": "long", "l_linenumber": "int", "l_partkey": "long",
    "l_suppkey": "long", "o_custkey": "long", "o_orderdate": "timestamp",
    "l_quantity": "double", "gross": "double", "order_lines": "long",
    "revenue": "double", "rnk": "int",
}

VIEWS = {name for name, kind, *_ in TRANSFORMS if kind == "VIEW"}
RELATIONS = [f"src.{t}" for t in SOURCE_TABLES] + [t[0] for t in TRANSFORMS]


def source_design(table: str, columns: list, cpus: int) -> dict:
    """``columns``: ``(name, DuckDB type)`` pairs of the upstream table."""
    not_null = set(_KEYS.get(table, [])) | {_SPLIT.get(table)}
    design = {
        "name": f"src.{table}",
        "source_name": f"upstream.main.{table}",
        "columns": [
            {"name": c, "type": _TYPES[t], **({"not_null": True} if c in not_null else {})}
            for c, t in columns
        ],
    }
    constraints = [{"primary_key": _KEYS.get(table)}, {"unique": _UNIQUE.get(table)}]
    constraints = [c for c in constraints if next(iter(c.values()))]
    if constraints:
        design["constraints"] = constraints
    if table in _SPLIT:
        design["extract_settings"] = {
            "split_by": [_SPLIT[table]], "num_partitions": cpus,
        }
    if table in _STATS:
        design["attributes"] = {"stats_columns": _STATS[table]}
    return design


def _columns(con, relation: str) -> list:
    return [(row[0], row[1]) for row in con.execute(f"DESCRIBE {relation}").fetchall()]


def _evaluate(upstream_path: str):
    """Build the whole warehouse in an in-memory DuckDB from the upstream,
    checking on the way that every declared key holds in the generated
    data, so a benchmark never times the constraint-failure path by
    accident.  Returns the open connection."""
    con = duckdb.connect()
    con.execute(f"ATTACH '{upstream_path}' AS up (READ_ONLY)")
    con.execute("CREATE SCHEMA src")
    con.execute("CREATE SCHEMA dw")
    for table in SOURCE_TABLES:
        con.execute(f"CREATE TABLE src.{table} AS SELECT * FROM up.main.{table}")
        _assert_keys(con, f"src.{table}", [_KEYS.get(table), _UNIQUE.get(table)])
    for name, _kind, _deps, constraints, _attrs, sql in TRANSFORMS:
        con.execute(f"CREATE TABLE {name} AS {sql}")
        _assert_keys(con, name, [cols for c in constraints for cols in c.values()])
    return con


def _assert_keys(con, name: str, keys: list) -> None:
    for cols in filter(None, keys):
        col_list = ", ".join(cols)
        nulls = " OR ".join(f"{c} IS NULL" for c in cols)
        dup = con.execute(
            f"SELECT count(*) FROM (SELECT {col_list} FROM {name} "
            f"GROUP BY {col_list} HAVING count(*) > 1)"
        ).fetchone()[0]
        null = con.execute(f"SELECT count(*) FROM {name} WHERE {nulls}").fetchone()[0]
        if dup or null:
            raise RuntimeError(
                f"declared key {cols} of {name} does not hold in the generated "
                f"data ({dup} duplicate keys, {null} null keys)"
            )


def build_upstream(path: str, tables: dict) -> None:
    """The upstream database the SOURCE relations are extracted from."""
    if os.path.exists(path):
        os.remove(path)
    con = duckdb.connect(path)
    try:
        for table in SOURCE_TABLES:
            arrow = tables[table]  # noqa: F841 - referenced by the SQL below
            con.execute(f"CREATE TABLE main.{table} AS SELECT * FROM arrow")
    finally:
        con.close()


def prepare(root: str, upstream_path: str, cpus: int) -> dict:
    """Write the design repo (``schemas/{src,dw}/*.yaml`` + ``.sql``) under
    ``root`` and return what the published warehouse must hold:
    ``{identifier: (row count, checksum)}``, views mapped to their
    canonical rows instead."""
    from queries import canonical

    con = _evaluate(upstream_path)
    try:
        out = {}
        for table in SOURCE_TABLES:
            name = f"src.{table}"
            _dump(root, source_design(table, _columns(con, name), cpus))
            out[name] = checksum(con, f"SELECT * FROM {name}")
        for name, kind, deps, constraints, attributes, sql in TRANSFORMS:
            design = {
                "name": name,
                "source_name": kind,
                "columns": [
                    {"name": c} if kind == "VIEW"
                    else {"name": c, "type": _TRANSFORM_TYPES[c]}
                    for c, _t in _columns(con, name)
                ],
                "depends_on": deps,
            }
            if constraints:
                design["constraints"] = constraints
            if attributes:
                design["attributes"] = attributes
            _dump(root, design, sql)
            if kind == "VIEW":
                res = con.execute(f"SELECT * FROM {name}")
                out[name] = canonical([d[0] for d in res.description], res.fetchall())
            else:
                out[name] = checksum(con, f"SELECT * FROM {name}")
        return out
    finally:
        con.close()


def _dump(root: str, design: dict, sql: str | None = None) -> None:
    schema, table = design["name"].split(".")
    d = os.path.join(root, "schemas", schema)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{table}.yaml"), "w") as fh:
        yaml.safe_dump(design, fh, sort_keys=False)
    if sql is not None:
        with open(os.path.join(d, f"{table}.sql"), "w") as fh:
            fh.write(sql)


def _checksum_sql(con, relation_sql: str) -> str:
    """Row count + order-independent content hash, with each column
    normalized so the same values hash alike whichever engine wrote them
    (Spark writes INT for ROW_NUMBER where DuckDB computes BIGINT, and
    timestamps may come back with or without a time zone)."""
    parts = []
    for name, dtype, *_ in con.execute(f"DESCRIBE {relation_sql}").fetchall():
        q = f'"{name}"'
        if "TIMESTAMP" in dtype:
            parts.append(f"epoch_us({q})")
        elif dtype in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            parts.append(f"CAST({q} AS BIGINT)")
        elif dtype in ("FLOAT", "DOUBLE") or dtype.startswith("DECIMAL"):
            parts.append(f"CAST({q} AS DOUBLE)")
        else:
            parts.append(f"CAST({q} AS VARCHAR)")
    return (
        f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})), 0) "
        f"FROM ({relation_sql})"
    )


def checksum(con, relation_sql: str) -> tuple:
    count, digest = con.execute(_checksum_sql(con, relation_sql)).fetchone()
    return int(count), int(digest)


def published_state(spark, con) -> dict:
    """What the warehouse serves now: each published table's parquet read
    through DuckDB (count + checksum), each view collected through Spark."""
    from queries import canonical

    out = {}
    for name in RELATIONS:
        if name in VIEWS:
            df = spark.table(name)
            out[name] = canonical(df.columns, df.collect())
            continue
        files = [urlparse(f).path for f in spark.table(name).inputFiles()]
        file_list = ", ".join(f"'{f}'" for f in files)
        out[name] = checksum(con, f"SELECT * FROM read_parquet([{file_list}])")
    return out
