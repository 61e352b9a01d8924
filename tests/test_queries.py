"""Mirror of the driver's correctness gate: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB (sf0.01), compare row count + column names
+ order-insensitive values.
"""

from __future__ import annotations


import duckdb
import pandas as pd
import pytest

from page_evaluator_spark.queries import EXTRA_QUERIES, QUERIES, oracle_sql

# window + parked entries are both oracle-checked every run
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb(sf01_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf01_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64")  # int widths differ; compare numerically
        elif df[c].dtype == object:
            # Spark surfaces SQL NULL as None, DuckDB as float nan inside
            # object columns (e.g. nullable booleans); astype(str) would
            # turn those into distinct "None"/"nan" strings.  Re-mask NA
            # after the cast so both engines compare as missing.
            na = df[c].isna()
            df[c] = df[c].astype(str).mask(na)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


# --- dtype parity (r5) -------------------------------------------------------
# The driver's value-hash is TYPE-sensitive; pytest used to compare Python
# values only, so an oracle twin emitting HUGEINT where Spark emits BIGINT
# (DuckDB sum(BIGINT) -> HUGEINT) was invisible locally but red in
# CORRECTNESS (r4: graph_pagerank, source_quality_rollup).  Canonicalize both
# engines' result types to a common token form and require exact equality, so
# any future HUGEINT/DECIMAL/INT32-vs-INT64 twin drift fails in pytest first.
import re

_DUCK_TOKENS = {
    "hugeint": "int128", "ubigint": "uint64", "bigint": "int64",
    "integer": "int32", "smallint": "int16", "tinyint": "int8",
    "double": "float64", "float": "float32", "real": "float32",
    "varchar": "str", "boolean": "bool", "blob": "binary",
}
_SPARK_TOKENS = {
    "bigint": "int64", "int": "int32", "smallint": "int16", "tinyint": "int8",
    "double": "float64", "float": "float32", "string": "str",
    "boolean": "bool", "timestamp_ntz": "timestamp",
}


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on sep at nesting depth 0 (parens/angles/brackets)."""
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    return parts


def _canon_duck(s: str) -> str:
    s = s.strip().lower().replace("timestamp with time zone", "timestamp")
    if s.endswith("[]"):
        return f"array<{_canon_duck(s[:-2])}>"
    m = re.fullmatch(r"struct\((.*)\)", s, re.S)
    if m:
        fields = []
        for f in _split_top(m.group(1)):
            name, _, typ = f.strip().partition(" ")
            fields.append(f"{name.strip(chr(34))}:{_canon_duck(typ)}")
        return "struct<" + ",".join(fields) + ">"
    m = re.fullmatch(r"map\((.*)\)", s, re.S)
    if m:
        k, v = _split_top(m.group(1))
        return f"map<{_canon_duck(k)},{_canon_duck(v)}>"
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return _DUCK_TOKENS.get(s, s)


def _canon_spark(s: str) -> str:
    s = s.strip().lower()
    m = re.fullmatch(r"array<(.*)>", s, re.S)
    if m:
        return f"array<{_canon_spark(m.group(1))}>"
    m = re.fullmatch(r"map<(.*)>", s, re.S)
    if m:
        k, v = _split_top(m.group(1))
        return f"map<{_canon_spark(k)},{_canon_spark(v)}>"
    m = re.fullmatch(r"struct<(.*)>", s, re.S)
    if m:
        fields = []
        for f in _split_top(m.group(1)):
            name, _, typ = f.partition(":")
            fields.append(f"{name.strip()}:{_canon_spark(typ)}")
        return "struct<" + ",".join(fields) + ">"
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return _SPARK_TOKENS.get(s, s)


def _assert_dtype_parity(spark_df, rel, name: str):
    spark_types = {f.name: _canon_spark(f.dataType.simpleString())
                   for f in spark_df.schema.fields}
    duck_types = {c: _canon_duck(str(t))
                  for c, t in zip(rel.columns, rel.types)}
    assert spark_types == duck_types, (
        f"{name}: engine/oracle dtype drift\n  spark: {spark_types}\n  duck:  {duck_types}")


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), \
        f"{name}: row count {len(spark_pdf)} != {len(oracle_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), \
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            import numpy as np

            both_nan = a[c].isna() & b[c].isna()
            close = np.isclose(a[c], b[c], rtol=1e-9, atol=1e-9)
            ok = both_nan | close
            assert ok.all(), f"{name}.{c}: value mismatch\n{a[c][~ok].head()}\n{b[c][~ok].head()}"
        else:
            mism = (a[c] != b[c]) & ~(a[c].isna() & b[c].isna())
            assert not mism.any(), f"{name}.{c}: {a[c][mism].head()} vs {b[c][mism].head()}"


ORACLE = oracle_sql()
ORACLE_CHECKED = sorted(ORACLE)


def test_registry_is_exactly_the_driver_window():
    """The driver artifact records the first 50 queries() entries; keeping
    the registry at exactly 50 means every entry is attested each round."""
    assert len(QUERIES) == 50
    assert not set(QUERIES) & set(EXTRA_QUERIES)
    # every query has an oracle twin and every oracle key a query
    assert set(ORACLE) == set(ALL_QUERIES)


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_vs_oracle(spark, ddb, sf01_dir, name):
    sdf = ALL_QUERIES[name](spark, sf01_dir)
    rel = ddb.sql(ORACLE[name])
    _assert_dtype_parity(sdf, rel, name)
    got = sdf.toPandas()
    exp = rel.df()
    _compare(got, exp, name)
