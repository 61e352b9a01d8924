"""The catalog IO facade."""

from __future__ import annotations

from page_evaluator_spark.sources.catalog import Catalog


def test_catalog_append_read(spark, tmp_path):
    cat = Catalog(spark)
    ref = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert not cat.exists(ref)
    cat.append(df, ref, run_id="c1")
    cat.append(df, ref, run_id="c2")
    assert cat.exists(ref)
    back = cat.read(ref)
    assert back.count() == 4
    # idempotent re-commit: same run_id overwrites, not duplicates
    cat.append(df, ref, run_id="c2")
    assert cat.read(ref).count() == 4

