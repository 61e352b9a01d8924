"""Staleness guard for the checked-in golden-oracle fixtures: regenerating
them from the pure-Python oracle must reproduce the committed parquet files
byte-for-value, and the live Spark pipeline must still agree with them.

If a semantic fix changes pipeline output, this fails until
`python fixtures/make_goldens.py` is re-run — goldens can never silently rot.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "fixtures"))

GOLDEN = REPO / "fixtures" / "golden"
FILES = ["ocr_page_scores.parquet", "ocr_spans_out.parquet",
         "ocr_quarantine.parquet", "ocr_worst_pages.parquet",
         "media_spans.parquet", "media_captions.parquet",
         "interleaved_datasheet.parquet"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Total order over ALL columns (object cols stringified so None sorts
    deterministically) — duplicate composite keys must not leave row order
    to chance."""
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.copy()
    for c in key.columns:
        if key[c].dtype == object:
            key[c] = key[c].astype(str)
    order = key.sort_values(by=list(key.columns)).index
    return df.loc[order].reset_index(drop=True)


def test_golden_dir_holds_exactly_files():
    """Every committed golden is one this module checks — a file no twin
    reads any more is deleted with its writer, not left behind."""
    assert sorted(p.name for p in GOLDEN.iterdir()) == sorted(FILES)


def test_goldens_match_fresh_oracle_run(tmp_path):
    import make_goldens

    make_goldens.main(tmp_path)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(FILES)
    for name in FILES:
        fresh = pd.read_parquet(tmp_path / name)
        committed = pd.read_parquet(GOLDEN / name)
        a, b = _canon(fresh), _canon(committed)
        assert list(a.columns) == list(b.columns), name
        assert len(a) == len(b), name
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]):
                # bit-exact float32 — the driver hashes raw values
                assert (a[c].to_numpy(np.float32).view(np.uint32)
                        == b[c].to_numpy(np.float32).view(np.uint32)).all(), (name, c)
            else:
                eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
                assert eq.all(), (name, c)


@pytest.mark.parametrize("pair", [
    ("ocr_page_scores", "ocr_page_scores.parquet"),
    ("ocr_spans_out", "ocr_spans_out.parquet"),
    ("ocr_quarantine", "ocr_quarantine.parquet"),
    ("ocr_worst_pages", "ocr_worst_pages.parquet"),
])
def test_spark_pipeline_matches_goldens_bitexact(spark, pair):
    """The live pipeline agrees with the oracle-derived goldens exactly —
    floats compared by BIT PATTERN (the driver's value hash is exact, so
    tolerance-based parity is not enough)."""
    from page_evaluator_spark.queries import QUERIES

    name, fname = pair
    got = _canon(QUERIES[name](spark, "/root/testdata/sf0.001").toPandas())
    exp = _canon(pd.read_parquet(GOLDEN / fname))
    assert len(got) == len(exp), name
    assert sorted(got.columns) == sorted(exp.columns), name
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            assert (got[c].to_numpy(np.float32).view(np.uint32)
                    == exp[c].to_numpy(np.float32).view(np.uint32)).all(), (name, c)
        else:
            eq = (got[c] == exp[c]) | (got[c].isna() & exp[c].isna())
            assert eq.all(), (name, c)
