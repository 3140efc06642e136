"""Driver-contract smoke tests (SURVEY.md §5 strategy #4)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["nationkey", "user_count"]
    # flagship is a top-k: descending counts
    counts = [r.user_count for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50


def test_all_queries_callable():
    qs = entrymod.queries()
    for name, fn in qs.items():
        assert callable(fn), name


def test_package_imported_from_this_checkout():
    """The harness puts the checkout that holds this test first on
    ``sys.path``, so a second checkout tests its own package."""
    from pathlib import Path

    import apache_iceberg_spark

    here = Path(__file__).resolve().parents[1]
    assert Path(apache_iceberg_spark.__file__).resolve().is_relative_to(here)
