"""Python scan+extract source (sources/pyscan.py).

The contract: extract_scan(spark, path) returns the rows of
extract(spark.read.parquet(path)), one split per input file. Also pins
the split planner's skew balancing.
"""

from __future__ import annotations

import glob
import os

import pytest

from gpt4ocontentextraction_spark.sources.pyscan import (
    _balanced_groups,
    extract_scan,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spans_dir(spark, tmp_path_factory):
    from gpt4ocontentextraction_spark.spanify import spanify

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path_factory.mktemp("pyscan") / "spans")
    spanify(docs).repartition(4).write.parquet(out)
    return out


def _rows(df):
    from pyspark.sql import functions as F

    return sorted(
        df.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
        .collect()
    )


def test_fused_scan_matches_classic_extract(spark, spans_dir):
    from gpt4ocontentextraction_spark.operators.extract import extract

    classic = _rows(extract(spark.read.parquet(spans_dir)))
    fused = _rows(extract_scan(spark, spans_dir))
    assert fused == classic
    assert len(fused) > 0


def test_partitions_option_controls_split_count(spark, spans_dir):
    """One split per input file (below the group cap)."""
    n_files = len(glob.glob(os.path.join(spans_dir, "*.parquet")))
    assert n_files > 1
    assert extract_scan(spark, spans_dir).rdd.getNumPartitions() == n_files


def test_balanced_groups_defuse_size_skew(tmp_path):
    files = []
    for i, size in enumerate([100, 1, 1, 1, 1, 1]):
        p = tmp_path / f"f{i}.parquet"
        p.write_bytes(b"x" * size)
        files.append(str(p))
    groups = _balanced_groups(files, 3)
    assert sorted(f for g in groups for f in g) == sorted(files)
    # the giant file must sit alone; the tiny ones spread over the rest
    big = [g for g in groups if any(f.endswith("f0.parquet") for f in g)]
    assert len(big[0]) == 1


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(Exception):
        extract_scan(spark, str(tmp_path / "nope")).collect()


def test_balanced_groups_properties():
    """Property test for the split planner: every file lands in exactly
    one group, group count never exceeds the request, and first-fit-
    decreasing keeps the max group load within (max_file + total/n) —
    the classic FFD bound that keeps one giant file from serializing a
    task while small files pile elsewhere."""
    import os
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        sizes=st.lists(st.integers(1, 10**9), min_size=1, max_size=40),
        n=st.integers(1, 12),
    )
    def check(sizes, n):
        with tempfile.TemporaryDirectory() as d:
            files = []
            for i, size in enumerate(sizes):
                p = os.path.join(d, f"f{i}.parquet")
                with open(p, "wb") as fh:
                    fh.truncate(size)  # sparse: size without disk cost
                files.append(p)
            groups = _balanced_groups(files, n)
            flat = [f for g in groups for f in g]
            assert sorted(flat) == sorted(files)
            assert len(groups) <= max(1, n)
            loads = [
                sum(sizes[int(os.path.basename(f)[1:-8])] for f in g)
                for g in groups
            ]
            assert max(loads) <= max(sizes) + sum(sizes) / max(1, n)

    check()
