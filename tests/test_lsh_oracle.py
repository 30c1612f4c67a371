"""md5-family banded MinHash (operators/dedup.py:minhash_banded_pairs_md5)
and near-dup connected components — the oracle-portable LSH twin. The
sf-table oracle certifies the construction end-to-end; these tests pin
the semantics the oracle can't isolate (recall vs exact, cluster shape,
validation).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.operators.dedup import (
    minhash_banded_pairs_md5,
)
from ghcn_d_etl_project_spark.operators.graph import connected_components


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _base(i, n=40):
    return " ".join(f"w{i}t{j}" for j in range(n))


def test_banded_finds_planted_near_dups_and_exact_jaccard(spark):
    # docs 0/1: one substituted token in 40 -> word-3-gram jaccard high;
    # docs 2..5 mutually unrelated
    a = _base(0).split()
    b = list(a)
    b[20] = "MUTATED"
    df = _docs(spark, [" ".join(a), " ".join(b)] + [_base(i) for i in range(2, 6)])
    out = minhash_banded_pairs_md5(df, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc1"], r["doc2"]) == (0, 1)
    # exact jaccard: 38 grams each, 3 grams touch position 20 -> inter 35
    assert r["size1"] == 38 and r["size2"] == 38
    assert r["n_inter"] == 35
    assert abs(r["jaccard"] - 35 / 41) < 1e-6
    # hash_dim_bytes=0 disables the broadcast hash-dimension path: no
    # vocabulary probe job, no per-shingle hash table in the plan, and
    # the same pairs as the default path
    sc = spark.sparkContext
    sc.setJobGroup("md5_no_hash_dim", "hash_dim_bytes=0 runs no probe")
    try:
        off = minhash_banded_pairs_md5(
            df, "doc_id", "text", threshold=0.5, hash_dim_bytes=0
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("md5_no_hash_dim")) == []
    assert "__h0" in out._jdf.queryExecution().executedPlan().toString()
    assert "__h0" not in off._jdf.queryExecution().executedPlan().toString()
    assert off.collect() == rows


def test_banded_identical_docs_jaccard_one(spark):
    df = _docs(spark, [_base(7), _base(7), _base(8)])
    rows = minhash_banded_pairs_md5(df, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == 1.0
    assert (rows[0]["doc1"], rows[0]["doc2"]) == (0, 1)


def test_banded_threshold_excludes_low_jaccard_candidates(spark):
    # half-overlapping docs share band buckets sometimes but exact
    # verify must drop them below the threshold
    a = _base(9).split()
    c = a[:20] + [f"x{j}" for j in range(20)]
    df = _docs(spark, [" ".join(a), " ".join(c)])
    out = minhash_banded_pairs_md5(df, "doc_id", "text", threshold=0.9)
    assert out.count() == 0


def test_banded_validation_errors(spark):
    df = _docs(spark, ["a b c d"])
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_banded_pairs_md5(df, "doc_id", "text", n_hashes=32, bands=5)
    with pytest.raises(ValueError, match="unit"):
        minhash_banded_pairs_md5(df, "doc_id", "text", unit="sentence")


def test_banded_char_unit_works_too(spark):
    df = _docs(spark, ["abcdefghij" * 10, "abcdefghij" * 10, "zz"])
    rows = minhash_banded_pairs_md5(
        df, "doc_id", "text", n=4, unit="char"
    ).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_neardup_components_chain(spark):
    # A ~ B (1 mutation), B ~ C (2 mutations), A ~ C weaker but still a
    # chain: all three must land in ONE component via transitivity
    a = _base(3, n=60).split()
    b = list(a)
    b[10] = "m1"
    c = list(b)
    c[40] = "m2"
    df = _docs(
        spark,
        [" ".join(a), " ".join(b), " ".join(c), _base(4, n=60)],
    )
    pairs = minhash_banded_pairs_md5(df, "doc_id", "text", threshold=0.5)
    nodes = df.select(F.col("doc_id").alias("node"))
    comps = connected_components(
        pairs.select("doc1", "doc2"), src="doc1", dst="doc2",
        nodes=nodes, node_col="node",
    )
    lab = {r["node"]: r["component"] for r in comps.collect()}
    assert lab[0] == lab[1] == lab[2] == 0
    assert lab[3] == 3
