"""Mimics the driver's correctness gate: run each __spark_entry__
query AND its DuckDB oracle on the same parquet tables, compare
row-count + column names + order-insensitive values (exact equality,
like the driver's value hash)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

pytestmark = [
    pytest.mark.spark,
    pytest.mark.skipif(not os.path.isdir(SF_DIR),
                       reason="testdata not available"),
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def _rows_sorted(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    # None-safe sort (NULLs last, like the driver's pandas
    # canonicalization): OPTIONAL-arm outputs legitimately carry NULL
    def key(t):
        return tuple((1, "") if v is None else (0, v) for v in t)

    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows), key=key
    )


def _all_queries():
    return {**entrymod.queries(), **entrymod.retired_queries()}


def _all_oracles():
    return {**entrymod.oracle_sql(), **entrymod.retired_oracle_sql()}


@pytest.mark.parametrize("name", sorted(_all_oracles().keys()))
def test_query_matches_oracle(spark, name):
    q = _all_queries()[name]
    sql = _all_oracles()[name]

    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (s_cols, d_cols)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}")
    a = _rows_sorted(s_cols, s_rows)
    b = _rows_sorted(d_cols, d_rows)
    mism = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mism, f"{name}: first mismatches {mism[:3]}"


def test_table_schema_inferred_once_per_version(spark, tmpdir_path):
    """A second read of a table starts no Spark job, and a table
    rewritten in place with another schema is read with the new one."""
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    path = os.path.join(tmpdir_path, "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert entrymod._t(spark, tmpdir_path, "t").columns == ["a"]
    before = last_job()
    again = entrymod._t(spark, tmpdir_path, "t")
    assert last_job() == before
    assert sorted(r.a for r in again.collect()) == [0, 1, 2]
    spark.range(2).selectExpr("id AS a", "'x' AS b").write.mode(
        "overwrite").parquet(path)
    new = entrymod._t(spark, tmpdir_path, "t")
    assert new.columns == ["a", "b"]
    assert sorted(tuple(r) for r in new.collect()) == [(0, "x"), (1, "x")]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "s" in df.columns and "p" in df.columns and "o" in df.columns


def test_rows_only_queries(spark):
    for name in ["kg_parse_turtle", "srp_ann", "bpe_tokens_real"]:
        df = entrymod.queries()[name](spark, SF_DIR)
        assert df.count() > 0, name


def test_srp_ann_recall(spark):
    """ANN quality gate: recall@10 vs brute force ≥ 0.8 with 6 LSH
    tables × 5 planes + multiprobe on the 64-d synthetic embeddings."""
    from pyspark.sql import functions as F

    from serd_spark.operators.similarity import ann_recall_vs_exact

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    r = ann_recall_vs_exact(emb, q, k=10, n_planes=5, n_tables=6)
    assert r >= 0.8, r


def test_ivf_ann_recall(spark):
    """IVF probing must recover most of the exact top-k (recall@10
    ≥ 0.8 with 12/16 cells probed; measured 0.90 — the synthetic
    embeddings have no cluster structure, so the probe dial sits
    high)."""
    from pyspark.sql import functions as F

    from serd_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10)
    ivf = ivf_ann_topk(emb, queries, k=10, n_cells=16, n_probe=12)
    hits = exact.join(ivf, ["query_id", "neighbor_id"]).count()
    assert hits / exact.count() >= 0.8


def test_srp_ann_realistic_dim(spark):
    """SRP at a realistic embedding dim (768): recall@10 ≥ 0.8 with
    4 planes x 8 tables (measured 0.988 on the planted-neighbor
    fixture), and the optimized plan stays small — signatures are one
    pandas UDF, not n_tables x n_planes x dim literal expressions."""
    import numpy as np

    from serd_spark.operators.similarity import (
        ann_recall_vs_exact,
        srp_ann_topk,
    )

    rng = np.random.default_rng(42)
    X = rng.standard_normal((200, 768))
    X[100:120] = X[0:20] + 0.35 * rng.standard_normal((20, 768))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>").cache()
    q = df.where("vec_id < 8")
    r = ann_recall_vs_exact(df, q, k=10, n_planes=4, n_tables=8)
    assert r >= 0.8, r
    plan = srp_ann_topk(df, q, k=10, n_planes=4, n_tables=8) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 50_000, len(plan)


def test_embedding_neardup_blocked_exact(spark):
    """The blocked-GEMM near-dup is exact: equals the brute-force
    pair set on sf0.001, with no cartesian product in the plan."""
    from pyspark.sql import functions as F

    from serd_spark.operators.similarity import _dot, _norm, embedding_neardup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {(r.vec_a, r.vec_b, r.sim)
           for r in embedding_neardup(emb, tau=0.45).collect()}
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").cast("array<double>").alias("vb"))
    sim = F.round(_dot(F.col("va"), F.col("vb"))
                  / (_norm(F.col("va")) * _norm(F.col("vb"))), 6)
    want = {(r.vec_a, r.vec_b, r.sim)
            for r in a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", sim.alias("sim"))
            .where(F.col("sim") >= 0.45).collect()}
    assert got == want
    plan = embedding_neardup(emb, tau=0.45) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_contract_outputs_scalar_only(spark):
    """Registry lint: every queries() output schema carries ONLY
    scalar columns — the external gate canonicalizes results with
    pandas (sort_values/factorize), which cannot hash list/dict
    cells, so an ArrayType/MapType/StructType column ERRs the row
    even when the values are exactly right (the round-5
    embedding_quantize lesson).  Operators may stay array-valued;
    the CONTRACT projection must serialize."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, q in _all_queries().items():
        for f in q(spark, SF_DIR).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"non-scalar contract outputs: {bad}"


def _rows_fingerprint(df):
    cols = sorted(df.columns)
    return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


def test_tfidf_cosine_stable_under_partitioning(spark):
    """The tfidf_cosine contract row gates ROUND(sum, 6) of float dot
    products under an exact hash — pin that the rounded values are
    invariant to partial-aggregation order by driving the SAME input
    through different physical partitionings (the float-knife-edge
    class the rank family's e-4 grain already defused; this one is a
    single non-iterative reduction, so 6-dp must hold)."""
    from pyspark.sql import functions as F

    from serd_spark.operators.dedup import (
        minhash_lsh_pairs,
        tfidf_cosine_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = None
    for parts in (1, 3, 17):
        d = docs.repartition(parts, F.col("doc_id") * parts + 1)
        pairs = minhash_lsh_pairs(d, n_bands=4, shingle_k=3,
                                  max_bucket=64)
        fp = _rows_fingerprint(tfidf_cosine_pairs(d, pairs))
        if ref is None:
            ref = fp
            assert fp  # non-empty at sf0.001
        else:
            assert fp == ref, f"partitioning {parts} changed values"


def test_lm_heldout_stable_under_partitioning(spark):
    """Same pin for lm_heldout's ROUND(mean ln(...), 6): the per-doc
    mean over bigram log-probs must not move at 6 dp when the model
    and scored splits aggregate in different partial orders."""
    from pyspark.sql import functions as F

    from serd_spark.operators.text import lm_bigram_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = None
    for parts in (1, 5, 13):
        d = docs.repartition(parts, F.col("doc_id") * parts + 1)
        out = lm_bigram_score(
            d.where(F.col("doc_id") % 2 == 1),
            model_docs=d.where(F.col("doc_id") % 2 == 0))
        fp = _rows_fingerprint(out)
        if ref is None:
            ref = fp
            assert fp
        else:
            assert fp == ref, f"partitioning {parts} changed values"


def test_cached_fixture_equals_inline(spark):
    """Oracle-isolation proof for the shared triple fixtures
    (VERDICT r6 #3): the session-cached localCheckpointed fixture is
    row-identical to a FRESH inline derivation of the same corpus,
    and repeat access returns the cached object (no re-parse)."""
    cases = [
        ("ocn",
         lambda: entrymod._order_cust_nation_cached(spark, SF_DIR),
         lambda: entrymod._order_cust_nation_triples(spark, SF_DIR)),
        ("ocn_region",
         lambda: entrymod._order_cust_nation_cached(
             spark, SF_DIR, with_region=True),
         lambda: entrymod._order_cust_nation_triples(
             spark, SF_DIR, with_region=True)),
        ("turtle",
         lambda: entrymod._turtle_orders_cached(spark, SF_DIR),
         lambda: entrymod._turtle_orders_triples(spark, SF_DIR)),
        ("turtle_clerk",
         lambda: entrymod._turtle_orders_cached(
             spark, SF_DIR, with_clerk=True),
         lambda: entrymod._turtle_orders_triples(
             spark, SF_DIR, with_clerk=True)),
    ]
    for name, cached, inline in cases:
        c = cached()
        assert cached() is c, f"{name}: cache missed on repeat access"
        a = _rows_fingerprint(c)
        b = _rows_fingerprint(inline())
        assert a, f"{name}: empty fixture"
        assert a == b, f"{name}: cached fixture differs from inline"


def test_bucketed_cache_equals_inline(spark):
    """Oracle-isolation proof for the session-scoped bucketed table
    (VERDICT r7 #7): the cached catalog table read back by
    ``_bucketed_table_cached`` is row-identical to a FRESH inline
    derivation of the same triples, and a repeat call does NOT
    re-write (the key is already in ``_BUCKETED_TABLES``, so bench's
    second pass measures the exchange-free READ path only)."""
    import hashlib

    cached = entrymod._bucketed_table_cached(
        spark, SF_DIR, "serd_triples_2hop", 8,
        lambda: entrymod._order_cust_nation_cached(spark, SF_DIR))
    # the catalog name is per-(sf_dir, n_buckets): a second sf_dir in
    # the same session must NOT read this table back
    sig = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    key = (spark.sparkContext.applicationId, SF_DIR,
           f"serd_triples_2hop_{sig}_8", 8)
    assert key in entrymod._BUCKETED_TABLES
    other = hashlib.md5(b"/some/other/sf").hexdigest()[:8]
    assert other != sig

    def boom():
        raise AssertionError("repeat call re-built the triples")

    again = entrymod._bucketed_table_cached(
        spark, SF_DIR, "serd_triples_2hop", 8, boom)
    a = _rows_fingerprint(cached)
    assert a, "empty bucketed table"
    assert a == _rows_fingerprint(again)
    inline = entrymod._order_cust_nation_triples(spark, SF_DIR)
    assert a == _rows_fingerprint(inline), (
        "cached bucketed table differs from inline derivation")


def test_registry_tiers_shape():
    """Pin the registry size policy (VERDICT r6 #8): the LIVE
    registry holds at most 100 entries (two 50-row gate windows, so
    rotation never exceeds two rounds), the retired tier never
    overlaps it, every live oracle key names a live query, retired
    oracles mirror retired queries exactly, and bench.py's HEADLINE
    measures only registered queries."""
    import bench

    live = entrymod.queries()
    retired = entrymod.retired_queries()
    assert len(live) <= 100, len(live)
    assert not set(live) & set(retired)
    assert set(entrymod.oracle_sql()) <= set(live)
    assert set(entrymod.retired_oracle_sql()) == set(retired)
    missing = [n for n in bench.HEADLINE
               if n not in live and n not in retired]
    assert not missing, missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
