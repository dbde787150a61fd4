"""Round-15 optimization equivalence pins.

Every restructure in the second optimization round must compute the
exact same rows as the path it replaces; these tests pin the new
driver-side kernels and the slot-level one-collect fast path against
the distributed originals (the same discipline as r14's
test_driver_lloyd_matches_distributed family).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import meta_morph_etl_databricks_spark.operators.semantic as sem


@pytest.fixture(scope="module")
def emb(spark):
    """40 vectors in 8 dims: two planted tight clusters + scatter +
    three corrupt rows (NULL / NaN / wrong length) — the corrupt class
    must ride every index-rows frame with a NULL cell."""
    rng = random.Random(23)
    a = [5.0, 5.0, 5.0, 5.0, -5.0, -5.0, -5.0, -5.0]
    b = [-5.0, 5.0, -5.0, 5.0, 5.0, -5.0, 5.0, -5.0]
    rows = []
    for i in range(40):
        if i == 11:
            v = None
        elif i == 17:
            v = [float("nan")] * 8
        elif i == 29:
            v = [1.0] * 11
        elif i % 3 == 0:
            v = [x + rng.uniform(-0.2, 0.2) for x in a]
        elif i % 3 == 1:
            v = [x + rng.uniform(-0.2, 0.2) for x in b]
        else:
            v = [rng.uniform(-5, 5) for _ in range(8)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _collect_u(codes) -> dict[int, list[int]]:
    return {r[0]: [int(x) for x in r[1]] for r in codes.collect()}


def test_driver_assign_tree_matches_distributed(spark, emb):
    """_driver_assign_tree must reproduce assign_cells bit-identically on
    flat AND two-level trees — including the drop semantics for a row
    whose coarse cell has no cents2 entry (the distributed inner join)."""
    codes = sem._shifted_codes(emb, 8, "vec_id", "embedding").localCheckpoint()
    u = _collect_u(codes)
    for kwargs in ({"k": 4, "iters": 2}, {"k": 7, "iters": 2, "flat_k_max": 3}):
        _, _, tree = sem.kmeans_int8_tree(emb, dims=8, **kwargs)
        want = {
            r[0]: r[1] for r in sem.assign_cells(codes, tree, "vec_id").collect()
        }
        got = sem._driver_assign_tree(u, tree)
        assert got == want and got
    # drop semantics: strip one occupied coarse cell's fine centroids
    # from a two-level tree — both paths must drop exactly those rows
    _, _, tree = sem.kmeans_int8_tree(emb, k=7, iters=2, dims=8, flat_k_max=3)
    kind, coarse, k2, cents2 = tree
    assert kind == "two" and len(cents2) > 1
    pruned = dict(cents2)
    victim = sorted(pruned)[0]
    del pruned[victim]
    tree_pruned = ("two", coarse, k2, pruned)
    want = {
        r[0]: r[1] for r in sem.assign_cells(codes, tree_pruned, "vec_id").collect()
    }
    got = sem._driver_assign_tree(u, tree_pruned)
    assert got == want
    assert len(got) < len(u)  # the victim cell's rows actually dropped


def test_full_corpus_rows_slices_match_per_arm(spark, emb):
    """The q_embed one-collect path builds ONE (id, cell, q_vec, q_norm)
    pass and slices it per arm; each slice must equal the
    semantic_cell_index frame the r14 path built for that arm — boot
    slice included (tree routing reproduces the Lloyd's final
    assignment), corrupt rows included (NULL cell via the left join)."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.quantize import (
        qnorm,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        _literal_cells_schema,
    )

    codes = sem._shifted_codes(emb, 8, "vec_id", "embedding").localCheckpoint()
    u = _collect_u(codes)
    boot_p = F.col("vec_id") < 20
    _, _, tree = sem.kmeans_int8_tree(
        emb.filter(boot_p), k=4, iters=2, dims=8, _codes=codes.where(boot_p)
    )
    cells_df = spark.createDataFrame(
        sorted(sem._driver_assign_tree(u, tree).items()),
        _literal_cells_schema(codes, "cell"),
    )
    full_rows = (
        quantize_int8(emb, "embedding")
        .join(F.broadcast(cells_df), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "q_vec",
            qnorm("q_vec").alias("q_norm"),
        )
    )

    def key(rows):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["q_vec"] or []), r["q_norm"])
            for r in rows
        )

    for lo, hi in ((0, 20), (20, 30), (30, 1 << 40)):
        arm_p = (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        want = semantic_cell_index(emb.filter(arm_p), tree, 8).collect()
        got = full_rows.where(arm_p).collect()
        assert key(got) == key(want) and got
    # the corrupt rows ride with NULL cells, exactly like the r14 frames
    nulls = {r["vec_id"] for r in full_rows.where("cell IS NULL").collect()}
    assert nulls == {11, 17, 29}


def test_relation_cache_hits_and_never_serves_stale(spark, tmp_path):
    """r15 session-scoped parquet relation cache: a repeated open of an
    unchanged table returns the SAME lazy relation (no re-listing /
    re-inference), and ANY rewrite of the path (size, mtime, or file
    count changes the signature) misses the cache and reads fresh —
    the cache can never serve stale listings, schema, or split counts."""
    import meta_morph_etl_databricks_spark.sources.scans as scans

    d = str(tmp_path)
    spark.range(5).selectExpr("id AS a").write.parquet(f"{d}/t.parquet")
    df1 = scans.read_parquet_table(spark, d, "t")
    df2 = scans.read_parquet_table(spark, d, "t")
    assert df2 is df1  # cache hit: same relation object
    assert sorted(r["a"] for r in df2.collect()) == [0, 1, 2, 3, 4]
    # rewrite in place: new schema AND new rows — the open must be fresh
    import shutil
    import time as _t

    shutil.rmtree(f"{d}/t.parquet")
    _t.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    spark.range(3).selectExpr("id AS b", "id * 2 AS c").write.parquet(f"{d}/t.parquet")
    df3 = scans.read_parquet_table(spark, d, "t")
    assert df3 is not df1
    assert set(df3.columns) == {"b", "c"} and df3.count() == 3
    # the partitioning args are part of the key (adaptive split counts
    # must not leak across different caller dials)
    df4 = scans.read_parquet_table(spark, d, "t", min_partitions=2)
    assert df4 is not df3 and df4.rdd.getNumPartitions() <= 2


def test_relation_cache_is_per_session(spark, tmp_path):
    """A newSession() sibling shares the SparkContext (same
    applicationId) but not temp views or SQL confs, so it must get its
    own relation, bound to itself, not the first session's."""
    import meta_morph_etl_databricks_spark.sources.scans as scans

    d = str(tmp_path)
    spark.range(4).selectExpr("id AS a").write.parquet(f"{d}/t.parquet")
    df1 = scans.read_parquet_table(spark, d, "t")
    sibling = spark.newSession()
    df2 = scans.read_parquet_table(sibling, d, "t")
    assert df2 is not df1 and df2.sparkSession is sibling
    assert scans.read_parquet_table(sibling, d, "t") is df2  # still cached


def test_q_embed_one_collect_path_matches_distributed(spark, monkeypatch):
    """Slot-level pin for the r15 q_embed build restructure: the
    one-collect fast path (full corpus ≤ the driver bound) and the
    fully distributed path (dial 0) must return the exact same rows."""
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        q_embed_near_dup_lsh,
    )

    sf = "/root/testdata/sf0.001"
    fast = sorted(map(tuple, q_embed_near_dup_lsh(spark, sf).collect()))
    monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 0)
    slow = sorted(map(tuple, q_embed_near_dup_lsh(spark, sf).collect()))
    assert fast == slow and fast


def test_literal_frame_roundtrips_exactly(spark):
    """r15 localrel.literal_frame: rows rendered as a VALUES literal
    must equal what createDataFrame stores BIT-FOR-BIT (doubles via
    shortest-repr roundtrip, NaN/±Inf canonical, NULLs, empty/nested
    arrays, adversarial strings), and the plan must be a genuine local
    relation (LocalTableScan — the whole point: createDataFrame frames
    are RDD scans costing ~0.3 s per action)."""
    import math
    import struct

    from meta_morph_etl_databricks_spark.localrel import literal_frame

    schema = (
        "i bigint, b tinyint, d double, s string, f boolean, "
        "v array<double>, n array<array<bigint>>"
    )
    rows = [
        (1, 7, 0.1 + 0.2, "it's a \\ 'quote'\nline\ttab", True,
         [1e-300, -0.0, 5.5], [[1, 2], [3]]),
        (2**62, -128, float("nan"), "", False, [], [[], [9]]),
        (None, None, float("inf"), None, None, None, None),
        (3, 0, float("-inf"), "plain", True, [float("nan"), 1.7976931348623157e308], [[2**62]]),
    ]
    lit = literal_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert "LocalTableScan" in lit._jdf.queryExecution().executedPlan().toString()

    def key(r):
        def enc(x):
            if isinstance(x, float):
                return struct.pack(">d", x)  # bit pattern: NaN==NaN, -0.0!=0.0
            if isinstance(x, list):
                return tuple(enc(e) for e in x)
            return x
        return tuple(enc(x) for x in r)

    got = sorted((key(r) for r in lit.collect()), key=repr)
    want = sorted((key(r) for r in ref.collect()), key=repr)
    assert got == want
    assert lit.schema == ref.schema
    # empty-rows shape: same schema, zero rows, still local
    e = literal_frame(spark, [], schema)
    assert e.count() == 0 and e.schema == ref.schema

    # non-nullable fields keep the caller's nullability, rows and empty
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    strict = StructType(
        [StructField("k", LongType(), False), StructField("s", StringType(), True)]
    )
    srows = [(1, "a"), (2, None)]
    slit = literal_frame(spark, srows, strict)
    assert slit.schema == spark.createDataFrame(srows, strict).schema == strict
    assert sorted(slit.collect()) == sorted(spark.createDataFrame(srows, strict).collect())
    assert "LocalTableScan" in slit._jdf.queryExecution().executedPlan().toString()
    se = literal_frame(spark, [], strict)
    assert se.count() == 0 and se.schema == spark.createDataFrame([], strict).schema
    all_strict = StructType([StructField("k", LongType(), False)])
    assert literal_frame(spark, [(5,)], all_strict).schema == all_strict


def test_ivf_serve_state_slices_match_default_paths(spark):
    """r15 IVF serve restructure: the ivf_pq_serve_state slices handed
    to the serve calls' overrides (_probes / _probe_state /
    _rescore_queries / _candidates), plus the rank-slice identity
    (result(k) == result(K).where(rnk <= k)), must reproduce the
    default subtrees' results EXACTLY — this is the multi-arm shape
    q_similarity_ivf_topk serves from."""
    import random

    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.localrel import literal_frame
    from meta_morph_etl_databricks_spark.operators.quantize import (
        ivf_pq_index,
        ivf_pq_serve_state,
        ivf_pq_topk,
        ivf_pq_topk_rerank,
        pq_codebooks_from_codes,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk_indexed,
    )

    rnd = random.Random(41)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = ivf_centroids(emb, k=6)
    cb = pq_codebooks_from_codes(quantize_int8(emb).select("vec_id", "q_vec"), m=2, ksub=4)
    lists = ivf_index(emb, cents).cache()
    index = ivf_pq_index(emb, cents, cb).cache()
    q = emb.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")

    state = ivf_pq_serve_state(lists, q, cents, cb)
    sloc = literal_frame(spark, state.collect(), state.schema)
    key = lambda r: tuple(r)  # noqa: E731

    # ivf arm: _probes slice vs the default rank-in-plan path
    want = sorted(map(key, ivf_topk_indexed(lists, q, cents, k=6, nprobe=2, exclude_self=True).collect()))
    got = ivf_topk_indexed(
        lists, q, cents, k=6, nprobe=2, exclude_self=True,
        _probes=sloc.where(F.col("_rnk") <= 2).select(
            "query_id", "_qvec", F.col("_n").alias("_qn"), "centroid_id"
        ),
    )
    assert sorted(map(key, got.collect())) == want

    # ivfpq arm: _probe_state + the rank-slice identity
    ps = sloc.select("query_id", "centroid_id", "_qn", "_lut")
    want_pq = sorted(map(key, ivf_pq_topk(index, q, cents, cb, k=5, nprobe=6, exclude_self=True).collect()))
    nom = ivf_pq_topk(index, q, cents, cb, k=25, nprobe=6, exclude_self=True,
                      _probe_state=ps, _keep_rank=True)
    got_pq = nom.where(F.col("rnk") <= 5).drop("rnk")
    assert sorted(map(key, got_pq.collect())) == want_pq

    # rerank arm: _candidates + _rescore_queries vs the default path
    want_rr = sorted(map(key, ivf_pq_topk_rerank(
        index, q, cents, cb, emb, k=5, nprobe=6, rerank_factor=5, exclude_self=True
    ).collect()))
    got_rr = ivf_pq_topk_rerank(
        index, q, cents, cb, lists.select("vec_id", "embedding"),
        k=5, nprobe=6, rerank_factor=5, exclude_self=True,
        _candidates=nom.select("query_id", "vec_id"),
        _rescore_queries=sloc.where(F.col("_rnk") == 1).select(
            "query_id", "_qvec", F.col("_n").alias("_qn")
        ),
    )
    assert sorted(map(key, got_rr.collect())) == want_rr
