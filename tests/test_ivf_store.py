"""Persisted IVF index kind (round-10: IVF/IVF-PQ serving unified under
the index store).  The bar the three dedup kinds already meet:

1. serve parity — the pfx-pruned store serve returns EXACTLY what the
   ad-hoc DataFrame path returns (pruning only skips buckets no probed
   list hashes into);
2. sidecar pinning — nlist/codec/id-type mismatches raise loudly; the
   quantizers (coarse centroids, PQ codebooks) always come from the
   sidecar;
3. generation-pointer crash windows — pointer loss falls back
   passively, retraction works, debris is reaped.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix
from meta_morph_etl_databricks_spark.operators.quantize import (
    ivf_pq_index,
    ivf_pq_topk,
    ivf_pq_topk_rerank,
    pq_codebooks_from_codes,
    quantize_int8,
)
from meta_morph_etl_databricks_spark.operators.similarity import (
    ivf_centroids,
    ivf_topk,
)

DIMS = 16
SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(11)
    rows = []
    for i in range(120):
        base = [rng.uniform(-1, 1) for _ in range(DIMS)]
        rows.append((i, base))
    return spark.createDataFrame(rows, SCHEMA).localCheckpoint()


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (
        emb.where("vec_id % 37 = 0")
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint()
    )


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, r.cosine_sim) for r in df.collect()
    )


def test_float_serve_matches_adhoc_path(spark, emb, queries, tmp_path):
    path = str(tmp_path / "ivf")
    meta = ix.create_ivf_index(emb, path, nlist=8)
    assert meta["nlist"] == 8 and meta["codec"] == "float"
    cents = ivf_centroids(emb, 8)
    assert ix._ivf_centroids_from_meta(meta) == cents  # sidecar pins them
    want = _rows(ivf_topk(emb, queries, cents, k=5, nprobe=3))
    got = _rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3))
    assert got == want and len(got) == 5 * queries.count()


def test_pq_serve_and_rerank_match_adhoc_path(spark, emb, queries, tmp_path):
    path = str(tmp_path / "ivfpq")
    meta = ix.create_ivf_index(emb, path, nlist=8, codec="pq", m=4, ksub=8)
    cents = ivf_centroids(emb, 8)
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    cb = pq_codebooks_from_codes(codes, m=4, ksub=8)
    assert meta["pq"]["codebooks"] == cb
    adhoc = ivf_pq_index(emb, cents, cb)
    want = _rows(ivf_pq_topk(adhoc, queries, cents, cb, k=5, nprobe=3))
    got = _rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3))
    assert got == want
    want_rr = _rows(
        ivf_pq_topk_rerank(adhoc, queries, cents, cb, emb, k=5, nprobe=3)
    )
    got_rr = _rows(
        ix.serve_ivf_topk(queries, path, k=5, nprobe=3, rerank_embeddings=emb)
    )
    assert got_rr == want_rr


def test_sidecar_validation_and_kind_cross_checks(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb, path, nlist=8)
    df, meta = ix.open_ivf_index(spark, path, nlist=8, codec="float")
    assert df.count() == 120
    with pytest.raises(ValueError, match="different parameters"):
        ix.open_ivf_index(spark, path, nlist=16)
    with pytest.raises(ValueError, match="different parameters"):
        ix.open_ivf_index(spark, path, codec="pq")
    with pytest.raises(ValueError, match="kind"):
        ix.open_band_index(spark, path)
    with pytest.raises(ValueError, match="unknown codec"):
        ix.create_ivf_index(emb, str(tmp_path / "bad"), codec="int4")
    # id-type pinning on the rerank join-back
    wrong = emb.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    pqp = str(tmp_path / "pq")
    ix.create_ivf_index(emb, pqp, nlist=8, codec="pq", m=4, ksub=8)
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="rebuild the index or align"):
        ix.serve_ivf_topk(q, pqp, k=3, rerank_embeddings=wrong)


def test_append_then_serve_finds_new_vectors(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb.where("vec_id < 100"), path, nlist=8)
    inc = emb.where("vec_id >= 100")
    ix.append_ivf_vectors(inc, path)
    q = inc.select(F.col("vec_id").alias("query_id"), "embedding")
    got = ix.serve_ivf_topk(q, path, k=1, nprobe=2)
    # every appended vector's own top-1 is itself (cosine 1.0)
    assert sorted((r.query_id, r.vec_id) for r in got.collect()) == [
        (i, i) for i in range(100, 120)
    ]
    with pytest.raises(ValueError, match="rebuild the index or align"):
        ix.append_ivf_vectors(
            inc.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding"), path
        )


def test_empty_corpus_degrades_to_empty_serves(spark, emb, queries, tmp_path):
    """Drained-corpus degradation, store edition (the registry-query
    sweep in test_degenerate.py does not reach the store): an index
    created over zero rows serves empty results instead of raising, on
    both codecs' query paths."""
    path = str(tmp_path / "ivf0")
    meta = ix.create_ivf_index(emb.limit(0), path, nlist=8)
    assert meta["nlist"] == 0 and meta["centroids"] == []
    got = ix.serve_ivf_topk(queries, path, k=5, nprobe=3)
    assert got.count() == 0
    assert {f.name for f in got.schema.fields} >= {"query_id", "vec_id", "cosine_sim"}


def test_pointer_crash_and_retraction(spark, emb, queries, tmp_path):
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb, path, nlist=8)
    live0 = ix.live_root(spark, path)
    base = _rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3))

    # pointer lost: passive fallback serves identically; recovery re-points
    os.remove(f"{path}/{ix.CURRENT_FILE}")
    assert _rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3)) == base
    assert ix.recover_compaction(spark, path) == "restored"
    assert ix.live_root(spark, path) == live0

    # retraction: a retracted vector disappears from every serve
    victim = base[0][1]
    assert ix.retract_ids(spark, path, [victim]) == 1
    after = _rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3))
    assert victim not in {vid for _, vid, _ in after}
    assert len(after) == len(base)  # k refills from the remaining corpus
    # compaction works on the kind (schema registry covers it)
    ix.compact_index(spark, path)
    assert len(_rows(ix.serve_ivf_topk(queries, path, k=5, nprobe=3))) == len(base)


def test_retrain_matches_fresh_bootstrap_float(spark, emb, queries, tmp_path):
    """The IVF parity contract (float codec): retrain over the index's
    own stored vectors ≡ create_ivf_index over the full corpus at the
    same dials — identical codebook, n_buckets, counters, and serve
    results (same deterministic lowest-id seed rule, same assignment
    kernel, exact vectors stored so no corpus re-read is needed)."""
    pa = str(tmp_path / "grown")
    ix.create_ivf_index(emb.where("vec_id < 60"), pa, nlist=7)
    ix.append_ivf_vectors(emb.where("vec_id >= 60"), pa)
    meta_a = ix.retrain_ivf_index(spark, pa)

    pb = str(tmp_path / "fresh")
    meta_b = ix.create_ivf_index(emb, pb)  # auto_nlist(120) = 16 floor
    for key in ("nlist", "centroids", "n_buckets", "rows", "bootstrap_rows"):
        assert meta_a[key] == meta_b[key], key
    got = _rows(ix.serve_ivf_topk(queries, pa, k=5, nprobe=3))
    want = _rows(ix.serve_ivf_topk(queries, pb, k=5, nprobe=3))
    assert got == want and len(got) == 5 * queries.count()


def test_retrain_dial_fires_and_clears(spark, emb, tmp_path):
    """Growth dial story: appends past drift_factor²× the codebook's
    √-rule capacity fire the dial; retrain re-sizes nlist to the grown
    corpus and the dial clears.  The counter survives crash-lossy
    _rows deletion by degrading to the sidecar count (late, not
    wrong)."""
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb.where("vec_id < 20"), path, nlist=4)
    assert not ix.ivf_retrain_due(spark, path, drift_factor=2.0)  # 20 < 64
    ix.append_ivf_vectors(emb.where("vec_id >= 20"), path)
    assert ix.read_index_meta(spark, path)["rows"] == 120
    assert ix.ivf_retrain_due(spark, path, drift_factor=2.0)  # 120 > 64
    meta = ix.retrain_ivf_index(spark, path)
    assert meta["nlist"] == 16 and meta["rows"] == 120  # auto_nlist floor
    assert not ix.ivf_retrain_due(spark, path, drift_factor=2.0)
    with pytest.raises(ValueError, match="no IVF index"):
        ix.ivf_retrain_due(spark, str(tmp_path / "nope"))


def test_retrain_pq_from_stored_codes(spark, emb, queries, tmp_path):
    """PQ codec retrain without the corpus: the coarse codebook is
    re-trained over RECONSTRUCTED vectors, stored codes stay valid
    (only list membership changes), and the serve keeps finding every
    vector's own top-1 — recall preserved, PQ codebooks untouched."""
    path = str(tmp_path / "ivfpq")
    boot = ix.create_ivf_index(
        emb.where("vec_id < 60"), path, nlist=4, codec="pq", m=4, ksub=8
    )
    ix.append_ivf_vectors(emb.where("vec_id >= 60"), path)
    meta = ix.retrain_ivf_index(spark, path)
    assert meta["nlist"] == 16 and meta["codec"] == "pq"
    assert meta["pq"]["codebooks"] == boot["pq"]["codebooks"]  # codes kept
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    got = ix.serve_ivf_topk(q, path, k=1, nprobe=16, rerank_embeddings=emb)
    assert sorted((r.query_id, r.vec_id) for r in got.collect()) == [
        (i, i) for i in range(120)
    ]


def test_append_dedupe_redelivery(spark, emb, tmp_path):
    """The optional idempotent-ingest contract (round-10 advice: the
    default single-writer/no-redelivery path was implicit): a retried
    append with dedupe_redelivery=True is a no-op — no duplicate rows,
    so no top-k slot is double-occupied."""
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb.where("vec_id < 100"), path, nlist=8)
    inc = emb.where("vec_id >= 100")
    ix.append_ivf_vectors(inc, path, dedupe_redelivery=True)
    ix.append_ivf_vectors(inc, path, dedupe_redelivery=True)  # redelivery
    df, meta = ix.open_ivf_index(spark, path)
    assert df.count() == 120 and meta["rows"] == 120
    got = ix.serve_ivf_topk(
        inc.select(F.col("vec_id").alias("query_id"), "embedding"), path, k=2, nprobe=3
    )
    pairs = [(r.query_id, r.vec_id) for r in got.collect()]
    assert len(pairs) == len(set(pairs))  # no duplicate neighbor slots


def test_empty_bootstrap_heals_via_retrain(spark, emb, queries, tmp_path):
    """An index created over zero rows (empty codebook, zero lists)
    reports retrain-due as soon as rows arrive; the retrain gives it a
    real codebook and the serve comes alive."""
    path = str(tmp_path / "ivf0")
    ix.create_ivf_index(emb.limit(0), path, nlist=8)
    assert not ix.ivf_retrain_due(spark, path)  # nothing there yet
    ix.append_ivf_vectors(emb, path)
    assert ix.ivf_retrain_due(spark, path)  # any rows beat zero lists
    meta = ix.retrain_ivf_index(spark, path)
    assert meta["nlist"] == 16
    got = ix.serve_ivf_topk(queries, path, k=5, nprobe=3)
    assert got.count() == 5 * queries.count()


def test_serve_hot_list_plan_is_broadcast_and_correct(spark, tmp_path):
    """Hot-LIST skew guard (round-10 verdict task 5): with 90% of the
    corpus in ONE inverted list (bootstrap codebook frozen on a uniform
    slice, then a tight cluster appended), the serve must not hand the
    hot list to a shuffle join — the probe side (queries×nprobe rows)
    is BROADCAST, so the hot list streams through file-split
    parallelism and no single task owns 90% of the rows.  The plan is
    the guard; BENCH_SCALE.json `ivf_hot_skew` measured the hot
    serve against a natural corpus at the same size/dials.

    Deliberately NOT asserted: that a retrain "fixes" the occupancy.
    It cannot — 1%-noise copies are mutually near, so ANY coarse
    quantizer keeps them in one cell (measured: lowest-id seeds leave
    the hot fraction at 0.90 after retrain), and a query near the
    cluster legitimately has ~0.9n near neighbors.  The scale-correct
    mitigation is upstream near-dup dedup (the engine's embedding-LSH
    / SemDeDup family); retrain's real job is the GROWTH drift case
    (test_retrain_matches_fresh_bootstrap; BENCH_SCALE.json `ivf_retrain`)."""
    rng = random.Random(5)
    uniform = [(i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in range(24)]
    anchor = uniform[0][1]
    hot = [
        (100 + i, [a + 0.01 * rng.uniform(-1, 1) for a in anchor]) for i in range(216)
    ]
    u_df = spark.createDataFrame(uniform, SCHEMA)
    h_df = spark.createDataFrame(hot, SCHEMA)
    path = str(tmp_path / "ivfhot")
    ix.create_ivf_index(u_df, path, nlist=8)
    ix.append_ivf_vectors(h_df, path)

    # the plant worked: one list holds >=85% of the corpus
    live, meta = ix.live_index(spark, path)
    occ = (
        spark.read.schema(ix._ivf_schema(meta)).parquet(live)
        .groupBy("centroid_id").count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    assert occ.mx / occ.n >= 0.85, (occ.mx, occ.n)

    qs = h_df.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    served = ix.serve_ivf_topk(qs, path, k=5, nprobe=2, exclude_self=True)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the inverted-list join keys on centroid_id with the PROBE side
    # broadcast — never a shuffle join whose build/stream partitioning
    # keys on the skewed centroid_id
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan
    # the only nested-loop is the query×codebook centroid ranking
    # (bounded: |queries|·nlist tiny rows) — same rule as
    # test_plan_audit: a Cross-typed BNLJ would be an accident
    crosses = [
        b.splitlines()[0]
        for b in plan.split("BroadcastNestedLoopJoin")[1:]
        if "Cross" in b.splitlines()[0]
    ]
    assert not crosses, plan
    got = {r.query_id: r for r in served.groupBy("query_id").count().collect()}
    assert len(got) == 4 and all(r["count"] == 5 for r in got.values())

    # correctness under the hot list: the served top-k for a hot query
    # matches brute force over the probed mass (the hot list holds the
    # true neighbors, so recall@5 is exact here)
    from meta_morph_etl_databricks_spark.operators.similarity import cosine_topk

    all_df = u_df.unionByName(h_df)
    truth = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(all_df, qs, k=5, exclude_self=True).collect()
    }
    got_pairs = {(r.query_id, r.vec_id) for r in served.collect()}
    assert len(got_pairs & truth) / len(truth) >= 0.95, (got_pairs, truth)

    # and the lifecycle ops stay valid on the skewed index
    meta2 = ix.retrain_ivf_index(spark, path)
    assert meta2["nlist"] >= meta["nlist"]
    assert ix.serve_ivf_topk(qs, path, k=5, nprobe=2).count() == 20


def test_stream_ivf_ingest_lifecycle(spark, tmp_path):
    """The r11 streaming ingest sink: first batch bootstraps the
    codebook, later batches append against the stored quantizers with
    redelivery dedup, tombstoned ids resurrect on re-ingest, and
    retrain_when_due rebuilds the codebook between triggers once the
    corpus outgrows the bootstrap."""
    from meta_morph_etl_databricks_spark.streaming.dedup import stream_ivf_ingest

    rng = random.Random(7)

    def vecs(ids):
        return [(i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in ids]

    src = tmp_path / "ivsrc"
    src.mkdir()
    path = str(tmp_path / "ividx")
    ckpt = str(tmp_path / "ivckpt")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
        q = stream_ivf_ingest(
            stream, path, ckpt,
            retrain_when_due=True, drift_factor=1.0,  # forced-low dial
        )
        q.awaitTermination(120)

    spark.createDataFrame(vecs(range(40)), SCHEMA).write.parquet(str(src / "b1"))
    run_once()
    live, meta = ix.live_index(spark, path)
    assert meta["kind"] == ix.IVF_KIND and meta["rows"] == 40
    nlist1 = meta["nlist"]

    # redelivery: 10 old ids + 30 new — seen filter drops the replays
    spark.createDataFrame(
        vecs(range(30, 70)), SCHEMA
    ).write.parquet(str(src / "b2"))
    ix.tombstone_ids(spark, path, [5])
    run_once()
    live, meta = ix.live_index(spark, path)
    stored = spark.read.schema(ix._ivf_schema(meta)).parquet(live)
    assert stored.count() == 70  # no duplicate rows from ids 30..39
    assert meta["rows"] == 70
    # growth 40 -> 70 with drift_factor=1.0: the retrain fired and
    # re-sized nlist to the grown corpus (sqrt(70) > 1.0 * nlist1)
    assert meta["nlist"] >= nlist1
    assert not ix.ivf_retrain_due(spark, path, drift_factor=1.0)
    # id 5 was tombstoned and NOT re-ingested: still hidden
    df, _ = ix.open_ivf_index(spark, path)
    assert df.where("vec_id = 5").isEmpty()

    # resurrection: re-deliver id 5's content in a fresh batch — the
    # tombstone masks its seen entry, the ingest clears the tombstone
    spark.createDataFrame(vecs([5]), SCHEMA).write.parquet(str(src / "b3"))
    run_once()
    df, _ = ix.open_ivf_index(spark, path)
    assert df.where("vec_id = 5").count() >= 1

    # the store serves: every query gets k rows
    qs = (
        spark.createDataFrame(vecs(range(60, 64)), SCHEMA)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assert ix.serve_ivf_topk(qs, path, k=5, nprobe=3).count() == 20


def test_stream_ivf_crash_between_meta_and_pointer_flip(spark, tmp_path, monkeypatch):
    """r14 verdict task 3: the streaming ingest's torn-commit window.
    Kill the foreachBatch INSIDE compaction, after the new generation's
    data + meta sidecar landed but before the pointer flip — the exact
    'complete but unpointed' state `_finish_generation` can strand.

    Contract under test: (1) the crashed stream leaves the pointer on
    the pre-crash generation and the index still SERVES it; (2) the
    restarted stream reaps the orphan generation, replays the
    uncommitted batch through the seen-id redelivery dedup without
    duplicating rows, and converges to the clean-run state."""
    from meta_morph_etl_databricks_spark.streaming.dedup import stream_ivf_ingest

    rng = random.Random(21)

    def vecs(ids):
        return [(i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in ids]

    src = tmp_path / "crsrc"
    src.mkdir()
    path = str(tmp_path / "cridx")
    ckpt = str(tmp_path / "crckpt")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
        q = stream_ivf_ingest(stream, path, ckpt, compact_every=1)
        q.awaitTermination(120)
        return q

    # batch 0: bootstrap + first compaction, clean
    spark.createDataFrame(vecs(range(40)), SCHEMA).write.parquet(str(src / "b1"))
    run_once()
    live_before, meta = ix.live_index(spark, path)
    assert meta["kind"] == ix.IVF_KIND

    # batch 1: the append lands (data + seen marker), then compaction
    # builds gen N+1 fully (meta included) and dies ON the pointer flip
    real_flip = ix._install_pointer

    def torn_flip(spark_, root, gen):
        raise RuntimeError("injected crash: power loss before pointer flip")

    spark.createDataFrame(vecs(range(40, 80)), SCHEMA).write.parquet(str(src / "b2"))
    monkeypatch.setattr(ix, "_install_pointer", torn_flip)
    with pytest.raises(Exception, match="injected crash"):
        run_once()
    monkeypatch.setattr(ix, "_install_pointer", real_flip)

    # (1) pre-crash generation still live and SERVING; the half-committed
    # generation is complete on disk but not pointed at
    live_after, meta_after = ix.live_index(spark, path)
    assert live_after == live_before
    orphans = [
        g for g in ix._complete_gens(spark, path)
        if f"{path.rstrip('/')}/{g}" != live_after
    ]
    assert orphans, "compaction should have left a complete unpointed gen"
    qs = (
        spark.createDataFrame(vecs(range(90, 94)), SCHEMA)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assert ix.serve_ivf_topk(qs, path, k=5, nprobe=3).count() == 20

    # (2) restart: batch 1 replays (foreachBatch never committed), the
    # seen-id sidecar drops the redelivered rows, recovery reaps the
    # orphan, compaction re-runs and flips
    run_once()
    live_final, meta_final = ix.live_index(spark, path)
    assert live_final != live_before  # the re-run compaction flipped
    stored = spark.read.schema(ix._ivf_schema(meta_final)).parquet(live_final)
    assert stored.count() == 80  # no duplicate rows from the replay
    assert stored.select("vec_id").distinct().count() == 80
    # the orphaned mid-crash generation is gone (live + one predecessor
    # retained per the MVCC grace rule; nothing newer than live remains)
    gens = ix._complete_gens(spark, path)
    assert all(f"{path.rstrip('/')}/{g}" <= live_final for g in gens)
    assert ix.serve_ivf_topk(qs, path, k=5, nprobe=3).count() == 20
