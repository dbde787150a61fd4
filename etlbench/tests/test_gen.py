"""Seeded input generators: determinism, declared keys, change mix."""

import hashlib
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            h.update(repr(pq.read_table(os.path.join(root, f)).to_pylist()).encode())
    return h.hexdigest()


def test_star_schema_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.star_schema(a, 7, 0.001, documents=50)
    gen.star_schema(b, 7, 0.001, documents=50)
    gen.star_schema(c, 8, 0.001, documents=50)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert pq.read_table(f"{a}/documents.parquet").num_rows == 50


def test_star_schema_keys_and_domains(tmp_path):
    d = str(tmp_path)
    s = gen.star_schema(d, 3, 0.001)
    for t, k in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        col = pq.read_table(f"{d}/{t}.parquet")[k]
        assert pc.count_distinct(col).as_py() == len(col)
    lines = pq.read_table(f"{d}/lineitem.parquet")
    assert lines.num_rows == s.lineitem
    assert pc.max(lines["l_orderkey"]).as_py() < s.orders
    emb = pq.read_table(f"{d}/embeddings.parquet")["embedding"].to_pylist()
    assert {len(v) for v in emb} == {gen.EMBED_DIMS}


def test_daily_snapshots_merge_mix(tmp_path):
    base, days_root = str(tmp_path / "base"), str(tmp_path / "days")
    gen.star_schema(base, 5, 0.002)
    days = gen.day_names("2001-08-02", 3)
    snaps = list(gen.daily_snapshots(base, days_root, 5, days))
    assert [os.path.basename(s) for s in snaps] == days

    prev_cust, prev_orders = None, None
    for snap in snaps:
        cust = pq.read_table(f"{snap}/customer.parquet")
        orders = pq.read_table(f"{snap}/orders.parquet")
        for t, k in ((cust, "c_custkey"), (orders, "o_orderkey")):
            assert pc.count_distinct(t[k]).as_py() == t.num_rows  # dup gate passes
        if prev_cust is not None:
            ids = set(cust["c_custkey"].to_pylist())
            before = {r["c_custkey"]: r for r in prev_cust.to_pylist()}
            now = {r["c_custkey"]: r for r in cust.to_pylist()}
            assert ids - set(before)  # inserted keys
            assert set(before) - ids  # untouched: absent from today's feed
            assert any(now[k] != before[k] for k in ids & set(before))  # re-valued
            # new orders keyed past yesterday's maximum; history kept
            new = set(orders["o_orderkey"].to_pylist()) - set(prev_orders["o_orderkey"].to_pylist())
            assert new and min(new) > pc.max(prev_orders["o_orderkey"]).as_py()
            assert orders.num_rows > prev_orders.num_rows
        prev_cust, prev_orders = cust, orders


def test_daily_snapshots_are_seeded(tmp_path):
    base = str(tmp_path / "base")
    gen.star_schema(base, 5, 0.001)
    days = gen.day_names("2001-08-02", 2)
    a = list(gen.daily_snapshots(base, str(tmp_path / "a"), 5, days))
    b = list(gen.daily_snapshots(base, str(tmp_path / "b"), 5, days))
    assert [_digest(x) for x in a] == [_digest(x) for x in b]


def test_dedup_stream_shares_and_repeats():
    s = gen.DedupStream(11, corpus_size=200, increment_size=40)
    for _ in range(10):
        s.next_increment()
    texts = s.corpus["text"].to_pylist()
    ids = s.corpus["doc_id"].to_pylist()
    kinds = {"fresh": 0, "repeat": 0}
    for inc, reps in zip(s.increments, s.repeat_ids):
        inc_ids = inc["doc_id"].to_pylist()
        assert inc_ids[0] == ids[-1] + 1  # globally monotone ids
        for doc_id, text in zip(inc_ids, inc["text"].to_pylist()):
            if doc_id in reps:
                assert text in texts  # exact repeat of an indexed text
                kinds["repeat"] += 1
            elif text not in texts:
                kinds["fresh"] += 1
        texts += inc["text"].to_pylist()
        ids += inc_ids
    n = 10 * 40
    assert 0.1 < kinds["repeat"] / n < 0.3
    assert kinds["fresh"] / n > 0.6  # fresh docs plus most near-dup edits
    again = gen.DedupStream(11, corpus_size=200, increment_size=40)
    for _ in range(4):
        again.next_increment()
    assert again.increments[3].equals(s.increments[3])


def test_near_dup_edits_one_word():
    import numpy as np

    rng = np.random.default_rng(0)
    t = gen.doc_text(rng)
    e = gen.near_dup(rng, t)
    a, b = t.split(), e.split()
    assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1


def test_daily_snapshots_are_made_on_demand(tmp_path):
    base, root = str(tmp_path / "base"), str(tmp_path / "days")
    gen.star_schema(base, 5, 0.001)
    days = gen.day_names("2001-08-02", 3)
    it = gen.daily_snapshots(base, root, 5, days)
    assert not os.path.exists(root)
    next(it)
    assert os.listdir(root) == [days[0]]
