"""One benchmark run, in a fresh process started by ``run.py``.

    python3 etlbench/worker.py --workload W --seed N --seconds S --trace 0|1
                               --run-dir DIR --result FILE

Order of a run: make the seeded inputs (untimed); start the session and
do the program-side set-up ``SETUP_REPEATS`` times (``setup_s``); run
whole units of work, closed loop with one client, until ``--seconds``
have passed (``unit_s``); compute the references and check every
completed op against them (untimed); write the result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

SETUP_REPEATS = 3

# query_mix inputs: TPC-H-style sf0.005 facts; the text and vector tables
# are kept small so their DuckDB references (quadratic pair searches)
# stay a few seconds per run
QUERY_SF = 0.005
QUERY_DOCS = 120
QUERY_EMBEDDINGS = 200
# The measured panel: a fixed subset of the registered queries, the same
# in every run (only the order is seeded), so runs with different seeds
# measure the same work.  Every plan module is represented; the rest of
# the registry does not fit the run budget (a cold pass over all 50 takes
# about 65 s on 4 cores), and q_corpus_curation / q_dedup_ngram_jaccard
# are out because their DuckDB references alone take 6-17 s per run.
PANEL = (
    "q_customer_metrics",  # marts
    "q_customer_sales_report",
    "q_sql_revenue_by_region",  # analyst_sql
    "q_sql_top_selling_supplier_products",
    "q_sql_average_order_value",
    "q_distinct_status",  # operator_queries
    "q_set_ops",
    "q_window_family",
    "q_reconcile_summary",  # quality_queries
    "q_events_session",  # streaming_queries
    "q_multimodal_features",  # multimodal_queries
    "q_text_profile",  # ml_queries
    "q_train_prep",
    "q_dedup_simhash_hamming",
)
# registered queries that raise NameError in localrel.literal_frame at
# this revision; they are probed once after the measured window, untimed
KNOWN_CRASHES = ("q_skewed_join", "q_embed_near_dup_lsh", "q_similarity_ivf_topk")
ML_MODULES = ("ml_queries", "multimodal_queries")

# daily_etl inputs.  Day 0 runs untimed to seed history, marts and
# current/; the measured days follow it.  Snapshots and increments are
# made on demand, so a run generates only the days it runs.
ETL_SF = 0.02
ETL_FIRST_DAY = "2001-08-01"
ETL_MAX_DAYS = 32
DEDUP_CORPUS = 600
DEDUP_PER_DAY = 3  # increments served after each pipeline day
DEDUP_INCREMENT = 20  # docs per increment
COMPACT_EVERY = 3  # appends between compactions (compact_due's dial)


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile (failed ops are +inf and sort last)."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.data = os.path.join(args.run_dir, "data")
        self.out = os.path.join(args.run_dir, "out")
        self.tracer = None
        self.spark = None
        self.ops: list[tuple[str, float]] = []  # (kind, seconds | inf)
        self.wrong: list[str] = []
        self.info: dict = {}
        self.layer_extra: dict = {}  # index gauges for the traced run

    # ------------------------------------------------------------ plumbing
    def start_session(self) -> float:
        if self.args.trace:
            self.tracer = tracing.Tracer()
            tracing.install(self.tracer)
        from meta_morph_etl_databricks_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(f"etlbench-{self.args.workload}")
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def op(self, kind: str, fn):
        """Time one op; a raised exception is a failed op (+inf)."""
        tracer = self.tracer
        if tracer:
            tracer.begin_op(self.spark.sparkContext)
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:
            log(f"op {kind} failed:\n{traceback.format_exc()}")
            out, ok = None, False
        dt = time.perf_counter() - t0
        if tracer:
            tracer.end_op()
        self.ops.append((kind, dt if ok else math.inf))
        return ok, out, dt

    def span(self, name: str, fn, *a):
        return self.tracer.span(name, fn, *a) if self.tracer else fn(*a)

    def check(self, what: str, errs: list[str]) -> None:
        if errs:
            self.wrong.append(what)
            log(f"WRONG {what}: " + " | ".join(errs[:3]))

    def result(self, metrics: dict) -> dict:
        failed = sum(1 for _, t in self.ops if math.isinf(t))
        return {
            "correct": not self.wrong,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": metrics,
        }


def _setup(run: Run, program_setup, prepare=None) -> float:
    """Session start plus the median of SETUP_REPEATS program set-ups.

    ``prepare`` runs between the two, untimed and in no metric."""
    session_s = run.start_session()
    if prepare is not None:
        prepare()
    reps = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        program_setup(i)
        reps.append(time.perf_counter() - t0)
    run.info["setup_repeats_s"] = [round(x, 4) for x in reps]
    run.info["setup_total_s"] = session_s + sum(reps)
    run.info["session_s"] = round(session_s, 4)
    return session_s + statistics.median(reps)


# ------------------------------------------------------------ query_mix


def query_mix(run: Run) -> dict:
    from meta_morph_etl_databricks_spark.plans import ORACLES, query_fns
    from meta_morph_etl_databricks_spark.plans.marts import supplier_performance

    args = run.args
    gen.star_schema(
        run.data, args.seed, QUERY_SF, documents=QUERY_DOCS, embeddings=QUERY_EMBEDDINGS
    )
    fns = query_fns()
    panel = list(PANEL)
    rng = random.Random(args.seed)

    def warm_up(i: int) -> None:
        supplier_performance(run.spark, run.data).collect()

    setup_s = _setup(run, warm_up)

    got = {}
    t_start = time.perf_counter()
    passes = []
    while not passes or time.perf_counter() - t_start < args.seconds:
        order = panel[:]
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            fn = fns[name]
            mod = fn.__module__.rsplit(".", 1)[-1]

            def one(fn=fn, mod=mod):
                df = run.span(f"plans.{mod}.build", fn, run.spark, run.data)
                return df, run.span(f"plans.{mod}.collect", df.collect)

            ok, out, dt = run.op("ml" if mod in ML_MODULES else "bi", one)
            run.info.setdefault("op_s", {}).setdefault(name, []).append(round(dt, 3))
            if ok:
                got.setdefault(name, []).append((out[0].columns, out[1]))
        passes.append(time.perf_counter() - t_pass)

    # known crashes: probed once, outside the measured window
    still_crashing = 0
    for name in KNOWN_CRASHES:
        try:
            df = fns[name](run.spark, run.data)
            got.setdefault(name, []).append((df.columns, df.collect()))
        except Exception as e:
            still_crashing += 1
            log(f"known crash {name}: {type(e).__name__}: {e}")

    # references, untimed: DuckDB with Spark's rounding rule
    t_ref = time.perf_counter()
    stats = oracle.RoundStats()
    probe_dir = os.path.join(run.data, "probe")
    gen.star_schema(probe_dir, args.seed, 0.0005, documents=30, embeddings=30)
    probe = oracle.connect(probe_dir, gen.TABLES, oracle.RoundStats())
    con = oracle.connect(run.data, gen.TABLES, stats)
    rewritten = 0
    for name, results in got.items():
        sql, k = oracle.spark_rounding(con, ORACLES[name], probe)
        cur = con.execute(sql)
        want = ([d[0] for d in cur.description], cur.fetchall())
        rewritten += k
        for cols, rows in results:
            run.check(name, oracle.compare(cols, rows, *want))
    con.close()
    probe.close()
    run.info.update(
        reference_s=round(time.perf_counter() - t_ref, 2),
        passes=len(passes),
        panel=len(panel),
        known_crashes=still_crashing,
        round_calls_rewritten=rewritten,
        round_ties=stats.ties,
        round_ties_flipped=stats.flips,
    )

    bi = [t for k, t in run.ops if k == "bi"]
    ml = [t for k, t in run.ops if k == "ml"]
    lat = [t for _, t in run.ops]
    failed_per_pass = sum(math.isinf(t) for t in lat) / len(passes) + still_crashing
    run.info["named"] = {
        "bi_ops": (len(bi), "count"),
        "ml_ops": (len(ml), "count"),
        "bi_query_s_p50": (pct(bi, 50), "s"),
        "bi_query_s_p75": (pct(bi, 75), "s"),
        "ml_query_s_p50": (pct(ml, 50), "s"),
        "error_rate": (failed_per_pass / len(fns), "failed/attempted"),
        "op_s_p50": (pct(lat, 50), "s"),
        "op_s_p90": (pct(lat, 90), "s"),
        "setup_s": (setup_s, "s"),
    }
    return {"setup_s": setup_s, "unit_s": statistics.median(passes)}


# ------------------------------------------------------------ daily_etl


def daily_etl(run: Run) -> dict:
    from meta_morph_etl_databricks_spark.operators import index_store
    from meta_morph_etl_databricks_spark.plans import ORACLES, pipeline
    from meta_morph_etl_databricks_spark.sources.sinks import merge_upsert

    args = run.args
    base = os.path.join(run.data, "base")
    gen.star_schema(base, args.seed, ETL_SF)
    snaps = gen.daily_snapshots(
        base, os.path.join(run.data, "days"), args.seed,
        gen.day_names(ETL_FIRST_DAY, ETL_MAX_DAYS),
    )
    stream = gen.DedupStream(args.seed, DEDUP_CORPUS, DEDUP_INCREMENT)
    docs_dir = os.path.join(run.data, "docs")
    os.makedirs(docs_dir)
    corpus = os.path.join(docs_dir, "corpus.parquet")
    gen.write(stream.corpus, corpus)

    index = os.path.join(run.out, "index")

    def build_index(i: int) -> None:
        # every repeat builds a fresh index; the last one is served
        path = index if i == SETUP_REPEATS - 1 else f"{index}-setup{i}"
        index_store.create_band_index(run.spark.read.parquet(corpus), path)

    etl = os.path.join(run.out, "etl")
    day0 = next(snaps)

    def seed_current() -> None:
        """Day 0, untimed and in no metric: run_daily's own MERGE step
        (a first load) fills current/customer_metrics from day 0's
        snapshot, so every measured day's MERGE meets matched, inserted
        and untouched keys."""
        t0 = time.perf_counter()
        cm = pipeline.MART_FNS["customer_metrics"](run.spark, day0)
        merge_upsert(
            run.spark, f"{etl}/current/customer_metrics", cm, keys=["customer_id"]
        ).unpersist()
        run.info["seed_current_s"] = round(time.perf_counter() - t0, 3)

    setup_s = _setup(run, build_index, seed_current)
    spark = run.spark
    ran, done_days = [day0], [day0]

    day_s, rows_in, served, accepted = [], 0, [], {}
    inc_paths: list[str] = []
    compact_s, compactions, units = 0.0, 0, []
    while not units or sum(units) < args.seconds:
        snap = next(snaps, None)
        if snap is None:
            break
        ran.append(snap)
        day = os.path.basename(snap)
        first_inc = len(inc_paths)
        for _ in range(DEDUP_PER_DAY):
            inc_paths.append(os.path.join(docs_dir, f"inc{len(inc_paths):03d}.parquet"))
            gen.write(stream.next_increment(), inc_paths[-1])

        t_unit = time.perf_counter()
        ok, stats, dt = run.op(
            "etl_day", lambda: pipeline.run_daily(spark, snap, etl, day)
        )
        run.info.setdefault("op_s", []).append(("etl_day", round(dt, 3)))
        if ok:
            day_s.append(dt)
            done_days.append(snap)
            rows_in += sum(stats[t] for t in pipeline.INGEST_TABLES)
        for i in range(first_inc, len(inc_paths)):

            def serve(i=i):
                res = index_store.serve_incremental_dedup(
                    spark.read.parquet(inc_paths[i]), index, append=True
                )
                return [r.doc_id for r in res.accepted.select("doc_id").collect()]

            ok, ids, dt = run.op("serve", serve)
            run.info["op_s"].append(("serve", round(dt, 3)))
            if ok:
                served.append((i, dt))
                accepted[i] = ids
            t0 = time.perf_counter()
            try:
                if index_store.compact_due(spark, index, max_appends=COMPACT_EVERY):
                    run.op("compact", lambda: index_store.compact_index(spark, index))
                    compactions += 1
            except Exception:
                log(f"compaction check failed:\n{traceback.format_exc()}")
                run.ops.append(("compact", math.inf))
            compact_s += time.perf_counter() - t0
        units.append(time.perf_counter() - t_unit)
    n_inc = len(inc_paths)
    t_ref = time.perf_counter()

    # ---- references, untimed

    stats = oracle.RoundStats()
    current: dict = {}
    cm_cols = None
    mart_sql: dict[str, str] = {}  # argument types do not change by day
    merge_mix = []
    for d, snap in enumerate(done_days):
        day = os.path.basename(snap)
        con = oracle.connect(snap, gen.INGEST_TABLES, stats)
        # day 0 wrote only current/customer_metrics
        for name in pipeline.MART_FNS if d else ("customer_metrics",):
            if name not in mart_sql:
                mart_sql[name] = oracle.spark_rounding(con, ORACLES[f"q_{name}"])[0]
            cur = con.execute(mart_sql[name])
            cols, rows = [c[0] for c in cur.description], cur.fetchall()
            part = os.path.join(etl, "marts", name, f"day_dt={day}")
            if d:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{part}/*.parquet', hive_partitioning = false)"
                )
                run.check(
                    f"{day} marts.{name}",
                    oracle.compare([c[0] for c in got.description], got.fetchall(), cols, rows),
                )
            if name == "customer_metrics":
                cm_cols = cols
                key = cols.index("customer_id")
                keys = {r[key] for r in rows}
                if d:
                    mix = {
                        "matched": len(keys & current.keys()),
                        "inserted": len(keys - current.keys()),
                        "untouched": len(current.keys() - keys),
                    }
                    merge_mix.append(mix)
                    # the workload promises a MERGE that meets all three
                    run.check(
                        f"{day} merge mix",
                        [f"{k}=0" for k, v in mix.items() if not v],
                    )
                current.update({r[key]: r for r in rows})
        con.close()
    if cm_cols:
        con = oracle.connect(etl, (), stats)
        got = con.execute(
            f"SELECT * FROM read_parquet('{etl}/current/customer_metrics/*.parquet')"
        )
        run.check(
            "current.customer_metrics",
            oracle.compare(
                [c[0] for c in got.description], got.fetchall(), cm_cols, list(current.values())
            ),
        )
        con.close()
    check_dedup(run, stream, corpus, inc_paths, accepted)
    run.info["reference_s"] = round(time.perf_counter() - t_ref, 2)

    live = index_store.live_root(spark, index)
    live = live[len("file:") :] if live.startswith("file:") else live
    index_bytes = tracing.dir_bytes(live)
    live_files = sum(len(f) for _, _, f in os.walk(live))
    n_indexed = DEDUP_CORPUS + n_inc * DEDUP_INCREMENT
    serve_times = [t for _, t in served]
    src_bytes = sum(tracing.dir_bytes(s) for s in ran)
    out_bytes = tracing.dir_bytes(etl)
    n_acc = sum(len(v) for v in accepted.values())
    run.info.update(
        days=len(units),
        merge_keys=merge_mix,
        increments=n_inc,
        compactions=compactions,
        live_files=live_files,
        round_ties=stats.ties,
        round_ties_flipped=stats.flips,
    )
    lat = [t for k, t in run.ops if k in ("etl_day", "serve")]
    run.info["named"] = {
        "etl_day_s": (statistics.median(day_s) if day_s else math.inf, "s"),
        "etl_rows_per_s": (rows_in / sum(day_s) if day_s else 0.0, "rows/s"),
        "etl_bytes_per_input_byte": (out_bytes / max(1, src_bytes), "bytes/byte"),
        "serves": (len(serve_times), "count"),
        "serve_s_p50": (pct(serve_times, 50) if serve_times else math.inf, "s"),
        "serve_docs_per_s": (
            n_inc * DEDUP_INCREMENT / (sum(serve_times) + compact_s) if served else 0.0,
            "docs/s",
        ),
        "index_bytes_per_doc": (index_bytes / n_indexed, "bytes/doc"),
        "error_rate": (
            sum(math.isinf(t) for _, t in run.ops) / max(1, len(run.ops)),
            "failed/attempted",
        ),
        "op_s_p50": (pct(lat, 50), "s"),
        "op_s_p90": (pct(lat, 90), "s"),
        "setup_s": (setup_s, "s"),
    }
    run.layer_extra = {
        "operators.index_store.compactions": compactions,
        "operators.index_store.live_files": live_files,
        "operators.index_store.index_bytes": index_bytes,
        "operators.index_store.accept_ratio": n_acc / max(1, len(served) * DEDUP_INCREMENT),
    }
    return {"setup_s": setup_s, "unit_s": statistics.median(units)}


def check_dedup(run: Run, stream, corpus: str, inc_paths: list[str], accepted: dict) -> None:
    """Every served increment's accepted ids must match the in-memory
    ``incremental_dedup`` policy, and no exact repeat of an indexed text
    may be accepted.

    The reference runs the policy once, over the served increments as
    one batch against an unpersisted band index of the corpus: ids are
    monotone across increments, so a doc's lower-id neighbours are
    exactly corpus ∪ earlier increments ∪ lower ids of its own
    increment — the same candidates the per-increment serve sees (the
    policy's split invariance, pinned by the engine's tests)."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        incremental_dedup,
        minhash_band_index,
    )

    if not accepted:
        return
    spark = run.spark
    served = sorted(accepted)
    index = minhash_band_index(spark.read.parquet(corpus))
    batch = spark.read.parquet(*(inc_paths[i] for i in served))
    want_all = {r.doc_id for r in incremental_dedup(batch, index).accepted.select("doc_id").collect()}
    for i in served:
        ids = {int(x) for x in stream.increments[i]["doc_id"].to_pylist()}
        want, got = want_all & ids, set(accepted[i])
        errs = []
        if got != want:
            errs.append(f"accepted got-want={sorted(got - want)} want-got={sorted(want - got)}")
        kept_repeats = got & stream.repeat_ids[i]
        if kept_repeats:
            errs.append(f"exact repeats accepted: {sorted(kept_repeats)}")
        run.check(f"dedup increment {i}", errs)


# ---------------------------------------------------------------- main

WORKLOADS = {"query_mix": query_mix, "daily_etl": daily_etl}


def layer_metrics(run: Run) -> dict:
    """Per-layer figures of a traced run.

    A layer's time is the self time of its spans inside the measured
    ops, as a percentage of the run's op time (the set-up's index build:
    of the set-up time), so an idle layer reads 0 %; counts, bytes and
    the Spark counters are per op."""
    t = run.tracer
    n = max(1, t.n_ops)
    op_time = sum(x for _, x in run.ops if not math.isinf(x)) or 1.0
    selfs = t.self_times()  # spans inside the measured ops only
    setup = t.self_times(in_ops=False)
    m = {"session.get_spark_s": setup.get("session.get_spark", 0.0)}
    for span in LAYER_SPANS:
        m[f"{span}_pct"] = 100.0 * selfs.get(span, 0.0) / op_time
    m["operators.index_store.build_pct"] = (
        100.0 * setup.get("operators.index_store.build", 0.0) / run.info["setup_total_s"]
    )
    m["quality.dup_gate.assert_unique_calls"] = t.calls("quality.dup_gate.assert_unique") / n
    m["sources.scans.read_parquet_table_calls"] = t.calls("sources.scans.read_parquet_table") / n
    m["sources.sinks.bytes_written"] = t.counts.get("sources.sinks.bytes_written", 0.0) / n
    for k in SPARK_COUNTERS:
        m[k] = t.counts.get(k, 0.0) / n
    m["driver.py_cpu_s"] = t.counts.get("driver.py_cpu_s", 0.0) / n
    extra = run.layer_extra
    for k in (
        "operators.index_store.compactions",
        "operators.index_store.live_files",
        "operators.index_store.index_bytes",
        "operators.index_store.accept_ratio",
    ):
        m[k] = extra.get(k, 0.0)
    m["trace.overhead_s"] = t.overhead / n
    m["trace.spans"] = sum(1 for sp in t.spans if sp[4] >= 0) / n
    return m


LAYER_MODULES = (
    "marts",
    "analyst_sql",
    "operator_queries",
    "quality_queries",
    "streaming_queries",
    "ml_queries",
    "multimodal_queries",
)
LAYER_SPANS = (
    "plans.pipeline.ingest",
    "quality.dup_gate.assert_unique",
    "plans.marts.supplier_performance",
    "plans.marts.product_performance",
    "plans.marts.customer_metrics",
    "plans.marts.customer_sales_report",
    "sources.sinks.write_parquet",
    "sources.sinks.merge_upsert",
    "sources.sinks.publish_partition",
    "sources.scans.read_parquet_table",
    *(f"plans.{mod}.{phase}" for mod in LAYER_MODULES for phase in ("build", "collect")),
    "operators.index_store.serve",
    "operators.index_store.compact",
)
SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.executor_run_s",
    "spark.gc_s",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    run = Run(args)
    t_run = time.perf_counter()
    try:
        metrics = WORKLOADS[args.workload](run)
        if run.tracer:
            layers = layer_metrics(run)
            spans_out = os.path.join(os.path.dirname(args.result), f"spans-{args.workload}-{args.seed}.json")
            with open(spans_out, "w") as f:
                json.dump({"spans": run.tracer.spans, "self_s": run.tracer.self_times()}, f)
            run.info["e2e_traced"] = metrics
            metrics = layers
    finally:
        if run.spark is not None:
            run.spark.stop()
    run.info["run_wall_s"] = round(time.perf_counter() - t_run, 2)
    out = run.result(metrics)
    out["info"] = run.info
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
