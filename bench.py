"""Per-query timer with a cross-round regression gate: runs every
declared query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
prints ONE JSON line with per-query wall-clock seconds.

Each query is forced with a cheap count() action (no driver collect of
full results — we measure the distributed plan, not toPandas transfer).
One untimed pass at sf0.001 first compiles every plan shape, then each
query's time is the min of 3 interleaved passes (min-of-N is the usual
wall-clock estimator under bursty host noise; interleaving keeps one
burst from inflating every sample of the same query).  A query that
fails in every pass reports -1.

Each pass opens with a fixed-size calibration probe; the run's record
goes to BENCH_SELF.json under (round, sf), and the times are compared
against the newest earlier round at the same sf (``regressions`` in the
output, ``baseline_round: 0`` when there was nothing to compare).  The
repo benchmark with references, traced layers and spread checks is
etlbench/ (see BENCHMARK.json).

Usage: SPARK_GRAFT_SF_DIR=<dir holding the sf tables> python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_WARM_SF_DIR = "/root/testdata/sf0.001"
_PASSES = 3


# queries merged into tagged unions — a merged query's baseline is the
# weighted sum of the parts it replaced (the surviving name may itself
# be one of the parts), so the regression gate stays comparable ACROSS
# the merge.  Each entry records the ROUND the merge landed: once the
# baseline record (BENCH_SELF.json entry, or a driver artifact with
# non-null parsed) is from that round or later, its recorded time
# already includes every arm and the expansion would double-count (an
# ever-laxer gate) — so the entry lapses and the name is compared
# directly.
_MERGED_BASELINES: dict[str, tuple[int, list]] = {
    "q_anti_joins": (3, ["q_anti_join_parts", "q_anti_join_customers"]),
    "q_order_limit": (3, ["q_topk_orders", "q_orderby_expr_limit"]),
    "q_scalar_datetime_conditional": (3, ["q_scalar_datetime", "q_scalar_conditional"]),
    "q_text_codes": (3, ["q_text_simhash", "q_doc_fingerprint"]),
    "q_scalar_string": (3, ["q_scalar_string", "q_scalar_array_hof"]),
    # r3 folded q_groupby_ordinal in; r14 folds the ROLLUP arm — the
    # same exact-percentile aggregate at THREE grouping levels
    # (status×priority / status / total) through Spark's Expand plan.
    # Weight 1.0: the official in-bench sub-timing puts the rollup arm
    # at ~0.8x the prior whole (0.202 s vs 0.243 s at sf0.1; the r14
    # review corrected an initial 4.0 set from a cold-cache manual
    # measurement — an over-weighted bridge would let a real Expand
    # plan regression pass the gate silently).
    "q_quantiles_by_status": (
        14,
        [
            "q_quantiles_by_status",
            "q_groupby_ordinal",
            ("q_quantiles_by_status", 1.0),
        ],
    ),
    # r5: PQ/ADC branch folded in — a third kernel branch over the same
    # corpus scan + topk shape (the int8 fold happened in r4 and is
    # already inside the r4 artifact); each prior branch was ~half the
    # 2-arm whole, so the addition is ~0.5x the previous whole (encode
    # is a bounded 16-centroid integer argmin per row, LUT build is
    # per-query).
    "q_similarity_topk": (5, ["q_similarity_topk", ("q_similarity_topk", 0.5)]),
    # r5: bucketed arm folded in.  The arm re-runs the same logical plan
    # over a bucketed round-trip, PLUS pays the bucketed write each run —
    # weight 2x the direct arm (write ≈ one extra pass over orders).
    "q_self_join_agg": (5, ["q_self_join_agg", ("q_self_join_agg", 2.0)]),
    # r5: the LSH-candidates stage folded into the two-stage dedup query
    # (it already ran inside it as stage 1; the union adds its output).
    # The connected-components arm seeds from the checkpointed pairs —
    # a few tiny star rounds on top of the one-materialization plan.
    "q_dedup_ngram_jaccard": (
        5,
        [
            "q_dedup_ngram_jaccard",
            "q_dedup_minhash_lsh",
            ("q_dedup_ngram_jaccard", 1.0),
        ],
    ),
    # r5: domain-mixing + chunk arms folded in — roughly one more pass
    # over documents each (q_train_prep is itself new in r5, so only
    # q_corpus_split needs a bridge entry).
    "q_corpus_split": (5, ["q_corpus_split", ("q_corpus_split", 1.0)]),
    # r6: IVF-PQ arm folded in — a second index build (assignment, same
    # cost as the ivf arm's) + map-only PQ encode + full-probe ADC scan.
    # r6 folded the ivfpq arm (weight 1.0 of the prior whole); r8 folds
    # the rerank arm — ADC nomination over the cached index (~the ivfpq
    # arm's cost) + a candidate-bounded float rescore (~free).
    "q_similarity_ivf_topk": (8, ["q_similarity_ivf_topk", ("q_similarity_ivf_topk", 0.7)]),
    # r6: heavy-hitters arm folded into the distinct query — freqItems
    # pass + count + filtered exact confirm ≈ 3 extra scans of orders
    # next to distinct's one.
    "q_distinct_status": (6, ["q_distinct_status", ("q_distinct_status", 3.0)]),
    # r7: incremental-parity arm folded into the curation query — one
    # more minhash chain over the full documents table (three id-range
    # increments, banded joins against the growing in-plan index) ≈ the
    # candidates stage ≈ 1x the prior whole query.
    "q_corpus_curation": (7, ["q_corpus_curation", ("q_corpus_curation", 1.0)]),
    # r9's two-arm fold lapsed with the r9 artifact.  r10: the flat
    # k=16 full-corpus semantic arm RETIRED (2.45s arm + its share of
    # the 10.5s _build in the r9 decomposition — subsumed by semantic2's
    # two-level gate + sem_inc's serve gate, round-9 slot hygiene) and
    # the takedown-policy arm folded in (one more inc2 cell join over
    # sem_inc's shared bootstrap — cheap).  Net ≈ 0.85x the r9 whole;
    # the gate floor SHRINKS with the union instead of coasting on the
    # fatter r9 number.
    "q_embed_near_dup_lsh": (10, [("q_embed_near_dup_lsh", 0.85)]),
    # r9: PII hash-gate folded into the profile IN PLACE (not a new
    # arm): one more map-only regex chain (7 counts + 7 replaces + md5)
    # over the planted text ≈ one more profile-scale pass.
    "q_text_profile": (9, ["q_text_profile", ("q_text_profile", 1.0)]),
    "q_text_lang_rollup": (9, ["q_text_lang_rollup", ("q_text_lang_rollup", 0.2)]),
}


_HERE = os.path.dirname(os.path.abspath(__file__))

# The bench's OWN per-round history.  The driver's BENCH_r{N}.json has
# carried "parsed": null since round 5 and its "tail" is front-truncated
# past reconstruction, so for seven rounds _baseline_timings() returned
# {} and the 1.5x regression gate, the host-ratio normalization and
# value_normalized were all no-ops (r11 verdict task 1).  Each run now
# persists its full parsed payload here, keyed by round; the next run's
# gate reads the newest round STRICTLY BEFORE its own, at the same sf.
_SELF_FILE = "BENCH_SELF.json"


def _driver_round(here: str | None = None) -> int:
    """Round number of the newest driver BENCH_r{N}.json (0 when none).
    The driver writes BENCH_r{N} at the END of round N, so a bench
    running now is measuring round ``driver_round + 1``'s code.  Rounds
    parsed numerically (the zero-padded names sort lexically today, but
    3-digit rounds must not silently reorder)."""
    import glob
    import re

    best = 0
    for f in glob.glob(os.path.join(here or _HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            best = max(best, int(m.group(1)))
    return best


def _baseline_artifact(
    here: str | None = None,
    sf: float | None = None,
    current_round: int | None = None,
) -> tuple[int, dict]:
    """(round, payload) of the newest usable BASELINE — ONE discovery
    point so the gate's lapse round and its baseline timings provably
    come from the same record.  Preference order:

    1. ``BENCH_SELF.json`` entries from rounds strictly BEFORE the
       current one (an entry from THIS round — an earlier local run —
       would gate the run against itself), at the same ``sf`` (timings
       only compare at the same scale; local sf0.01 iteration runs must
       not become the sf0.1 gate's floor);
    2. the newest driver ``BENCH_r{N}.json`` whose ``parsed`` is
       non-null — the pre-r12 source, kept as the fallback.

    Returns ``(0, {})`` when neither exists (first round, or history
    wiped): the gate then compares nothing, visibly (empty baseline).

    ``current_round``: main() resolves the round ONCE and threads it
    here and into :func:`_persist_self` — a driver artifact landing on
    disk mid-run must not make the gate and the self-record disagree
    about which round this run belongs to."""
    here = here or _HERE
    cur = current_round if current_round is not None else _driver_round(here) + 1
    try:
        with open(os.path.join(here, _SELF_FILE)) as f:
            rounds = json.load(f).get("rounds") or {}
    except Exception:
        rounds = {}
    best_round, best = 0, {}
    for r, slot in rounds.items():
        try:
            r = int(r)
        except ValueError:
            continue
        if r >= cur or r <= best_round or not isinstance(slot, dict):
            continue
        # r13 schema: {sf_str: payload}; legacy (≤r12): the payload
        # itself (detected by its own "sf" field)
        candidates = [slot] if "sf" in slot else [
            v for v in slot.values() if isinstance(v, dict)
        ]
        for payload in candidates:
            if sf is not None and payload.get("sf") != sf:
                continue
            best_round, best = r, dict(payload)
            break
    if best:
        return best_round, best
    # fallback: newest driver artifact with a non-null parsed payload
    import glob
    import re

    numbered = []  # (round, path) — stray BENCH_r*.json names are skipped
    for f in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            numbered.append((int(m.group(1)), f))
    for rnd, f in sorted(numbered, reverse=True):
        try:
            with open(f) as fh:
                parsed = json.load(fh).get("parsed")
        except Exception:
            continue
        # same sf filter as the self history: a 0.1-sf driver record
        # compared against a 0.001-sf local run flags nonsense (caught
        # live on the r12 smoke run — q_embed 9.4x "regression")
        if parsed and (sf is None or parsed.get("sf") == sf):
            return rnd, dict(parsed)
    return 0, {}


def _persist_self(
    payload: dict, here: str | None = None, current_round: int | None = None
) -> None:
    """Record this run's parsed payload under ``(round, sf)`` in
    ``BENCH_SELF.json``.  Keying by round ALONE clobbered (r12 advice):
    a local sf0.01 iteration run executed AFTER the round's official
    sf0.1 bench overwrote the official record, so the next round's sf0.1
    gate found no matching-sf entry and went vacuous — the exact failure
    the self-history exists to prevent.  Last-write-wins only within the
    same (round, sf), where it is correct (the driver's official run at
    a given sf is the last one at that sf).
    ``current_round``: see :func:`_baseline_artifact` — one resolution
    per run, shared with the gate."""
    here = here or _HERE
    p = os.path.join(here, _SELF_FILE)
    try:
        with open(p) as f:
            rounds = dict(json.load(f).get("rounds") or {})
    except Exception:
        rounds = {}
    cur = current_round if current_round is not None else _driver_round(here) + 1
    slot = rounds.get(str(cur))
    if not isinstance(slot, dict) or "sf" in slot:
        # legacy flat payload (pre-r13 schema): re-nest it under its own sf
        slot = {str(slot.get("sf")): slot} if isinstance(slot, dict) else {}
    slot[str(payload.get("sf"))] = payload
    rounds[str(cur)] = slot
    keep = sorted(rounds, key=lambda r: int(r) if r.isdigit() else -1)[-8:]
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"rounds": {k: rounds[k] for k in keep}}, f, indent=1, sort_keys=True)
    os.replace(tmp, p)


def _baseline_calibration(base: dict) -> float | None:
    """A baseline payload's calibration-probe seconds, if recorded."""
    cal = base.get("calibration_sec")
    return float(cal) if cal and cal > 0 else None


def _calibrate(spark) -> float:
    """Fixed-size shuffle+agg probe: 50M generated longs, hash-partition
    on a 97-way key, algebraic aggregate.  Entirely JVM-side, pinned
    input size, independent of $SPARK_GRAFT_SF_DIR — its wall-clock
    tracks the HOST's momentary throughput, so the ratio of this round's
    probe to last round's de-noises cross-round query comparisons (the
    host throttles in multi-second bursts: identical code has swung
    63s..131s whole-run)."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 50_000_000, 1, 32)
        .select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v"), F.count("v"), F.max("v"))
        .count()
    )
    return round(time.time() - t0, 3)


def _regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    host_speed_ratio: float = 1.0,
    baseline_round: int = 0,
) -> dict[str, dict[str, float]]:
    """Queries >1.5x their previous-round time (with a 1 s absolute
    floor so sub-second scheduling jitter doesn't flag).  Baselines are
    scaled by ``host_speed_ratio`` (this round's calibration probe over
    last round's) so a uniformly throttled host doesn't flag every
    query — only plan regressions beyond the host drift.

    The normalization is one-sided: a RAW time at or below last round's
    never flags.  The probe measures pure shuffle+agg throughput, but
    multi-second queries carry fixed costs (plan compile, stage launch,
    broadcast build) that don't shrink with a faster host — on an
    unusually fast round a 2x probe speedup would otherwise flag
    queries that are absolutely FASTER than before.

    ``baseline_round`` is the round the baseline was recorded in —
    drives the merged-baseline lapse logic (and is a parameter, not
    re-discovered here, so the unit gate test can feed synthetic
    histories)."""
    artifact_round = baseline_round
    out: dict[str, dict[str, float]] = {}
    for name, t in timings.items():
        if t < 0:
            continue
        merge = _MERGED_BASELINES.get(name)
        if merge is not None and artifact_round < merge[0]:
            # the newest artifact predates the merge: expand into parts.
            # drop -1.0 error sentinels: a failed prior-round part must not
            # understate the base and flag a healthy merged query
            parts = []
            for n in merge[1]:
                n, w = n if isinstance(n, tuple) else (n, 1.0)
                p = baseline.get(n)
                if p is not None and p >= 0:
                    parts.append(p * w)
            base = sum(parts) if parts else baseline.get(name)
        else:
            base = baseline.get(name)
        if base is None or base <= 0:
            continue
        raw_base = base
        # one-sided (see docstring): a throttled host (ratio > 1)
        # inflates the baseline; a fast host (ratio < 1) keeps it raw
        base = base * max(host_speed_ratio, 1.0)
        if t > 1.5 * base and t - base > 1.0 and t > raw_base:
            out[name] = {"now": t, "baseline": round(base, 3), "ratio": round(t / base, 2)}
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as se
    from meta_morph_etl_databricks_spark.plans.operator_queries import prune_bucketed_scratch
    from meta_morph_etl_databricks_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = se.queries()
    # scratch housekeeping lives here, not in the declared queries
    prune_bucketed_scratch()

    for fn in qs.values():  # warm-up: JVM, codegen, Python workers
        try:
            fn(spark, _WARM_SF_DIR).count()
        except Exception:
            pass

    _calibrate(spark)  # warm the probe's own codegen before timing it
    timings: dict[str, float] = {}
    cal_samples: list[float] = []
    for _pass in range(_PASSES):
        cal_samples.append(_calibrate(spark))
        for name, fn in qs.items():
            t0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as e:  # keep timing the rest
                timings.setdefault(name, -1.0)
                print(f"# bench error {name}: {e}", file=sys.stderr)
                continue
            t = round(time.time() - t0, 3)
            prev = timings.get(name, -1.0)
            timings[name] = t if prev < 0 else min(prev, t)

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    calibration = round(min(cal_samples), 3)
    cur_round = _driver_round() + 1  # resolved ONCE — gate + self-record agree
    base_round, base = _baseline_artifact(sf=sf, current_round=cur_round)
    prev_cal = _baseline_calibration(base)
    # >1 = this host is slower than the baseline's; scales the gate's baselines
    host_speed_ratio = round(calibration / prev_cal, 3) if prev_cal else 1.0
    regressions = _regressions(
        timings, dict(base.get("queries") or {}), host_speed_ratio, base_round
    )
    for name, r in regressions.items():
        print(f"# bench REGRESSION {name}: {r['now']}s vs {r['baseline']}s ({r['ratio']}x)", file=sys.stderr)
    result = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the run's actual parallelism: defaultParallelism (what
        # session.py derived from $SPARK_GRAFT_CPUS) and the master string
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "regressions": regressions,
        # which record the gate compared against (0 = vacuous run)
        "baseline_round": base_round,
        "baseline_queries_compared": len(base.get("queries") or {}),
        "calibration_sec": calibration,
        "host_speed_ratio": host_speed_ratio,
    }
    try:  # the next round's gate reads this run's record
        _persist_self(
            {"sf": sf, "queries": timings, "calibration_sec": calibration, "value": total},
            current_round=cur_round,
        )
    except Exception as e:  # never let history IO kill the bench output
        print(f"# bench self-record write failed: {e}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
