"""Round-11 operator tests: trained logistic quality (IRLS), KN
perplexity filter, PR-AUC, snapshot GC planner."""

from __future__ import annotations

import numpy as np

from target_iceberg_spark.plans.registry import all_specs


def test_quality_trained_irls_matches_numpy_and_separates(spark, sf_oracle):
    """The two unrolled Newton steps reproduce a numpy IRLS with the
    identical per-iteration rounding, the fit beats majority class by a
    wide margin, and repetition carries a negative weight."""
    from target_iceberg_spark.plans.quality_trained import (
        FLIP_HEX,
        IRLS_ITERS,
        REP_CUT,
    )

    row = all_specs()["text_quality_trained"].builder(spark, sf_oracle).collect()[0]
    assert row["trained_beats_majority"]
    assert row["rep_weight_negative"]
    assert row["accuracy"] >= row["majority_rate"] + 0.2  # wide margin

    # Rebuild features/labels in Python and run the same rounded IRLS.
    import duckdb
    import hashlib

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf_oracle}/documents.parquet'"
    ).fetchall()
    X, y = [], []
    for doc_id, text in docs:
        toks = text.split(" ")
        rep = 1.0 - len(set(toks)) / len(toks)
        clean = rep <= REP_CUT
        flip = hashlib.md5(str(doc_id).encode()).hexdigest()[0] == FLIP_HEX
        X.append([1.0, np.log(len(toks)), rep])
        y.append(1.0 if clean != flip else 0.0)
    X, y = np.array(X), np.array(y)
    beta = np.zeros(3)
    for _ in range(IRLS_ITERS):
        p = np.round(1.0 / (1.0 + np.exp(-X @ beta)), 6)
        w = p * (1 - p)
        g = np.round(X.T @ (y - p), 6)
        H = np.round(X.T @ (X * w[:, None]), 6)
        beta = np.round(beta + np.linalg.solve(H, g), 6)
    # The closed-form adjugate solve and np.linalg.solve agree to well
    # under the 1e-6 rounding grain on the final coefficients.
    assert abs(row["beta_intercept"] - beta[0]) < 2e-5
    assert abs(row["beta_ln_tokens"] - beta[1]) < 2e-5
    assert abs(row["beta_rep"] - beta[2]) < 2e-5


def test_kn_perplexity_filter_invariants(spark, sf_oracle):
    """The filter actually cuts: some docs die, most survive, and the
    perplexity means straddle the threshold by construction (killed
    docs all have ppl > KN_PPL_MAX, kept docs <= within rounding)."""
    from target_iceberg_spark.plans.text_kn_perplexity import KN_PPL_MAX

    rows = all_specs()["text_kn_perplexity"].builder(spark, sf_oracle).collect()
    assert rows
    total = sum(r["n_docs"] for r in rows)
    killed = sum(r["n_killed"] for r in rows)
    assert 0 < killed < total
    for r in rows:
        assert 0.0 <= r["kill_rate"] <= 1.0
        if r["n_killed"]:
            assert r["mean_ppl_killed"] > KN_PPL_MAX
        if r["n_killed"] < r["n_docs"]:
            assert r["mean_ppl_kept"] <= KN_PPL_MAX + 1e-3
        assert r["bigrams_kept"] >= 0


def test_pr_auc_matches_sklearn_style_ap_and_separates(spark, sf_oracle):
    """AP_signal >> AP_null ~ prevalence, and the step-wise AP matches
    a direct numpy computation (sum of dR * precision over descending
    distinct thresholds)."""
    rows = all_specs()["agg_pr_auc"].builder(spark, sf_oracle).collect()
    got = {r["scorer"]: r for r in rows}
    assert got["signal"]["average_precision"] > 0.95
    null_ap = got["null"]["average_precision"]
    prev = got["null"]["prevalence"]
    assert abs(null_ap - prev) < 0.15  # uninformative ~ prevalence
    assert got["signal"]["average_precision"] > null_ap + 0.3

    import duckdb

    from target_iceberg_spark.plans.eval_auc import (
        AUC_LABEL_CHARS,
        AUC_STOPWORDS,
    )

    docs = duckdb.connect().execute(
        f"SELECT n_chars, lower(text) FROM '{sf_oracle}/documents.parquet'"
    ).fetchall()
    pairs = []
    for n_chars, text in docs:
        toks = text.split(" ")
        y = 1 if n_chars >= AUC_LABEL_CHARS else 0
        pairs.append((float(len(toks)), y))
    from collections import defaultdict

    by_s = defaultdict(lambda: [0, 0])
    for s, y in pairs:
        by_s[s][0] += 1
        by_s[s][1] += y
    n_pos = sum(v[1] for v in by_s.values())
    cum_n = cum_tp = 0
    ap = 0.0
    for s in sorted(by_s, reverse=True):
        n, tp = by_s[s]
        cum_n += n
        cum_tp += tp
        ap += (tp / n_pos) * (cum_tp / cum_n)
    assert abs(got["signal"]["average_precision"] - ap) < 1e-5


def test_snapshot_gc_policy_invariants(spark, sf_oracle):
    """expire_snapshots semantics: the kept set is a suffix of the
    history containing at least RETAIN_LAST snapshots and everything
    within MAX_AGE months of the newest; reclaim only on expired rows;
    every file is attributed exactly once."""
    from target_iceberg_spark.plans.lakehouse_gc import (
        GC_MAX_AGE_MONTHS,
        GC_RETAIN_LAST,
    )

    rows = (
        all_specs()["lakehouse_snapshot_gc"].builder(spark, sf_oracle).collect()
    )
    rows.sort(key=lambda r: r["snap_month"])
    actions = [r["action"] for r in rows]
    # suffix property: once 'keep' starts it never reverts to 'expire'
    first_keep = actions.index("keep")
    assert all(a == "expire" for a in actions[:first_keep])
    assert all(a == "keep" for a in actions[first_keep:])
    n_keep = len(actions) - first_keep
    assert n_keep >= GC_RETAIN_LAST
    assert n_keep >= min(len(rows), GC_MAX_AGE_MONTHS)
    assert first_keep > 0  # policy actually expires something
    for r in rows:
        if r["action"] == "keep":
            assert r["reclaimable_bytes"] == 0
        else:
            assert r["reclaimable_bytes"] == r["last_ref_bytes"]
    # age_rank 1 is the newest month and must be kept
    newest = max(rows, key=lambda r: r["snap_month"])
    assert newest["age_rank"] == 1 and newest["action"] == "keep"
    # every simulated file's last reference lands on exactly one
    # snapshot: totals equal the (month, priority) inventory size
    import duckdb

    n_files = duckdb.connect().execute(
        f"""SELECT COUNT(*) FROM (
              SELECT date_trunc('month', o_orderdate), o_orderpriority
              FROM '{sf_oracle}/orders.parquet' GROUP BY 1, 2)"""
    ).fetchone()[0]
    assert sum(r["n_files_last_ref"] for r in rows) == n_files


def test_scan_prune_layout_contrast(spark, sf_oracle):
    """The audit's whole point: the clustered-key predicate prunes
    most files, the equally-ranged unclustered predicate prunes ~none,
    and amplification orders accordingly; matching-row counts equal
    direct predicate counts (zone maps never lose rows)."""
    from target_iceberg_spark.plans.lakehouse_prune import (
        PRUNE_KEY_HI,
        PRUNE_KEY_LO,
        PRUNE_PRICE_HI,
        PRUNE_PRICE_LO,
    )

    rows = {
        r["predicate_arm"]: r
        for r in all_specs()["lakehouse_scan_prune"]
        .builder(spark, sf_oracle)
        .collect()
    }
    ck, up = rows["clustered_key"], rows["unclustered_price"]
    assert ck["skip_rate"] > 0.5 > up["skip_rate"]
    assert ck["scan_amplification"] < up["scan_amplification"]
    assert ck["n_files"] == up["n_files"]
    import duckdb

    con = duckdb.connect()
    m_key, m_price = con.execute(
        f"""SELECT COUNT(*) FILTER (WHERE o_orderkey BETWEEN {PRUNE_KEY_LO}
                  AND {PRUNE_KEY_HI}),
               COUNT(*) FILTER (WHERE o_totalprice BETWEEN {PRUNE_PRICE_LO}
                  AND {PRUNE_PRICE_HI})
        FROM '{sf_oracle}/orders.parquet'"""
    ).fetchone()
    assert ck["rows_matching"] == m_key
    assert up["rows_matching"] == m_price
    # skipped files can never contain matches: scanned >= matching
    assert ck["rows_scanned"] >= ck["rows_matching"]
    assert up["rows_scanned"] >= up["rows_matching"]


def test_repetition_schedule_budget_algebra(spark, sf_oracle):
    """Schedule invariants: epochs in (0, CAP]; consumed <= share per
    source (utilization <= 1 + rounding); effective <= consumed with
    equality only under one epoch; capped iff epochs == CAP; total
    consumed <= total budget."""
    from target_iceberg_spark.plans.curation_repeat import (
        REPEAT_BUDGET_X,
        REPEAT_DECAY,
        REPEAT_EPOCH_CAP,
    )

    rows = (
        all_specs()["curation_repetition_schedule"]
        .builder(spark, sf_oracle)
        .collect()
    )
    assert rows
    total_tokens = sum(r["tokens"] for r in rows)
    budget = REPEAT_BUDGET_X * total_tokens
    consumed = sum(r["tokens_consumed"] for r in rows)
    assert consumed <= budget + 1.0
    for r in rows:
        assert 0 < r["epochs"] <= REPEAT_EPOCH_CAP
        assert r["budget_utilization"] <= 1.0001
        assert r["capped"] == (r["epochs"] >= REPEAT_EPOCH_CAP)
        assert r["effective_tokens"] <= r["tokens_consumed"] + 0.01
        if r["epochs"] <= 1:
            assert abs(r["effective_tokens"] - r["tokens_consumed"]) < 0.02
        # python reproduction of the geometric yield
        import math

        e = r["epochs"]
        full = math.floor(e)
        eff = r["tokens"] * (1 - REPEAT_DECAY**full) / (1 - REPEAT_DECAY) + (
            e - full
        ) * r["tokens"] * REPEAT_DECAY**full
        assert abs(r["effective_tokens"] - round(eff, 2)) < 0.02
    # with a 2.5x budget over heterogeneous sources, BOTH regimes occur
    assert any(r["capped"] for r in rows) or any(
        r["budget_utilization"] >= 0.999 for r in rows
    )


def test_macro_f1_matches_sklearn_conventions(spark, sf_oracle):
    """Per-class/macro/micro metrics recompute exactly from the
    confusion matrix the classifier query itself reports, and on a
    planted separable corpus the same plan scores F1 = 1 everywhere."""
    rows = all_specs()["eval_macro_f1"].builder(spark, sf_oracle).collect()
    by = {r["label"]: r for r in rows}
    classes = [k for k in by if not k.startswith("__")]
    conf = {
        (r["true_lang"], r["pred_lang"]): r["n"]
        for r in all_specs()["text_nb_langid"].builder(spark, sf_oracle).collect()
    }
    import numpy as np

    for c in classes:
        tp = conf.get((c, c), 0)
        fp = sum(n for (t, p), n in conf.items() if p == c and t != c)
        fn = sum(n for (t, p), n in conf.items() if t == c and p != c)
        assert by[c]["tp"] == tp and by[c]["fp"] == fp and by[c]["fn"] == fn
        prec = round(tp / max(tp + fp, 1), 6)
        rec = round(tp / (tp + fn), 6)
        assert abs(by[c]["precision"] - prec) < 1e-9
        assert abs(by[c]["recall"] - rec) < 1e-9
        f1 = 0.0 if prec + rec == 0 else round(2 * prec * rec / (prec + rec), 6)
        assert abs(by[c]["f1"] - f1) < 1e-9
    assert abs(
        by["__macro__"]["f1"] - round(float(np.mean([by[c]["f1"] for c in classes])), 6)
    ) < 1e-6
    total = sum(by[c]["support"] for c in classes)
    acc = round(sum(conf.get((c, c), 0) for c in classes) / total, 6)
    assert abs(by["__micro__"]["f1"] - acc) < 1e-9

    # planted two-language corpus with disjoint vocab: perfect diagonal
    from target_iceberg_spark.plans.text_nb_classifier import nb_confusion

    planted = spark.createDataFrame(
        [(i, "aa", "foo bar baz foo") for i in range(10)]
        + [(100 + i, "bb", "qux quux corge qux") for i in range(10)],
        "doc_id bigint, lang string, text string",
    )
    planted_conf = {
        (r["true_lang"], r["pred_lang"]): r["n"]
        for r in nb_confusion(planted).collect()
    }
    assert planted_conf == {("aa", "aa"): 10, ("bb", "bb"): 10}


def test_lm_contrast_detects_planted_independence(spark):
    """The gain signal separates STRUCTURE from INDEPENDENCE: a corpus
    of strict two-word collocations scores high context gain; a corpus
    whose bigram distribution factorizes (de Bruijn-style uniform
    pair coverage -> conditional == marginal) scores ~zero/negative
    gain and flags every doc context-free. Runs the registered oracle
    SQL on two planted corpora (corpus-wide models, so each corpus is
    evaluated against itself)."""
    import duckdb

    sql = all_specs()["text_lm_contrast"].oracle

    def run(docs):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({d}, 'en', '{src}', '{txt}', {len(txt)})"
                for d, src, txt in docs
            )
            + ") t(doc_id, lang, source, text, n_chars)"
        )
        return con.execute(sql).fetchall()[0]

    structured = run(
        [(i, "s", "alpha beta alpha beta alpha beta") for i in range(8)]
    )
    # every 'alpha' is followed by 'beta': conditional ~1, marginal 0.5
    assert structured[2] > 0.3 and structured[4] == 0.0
    salad = run([(i, "b", "p p q q p p q q p p q q") for i in range(8)])
    # uniform pair coverage: conditional == marginal, so the gain sits
    # at ~0 (only KN-discount edge effects remain; whether the <= 0.0
    # flag fires on exactly-0 corpora depends on that edge sign, which
    # is why the flag is a THRESHOLD constant, not a structural claim)
    assert abs(salad[2]) < 0.05
    assert structured[2] > salad[2] + 0.3


def test_lm_contrast_source_shares(spark, sf_oracle):
    rows = all_specs()["text_lm_contrast"].builder(spark, sf_oracle).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["context_free_share"] <= 1.0
        assert r["n_context_free"] <= r["n_docs"]


def test_split_decontam_flags_planted_leak(spark, sf_oracle):
    """Invariants on the fixture (rates in [0,1], splits sum sanely)
    plus a planted leak: duplicating a test doc's text into a train
    doc must flag exactly that test doc."""
    rows = (
        all_specs()["curation_split_decontam"].builder(spark, sf_oracle).collect()
    )
    assert rows
    for r in rows:
        assert 0.0 <= r["contamination_rate"] <= 1.0
        assert r["n_test_contaminated"] <= r["n_test"]

    # planted: find ids landing in train / test under the md5 rule
    import hashlib

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    train_id = next(i for i in range(1000) if bucket(i) < 90)
    test_ids = [i for i in range(1000) if bucket(i) >= 95][:2]
    leak = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    clean = "c1 c2 c3 c4 c5 c6 c7 c8 c9"
    docs = spark.createDataFrame(
        [
            (train_id, "en", "s", leak, len(leak)),
            (test_ids[0], "en", "s", leak, len(leak)),  # leaked
            (test_ids[1], "en", "s", clean, len(clean)),  # clean
        ],
        "doc_id bigint, lang string, source string, text string, n_chars bigint",
    )
    import target_iceberg_spark.plans.curation_split_decontam as mod
    from target_iceberg_spark.sources import tables

    orig = tables.load_table
    try:
        tables_patch = lambda spark, sf_dir, name, fanout=None: docs  # noqa: E731
        mod.load_table = tables_patch
        out = mod.curation_split_decontam(spark, "unused").collect()
    finally:
        mod.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r["n_train"] == 1 and r["n_test"] == 2
    assert r["n_test_contaminated"] == 1
    assert abs(r["contamination_rate"] - 0.5) < 1e-9


def test_filtered_topk_pre_vs_post_semantics(spark, sf_oracle):
    """Pre-filter always returns the full k within the segment;
    post-filter is exactly the label-matching subset of the global arm
    (never longer, usually shorter — the recall hole); the pre-filter
    arm's scores dominate the post-filter arm's tail."""
    from target_iceberg_spark.plans.similarity_filtered import FILTER_K

    rows = all_specs()["sim_filtered_topk"].builder(spark, sf_oracle).collect()
    arms = {}
    for r in rows:
        arms.setdefault(r["arm"], []).append(r)
    assert len(arms["a_global"]) == FILTER_K
    assert len(arms["b_prefilter"]) == FILTER_K
    post = {r["vec_id"] for r in arms["c_postfilter"]}
    pre = {r["vec_id"] for r in arms["b_prefilter"]}
    glob = {r["vec_id"] for r in arms["a_global"]}
    assert post == glob & pre or post <= glob  # subset of global...
    assert post <= pre  # ...and every post hit is a pre hit
    assert len(post) < FILTER_K  # the hole exists on this fixture
    # all labels in filtered arms equal the probe's label
    labels = {r["label"] for r in arms["b_prefilter"]}
    assert len(labels) == 1
    assert all(r["label"] in labels for r in arms["c_postfilter"])


def test_filtered_topk_prefilter_pushdown(spark, sf_oracle):
    """The pre-filter predicate must reach the scan (PushedFilters on
    label) — the efficiency claim of pre-filtering."""
    df = all_specs()["sim_filtered_topk"].builder(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan


def test_mix_anneal_share_algebra(spark, sf_oracle):
    """Both phases' shares sum to 1; the boost ratio is share_anneal /
    share_stable; blended spend sums to the one-epoch budget; and the
    anneal phase strictly upweights the highest-quality source
    relative to the lowest."""
    rows = all_specs()["curation_mix_anneal"].builder(spark, sf_oracle).collect()
    assert rows
    assert abs(sum(r["share_stable"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_anneal"] for r in rows) - 1.0) < 1e-3
    total = sum(r["tokens"] for r in rows)
    assert abs(sum(r["blended_tokens"] for r in rows) - total) < total * 1e-3
    for r in rows:
        if r["share_stable"] > 0:
            assert abs(
                r["anneal_boost"] - round(r["share_anneal"] / r["share_stable"], 4)
            ) < 2e-3
    best = max(rows, key=lambda r: r["quality"])
    worst = min(rows, key=lambda r: r["quality"])
    assert best["anneal_boost"] > worst["anneal_boost"]
    assert best["anneal_boost"] > 1.0 > worst["anneal_boost"]


def test_holt_trend_matches_python_recurrence(spark, sf_oracle):
    """The recursive-CTE smoother reproduces a plain-Python Holt
    recurrence with identical per-step rounding, for every type."""
    import duckdb

    from target_iceberg_spark.plans.analytics_holt import (
        HOLT_ALPHA,
        HOLT_BURN,
        HOLT_GAMMA,
    )

    rows = {
        r["event_type"]: r
        for r in all_specs()["events_holt_trend"].builder(spark, sf_oracle).collect()
    }
    series = duckdb.connect().execute(
        f"""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   ROUND(AVG(value), 6) AS x
            FROM '{sf_oracle}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    by_type: dict[str, list[float]] = {}
    for et, _day, x in series:
        by_type.setdefault(et, []).append(x)
    for et, xs in by_type.items():
        l, b = round(HOLT_ALPHA * xs[1] + (1 - HOLT_ALPHA) * (xs[0] + (xs[1] - xs[0])), 6), round(xs[1] - xs[0], 6)
        errs, naive = [], []
        for d in range(2, len(xs)):  # producing state at day index d+1
            nx, px = xs[d], xs[d - 1]
            e = round(abs(nx - (l + b)), 6)
            ln = round(HOLT_ALPHA * nx + (1 - HOLT_ALPHA) * (l + b), 6)
            b = round(HOLT_GAMMA * (ln - l) + (1 - HOLT_GAMMA) * b, 6)
            l = ln
            if d + 1 > HOLT_BURN:
                errs.append(e)
                naive.append(round(abs(nx - px), 6))
        r = rows[et]
        assert r["n_scored"] == len(errs)
        assert abs(r["mae_holt"] - round(sum(errs) / len(errs), 4)) < 1e-3
        assert abs(r["mae_naive"] - round(sum(naive) / len(naive), 4)) < 1e-3
        assert abs(r["final_level"] - round(l, 4)) < 1e-3
        assert abs(r["final_trend"] - round(b, 4)) < 1e-3


def test_shapley_attribution_axioms_and_python_reproduction(spark, sf_oracle):
    """Shapley axioms hold: efficiency (sum phi = v(full) - v(empty),
    emitted gap = 0), and the values match a direct Python Shapley
    computation over the same characteristic function."""
    from itertools import combinations
    from math import factorial

    from target_iceberg_spark.plans.events_shapley import SHAPLEY_CHANNELS

    rows = (
        all_specs()["events_shapley_attribution"]
        .builder(spark, sf_oracle)
        .collect()
    )
    assert len(rows) == len(SHAPLEY_CHANNELS)
    for r in rows:
        assert r["efficiency_gap"] == 0.0
    # characteristic function from duckdb
    import duckdb

    from target_iceberg_spark.plans.events_shapley import SHAPLEY_WINDOW_DAYS

    masks = duckdb.connect().execute(
        f"""WITH fp AS (
              SELECT user_id, MIN(ts) AS first_ts,
                     MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
              FROM '{sf_oracle}/events.parquet' GROUP BY user_id)
            SELECT e.user_id,
                   BIT_OR(CASE WHEN fp.p_ts IS NULL OR e.ts < fp.p_ts THEN
                          CASE e.event_type WHEN 'click' THEN 1
                          WHEN 'error' THEN 2 WHEN 'signup' THEN 4
                          WHEN 'view' THEN 8 ELSE 0 END ELSE 0 END) AS mask,
                   MAX(CASE WHEN fp.p_ts IS NOT NULL AND fp.p_ts <=
                            fp.first_ts + INTERVAL {SHAPLEY_WINDOW_DAYS} DAY
                       THEN 1 ELSE 0 END)
            FROM '{sf_oracle}/events.parquet' e
            JOIN fp ON fp.user_id = e.user_id
            GROUP BY e.user_id"""
    ).fetchall()

    def v(S: int) -> float:
        n = sum(1 for _, m, _c in masks if m & S == m)
        c = sum(_c for _, m, _c in masks if m & S == m)
        return round(c / n, 6) if n else 0.0

    k = len(SHAPLEY_CHANNELS)
    got = {r["channel"]: r["shapley"] for r in rows}
    bits = dict(SHAPLEY_CHANNELS)
    for name, b in SHAPLEY_CHANNELS:
        others = [x for _, x in SHAPLEY_CHANNELS if x != b]
        phi = 0.0
        for size in range(k):
            w = factorial(size) * factorial(k - size - 1) / factorial(k)
            for combo in combinations(others, size):
                S = 0
                for x in combo:
                    S |= x
                phi += w * (v(S | b) - v(S))
        assert abs(got[name] - round(phi, 6)) < 5e-6, name
    assert bits  # silence unused warnings


def test_quantile_sketch_audit_bound_is_tight_but_real(spark, sf_oracle):
    """The GK contract holds at coarse accuracy (booleans true), and
    the audit is not vacuous: the coarse estimate's exact rank really
    can drift from 0.5 (recompute the rank interval directly and check
    it is a PROPER interval inside the band, not an exact hit every
    time by construction)."""
    import pyspark.sql.functions as F

    from target_iceberg_spark.plans.sketches import GK_LOW_ACC, GK_TARGET_Q
    from target_iceberg_spark.sources.tables import load_table

    rows = (
        all_specs()["agg_quantile_sketch_audit"].builder(spark, sf_oracle).collect()
    )
    assert rows and all(r["sketch_within_bound"] for r in rows)
    # direct recomputation of one group's rank interval
    ev = load_table(spark, sf_oracle, "events").where(
        F.col("event_type") == rows[0]["event_type"]
    )
    est = ev.agg(
        F.percentile_approx("value", GK_TARGET_Q, GK_LOW_ACC).alias("e")
    ).collect()[0]["e"]
    n = rows[0]["n"]
    lo = ev.where(F.col("value") < est).count() / n
    hi = ev.where(F.col("value") <= est).count() / n
    eps = 1.0 / GK_LOW_ACC
    assert lo <= GK_TARGET_Q + eps and hi >= GK_TARGET_Q - eps


def test_quality_trained_plan_shape(spark, sf_oracle):
    """Each IRLS step must broadcast the 1-row beta (no corpus-sized
    shuffle): the plan has only broadcast joins and aggregates — no
    SortMergeJoin, no Window, no row-at-a-time Python."""
    df = all_specs()["text_quality_trained"].builder(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row beta broadcasts


def test_holt_trend_ragged_series_and_per_type_final_state(spark, tmp_path):
    """ADVICE r11: oracle final state must be PER TYPE, not pinned to
    the global max day, and the plan must not crash on series shorter
    than the burn-in. Fixture: three types with 1 / 2 / 9 daily rows —
    the 1-day type is absent (no recursive base case), the 2-day type
    scores nothing (NULL MAEs, init-only final state), and the 9-day
    type's final state comes from ITS OWN last day even though the
    global max day is longer elsewhere."""
    import datetime

    import duckdb

    rows = []
    eid = 0
    for et, ndays in (("solo", 1), ("pair", 2), ("long", 9)):
        for d in range(ndays):
            for k in range(2):
                eid += 1
                rows.append(
                    (
                        eid,
                        datetime.datetime(2024, 1, 1 + d, 6 + k),
                        eid % 7,
                        et,
                        float((d + 1) * 10 + k + (3 if et == "long" else 0)),
                        "{}",
                    )
                )
    fixture = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    sf_dir = str(tmp_path / "sf_ragged")
    fixture.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    spec = all_specs()["events_holt_trend"]
    got = {r["event_type"]: r for r in spec.builder(spark, sf_dir).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    want = {r[0]: r for r in con.execute(spec.oracle).fetchall()}

    assert set(got) == set(want) == {"pair", "long"}  # "solo" dropped
    for et in got:
        g, w = got[et], want[et]
        assert g["n_scored"] == w[1]
        for gi, wi in zip(
            (g["mae_holt"], g["mae_naive"], g["final_level"], g["final_trend"]),
            w[2:],
        ):
            assert (gi is None) == (wi is None)
            if gi is not None:
                assert abs(gi - wi) < 1e-9, (et, gi, wi)
    assert got["pair"]["n_scored"] == 0
    assert got["pair"]["mae_holt"] is None
    # per-type final state: "pair" ends at its own day 2 (init state),
    # "long" at day 9 — under the old global-max pin "pair" would be NULL
    assert got["pair"]["final_level"] is not None
    assert got["long"]["n_scored"] == 9 - 2 - (5 - 2)
