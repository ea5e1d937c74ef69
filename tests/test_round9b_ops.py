"""Round-9 continuation operators (stats-family completion): Jarque-Bera
normality, the Cohen/Hedges/Cliff effect-size panel, and the t-closeness
privacy audit. Each test writes a tiny parquet events table and asserts
values hand-derived in the comments; float expectations are mirrored in
pure Python with the SAME IEEE expression order the engine declares, so
an engine-side formula drift breaks these rows first."""

from __future__ import annotations

import datetime as dt
import math

from storm_data_etl_spark.plans import load_all

REGISTRY = load_all()


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_jarque_bera_hand_moments(spark, tmp_path):
    """Type 'a' holds v = 1,2,3,4 — every raw moment is hand-exact:
    s1=10 s2=30 s3=100 s4=354; the central moments are dyadic-exact
    (m2=1.25, m3=0, m4=2.5625) so skew is exactly 0. Type 'b' is constant
    (m2=0) -> NULL statistics. NaN / NULL value rows and NULL types are
    excluded before any moment accumulates."""
    ts = dt.datetime(2024, 1, 1, 12)
    rows = [(i, ts, 1, "a", float(v), "{}") for i, v in enumerate([1, 2, 3, 4])]
    rows += [(10, ts, 1, "b", 5.0, "{}"), (11, ts, 1, "b", 5.0, "{}")]
    rows += [
        (20, ts, 1, "a", None, "{}"),
        (21, ts, 1, "a", float("nan"), "{}"),
        (22, ts, 1, None, 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in REGISTRY["jarque_bera_normality"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert (a.n, a.skew_e6) == (4, 0)
    # mirrored IEEE order: exkurt = m4/(m2*m2) - 3 with the exact inputs
    exk = 2.5625 / (1.25 * 1.25) - 3.0
    assert a.exkurt_e6 == math.floor(1e6 * exk)
    jb = 1e4 * (4.0 / 6.0) * (0.0 * 0.0 + exk * exk / 4.0)
    assert a.jb_e4 == math.floor(jb)
    b = got["b"]
    assert (b.n, b.skew_e6, b.exkurt_e6, b.jb_e4) == (2, None, None, None)


def test_effect_size_panel_hand_ranks(spark, tmp_path):
    """click = [1.00, 2.00, 2.00], purchase = [2.00, 3.00] (hundredths
    100/200/200 vs 200/300). Hand rank math: per-value (a,b,t) rows are
    (100:1,0,1) (200:2,1,3) (300:0,1,1) with below = 0,1,4; the doubled
    rank sums are r2a = 2+12 = 14, r2b = 6+10 = 16, so 2U_a = 14-12 = 2,
    2U_b = 16-6 = 10 and Cliff's delta = (2-10)/(2*3*2) = -2/3 — exactly
    the pair census (0 greater - 4 less) / 6 pairs. Moment side: ss1 =
    9 - 25/3, ss2 = 0.5, pooled over df=3."""
    ts = dt.datetime(2024, 1, 1, 12)
    rows = [
        (0, ts, 1, "click", 1.0, "{}"),
        (1, ts, 1, "click", 2.0, "{}"),
        (2, ts, 1, "click", 2.0, "{}"),
        (3, ts, 1, "purchase", 2.0, "{}"),
        (4, ts, 1, "purchase", 3.0, "{}"),
        (5, ts, 1, "view", 99.0, "{}"),  # other types excluded
        (6, ts, 1, "click", None, "{}"),  # null value excluded
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["effect_size_panel"].runner(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n1, r.n2) == (3, 2)
    assert r.cliffs_delta_e6 == math.floor(1e6 * (2 - 10) / (2.0 * 3.0 * 2.0))
    m1 = 500.0 / (100.0 * 3.0)
    m2 = 500.0 / (100.0 * 2.0)
    ss1 = 90000.0 / 10000.0 - (500.0 / 100.0) * (500.0 / 100.0) / 3.0
    ss2 = 130000.0 / 10000.0 - (500.0 / 100.0) * (500.0 / 100.0) / 2.0
    d = (m1 - m2) / math.sqrt((ss1 + ss2) / 3.0)
    assert r.cohens_d_e6 == math.floor(1e6 * d)
    g = d * (1.0 - 3.0 / (4.0 * 5.0 - 9.0))
    assert r.hedges_g_e6 == math.floor(1e6 * g)


def test_t_closeness_hand_emd(spark, tmp_path):
    """Two classes over hours {0,1} (m=2, N=4, global hour counts 2/2).
    Class ('a',0): hours 0,0,1 -> cross-multiplied steps |2*4-2*3| = 2
    then 0, t = 2/(3*4*1) = 1/6. Class ('b',0): hour 1 only ->
    |0*4-2*1| = 2 then 0, t = 2/(1*4*1) = 1/2 > 0.25 -> the only
    violator, exposing its 1 row."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 0), 1, "a", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 0), 1, "a", 2.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 1), 1, "a", 3.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 1), 1, "b", 4.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["t_closeness_audit"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert len(got) == 1
    r = got[0]
    assert (r.n_classes, r.classes_above_t, r.rows_at_risk) == (2, 1, 1)
    assert r.max_t_e6 == 500000


def test_t_closeness_identical_distribution_is_zero(spark, tmp_path):
    """A class whose hour distribution equals the global one has EMD
    exactly 0 — the audit's fixed point."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 0), 1, "a", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 1), 1, "a", 2.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0), 1, "b", 3.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 1), 1, "b", 4.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["t_closeness_audit"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    r = got[0]
    assert (r.n_classes, r.classes_above_t, r.rows_at_risk, r.max_t_e6) == (
        2,
        0,
        0,
        0,
    )


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_link_prediction_hand_graph(spark, tmp_path):
    """Co-purchase edges need >= 2 distinct orders: pairs {1,2} {2,3}
    {3,4} {1,3} each co-occur twice (edges), {1,4} once (NOT an edge —
    the floor drops it). Degrees 2,2,3,1; the only non-adjacent
    two-hop pairs are (1,4) and (2,4), both through part 3 ->
    cn = 1, ra_e6 = floor(1e6 / 3) = 333333."""
    rows = []
    orders = [
        (1, 1), (1, 2), (2, 1), (2, 2),        # edge 1-2
        (3, 2), (3, 3), (4, 2), (4, 3),        # edge 2-3
        (5, 3), (5, 4), (6, 3), (6, 4),        # edge 3-4
        (7, 1), (7, 3), (8, 1), (8, 3),        # edge 1-3
        (9, 1), (9, 4),                        # single co-occurrence: no edge
    ]
    spark.createDataFrame(
        orders, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = REGISTRY["link_prediction_scores"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert [
        (r.part_a, r.part_b, r.common_neighbors, r.ra_e6) for r in got
    ] == [(1, 4, 1, 333333), (2, 4, 1, 333333)]


def test_flesch_hand_counts(spark, tmp_path):
    """'aa bb. cc!' = 3 words, 2 sentence runs, 1 vowel run; 'zz zz' = 2
    words, floor-1 sentence, 0 vowel runs. A 300-word one-sentence doc
    goes deeply negative — exercising the sign-split floor mean (mirrored
    in Python with the engine's IEEE expression order)."""
    neg = ("a " * 300).strip()
    rows = [
        (0, "aa bb. cc!", "en", "s", 10),
        (1, "zz zz", "de", "s", 5),
        (2, neg, "fr", "s", 599),
        (3, neg + " b", "fr", "s", 601),
        (4, None, "en", "s", 0),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.lang: r
        for r in REGISTRY["flesch_readability_by_lang"].runner(
            spark, str(tmp_path)
        ).collect()
    }

    def fre_e4(w, s, syl):
        return math.floor(
            1e4 * (206.835 - 1.015 * (w / s) - 84.6 * (syl / w))
        )

    def fkg_e4(w, s, syl):
        return math.floor(1e4 * (0.39 * (w / s) + 11.8 * (syl / w) - 15.59))

    en = got["en"]
    assert (en.n_docs, en.mean_fre_e4, en.mean_fkg_e4) == (
        1,
        fre_e4(3, 2, 1),
        fkg_e4(3, 2, 1),
    )
    de = got["de"]
    assert (de.n_docs, de.mean_fre_e4) == (1, fre_e4(2, 1, 0))
    fr = got["fr"]
    f1, f2 = fre_e4(300, 1, 300), fre_e4(301, 1, 300)
    s = f1 + f2
    mean = s // 2 if s >= 0 else -((-s + 1) // 2)
    assert (fr.n_docs, fr.mean_fre_e4) == (2, mean)
    assert fr.min_fre_e4 == min(f1, f2) and fr.max_fre_e4 == max(f1, f2)


def test_query_likelihood_hand_smoothing(spark, tmp_path):
    """c_total = 9, cf = (spark:3, join:1, window:1). Scores mirrored in
    Python with the exact per-row ln-term order; d3 holds NO query term
    yet still scores (the Dirichlet smoothing point) and ranks below the
    term-bearing docs."""
    rows = [
        (1, "spark join window", "en", "s", 17),
        (2, "spark spark other", "en", "s", 17),
        (3, "nothing here extra", "en", "s", 18),
    ]
    _write_docs(spark, tmp_path, rows)
    got = REGISTRY["query_likelihood_dirichlet"].runner(
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 3

    def score_e4(dl, tf):
        mu, c = 2000.0, 9.0
        cf = {"spark": 3.0, "join": 1.0, "window": 1.0}
        s = 0.0
        for w in ("spark", "join", "window"):
            s += math.log((tf.get(w, 0.0) + mu * (cf[w] / c)) / (dl + mu))
        return math.floor(1e4 * s)

    exp = {
        1: score_e4(3, {"spark": 1.0, "join": 1.0, "window": 1.0}),
        2: score_e4(3, {"spark": 2.0}),
        3: score_e4(3, {}),
    }
    assert [(r.doc_id, r.ql_score_e4) for r in got] == sorted(
        ((d, s) for d, s in exp.items()), key=lambda x: (-x[1], x[0])
    )
    assert got[-1].doc_id == 3  # smoothed no-term doc ranks last, still present


def test_stream_replay_sessionize_hand_trace(spark, tmp_path):
    """User 1: events 10:50, 11:05 (15-min gap ACROSS the hour-batch
    boundary -> same session; a per-batch state reset would double-count)
    then 12:00 (55-min gap -> new session). Snapshots: batch 10h =
    (1 session, 1 event), batch 11h = (1, 2), batch 12h = (2, 3).
    User 2: one event -> (1, 1). last_ts = epoch-ns of the batch's last
    folded event."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 10, 50), 1, "a", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 11, 5), 1, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 0), 2, "a", 1.0, "{}"),
        (4, None, 1, "a", 1.0, "{}"),  # null ts dropped
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r.user_id, r.batch_h.hour): (r.n_sessions, r.n_events, r.last_ts)
        for r in REGISTRY["stream_replay_sessionize"].runner(
            spark, str(tmp_path)
        ).collect()
    }

    def ns(h, m):
        return int(dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc).timestamp()) * 10**9

    assert got == {
        (1, 10): (1, 1, ns(10, 50)),
        (1, 11): (1, 2, ns(11, 5)),
        (1, 12): (2, 3, ns(12, 0)),
        (2, 10): (1, 1, ns(10, 0)),
    }


def test_sessionize_fold_shared_with_streaming_kernel():
    """The replay certificate and the streaming kernel must fold through
    ONE function — the certificate is vacuous if the code paths diverge."""
    import inspect

    from storm_data_etl_spark.streaming import stateful as S

    src = inspect.getsource(S.streaming_sessionize)
    assert "sessionize_fold(" in src
    # the fold itself: fresh key, gap break, exact carry
    st = S.sessionize_fold(S.SESSIONIZE_ZERO, [100, 200], gap_ns=1000)
    assert st == (200, 1, 2)
    st = S.sessionize_fold(st, [1500], gap_ns=1000)   # 1300 > 1000 -> new
    assert st == (1500, 2, 3)
    st = S.sessionize_fold(st, [2400], gap_ns=1000)   # 900 <= 1000 -> same
    assert st == (2400, 2, 4)


def test_forecast_mase_hand_series(spark, tmp_path):
    """Type 'a': one event/day for 10 days, value = d dollars -> daily
    cents 100..1000. Naive AE = 100 x 9; seasonal-naive(7) AE = 700 x 3.
    MASE_e6 = (1e6 * 2100 * 9) div (900 * 3) = 7e6 (weekly lag is 7x
    WORSE than persistence on a pure trend — the gate working as
    designed). Constant type 'b' -> sae1 = 0 -> NULL."""
    rows = [
        (d, dt.datetime(2024, 1, d, 12), 1, "a", float(d), "{}")
        for d in range(1, 11)
    ]
    rows += [
        (100 + d, dt.datetime(2024, 1, d, 12), 1, "b", 5.0, "{}")
        for d in range(1, 9)
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in REGISTRY["forecast_mase_backtest"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    a = got["a"]
    assert (a.n_days, a.cnt1, a.sae1, a.cnt7, a.sae7) == (10, 9, 900, 3, 2100)
    assert a.mase_snaive_e6 == (1_000_000 * 2100 * 9) // (900 * 3)
    b = got["b"]
    assert (b.sae1, b.mase_snaive_e6) == (0, None)


def test_best_of_n_hand_order_stats(spark, tmp_path):
    """One source: 3 docs at reward 3250 (quality 0.325) + 1 at 10000
    (quality 1.0; band math in tests/test_round9_ops.py). E[max_n]*4^n =
    3250*3^n + 10000*(4^n - 3^n), truncated: n=1 -> 4937, n=2 -> 6203,
    n=4 -> 7864, n=8 -> 9324 — the curve rises toward the best sample,
    which is the whole point of best-of-n."""
    low = "!!!"
    high = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (0, low, "en", "s", 3),
        (1, low, "en", "s", 3),
        (2, low, "en", "s", 3),
        (3, high, "en", "s", 220),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.n: r
        for r in REGISTRY["best_of_n_reward_curve"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {1, 2, 4, 8}
    exp = {
        n: (3250 * 3**n + 10000 * (4**n - 3**n)) // 4**n for n in (1, 2, 4, 8)
    }
    assert {n: r.bon_emax_e4 for n, r in got.items()} == exp
    assert all(r.n_docs == 4 for r in got.values())
    # monotone non-decreasing in n — the defining property of E[max_n]
    vals = [got[n].bon_emax_e4 for n in (1, 2, 4, 8)]
    assert vals == sorted(vals)


def test_xcorr_hand_series(spark, tmp_path):
    """Clicks and purchases both ramp 100d cents over days 1..10 — every
    lag alignment is perfectly linear, so r = 1 at k = 0 (10 pairs),
    k = 1 (9 pairs), k = 7 (3 pairs). Expectations mirror the engine's
    sqrt(dx)*sqrt(dy) IEEE order exactly."""
    rows = []
    for d in range(1, 11):
        rows.append((d, dt.datetime(2024, 1, d, 12), 1, "click", float(d), "{}"))
        rows.append((100 + d, dt.datetime(2024, 1, d, 12), 1, "purchase", float(d), "{}"))
    _write_events(spark, tmp_path, rows)
    got = {
        r.k: r
        for r in REGISTRY["xcorr_lead_lag"].runner(spark, str(tmp_path)).collect()
    }
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert {k: r.n_days for k, r in got.items()} == {0: 10, 1: 9, 7: 3}

    def mirror(pairs):
        n = len(pairs)
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        num = n * sxy - sx * sy
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        return math.floor(1e6 * num / (math.sqrt(dx) * math.sqrt(dy)))

    for k in (0, 1, 7):
        pairs = [(100 * d, 100 * (d + k)) for d in range(1, 11 - k)]
        assert got[k].xcorr_e6 == mirror(pairs)


def test_cuped_removes_preperiod_imbalance(spark, tmp_path):
    """Users 1..4, y = 2x exactly (pre cents 100/200/300/400 on Jan 10,
    post = double on Jan 20). Pooled: covn = 4e5, varn = 2e5 -> theta = 2
    exactly; rho^2 = 1 -> var_reduction_e6 = 1e6. Raw lift = (400-600)
    cents = -2 dollars -> -20000 e4; CUPED subtracts theta * (-100 cents
    pre-imbalance) -> adjusted lift EXACTLY 0 — the estimator's whole
    point, hit on integers."""
    rows = []
    for u in (1, 2, 3, 4):
        rows.append((u, dt.datetime(2024, 1, 10), u, "click", float(u), "{}"))
        rows.append((10 + u, dt.datetime(2024, 1, 20), u, "click", 2.0 * u, "{}"))
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["cuped_adjusted_lift"].runner(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.n1) == (4, 2)
    assert r.theta_e6 == 2_000_000
    assert r.raw_lift_e4 == -20000
    assert r.cuped_lift_e4 == 0
    assert r.var_reduction_e6 == 1_000_000


def test_cuped_missing_period_users_coalesce_to_zero(spark, tmp_path):
    """A pre-only user (y = 0) and a post-only user (x = 0): n = 2,
    covn = -2e4, varn = 1e4 -> theta = -2; raw lift (0-200)/100 = -2
    dollars; CUPED: -200 - (-2)(100) = 0; rho^2 = 1. The coalesce-to-0
    path IS the estimator input, not a dropped row."""
    rows = [
        (1, dt.datetime(2024, 1, 10), 1, "click", 1.0, "{}"),   # treat, pre only
        (2, dt.datetime(2024, 1, 20), 2, "click", 2.0, "{}"),   # ctrl, post only
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["cuped_adjusted_lift"].runner(spark, str(tmp_path)).collect()
    r = got[0]
    assert (r.n, r.n1) == (2, 1)
    assert r.theta_e6 == -2_000_000
    assert r.raw_lift_e4 == -20000
    assert r.cuped_lift_e4 == 0
    assert r.var_reduction_e6 == 1_000_000


def test_km_survival_hand_curve(spark, tmp_path):
    """Five sessions: durations 10m (death), 0m (censored: within one gap
    of the global max), 0m (censored: IS the global max), 10m (death),
    5m (death). Risk sets by suffix sum: n(5) = 3, n(10) = 2; the
    censored 0-minute sessions count at risk for NO death time below
    them but never die. S(5) = 1 - 1/3; S(10) = S(5) * (1 - 2/2) = 0."""
    d = dt.datetime
    rows = [
        # user 1, session A: 10:00-10:10 (dur 10, death)
        (0, d(2024, 1, 1, 10, 0), 1, "a", 1.0, "{}"),
        (1, d(2024, 1, 1, 10, 10), 1, "a", 1.0, "{}"),
        # user 1, session B: 12:00 single (dur 0, censored: 20m from max)
        (2, d(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
        # user 2, session C: 12:20 single (dur 0, censored: global max)
        (3, d(2024, 1, 1, 12, 20), 2, "a", 1.0, "{}"),
        # user 3, session D: 9:00-9:10 (dur 10, death)
        (4, d(2024, 1, 1, 9, 0), 3, "a", 1.0, "{}"),
        (5, d(2024, 1, 1, 9, 10), 3, "a", 1.0, "{}"),
        # user 4, session E: 8:00-8:05 (dur 5, death)
        (6, d(2024, 1, 1, 8, 0), 4, "a", 1.0, "{}"),
        (7, d(2024, 1, 1, 8, 5), 4, "a", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = [
        (r.t_min, r.n_risk, r.d, r.surv_e6)
        for r in sorted(
            REGISTRY["km_survival_curve"].runner(spark, str(tmp_path)).collect(),
            key=lambda r: r.t_min,
        )
    ]
    s5 = 1.0 * (1.0 - 1.0 / 3.0)  # mirrored fold order: seed 1.0, then factor
    assert got == [
        (5, 3, 1, math.floor(1e6 * s5)),
        (10, 2, 2, math.floor(1e6 * (s5 * (1.0 - 2.0 / 2.0)))),
    ]


def test_sessionize_replay_matches_live_stream(spark, tmp_path):
    """The sessionize certificate's replay equals the REAL streaming
    kernel run as an actual micro-batched stream: the same rows flow
    through streaming_sessionize (applyInPandasWithState, one file per
    hour-batch, maxFilesPerTrigger=1) and the final per-key
    (n_sessions, n_events, last_ts) must equal the certificate's last
    snapshot — including the session that SPANS the 10h->11h batch
    boundary (15-min gap: the state carry is the thing under test)."""
    from storm_data_etl_spark.streaming.stateful import streaming_sessionize

    d = dt.datetime
    rows = [
        (0, d(2024, 1, 1, 10, 50), 1, "a", 1.0, "{}"),
        (1, d(2024, 1, 1, 11, 5), 1, "a", 1.0, "{}"),
        (2, d(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
        (3, d(2024, 1, 1, 10, 0), 2, "a", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)

    def ns(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9

    src = f"{tmp_path}/stream_src"
    schema = "event_id long, ts_ns long, user_id long"
    batches = {}
    for (eid, ts, uid, *_rest) in rows:
        batches.setdefault(ts.hour, []).append((eid, ns(ts), uid))
    for h in sorted(batches):
        spark.createDataFrame(batches[h], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_sessionize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_cert_live")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = spark.sql(
        "SELECT user_id, n_sessions, n_events, last_ts FROM sess_cert_live"
    ).collect()
    final_live = {}
    for r in live:
        if r.user_id not in final_live or r.n_events > final_live[r.user_id].n_events:
            final_live[r.user_id] = r

    cert = REGISTRY["stream_replay_sessionize"].runner(spark, str(tmp_path)).collect()
    final_cert = {}
    for r in cert:
        if r.user_id not in final_cert or r.n_events > final_cert[r.user_id].n_events:
            final_cert[r.user_id] = r
    assert set(final_live) == set(final_cert) == {1, 2}
    for uid in (1, 2):
        lr, cr = final_live[uid], final_cert[uid]
        assert (lr.n_sessions, lr.n_events, lr.last_ts) == (
            cr.n_sessions,
            cr.n_events,
            cr.last_ts,
        )
    # the boundary-spanning behavior, pinned explicitly
    assert (final_cert[1].n_sessions, final_cert[1].n_events) == (2, 3)


def test_brown_forsythe_hand_medians(spark, tmp_path):
    """Type a: [1,2,3] dollars -> lower median 200 cents, z = 100,0,100.
    Type b: [1,1,5,5] -> EVEN n, lower median 100 (the (n+1) div 2 rank
    — the exact convention both engines must share), z = 0,0,400,400.
    A = floor(7*200^2/3) + floor(7*800^2/4) = 93333 + 1120000; the F is
    the anova wide-integer form on those exact ints."""
    ts = dt.datetime(2024, 1, 1, 12)
    rows = [(i, ts, 1, "a", float(v), "{}") for i, v in enumerate([1, 2, 3])]
    rows += [
        (10 + i, ts, 1, "b", float(v), "{}") for i, v in enumerate([1, 1, 5, 5])
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["levene_brown_forsythe"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.k) == (7, 2)
    a_floor = (7 * 200 * 200) // 3 + (7 * 800 * 800) // 4
    s, x2, n, k = 1000, 100 * 100 * 2 + 400 * 400 * 2, 7, 2
    fnum = 10**6 * (a_floor - s * s) * (n - k)
    fden = (n * x2 - a_floor) * (k - 1)
    assert r.bf_f_e6 == fnum // fden


def test_log_rank_hand_steps(spark, tmp_path):
    """The KM fixture with arms = user_id % 2: steps (dur, d, n, n1) =
    (5,1,3,2) then (10,2,2,2); O1 = 2, E1 = 1*(2/3) + 2*(2/2), V comes
    only from the dur-5 step (the dur-10 step has n1 = n -> zero
    variance term), so z = (2 - E1)/sqrt(V) — mirrored in the fold
    order."""
    d = dt.datetime
    rows = [
        (0, d(2024, 1, 1, 10, 0), 1, "a", 1.0, "{}"),
        (1, d(2024, 1, 1, 10, 10), 1, "a", 1.0, "{}"),
        (2, d(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
        (3, d(2024, 1, 1, 12, 20), 2, "a", 1.0, "{}"),
        (4, d(2024, 1, 1, 9, 0), 3, "a", 1.0, "{}"),
        (5, d(2024, 1, 1, 9, 10), 3, "a", 1.0, "{}"),
        (6, d(2024, 1, 1, 8, 0), 4, "a", 1.0, "{}"),
        (7, d(2024, 1, 1, 8, 5), 4, "a", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["log_rank_test"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert len(got) == 1
    r = got[0]
    assert (r.o1, r.n_steps) == (2, 2)
    e1 = 0.0
    for dd, nn, n1 in ((1, 3, 2), (2, 2, 2)):
        e1 = e1 + float(dd) * (float(n1) / float(nn))
    assert r.e1_e6 == math.floor(1e6 * e1)
    v = 0.0
    for dd, nn, n1 in ((1, 3, 2), (2, 2, 2)):
        frac = float(n1) / float(nn)
        if nn > 1:
            v = v + float(dd) * frac * (1.0 - frac) * (
                float(nn - dd) / float(nn - 1)
            )
    assert r.z_e6 == math.floor(1e6 * (2.0 - e1) / math.sqrt(v))


def test_did_hand_panel(spark, tmp_path):
    """Constructed common trend +2 dollars in both arms plus a true +3
    treatment effect: treated pre/post means 1 -> 6, control 2 -> 4.
    treat_delta = 5, control_delta = 2, DiD = 3 exactly — the raw
    post-period comparison (6 vs 4 = +2) would MISREAD the effect; DiD
    recovers it."""
    pre, post = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 20)
    rows = [
        (0, pre, 1, "a", 1.0, "{}"),    # treat pre
        (1, post, 1, "a", 6.0, "{}"),   # treat post
        (2, pre, 2, "a", 2.0, "{}"),    # ctrl pre
        (3, post, 2, "a", 4.0, "{}"),   # ctrl post
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["diff_in_differences"].runner(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.treat_delta_e4, r.control_delta_e4, r.did_e4) == (
        4,
        50000,
        20000,
        30000,
    )
