"""Round-9 second-wave operators: McNemar, Mantel-Haenszel, the Murphy
Brier decomposition, GRPO group advantages, DoReMi domain weights,
SNIPS/doubly-robust off-policy value, HITS, and the Zipf/Heaps law fits.
Each test writes tiny parquet tables and asserts values hand-derived in
the comments; float expectations are mirrored in pure Python with the
SAME IEEE expression order the engine declares, so an engine-side formula
drift breaks these rows first."""

from __future__ import annotations

import datetime as dt
import math

from storm_data_etl_spark.plans import load_all

REGISTRY = load_all()

TS = dt.datetime(2024, 1, 1, 12)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _tdiv(a: int, b: int) -> int:
    """Sign-split truncating division — the identity both engines use."""
    assert b > 0
    return a // b if a >= 0 else -((-a) // b)


def test_mcnemar_hand_cells(spark, tmp_path):
    """u1,u2 click-only; u3 purchase-only; u4 both; u5 view-only ->
    n11=1 n10=2 n01=1 n00=1. chi2 = 1e6*(2-1)^2/3 = 333333; the
    continuity-corrected form clamps |b-c|-1 = 0 -> 0."""
    rows = [
        (0, TS, 1, "click", 1.0, "{}"),
        (1, TS, 2, "click", 1.0, "{}"),
        (2, TS, 3, "purchase", 1.0, "{}"),
        (3, TS, 4, "click", 1.0, "{}"),
        (4, TS, 4, "purchase", 1.0, "{}"),
        (5, TS, 5, "view", 1.0, "{}"),
        (6, TS, None, "click", 1.0, "{}"),  # null user excluded
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["mcnemar_test"].runner(spark, str(tmp_path)).collect()[0]
    assert (r.n_pairs, r.n11, r.n10, r.n01, r.n00) == (5, 1, 2, 1, 1)
    assert r.chi2_e6 == _tdiv(1000000 * 1 * 1, 3) == 333333
    assert r.chi2_cc_e6 == 0


def test_mcnemar_no_discordance_is_null(spark, tmp_path):
    """All pairs concordant -> both statistics NULL (test undefined)."""
    rows = [
        (0, TS, 1, "click", 1.0, "{}"),
        (1, TS, 1, "purchase", 1.0, "{}"),
        (2, TS, 2, "view", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["mcnemar_test"].runner(spark, str(tmp_path)).collect()[0]
    assert (r.n10, r.n01) == (0, 0)
    assert r.chi2_e6 is None and r.chi2_cc_e6 is None


def test_mantel_haenszel_hand_strata(spark, tmp_path):
    """Stratum 'a': a=2 b=1 c=1 d=2 (n=6) -> r_term = 1e6*4//6 = 666666,
    s_term = 1e6*1//6 = 166666. Stratum 'b': a=b=c=d=1 (n=4) -> 250000
    each. R = 916666, S = 416666, OR = 1e6*916666 // 416666."""
    rows = [
        # stratum a: exposed = even user, outcome = value >= 250
        (0, TS, 2, "a", 300.0, "{}"),   # a
        (1, TS, 4, "a", 300.0, "{}"),   # a
        (2, TS, 6, "a", 100.0, "{}"),   # b
        (3, TS, 1, "a", 320.0, "{}"),   # c
        (4, TS, 3, "a", 10.0, "{}"),    # d
        (5, TS, 5, "a", 10.0, "{}"),    # d
        # stratum b: one per cell; 250.0 boundary is INCLUSIVE
        (6, TS, 2, "b", 250.0, "{}"),   # a
        (7, TS, 4, "b", 249.0, "{}"),   # b
        (8, TS, 1, "b", 250.0, "{}"),   # c
        (9, TS, 3, "b", 0.0, "{}"),     # d
        # excluded rows
        (10, TS, None, "a", 300.0, "{}"),
        (11, TS, 2, None, 300.0, "{}"),
        (12, TS, 2, "a", None, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["mantel_haenszel_or"].runner(spark, str(tmp_path)).collect()[0]
    assert (r.n_strata, r.n_rows) == (2, 10)
    assert r.r_e6 == 666666 + 250000
    assert r.s_e6 == 166666 + 250000
    assert r.or_mh_e6 == _tdiv(1000000 * 916666, 416666)


def test_brier_decomposition_hand_bins(spark, tmp_path):
    """Six rows over three bins (p_e2 = 100, 0, 55; one purchase and one
    view each). sb = 2*10000 + 2025 + 3025 = 25050 -> brier_e6 = 417500.
    Per-bin REL terms (mirrored IEEE order): bins 100 and 0 contribute
    0.5 each, bin 55 contributes 2*(0.55-0.5)^2; RES = 0 everywhere
    (every bin's outcome rate equals the base rate 0.5); UNC = 250000.
    Identity check: brier = rel - res + unc holds exactly here because
    within-bin forecast variance is zero."""
    rows = [
        (0, TS, 1, "purchase", 1000.0, "{}"),
        (1, TS, 1, "view", 1000.0, "{}"),
        (2, TS, 1, "view", 0.0, "{}"),
        (3, TS, 1, "purchase", 0.0, "{}"),
        (4, TS, 1, "purchase", 550.0, "{}"),
        (5, TS, 1, "view", 550.0, "{}"),
        (6, TS, 1, "view", None, "{}"),  # null value excluded
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["brier_decomposition"].runner(spark, str(tmp_path)).collect()[0]
    assert r.n == 6
    assert r.brier_e6 == _tdiv(1000000 * 25050, 10000 * 6) == 417500
    rel_100 = math.floor(1e6 * 2 * (200 / (100.0 * 2) - 1 / 2.0) ** 2)
    rel_0 = math.floor(1e6 * 2 * (0 / (100.0 * 2) - 1 / 2.0) ** 2)
    rel_55 = math.floor(1e6 * 2 * (110 / (100.0 * 2) - 1 / 2.0) ** 2)
    assert r.reliability_e6 == (rel_100 + rel_0 + rel_55) // 6
    assert r.resolution_e6 == 0
    assert r.uncertainty_e6 == _tdiv(1000000 * 3 * 3, 36) == 250000
    assert r.brier_e6 == r.reliability_e6 - r.resolution_e6 + r.uncertainty_e6


def test_grpo_advantages_hand_groups(spark, tmp_path):
    """Group u1 = cents [100, 200, 300]: mean 200, population var
    (mirrored order q/n - mean^2) = 140000/3 - 40000; advantages are
    symmetric so sum_adv is the floor-asymmetry only. u2 is a
    singleton, u3 zero-variance -> both degenerate (NULL -> zero
    contribution). All rows share type 'a'."""
    rows = [
        (0, TS, 1, "a", 1.0, "{}"),
        (1, TS, 1, "a", 2.0, "{}"),
        (2, TS, 1, "a", 3.0, "{}"),
        (3, TS, 2, "a", 7.0, "{}"),
        (4, TS, 3, "a", 5.0, "{}"),
        (5, TS, 3, "a", 5.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["grpo_group_advantages"].runner(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    mean = 600 / 3.0
    var = 140000 / 3.0 - mean * mean
    advs = [math.floor(1e4 * ((c - mean) / math.sqrt(var))) for c in (100, 200, 300)]
    assert (r.n, r.n_degenerate) == (6, 3)
    assert r.n_pos == sum(1 for a in advs if a > 0)
    assert r.sum_adv_e4 == sum(advs)
    assert r.sum_abs_adv_e4 == sum(abs(a) for a in advs)
    # |adv| for the extremes is ~1.2247 sigma -> below the 2-sigma line
    assert r.n_over_2sigma == 0


def test_doremi_weights_hand_iteration(spark, tmp_path):
    """Source 'a' (mean chars 100) sits below the global mean -> excess
    clamps to 0 -> its multiplier is exp(0) = 1. Source 'b' (mean 1000)
    carries excess ln(1001) - ln(401); the 3 unrolled steps are mirrored
    exactly in Python including the per-step floor and renormalize."""
    rows = [
        (0, "t", "en", "a", 100),
        (1, "t", "en", "a", 100),
        (2, "t", "en", "b", 1000),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.source: r
        for r in REGISTRY["doremi_domain_weights"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    ex_a = math.floor(1e6 * max(math.log(1.0 + 200 / 2.0) - math.log(1.0 + 1200 / 3.0), 0.0))
    ex_b = math.floor(1e6 * max(math.log(1.0 + 1000 / 1.0) - math.log(1.0 + 1200 / 3.0), 0.0))
    assert ex_a == 0
    assert got["a"].excess_e6 == ex_a and got["b"].excess_e6 == ex_b

    w = {"a": 1000000, "b": 1000000}
    expect = {}
    for i in (1, 2, 3):
        u = {
            s: math.floor(w[s] * math.exp({"a": ex_a, "b": ex_b}[s] / 1000000.0))
            for s in w
        }
        z = sum(u.values())
        w = {s: _tdiv(1000000 * u[s], z) for s in u}
        expect[i] = dict(w)
    for s in ("a", "b"):
        assert (got[s].w1_e6, got[s].w2_e6, got[s].w3_e6) == (
            expect[1][s],
            expect[2][s],
            expect[3][s],
        ), s
    # weight flows toward the excess-loss domain monotonically
    assert got["b"].w1_e6 <= got["b"].w2_e6 <= got["b"].w3_e6
    assert got["b"].w3_e6 > got["a"].w3_e6


def test_snips_dr_hand_rows(spark, tmp_path):
    """Single context 0 (target purchase): one purchase r=100 (matched,
    w = c_x/c_ax = 2) and one click r=50. q_hat(0,purchase) = 100 ->
    DR term is 100 for both rows (residual vanishes); SNIPS = the
    matched row's reward = 100 (1e6 at e4 cents); ESS of one weighted
    row = 1.00."""
    rows = [
        (0, TS, 0, "purchase", 1.0, "{}"),
        (1, TS, 16, "click", 0.5, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["snips_dr_policy_value"].runner(spark, str(tmp_path)).collect()[0]
    assert (r.n_logged, r.n_matched) == (2, 1)
    assert r.snips_value_e4 == 1000000
    assert r.dr_value_e4 == 1000000
    assert r.ess_e2 == 100


def test_hits_hand_graph(spark, tmp_path):
    """Edges s1->c1, s1->c2, s2->c1 (via a one-lineitem-per-order join).
    a1: c1=2 c2=1; h1: s1=3 s2=2; a2: c1=5 c2=3; h2: s1=8 s2=5.
    Authority norms 1e6 and 600000; hub norms 1e6 and 625000."""
    spark.createDataFrame(
        [(1, 101), (2, 101), (3, 102)], "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, 11), (2, 12), (3, 11)], "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        (r.kind, r.node): r
        for r in REGISTRY["hits_hub_authority"].runner(spark, str(tmp_path)).collect()
    }
    c1, c2 = 1000000 + 101, 1000000 + 102
    assert got[("authority", c1)].score == 5
    assert got[("authority", c2)].score == 3
    assert got[("hub", 11)].score == 8
    assert got[("hub", 12)].score == 5
    assert got[("authority", c1)].norm_e6 == 1000000
    assert got[("authority", c2)].norm_e6 == _tdiv(1000000 * 3, 5)
    assert got[("hub", 11)].norm_e6 == 1000000
    assert got[("hub", 12)].norm_e6 == _tdiv(1000000 * 5, 8)


def _ols_mirror(points):
    """Mirror of the engines' quantize-then-closed-form OLS."""
    pts = [
        (math.floor(1e5 * math.log(xr)), math.floor(1e5 * math.log(yr)))
        for xr, yr in points
    ]
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    return n, sx, sy, sxy, sxx, syy


def test_zipf_fit_hand_counts(spark, tmp_path):
    """Counts a=6 b=3 c=1 at ranks 1,2,3; the OLS over the three
    quantized (ln rank, ln count) points is mirrored bit-for-bit."""
    rows = [
        (0, "a a a a b b c", "en", "x", 13),
        (1, "a a b", "en", "x", 5),
    ]
    _write_docs(spark, tmp_path, rows)
    r = REGISTRY["zipf_law_fit"].runner(spark, str(tmp_path)).collect()[0]
    n, sx, sy, sxy, sxx, syy = _ols_mirror([(1, 6), (2, 3), (3, 1)])
    num = n * sxy - sx * sy
    den = float(n * sxx - sx * sx)
    deny = float(n * syy - sy * sy)
    slope = num / den
    assert r.n == 3
    assert r.slope_e6 == math.floor(1e6 * slope)
    assert r.intercept_e6 == math.floor((1e6 / 1e5) * (sy - slope * sx) / float(n))
    assert r.r2_e6 == math.floor(1e6 * slope * (num / deny))
    # a 6/3/1 head is steeper than Zipf's -1
    assert r.slope_e6 < -1000000


def test_heaps_fit_hand_docs(spark, tmp_path):
    """Source 'x': docs with (tokens, types) = (4,4), (4,2), (2,2) —
    OLS mirrored exactly (note the DOUBLE-form closed expression).
    Source 'y' has a single doc -> zero OLS denominator -> NULL; a
    one-token doc is filtered before the fit."""
    rows = [
        (0, "a b c d", "en", "x", 7),
        (1, "a a b b", "en", "x", 7),
        (2, "a b", "en", "x", 3),
        (3, "q r s", "en", "y", 5),
        (4, "lone", "en", "y", 4),  # 1 token -> excluded
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.source: r
        for r in REGISTRY["heaps_law_fit"].runner(spark, str(tmp_path)).collect()
    }
    n, sx, sy, sxy, sxx, _ = _ols_mirror([(4, 4), (4, 2), (2, 2)])
    num = float(n) * sxy - float(sx) * sy
    den = float(n) * sxx - float(sx) * sx
    slope = num / den
    x = got["x"]
    assert x.n_docs == 3
    assert x.beta_e6 == math.floor(1e6 * slope)
    assert x.logk_e6 == math.floor((1e6 / 1e5) * (sy - slope * sx) / float(n))
    y = got["y"]
    assert y.n_docs == 1 and y.beta_e6 is None and y.logk_e6 is None


def test_shapley_attribution_hand_lattice(spark, tmp_path):
    """Channels a (bit 1) and b (bit 2). Converted users: mask a (u1),
    mask a|b (u3), mask 0 (u4, baseline). v = [1,2,1,3] over S=0..3.
    phi_a*2! = (v1-v0) + (v3-v2) = 3 -> 1500000 at e6;
    phi_b*2! = (v2-v0) + (v3-v1) = 1 -> 500000. Efficiency:
    sum(phi_num) = k!*(v(full)-v(empty)) = 2*2 = 4."""
    rows = [
        (0, TS, 1, "a", 1.0, "{}"),
        (1, TS, 1, "purchase", 1.0, "{}"),
        (2, TS, 2, "b", 1.0, "{}"),
        (3, TS, 3, "a", 1.0, "{}"),
        (4, TS, 3, "b", 1.0, "{}"),
        (5, TS, 3, "purchase", 1.0, "{}"),
        (6, TS, 4, "purchase", 1.0, "{}"),
        (7, TS, None, "a", 1.0, "{}"),  # null user excluded
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.channel: r
        for r in REGISTRY["shapley_channel_attribution"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"a", "b"}
    assert got["a"].n_channels == 2 and got["b"].n_channels == 2
    assert got["a"].phi_num == 3 and got["a"].phi_e6 == 1500000
    assert got["b"].phi_num == 1 and got["b"].phi_e6 == 500000
    # efficiency axiom: attributions sum to v(full) - v(empty), times k!
    assert got["a"].phi_num + got["b"].phi_num == 2 * (3 - 1)


def test_secret_entropy_hand_candidates(spark, tmp_path):
    """Three 8-char runs in source 'x': 'AAAAAAAA' (0 bits),
    'ABABABAB' (1 bit), 'abcdefgh' (3 bits -> flagged at 2.75);
    a 7-char run never becomes a candidate. Terms mirrored: each
    distinct char contributes floor(1e6*(c/n)*log2(n/c))."""
    rows = [
        (0, "xx AAAAAAAA yy", "en", "x", 14),
        (1, "ABABABAB and abcdefgh", "en", "x", 21),
        (2, "short abcdefg run", "en", "y", 17),  # 7 chars: no candidate
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.source: r
        for r in REGISTRY["secret_entropy_audit"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {"x"}
    x = got["x"]
    assert (x.n_candidates, x.n_docs) == (3, 2)
    t_uniform = 8 * math.floor(1e6 * (1 / 8.0) * (math.log(8 / 1.0) / math.log(2.0)))
    t_two = 2 * math.floor(1e6 * (4 / 8.0) * (math.log(8 / 4.0) / math.log(2.0)))
    assert x.max_entropy_e6 == t_uniform == 3000000
    assert t_two == 1000000
    assert x.n_flagged == 1 and x.flagged_chars == 8


def test_secret_entropy_production_config(spark, tmp_path):
    """The parametric form at the PRODUCTION constants (24, 4.5 bits):
    a 26-char random-looking key flags; a 26-char low-entropy run and a
    23-char key-like run do not (too uniform / too short)."""
    from storm_data_etl_spark.plans.corpus_queries import secret_entropy_scan

    key = "aK9zQ2mXv7Lp4Rt8Wb3Yc6Nd1F"          # 26 chars, 24 distinct
    dull = "aaaaaaaaaaaaaaaaaaaaaaaaab"          # 26 chars, 2 distinct
    short = "aK9zQ2mXv7Lp4Rt8Wb3Yc6N"            # 23 chars
    assert len(key) == 26 and len(dull) == 26 and len(short) == 23
    rows = [
        (0, f"token {key} end", "en", "x", 40),
        (1, f"pad {dull} end", "en", "x", 40),
        (2, f"pad {short} end", "en", "x", 40),
    ]
    _write_docs(spark, tmp_path, rows)
    got = secret_entropy_scan(
        spark, str(tmp_path), min_len=24, thresh_e6=4500000
    ).collect()
    assert len(got) == 1
    x = got[0]
    assert x.n_candidates == 2  # key + dull; the 23-char run is excluded
    assert x.n_flagged == 1 and x.flagged_chars == 26
    # mirror the flagged key's entropy: 22 singles + 2 doubles over n=26
    from collections import Counter

    cnt = Counter(key)
    ent = sum(
        math.floor(1e6 * (c / 26.0) * (math.log(26.0 / c) / math.log(2.0)))
        for c in cnt.values()
    )
    assert x.max_entropy_e6 == ent and ent >= 4500000


def test_sampled_shapley_full_factorial_equals_exact(spark, tmp_path):
    """Fed ALL k! = 2 permutations, the permutation estimator's rational
    mean EQUALS the exact lattice query: phi_a = 3/2, phi_b = 1/2 on the
    hand lattice (the scale path is sampling error only, never formula
    drift)."""
    import itertools

    from storm_data_etl_spark.operators.attribution import (
        explicit_perms,
        sampled_shapley,
    )
    from storm_data_etl_spark.plans.tables import t as _t

    rows = [
        (0, TS, 1, "a", 1.0, "{}"),
        (1, TS, 1, "purchase", 1.0, "{}"),
        (2, TS, 2, "b", 1.0, "{}"),
        (3, TS, 3, "a", 1.0, "{}"),
        (4, TS, 3, "b", 1.0, "{}"),
        (5, TS, 3, "purchase", 1.0, "{}"),
        (6, TS, 4, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    ev = _t(spark, str(tmp_path), "events")
    perms = explicit_perms(spark, [list(p) for p in itertools.permutations(range(2))])
    got = {r.channel: r for r in sampled_shapley(ev, perms=perms).collect()}
    # exact phi (times k! = 2) from the lattice hand test: a -> 3, b -> 1
    assert (got["a"].phi_num, got["a"].phi_den) == (3, 2)
    assert (got["b"].phi_num, got["b"].phi_den) == (1, 2)


def test_sampled_shapley_lcg_sample_is_deterministic_and_close(spark, tmp_path):
    """The LCG-keyed sample: identical across runs (same seed), and with
    enough permutations the estimate lands within sampling error of the
    exact lattice values on the hand fixture."""
    from storm_data_etl_spark.operators.attribution import sampled_shapley
    from storm_data_etl_spark.plans.tables import t as _t

    rows = [
        (0, TS, 1, "a", 1.0, "{}"),
        (1, TS, 1, "purchase", 1.0, "{}"),
        (2, TS, 2, "b", 1.0, "{}"),
        (3, TS, 3, "a", 1.0, "{}"),
        (4, TS, 3, "b", 1.0, "{}"),
        (5, TS, 3, "purchase", 1.0, "{}"),
        (6, TS, 4, "purchase", 1.0, "{}"),
        (7, TS, 5, "c", 1.0, "{}"),  # third channel, unconverted
    ]
    _write_events(spark, tmp_path, rows)
    ev = _t(spark, str(tmp_path), "events")
    a = sorted(sampled_shapley(ev, n_perms=48, seed=7).collect())
    b = sorted(sampled_shapley(ev, n_perms=48, seed=7).collect())
    assert a == b  # bit-identical replay
    got = {r.channel: (r.phi_num, r.phi_den) for r in a}
    assert set(got) == {"a", "b", "c"}
    # exact values: phi_a = 1.5, phi_b = 0.5, phi_c = 0 (dummy channel:
    # adds no conversions to any coalition -> EVERY sampled marginal is 0)
    assert got["c"][0] == 0
    est_a = got["a"][0] / got["a"][1]
    est_b = got["b"][0] / got["b"][1]
    assert abs(est_a - 1.5) <= 0.5 and abs(est_b - 0.5) <= 0.5
    # efficiency holds per-permutation, so it holds for the mean exactly:
    # sum of estimates == v(full) - v(empty) == 2
    tot = sum(n / d for n, d in got.values())
    assert abs(tot - 2.0) < 1e-9


T_HIGH = "the quick brown fox jumps over the lazy dog " * 5
T_LOW = "!!!"
T_MIX = "the fox runs far away " * 4
T_NEG_A = "a" * 60
T_NEG_B = "the fox runs far away now"


def test_friedman_hand_blocks(spark, tmp_path):
    """s1 rating blocks (2,2,2),(0,0,0),(2,1,1),(0,1,0),(1,0,0) ->
    doubled midranks (4,4,4),(4,4,4),(6,3,3),(3,6,3),(6,3,3):
    R = (23,20,17), sum d^2 = 258, chi2 = 2*18/18 = 2 -> 2000000.
    s2's two blocks are fully tied -> denominator 0 -> NULL."""
    rows = [
        (1, T_HIGH, "en", "s1", len(T_HIGH)),
        (2, T_LOW, "en", "s1", len(T_LOW)),
        (3, T_MIX, "en", "s1", len(T_MIX)),
        (4, T_NEG_A, "en", "s1", len(T_NEG_A)),
        (5, T_NEG_B, "en", "s1", len(T_NEG_B)),
        (6, T_HIGH, "en", "s2", len(T_HIGH)),
        (7, T_HIGH, "en", "s2", len(T_HIGH)),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r.source: r
        for r in REGISTRY["friedman_test"].runner(spark, str(tmp_path)).collect()
    }
    r1 = got["s1"]
    assert (r1.n, r1.rs1, r1.rs2, r1.rs3) == (5, 23, 20, 17)
    assert r1.rs1 + r1.rs2 + r1.rs3 == 12 * r1.n  # doubled ranks sum to 12/block
    assert r1.chi2_e6 == 2000000
    assert got["s2"].chi2_e6 is None


def _pacf_mirror(daily):
    """Mirror of both engines' pipeline: integer lag sums -> per-lag rho
    doubles -> Durbin-Levinson level-2/3, same expression order."""
    out = {}
    for lag in (1, 2, 3):
        pairs = [
            (ca, cb)
            for da, ca in daily
            for db, cb in daily
            if da - db == lag
        ]
        if not pairs:
            continue
        n = len(pairs)
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx > 0 and vy > 0:
            out[lag] = (n, (n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy)))
    return out


def test_pacf_hand_series(spark, tmp_path):
    """Daily counts (3,1,4,1,5,9,2,6) over Jan 1-8: rho/phi mirrored in
    Python with the identical expression order; pacf1 = floor(1e4*rho1)
    and the level-2/3 recursion match exactly."""
    counts = [3, 1, 4, 1, 5, 9, 2, 6]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 1, day, 12), 1, "t", 1.0, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["pacf_durbin_levinson"].runner(spark, str(tmp_path)).collect()[0]
    base = dt.date(2024, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
    daily = [(base + i, c) for i, c in enumerate(counts)]
    rho = _pacf_mirror(daily)
    assert (r.n1, r.n2, r.n3) == (rho[1][0], rho[2][0], rho[3][0]) == (7, 6, 5)
    rho1, rho2, rho3 = rho[1][1], rho[2][1], rho[3][1]
    assert r.pacf1_e4 == math.floor(1e4 * rho1)
    phi22 = (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1)
    assert r.pacf2_e4 == math.floor(1e4 * phi22)
    phi21 = rho1 * (1.0 - phi22)
    phi33 = (rho3 - phi21 * rho2 - phi22 * rho1) / (
        1.0 - phi21 * rho1 - phi22 * rho2
    )
    assert r.pacf3_e4 == math.floor(1e4 * phi33)


def test_pacf_short_series_nulls(spark, tmp_path):
    """Two days only: lag-1 has one pair (zero variance -> dropped), so
    every coefficient is NULL rather than Inf/NaN."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 12), 1, "t", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 2, 12), 1, "t", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 2, 13), 1, "t", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["pacf_durbin_levinson"].runner(spark, str(tmp_path)).collect()[0]
    assert r.pacf1_e4 is None and r.pacf2_e4 is None and r.pacf3_e4 is None
