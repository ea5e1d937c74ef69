"""Hand-computed semantics for the round-6 operators: SemDeDup pruning,
conformal calibration, pass@k, Kruskal-Wallis / ANOVA (vs the textbook
float formulas), time travel, deletion vectors, IPS, Kneser-Ney, and the
Poisson bootstrap. Each test writes a tiny parquet table and asserts exact
hand-derived outputs; the DuckDB oracle cross-check runs separately via
tools/pandas_parity_check.py."""

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


def _write_embeddings(spark, path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def test_semdedup_chain_prunes_all_but_first(spark, tmp_path):
    """a~b and b~c with a<b<c: b pruned by a, c pruned by b (the pruner
    need not itself survive — first-wins by id, not connected-component
    representative election). Orthogonal d survives."""
    # centroid = vec 0 (vec_id % 61 == 0); all vectors land in its cluster.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # centroid + member
        (1, [1.0, 0.0, 0.0, 0.0], 0),   # dup of 0 -> pruned by 0
        (2, [1.0, 0.05, 0.0, 0.0], 0),  # cos~0.999 with 0/1 -> pruned
        (3, [0.0, 0.0, 1.0, 0.0], 0),   # orthogonal -> kept
    ]
    _write_embeddings(spark, tmp_path, rows)
    got = REGISTRY["semdedup_prune"].runner(spark, str(tmp_path)).collect()
    from storm_data_etl_spark.session import release_pinned

    release_pinned()
    assert len(got) == 1
    r = got[0]
    assert (r.cluster_id, r.n_members, r.n_pruned, r.n_kept) == (0, 4, 2, 2)


def test_conformal_k_formula_and_coverage(spark, tmp_path):
    """k = ceil((n_cal+1)*0.9) capped at n_cal, threshold = k-th smallest
    calibration score; eval coverage counts scores <= threshold."""
    rows = []
    eid = 0
    # one group; scores 0..99 by value = i/100 -> score = i
    for i in range(200):
        rows.append((eid, dt.datetime(2024, 1, 1), 1, "click", i / 100.0, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows)
    got = REGISTRY["conformal_threshold"].runner(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.k == min((9 * r.n_cal + 18) // 10, r.n_cal)
    assert r.n_cal + r.n_eval == 200
    # coverage must honor the threshold exactly on this integer grid
    assert 0 <= r.coverage_e4 <= 10000


def test_pass_at_k_closed_form(spark, tmp_path):
    """One problem, n=4 samples, c=2 correct: pass@1 = 1 - C(2,1)/C(4,1)
    = 1/2; pass@k>n absent; c=0 problem scores 0."""
    rows = [
        (1, dt.datetime(2024, 1, 1), 7, "purchase", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1), 7, "purchase", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1), 7, "click", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1), 7, "click", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 1), 8, "click", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.k: r
        for r in REGISTRY["pass_at_k_estimates"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {1}  # k=5,10 exceed every problem's n
    # problems: user 7 (n=4, c=2 -> 0.5), user 8 (n=1, c=0 -> 0)
    assert got[1].n_problems == 2
    assert got[1].mean_pass_at_k_e9 == (500000000 + 0) // 2


def test_kruskal_and_anova_match_textbook(spark, tmp_path):
    rows = []
    eid = 0
    data = {"click": [1.0, 2.0, 3.0], "view": [2.0, 3.0, 4.0], "error": [9.0, 9.5, 8.0]}
    for etype, vals in data.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1), 1, etype, v, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)

    kw = REGISTRY["kruskal_wallis_h"].runner(spark, str(tmp_path)).collect()[0]
    # textbook H on the quantized grid
    xs = sorted((int(v * 100), g) for g, vs in data.items() for v in vs)
    ranks = {}
    i = 0
    vals_sorted = [x for x, _ in xs]
    while i < len(vals_sorted):
        j = i
        while j < len(vals_sorted) and vals_sorted[j] == vals_sorted[i]:
            j += 1
        for t in range(i, j):
            ranks[t] = (i + j + 1) / 2  # average of ranks i+1..j
        i = j
    from collections import defaultdict

    R = defaultdict(float)
    n = defaultdict(int)
    for idx, (_, g) in enumerate(xs):
        R[g] += ranks[idx]
        n[g] += 1
    N = len(xs)
    H = 12 / (N * (N + 1)) * sum(R[g] ** 2 / n[g] for g in R) - 3 * (N + 1)
    assert abs(kw.h_e6 - int(H * 1e6)) <= 2  # floor-vs-float slack

    an = REGISTRY["anova_oneway_f"].runner(spark, str(tmp_path)).collect()[0]
    g = {k: [int(v * 100) for v in vs] for k, vs in data.items()}
    gm = sum(sum(v) for v in g.values()) / N
    ssb = sum(len(v) * (sum(v) / len(v) - gm) ** 2 for v in g.values())
    ssw = sum(sum((x - sum(v) / len(v)) ** 2 for x in v) for v in g.values())
    F = (ssb / (len(g) - 1)) / (ssw / (N - len(g)))
    assert abs(an.f_e6 - int(F * 1e6)) <= 2


def test_time_travel_version_deltas(spark, tmp_path):
    rows = [(k, 1, "O", 100.0, dt.datetime(2024, 1, 1), "3-LOW") for k in
            [7, 14, 101, 3]]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r.as_of: r
        for r in REGISTRY["time_travel_read"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    # v1: all 4 inserts, no updates. v2: keys 7,14 updated (x1.1).
    # v3: key 101 deleted -> 3 live.
    assert (got[1].n_live, got[1].n_updated) == (4, 0)
    assert (got[2].n_live, got[2].n_updated) == (4, 2)
    assert (got[3].n_live, got[3].n_updated) == (3, 2)
    assert abs(got[1].total_price - 400.0) < 1e-9
    assert abs(got[2].total_price - (200.0 + 2 * 110.0)) < 1e-9
    assert abs(got[3].total_price - (100.0 + 2 * 110.0)) < 1e-9


def test_deletion_vector_counts(spark, tmp_path):
    rows = [(k, 1, "O", 1.0, dt.datetime(2024, 1, 1), "3-LOW") for k in
            range(1, 300)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r.file_id: r
        for r in REGISTRY["deletion_vector_read_stats"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    # keys 1..299 all in file 0; deleted: 97, 194, 291
    assert got[0].n_base == 299
    assert got[0].n_deleted == 3
    assert got[0].n_live == 296
    assert got[0].rewrite_advised == 0


def test_ips_closed_form(spark, tmp_path):
    """ctx=0 (<8): target action 'purchase'. Log: 3 purchase (r=100),
    1 click (r=200). p(purchase|0)=3/4 -> weight 4/3 each; IPS value =
    (3 * floor(1e6*10000*4/3)) / 4."""
    rows = [
        (1, dt.datetime(2024, 1, 1), 0, "purchase", 100.0, "{}"),
        (2, dt.datetime(2024, 1, 1), 0, "purchase", 100.0, "{}"),
        (3, dt.datetime(2024, 1, 1), 0, "purchase", 100.0, "{}"),
        (4, dt.datetime(2024, 1, 1), 0, "click", 200.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["ips_policy_value"].runner(spark, str(tmp_path)).collect()[0]
    assert r.n_logged == 4 and r.n_matched == 3
    per_row = (1000000 * 10000 * 4) // 3
    assert r.ips_value_e6 == (3 * per_row) // 4
    assert r.mean_weight_e6 == (3 * ((1000000 * 4) // 3)) // 4


def test_kneser_ney_tiny_corpus(spark, tmp_path):
    """Corpus 'a b', 'a b', 'a c': c(a,b)=2 c(a,c)=1, c1(a)=3,
    N1+(a,.)=2, N1+(.,b)=1, N1+(.,c)=1, BT=2.
    P_KN(b|a) = (2-.75)/3 + (.75*2/3)*(1/2) = 0.41666... + 0.25 = 2/3."""
    docs = [(1, "a b", "en", "s0", 3), (2, "a b", "en", "s0", 3),
            (3, "a c", "en", "s0", 3)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.w1, r.w2): r
        for r in REGISTRY["kneser_ney_bigram_score"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert got[("a", "b")].p_kn_e9 == 666666666  # floor(2/3 * 1e9)
    # P_KN(c|a) = (1-.75)/3 + (.75*2/3)*(1/2) = 1/12 + 1/4 = 1/3
    assert got[("a", "c")].p_kn_e9 == 333333333
    # interpolated KN sums to 1 over observed continuations here
    assert got[("a", "b")].p_kn_e9 + got[("a", "c")].p_kn_e9 == 999999999


def test_poisson_bootstrap_weights_and_determinism(spark, tmp_path):
    rows = [(i, dt.datetime(2024, 1, 1), 1, "click", 50.0, "{}") for i in range(500)]
    _write_events(spark, tmp_path, rows)
    run = lambda: sorted(  # noqa: E731
        (r.rep, r.n_eff, r.rep_mean_e6, r.boot_lo_e6, r.boot_hi_e6)
        for r in REGISTRY["poisson_bootstrap_means"].runner(
            spark, str(tmp_path)
        ).collect()
    )
    a, b = run(), run()
    assert a == b, "bootstrap must be deterministic"
    assert len(a) == 32
    # constant x=5000: every replicate mean is exactly 5000e6 / 1 scale
    for _, n_eff, m, lo, hi in a:
        assert m == 5000 * 1000000
        assert lo == m and hi == m
        # Poisson(1) mean 1: n_eff near 500 (generous envelope)
        assert 350 <= n_eff <= 650


def test_moe_router_python_replica(spark, tmp_path):
    """Full Python replica of the centered-feature orthant routing and the
    K*sum(f^2) balance loss."""
    texts = ["alpha beta", "zzzz", "a e i o u 1 2 3", "qq qq qq qq qq qq",
             "numbers 123456789", "eee"]
    docs = [(i + 1, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    import re

    feats = {}
    for i, txt in enumerate(texts):
        f1 = len(txt.strip().split())
        f2 = len(txt)
        f3 = len(re.sub(r"[^aeiou]", "", txt))
        f4 = len(re.sub(r"[^0-9]", "", txt))
        feats[i + 1] = (f1, f2, f3, f4)
    n = len(feats)
    sums = [sum(v[i] for v in feats.values()) for i in range(4)]
    routed = {}
    for doc, fv in feats.items():
        best = None
        for k in range(8):
            s = sum(
                (1 - 2 * ((k >> i) & 1)) * (fv[i] * n - sums[i])
                for i in range(4)
            )
            if best is None or s > best[0] or (s == best[0] and k < best[1]):
                best = (s, k)
        routed[doc] = best[1]
    from collections import Counter

    loads = Counter(routed.values())
    expected_loss = 8 * 1000000 * sum(c * c for c in loads.values()) // (n * n)

    got = {
        r.expert: r
        for r in REGISTRY["moe_router_load_balance"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert {k: v.n_routed for k, v in got.items()} == dict(loads)
    for r in got.values():
        assert r.balance_loss_e6 == expected_loss


def test_vocab_growth_hapax_accounting(spark, tmp_path):
    docs = [(1, "a a b c", "en", "s0", 7), (2, "c d", "en", "s1", 3)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in REGISTRY["vocab_growth_stats"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    # s0: tokens a,a,b,c -> V=3, hapax {b,c}, dis {a}
    assert (got["s0"].n_tokens, got["s0"].vocab_size) == (4, 3)
    assert (got["s0"].n_hapax, got["s0"].n_dis) == (2, 1)
    assert got["s0"].ttr_e6 == 1000000 * 3 // 4
    assert got["s0"].hapax_share_e6 == 1000000 * 2 // 3
    # s1: c,d both hapax (per-source counting)
    assert (got["s1"].n_hapax, got["s1"].vocab_size) == (2, 2)


def test_suffix_array_and_longest_repeat(spark, tmp_path):
    """Suffix array order matches a literal Python suffix sort; the
    longest-repeat readout names the exact repeated substring."""
    docs = [(1, "banana", "en", "s0", 6), (2, "ananas", "en", "s0", 6),
            (3, "xyzzy", "en", "s1", 5)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    from storm_data_etl_spark.operators.suffix import suffix_array

    texts = {d: t for d, t, *_ in docs}
    sa = suffix_array(
        spark.read.parquet(f"{tmp_path}/documents.parquet").select("doc_id", "text")
    )
    got = [(r.doc_id, r.pos) for r in sa.orderBy("sa_rank").collect()]
    ref = sorted(
        (t[i - 1:], d, i) for d, t in texts.items() for i in range(1, len(t) + 1)
    )
    assert got == [(d, i) for _, d, i in ref]

    row = REGISTRY["suffix_longest_repeat"].runner(spark, str(tmp_path)).collect()[0]
    # longest repeat: "anana" (banana pos 2 vs ananas pos 1), length 5
    assert row.max_lcp == 5
    assert row.repeat_text == "anana"
    assert row.n_suffixes == 17


def test_suffix_longest_repeat_cross_doc_exact_copy(spark, tmp_path):
    """Two identical docs: the longest repeat is the full document."""
    docs = [(1, "hello world", "en", "s0", 11), (2, "hello world", "en", "s1", 11),
            (3, "other", "en", "s1", 5)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    row = REGISTRY["suffix_longest_repeat"].runner(spark, str(tmp_path)).collect()[0]
    assert row.max_lcp == 11
    assert row.repeat_text == "hello world"


def test_suffix_longest_repeat_degenerate_single_suffix(spark, tmp_path):
    """ADVICE r6: a corpus with exactly one non-empty suffix has zero
    adjacent suffix pairs — the query must still emit the oracle's 1-row
    shape (NULL max_lcp / repeat_text, 0 pairs), not drop to 0 rows via
    the inner join on the NULL first-pair doc."""
    docs = [(1, "z", "en", "s0", 1), (2, "", "en", "s0", 0)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = REGISTRY["suffix_longest_repeat"].runner(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.n_suffixes == 1
    assert row.max_lcp is None
    assert row.n_pairs_at_max == 0
    assert row.repeat_text is None
