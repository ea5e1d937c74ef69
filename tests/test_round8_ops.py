"""Round-8 operators: Fleiss' κ (m=3 raters, hand-computed) and the
Elo-style sequential rating fold (hand-folded expected values).

The fixtures construct documents whose rater labels / quality bands are
exactly derivable by hand from the banding rules in functions/text.py,
so the expected statistics are computed independently here — not by
re-running the engine code.
"""

import math

from storm_data_etl_spark.plans import load_all

REGISTRY = load_all()

#: quality 1.0 → rq=2; n=220 ∈ [200,20000], p=0 → rh=2; 45 tokens,
#: 10/45 stopwords → rt=2. Labels (2,2,2).
T_HIGH = "the quick brown fox jumps over the lazy dog " * 5
#: quality 0.325 → rq=0; n=3 < 50 → rh=0; 1 token < 10 → rt=0. (0,0,0).
T_LOW = "!!!"
#: quality 0.85 → rq=2; n=88 ∈ [50,200) → rh=1; 20 tokens < 40 → rt=1.
T_MIX = "the fox runs far away " * 4


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_fixture_band_assumptions():
    """The hand-derived label math below rests on these text shapes."""
    assert len(T_HIGH) == 220
    assert len(T_MIX) == 88
    assert T_HIGH.split().count("the") == 10 and len(T_HIGH.split()) == 45
    assert T_MIX.split().count("the") == 4 and len(T_MIX.split()) == 20


def test_fleiss_kappa_hand_computed(spark, tmp_path):
    """s1 holds labels (2,2,2),(0,0,0),(2,1,1): n=3, agreeing pairs
    P=3+3+1=7, pooled counts c=(3,2,4), Σc²=29 →
    κ·1e6 = 1e6·(3·3·7 − 29) / (9·9 − 29) = 34e6 tdiv 52 = 653846."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
        ],
    )
    rows = REGISTRY["fleiss_kappa_agreement"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source, r.n, r.pairs) == ("s1", 3, 7)
    assert r.kappa_e6 == 653846


def test_fleiss_kappa_degenerate_null(spark, tmp_path):
    """All 3n labels in one category → chance term 9n² = Σc², κ NULL."""
    sf = _write_docs(
        spark,
        tmp_path,
        [(i, T_LOW, "en", "s2", len(T_LOW)) for i in (1, 2, 3)],
    )
    rows = REGISTRY["fleiss_kappa_agreement"].runner(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0].pairs == 9 and rows[0].kappa_e6 is None


def _elo_fold(zs):
    """The exact fold both engines evaluate (bit-identical IEEE doubles —
    the same expression tree, see elo_sequential_ratings docstring)."""
    acc = 500000.0
    for z in zs:
        o = float(math.floor(z * 0.5))
        s = z - 2.0 * o
        d = acc - o
        e = 0.5 + d / (2.0 * (200000.0 + abs(d)))
        acc = acc + 32000.0 * (s - e)
    return acc


def test_elo_sequential_hand_folded(spark, tmp_path):
    """Matches via doc_id+37 pairing: (1,38) s1 wins, (2,39) s2 wins,
    (3,40) s1 wins. Anchors: s1 = 1e6·2//3 = 666666, s2 = 333333.
    Expected ratings are the hand-evaluated fold over each player's
    match_id-ordered packed list."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_HIGH, "en", "s1", len(T_HIGH)),
            (38, T_LOW, "en", "s2", len(T_LOW)),
            (39, T_HIGH, "en", "s2", len(T_HIGH)),
            (40, T_LOW, "en", "s2", len(T_LOW)),
        ],
    )
    got = {
        r.source: r
        for r in REGISTRY["elo_sequential_ratings"].runner(spark, sf).collect()
    }
    assert set(got) == {"s1", "s2"}
    assert (got["s1"].n_matches, got["s1"].n_wins) == (3, 2)
    assert (got["s2"].n_matches, got["s2"].n_wins) == (3, 1)
    # s1 faces anchor(s2)=333333: z = 2·333333 + s, match order (1,0,1)
    exp_s1 = _elo_fold([666667.0, 666666.0, 666667.0])
    # s2 faces anchor(s1)=666666: match order (0,1,0)
    exp_s2 = _elo_fold([1333332.0, 1333333.0, 1333332.0])
    assert got["s1"].elo_e6_floor == math.floor(exp_s1)
    assert got["s2"].elo_e6_floor == math.floor(exp_s2)
    # directional sanity — Elo scores against EXPECTATION, not raw wins:
    # s1 beats a weak anchor (333333) only 2/3 vs expected E ≈ 0.727, so
    # its rating falls; s2 takes 1/3 off a strong anchor (666666) vs
    # expected E ≈ 0.273, so its rating rises.
    assert got["s2"].elo_e6_floor > 500000 > got["s1"].elo_e6_floor


def test_elo_order_dependence(spark, tmp_path):
    """The fold is genuinely order-dependent: win-then-lose ≠ lose-then-
    win (what separates this from the order-free Bradley-Terry twin)."""
    a = _elo_fold([666667.0, 666666.0])
    b = _elo_fold([666666.0, 666667.0])
    assert a != b


# ---------------------------------------------------------------------
# Token-mode ExactSubstr (exact_substr_cut_tokens) — hand-computed
# boundary semantics over token indices, plus the real-BPE composition.
# ---------------------------------------------------------------------

from storm_data_etl_spark.operators.suffix import exact_substr_cut_tokens


def _tok_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, tokens array<string>")


def _tcut(spark, rows, L):
    out = exact_substr_cut_tokens(_tok_docs(spark, rows), min_tokens=L)
    return {r.doc_id: r for r in out.collect()}


def test_token_cut_cross_doc_keep_first(spark):
    """doc 1 holds the original 4-token run; doc 2 embeds a copy between
    pre/post tokens: the copy is cut on token boundaries, doc 1 is
    untouched (no row — unchanged)."""
    run = ["alpha", "beta", "gamma", "delta"]
    got = _tcut(spark, [(1, run), (2, ["pre"] + run + ["post"])], L=4)
    assert set(got) == {2}
    r = got[2]
    assert (r.orig_n_tokens, r.deduped_n_tokens, r.n_cut_tokens) == (6, 2, 4)
    assert r.deduped_text == "pre post"


def test_token_cut_long_run_union(spark):
    """A duplicated 6-token run under L=4 is covered by its three
    4-windows — the interval union cuts all 6 tokens of the copy."""
    run = ["a", "b", "c", "d", "e", "f"]
    got = _tcut(spark, [(1, run), (2, ["x"] + run + ["y"])], L=4)
    r = got[2]
    assert (r.orig_n_tokens, r.deduped_n_tokens, r.n_cut_tokens) == (8, 2, 6)
    assert r.deduped_text == "x y"


def test_token_whole_doc_duplicate_rebuilds_empty(spark):
    got = _tcut(spark, [(1, ["p", "q", "r", "s"]), (2, ["p", "q", "r", "s"])], L=4)
    assert set(got) == {2}
    assert (got[2].deduped_n_tokens, got[2].deduped_text) == (0, "")


def test_token_short_docs_untouched(spark):
    """Docs shorter than L tokens can never be cut (no window fits)."""
    got = _tcut(spark, [(1, ["a", "b", "c"]), (2, ["a", "b", "c"])], L=4)
    assert got == {}


def test_token_boundary_no_partial_tokens(spark):
    """Cuts are whole tokens: a duplicated run bordered by distinct
    tokens whose TEXT partially overlaps the run's chars is untouched —
    the coordinate system is token indices, not characters."""
    run = ["aa", "bb", "cc", "dd"]
    # doc 2's surrounding tokens share characters with the run's
    # endpoints; only the exact 4-token window is removed.
    got = _tcut(spark, [(1, run), (2, ["zaa", *run, "ddz"])], L=4)
    r = got[2]
    assert r.deduped_text == "zaa ddz"
    assert r.n_cut_tokens == 4


def test_token_bpe_composition(spark):
    """The operator is tokenizer-agnostic: compose with the REAL BPE
    segmenter (operators/bpe) — a duplicated sentence segments into the
    same subword sequence in both docs, and the token-mode cut removes
    the copy on SUBWORD boundaries (VERDICT r7 task 4 'compose them')."""
    from storm_data_etl_spark.operators.bpe import segment_word, train_bpe_merges

    corpus = spark.createDataFrame(
        [("the storm surge flooded the coastal town tonight",)], "text string"
    )
    merges = train_bpe_merges(corpus, n_merges=20)
    ranks = {pair: i for i, pair in enumerate(merges)}

    def bpe_tokens(sentence: str) -> list[str]:
        out: list[str] = []
        for w in sentence.split():
            out.extend(segment_word(w, ranks))
        return out

    dup = "the storm surge flooded the coastal town tonight"
    toks_a = bpe_tokens(dup)
    toks_b = bpe_tokens("unrelated preamble here") + toks_a
    L = min(4, len(toks_a))
    got = _tcut(spark, [(1, toks_a), (2, toks_b)], L=L)
    assert 2 in got and 1 not in got
    r = got[2]
    # every subword of the duplicated sentence is cut, whole-token-wise
    assert r.n_cut_tokens == len(toks_a)
    assert r.deduped_text == " ".join(bpe_tokens("unrelated preamble here"))


# ---------------------------------------------------------------------
# Kendall τ-b, RBO, Chao1 — hand-computed expected values.
# ---------------------------------------------------------------------


def test_kendall_tau_b_hand_computed(spark, tmp_path):
    """Fleiss fixture labels per doc: rq = (2,0,2), rh = (2,0,1).
    Pairs: (1,2) concordant, (1,3) rq-tied, (2,3) concordant → C=2, D=0,
    cd2 = 2(C−D) = 4; dx = n² − Σr_i² = 9−5 = 4, dy = 9−3 = 6;
    τ_b = 4/√24 = 0.81649658… → floor 1e6 = 816496."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
        ],
    )
    rows = REGISTRY["kendall_tau_b_raters"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n, r.cd2, r.dx, r.dy) == (3, 4, 4, 6)
    assert r.tau_b_e6 == 816496


#: lower quality (0.625: long-token/no-stopword penalties) but LONGER
#: than T_MIX — reverses the two rankers' orders.
T_LONG_JUNK = "x" * 300


def test_rbo_reversed_rankers(spark, tmp_path):
    """Two docs ranked opposite ways by the two rankers: both items have
    m = max(ra, rb) = 2 → c₂ = 2 →
    RBO_MIN = 2·W₂ = 0.27083279885142846 → floor 1e6 = 270832."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_MIX, "en", "s1", len(T_MIX)),
            (2, T_LONG_JUNK, "en", "s1", len(T_LONG_JUNK)),
        ],
    )
    rows = REGISTRY["rbo_rankers_overlap"].runner(spark, sf).collect()
    assert len(rows) == 1
    assert (rows[0].n_overlap, rows[0].rbo_min_e6) == (2, 270832)


def test_rbo_identical_rankers(spark, tmp_path):
    """Quality and length order agree (T_HIGH ≻ T_MIX ≻ T_LOW on both) →
    m = rank for every item, c₁=c₂=c₃=1 →
    RBO_MIN = W₁+W₂+W₃ = 0.46124919827714278 → floor 1e6 = 461249."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_MIX, "en", "s1", len(T_MIX)),
            (3, T_LOW, "en", "s1", len(T_LOW)),
        ],
    )
    rows = REGISTRY["rbo_rankers_overlap"].runner(spark, sf).collect()
    assert len(rows) == 1
    assert (rows[0].n_overlap, rows[0].rbo_min_e6) == (3, 461249)


def test_chao1_hand_computed(spark, tmp_path):
    """One doc 'a a b c': V=3, f₁=2, f₂=1, N=4 →
    chao1·100 = 300 + (100·2·1)//(2·2) = 350; P₀·1e6 = 2e6//4 = 500000."""
    sf = _write_docs(spark, tmp_path, [(1, "a a b c", "en", "s1", 7)])
    rows = REGISTRY["chao1_vocab_richness"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_tokens, r.vocab_size, r.h1, r.h2) == (4, 3, 2, 1)
    assert (r.chao1_x100, r.gt_unseen_e6) == (350, 500000)


def test_chao1_no_dis_legomena_defined(spark, tmp_path):
    """f₂ = 0 must stay finite (bias-corrected form): 'a b' → V=2, f₁=2,
    f₂=0 → chao1·100 = 200 + (100·2·1)//2 = 300."""
    sf = _write_docs(spark, tmp_path, [(1, "a b", "en", "s1", 3)])
    r = REGISTRY["chao1_vocab_richness"].runner(spark, sf).collect()[0]
    assert r.chao1_x100 == 300


def test_ndcg_hand_computed(spark, tmp_path):
    """Length order: JUNK(300, rel 1) ≻ HIGH(220, rel 2) ≻ MIX(88, rel 2)
    ≻ LOW(3, rel 0). DCG = 1·L₁ + 2·L₂ + 2·L₃; g2=2, g1=1 →
    IDCG = 2·P₂ + (P₃ − P₂). Expected floor computed here with the same
    embedded literals and the same IEEE ops, independently of the
    engines."""
    from storm_data_etl_spark.plans.retrieval_queries import _NDCG_L, _NDCG_P

    L = [float(x) for x in _NDCG_L]
    P = [float(x) for x in _NDCG_P]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_MIX, "en", "s1", len(T_MIX)),
            (3, T_LONG_JUNK, "en", "s1", len(T_LONG_JUNK)),
            (4, T_LOW, "en", "s1", len(T_LOW)),
        ],
    )
    rows = REGISTRY["ndcg_at_10_length_ranker"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_ret, r.g2, r.g1) == (4, 2, 1)
    dcg = 1 * L[0] + 2 * L[1] + 2 * L[2] + 0 * L[3]
    idcg = 2.0 * P[2] + (P[3] - P[2])
    assert r.ndcg_e6 == math.floor(1000000.0 * dcg / idcg)
    assert 800000 < r.ndcg_e6 < 900000  # sanity band: good-not-ideal ranking


def test_ndcg_all_zero_gain_null(spark, tmp_path):
    """Every retrieved doc irrelevant → IDCG = 0 → NULL, not a crash."""
    sf = _write_docs(
        spark, tmp_path, [(i, T_LOW, "en", "s1", len(T_LOW)) for i in (1, 2)]
    )
    rows = REGISTRY["ndcg_at_10_length_ranker"].runner(spark, sf).collect()
    assert rows[0].ndcg_e6 is None


def test_ece_hand_computed(spark, tmp_path):
    """HIGH(q=1.0, en): |1e4·1−10000| = 0; MIX(q=0.85, en): 1500;
    LOW(q=0.325, de): 3250 → T = 4750, N = 3 →
    ECE·1e6 = (100·4750)//3 = 158333. Every doc lands in its own bin, so
    the per-bin reduction is checkable term by term."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_MIX, "en", "s1", len(T_MIX)),
            (3, T_LOW, "de", "s1", len(T_LOW)),
        ],
    )
    rows = REGISTRY["ece_calibration_error"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_bins, r.t_abs) == (3, 3, 4750)
    assert r.ece_e6 == 158333


def test_tv_token_drift_hand_computed(spark, tmp_path):
    """s1 = 'a a b' (a:2, b:1), s2 = 'a c' (a:1, c:1); global a:3,b:1,c:1,
    N = 5. T(s1) = |10−9| + |5−3| + |0−3| = 6 → 6/(2·3·5) = 0.2;
    T(s2) = |5−6| + |0−2| + |5−2| = 6 → 6/(2·2·5) = 0.3. The c-term of
    s1 (and b-term of s2) exercises the missing-mass path."""
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, "a a b", "en", "s1", 5), (2, "a c", "en", "s2", 3)],
    )
    got = {
        r.source: r
        for r in REGISTRY["tv_token_drift"].runner(spark, sf).collect()
    }
    assert (got["s1"].n_tokens, got["s1"].tv_e6) == (3, 200000)
    assert (got["s2"].n_tokens, got["s2"].tv_e6) == (2, 300000)


def test_qwk_hand_computed(spark, tmp_path):
    """Fleiss fixture: rq = (2,0,2), rh = (2,0,1) → W_O = 1;
    marginals a = (1,0,2), b = (1,1,1) →
    W_E = 1·1 + 0 + 0 + 2·1 + 4·(1 + 2) = 15;
    QWK = (15 − 3·1)/15 = 0.8 → 800000."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
        ],
    )
    rows = REGISTRY["quadratic_weighted_kappa"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n, r.wo, r.we_n) == (3, 1, 15)
    assert r.qwk_e6 == 800000


#: 54 tokens (≥ 50), mwl 3.89, no symbols/bullets, 12 stopwords → passes
#: every Gopher rule.
T_GOPHER_PASS = "the quick brown fox jumps over the lazy dog " * 6
#: bullet list: every line bullet-started, 6 tokens, mwl 1, half
#: non-alpha, no stopwords → fails wordcount, mwl, alpha, stopword, bullet.
T_BULLETS = "- a\n- b\n- c"


def test_gopher_gate_hand_computed(spark, tmp_path):
    """Per-rule fail counts pinned per source: PASS doc passes all 7;
    '!!!' fails exactly (wordcount, alpha, stopword); the bullet list
    fails exactly (wordcount, mwl, alpha, stopword, bullet)."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_GOPHER_PASS, "en", "sP", len(T_GOPHER_PASS)),
            (2, T_LOW, "en", "sL", len(T_LOW)),
            (3, T_BULLETS, "en", "sB", len(T_BULLETS)),
            # NULL text ≡ empty: 0 tokens → fails wordcount + stopword
            # ONLY (0 ≤ 0 cross-multiplications pass). Locks the
            # null-injection regression: Spark tokens(NULL) is NULL, not
            # [], unless the query coalesces first.
            (4, None, "en", "sN", 0),
        ],
    )
    got = {
        r.source: r
        for r in REGISTRY["gopher_quality_gate"].runner(spark, sf).collect()
    }
    p = got["sP"]
    assert p.n_pass_all == 1 and sum(
        [p.fail_wordcount, p.fail_mean_word_len, p.fail_symbol_ratio,
         p.fail_alpha_words, p.fail_stopwords, p.fail_bullet_lines,
         p.fail_ellipsis_lines]
    ) == 0
    l = got["sL"]
    assert (l.fail_wordcount, l.fail_alpha_words, l.fail_stopwords) == (1, 1, 1)
    assert (l.fail_mean_word_len, l.fail_symbol_ratio, l.fail_bullet_lines,
            l.fail_ellipsis_lines) == (0, 0, 0, 0)
    b = got["sB"]
    assert (b.fail_wordcount, b.fail_mean_word_len, b.fail_alpha_words,
            b.fail_stopwords, b.fail_bullet_lines) == (1, 1, 1, 1, 1)
    assert (b.fail_symbol_ratio, b.fail_ellipsis_lines) == (0, 0)
    assert b.n_pass_all == 0
    n = got["sN"]
    assert (n.fail_wordcount, n.fail_stopwords) == (1, 1)
    assert (n.fail_mean_word_len, n.fail_symbol_ratio, n.fail_alpha_words,
            n.fail_bullet_lines, n.fail_ellipsis_lines) == (0, 0, 0, 0, 0)


# =====================================================================
# Round-8 continuation: interval α, MRR/MAP@10, Simpson, Gini
# =====================================================================

#: quality 0.475 → rq=0 (len_band 0.5·0.3 + punct 1.0·0.2 + sw 0.3·0.25
#: + mwl 0.2·0.25); n=60 ∈ [50,200), p=0 → rh=1. Labels (0,1), rel=0.
T_NEG_A = "a" * 60
#: quality 0.7 → rq=1 (len_band 0, the other three bands max); n=25 < 50
#: → rh=0. Labels (1,0), rel=1.
T_NEG_B = "the fox runs far away now"


def test_interval_alpha_fixture_assumptions():
    assert len(T_NEG_A) == 60
    assert len(T_NEG_B) == 25 and len(T_NEG_B.split()) == 6


def test_krippendorff_interval_hand_computed(spark, tmp_path):
    """Units (2,2),(0,0),(2,1): n=3, sd=1; pooled c=(2,1,3) →
    S_e = 2·(2·1 + 1·3 + 4·2·3) = 58, num = 58 − 2·1·5 = 48 →
    α·1e6 = 48e6 tdiv 58 = 827586."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
        ],
    )
    rows = REGISTRY["krippendorff_alpha_interval"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source, r.n, r.sd) == ("s1", 3, 1)
    assert r.alpha_e6 == 827586


def test_krippendorff_interval_negative_and_null(spark, tmp_path):
    """s1 = units (0,1),(1,0): sd=2, pooled c0=2,c1=2 → S_e=8,
    num = 8 − 2·2·3 = −4 → α·1e6 = −(4e6 tdiv 8) = −500000 (below-chance
    agreement exercises the sign-symmetric truncation branch).
    s2 = both raters all-0 → S_e = 0 → NULL."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_NEG_A, "en", "s1", len(T_NEG_A)),
            (2, T_NEG_B, "en", "s1", len(T_NEG_B)),
            (3, T_LOW, "en", "s2", len(T_LOW)),
            (4, T_LOW, "en", "s2", len(T_LOW)),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["krippendorff_alpha_interval"].runner(spark, sf).collect()
    }
    assert rows["s1"].sd == 2 and rows["s1"].alpha_e6 == -500000
    assert rows["s2"].sd == 0 and rows["s2"].alpha_e6 is None


#: MRR/MAP fixture: qid = doc_id % 16. Query 1 (ids ≡ 1 mod 16) ranks by
#: length desc: T_MIX(88, rel=1), T_NEG_A(60, rel=0), T_NEG_B(25, rel=1),
#: T_LOW(3, rel=0) → first hit rank 1; AP = (1/1 + 2/3)/2 = 5/6.
#: Query 2 (ids ≡ 2 mod 16) is all-irrelevant → MRR contributes 0,
#: MAP excludes it.
def _ir_fixture(spark, tmp_path):
    return _write_docs(
        spark,
        tmp_path,
        [
            (1, T_MIX, "en", "s1", len(T_MIX)),
            (17, T_NEG_A, "en", "s1", len(T_NEG_A)),
            (33, T_NEG_B, "en", "s1", len(T_NEG_B)),
            (49, T_LOW, "en", "s1", len(T_LOW)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (18, T_NEG_A, "en", "s1", len(T_NEG_A)),
        ],
    )


def test_mrr_at_10_hand_computed(spark, tmp_path):
    """Query 1 first relevant at rank 1 (2520/1), query 2 no hit (0) →
    MRR·1e6 = 1e6·2520 tdiv (2520·2) = 500000."""
    sf = _ir_fixture(spark, tmp_path)
    rows = REGISTRY["mrr_at_10_ranker"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source, r.n_queries, r.n_hit) == ("s1", 2, 1)
    assert r.mrr_e6 == 500000


def test_map_at_10_hand_computed(spark, tmp_path):
    """Query 1: hits at ranks 1 (h=1) and 3 (h=2) → apnum = 1·2520 +
    2·840 = 4200, R=2 → ap_scaled = 4200·1260 = 5292000; query 2 has
    R=0 (excluded) → MAP·1e6 = 1e6·5292000 tdiv (6350400·1) = 833333
    (= floor(5/6 · 1e6))."""
    sf = _ir_fixture(spark, tmp_path)
    rows = REGISTRY["map_at_10_ranker"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source, r.n_queries, r.n_eval) == ("s1", 2, 1)
    assert r.map_e6 == 833333


def test_simpson_diversity_hand_computed(spark, tmp_path):
    """s1 tokens {x,x,y}: N=3, V=2, Σf(f−1)=2 → λ·1e6 = 2e6 tdiv 6 =
    333333, complement 666667, top share 2e6 tdiv 3 = 666666.
    s2 has a single token → N < 2 → both indices NULL."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "x x y", "en", "s1", 5),
            (2, "z", "en", "s2", 1),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["simpson_diversity_index"].runner(spark, sf).collect()
    }
    r1 = rows["s1"]
    assert (r1.n_tokens, r1.vocab_size) == (3, 2)
    assert r1.simpson_e6 == 333333
    assert r1.gini_simpson_e6 == 666667
    assert r1.top_share_e6 == 666666
    r2 = rows["s2"]
    assert r2.simpson_e6 is None and r2.gini_simpson_e6 is None
    assert r2.top_share_e6 == 1000000


def test_gini_concentration_hand_computed(spark, tmp_path):
    """s1 counts (a:1, b:3) ascending → S = 1·1 + 2·3 = 7 →
    G·1e6 = 1e6·(14 − 3·4) tdiv (2·4) = 250000. s2 uniform (a,b,c once
    each) → 2S = (V+1)·N exactly → G = 0."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "b b b a", "en", "s1", 7),
            (2, "a b c", "en", "s2", 5),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["gini_token_concentration"].runner(spark, sf).collect()
    }
    assert rows["s1"].gini_e6 == 250000
    assert rows["s2"].gini_e6 == 0


# =====================================================================
# Round-8 continuation: CUSUM ordered fold + edit-distance verification
# =====================================================================

import datetime as _dt


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_cusum_hand_computed_and_order_dependent(spark, tmp_path):
    """Type t: values (1,3,2) in event_id order → k_e4 = 20000, devs
    (−1e4, +1e4, 0) → S⁺ folds 0→10000→10000, S⁻ folds 1e4→0→0.
    Type u holds the SAME multiset permuted to (3,1,2): devs
    (+1e4, −1e4, 0) → S⁺ 10000→0→0, S⁻ 0→10000→10000 — identical inputs,
    different order, different statistic: pins that both engines fold in
    event_id order, not arrival/plan order."""
    ts = _dt.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (1, ts, 10, "t", 1.0, "{}"),
            (2, ts, 10, "t", 3.0, "{}"),
            (3, ts, 10, "t", 2.0, "{}"),
            (4, ts, 10, "u", 3.0, "{}"),
            (5, ts, 10, "u", 1.0, "{}"),
            (6, ts, 10, "u", 2.0, "{}"),
        ],
    )
    rows = {
        r.event_type: r
        for r in REGISTRY["cusum_drift_scores"].runner(spark, str(tmp_path)).collect()
    }
    rt, ru = rows["t"], rows["u"]
    assert (rt.n_events, rt.k_e4) == (3, 20000)
    assert (rt.cusum_pos_e4, rt.cusum_neg_e4) == (10000, 0)
    assert (ru.n_events, ru.k_e4) == (3, 20000)
    assert (ru.cusum_pos_e4, ru.cusum_neg_e4) == (0, 10000)


def test_edit_distance_hand_computed(spark, tmp_path):
    """Pair (1, 38): 'hello world' vs 'hello w0rld!' normalizes to
    'hello world' / 'hello w0rld' → dist 1, max_len 11, near
    (10·1 ≤ 11). Pair (2, 39): 'xyz' vs 'XYZ.' both normalize to 'xyz'
    → dist 0, exact. Docs without a +37 partner contribute nothing."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "hello world", "en", "s1", 11),
            (38, "hello w0rld!", "en", "s1", 12),
            (2, "xyz", "en", "s1", 3),
            (39, "XYZ.", "en", "s1", 4),
            (100, "lonely doc", "en", "s1", 10),
        ],
    )
    rows = REGISTRY["edit_distance_near_dup"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source, r.n_pairs, r.n_exact, r.n_near, r.sum_dist) == (
        "s1", 2, 1, 2, 1,
    )


def test_mcc_hand_computed(spark, tmp_path):
    """s1 binarized pairs: TP=2 (T_HIGH, T_MIX), FP=1 (T_NEG_A), FN=1
    (T_NEG_B), TN=1 (T_LOW) → MCC = (2−1)/√(3·3·2·2) = 1/6 →
    floor(1e6/6) = 166666. s2 all-negative → tp+fp = 0 → NULL.
    s3 pure disagreement (FP=1, FN=1) → MCC = −1 → −1000000 (the
    negative branch and the floor-of-negative edge)."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
            (4, T_NEG_A, "en", "s1", len(T_NEG_A)),
            (5, T_NEG_B, "en", "s1", len(T_NEG_B)),
            (6, T_LOW, "en", "s2", len(T_LOW)),
            (7, T_LOW, "en", "s2", len(T_LOW)),
            (8, T_NEG_A, "en", "s3", len(T_NEG_A)),
            (9, T_NEG_B, "en", "s3", len(T_NEG_B)),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["mcc_binary_quality"].runner(spark, sf).collect()
    }
    r1 = rows["s1"]
    assert (r1.tp, r1.fp, r1.fn, r1.tn) == (2, 1, 1, 1)
    assert r1.mcc_e6 == 166666
    assert rows["s2"].mcc_e6 is None
    assert rows["s3"].mcc_e6 == -1000000


def test_langid_margin_hand_computed(spark, tmp_path):
    """T_HIGH: 10 'the' hits, every other language 0 → margin 10
    (confident). T_LOW: all scores 0 → und. 'de la' scores 2 for BOTH
    es and fr → top = second = 2 → tied, margin 0. Totals: n_docs 3,
    n_und 1, n_tied 1, n_margin_ge3 1, sum_margin 10."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, "de la", "es", "s1", 5),
        ],
    )
    rows = REGISTRY["langid_confidence_margin"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_und, r.n_tied, r.n_margin_ge3, r.sum_margin) == (
        3, 1, 1, 1, 10,
    )


def test_cusum_nan_values_excluded(spark, tmp_path):
    """NaN is not NULL: the value gate must drop NaN measurements on both
    engines (Spark's non-ANSI cast would otherwise fold a phantom sample
    while DuckDB errors; the streaming twin's dropna skips them). The
    statistic over (1,3,2,NaN) equals the statistic over (1,3,2)."""
    ts = _dt.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (1, ts, 10, "t", 1.0, "{}"),
            (2, ts, 10, "t", 3.0, "{}"),
            (3, ts, 10, "t", 2.0, "{}"),
            (4, ts, 10, "t", float("nan"), "{}"),
        ],
    )
    rows = REGISTRY["cusum_drift_scores"].runner(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_events, r.k_e4, r.cusum_pos_e4, r.cusum_neg_e4) == (
        3, 20000, 10000, 0,
    )


def test_edit_distance_empty_pair_near_superset(spark, tmp_path):
    """Two texts that normalize to '' (pure punctuation) pair at dist 0,
    max_len 0: counted as BOTH exact and near — near is a superset of
    exact, so n_near − n_exact is never negative."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "!!!", "en", "s1", 3),
            (38, "???", "en", "s1", 3),
        ],
    )
    rows = REGISTRY["edit_distance_near_dup"].runner(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_pairs, r.n_exact, r.n_near, r.sum_dist) == (1, 1, 1, 0)


def test_benford_hand_computed(spark, tmp_path):
    """Values (1.0, 2.5, 19.0) → e4 ints (10000, 25000, 190000) → first
    digits (1,2,1): n_pos=3, c1=2, c9=0. χ² replicated over the same
    embedded literals with the same IEEE expression shape. Zero,
    negative, NaN, and NULL measurements are excluded by definition."""
    import math as _m

    from storm_data_etl_spark.plans.window_queries import _BENFORD_P

    ts = _dt.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (1, ts, 10, "t", 1.0, "{}"),
            (2, ts, 10, "t", 2.5, "{}"),
            (3, ts, 10, "t", 19.0, "{}"),
            (4, ts, 10, "t", 0.0, "{}"),
            (5, ts, 10, "t", -5.0, "{}"),
            (6, ts, 10, "t", float("nan"), "{}"),
            (7, ts, 10, "t", None, "{}"),
        ],
    )
    rows = REGISTRY["benford_chi2_by_type"].runner(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_pos, r.c1, r.c9) == (3, 2, 0)
    counts = {1: 2, 2: 1}
    chi2 = 0.0
    for d, p in enumerate(_BENFORD_P, start=1):
        pd_ = float(p)
        c = float(counts.get(d, 0))
        chi2 = chi2 + ((c - 3.0 * pd_) * (c - 3.0 * pd_)) / (3.0 * pd_)
    assert r.chi2_e3 == _m.floor(1000.0 * chi2)


def test_runs_test_hand_computed(spark, tmp_path):
    """Type t: values (1,3,1,3) → mean 2 → signs (0,1,0,1) → R=4 runs,
    n0=n1=2: μ=3, σ²=2/3 → z·1e6 = floor(1e6/√(2/3)) = 1224744 (perfect
    oscillation → positive z). Type u: (1,3) → n0=n1=1, 2·n0·n1 = n →
    σ=0 → NULL."""
    import math as _m

    ts = _dt.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (1, ts, 10, "t", 1.0, "{}"),
            (2, ts, 10, "t", 3.0, "{}"),
            (3, ts, 10, "t", 1.0, "{}"),
            (4, ts, 10, "t", 3.0, "{}"),
            (5, ts, 10, "u", 1.0, "{}"),
            (6, ts, 10, "u", 3.0, "{}"),
        ],
    )
    rows = {
        r.event_type: r
        for r in REGISTRY["runs_test_randomness"].runner(spark, str(tmp_path)).collect()
    }
    rt = rows["t"]
    assert (rt.n, rt.n1, rt.n0, rt.r) == (4, 2, 2, 4)
    n0 = n1 = 2.0
    n = 4.0
    mu = 2.0 * n0 * n1 / n + 1.0
    var = 2.0 * n0 * n1 * (2.0 * n0 * n1 - n) / (n * n * (n - 1.0))
    assert rt.z_e6 == _m.floor(1000000.0 * (4.0 - mu) / _m.sqrt(var))
    assert rt.z_e6 == 1224744
    ru = rows["u"]
    assert (ru.n, ru.r) == (2, 2) and ru.z_e6 is None


def test_cochran_q_hand_computed(spark, tmp_path):
    """s1 binarized rows (1,1,1),(0,0,0),(1,1,1),(0,1,0),(1,0,0):
    C=(3,3,2), N=8, ΣR²=20 → Q = 2·(3·22 − 64)/(24 − 20) = 1 →
    q_e6 = 1000000. s2 (two unanimous-keep docs) → denominator 0 →
    NULL."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
            (4, T_NEG_A, "en", "s1", len(T_NEG_A)),
            (5, T_NEG_B, "en", "s1", len(T_NEG_B)),
            (6, T_HIGH, "en", "s2", len(T_HIGH)),
            (7, T_HIGH, "en", "s2", len(T_HIGH)),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["cochran_q_test"].runner(spark, sf).collect()
    }
    r1 = rows["s1"]
    assert (r1.n, r1.c1, r1.c2, r1.c3) == (5, 3, 3, 2)
    assert r1.q_e6 == 1000000
    assert rows["s2"].q_e6 is None


def test_cronbach_alpha_hand_computed(spark, tmp_path):
    """s1 scores (2,2,2),(0,0,0),(2,1,1): cleared item variances
    S=(8,6,6) → ΣS=20, total-score S_T = 3·52 − 10² = 56 →
    α·1e6 = 3e6·36 tdiv 112 = 964285 (α = 27/28). s2 rows
    (0,1,0),(1,0,0),(0,0,0): S_T − ΣS = 2 − 4 = −2 → α = −1.5 →
    −1500000 (negative average covariance exercises the sign branch)."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, T_HIGH, "en", "s1", len(T_HIGH)),
            (2, T_LOW, "en", "s1", len(T_LOW)),
            (3, T_MIX, "en", "s1", len(T_MIX)),
            (4, T_NEG_A, "en", "s2", len(T_NEG_A)),
            (5, T_NEG_B, "en", "s2", len(T_NEG_B)),
            (6, T_LOW, "en", "s2", len(T_LOW)),
        ],
    )
    rows = {
        r.source: r
        for r in REGISTRY["cronbach_alpha_raters"].runner(spark, sf).collect()
    }
    r1 = rows["s1"]
    assert (r1.n, r1.sv, r1.st) == (3, 20, 56)
    assert r1.alpha_e6 == 964285
    r2 = rows["s2"]
    assert (r2.sv, r2.st) == (4, 2)
    assert r2.alpha_e6 == -1500000
