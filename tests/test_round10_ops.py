"""Round-10 operators: the stream_replay_dedup certificate (third
streaming replay — the first-wins dedup kernel) plus its shared-fold
invariant. Values are hand-derived in the comments; everything here is
exact integers, so no IEEE mirroring is needed."""

from __future__ import annotations

import datetime as dt

from storm_data_etl_spark.plans import load_all

REGISTRY = load_all()


TS10 = dt.datetime(2024, 1, 1, 12)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_stream_replay_dedup_hand_trace(spark, tmp_path):
    """Key (1,'a') spans batches 10h and 12h — the cross-batch
    duplicate-spanning case (r8 chunk-boundary bug class): ONLY the 10h
    batch emits, and seen carries 2 -> 3 across the boundary instead of
    resetting. Within 10h the emitted row is event 3 (ts 10:10 beats
    10:30), so a wrong within-batch arrival order also fails. Key
    (3,'a') pins the (ts, event_id) tiebreak: two events at the same
    timestamp emit the LOWER event_id. Null ts / user / type rows are
    dropped before any state forms."""
    rows = [
        (5, dt.datetime(2024, 1, 1, 10, 30), 1, "a", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 10), 1, "a", 1.0, "{}"),
        (7, dt.datetime(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
        (8, dt.datetime(2024, 1, 1, 10, 0), 2, "a", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 10, 0), 1, "b", 1.0, "{}"),
        # same-ts tiebreak: event_id 10 wins
        (11, dt.datetime(2024, 1, 1, 13, 0), 3, "a", 1.0, "{}"),
        (10, dt.datetime(2024, 1, 1, 13, 0), 3, "a", 1.0, "{}"),
        # excluded rows
        (12, None, 1, "a", 1.0, "{}"),
        (13, dt.datetime(2024, 1, 1, 10, 0), None, "a", 1.0, "{}"),
        (14, dt.datetime(2024, 1, 1, 10, 0), 1, None, 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r.user_id, r.event_type, r.batch_h.hour): (
            r.n_batch,
            r.seen_after,
            r.emitted,
            r.emitted_event_id,
        )
        for r in REGISTRY["stream_replay_dedup"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (1, "a", 10): (2, 2, 1, 3),
        (1, "a", 12): (1, 3, 0, None),
        (2, "a", 10): (1, 1, 1, 8),
        (1, "b", 10): (1, 1, 1, 9),
        (3, "a", 13): (2, 2, 1, 10),
    }


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_bpe_train_apply_hand_merges(spark, tmp_path):
    """Corpus 'ab ab ab b' (one doc). Vocab: ab×3, b×1 over symbols
    a/b/</w>. Round 1: pairs (a,b)=3, (b,</w>)=4 -> merge ('b','</w>').
    Round 2: (a,'b</w>')=3 -> merge ('a','b</w>'). Round 3: no pairs
    left -> the training loop BREAKS early (merges_str carries exactly
    two merges, pinning the early-exit path). Apply: 'ab' -> lowest-rank
    loop [a,b,</w>] -> [a,b</w>] -> [ab</w>] = 1 subword; 'b' -> 1. So
    n_words=4, n_subwords=4, compression_e3 = 1000*4 div 4 = 1000.

    The same fixture runs the DuckDB twin in-test: the unrolled-SQL
    re-derivation must early-exit identically (rounds past exhaustion
    have empty best-pair CTEs and no-op replaces), not pad merges_str."""
    import duckdb

    _write_docs(spark, tmp_path, [(1, "ab ab ab b", "en", "s", 10)])
    r = REGISTRY["bpe_train_apply"].runner(spark, str(tmp_path)).collect()
    assert len(r) == 1
    row = r[0]
    us, rs = chr(31), chr(30)
    exp_merges = f"b{us}</w>{rs}a{us}b</w>"
    assert (row.source, row.n_words, row.n_subwords) == ("s", 4, 4)
    assert row.compression_e3 == 1000
    assert row.merges_str == exp_merges

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    got = con.execute(REGISTRY["bpe_train_apply"].oracle).fetchall()
    assert got == [("s", 4, 4, 1000, exp_merges)]


def test_stream_replay_change_detect_hand_trace(spark, tmp_path):
    """User 1: 10.0 -> 200.0 inside batch 10h emits (10, 200, +190); the
    NaN row between batches is dropped WITHOUT touching the carried last
    value; 350.0 in batch 12h emits (200, 350, +150) — prev comes from
    the PREVIOUS batch, so a per-batch state reset emits nothing there
    and fails; 250.0 at 13h is a |100| move, NOT > threshold 100 (strict
    inequality pinned); a single-value user emits nothing."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 10, 0), 1, "a", 10.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 10, 30), 1, "a", 200.0, "{}"),
        (5, dt.datetime(2024, 1, 1, 10, 45), 1, "a", float("nan"), "{}"),
        (2, dt.datetime(2024, 1, 1, 12, 0), 1, "a", 350.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 13, 0), 1, "a", 250.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 10, 0), 2, "a", 500.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r.user_id, r.batch_h.hour): (r.prev_e4, r.curr_e4, r.jump_e4)
        for r in REGISTRY["stream_replay_change_detect"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (1, 10): (100000, 2000000, 1900000),
        (1, 12): (2000000, 3500000, 1500000),
    }


def test_stream_replay_cusum_hand_trace(spark, tmp_path):
    """Type 'a', k = 250 (dev = floor(v*1e4 + 0.5) - 2.5e6): 300 in batch
    10h -> S+ = 0.5e6; 300 again in batch 11h -> S+ = 1.0e6 — the carry
    across the boundary (a per-batch reset reads 0.5e6 and fails); 100
    in batch 12h (dev -1.5e6) clamps S+ to 0 and raises S- to 1.5e6.
    Type 'b' pins the clamp floor: 100 -> S+ = 0, S- = 1.5e6."""
    rows = [
        (0, dt.datetime(2024, 1, 1, 10, 0), 1, "a", 300.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 11, 0), 1, "a", 300.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 12, 0), 1, "a", 100.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 10, 0), 1, "b", 100.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r.event_type, r.batch_h.hour): (
            r.n_events,
            r.cusum_pos_e4,
            r.cusum_neg_e4,
        )
        for r in REGISTRY["stream_replay_cusum"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        ("a", 10): (1, 500000, 0),
        ("a", 11): (2, 1000000, 0),
        ("a", 12): (3, 0, 1500000),
        ("b", 10): (1, 0, 1500000),
    }


def test_change_detect_and_cusum_folds_shared_with_kernels():
    """Both replay certificates and their streaming kernels must fold
    through ONE function each — the certificates are vacuous otherwise."""
    import inspect

    from storm_data_etl_spark.streaming import stateful as S

    assert "change_detect_fold(" in inspect.getsource(S.make_change_detector)
    assert "cusum_fold(" in inspect.getsource(S.streaming_cusum)
    # change-detect: first value never emits; strict > threshold; jump carry
    last, emits = S.change_detect_fold(S.CHANGE_DETECT_ZERO, [10.0, 200.0], 100.0)
    assert (last, emits) == (200.0, [(10.0, 200.0, 190.0)])
    last, emits = S.change_detect_fold(last, [300.0], 100.0)
    assert (last, emits) == (300.0, [])  # exactly 100 is not > 100
    # cusum: clamp at zero on both sides, exact-int carry
    st = S.cusum_fold(S.CUSUM_ZERO, [500000])
    assert st == (500000, 0, 1)
    st = S.cusum_fold(st, [-1500000])
    # S+ clamps 500000 - 1500000 -> 0; S- was already clamped to 0 after
    # the positive dev, so it rises the full 1500000
    assert st == (0, 1500000, 2)


def test_mann_kendall_hand_series(spark, tmp_path):
    """Type 'a': 3 strictly-rising days -> S = +3 of 3 pairs, no ties,
    var18 = 3*2*11 = 66, z = floor(1e6 * (3-1) / sqrt(66/18)) mirrored in
    IEEE. Type 'b': two identical days -> the tie term cancels var18 to
    0 -> NULL z (the all-tied degenerate arm). Type 'c': single day ->
    S = 0, var18 = 0 -> NULL."""
    import math

    rows = [
        (0, dt.datetime(2024, 1, 1, 12), 1, "a", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 2, 12), 1, "a", 2.0, "{}"),
        (2, dt.datetime(2024, 1, 3, 12), 1, "a", 3.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 12), 1, "b", 5.0, "{}"),
        (4, dt.datetime(2024, 1, 2, 12), 1, "b", 5.0, "{}"),
        (5, dt.datetime(2024, 1, 1, 12), 1, "c", 7.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: (r.n_days, r.s_stat, r.var18, r.z_e6)
        for r in REGISTRY["mann_kendall_trend"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    z_a = math.floor(1000000.0 * (3 - 1) / math.sqrt(66 / 18.0))
    assert got == {
        "a": (3, 3, 66, z_a),
        "b": (2, 0, 0, None),
        "c": (1, 0, 0, None),
    }


def test_cochran_armitage_hand_doses(spark, tmp_path):
    """Type 'a': doses 0..3 (user_id % 4), one row each, outcomes
    0,0,1,1 -> N=4 A=2 T=5 W1=6 W2=14; num = 4*5 - 2*6 = 8,
    A(N-A) = 4, N*W2 - W1^2 = 20; z mirrored in the engines' staged
    IEEE order num*sqrt(N)/sqrt(A(N-A))/sqrt(den2). Type 'b' is
    all-success -> NULL (a = n). Type 'c' has one dose group only ->
    den2 = 0 -> NULL."""
    import math

    rows = [
        (0, TS10, 0, "a", 10.0, "{}"),   # w=0, y=0
        (1, TS10, 1, "a", 10.0, "{}"),   # w=1, y=0
        (2, TS10, 2, "a", 300.0, "{}"),  # w=2, y=1
        (3, TS10, 3, "a", 300.0, "{}"),  # w=3, y=1
        (4, TS10, 0, "b", 300.0, "{}"),
        (5, TS10, 1, "b", 300.0, "{}"),
        (6, TS10, 2, "c", 300.0, "{}"),
        (7, TS10, 2, "c", 10.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: (r.n, r.a, r.t_w, r.num, r.z_e6)
        for r in REGISTRY["cochran_armitage_trend"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    z_a = math.floor(
        1000000.0 * ((8 * math.sqrt(4.0) / math.sqrt(4.0)) / math.sqrt(20.0))
    )
    assert got == {
        "a": (4, 2, 5, 8, z_a),
        "b": (2, 2, 1, 0, None),
        "c": (2, 1, 2, 0, None),
    }


def test_js_divergence_hand_corpus(spark, tmp_path):
    """Sources 'a a b' and 'b b b': global a:2 b:4 (N=6), both tokens in
    the head, empty rest bucket contributes (0, 0). Every term mirrored
    in pure Python with the engines' exact expression order
    0.5 * p * ln(2p / (p+q)), floor-e6 per term BEFORE summing. The
    b-heavy source must read as less divergent than the a-heavy one
    (global mass is b-dominated)."""
    import math

    _write_docs(
        spark,
        tmp_path,
        [(1, "a a b", "en", "s1", 5), (2, "b b b", "en", "s2", 5)],
    )
    got = {
        r.source: (r.n_tokens, r.jsd_e6)
        for r in REGISTRY["js_divergence_sources"].runner(
            spark, str(tmp_path)
        ).collect()
    }

    def term(c, ns, cg, nn):
        p, q = c / ns, cg / nn
        tp = (
            math.floor(1000000.0 * (0.5 * p * math.log((2.0 * p) / (p + q))))
            if c > 0
            else 0
        )
        tq = (
            math.floor(1000000.0 * (0.5 * q * math.log((2.0 * q) / (p + q))))
            if cg > 0
            else 0
        )
        return tp + tq

    exp_s1 = term(2, 3, 2, 6) + term(1, 3, 4, 6)  # tokens a, b
    exp_s2 = term(0, 3, 2, 6) + term(3, 3, 4, 6)
    assert got == {"s1": (3, exp_s1), "s2": (3, exp_s2)}
    # the zero-category source diverges MORE (JSD charges missing mass
    # hardest): 0.132 nats vs 0.057
    assert got["s2"][1] > got["s1"][1]


def test_dedup_fold_shared_with_streaming_kernel():
    """The replay certificate and the streaming kernel must fold through
    ONE function — the certificate is vacuous if the code paths diverge."""
    import inspect

    from storm_data_etl_spark.streaming import stateful as S

    src = inspect.getsource(S.streaming_first_wins_dedup)
    assert "dedup_fold(" in src
    # the fold itself: empty batch is a no-op, first sight emits, replays
    # are swallowed while the counter keeps accumulating
    st, emit = S.dedup_fold(S.DEDUP_ZERO, 0)
    assert (st, emit) == ((0,), False)
    st, emit = S.dedup_fold(st, 3)
    assert (st, emit) == ((3,), True)
    st, emit = S.dedup_fold(st, 2)
    assert (st, emit) == ((5,), False)
