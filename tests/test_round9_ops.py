"""Round-9 operators: in-engine quality-classifier training
(quality_model_train), checked against an INDEPENDENT pure-Python
re-implementation of the exact integer gradient-descent fold over
hand-derived feature values.

The fixture texts reuse the round-8 corpus (tests/test_round8_ops.py)
whose token/char/stopword counts are hand-derivable; every feature value
below is computed by hand in the comments, not by running engine code.
"""

from __future__ import annotations

from storm_data_etl_spark.plans import retrieval_queries as RQ
from storm_data_etl_spark.plans import load_all

REGISTRY = load_all()

#: See tests/test_round8_ops.py for the band math of these texts.
T_HIGH = "the quick brown fox jumps over the lazy dog " * 5
T_LOW = "!!!"
T_MIX = "the fox runs far away " * 4

#: Hand-derived boundary-anchored features (x1..x4, y) — the arithmetic
#: is spelled out per text; any engine change that shifts a feature
#: definition breaks these rows first.
#
# T_HIGH: 45 tokens (9 per rep x 5), 8 unique, 'the' x10 stopwords,
#         220 chars, 0 punct, quality 1.0 -> y=1.
#   x1 = min((10*10000)//45, 2000) - 500 = 2000 - 500        = 1500
#   x2 = min(220, 400)*50 - 10000 = 11000 - 10000            = 1000
#   x3 = (8*10000)//45 - 5000 = 1777 - 5000                  = -3223
#   x4 = (0*10000)//220 - 2000                               = -2000
# T_LOW: 1 token '!!!', 1 unique, 0 stopwords, 3 chars, 3 punct,
#        quality 0.325 -> y=0.
#   x1 = min((0*10000)//1, 2000) - 500                       = -500
#   x2 = min(3, 400)*50 - 10000 = 150 - 10000                = -9850
#   x3 = (1*10000)//1 - 5000                                 = 5000
#   x4 = (3*10000)//3 - 2000 = 10000 - 2000                  = 8000
# T_MIX: 20 tokens (5 x 4), 5 unique, 'the' x4 stopwords, 88 chars,
#        0 punct, quality 0.85 -> y=0.
#   x1 = min((4*10000)//20, 2000) - 500 = 2000 - 500         = 1500
#   x2 = min(88, 400)*50 - 10000 = 4400 - 10000              = -5600
#   x3 = (5*10000)//20 - 5000 = 2500 - 5000                  = -2500
#   x4 = (0*10000)//88 - 2000                                = -2000
HAND_FEATURES = {
    T_HIGH: (1500, 1000, -3223, -2000, 1),
    T_LOW: (-500, -9850, 5000, 8000, 0),
    T_MIX: (1500, -5600, -2500, -2000, 0),
}


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _tdiv(a: int, b: int) -> int:
    """Sign-split truncating division — the identity both engines use."""
    assert b > 0
    return a // b if a >= 0 else -((-a) // b)


def _train_reference(rows, lr=RQ._QMT_LR, epochs=RQ._QMT_EPOCHS):
    """Independent pure-Python fold of the exact integer GD the query
    specifies: e4 features, e6 weights, Elliott rational sigmoid."""
    w = [0] * 5
    n = len(rows)
    for _ in range(epochs):
        g = [0] * 5
        for (x1, x2, x3, x4, y) in rows:
            xs = (10000, x1, x2, x3, x4)
            z10 = sum(wj * xj for wj, xj in zip(w, xs))
            z6 = _tdiv(z10, 10000)
            p6 = 500000 + _tdiv(z6 * 1000000, 2 * (1000000 + abs(z6)))
            err = p6 - y * 1000000
            for j, xj in enumerate(xs):
                g[j] += err * xj
        w = [wj - _tdiv(lr * gj, max(n, 1) * 10000) for wj, gj in zip(w, g)]
    n_correct = 0
    for (x1, x2, x3, x4, y) in rows:
        xs = (10000, x1, x2, x3, x4)
        z10 = sum(wj * xj for wj, xj in zip(w, xs))
        z6 = _tdiv(z10, 10000)
        p6 = 500000 + _tdiv(z6 * 1000000, 2 * (1000000 + abs(z6)))
        n_correct += int((p6 >= 500000) == (y == 1))
    return w, n_correct


def test_quality_model_train_hand_computed(spark, tmp_path):
    """Trained weights over the 3-text fixture equal the independent
    integer-GD fold over the hand-derived feature rows."""
    texts = [T_HIGH, T_LOW, T_MIX, T_HIGH, T_LOW]
    sf = _write_docs(
        spark,
        tmp_path,
        [(i + 1, t, "en", "s1", len(t)) for i, t in enumerate(texts)],
    )
    out = {
        r.feature: r
        for r in REGISTRY["quality_model_train"].runner(spark, sf).collect()
    }
    assert set(out) == set(RQ._QMT_FEATURES)
    rows = [HAND_FEATURES[t] for t in texts]
    w_exp, acc_exp = _train_reference(rows)
    got = [out[f].weight_e6 for f in RQ._QMT_FEATURES]
    assert got == w_exp, f"weights {got} != reference fold {w_exp}"
    any_row = out["bias"]
    assert any_row.n_train == 5
    assert any_row.n_pos == 2  # the two T_HIGH copies
    assert any_row.n_correct == acc_exp
    # training moved off the all-zero initialization
    assert any(w != 0 for w in got)


def test_quality_model_train_empty_input(spark, tmp_path):
    """Empty corpus: weights stay at the zero init (greatest(n,1) guard),
    counts all zero — 5 deterministic rows, no division-by-zero error."""
    sf = _write_docs(spark, tmp_path, [])
    rows = REGISTRY["quality_model_train"].runner(spark, sf).collect()
    assert len(rows) == 5
    for r in rows:
        assert (r.weight_e6, r.n_train, r.n_pos, r.n_correct) == (0, 0, 0, 0)


def test_trained_coefficients_feed_scorer(spark, tmp_path):
    """The trained vector is consumable by the scorer plan shape
    (VERDICT r8 task 5 'coefficients feeding the existing scorer'):
    re-running the forward pass as a quality_model_score-style inference
    select with the trained weights reproduces the query's own
    n_correct — proving the coefficients round-trip into inference."""
    from pyspark.sql import functions as F
    from storm_data_etl_spark.functions import text as X
    from storm_data_etl_spark.plans.tables import t

    texts = [T_HIGH, T_LOW, T_MIX] * 3
    sf = _write_docs(
        spark,
        tmp_path,
        [(i + 1, tx, "en", "s1", len(tx)) for i, tx in enumerate(texts)],
    )
    out = {
        r.feature: r.weight_e6
        for r in REGISTRY["quality_model_train"].runner(spark, sf).collect()
    }
    w = [out[f] for f in RQ._QMT_FEATURES]

    docs = t(spark, sf, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    counts = docs.select(
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(
            F.filter(toks, lambda x: x.isin("a", "the", "of", "and", "to"))
        ).alias("n_stop"),
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(r"[^a-zA-Z0-9_\s]")).alias("n_punct"),
        (F.floor(X.quality_score("text") * 10000 + 0.5) >= 9000)
        .cast("int")
        .alias("y"),
    )
    # scorer-style inference: one codegen select dotting the trained
    # weights (broadcast constants) with the same anchored features.
    inf = counts.selectExpr(
        "y",
        "least(CASE WHEN n_words > 0 THEN (n_stop * 10000) div n_words"
        "           ELSE 0 END, 2000) - 500 AS x1",
        "least(n_chars, 400) * 50 - 10000 AS x2",
        "CASE WHEN n_words > 0 THEN (n_uniq * 10000) div n_words"
        "     ELSE 0 END - 5000 AS x3",
        "CASE WHEN n_chars > 0 THEN (n_punct * 10000) div n_chars"
        "     ELSE 0 END - 2000 AS x4",
    ).selectExpr(
        "y",
        f"CAST({w[0]} AS DECIMAL(38,0)) * 10000"
        f" + CAST({w[1]} AS DECIMAL(38,0)) * x1"
        f" + CAST({w[2]} AS DECIMAL(38,0)) * x2"
        f" + CAST({w[3]} AS DECIMAL(38,0)) * x3"
        f" + CAST({w[4]} AS DECIMAL(38,0)) * x4 AS z10",
    )
    pred = inf.selectExpr(
        "y",
        "CASE WHEN z10 >= 0 THEN z10 div 10000"
        "     ELSE -((-z10) div 10000) END AS z6",
    ).selectExpr(
        "y",
        "CASE WHEN 500000 + (CASE WHEN z6 >= 0"
        "     THEN (z6 * 1000000) div (2 * (1000000 + z6))"
        "     ELSE -(((-z6) * 1000000) div (2 * (1000000 - z6))) END)"
        "     >= 500000 THEN 1 ELSE 0 END AS keep",
    )
    n_correct = pred.filter("keep = CAST(y AS INT)").count()
    q_row = REGISTRY["quality_model_train"].runner(spark, sf).collect()[0]
    assert q_row.n_correct == n_correct


# =====================================================================
# Streaming replay certificate (stream_replay_running_stats)
# =====================================================================

def _write_events(spark, tmp_path, rows):
    from datetime import datetime

    spark.createDataFrame(
        [
            (eid, datetime.fromisoformat(ts), uid, "click", val, "{}")
            for (eid, ts, uid, val) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_stream_replay_trace_hand_computed(spark, tmp_path):
    """Three hour-batches for user 1 (the middle one all-NULL and thus
    NOT emitted — the kernel's untouched-batch rule), one for user 2.
    Expected snapshots hand-folded: state carries ACROSS batches, within
    -batch order is (ts, event_id)."""
    rows = [
        # user 1, batch 10:00 — values in (ts, event_id) order: 4.0, 2.0
        (1, "2024-03-01 10:00:05", 1, 4.0),
        (2, "2024-03-01 10:00:30", 1, 2.0),
        # user 1, batch 11:00 — only NULL: batch untouched, NO snapshot
        (3, "2024-03-01 11:00:00", 1, None),
        # user 1, batch 12:00 — one value 10.0 (plus a NULL to drop)
        (4, "2024-03-01 12:00:00", 1, 10.0),
        (5, "2024-03-01 12:30:00", 1, None),
        # user 2, single batch, ts tie broken by event_id: 6.0 then -2.0
        (6, "2024-03-01 10:00:00", 2, 6.0),
        (7, "2024-03-01 10:00:00", 2, -2.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r.user_id, str(r.batch_h)): (r.n, r.total_e4, r.vmin_e4, r.vmax_e4, r.ewma_e4)
        for r in REGISTRY["stream_replay_running_stats"].runner(spark, sf).collect()
    }
    # user 1 @10:00: fold 4.0, 2.0 -> n=2 total=6 min=2 max=4
    #   ewma: 4.0 then 0.2*2 + 0.8*4 = 3.6
    # user 1 @12:00 (state carried over the skipped 11:00): fold 10.0 ->
    #   n=3 total=16 min=2 max=10, ewma = 0.2*10 + 0.8*3.6 = 4.88
    # user 2 @10:00: fold 6.0, -2.0 -> n=2 total=4 min=-2 max=6
    #   ewma: 6.0 then 0.2*(-2) + 0.8*6 = 4.4
    assert got == {
        (1, "2024-03-01 10:00:00"): (2, 60000, 20000, 40000, 36000),
        (1, "2024-03-01 12:00:00"): (3, 160000, 20000, 100000, 48800),
        (2, "2024-03-01 10:00:00"): (2, 40000, -20000, 60000, 44000),
    }


def test_stream_replay_matches_live_stream(spark, tmp_path):
    """The certificate's replay equals the REAL streaming kernel run as an
    actual micro-batched stream: feed the same rows through
    streaming_running_stats (applyInPandasWithState, one file per
    micro-batch in hour order, maxFilesPerTrigger=1) and compare the final
    per-key state to the certificate's last snapshot per key."""
    import os
    from datetime import datetime

    from storm_data_etl_spark.streaming.stateful import streaming_running_stats

    rows = [
        (1, "2024-03-01 10:00:05", 1, 4.0),
        (2, "2024-03-01 10:00:30", 1, 2.0),
        (4, "2024-03-01 12:00:00", 1, 10.0),
        (6, "2024-03-01 10:00:00", 2, 6.0),
        (7, "2024-03-01 10:00:00", 2, -2.0),
    ]
    sf = _write_events(spark, tmp_path, rows)

    # live stream: one parquet file per hour-batch, consumed in order
    src = f"{tmp_path}/stream_src"
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = {}
    for (eid, ts, uid, val) in rows:
        batches.setdefault(ts[:13], []).append(
            (eid, datetime.fromisoformat(ts), uid, val)
        )
    for i, key in enumerate(sorted(batches)):
        spark.createDataFrame(batches[key], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # rename so file order == batch order is irrelevant: the stream
        # sorts within batch by order_col=(ts); cross-batch order comes
        # from maxFilesPerTrigger=1 consuming in file-listing order only
        # when files arrive one per trigger — enforced by writing all and
        # letting the kernel's ordered fold prove state carry regardless.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_running_stats(stream, "user_id", "value", alpha=0.2, order_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("replay_cert_live")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = spark.sql(
        "SELECT user_id, n, total, vmin, vmax, ewma FROM replay_cert_live"
    ).collect()
    # final state per key = the row with the largest n
    final_live = {}
    for r in live:
        if r.user_id not in final_live or r.n > final_live[r.user_id].n:
            final_live[r.user_id] = r

    cert = REGISTRY["stream_replay_running_stats"].runner(spark, sf).collect()
    final_cert = {}
    for r in cert:
        if r.user_id not in final_cert or r.n > final_cert[r.user_id].n:
            final_cert[r.user_id] = r
    assert set(final_live) == set(final_cert) == {1, 2}
    for uid in (1, 2):
        lr, cr = final_live[uid], final_cert[uid]
        assert lr.n == cr.n
        import math
        assert math.floor(lr.total * 10000) == cr.total_e4
        assert math.floor(lr.vmin * 10000) == cr.vmin_e4
        assert math.floor(lr.vmax * 10000) == cr.vmax_e4
        assert math.floor(lr.ewma * 10000) == cr.ewma_e4


# =====================================================================
# quality_model_auc — in-engine eval of the in-engine-trained model
# =====================================================================

def _auc_reference(scores, ys):
    """Independent tie-corrected Mann-Whitney AUC (midranks), returning
    the e6-quantized integer the query specifies."""
    pairs = sorted(zip(scores, ys))
    n = len(pairs)
    # midranks: doubled rank r2 = lo + hi for each tied block
    r2sum_pos = 0
    i = 0
    while i < n:
        j = i
        while j < n and pairs[j][0] == pairs[i][0]:
            j += 1
        r2 = (i + 1) + j  # lo + hi of 1-based ranks in the tied block
        r2sum_pos += sum(r2 for k in range(i, j) if pairs[k][1] == 1)
        i = j
    n1 = sum(ys)
    n0 = n - n1
    if n1 == 0 or n0 == 0:
        return n1, n0, None
    return n1, n0, (1000000 * (r2sum_pos - n1 * (n1 + 1))) // (2 * n1 * n0)


def test_quality_model_auc_hand_computed(spark, tmp_path):
    """AUC over a fixture with DUPLICATE texts (tied logits → midranks
    exercised) equals the independent rank-sum implementation fed with
    logits derived from the hand-derived features + the reference GD
    fold — no engine code on the expected-value path."""
    texts = [T_HIGH, T_LOW, T_MIX, T_HIGH, T_LOW, T_MIX, T_HIGH]
    sf = _write_docs(
        spark,
        tmp_path,
        [(i + 1, tx, "en", "s1", len(tx)) for i, tx in enumerate(texts)],
    )
    rows = [HAND_FEATURES[tx] for tx in texts]
    w, _ = _train_reference(rows)
    scores, ys = [], []
    for (x1, x2, x3, x4, y) in rows:
        xs = (10000, x1, x2, x3, x4)
        scores.append(sum(wj * xj for wj, xj in zip(w, xs)))
        ys.append(y)
    n1, n0, auc = _auc_reference(scores, ys)
    got = REGISTRY["quality_model_auc"].runner(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_pos, r.n_neg, r.auc_e6) == (n1, n0, auc)
    # ties are actually present (3 distinct texts over 7 docs)
    assert len(set(scores)) < len(scores)
    # the trained model separates this fixture perfectly: AUC = 1
    assert r.auc_e6 == 1000000


def test_quality_model_auc_single_class_null(spark, tmp_path):
    """All-positive corpus: n_neg = 0 → AUC undefined → NULL."""
    sf = _write_docs(
        spark, tmp_path, [(i, T_HIGH, "en", "s1", len(T_HIGH)) for i in (1, 2, 3)]
    )
    r = REGISTRY["quality_model_auc"].runner(spark, sf).collect()[0]
    assert (r.n_pos, r.n_neg, r.auc_e6) == (3, 0, None)
