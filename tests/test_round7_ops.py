"""Round-7 operators: ExactSubstr span-removal dedup (hand-computed
removal semantics) and the new eval-tier queries.

ExactSubstr semantics pinned here (VERDICT r6 task 2): which copy
survives, boundary handling, overlap/adjacency interval merging, and the
empty-rebuild edge.
"""

from pyspark.sql import functions as F

from storm_data_etl_spark.plans import load_all
from storm_data_etl_spark.operators.suffix import exact_substr_cut

REGISTRY = load_all()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _cut(spark, rows, L):
    out = exact_substr_cut(_docs(spark, rows), min_len=L)
    return {r.doc_id: r for r in out.collect()}


def test_exact_substr_cross_doc_keep_first(spark):
    """doc 1 holds the original, doc 2 embeds a copy: the copy is cut,
    the original survives untouched (and emits no row — unchanged)."""
    got = _cut(spark, [(1, "abcdefgh"), (2, "xxabcdefghyy")], L=4)
    assert set(got) == {2}
    r = got[2]
    assert (r.orig_len, r.deduped_len, r.n_cut_chars) == (12, 4, 8)
    assert r.deduped_text == "xxyy"


def test_exact_substr_within_doc_repeat(spark):
    """Second occurrence inside the same doc is cut; the first survives."""
    got = _cut(spark, [(1, "abcdXabcd")], L=4)
    assert set(got) == {1}
    r = got[1]
    assert (r.orig_len, r.deduped_len, r.n_cut_chars) == (9, 5, 4)
    assert r.deduped_text == "abcdX"


def test_exact_substr_whole_doc_duplicate_rebuilds_empty(spark):
    """A doc that is entirely a duplicate rebuilds to the empty string
    (cut interval spans [1, len]; both complement segments are empty)."""
    got = _cut(spark, [(1, "aaaa"), (2, "aaaa")], L=4)
    assert set(got) == {2}
    r = got[2]
    assert (r.orig_len, r.deduped_len, r.n_cut_chars) == (4, 0, 4)
    assert r.deduped_text == ""


def test_exact_substr_overlapping_run_semantics(spark):
    """Self-overlapping repeats ('aaaaaa', L=4): positions 2 and 3 start
    non-first occurrences of 'aaaa', so cuts [2,5]+[3,6] merge to [2,6]
    and only the single leading 'a' survives — the documented per-gram
    keep-first semantic (the first occurrence's SPAN is not protected
    from cuts that other occurrences inflict)."""
    got = _cut(spark, [(1, "aaaaaa")], L=4)
    r = got[1]
    assert (r.orig_len, r.deduped_len, r.n_cut_chars) == (6, 1, 5)
    assert r.deduped_text == "a"


def test_exact_substr_disjoint_cuts_keep_middle(spark):
    """Two separate duplicated regions in one doc with unique text
    between them: both later copies are cut, the unique middle and the
    originals survive."""
    # doc 1 is the source of both grams; doc 2 embeds copy1 + noise + copy2
    got = _cut(spark, [(1, "abcd..wxyz"), (2, "abcdMIDDLEwxyz")], L=4)
    assert set(got) == {2}
    r = got[2]
    assert r.deduped_text == "MIDDLE"
    assert (r.orig_len, r.deduped_len, r.n_cut_chars) == (14, 6, 8)


def test_exact_substr_short_docs_untouched(spark):
    """Docs shorter than min_len can never contain an L-gram: no cuts,
    no output rows, even for byte-identical short docs."""
    got = _cut(spark, [(1, "abc"), (2, "abc")], L=4)
    assert got == {}


def test_exact_substr_sharded_equals_global(spark):
    """Sharded mode (per-shard suffix arrays + fingerprint cross-shard
    reconcile) produces IDENTICAL output to the global build, on a
    fixture with planted duplicates both within and across shards
    (docs/SCALE.md suffix-array family; VERDICT r6 task 6)."""
    from storm_data_etl_spark.operators.suffix import exact_substr_cut_sharded

    # 8 docs; duplicates planted between many (i, j) pairs so that under
    # ANY hash-sharding some class spans shards and some stays within.
    base = "The quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base + " ALPHA unique tail one"),
        (2, "prefix two " + base + " BravoTail"),
        (3, "charlie FIRSTSPAN0123456789abcdefgh three"),
        (4, "delta FIRSTSPAN0123456789abcdefgh four"),
        (5, "echo totally unique content nothing shared here at all five"),
        (6, "foxtrot FIRSTSPAN0123456789abcdefgh six " + base),
        (7, "golf unique but short"),
        (8, base + " " + base),  # self-overlap within one doc
    ]
    docs = _docs(spark, rows)
    L = 24
    glob = {
        r.doc_id: (r.orig_len, r.deduped_len, r.n_cut_chars, r.deduped_text)
        for r in exact_substr_cut(docs, min_len=L).collect()
    }
    for n_shards in (2, 3):
        shard = {
            r.doc_id: (r.orig_len, r.deduped_len, r.n_cut_chars, r.deduped_text)
            for r in exact_substr_cut_sharded(
                docs, min_len=L, n_shards=n_shards
            ).collect()
        }
        assert shard == glob, f"n_shards={n_shards} diverges from global"
    # sanity: the fixture genuinely exercises the cross-shard path — at
    # least one duplicated L-gram class spans two different shards
    from pyspark.sql import functions as F2

    fp = docs.filter(F2.length("text") >= L).select(
        F2.pmod(F2.xxhash64("doc_id"), F2.lit(2)).alias("s"),
        F2.explode(
            F2.sequence(F2.lit(1), F2.length("text") - F2.lit(L - 1))
        ).alias("pos"),
        "text",
    ).select("s", F2.expr(f"substr(text, pos, {L})").alias("g"))
    spanning = (
        fp.groupBy("g")
        .agg(F2.countDistinct("s").alias("ns"), F2.count(F2.lit(1)).alias("n"))
        .filter((F2.col("ns") >= 2) & (F2.col("n") >= 2))
        .count()
    )
    assert spanning > 0, "fixture has no cross-shard duplicate to test"


def test_exact_substr_registry_runner(spark, tmp_path):
    """Registry entry wires the documents table through the operator."""
    rows = [
        (1, "abcdefghijklmnopqrstuvwxyz012345NOISE", "en", "s0", 37),
        (2, "PREabcdefghijklmnopqrstuvwxyz012345POST", "en", "s0", 40),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r.doc_id: r
        for r in REGISTRY["exact_substr_dedup"].runner(
            spark, str(tmp_path)
        ).collect()
    }
    # the 32-char shared run "abcdefghijklmnopqrstuvwxyz012345" is cut
    # from doc 2 (doc 1 is first); PRE/POST survive.
    assert set(out) == {2}
    assert out[2].deduped_text == "PREPOST"
    assert out[2].n_cut_chars == 32
