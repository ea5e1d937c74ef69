"""Tests for the dedup family: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The sketch operators are validated against the exact Jaccard operator on a
corpus with planted near-duplicates — the same oracle strategy the driver
uses for SQL-expressible queries.
"""

from __future__ import annotations

import random

from storm_data_etl_spark.operators import dedup as D

WORDS = (
    "storm hail wind tornado report severe warning radar echo county state "
    "mile north south east west large small damage tree power line roof"
).split()


def _corpus(spark, n_base=20, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        text = " ".join(rng.choice(WORDS) for _ in range(60))
        rows.append((i, text))
        if i < 5:
            # planted near-duplicate: perturb ~5% of tokens
            toks = text.split()
            for _ in range(3):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
            rows.append((100 + i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_first_wins(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),  # same fingerprint after normalization
            (3, "different text"),
        ],
        "doc_id long, text string",
    )
    out = D.exact_dedup(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 3]
    assert out[0].dup_count == 2 and out[1].dup_count == 1


def test_ngram_jaccard_finds_planted_dups(spark):
    df = _corpus(spark)
    pairs = D.ngram_jaccard_pairs(df, k=3, threshold=0.3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(5):
        assert (i, 100 + i) in found, f"planted near-dup {i} not found"
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0


def test_minhash_lsh_recall_vs_exact(spark):
    df = _corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(
            df, num_hashes=64, bands=16, k=3, threshold=0.3
        ).collect()
    }
    # every strongly-similar exact pair must be recalled by LSH
    missed = [p for p in exact if p not in approx]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    # estimates within sketch error of truth
    for p, est in approx.items():
        if p in exact:
            assert abs(est - exact[p]) < 0.25


def test_minhash_signature_deterministic(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    s1 = D.minhash_signatures(df, num_hashes=16).collect()[0].signature
    s2 = D.minhash_signatures(df, num_hashes=16).collect()[0].signature
    assert s1 == s2 and len(s1) == 16


def test_simhash_near_dup_small_hamming(spark):
    base = " ".join(WORDS * 3)
    toks = (WORDS * 3)[:]
    toks[5] = "changedword"
    near = " ".join(toks)
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "utterly unrelated content entirely elsewhere")],
        "doc_id long, text string",
    )
    cands = D.simhash_candidates(df, max_hamming=16, bands=4).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in cands}
    assert (1, 2) in got
    assert got[(1, 2)] <= 16
    assert (1, 3) not in got or got[(1, 3)] > got[(1, 2)]


def test_minhash_verified_equals_exact(spark):
    df = _corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_verified_pairs(
            df, num_hashes=64, bands=16, k=3, threshold=0.5
        ).collect()
    }
    # verify step makes the LSH path exact: same pairs, same jaccard values
    assert verified == exact and len(exact) >= 5


def test_connected_components_chains_and_islands(spark):
    # chain 1-2-3 (no direct 1-3 edge) + island pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # worst-case diameter: a path graph 0-1-2-...-9
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert set(comp.values()) == {0} and len(comp) == 10


def test_dedup_by_pairs_keeps_min_representative(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(5)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (1, 4)], "id_a long, id_b long")
    out = sorted(r.doc_id for r in D.dedup_by_pairs(df, pairs).collect())
    assert out == [0, 1, 2]


def _union_find_components(edges):
    """Reference model: node -> minimum node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_connected_components_matches_union_find(spark):
    """Propagation runs to its fixpoint: the 40-node path (diameter 39)
    needs 40 rounds, more than any fixed round cap short of that."""
    rng = random.Random(11)
    graphs = {
        "path": [(i, i + 1) for i in range(12)],
        "star": [(0, i) for i in range(1, 8)],
        "two_cliques": [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)],
        "random": list({tuple(sorted(rng.sample(range(60), 2))) for _ in range(45)}),
        "descending_path": [(i + 1, i) for i in range(10, 20)],
        "path_40": [(i, i + 1) for i in range(39)],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.component for r in D.connected_components(pairs).collect()}
        assert got == _union_find_components(edges), name


def test_prefix_filtered_equals_all_pairs(spark, sf_dir):
    """PPJoin prefix filter is exact: identical (id_a, id_b, jaccard) set
    to the full inverted-index operator at the same threshold."""
    from storm_data_etl_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_prefix_pairs(docs, k=3, threshold=0.2).collect()
    }
    assert pref == exact
    assert exact  # non-degenerate: the corpus has planted near-dups
    # and at the registered high-threshold regime (t=0.8), where the
    # prefix + positional + length filters actually prune
    exact8 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.8).collect()
    }
    pref8 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_prefix_pairs(docs, k=3, threshold=0.8).collect()
    }
    assert pref8 == exact8
    assert exact8


def test_label_propagation_two_cliques(spark):
    """Two cliques joined by one bridge edge: after 2 rounds every member
    labels with its clique minimum; deterministic min tie-break."""
    from storm_data_etl_spark.operators.graph import label_propagation

    edges = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(3, 10)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iterations=2).collect()}
    assert all(got[n] == 0 for n in range(4))
    # clique 2: node 10 touches the bridge but majority still wins
    assert all(got[n] == 10 for n in range(11, 14))


def test_kcore_peels_tail(spark):
    """Triangle 0-1-2 plus a pendant chain 2-3-4: 2-core keeps exactly the
    triangle (round 1 drops node 4, round 2 drops the now-degree-1 node 3);
    surviving degrees are the within-core degrees."""
    from storm_data_etl_spark.operators.graph import kcore

    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.degree for r in kcore(df, k=2, rounds=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_complete_graph_survives(spark):
    """K4 is its own 3-core: nothing peels, all degrees stay 3."""
    from storm_data_etl_spark.operators.graph import kcore

    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.degree for r in kcore(df, k=3, rounds=2).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_containment_subset_doc(spark):
    """A 4-word doc embedded verbatim in a longer doc: containment = 1.0
    even though Jaccard is far below threshold; unrelated docs absent."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in D.containment_pairs(docs, k=3, threshold=0.6).collect()
    }
    assert got == {(1, 2): 1.0}


def test_global_rank_is_total_order(spark, sf_dir):
    from storm_data_etl_spark.operators.dedup import global_rank
    from storm_data_etl_spark.plans.tables import t

    docs = t(spark, sf_dir, "documents").select("doc_id")
    ranked = global_rank(docs, ["doc_id"], num_partitions=4).collect()
    n = len(ranked)
    assert sorted(r.rnk for r in ranked) == list(range(1, n + 1))
    # rank order == key order
    by_rank = [r.doc_id for r in sorted(ranked, key=lambda r: r.rnk)]
    assert by_rank == sorted(by_rank)


def test_sorted_neighborhood_matches_python_model(spark, sf_dir):
    import re

    from storm_data_etl_spark.operators.dedup import sorted_neighborhood_pairs
    from storm_data_etl_spark.plans.tables import t

    docs = t(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b) for r in sorted_neighborhood_pairs(docs, window=3).collect()
    }

    def norm(s):
        return re.sub(r"[^a-z0-9À-ɏ一-鿿]+", " ", s.lower()).strip()

    rows = [(r.doc_id, norm(r.text)) for r in docs.select("doc_id", "text").collect()]
    ranked = sorted(rows, key=lambda x: (x[1][:24], x[0]))
    expect = set()
    for i, (ia, ta) in enumerate(ranked):
        for j in range(i + 1, min(i + 4, len(ranked))):
            ib, tb = ranked[j]
            wa, wb = set(ta.split(" ")), set(tb.split(" "))
            jac = len(wa & wb) / (len(wa) + len(wb) - len(wa & wb))
            if jac >= 0.4:
                expect.add((min(ia, ib), max(ia, ib)))
    assert got == expect
    assert len(got) > 0


def test_oph_signatures_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "completely different words here now")],
        "doc_id long, text string",
    )
    s1 = {r.id: r.signature for r in D.oph_signatures(df, num_bins=32).collect()}
    s2 = {r.id: r.signature for r in D.oph_signatures(df, num_bins=32).collect()}
    assert s1 == s2
    assert all(len(sig) == 32 for sig in s1.values())
    # densification filled every bin: real values are reduced mod the
    # Mersenne prime (< 2^31); a surviving empty-bin sentinel (2^63-1)
    # would fail this bound.
    assert all(0 <= v < (1 << 31) for sig in s1.values() for v in sig)


def test_oph_lsh_recall_vs_exact(spark):
    """One-permutation signatures must recall the planted near-dups that
    exact Jaccard finds, with estimates in sketch range — the same
    certification contract as classic MinHash, at 1/num_hashes the
    signature-pass hash cost."""
    df = _corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.oph_lsh_pairs(df, num_bins=64, bands=16, k=3, threshold=0.3).collect()
    }
    missed = [p for p in exact if p not in approx]
    assert not missed, f"OPH-LSH missed high-similarity pairs: {missed}"
    for p, est in approx.items():
        if p in exact:
            assert abs(est - exact[p]) < 0.3


def test_oph_agrees_with_classic_minhash_candidates(spark):
    """OPH and classic MinHash are different estimators of the same
    quantity: their candidate sets at a low threshold must agree on the
    strongly-similar pairs (both sketches' banding catches j≥0.8 w.h.p.)."""
    df = _corpus(spark)
    classic = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(df, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    oph = {
        (r.id_a, r.id_b)
        for r in D.oph_lsh_pairs(df, num_bins=64, bands=16, threshold=0.5).collect()
    }
    strong = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.8).collect()
    }
    assert strong <= classic and strong <= oph


def test_substring_dup_spans_known_corpus(spark):
    """Hand-built corpus with a known shared 30-char passage: coverage
    must equal the merged union of duplicated 10-gram spans, not the
    position count times gram length (overlaps merge)."""
    from storm_data_etl_spark.operators.dedup import substring_dup_spans

    shared = "the quick brown fox jumps over"  # 30 chars
    rows = [
        # no common characters ADJACENT to the passage, or the shared
        # region (and the expected counts) silently grows
        (1, "AAA-" + shared + "XYZQWERTYUIO"),
        (2, "BBBB+" + shared + "0987654321ZZ"),
        (3, "completely unique text here with nothing shared at all"),
        (4, "tiny"),  # shorter than one gram -> zero rows contributed
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in substring_dup_spans(df, gram_len=10).collect()}
    # every 10-gram inside the 30-char shared passage is duplicated:
    # 21 start positions, merged coverage = 30 chars
    assert out[1].n_dup_positions == 21
    assert out[1].dup_coverage_chars == 30
    assert out[2].n_dup_positions == 21
    assert out[2].dup_coverage_chars == 30
    assert out[3].n_dup_positions == 0 and out[3].dup_coverage_chars == 0
    assert out[4].n_chars == 4 and out[4].n_dup_positions == 0


def test_substring_dup_spans_within_one_doc(spark):
    """Repetition INSIDE a single document also counts (n_occ >= 2 in the
    corpus, same doc or not) — the self-repetition case Lee et al. cut."""
    from storm_data_etl_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [(1, "abcdefghij-MIDDLE-abcdefghij")], ["doc_id", "text"]
    )
    out = substring_dup_spans(df, gram_len=10).collect()[0]
    assert out.n_dup_positions == 2  # both copies of the 10-gram
    assert out.dup_coverage_chars == 20


def test_dup_length_bracket(spark):
    from storm_data_etl_spark.operators.dedup import dup_length_bracket

    copied = "X" * 40  # a 40-char run shared by docs 1 and 2
    rows = [
        (1, "prefix one " + copied + " suffix aaa"),
        (2, "prefix two " + copied + " suffix bbb"),
        (3, "entirely original text with no repeats anywhere at all ok"),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["max_dup_len"]
        for r in dup_length_bracket(df, lengths=(16, 32, 64)).collect()
    }
    # the shared 40-char run: every 16- and 32-gram inside it duplicates,
    # no 64-gram can (the surrounding text differs) → bracket = 32
    assert got[1] == 32 and got[2] == 32
    # NOTE: doc 3 shares no 16-gram with others; doc 4 is shorter than the
    # smallest gram → both 0
    assert got[3] == 0 and got[4] == 0


def test_chunk_boundary_overlap_recovers_seams(spark, tmp_path):
    """Handcrafted chunking: the detector finds exactly the constructed
    seam and no pair for unrelated docs."""
    from storm_data_etl_spark.plans import ml_queries as MQ

    long_text = "".join(chr(ord("a") + (i * 7) % 26) for i in range(120))
    rows = [
        (0, long_text, "en", "s1", len(long_text)),   # split (0 % 7 == 0)
        (1, "x" * 60, "en", "s1", 60),                # whole, self-seam? suffix==prefix ('x'*24) with itself only — excluded by id
        (2, "completely different text " * 4, "en", "s1", 104),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r for r in
           MQ.chunk_boundary_overlap(spark, str(tmp_path)).collect()}
    r = out["s1"]
    # doc 0 -> chunks 0 and 1 share the 24-char seam: pair (0, 1)
    assert r.first_left_id == 0
    assert r.n_pairs >= 1
    # replicate the seam: chunk0 suffix == chunk1 prefix
    mid = 120 // 2
    c0, c1 = long_text[: mid + 12], long_text[mid - 12 :]
    assert c0[-24:] == c1[:24]


def test_minhash_lcg_exact_dup_full_signature(spark, tmp_path):
    """Identical docs share all 16 minima -> 4/4 bands, est 10000; an
    unrelated doc pairs with nothing."""
    from storm_data_etl_spark.plans import ml_queries as MQ

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "en", "s", len(text)),
        (2, text, "en", "s", len(text)),
        (3, "completely unrelated content about spark partitions", "en", "s", 50),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = MQ.minhash_lcg_lsh_pairs(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.n_shared_bands == 4 and r.est_jaccard_e4 == 10000


def test_cdc_chunks_shift_resistant(spark, tmp_path):
    """Content-defined boundaries: prepending text to a long doc leaves
    most downstream chunks identical (they re-align), so the twin docs
    share duplicated chunk mass; the per-doc replica validates the
    rolling-hash cut rule."""
    from storm_data_etl_spark.plans import ml_queries as MQ

    base = "".join(chr(ord("a") + (i * 11 + i // 17) % 26) for i in range(600))
    shifted = "XYZQW" + base
    rows = [
        (1, base, "en", "sA", len(base)),
        (2, shifted, "en", "sA", len(shifted)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r for r in MQ.cdc_chunk_dedup(spark, str(tmp_path)).collect()}
    r = out["sA"]

    # python replica of the chunker
    P = 2147483647
    def chunks(text):
        n = len(text)
        cuts = []
        for i in range(8, n):
            h = 0
            for ch in text[i - 8 : i]:
                h = (h * 31 + ord(ch)) % P
            if h % 64 == 0:
                cuts.append(i)
        cuts.append(n)
        prev, out = 0, []
        for c in cuts:
            out.append(text[prev:c])
            prev = c
        return out

    c1, c2 = chunks(base), chunks(shifted)
    assert r.n_chunks == len(c1) + len(c2)
    shared = set(c1) & set(c2)
    assert shared  # boundaries re-align after the insertion
    expected_dup_chars = sum(len(c) for c in c1 if c in shared) + sum(
        len(c) for c in c2 if c in shared
    )
    assert r.dup_chars == expected_dup_chars
    assert r.dup_chars > 0


def test_simhash_lcg_pigeonhole_recall(spark, tmp_path):
    """A pair of near-identical docs (tiny edit) lands at small Hamming
    and MUST be emitted (4x15-bit bands cannot all differ on <= 3 bits);
    an unrelated doc pairs with nothing at the emission radius."""
    from storm_data_etl_spark.plans import ml_queries as MQ

    base = ("the quick brown fox jumps over the lazy dog while the rain "
            "in spain stays mainly on the plain and the cat sat on the mat "
            "repeatedly throughout the long afternoon session yesterday")
    near = base.replace("afternoon", "afternoun")  # one-char edit
    rows = [
        (1, base, "en", "s", len(base)),
        (2, near, "en", "s", len(near)),
        (3, "zzz qqq completely 12345 different ##@@ unrelated payload "
            "nothing shared here at all 98765 xyzzy plugh", "en", "s", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = MQ.simhash_lcg_candidates(spark, str(tmp_path)).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.hamming <= 3 and r.n_shared_bands >= 1
    assert not any(3 in p for p in pairs)


def test_oph_lcg_densification_python_replica(spark, tmp_path):
    """Replay the full OPH pipeline (hash, bin scatter, min, rotation
    densification, banding estimate) in pure Python for a tiny corpus and
    require identical pair output."""
    from storm_data_etl_spark.plans import ml_queries as MQ
    from storm_data_etl_spark.functions.text import shingles as _  # noqa: F401

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta iota",   # near-dup of 1
        3: "one two three four five six seven eight nine",
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {(r.id_a, r.id_b): (r.n_shared_bands, r.est_jaccard_e4)
           for r in MQ.oph_lcg_lsh_pairs(spark, str(tmp_path)).collect()}

    P, C = 2147483647, 2654435761 % 2147483647

    def poly(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % P
        return h

    def sig_of(text):
        words = text.split()
        sh = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)} or {text}
        sig = [None] * 16
        for s in sh:
            h = poly(s)
            b = h % 16
            if sig[b] is None or h < sig[b]:
                sig[b] = h
        for i in range(16):
            if sig[i] is None:
                d, j = min(((jj - i) % 16, jj) for jj in range(16)
                           if sig[jj] is not None and (jj - i) % 16 > 0)
                sig[i] = (sig[j] + d * C) % P
        return sig

    sigs = {i: sig_of(t) for i, t in texts.items()}
    expect = {}
    for i in sigs:
        for j in sigs:
            if i < j:
                shared = sum(
                    1 for band in range(4)
                    if sigs[i][band * 4:band * 4 + 4] == sigs[j][band * 4:band * 4 + 4]
                )
                if shared:
                    m = sum(1 for b in range(16) if sigs[i][b] == sigs[j][b])
                    expect[(i, j)] = (shared, 10000 * m // 16)
    assert got == expect
    assert (1, 2) in got  # the near-dup pair must band together
