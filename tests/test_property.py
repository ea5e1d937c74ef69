"""Property-based parity tests (hypothesis): the Spark expressions vs
independent Python reimplementations of the reference semantics.

The reference has no property-based tier (SURVEY §5); these close the gap
where table-driven cases can't — adversarial strings for the parsers and the
full float domain for the %g/ID formatting.

Each test generates ONE batch of cases per hypothesis example and evaluates
it as a single DataFrame (one Spark job per example, not per case).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re

from hypothesis import given, settings, strategies as st

from storm_data_etl_spark.functions import enrich as E

BASE = dt.datetime(2024, 4, 26, 0, 0, 0)
SETTINGS = settings(max_examples=8, deadline=None)


# ---------------------------------------------------------- reference models
def py_parse_hhmm(base: dt.datetime, hhmm: str) -> dt.datetime:
    s = hhmm.strip()
    if len(s) < 3:
        return base
    if len(s) == 3:
        s = "0" + s
    try:
        hour, mins = int(s[:2]), int(s[2:])
    except ValueError:
        return base
    # Go's Atoi accepts a leading sign; the reference range-checks after.
    if not (0 <= hour <= 23 and 0 <= mins <= 59):
        return base
    return base.replace(hour=hour, minute=mins, second=0, microsecond=0)


def py_fmt_g(x: float) -> str:
    if x == int(x) and abs(x) < 1e15:
        return str(int(x))
    return repr(x)


def py_event_id(et: str, state: str, lat: float, lon: float, t: str, mag: float) -> str:
    payload = f"{et}|{state}|{lat:.4f}|{lon:.4f}|{t}|{py_fmt_g(mag)}"
    h = hashlib.sha256(payload.encode()).hexdigest()[:16]
    return h if et == "" else f"{et}-{h}"


LOCATION_RE = re.compile(r"^(\d+(?:\.\d+)?)\s+([NSEW]{1,3})\s+(.+)$")


def py_parse_location(raw: str):
    s = raw.strip()
    if s == "":
        return ("", None, None)
    m = LOCATION_RE.match(s)
    if not m:
        return (s, None, None)
    return (m.group(3).strip(), float(m.group(1)), m.group(2))


# ------------------------------------------------------------------- tests
hhmm_strings = st.one_of(
    st.text(alphabet="0123456789", min_size=0, max_size=6),
    st.text(max_size=6),
    st.from_regex(r"[0-2]?\d[0-5]\d", fullmatch=True),
)


@SETTINGS
@given(st.lists(hhmm_strings, min_size=1, max_size=60, unique=True))
def test_parse_hhmm_parity(spark, cases):
    # Domain notes: Go's Atoi is ASCII-only while Python's int() accepts
    # Unicode digits ('٠١٢'), and Atoi accepts a leading sign that a
    # digits-only regex rejects — both outside the NOAA HHMM domain, so the
    # test pins the ASCII unsigned domain (divergences documented in
    # enrich.parse_hhmm).
    cases = [c for c in cases if "+" not in c and c.isascii()]
    df = spark.createDataFrame([(BASE, c) for c in cases], "ts timestamp, h string")
    got = [r[0] for r in df.select(E.parse_hhmm("ts", "h")).collect()]
    exp = [py_parse_hhmm(BASE, c) for c in cases]
    assert got == exp, list(zip(cases, got, exp))


# Magnitude/coordinate domain: Go %g and Java's shortest-round-trip agree
# exactly in the plain-decimal range but use different scientific-notation
# thresholds (Go: |x|≥1e21 or exp<-4; Java: ≥1e7 or <1e-3). NOAA magnitudes
# (0..~500) and coordinates never leave the plain range; fmt_g documents the
# divergence outside it.
finite_floats = st.one_of(
    st.just(0.0),
    st.floats(allow_nan=False, allow_infinity=False, min_value=0.001, max_value=1e6),
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=-0.001),
)


@SETTINGS
@given(st.lists(finite_floats, min_size=1, max_size=60))
def test_fmt_g_parity(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "m double")
    got = [r[0] for r in df.select(E.fmt_g("m")).collect()]
    exp = [py_fmt_g(x) for x in xs]
    assert got == exp, list(zip(xs, got, exp))


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["hail", "wind", "tornado", "", "snow"]),
            st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=2, max_size=2),
            st.floats(allow_nan=False, allow_infinity=False, min_value=-180, max_value=180),
            st.floats(allow_nan=False, allow_infinity=False, min_value=-180, max_value=180),
            st.text(alphabet="0123456789:TZ-", max_size=10),
            st.one_of(st.just(0.0), st.floats(allow_nan=False, allow_infinity=False, min_value=0.01, max_value=500)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_event_id_parity(spark, rows):
    df = spark.createDataFrame(
        rows, "et string, st string, la double, lo double, t string, m double"
    )
    got = [r[0] for r in df.select(E.event_id("et", "st", "la", "lo", "t", "m")).collect()]
    exp = [py_event_id(*r) for r in rows]
    assert got == exp


location_strings = st.one_of(
    st.from_regex(r"\d{1,3}(\.\d{1,2})? [NSEW]{1,3} [A-Za-z ]{1,15}", fullmatch=True),
    st.text(max_size=20),
)


@SETTINGS
@given(st.lists(location_strings, min_size=1, max_size=60))
def test_parse_location_parity(enrich_locations, cases):
    # Domain notes: (a) Python \d matches Unicode digits Java rejects;
    # (b) Java's trim() strips all chars ≤ U+0020 (incl. control chars)
    # where Go's TrimSpace strips only Unicode whitespace. Both diverge only
    # outside printable-ASCII NOAA content — pin that domain (documented in
    # enrich.py module docstring).
    cases = [c for c in cases if c.isascii() and c.isprintable() or c == ""]
    got = enrich_locations(cases)
    exp = [py_parse_location(c) for c in cases]
    assert got == exp, [z for z in zip(cases, got, exp) if z[1] != z[2]]


# Shingle alphabet: the normalize_for_fingerprint output domain (lowercase
# ASCII, digits, Latin-Extended À-ɏ, CJK 一-鿿) plus junk that normalization
# strips — exercises the Unicode word-boundary anchoring of the
# lookahead-regex shingle formulation against a direct Python model.
shingle_texts = st.text(
    alphabet="abz09 _!.,üéñÀɏ的是一鿿ΩЖ\t\n",
    min_size=0,
    max_size=80,
)


def py_shingles(text: str, k: int = 3) -> list[str]:
    norm = re.sub(r"[^a-z0-9À-ɏ一-鿿]+", " ", text.lower()).strip()
    words = norm.split(" ")
    if len(words) < k:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    out, seen = [], set()
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@SETTINGS
@given(st.lists(shingle_texts, min_size=1, max_size=40))
def test_shingles_parity(spark, texts):
    from storm_data_etl_spark.functions import text as X

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [list(r[0]) for r in df.select(X.shingles("t", 3)).collect()]
    exp = [py_shingles(t, 3) for t in texts]
    assert got == exp, [z for z in zip(texts, got, exp) if z[1] != z[2]]


# ---------------------------------------------------------------------
# Multimodal decoders: property round-trips (pure Python — no Spark)
# ---------------------------------------------------------------------

PURE_SETTINGS = settings(max_examples=60, deadline=None)


@PURE_SETTINGS
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    width=st.integers(min_value=1, max_value=23),
    height=st.integers(min_value=1, max_value=17),
)
def test_bmp_synth_decode_round_trip(seed, width, height):
    """decode_bmp must invert synth_bmp for ANY geometry — including the
    widths whose 3-byte rows need 1-3 bytes of stride padding and 1-pixel
    degenerate images. The two functions share no code."""
    from storm_data_etl_spark.operators import multimodal as M

    img = M.decode_bmp(M.synth_bmp(seed, width, height))
    assert (img.width, img.height) == (width, height)
    for r in range(height):
        expect = ((seed * 3 + r) % 256, (seed * 5 + r) % 256, (seed * 7 + r) % 256)
        assert img.rows[r] == [expect] * width, f"row {r}"


@PURE_SETTINGS
@given(
    width=st.integers(min_value=1, max_value=11),
    height=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_ppm_decode_matches_raster(width, height, data):
    """decode_ppm must reproduce an arbitrary P6 raster byte-for-byte
    (RGB → the decoder's (b, g, r) tuple order)."""
    from storm_data_etl_spark.operators import multimodal as M

    raster = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    img = M.decode_ppm(b"P6\n%d %d\n255\n" % (width, height) + raster)
    assert (img.width, img.height) == (width, height)
    for r in range(height):
        for c in range(width):
            base = (r * width + c) * 3
            assert img.rows[r][c] == (
                raster[base + 2], raster[base + 1], raster[base]
            )


@PURE_SETTINGS
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    width=st.integers(min_value=1, max_value=19),
    height=st.integers(min_value=1, max_value=13),
    color_type=st.sampled_from([0, 2, 6]),
    filter_type=st.integers(min_value=0, max_value=4),
)
def test_png_synth_decode_round_trip(seed, width, height, color_type, filter_type):
    """decode_png must invert synth_png for ANY geometry, color type and
    scanline filter — the filters are applied forward by the builder and
    reversed by the decoder (no shared code), with the closed-form pixel
    rule as referee."""
    from storm_data_etl_spark.operators import multimodal as M

    img = M.decode_png(M.synth_png(seed, width, height, color_type, filter_type))
    assert (img.width, img.height) == (width, height)
    for r in range(height):
        for c in range(width):
            v = (seed + 7 * r + 3 * c) % 256
            expect = (v, (v + 40) % 256, (v + 80) % 256) if color_type in (2, 6) else (v, v, v)
            assert img.rows[r][c] == expect, (r, c)


@PURE_SETTINGS
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    width=st.integers(min_value=1, max_value=19),
    height=st.integers(min_value=1, max_value=13),
    interlaced=st.booleans(),
)
def test_gif_synth_decode_round_trip(seed, width, height, interlaced):
    """decode_gif must invert synth_gif for ANY geometry and interlacing —
    real LZW decode + palette indirection + 4-pass row re-ordering."""
    from storm_data_etl_spark.operators import multimodal as M

    img = M.decode_gif(M.synth_gif(seed, width, height, interlaced=interlaced))
    assert (img.width, img.height) == (width, height)
    for r in range(height):
        for c in range(width):
            i = (seed + 7 * r + 3 * c) % 256
            assert img.rows[r][c] == ((i * 7 + 3) % 256, (i * 3 + 2) % 256, (i * 5 + 1) % 256)


@PURE_SETTINGS
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_frames=st.integers(min_value=1, max_value=120),
    channels=st.integers(min_value=1, max_value=3),
    bits=st.sampled_from([8, 16]),
)
def test_wav_synth_decode_round_trip(seed, n_frames, channels, bits):
    """decode_wav must recover every sample exactly at either bit width
    (8-bit unsigned centering == 16-bit signed values by construction)."""
    from storm_data_etl_spark.operators import multimodal as M

    au = M.decode_wav(M.synth_wav(seed, n_frames, channels=channels, bits=bits))
    assert (au.channels, len(au.frames)) == (channels, n_frames)
    for i in (0, n_frames // 2, n_frames - 1):
        for ch in range(channels):
            assert au.frames[i][ch] == ((seed * 31 + i * 7 + ch * 13) % 201) - 100


@PURE_SETTINGS
@given(
    seed=st.integers(min_value=0, max_value=255),
    width=st.integers(min_value=1, max_value=20),
    height=st.integers(min_value=1, max_value=18),
)
def test_jpeg_constant_tile_round_trip(seed, width, height):
    """The full lossy JPEG pipeline must land EXACTLY on the closed-form
    DC quantization roundtrip for any geometry (partial edge tiles
    included) — the property the SQL oracle's validity rests on."""
    from storm_data_etl_spark.operators import jpeg as J
    from tests.test_jpeg import closed_form_bgr

    rows = J.jpeg_to_image_rows(J.decode_jpeg(J.synth_jpeg(seed, width, height)))
    for r in (0, height - 1):
        for c in (0, width - 1, width // 2):
            idx = (seed + 7 * (r // 8) + 3 * (c // 8)) % 256
            assert rows[r][c] == closed_form_bgr(idx), (r, c)


# ---------------------------------------------------------------------------
# As-of join (with and without tolerance) vs pandas merge_asof — the
# canonical implementation of the semantics this operator re-expresses.
# ---------------------------------------------------------------------------

_asof_rights = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=500),  # unique-ified below
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=20,
)
_asof_lefts = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.integers(min_value=0, max_value=500),
    ),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(_asof_lefts, _asof_rights, st.sampled_from([None, 0, 7, 60]))
def test_as_of_join_matches_pandas_merge_asof(spark, lefts, rights, tol):
    import datetime as dt

    import pandas as pd

    from storm_data_etl_spark.operators.asof import as_of_join

    base = dt.datetime(2024, 1, 1)
    # unique (key, ts) on the right so tie-order semantics can't differ
    seen = set()
    rrows = []
    for k, sec, payload in rights:
        if (k, sec) in seen:
            continue
        seen.add((k, sec))
        rrows.append((k, base + dt.timedelta(seconds=sec), payload))
    lrows = [
        (k, base + dt.timedelta(seconds=sec), i)
        for i, (k, sec) in enumerate(lefts)
    ]
    ldf = spark.createDataFrame(lrows, "k string, lts timestamp, lid int")
    if rrows:
        rdf = spark.createDataFrame(rrows, "k string, rts timestamp, payload int")
    else:
        rdf = spark.createDataFrame([], "k string, rts timestamp, payload int")
    got = {
        r.lid: r.asof_payload
        for r in as_of_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            right_payload=["payload"],
            tolerance_seconds=float(tol) if tol is not None else None,
        ).collect()
    }
    lp = pd.DataFrame(lrows, columns=["k", "lts", "lid"]).sort_values("lts", kind="stable")
    rp = pd.DataFrame(rrows, columns=["k", "rts", "payload"]).astype(
        {"k": "object", "rts": "datetime64[ns]", "payload": "float64"}
    ).sort_values("rts", kind="stable")
    merged = pd.merge_asof(
        lp, rp, left_on="lts", right_on="rts", by="k",
        tolerance=pd.Timedelta(seconds=tol) if tol is not None else None,
        allow_exact_matches=True,
    )
    want = {
        int(r.lid): (None if pd.isna(r.payload) else int(r.payload))
        for r in merged.itertuples()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Boilerplate chunk removal vs a pure-Python model.
# ---------------------------------------------------------------------------

_boiler_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=35),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(_boiler_docs)
def test_boilerplate_chunk_removal_matches_python_model(spark, docs):
    import math

    from storm_data_etl_spark.plans import corpus_queries as CQ

    rows = [
        (i, " ".join(words), "en", "s", len(" ".join(words)))
        for i, words in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = CQ.t
    CQ.t = lambda *_a: df  # noqa: ARG005
    try:
        got = {
            r.doc_id: (r.n_chunks, r.n_boiler, r.tokens_kept, r.kept_frac_e6)
            for r in CQ.boilerplate_chunk_removal(spark, "x").collect()
        }
    finally:
        CQ.t = orig

    # Python model: 10-token chunks, df = distinct docs per chunk, df>=3 drops
    chunks_by_doc = {}
    for i, words in enumerate(docs):
        if not words:
            continue
        chunks_by_doc[i] = [
            tuple(words[j : j + 10]) for j in range(0, len(words), 10)
        ]
    df_count = {}
    for i, chs in chunks_by_doc.items():
        for ch in set(chs):
            df_count[ch] = df_count.get(ch, 0) + 1
    want = {}
    for i, chs in chunks_by_doc.items():
        n_boiler = sum(1 for ch in chs if df_count[ch] >= 3)
        kept = sum(len(ch) for ch in chs if df_count[ch] < 3)
        total = sum(len(ch) for ch in chs)
        want[i] = (
            len(chs),
            n_boiler,
            kept,
            math.floor(1_000_000 * kept / total),
        )
    assert got == want


# ------------------------------------------------- round-6 operator models
@given(
    st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=24).filter(
            lambda s: len(s) > 0
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_suffix_array_matches_python_suffix_sort(spark, texts):
    """The distributed prefix-doubling array equals a literal Python
    suffix sort (total order including byte-identical suffix ties) on
    adversarial small corpora — tiny alphabet maximizes ties and repeated
    substrings, the hard cases for doubling and the -1 sentinel."""
    from storm_data_etl_spark.operators.suffix import suffix_array

    docs = [(i + 1, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.doc_id, r.pos)
        for r in suffix_array(df).orderBy("sa_rank").collect()
    ]
    ref = sorted(
        (t[i - 1:], d, i) for d, t in docs for i in range(1, len(t) + 1)
    )
    assert got == [(d, i) for _, d, i in ref]


@given(
    st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=6),
)
@SETTINGS
def test_misra_gries_bounds_hold_on_random_streams(spark, keys, k):
    """For ANY stream and any capacity: estimates never overcount, each
    undercounts by at most n/(k+1), at most k survivors, and every key
    with true frequency > n/(k+1) survives."""
    from collections import Counter

    from storm_data_etl_spark.operators.heavy_hitters import misra_gries_summary

    df = spark.createDataFrame([(x,) for x in keys], "hh_key bigint").repartition(4)
    got = {
        r.hh_key: r.est_count
        for r in misra_gries_summary(df, "hh_key", k=k).collect()
    }
    true = Counter(keys)
    n = len(keys)
    bound = n // (k + 1)
    assert len(got) <= k
    for key, est in got.items():
        assert est <= true[key]
        assert true[key] - est <= bound
    for key, c in true.items():
        if c > bound:
            assert key in got
