"""The near-duplicate kernels against their DuckDB oracles on an inline
corpus: the shingle inverted-index count (`ngram_jaccard_pairs`,
`containment_near_dup`) and the certified LCG sketch pipeline
(`minhash_lcg_lsh_pairs`, `oph_lcg_lsh_pairs`, `lsh_s_curve`).

The corpus holds exact duplicates, near duplicates, a passage contained
in a longer doc, a doc shorter than the shingle width, an empty text and
a NULL text, so every kernel sees its edge cases without the generated
testdata.
"""

from __future__ import annotations

import importlib.util
import os
import random

import duckdb
import pytest

from storm_data_etl_spark.plans import load_all
from storm_data_etl_spark.session import release_pinned

REGISTRY = load_all()

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "oracle_check.py"),
)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)

WORDS = (
    "storm hail wind tornado report severe warning radar echo county state "
    "mile north south east west large small damage tree power line roof"
).split()


def _texts() -> list[str | None]:
    rng = random.Random(5)
    base = [" ".join(rng.choice(WORDS) for _ in range(30)) for _ in range(18)]
    texts: list[str | None] = list(base)
    texts += base[:4]  # exact duplicates
    for t in base[4:8]:  # near duplicates: 2 of 30 tokens replaced
        toks = t.split()
        for _ in range(2):
            toks[rng.randrange(len(toks))] = rng.choice(WORDS)
        texts.append(" ".join(toks))
    texts.append(" ".join(base[8].split()[5:20]))  # contained in base[8]
    texts.append(base[9].upper().replace(" ", ",  "))  # same words after normalizing
    texts += ["hail storm", "", None]  # shorter than k=3 words, empty, NULL
    return texts


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("near_dup"))
    rows = [
        (i + 1, tx, "en", f"src{i % 3}", len(tx or "")) for i, tx in enumerate(_texts())
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


@pytest.mark.parametrize(
    "name",
    [
        "ngram_jaccard_pairs",
        "containment_near_dup",
        "minhash_lcg_lsh_pairs",
        "oph_lcg_lsh_pairs",
        "lsh_s_curve",
    ],
)
def test_near_dup_kernel_matches_oracle(spark, docs_dir, name):
    q = REGISTRY[name]
    sdf = q.runner(spark, docs_dir)
    try:
        srows = sdf.collect()
    finally:
        release_pinned()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_dir}/documents.parquet/*.parquet')"
    )
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(dcols)
    got = oracle_check._canon(srows, sdf.columns)
    assert got == oracle_check._canon(res.fetchall(), dcols)
    # a match on empty output proves nothing: every kernel pairs at least
    # the 4 exact duplicates and the re-cased, re-punctuated copy
    assert len(got) >= (4 if name == "lsh_s_curve" else 5)
