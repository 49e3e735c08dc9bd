"""The dedup and similarity kernels against plain-Python references
(tests/kernel_reference.py), and their handling of awkward column
names.

Each kernel has one definition: SQL text fed by ``dedup.sql_ident``.
These tests check its VALUES against an independent formulation (a
left-to-right Python fold, md5 via hashlib) rather than against a
second Spark builder of the same thing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import kernel_reference as ref
from movies_etl_spark.operators import dedup as D
from movies_etl_spark.operators import similarity as SIM
from movies_etl_spark.sources import readers

DOCS = [
    (1, "a b c d e f g"),
    (2, "a b"),  # under 3 tokens: no shingles
    (3, ""),  # degenerate
    (4, "x y z x y z x y z q r s"),
    (5, "lorem ipsum dolor sit amet consectetur"),
]


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    """(a, b) float-array pairs: each embedding against its reverse."""
    e = readers.load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.col("embedding").alias("a"),
        F.reverse(F.col("embedding")).alias("b"),
    )


def test_fold_kernels_match_python_fold(vectors):
    """dot, l2norm and cosine equal a left-to-right Python double fold
    bit for bit (the same cast-multiply-add order, sqrt and divide)."""
    rows = vectors.select(
        "a",
        "b",
        D.dot("a", "b").alias("d"),
        D.l2norm("a").alias("n"),
        D.cosine("a", "b").alias("c"),
    ).collect()
    assert rows
    for r in rows:
        assert r["d"] == ref.dot(r["a"], r["b"])
        assert r["n"] == ref.l2norm(r["a"])
        assert r["c"] == ref.cosine(r["a"], r["b"])


@pytest.mark.parametrize("width", [8, 16])
def test_rp_bucket_n_matches_python_planes(vectors, width):
    """rp_bucket_n at widths 8 and 16 equals the sign pattern of the
    Python fold against rp_planes_n's planes."""
    planes = SIM.rp_planes_n(width)
    rows = vectors.select(
        "a", SIM.rp_bucket_n("a", width).alias("bkt")
    ).collect()
    assert rows
    got = [r["bkt"] for r in rows]
    assert got == [ref.rp_bucket(r["a"], planes) for r in rows]
    assert len(set(got)) > 1  # not a constant bucketer


def test_shingles_signature_and_bands_match_md5_reference(spark):
    """shingle_hash_array, minhash_signature and with_minhash_bands equal
    the hashlib md5 → shingle → MinHash → band-key reference, including
    the under-3-token and empty documents (no shingles, no bands)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    sh = docs.select("doc_id", D.shingle_hash_array("text").alias("shingles"))
    got_sh = {r["doc_id"]: list(r["shingles"]) for r in sh.collect()}
    assert got_sh == {d: ref.shingle_hashes(t) for d, t in DOCS}

    sig = sh.select(
        "doc_id", F.array(*D.minhash_signature("shingles")).alias("sig")
    )
    for r in sig.collect():
        s = got_sh[r["doc_id"]]
        want = ref.minhash_signature(s) if s else [None] * D.N_MINHASH
        assert list(r["sig"]) == want

    got_bands = sorted(
        tuple(r) for r in D.with_minhash_bands(sh, "doc_id").collect()
    )
    want_bands = sorted(
        (d, i, key)
        for d, s in got_sh.items()
        if s
        for i, key in enumerate(ref.band_keys(ref.minhash_signature(s)))
    )
    assert got_bands == want_bands


def test_kernels_take_awkward_column_names(spark):
    """Column names are identifiers, not SQL: a column literally named
    ``a.b`` (not field b of struct a), ``select`` (a keyword) or one
    holding a backtick works in every kernel and gives the same values
    as a plain name."""
    vecs = spark.createDataFrame(
        [([1.5, -2.0, 3.0], [0.5, 4.0, -1.0])],
        "plain array<float>, other array<float>",
    ).select(
        F.col("plain").alias("a.b"), F.col("other").alias("select"), "plain", "other"
    )
    r = vecs.select(
        D.cosine("a.b", "select").alias("c"),
        D.cosine("plain", "other").alias("c0"),
        D.l2norm("a.b").alias("n"),
        SIM.rp_bucket_n("select", 8).alias("bkt"),
        SIM.rp_bucket_n("other", 8).alias("bkt0"),
    ).collect()[0]
    assert r["c"] == r["c0"] == ref.cosine([1.5, -2.0, 3.0], [0.5, 4.0, -1.0])
    assert r["n"] == ref.l2norm([1.5, -2.0, 3.0])
    assert r["bkt"] == r["bkt0"]

    names = ["a.b", "select", "we`ird"]
    texts = spark.createDataFrame([("p q r s",)], "text string").select(
        *[F.col("text").alias(n) for n in names]
    )
    r = texts.select(
        *[D.shingle_hash_array(n).alias(f"sh{i}") for i, n in enumerate(names)]
    ).collect()[0]
    want = ref.shingle_hashes("p q r s")
    assert [list(r[f"sh{i}"]) for i in range(len(names))] == [want] * len(names)


def test_sql_ident_quotes_names_and_rejects_columns():
    assert D.sql_ident("a.b") == "`a.b`"
    assert D.sql_ident("we`ird") == "`we``ird`"
    with pytest.raises(TypeError):
        D.sql_ident(F.col("a"))
    with pytest.raises(TypeError):
        D.cosine(F.col("a"), F.col("b"))
