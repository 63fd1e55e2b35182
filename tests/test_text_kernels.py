"""The text kernels of operators/lm.py, dsir.py and dedup.py against the
higher-order formulation they replaced (filter / zip_with / transform /
array_sort lambdas), kept here only as reference expressions. The inputs
are the edge cases of a whitespace tokenizer: empty text, NULL text, one
token, exactly two tokens and runs of spaces (empty tokens)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from cc_crawl_statistics_spark.operators import dedup as D
from cc_crawl_statistics_spark.operators import dsir as DS
from cc_crawl_statistics_spark.operators import lm as LM

EDGE = [
    (1, "en", "s0", ""),  # empty text
    (2, "en", "s0", None),  # NULL text
    (3, "en", "s0", "solo"),  # one token
    (4, "en", "s1", "two words"),  # exactly two tokens
    (5, "en", "s1", "  lead  mid   trail  "),  # runs of spaces
    (6, "de", "s1", "a b a b a b c d e"),
]
FEWER_THAN_TWO = {1, 2, 3}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        EDGE, "doc_id long, lang string, source string, text string"
    )


# ---------------------------------------------- reference (higher-order)


def ref_words(text_col: str = "text"):
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))


def ref_pairs(w, combine, empty_type: str):
    n = F.size(w)
    return F.when(
        n >= 2, F.zip_with(F.slice(w, 1, n - 1), F.slice(w, 2, n - 1), combine)
    ).otherwise(F.array().cast(empty_type))


def ref_bigrams(docs):
    pairs = ref_pairs(
        ref_words(),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        "array<struct<w1:string,w2:string>>",
    )
    return docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


def ref_bucket_rows(docs, hasher):
    w = ref_words()
    bg = ref_pairs(w, lambda a, b: F.concat_ws(" ", a, b), "array<string>")
    return docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.concat(w, bg),
                lambda f: DS.feature_bucket(f, 1024, hasher).cast("int"),
            )
        ).alias("bucket"),
    )


def ref_split_units(docs, unit_words, carry=()):
    words = F.col("_ud_words")
    n_units = F.ceil(F.size(words) / F.lit(unit_words)).cast("long")
    positions = F.when(
        n_units > 0, F.sequence(F.lit(0), n_units - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        docs.withColumn("_ud_words", F.split(F.col("text"), " "))
        .withColumn("_ud_n_units", n_units)
        .select(
            "doc_id",
            *carry,
            F.col("_ud_n_units").alias("n_units"),
            F.posexplode(
                F.transform(
                    positions,
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            words, (i * unit_words + 1).cast("int"), unit_words
                        ),
                    ),
                )
            ).alias("pos", "unit"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )


def ref_rebuilt_text(pos_unit):
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(pos_unit)), lambda s: s["unit"]
        ),
        " ",
    )


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


# ------------------------------------------------------------------ tests


def test_words_match_filter_reference(docs):
    got = docs.select(
        "doc_id", LM._words("text").alias("new"), ref_words().alias("ref")
    ).collect()
    assert len(got) == len(EDGE)
    for r in got:
        assert r.new == r.ref, r.doc_id
    by_id = {r.doc_id: r.new for r in got}
    assert by_id[1] == [] and by_id[2] is None and by_id[3] == ["solo"]
    assert by_id[5] == ["lead", "mid", "trail"]


def test_bigrams_match_zip_with_reference(docs):
    got = _rows(LM.bigrams(docs))
    assert got == _rows(ref_bigrams(docs))
    assert not {d for d, _, _ in got} & FEWER_THAN_TWO
    assert got[(4, "two", "words")] == 1
    assert got[(5, "lead", "mid")] == got[(5, "mid", "trail")] == 1


@pytest.mark.parametrize("hasher", ["md5", "xxhash64"])
def test_dsir_bucket_multiset_matches_transform_reference(docs, hasher):
    got = _rows(DS.bucket_rows(docs, hasher=hasher))
    assert got == _rows(ref_bucket_rows(docs, hasher))
    per_doc = Counter(d for (d, _), k in got.items() for _ in range(k))
    # n tokens + (n - 1) bigrams; none for empty or NULL text
    assert per_doc == {3: 1, 4: 3, 5: 5, 6: 17}


@pytest.mark.parametrize("unit_words", [2, 3])
def test_split_units_match_transform_reference(docs, unit_words):
    got = D.split_units(docs, unit_words=unit_words, carry=("source",))
    ref = ref_split_units(docs, unit_words, carry=("source",))
    assert got.columns == ref.columns
    assert got.dtypes == ref.dtypes
    assert _rows(got) == _rows(ref)


def test_reassembly_matches_array_sort_reference(docs):
    """Kept units come back in position order whatever order they arrive
    in; a document with no kept unit gets an empty text."""
    units = D.split_units(docs, unit_words=2).repartition(5, "pos")
    kept = F.when(
        (F.col("pos") != 1) & (F.col("doc_id") != 3), F.struct("pos", "unit")
    )
    got = {
        r.doc_id: (r.new, r.ref)
        for r in units.groupBy("doc_id")
        .agg(
            D._in_position_order(kept).alias("new"),
            ref_rebuilt_text(kept).alias("ref"),
        )
        .collect()
    }
    assert set(got) == {1, 3, 4, 5, 6}  # NULL text has no unit
    for doc_id, (new, ref) in got.items():
        assert new == ref, doc_id
    assert got[6][0] == "a b a b c d e"
    assert got[3][0] == ""


def test_lm_scores_every_document(docs):
    """explode_outer + count(lp) covers every documents row: fewer than
    two tokens -> n_bigrams 0 and NULL xent; otherwise the reference's
    pair count."""
    pairs = Counter(r.doc_id for r in ref_bigrams(docs).collect())
    got = {
        r.doc_id: r
        for r in LM.lm_cross_entropy(docs, docs.filter("doc_id >= 4"))
        .collect()
    }
    assert set(got) == {d for d, *_ in EDGE}
    for doc_id, r in got.items():
        assert r.n_bigrams == pairs.get(doc_id, 0), doc_id
        assert (r.xent_mnat is None) == (doc_id in FEWER_THAN_TWO), doc_id


@pytest.mark.parametrize("broadcast_model", [False, True])
@pytest.mark.parametrize("ref", ["false", "doc_id = 3"])
def test_lm_empty_reference_model_keeps_every_document(
    docs, ref, broadcast_model
):
    """A zero-row reference slice, or one whose documents have one token
    each, trains an empty bigram model; every documents row must still
    come back, unscored."""
    got = LM.lm_cross_entropy(
        docs, docs.filter(ref), broadcast_model=broadcast_model
    ).collect()
    assert sorted(r.doc_id for r in got) == [d for d, *_ in EDGE]
    assert all(r.n_bigrams == 0 and r.xent_mnat is None for r in got)
