"""Unit tests for the corpus-hygiene operators (operators/hygiene.py):
PII scrub counts + redaction, C4-style cross-document line dedup
keep-first semantics, and bounded edit-distance verification."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from gov_ec_pipeline_etl_spark.operators.hygiene import (
    corpus_line_dedup,
    editdist_verify_pairs,
    pii_scrub,
    plant_pii,
)


@pytest.fixture(scope="module")
def pii_df(spark):
    # ids chosen so each planting rule fires alone and 0 fires all three
    base = spark.createDataFrame(
        [
            (0, "alpha beta"),       # %7, %11, %13 all zero → all three
            (7, "gamma delta"),      # email only
            (11, "epsilon"),         # phone only
            (13, "zeta"),            # ip only
            (1, "clean text here"),  # nothing planted
        ],
        ["doc_id", "text"],
    )
    return base.select("doc_id", plant_pii(base).alias("text"))


def test_pii_counts(pii_df):
    rows = {r.doc_id: r for r in pii_scrub(pii_df).collect()}
    assert (rows[0].n_email, rows[0].n_phone, rows[0].n_ip) == (1, 1, 1)
    assert (rows[7].n_email, rows[7].n_phone, rows[7].n_ip) == (1, 0, 0)
    assert (rows[11].n_email, rows[11].n_phone, rows[11].n_ip) == (0, 1, 0)
    assert (rows[13].n_email, rows[13].n_phone, rows[13].n_ip) == (0, 0, 1)
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ip) == (0, 0, 0)


def test_pii_redaction_bytes(pii_df):
    """The redacted text is exactly the planted suffixes replaced by
    placeholders — verified byte-for-byte via the md5 the query emits."""
    rows = {r.doc_id: r for r in pii_scrub(pii_df).collect()}
    expect = "gamma delta contact <EMAIL>"
    assert rows[7].redacted_md5 == hashlib.md5(expect.encode()).hexdigest()
    expect0 = "alpha beta contact <EMAIL> call <PHONE> from <IP>"
    assert rows[0].redacted_md5 == hashlib.md5(expect0.encode()).hexdigest()
    # clean doc: untouched text hashes to itself
    clean = "clean text here"
    assert rows[1].redacted_md5 == hashlib.md5(clean.encode()).hexdigest()


def test_line_dedup_keep_first(spark):
    """A line seen 3× is kept only at its first (doc_id, seg_idx);
    lines seen < 3× survive everywhere."""
    boiler = "b0 b1 b2 b3 b4 b5 b6 b7"  # exactly one 8-token segment
    docs = spark.createDataFrame(
        [
            (1, boiler + " u0 u1 u2 u3 u4 u5 u6 u7"),
            (2, boiler + " v0 v1 v2 v3 v4 v5 v6 v7"),
            (3, boiler + " w0 w1 w2 w3 w4 w5 w6 w7"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in corpus_line_dedup(docs).collect()}
    assert all(rows[d].n_segs == 2 for d in (1, 2, 3))
    # doc 1 owns the first occurrence → keeps both segments
    assert rows[1].n_removed == 0
    assert rows[2].n_removed == 1 and rows[3].n_removed == 1
    import hashlib as h

    assert rows[1].kept_md5 == h.md5(
        (boiler + " u0 u1 u2 u3 u4 u5 u6 u7").encode()
    ).hexdigest()
    assert rows[2].kept_md5 == h.md5(
        "v0 v1 v2 v3 v4 v5 v6 v7".encode()
    ).hexdigest()


def test_line_dedup_below_threshold_kept(spark):
    seg = "s0 s1 s2 s3 s4 s5 s6 s7"
    docs = spark.createDataFrame(
        [(1, seg), (2, seg)], ["doc_id", "text"]
    )  # only 2 occurrences < threshold 3
    rows = corpus_line_dedup(docs).collect()
    assert all(r.n_removed == 0 for r in rows)


def test_editdist_verify_planted_variant(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(10, base), (11, "a wholly different document about other things")],
        ["doc_id", "text"],
    )
    variants = spark.createDataFrame(
        [(9000010, base[:-3] + "qzj")], ["doc_id", "text"]
    )
    pairs = editdist_verify_pairs(docs, variants).collect()
    assert {(p.new_id, p.corpus_id) for p in pairs} == {(9000010, 10)}
    assert pairs[0].lev == 3


def test_editdist_max_df_cut(spark):
    """A blocking key owned by more than max_df corpus docs is excluded
    from candidate generation entirely."""
    shared = "same prefix words here padding tail"
    docs = spark.createDataFrame(
        [(i, shared + f" x{i}") for i in range(5)], ["doc_id", "text"]
    )
    variants = spark.createDataFrame(
        [(9000000, shared + " x0")], ["doc_id", "text"]
    )
    pairs = editdist_verify_pairs(docs, variants, max_df=3).collect()
    assert pairs == []  # key df=5 > 3 → cut
    pairs2 = editdist_verify_pairs(docs, variants, max_df=10).collect()
    assert len(pairs2) >= 1


def test_pii_scrub_production_path_no_planting(spark):
    """Without plant_pii the operator scrubs the text AS GIVEN — the
    CLI/production semantics (planting is test-query-only)."""
    df = spark.createDataFrame(
        [(1, "reach me at bob7@mail2.com or 10.1.2.3 thanks")],
        ["doc_id", "text"],
    )
    row = pii_scrub(df, emit_text=True).collect()[0]
    assert (row.n_email, row.n_phone, row.n_ip) == (1, 0, 1)
    assert row.redacted == "reach me at <EMAIL> or <IP> thanks"


def test_cli_scrub(spark, tmp_path):
    from gov_ec_pipeline_etl_spark.cli import main

    src = str(tmp_path / "docs")
    out = str(tmp_path / "scrubbed")
    spark.createDataFrame(
        [
            (1, "call 555-123-4567 now"),
            (2, "nothing sensitive"),
        ],
        ["doc_id", "text"],
    ).write.parquet(src)
    rc = main(["scrub", src, out])
    assert rc == 0
    back = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert back[1].n_phone == 1
    assert back[1].redacted == "call <PHONE> now"
    assert back[2].redacted == "nothing sensitive"


# Texts whose segmentation has an edge: a tab or newline at either end
# leaves an empty first or last token (``trim`` strips spaces only).
SEGMENT_TEXTS = [
    "\tlead tab",
    "trailing newline\n",
    "\tboth ends a b c d e f\n",
    "",
    None,
    "t0 t1 t2 t3 t4 t5 t6 t7",
    "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15",
    "t0 t1 t2 t3 t4 t5 t6 t7 ",
    "t0 t1 t2 t3 t4 t5 t6 t7\t",
    "héllo wörld ñandú 日本語 テキスト ключ κλειδί šum đak",
    "\n",
    "Mixed\t\tCASE  and\r\nbreaks",
]


def test_line_segments_match_split_slice_reference(spark):
    """The regex segmenter equals the split/slice/array_join reference
    segment for segment, byte for byte."""
    from gov_ec_pipeline_etl_spark.operators.hygiene import line_segments

    docs = spark.createDataFrame(
        list(enumerate(SEGMENT_TEXTS)), "doc_id int, text string"
    )
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    toks = F.split(norm, " ")
    nseg = F.ceil(F.size(toks) / F.lit(8.0)).cast("bigint")
    reference = F.transform(
        F.sequence(F.lit(0).cast("bigint"), nseg - 1),
        lambda i: F.array_join(F.slice(toks, (i * 8 + 1).cast("int"), 8), " "),
    )
    rows = docs.select(
        "text", reference.alias("ref"), line_segments(norm, 8).alias("seg")
    ).collect()
    assert len(rows) == len(SEGMENT_TEXTS)
    for r in rows:
        assert r.seg == r.ref, repr(r.text)
    by_text = {r.text: r.seg for r in rows}
    assert by_text["\tlead tab"] == [" lead tab"]
    assert by_text["\tboth ends a b c d e f\n"] == [" both ends a b c d e", "f "]
    assert by_text[None] is None and by_text[""] == [""]
