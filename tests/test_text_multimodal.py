"""Text analysis (B34) and multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from ddataframeoperation_spark.catalog import read_fixture_table
from ddataframeoperation_spark.operators import multimodal, text as TX


def test_language_id_markers(spark):
    rows = [
        (1, "the cat and the dog sat in the house with a hat"),
        (2, "el gato y la casa de los perros que juegan por la calle con"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", TX.language_id("text").alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "und"


def test_quality_score_bounds(spark, sf_dir):
    docs = read_fixture_table(spark, sf_dir, "documents")
    q = docs.select(TX.quality_score("text").alias("q"))
    assert q.filter((F.col("q") < 0) | (F.col("q") > 1)).count() == 0


def test_token_count(spark):
    df = spark.createDataFrame([(1, "Hello,   World! one-two")], "id long, text string")
    n = df.select(TX.token_count("text").alias("n")).head()["n"]
    assert n == 4  # hello world one two


def test_media_metadata_prunes_payload(spark):
    rows = [(1, bytearray(b"abc")), (2, bytearray(b"abc"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = multimodal.attach_media_metadata(df)
    stats = multimodal.media_stats(meta).collect()
    assert stats[0]["n_items"] == 2
    assert stats[0]["distinct_payloads"] == 1
    assert stats[0]["total_bytes"] == 6


def test_word_ngrams_short_doc_guard(spark):
    # sequence(1, stop) descends for stop < 1 — the guard must yield [] for
    # docs shorter than n, not bogus offsets.
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")], "doc_id long, text string"
    ).withColumn("toks", TX.tokens("text"))
    out = {
        r["doc_id"]: r["ngs"]
        for r in df.withColumn("ngs", TX.word_ngrams(F.col("toks"), 3)).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []
    assert out[3] == []


def test_ngram_contamination_known_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps somewhere else entirely today"),
            (2, "completely unrelated words with zero benchmark overlap here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.ngram_contamination(tgt, bench, n=5).collect()
    }
    # doc 1 shares exactly one 5-gram ("the quick brown fox jumps") of its 5.
    assert out[1]["n_contaminated"] == 1 and out[1]["n_ngrams"] == 5
    assert out[2]["n_contaminated"] == 0
    assert abs(out[1]["contamination"] - 0.2) < 1e-9


def test_repetition_stats_degenerate_doc(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "all words here are unique")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.repetition_stats(df, n=3).collect()}
    assert out[1]["distinct_ngrams"] == 1 and out[1]["repetition"] > 0.7
    assert out[2]["repetition"] == 0.0


def test_redact_pii_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob@example.com or call 5551234567"), (2, "clean")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.redact_pii(df).collect()}
    assert out[1]["pii_hits_0"] == 1 and out[1]["pii_hits_1"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<NUM>" in out[1]["redacted"]
    assert "bob@" not in out[1]["redacted"]
    assert out[2]["redacted"] == "clean"


def test_text_ops_null_text_robust(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    # packing: null/empty docs pack as 0-token docs, bins stay well-defined
    packed = {r["doc_id"]: r for r in TX.pack_sequences(df, budget=3).collect()}
    assert packed[2]["n_tokens"] == 0 and packed[2]["bin"] is not None
    assert packed[1]["bin"] == 0
    # repetition / redaction: null rows survive with defined outputs
    rep = {r["doc_id"]: r for r in TX.repetition_stats(df, n=2).collect()}
    assert rep[2]["repetition"] == 0.0 and rep[3]["repetition"] == 0.0
    red = {r["doc_id"]: r for r in TX.redact_pii(df).collect()}
    assert red[2]["redacted"] is None and red[2]["pii_hits_0"] is None


def test_chunk_documents_null_text_single_empty_chunk(spark):
    # NULL text is coalesced to '' before normalization: one chunk with
    # the single empty token and n_tokens=1 — NOT a NULL chunk_text with
    # Spark's size(NULL) = -1, which would diverge from the DuckDB oracle.
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c")], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): r
        for r in TX.chunk_documents(df, window=2, stride=2).collect()
    }
    for doc in (1, 2):
        r = rows[(doc, 0)]
        assert r["chunk_text"] == "" and r["n_tokens"] == 1
    assert rows[(3, 0)]["chunk_text"] == "a b"
    assert rows[(3, 1)]["chunk_text"] == "c"


def test_read_binary_files_matches_duckdb(spark, sf_dir):
    # Exact cross-engine twin for the rows-only bmm_binary_ingest query:
    # Spark's binaryFile scan and DuckDB's read_blob must agree per byte
    # on (name, size, md5(hex(content))) for every fixture file.
    import duckdb

    got = sorted(
        (r["file_name"], r["n_bytes"], r["content_md5"])
        for r in multimodal.read_binary_files(
            spark, sf_dir, glob="*.parquet"
        ).collect()
    )
    want = duckdb.connect().execute(
        "SELECT parse_filename(filename), octet_length(content), "
        f"md5(hex(content)) FROM read_blob('{sf_dir}/*.parquet') ORDER BY 1"
    ).fetchall()
    assert got == [tuple(r) for r in want] and len(got) == 10


def test_media_neardup_finds_replicas_only(spark):
    # Byte-identical payloads pair at Hamming 0 through the generic
    # block-permutation join; distinct payloads (md5 stand-in fingerprint
    # has no locality) stay apart.
    payload = bytes(range(64))
    df = spark.createDataFrame(
        [(1, payload), (2, payload), (3, b"something else")],
        "media_id long, payload binary",
    )
    out = multimodal.media_neardup_candidates(df, max_bucket=None).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 0)]


def test_media_neardup_caller_supplied_perceptual_fingerprint(spark):
    # VERDICT r5 #7: the fingerprint slot must accept a caller-computed
    # (perceptual) hash end-to-end. A toy locality-preserving 60-bit hash
    # stands in for pHash: visually-near payloads differ in 2 bits
    # (within max_hamming=3 -> candidate pair), far payloads differ in
    # many bits (no pair) — behavior the md5 stand-in cannot produce.
    rows = [
        (1, b"frame-a", 0x0FF00FF00FF00F0),         # near-dup of 2
        (2, b"frame-a-recompressed", 0x0FF00FF00FF00F3),  # 2 bits away
        (3, b"different-scene", 0x70F0F0F0F0F0F0F),       # far from both
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary, phash long")
    out = multimodal.media_neardup_candidates(
        df, max_bucket=None, fingerprint_col="phash"
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 2)]
    # Column-expression form works identically (e.g. a codec UDF output).
    out2 = multimodal.media_neardup_candidates(
        df, max_bucket=None, fingerprint_col=F.col("phash")
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out2] == [(1, 2, 2)]


def test_media_neardup_rejects_non_integral_fingerprint(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, b"x", "0fab"), (2, b"y", "0fac")],
        "media_id long, payload binary, phash string",
    )
    with pytest.raises(TypeError, match="integral"):
        multimodal.media_neardup_candidates(df, fingerprint_col="phash")
