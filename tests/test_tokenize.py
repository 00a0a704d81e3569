"""Real BPE: the merge sequence matches the hand-computable textbook
example (Sennrich et al. 2016 corpus), encoding applies merges in rank
order, and the Spark Arrow path equals the pure-python reference."""

import pytest

from xsd2json_spark.functions import tokenize as BP


CORPUS = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_train_merges_textbook_sequence():
    merges = BP.train_bpe_merges(CORPUS, num_merges=5)
    assert merges == [
        ("e", "s"),        # es/st/t</w> tie at 9 -> lexicographically smallest
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),        # lo/ow tie at 7
        ("lo", "w"),
    ]


def test_encode_word_applies_ranks_greedily():
    merges = BP.train_bpe_merges(CORPUS, num_merges=5)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert BP.bpe_encode_word("lowest", ranks) == ["low", "est</w>"]
    assert BP.bpe_encode_word("low", ranks) == ["low", "</w>"]  # no (low,</w>) merge trained
    assert BP.bpe_encode_word("xyz", ranks) == ["x", "y", "z", "</w>"]  # untrained chars stay


def test_spark_bpe_matches_pure_python(spark):
    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "widest low low"), (3, None), (4, "LOWEST")],
        "doc_id long, text string",
    )
    merges = BP.train_bpe(docs.filter("doc_id <= 2"), "text", num_merges=10)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    got = {
        r["doc_id"]: r["toks"]
        for r in docs.select("doc_id", BP.bpe_tokens(docs["text"], merges).alias("toks")).collect()
    }

    def ref(text):
        out = []
        for w in text.lower().split():
            out.extend(BP.bpe_encode_word(w, ranks))
        return out

    assert got[1] == ref("low lower newest")
    assert got[2] == ref("widest low low")
    assert got[3] == []  # null text -> empty tokens
    assert got[4] == ref("lowest")  # lowercased before encoding


def test_train_bpe_jobs_do_not_grow_with_merges(spark):
    """train_bpe runs one distributed word count and one collect; the
    merge loop is driver-side, so more merges start no more Spark
    jobs (2 were measured on Spark 4.1 with AQE)."""
    sc = spark.sparkContext
    docs = spark.createDataFrame([(1, "low lower newest"), (2, "widest low low")], "doc_id long, text string")
    for merges in (1, 50):
        sc.setJobGroup(f"bpe-{merges}", "train_bpe job count")
        try:
            BP.train_bpe(docs, "text", num_merges=merges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"bpe-{merges}"))
        assert jobs <= 3, f"{jobs} Spark jobs for {merges} merges"


def test_distributed_word_frequencies(spark):
    docs = spark.createDataFrame([(1, "a b a"), (2, "  b  ")], "doc_id long, text string")
    wc = {r["word"]: r["n"] for r in BP.word_frequencies(docs, "text").collect()}
    assert wc == {"a": 2, "b": 2}


def test_unicode_whitespace_training_encoding_agree(spark):
    """\xa0 (non-breaking space) is NOT whitespace to the Java regex the
    distributed word-count pass splits on, so 'a\xa0b' is ONE word at
    training — the encoder must segment identically (Python str.split
    would split it in two, disagreeing with the trained vocabulary)."""
    docs = spark.createDataFrame([(1, "a\xa0b a\xa0b c")], "doc_id long, text string")
    wc = {r["word"]: r["n"] for r in BP.word_frequencies(docs, "text").collect()}
    assert wc == {"a\xa0b": 2, "c": 1}

    merges = BP.train_bpe(docs, "text", num_merges=5)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    [row] = docs.select(BP.bpe_tokens(docs["text"], merges).alias("toks")).collect()
    expect = []
    for w in ["a\xa0b", "a\xa0b", "c"]:
        expect.extend(BP.bpe_encode_word(w, ranks))
    assert row["toks"] == expect


def test_byte_level_bpe_roundtrip_property():
    """Byte-level BPE is lossless for ARBITRARY unicode (the char-level
    variant's <unk>-free claim, now without any alphabet assumption):
    joining a word's tokens recovers its exact UTF-8 bytes, before and
    after training, for adversarial text (emoji, CJK, combining marks,
    control chars)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    corpus = {"héllo": 5, "wörld": 4, "héllö": 3, "日本語テキスト": 2, "🎉🎉": 2}
    merges = BP.train_bpe_merges(corpus, num_merges=30, symbolize=BP._byte_symbols)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert all(isinstance(a, bytes) and isinstance(b, bytes) for a, b in merges)

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=1).filter(lambda w: not w.isspace()))
    def check(word):
        toks = BP.bpe_encode_word_bytes(word, ranks)
        assert b"".join(toks) == word.encode("utf-8")

    check()


def test_byte_level_bpe_learns_multibyte_merges():
    """Frequent multi-byte UTF-8 sequences merge back into whole-char
    (and longer) tokens: 'é' (2 bytes) dominates this corpus, so its
    byte pair is merged early and encodes as ONE token."""
    corpus = {"é": 100, "née": 50, "cafe": 1}
    merges = BP.train_bpe_merges(corpus, num_merges=2, symbolize=BP._byte_symbols)
    assert merges[0] == ("é".encode("utf-8")[:1], "é".encode("utf-8")[1:])
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert BP.bpe_encode_word_bytes("é", ranks) == ["é".encode("utf-8")]


def test_spark_byte_bpe_matches_pure_python(spark):
    docs = spark.createDataFrame(
        [(1, "héllo wörld"), (2, "héllo héllo 日本語"), (3, None)],
        "doc_id long, text string",
    )
    merges = BP.train_bpe_bytes(docs, "text", num_merges=20)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    got = {
        r["doc_id"]: [bytes(t) for t in r["toks"]]
        for r in docs.select(
            "doc_id", BP.bpe_tokens_bytes(docs["text"], merges).alias("toks")
        ).collect()
    }

    def ref(text):
        out = []
        for w in BP._ws_split(text.lower()):
            out.extend(BP.bpe_encode_word_bytes(w, ranks))
        return out

    assert got[1] == ref("héllo wörld")
    assert got[2] == ref("héllo héllo 日本語")
    assert got[3] == []
    # lossless: concatenated tokens == concatenated utf-8 words
    assert b"".join(got[1]) == "héllowörld".encode("utf-8")
