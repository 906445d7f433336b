"""Dedup, similarity and text-analysis operator tests."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from transmog_spark.operators.dedup import (
    cosine_sim,
    dedupe_exact,
    exact_duplicate_groups,
    embedding_near_duplicates,
    jaccard,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
    word_shingles,
)
from transmog_spark.operators.similarity import brute_force_topk
from transmog_spark.operators.text import text_profile

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),        # near dup of 1
    (4, "der hund ist nicht ein katze und das ist gut"),       # German
    (5, "completely different words entirely unrelated text"),
    (6, ""),                                                   # empty
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicate_groups(docs):
    groups = exact_duplicate_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 2 and groups[0].keep_id == 1


def test_dedupe_exact_keeps_min_id(docs):
    kept = dedupe_exact(docs, "doc_id", "text")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6]


def test_jaccard_identity_and_disjoint(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"], ["c"])], "x array<string>, y array<string>, z array<string>")
    r = df.select(
        jaccard(F.col("x"), F.col("y")).alias("same"),
        jaccard(F.col("x"), F.col("z")).alias("disj"),
    ).collect()[0]
    assert r.same == 1.0 and r.disj == 0.0


def test_word_shingles_short_text_fallback(spark):
    df = spark.createDataFrame([("one two",)], "t string")
    sh = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()[0].s
    assert sh == ["one two"]


_WS = " \t\n\r\x0b\x0c"
_texts = st.one_of(
    st.none(),
    st.text(alphabet=_WS, max_size=8),
    st.text(max_size=40),
    st.lists(st.text(alphabet="abc", min_size=1, max_size=3), max_size=8).map(" ".join),
)


@given(st.lists(_texts, min_size=1, max_size=20), st.integers(min_value=1, max_value=5))
@settings(max_examples=25, deadline=None)
def test_word_shingles_never_null_or_empty(spark, texts, n):
    """The unfiltered explode_outer sites over word_shingles (source_overlap,
    decontaminate_fuzzy, minhash_signatures) rely on it returning a
    non-empty array for every text, NULL, empty and whitespace-only too."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = df.select("i", word_shingles(F.col("t"), n).alias("s")).collect()
    assert len(got) == len(texts)
    for r in got:
        assert r.s is not None and len(r.s) > 0, (texts[r.i], n, r.s)


def test_minhash_finds_near_and_exact_dups(docs):
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8, threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got  # exact dup always survives any banding
    sim = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs}
    assert sim[(1, 2)] == 1.0
    assert (4, 5) not in got and (1, 5) not in got


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0


def test_simhash_identical_docs_equal_and_near_docs_close(docs):
    sigs = {
        r.doc_id: r.s
        for r in docs.select("doc_id", simhash(F.col("text"), bits=32).alias("s")).collect()
    }
    assert sigs[1] == sigs[2]
    ham_near = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham_near < ham_far


def test_simhash_near_duplicates_blocking(docs):
    pairs = simhash_near_duplicates(docs, "doc_id", "text", bits=32, max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_cosine_sim_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [0.0, 0.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.c for r in df.select(cosine_sim(F.col("a"), F.col("b")).alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)
    assert vals[2] == 0.0  # zero-norm guard


def test_embedding_near_duplicates_finds_identical_vectors(spark):
    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]), (3, [-4.0, 3.0, -2.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    pairs = embedding_near_duplicates(df, "vec_id", "v", dim=4, threshold=0.99, n_planes=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_brute_force_topk_ranks_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    out = brute_force_topk(df, q, id_col="vec_id", vec_col="embedding", k=2).collect()
    ranked = sorted(((r.rank, r.neighbor_id) for r in out))
    assert ranked == [(1, 3), (2, 1)]  # 3 is closer to 0 than 1; 2 excluded


def test_retrieval_recall_counts_misses_and_short_results(spark):
    from transmog_spark.operators.similarity import retrieval_recall

    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 7), (2, 5)],
        "query_id long, neighbor_id long",
    )
    # query 0: 1/3 hit; query 1: 1/1; query 2: approx returned nothing
    approx = spark.createDataFrame(
        [(0, 2), (0, 9), (1, 7), (1, 8)], "query_id long, neighbor_id long"
    )
    got = {
        r.query_id: (r.n_exact, r.n_hit, r.recall)
        for r in retrieval_recall(approx, exact).collect()
    }
    assert got == {0: (3, 1, 0.3333), 1: (1, 1, 1.0), 2: (1, 0, 0.0)}


def test_hard_negatives_pure_random_tier(spark):
    # k_hard=0: every negative comes from the seeded uniform tier, still
    # excluding positives and self
    from transmog_spark.operators.similarity import hard_negatives

    rows = [(i, [float(i + 1), 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    pos = spark.createDataFrame([(0, 1)], "query_id long, neighbor_id long")
    out = hard_negatives(df, q, pos, k_hard=0, k_rand=3, seed="pr").collect()
    assert len(out) == 3
    assert {r.kind for r in out} == {"random"}
    assert sorted(r.rank for r in out) == [1, 2, 3]
    assert not {0, 1} & {r.neighbor_id for r in out}


def test_retrieval_recall_dedups_repeated_candidate_rows(spark):
    from transmog_spark.operators.similarity import retrieval_recall

    exact = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, neighbor_id long"
    )
    # a multi-probe tier emitting (0,1) three times must count as ONE hit,
    # and repeated ground-truth rows must not inflate n_exact
    approx = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 1)], "query_id long, neighbor_id long"
    )
    dup_exact = exact.union(exact)
    (r,) = retrieval_recall(approx, dup_exact).collect()
    assert (r.n_exact, r.n_hit, r.recall) == (2, 1, 0.5)


def test_retrieval_recall_perfect_on_identical_tiers(spark):
    from transmog_spark.operators.similarity import (
        brute_force_topk,
        retrieval_recall,
    )

    rows = [(i, [float(i % 5 + 1), float((i * 7) % 11 + 1)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)
    exact = brute_force_topk(df, q, id_col="vec_id", vec_col="embedding", k=4)
    out = retrieval_recall(exact, exact).collect()
    assert len(out) == 3
    assert all(r.recall == 1.0 and r.n_hit == r.n_exact == 4 for r in out)


def test_hard_negatives_excludes_positives_and_self(spark):
    from transmog_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),   # most similar to 0 — but it's the positive
        (2, [0.9, 0.1]),
        (3, [0.5, 0.5]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    pos = spark.createDataFrame([(0, 1)], "query_id long, neighbor_id long")
    out = hard_negatives(df, q, pos, k_hard=2, k_rand=0).collect()
    got = sorted((r.rank, r.neighbor_id, r.kind) for r in out)
    # positive 1 and self 0 are excluded: hards are 2 then 3
    assert got == [(1, 2, "hard"), (2, 3, "hard")]
    assert all(r.cosine_e6 is not None for r in out)


def test_hard_negatives_random_tier_is_deterministic(spark):
    from transmog_spark.operators.similarity import hard_negatives

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    pos = spark.createDataFrame([(0, 1), (0, 2)], "query_id long, neighbor_id long")
    a = hard_negatives(df, q, pos, k_hard=3, k_rand=4, seed="s1").collect()
    b = hard_negatives(df, q, pos, k_hard=3, k_rand=4, seed="s1").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    kinds = {r.kind for r in a}
    assert kinds == {"hard", "random"}
    hard_ids = {r.neighbor_id for r in a if r.kind == "hard"}
    rand_ids = {r.neighbor_id for r in a if r.kind == "random"}
    # tiers are disjoint, positives and self never appear in either
    assert not hard_ids & rand_ids
    assert not {0, 1, 2} & (hard_ids | rand_ids)
    assert len(hard_ids) == 3 and len(rand_ids) == 4
    # a different seed redraws the random tier (27 candidates, P(collision) tiny)
    c = hard_negatives(df, q, pos, k_hard=3, k_rand=4, seed="s2").collect()
    rand_c = {r.neighbor_id for r in c if r.kind == "random"}
    assert {r.neighbor_id for r in c if r.kind == "hard"} == hard_ids
    assert rand_c != rand_ids


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_text_profile_values(docs):
    prof = {r.doc_id: r for r in text_profile(docs, "doc_id", "text").collect()}
    r1 = prof[1]
    assert r1.n_tokens_ws == 9
    assert r1.lang_pred == "en"
    assert prof[4].lang_pred == "de"
    assert prof[6].n_tokens_ws == 0 and prof[6].lang_pred == "und"
    assert prof[6].fingerprint == 0
    # identical docs -> identical fingerprints; different docs differ
    assert prof[1].fingerprint == prof[2].fingerprint
    assert prof[1].fingerprint != prof[3].fingerprint
    # quality in [0,1]
    assert all(0.0 <= r.quality <= 1.0 for r in prof.values())


def test_fingerprint_is_order_aware(spark):
    df = spark.createDataFrame([(1, "alpha beta"), (2, "beta alpha")], "doc_id long, text string")
    prof = {r.doc_id: r.fingerprint for r in text_profile(df, "doc_id", "text").collect()}
    assert prof[1] != prof[2]


def test_punct_ratio_and_stopword_ratio(spark):
    df = spark.createDataFrame([(1, "the cat!!!")], "doc_id long, text string")
    r = text_profile(df, "doc_id", "text").collect()[0]
    assert r.punct_ratio == pytest.approx(3 / 10)
    assert r.stopword_ratio == pytest.approx(1 / 2)
    assert r.n_tokens_bpe == 5  # the, cat, !, !, !


def test_norm_text_canonicalizes(spark):
    from transmog_spark.operators.text import norm_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "Hello,   World! 42"),
            (2, "  hello world 42  "),
            (3, "HELLO---WORLD...42"),
            (4, "different entirely"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["n"] for r in df.select("id", norm_text(F.col("text")).alias("n")).collect()}
    assert out[1] == out[2] == out[3] == "hello world 42"
    assert out[4] == "different entirely"


# ---------------------------------------------------------------- entropy


def test_entropy_profile_hand_computed(spark):
    from transmog_spark.operators.text import entropy_profile

    df = spark.createDataFrame(
        [
            (1, "ab ab"),       # chars {a:2,b:2}; tokens {ab:2}
            (2, "a b c d"),     # 4 uniform chars/tokens
            (3, "aaaa"),        # single symbol, single token
            (4, ""),            # empty -> all zeros via spine left-join
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in entropy_profile(df, "doc_id", "text").collect()}
    # grid entropy of {2,2}: (ln4 - 4*round(ln2*1e4)/4e4)/ln2 = 1.0001
    assert abs(rows[1]["char_entropy"] - 1.0001) <= 2e-4
    assert rows[1]["n_chars_nws"] == 4
    assert rows[1]["token_entropy"] == 0.0  # one distinct token
    assert rows[1]["distinct_token_ratio"] == 0.5
    assert abs(rows[2]["char_entropy"] - 2.0) <= 2e-4  # 4 uniform, g(1)=0
    assert abs(rows[2]["token_entropy"] - 2.0) <= 2e-4
    assert rows[2]["distinct_token_ratio"] == 1.0
    assert rows[3]["char_entropy"] == 0.0
    assert rows[3]["token_entropy"] == 0.0
    assert rows[3]["n_tok"] == 1
    assert rows[4].asDict() == {
        "doc_id": 4,
        "n_chars_nws": 0,
        "char_entropy": 0.0,
        "n_tok": 0,
        "token_entropy": 0.0,
        "distinct_token_ratio": 0.0,
    }


def test_entropy_separates_spam_from_natural(spark):
    from transmog_spark.operators.text import entropy_profile

    spam = "buy now " * 40                      # 2 tokens round-robin
    natural = " ".join(f"w{i} tok{i % 7}" for i in range(40))
    blob = "f3a9" * 30 + " " + "0b7c2e" * 20    # hex-blob chars, few tokens
    df = spark.createDataFrame(
        [(1, spam), (2, natural), (3, blob)], ["doc_id", "text"]
    )
    r = {x["doc_id"]: x for x in entropy_profile(df, "doc_id", "text").collect()}
    assert r[1]["token_entropy"] < 1.1 < r[2]["token_entropy"]
    assert r[1]["distinct_token_ratio"] < 0.1 < r[2]["distinct_token_ratio"]
    # the blob's CHAR entropy is healthy (hex symbol soup) while its token
    # count craters — the two levels catch different junk
    assert r[3]["char_entropy"] > 2.0
    assert r[3]["n_tok"] == 2


# -------------------------------------------------------------- strip_html


def test_strip_html_known_document(spark):
    from pyspark.sql import functions as F

    from transmog_spark.operators.text import strip_html

    html = (
        '<html><head><style>body { color: red; }</style>'
        '<script src="x.js">var a = 1 < 2 && b;</script></head>'
        "<body><!-- nav --><h1>Title</h1>\n<p>Hello &amp; welcome to "
        '&quot;the&quot; &lt;lab&gt;&nbsp;&#39;x&#39;</p></body></html>'
    )
    out = (
        spark.range(1)
        .select(strip_html(F.lit(html)).alias("c"))
        .collect()[0]["c"]
    )
    assert out == 'Title Hello & welcome to "the" <lab> \'x\''


def test_strip_html_entity_order_and_idempotence(spark):
    from pyspark.sql import functions as F

    from transmog_spark.operators.text import strip_html

    # '&amp;lt;' is the ESCAPED literal '&lt;' — single-pass decode must
    # yield the text '&lt;', never a second-round '<'
    row = (
        spark.range(1)
        .select(
            strip_html(F.lit("a &amp;lt; b")).alias("c1"),
            strip_html(F.lit("plain text, no markup")).alias("c2"),
            strip_html(F.lit("  spaced\t\nout  ")).alias("c3"),
        )
        .collect()[0]
    )
    assert row["c1"] == "a &lt; b"
    assert row["c2"] == "plain text, no markup"
    assert row["c3"] == "spaced out"


# --------------------------------------------------------------------- URL


def test_url_normalize_rules(spark):
    from pyspark.sql import functions as F

    from transmog_spark.operators.text import url_normalize

    cases = [
        # case + www + default port + trailing slash + tracking + fragment
        (1, "HTTPS://WWW.Ex.COM:443/A/b//?utm_source=x&id=3&gclid=z#f",
         "https://ex.com/A/b?id=3"),
        # non-default port kept; http:80 dropped
        (2, "http://ex.com:8080/p", "http://ex.com:8080/p"),
        (3, "http://ex.com:80/p", "http://ex.com/p"),
        # empty path -> '/', tracking-only query vanishes entirely
        (4, "https://ex.com?utm_medium=a&utm_src=b", "https://ex.com/"),
        # query param ORDER preserved (reordering conflates semantics)
        (5, "https://ex.com/p?b=2&a=1", "https://ex.com/p?b=2&a=1"),
        # path case preserved (URL paths are case-sensitive)
        (6, "https://Ex.com/CaseSensitive", "https://ex.com/CaseSensitive"),
        # non-absolute input passes through trimmed, never mangled
        (7, "  relative/path?utm_source=x  ", "relative/path?utm_source=x"),
        # userinfo stripped from host resolution
        (8, "https://user:pw@ex.com/p", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], ["id", "url"])
    got = {
        r["id"]: r["n"]
        for r in df.select("id", url_normalize(F.col("url")).alias("n")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_url_parts_domain_heuristic(spark):
    from pyspark.sql import functions as F

    from transmog_spark.operators.text import url_parts

    df = spark.createDataFrame(
        [(1, "https://a.b.Ex.COM/x"), (2, "http://localhost:9000/y")],
        ["id", "url"],
    )
    p = url_parts(F.col("url"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id", p["host"].alias("h"), p["domain"].alias("d"),
            p["port"].alias("pt"), p["path"].alias("pa"),
        ).collect()
    }
    assert rows[1]["h"] == "a.b.ex.com" and rows[1]["d"] == "ex.com"
    # single-label host has no registered domain (heuristic returns '')
    assert rows[2]["h"] == "localhost" and rows[2]["d"] == ""
    assert rows[2]["pt"] == "9000" and rows[2]["pa"] == "/y"


def test_url_normalize_idempotent_on_random_urls(spark):
    # normalize(normalize(u)) == normalize(u) over 300 seeded-random URLs
    # covering every component combination (one Spark job, not per-example)
    import random

    from pyspark.sql import functions as F

    from transmog_spark.operators.text import url_normalize

    rng = random.Random(407)
    urls = []
    for i in range(300):
        scheme = rng.choice(["http", "HTTP", "https", "HTTPS", "ftp"])
        host = rng.choice(
            ["Ex.COM", "www.ex.com", "WWW.a.b.Ex.org", "localhost", "x.co"]
        )
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/A/b", "/A/b/", "/p//", "/CaseS"])
        q = rng.choice(
            ["", "?utm_source=x", "?id=3&utm_medium=y", "?b=2&a=1", "?gclid=z&id=4"]
        )
        frag = rng.choice(["", "#f", "#a/b?c"])
        urls.append((i, f"{scheme}://{host}{port}{path}{q}{frag}"))
    df = spark.createDataFrame(urls, ["id", "url"])
    once = url_normalize(F.col("url"))
    rows = df.select(
        "id",
        once.alias("n1"),
        url_normalize(once).alias("n2"),
    ).collect()
    for r in rows:
        assert r["n1"] == r["n2"], (r["id"], r["n1"], r["n2"])


def test_entropy_profile_matches_pure_python_on_random_texts(spark):
    import math
    import random

    from transmog_spark.operators.text import entropy_profile

    rng = random.Random(1311)
    vocab = ["aa", "b", "ccc", "dd", "e", "zz9", "???", "tok"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(200)
    ]

    def grid_entropy(counts):
        n = sum(counts.values())
        d = len(counts)
        if d <= 1:
            return 0.0
        s = sum(c * round(math.log(c) * 10000) for c in counts.values())
        return max(0.0, round((math.log(n) - s / (n * 10000.0)) / math.log(2.0), 4))

    def expect(text):
        from collections import Counter
        toks = [t for t in text.lower().split() if t]
        chars = Counter(c for c in text.lower() if not c.isspace())
        tc = Counter(toks)
        return (
            sum(chars.values()), grid_entropy(chars),
            len(toks), grid_entropy(tc),
            round(len(tc) / len(toks), 4) if toks else 0.0,
        )

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in entropy_profile(df, "doc_id", "text").collect()}
    for i, text in docs:
        r = rows[i]
        got = (
            r["n_chars_nws"], r["char_entropy"], r["n_tok"],
            r["token_entropy"], r["distinct_token_ratio"],
        )
        assert got == expect(text), (i, got, expect(text), text)


def test_containment_pairs_finds_embedded_quote(spark):
    from transmog_spark.operators.dedup import containment_pairs

    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    rows = [
        (1, big),
        # the quote's shingles are all inside doc 1 AND include the page's
        # min-hash shingle ('epsilon zeta eta' — verified by direct md5),
        # so the single-band blocking pairs them; Jaccard stays diluted
        (2, "epsilon zeta eta theta iota kappa"),
        (3, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): r for r in containment_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.8
    ).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.containment_ba == 1.0  # quote fully contained in the page
    assert r.containment_ab < 0.8   # page NOT contained in the quote
    assert r.jaccard_sim < 0.8      # Jaccard alone would have missed it
    assert all(3 not in k for k in out)
