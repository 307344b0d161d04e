"""Multimodal plumbing (binary columns through mapInPandas) and the
BPE-ish/rolling-hash text ops — the remaining north-star pieces with
no direct test coverage.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.ml import media_features
from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import text as textops


def test_media_features_binary_pipeline(spark):
    payloads = [b"\x89PNG_fake_bytes_1", b"RIFF_fake_audio_22", b"\x00\x01\x02"]
    df = spark.createDataFrame(
        [(i, "image" if i < 2 else "audio", p) for i, p in enumerate(payloads)],
        "media_id long, kind string, content binary",
    )
    rows = {r["media_id"]: r for r in media_features(df).collect()}
    assert len(rows) == 3
    for i, p in enumerate(payloads):
        assert rows[i]["n_bytes"] == len(p)
        assert rows[i]["content_hash"] == hashlib.md5(p).hexdigest()
        feat = rows[i]["feature"]
        assert len(feat) == 16  # typed fixed-dim feature vector
        assert all(isinstance(x, float) for x in feat)
    # determinism: same payload -> same feature
    again = {r["media_id"]: r for r in media_features(df).collect()}
    assert again[0]["feature"] == rows[0]["feature"]


def test_bpe_ish_tokens_and_rolling_hash(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["Hello, world! 42 tokens?", "Hello, world! 42 tokens?"]})
    )
    out = df.select(
        "doc_id",
        textops.token_count("text").alias("words"),
        textops.token_count("text", bpe=True).alias("bpe"),
        textops.rolling_hash_fingerprint("text", window=2).alias("fp"),
    ).collect()
    # punctuation/digit runs become their own tokens in the BPE-ish split
    assert out[0]["words"] == 4
    assert out[0]["bpe"] > out[0]["words"]
    # identical docs -> identical winnowing fingerprint
    assert out[0]["fp"] == out[1]["fp"]

    # local edit keeps SOME window hashes -> fingerprint robustness is
    # min-based; a fully different text changes the fingerprint
    other = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "text": ["completely different content here"]})
    ).select(textops.rolling_hash_fingerprint("text", window=2).alias("fp"))
    assert other.first()["fp"] != out[0]["fp"]


def test_chunk_documents_invariants(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),   # multi-chunk
            (2, "short doc"),                             # single chunk
            (3, ""),                                      # degenerate
        ],
        ["doc_id", "text"],
    )
    out = textops.chunk_documents(
        df, id_col="doc_id", text_col="text", chunk_tokens=16, overlap=4
    ).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    # step = 12: starts at words 0, 12, 24 -> 3 chunks of 16/16/16
    assert list(d1.chunk_id) == [0, 1, 2]
    assert list(d1.n_tokens) == [16, 16, 16]
    # overlap: each chunk repeats the previous chunk's last 4 words
    w = [f"w{i}" for i in range(40)]
    assert d1.iloc[1].chunk_text == " ".join(w[12:28])
    # reconstruction: stripping the 4-word overlap re-yields the doc
    rebuilt = w[:16] + w[16 + 4 - 4:][:0]  # sanity base
    toks = [c.split(" ") for c in d1.chunk_text]
    rebuilt = toks[0] + [t for c in toks[1:] for t in c[4:]]
    assert rebuilt == w
    assert len(out[out.doc_id == 2]) == 1
    assert out[out.doc_id == 2].iloc[0].n_tokens == 2
    # zero-exchange plan
    plan = textops.chunk_documents(
        df, id_col="doc_id", text_col="text", chunk_tokens=16, overlap=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        textops.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_repetition_stats_flags_loops(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),          # pure loop
            (2, "all words here are fully distinct ones"), # clean
            (3, "one"),                                    # too short
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in textops.repetition_stats(df, text_col="text", n=2).collect()
    }
    assert out[1].n_ngrams == 5 and out[1].n_distinct == 1
    assert abs(out[1].dup_ngram_ratio - 0.8) < 1e-12
    assert out[2].dup_ngram_ratio == 0.0
    assert out[3].n_ngrams == 0 and out[3].dup_ngram_ratio == 0.0


def test_scrub_text_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice@example.com   or  bob.smith+x@sub.domain.org now"),
            (2, "see https://example.com/a?b=c and http://x.io too"),
            (3, "url with mail inside https://host/a@b.com/path stays one URL"),
            (4, "plain text, nothing to scrub"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textops.scrub_text(df, text_col="text").collect()}
    assert out[1].n_emails == 2 and out[1].n_urls == 0
    assert out[1].clean_text == "mail me at <EMAIL> or <EMAIL> now"
    assert out[2].n_urls == 2 and out[2].n_emails == 0
    assert out[2].clean_text == "see <URL> and <URL> too"
    # URL redacted FIRST: the embedded email never counts
    assert out[3].n_urls == 1 and out[3].n_emails == 0
    assert out[4].clean_text == "plain text, nothing to scrub"


def test_bm25_ranking_properties(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [
            (1, "rare common common filler filler filler"),
            (2, "common filler words only here today"),
            (3, "common common common filler filler filler"),
            (4, "nothing matching at all in this"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textops.bm25_scores(
        df, ["rare", "common"], id_col="doc_id", text_col="text"
    ).collect()}
    assert 4 not in out, "docs with no query term are absent"
    assert out[1].n_hit_terms == 2 and out[2].n_hit_terms == 1
    # 'rare' appears in 1 doc, 'common' in 3 -> doc 1's rare hit
    # dominates doc 3's extra 'common' occurrences
    assert out[1].bm25 > out[3].bm25 > out[2].bm25
    with _pytest.raises(ValueError):
        textops.bm25_scores(df, [], id_col="doc_id", text_col="text")


def test_bigram_lm_scores_flag_unusual_text(spark):
    """In-domain text must score higher (less negative mean bigram
    log-likelihood) than out-of-vocabulary gibberish, and short docs
    (<2 tokens) drop out."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        bigram_lm_train_score,
    )

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat ran") for i in range(5)],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),   # in-domain
            (101, "zxq vbn qwe rty uio plm"),  # full OOV
            (102, "one"),                      # no bigrams -> dropped
        ],
        ["doc_id", "text"],
    )
    scored = bigram_lm_train_score(
        train.unionByName(test), train_filter=F.col("doc_id") < 100,
        id_col="doc_id", text_col="text",
    )
    rows = {r["doc_id"]: r for r in scored.collect() if r["doc_id"] >= 100}
    assert set(rows) == {100, 101}
    assert rows[100]["avg_logp"] > rows[101]["avg_logp"]
    assert rows[100]["n_bigrams"] == 5


def _bigram_lm_reference(docs, train_ids, alpha=0.5):
    """Add-alpha bigram LM on string keys in plain Python: counts over
    the training documents' adjacent token pairs, ``V`` = distinct
    training tokens, and per document the count of its bigrams and
    their mean ``ln((c(w1,w2)+a) / (c(w1)+a*V))``. Tokens are split as
    ``dedup.tokenize`` splits a non-empty text: lower-cased, on
    whitespace."""
    import math
    from collections import Counter

    c2, c1, vocab = Counter(), Counter(), set()
    for i, text in docs:
        if i in train_ids:
            ws = text.lower().split()
            vocab.update(ws)
            for w1, w2 in zip(ws, ws[1:]):
                c2[w1, w2] += 1
                c1[w1] += 1
    out = {}
    for i, text in docs:
        ws = text.lower().split()
        logps = [
            math.log((c2[w1, w2] + alpha) / (c1[w1] + alpha * len(vocab)))
            for w1, w2 in zip(ws, ws[1:])
        ]
        if logps:
            out[i] = (len(logps), sum(logps) / len(logps))
    return out


def test_bigram_lm_matches_python_reference(spark):
    """The fused train+score bigram LM against a pure-Python add-alpha
    model on string keys, trained on the even doc ids: the same
    documents (1-token docs drop out), bigram counts and mean
    log-likelihoods, with an OOV document and a 1-token document (its
    token is in the vocabulary, it has no bigram) in the corpus."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        bigram_lm_train_score,
    )

    corpus = [
        (0, "the cat sat on the mat and the cat ran"),
        (1, "zxq vbn qwe rty uio plm"),
        (2, "the dog sat on a log"),
        (3, "one"),
        (4, "cats and dogs run on mats"),
        (5, "the mat ran on the cat"),
        (6, "one"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in bigram_lm_train_score(
            docs, train_filter=F.col("doc_id") % 2 == 0,
            id_col="doc_id", text_col="text",
        ).collect()
    }
    want = _bigram_lm_reference(corpus, {i for i, _ in corpus if i % 2 == 0})
    assert set(got) == set(want) == {0, 1, 2, 4, 5}
    for i, (n, logp) in want.items():
        assert got[i][0] == n
        assert abs(got[i][1] - logp) <= 1e-12 * abs(logp), (i, got[i], logp)


def test_html_to_text_strips_payloads_and_decodes_entities(spark):
    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        html_to_text,
    )

    cases = [
        ("<p>Hello <b>world</b></p>", "Hello world"),
        ("<script>alert('x')</script>keep<style>a{}</style>", "keep"),
        ("<SCRIPT foo=1>\nmulti\nline\n</SCRIPT>after", "after"),
        ("<!-- c1 --><div>a</div><!-- c2\nc2 -->b", "a b"),
        ("x &amp;lt; y &lt; z &nbsp; &quot;q&quot; &#39;s&#39;", "x &lt; y < z \"q\" 's'"),
        ("  spaced\t\tout\n\n ", "spaced out"),
    ]
    df = spark.createDataFrame(cases, ["html", "want"])
    rows = df.select(html_to_text("html").alias("got"), "want").collect()
    for r in rows:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_scrub_pii_categories_and_ordering(spark):
    """Each PII category redacts to its typed token with a correct
    count; card numbers must be consumed BEFORE the phone pattern can
    half-match them; plain integers never false-positive as phones."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        scrub_pii,
    )

    rows = [
        (1, "visit https://x.io/a?b=1 or mail bob@x.io now"),
        (2, "pay 4111 1111 1111 1111 or call +1 (555) 123-4567"),
        (3, "host 192.168.0.1 and 999.1.1.1 are different"),
        (4, "year 2024 and id 1234567 stay untouched"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in scrub_pii(df, text_col="text").collect()}

    assert got[1]["n_urls"] == 1 and got[1]["n_emails"] == 1
    assert "<URL>" in got[1]["clean_text"] and "<EMAIL>" in got[1]["clean_text"]

    assert got[2]["n_cards"] == 1 and got[2]["n_phones"] == 1
    assert "<CARD>" in got[2]["clean_text"] and "<PHONE>" in got[2]["clean_text"]
    assert "4111" not in got[2]["clean_text"]

    assert got[3]["n_ips"] == 1                      # 999.x is not an IP
    assert got[3]["clean_text"].count("<IP>") == 1

    assert got[4]["n_phones"] == 0 and got[4]["clean_text"] == rows[3][1]


def test_token_entropy_orders_diversity(spark):
    """Repetitive text must score below diverse text; single-token doc
    has exactly zero entropy and TTR reflects distinct share."""
    import math

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        token_entropy_stats,
    )

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "eight totally different words appear in this sentence"),
        (3, "word"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in token_entropy_stats(df).collect()}

    assert got[1]["token_entropy"] == 0.0        # one type -> H = 0
    assert got[3]["token_entropy"] == 0.0
    assert got[2]["token_entropy"] > 1.5
    assert abs(got[2]["token_entropy"] - math.log(8)) < 1e-12  # uniform
    assert got[1]["type_token_ratio"] == 1 / 8
    assert got[2]["n_distinct"] == 8 and got[2]["n_tokens"] == 8


def test_model_handle_injection_swaps_cleanly(spark):
    """r5 verdict #6: sentiment_udf / embedding_udf accept an
    injectable model factory; swapping the stub for another handle
    changes ONLY the scores — schema, plumbing, and the default
    instances stay identical."""
    import pandas as pd

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.ml import (
        SENTIMENT_SCHEMA,
        make_embedding_udf,
        make_sentiment_udf,
        sentiment_udf,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["good day", "bad crash", "longer neutral text"]})
    )

    def fake_sentiment_factory():
        # "model": positive iff even word count, score = n_words/10
        def predict(texts):
            out = []
            for t in texts:
                n = len(t.split())
                lab = "POSITIVE" if n % 2 == 0 else "NEGATIVE"
                s = n / 10.0
                out.append((lab, s, s if lab == "POSITIVE" else -s))
            return out
        return predict

    swapped = df.withColumn("s", make_sentiment_udf(fake_sentiment_factory)("text"))
    assert swapped.schema["s"].dataType == SENTIMENT_SCHEMA
    rows = {r["text"]: r["s"] for r in swapped.collect()}
    assert rows["good day"]["label"] == "POSITIVE"
    assert rows["good day"]["score_signed"] == 0.2
    assert rows["longer neutral text"]["label"] == "NEGATIVE"
    assert rows["longer neutral text"]["score_signed"] == -0.3

    def fake_encoder_factory():
        return lambda texts: [[float(len(t)), 1.0] for t in texts]

    emb = df.withColumn("e", make_embedding_udf(fake_encoder_factory)("text"))
    got = {r["text"]: r["e"] for r in emb.collect()}
    assert got["good day"] == [8.0, 1.0]

    # default instance still the deterministic stub (registry row
    # ml_stub_udfs depends on it)
    base = df.withColumn("s", sentiment_udf("text")).first()["s"]
    again = df.withColumn("s", sentiment_udf("text")).first()["s"]
    assert base == again


def test_quality_classifier_separates_planted_classes(spark):
    """Learned quality gate: logistic regression on hashed-term +
    heuristic features separates clean prose from digit/punctuation
    soup, scoring in [0,1] with the feature contract (n_buckets)
    enforced between train and score."""
    import random

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    rng = random.Random(3)
    good = [
        "the quick brown fox jumps over the lazy dog and runs far away home " * 2
        for _ in range(60)
    ]
    bad = [
        " ".join(str(rng.randint(0, 99)) for _ in range(20)) + " !!! ### $$$"
        for _ in range(60)
    ]
    rows = [(i, t, 1.0) for i, t in enumerate(good)] + [
        (1000 + i, t, 0.0) for i, t in enumerate(bad)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    model = train_quality_classifier(df, n_buckets=32, max_iter=25)
    scored = score_quality(df.drop("label"), model, n_buckets=32)
    out = {r["doc_id"]: r["p_good"] for r in scored.collect()}
    assert len(out) == len(rows)
    assert all(0.0 <= p <= 1.0 for p in out.values())
    good_mean = sum(out[i] for i in range(60)) / 60
    bad_mean = sum(out[1000 + i] for i in range(60)) / 60
    assert good_mean > 0.85 and bad_mean < 0.15


def test_nb_quality_separates_and_is_partition_invariant(spark):
    """Portable Naive-Bayes quality gate (r11): integer-count training
    + rule-W fixed-point scoring separates clean prose from digit/
    punctuation soup, p_good in [0,1], OOV tokens take the smoothed
    weight, and the scores are IDENTICAL under a different input
    partitioning (the order-independence the fixed-point sum buys)."""
    import random

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.quality_model import (
        score_nb_quality,
        train_nb_quality,
    )

    rng = random.Random(3)
    good = [
        "the quick brown fox jumps over the lazy dog and runs far away home "
        * 2
        for _ in range(60)
    ]
    bad = [
        " ".join(str(rng.randint(0, 99)) for _ in range(20)) + " !!! ### $$$"
        for _ in range(60)
    ]
    rows = [(i, t, 1) for i, t in enumerate(good)] + [
        (1000 + i, t, 0) for i, t in enumerate(bad)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    weights, prior, oov = train_nb_quality(df, text_col="text")
    held = df.drop("label").union(
        # an all-OOV doc exercises the smoothing path
        spark.createDataFrame(
            [(9999, "zzz qqq xxx unseen tokens only")],
            "doc_id long, text string",
        )
    )
    scored = score_nb_quality(held, weights, prior=prior, oov_weight=oov)
    out = {r["doc_id"]: r["p_good"] for r in scored.collect()}
    assert len(out) == len(rows) + 1
    assert all(0.0 <= p <= 1.0 for p in out.values())
    good_mean = sum(out[i] for i in range(60)) / 60
    bad_mean = sum(out[1000 + i] for i in range(60)) / 60
    assert good_mean > 0.85 and bad_mean < 0.15

    again = {
        r["doc_id"]: r["p_good"]
        for r in score_nb_quality(
            held.repartition(13, "text"), weights,
            prior=prior, oov_weight=oov,
        ).collect()
    }
    assert out == again  # bit-identical under repartitioning (rule W)


def test_nb_libm_bit_agreement(spark):
    """Pins the documented cross-engine assumption behind the
    hash-exact text_quality_nb oracle (r11 advisor): JVM Math.log and
    DuckDB LN must agree BITWISE on every input this registry corpus
    produces — every distinct smoothed count ratio fed to LN during
    training (weights, prior, OOV) at sf0.01 — because a 1-ulp LN
    divergence could flip FLOOR(w*2^40) or the prior inside the
    6-decimal driver rounding. EXP was MEASURED to diverge by 1 ulp
    on 24/250 of this corpus's -log_odds inputs (r12), which is WHY
    p_good is excluded from the registry row's compared columns; here
    EXP only gets a <=1-ulp sanity bound. If the LN assertion fails
    on a new environment, demote the registry row to a tolerance
    compare (see quality_model.score_nb_quality)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import (
        REGISTRY,
    )
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import tokenize
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.text import (
        quality_features,
    )

    sf_dir = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weak = quality_features(
        docs.filter(F.col("doc_id") % 2 == 0), text_col="text"
    ).select("doc_id", "text", (F.col("quality_score") >= 0.6).cast("int").alias("__y"))
    toks = weak.select("__y", F.explode(tokenize("text")).alias("token"))
    cnt = toks.groupBy("token").agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("ng"),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("nb"),
    )
    pairs = cnt.select("ng", "nb").distinct().collect()
    tg, tb, v = cnt.agg(F.sum("ng"), F.sum("nb"), F.count(F.lit(1))).first()
    n_good, n_bad = weak.agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)),
    ).first()
    dg, db = float(tg) + float(v), float(tb) + float(v)
    # float division is IEEE-deterministic, so building the LN inputs
    # here yields the same bits both engines see
    ln_inputs = sorted(
        {(r["ng"] + 1) / dg for r in pairs}
        | {(r["nb"] + 1) / db for r in pairs}
        | {1.0 / dg, 1.0 / db, (float(n_good) + 1.0) / (float(n_bad) + 1.0)}
    )
    assert len(ln_inputs) > 20  # the corpus actually exercises this

    exp_inputs = sorted(
        {
            -r["log_odds"]
            for r in REGISTRY["text_quality_nb"][0](spark, sf_dir)
            .select("log_odds")
            .collect()
        }
    )
    assert len(exp_inputs) > 20

    con = duckdb.connect()
    for fn, inputs in (("LN", ln_inputs), ("EXP", exp_inputs)):
        sdf = spark.createDataFrame([(float(x),) for x in inputs], "x double")
        col = F.log("x") if fn == "LN" else F.exp("x")
        got_s = (
            sdf.select(F.col("x"), col.alias("y"))
            .orderBy("x")
            .toPandas()["y"]
            .to_numpy()
        )
        con.register("t_inputs", pd.DataFrame({"x": np.array(inputs, dtype="float64")}))
        got_d = con.sql(f"SELECT {fn}(x) AS y FROM t_inputs ORDER BY x").df()["y"].to_numpy()
        con.unregister("t_inputs")
        if fn == "LN":  # the gate's hard requirement: bitwise
            neq = int((got_s != got_d).sum())
            assert neq == 0, (fn, neq, len(inputs))
            # production computes prior/oov with CPython math.log on
            # the DRIVER (quality_model.train_nb_quality), a third
            # libm — pin it against DuckDB too (r12 review finding)
            import math

            got_py = np.array([math.log(x) for x in sorted(inputs)])
            neq_py = int((got_py != got_d).sum())
            assert neq_py == 0, ("math.log", neq_py, len(inputs))
        else:  # EXP diverges bitwise (24/250 at r12) — bound it to 1 ulp
            ulps = np.abs(got_s.view("int64") - got_d.view("int64"))
            assert int(ulps.max()) <= 1, (fn, int(ulps.max()))


def test_numpy_model_through_factory_seam_end_to_end(spark):
    """r13 verdict task #4: the model_factory seam had only ever
    carried hash stubs and per-row lambdas. This injects REAL
    (non-stub) numpy models — a bag-of-words logistic-regression
    sentiment head and a fixed-random-projection text encoder, both
    pure public-knowledge constructions — and checks the scores
    end-to-end against a hand computation: the batch matrix math, the
    struct schema, the score normalization (score = probability of
    the PREDICTED class, score_signed flips sign on NEGATIVE), and
    the float32 Arrow cast on the embedding side all verified through
    the real executor path (repartitioned so multiple workers each
    run the lazy factory)."""
    import math

    import numpy as np
    import pandas as pd

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.ml import (
        SENTIMENT_SCHEMA,
        make_embedding_udf,
        make_sentiment_udf,
    )

    VOCAB = {"good": 2.0, "great": 3.0, "bad": -2.0, "terrible": -3.0}
    BIAS = 0.1
    words = list(VOCAB)
    W = np.array([VOCAB[w] for w in words])

    def numpy_sentiment_factory():
        # vectorized logistic regression over a bag-of-words count
        # matrix: one matmul + sigmoid per Arrow batch
        def predict(texts):
            X = np.zeros((len(texts), len(words)))
            for i, t in enumerate(texts):
                toks = (t or "").split()
                for j, w in enumerate(words):
                    X[i, j] = toks.count(w)
            p_pos = 1.0 / (1.0 + np.exp(-(X @ W + BIAS)))
            out = []
            for p in p_pos:
                label = "POSITIVE" if p >= 0.5 else "NEGATIVE"
                score = float(p if p >= 0.5 else 1.0 - p)
                out.append((label, score, score if label == "POSITIVE" else -score))
            return out
        return predict

    DIM = 8
    PROJ = np.random.RandomState(0).standard_normal((len(words), DIM))

    def numpy_encoder_factory():
        # fixed random-projection encoder: counts @ PROJ, L2-normalized
        def encode(texts):
            X = np.zeros((len(texts), len(words)))
            for i, t in enumerate(texts):
                toks = (t or "").split()
                for j, w in enumerate(words):
                    X[i, j] = toks.count(w)
            E = X @ PROJ
            n = np.linalg.norm(E, axis=1, keepdims=True)
            n[n == 0] = 1.0
            return (E / n).tolist()
        return encode

    texts = [
        "good good day",          # w.x = 4.0 + bias
        "terrible bad crash",     # w.x = -5.0 + bias
        "nothing in vocabulary",  # w.x = 0 + bias -> p = sigmoid(0.1)
        "good but bad",           # w.x = 0 + bias
        "great great great bad",  # w.x = 7.0 + bias
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"text": texts})
    ).repartition(3)

    out = df.withColumn(
        "s", make_sentiment_udf(numpy_sentiment_factory)("text")
    ).withColumn("e", make_embedding_udf(numpy_encoder_factory)("text"))
    assert out.schema["s"].dataType == SENTIMENT_SCHEMA
    rows = {r["text"]: r for r in out.collect()}
    assert len(rows) == len(texts)

    def sigmoid(z):
        return 1.0 / (1.0 + math.exp(-z))

    # hand-computed expectations, independent of the factory's numpy
    hand = {
        "good good day": sigmoid(4.1),
        "terrible bad crash": sigmoid(-4.9),
        "nothing in vocabulary": sigmoid(0.1),
        "good but bad": sigmoid(0.1),
        "great great great bad": sigmoid(7.1),
    }
    for t, p_pos in hand.items():
        s = rows[t]["s"]
        want_label = "POSITIVE" if p_pos >= 0.5 else "NEGATIVE"
        want_score = p_pos if p_pos >= 0.5 else 1.0 - p_pos
        assert s["label"] == want_label, t
        assert abs(s["score"] - want_score) < 1e-12, t
        want_signed = want_score if want_label == "POSITIVE" else -want_score
        assert abs(s["score_signed"] - want_signed) < 1e-12, t

    # embeddings: recompute by hand (counts @ PROJ, normalized), then
    # cast through float32 exactly like the ArrayType(FloatType) column
    for t in texts:
        counts = np.array([t.split().count(w) for w in words], dtype=float)
        e = counts @ PROJ
        nrm = np.linalg.norm(e)
        e = e / nrm if nrm else e
        want = np.asarray(e, dtype=np.float32)
        got = np.array(rows[t]["e"], dtype=np.float32)
        assert got.shape == (DIM,)
        assert np.array_equal(got, want), t


def test_runtime_factories_fall_back_to_stubs_in_sandbox(spark):
    """r14 (verdict #5): the runtime model factories must try the real
    transformers / sentence-transformers imports at call time and fall
    back to the deterministic stubs when absent — which is this
    sandbox's case, so the fallback branch is the one exercised here:
    end-to-end through the Arrow UDFs, outputs must equal the stub
    UDFs' exactly.  (On a cluster with the libraries installed the
    same one-liner loads the real models; that branch is covered by
    the factory contract, not executable here.)"""
    import importlib.util

    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.functions.ml import (
        make_embedding_udf,
        make_sentiment_udf,
        runtime_embedding_factory,
        runtime_sentiment_factory,
    )

    if importlib.util.find_spec("transformers") is not None or \
            importlib.util.find_spec("sentence_transformers") is not None:
        pytest.skip("real model libs present; fallback branch not reachable")

    # factory contract, driver-side: factory() returns a batch callable
    predict = runtime_sentiment_factory()()
    out = predict(["good day", None])
    assert len(out) == 2 and len(out[0]) == 3
    assert out[1] == ("NEUTRAL", 0.0, 0.0)
    encode = runtime_embedding_factory()()
    vecs = encode(["good day"])
    assert len(vecs[0]) == 384

    # end-to-end through the Arrow UDFs: identical to the stub UDFs
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["alpha", "beta gamma", None])],
        "id int, text string",
    ).repartition(2)
    got = (
        df.withColumn("s", make_sentiment_udf(runtime_sentiment_factory())("text"))
        .withColumn("e", make_embedding_udf(runtime_embedding_factory())("text"))
    )
    ref = (
        df.withColumn("s", make_sentiment_udf()("text"))
        .withColumn("e", make_embedding_udf()("text"))
    )
    a = {r["id"]: (r["s"], r["e"]) for r in got.collect()}
    b = {r["id"]: (r["s"], r["e"]) for r in ref.collect()}
    assert a == b
