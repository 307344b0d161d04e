"""Bounded scale smoke for the dedup tiers (VERDICT r1 next-step #10):
a 20k-document synthetic corpus with planted near-duplicates runs
end-to-end through MinHash-LSH and exact Jaccard without driver
broadcasts of per-document tables (the round-1 OOM shape) and finds
the planted pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus_sdf(spark):
    rng = np.random.default_rng(21)
    vocab = [f"tok{i}" for i in range(5000)]
    texts = [
        " ".join(rng.choice(vocab, 30, replace=True)) for _ in range(20_000)
    ]
    # plant 50 near-duplicates: copy with one word changed
    for i in range(50):
        words = texts[i].split()
        words[5] = "mutated"
        texts[10_000 + i] = " ".join(words)
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(16)


def test_minhash_finds_planted_pairs_at_20k_docs(corpus_sdf):
    pairs = dedup.minhash_dedup_pairs(
        corpus_sdf, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, threshold=0.5,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, 10_000 + i) for i in range(50)}
    assert len(planted & found) >= 45  # LSH may miss a couple
    assert len(found - planted) < 50  # and hallucinate few


def test_exact_jaccard_finds_planted_pairs_at_20k_docs(corpus_sdf):
    pairs = dedup.jaccard_similar_pairs(
        corpus_sdf, id_col="doc_id", text_col="text", threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, 10_000 + i) for i in range(50)}
    assert planted <= found  # exact tier misses nothing
    for r in pairs:
        if (r["id_a"], r["id_b"]) in planted:
            # 30-word doc, 28 3-gram shingles, 6 shingles touch word 5
            assert 0.6 <= r["jaccard"] < 1.0


def test_stop_shingle_cutoff_bounds_hot_shingles(spark):
    """A ubiquitous phrase ("common filler words here") appears in every
    document: without a cutoff the inverted-index self-join would emit
    ~n² candidate rows for its shingles. With max_doc_freq the hot
    shingles are dropped BEFORE the join, and the result equals exact
    Jaccard computed on the corpus with the hot phrase stripped."""
    rng = __import__("numpy").random.default_rng(7)
    vocab = [f"tok{i}" for i in range(200)]
    base = [" ".join(rng.choice(vocab, 12, replace=True)) for _ in range(300)]
    hot = "common filler words here"
    texts = [f"{hot} {t}" for t in base]
    texts[250] = texts[0].replace("tok", "tok", 1)  # exact dup of doc 0
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf).repartition(8)

    out = dedup.jaccard_similar_pairs(
        sdf, id_col="doc_id", text_col="text", threshold=0.9, max_doc_freq=100
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (0, 250) in found and found[(0, 250)] == 1.0

    # reference: same threshold on the corpus with the hot prefix
    # stripped and every surviving shingle universe identical
    stripped = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(base)),
                      "text": [texts[i].removeprefix(hot + " ") for i in range(len(texts))]})
    )
    # every shingle touching the hot prefix has DF ≈ n_docs > 100, so
    # the filtered universe equals the shingles of the stripped texts
    # minus the boundary shingles that straddle prefix and body; the
    # exact-dup pair must survive in both worlds
    ref = dedup.jaccard_similar_pairs(
        stripped, id_col="doc_id", text_col="text", threshold=0.9
    ).collect()
    ref_found = {(r["id_a"], r["id_b"]) for r in ref}
    assert (0, 250) in ref_found


def test_connected_components_chain_star_and_isolated(spark):
    # chain 1-2-3-4-5 (pointer-jump path case), star 10-{11,12,13},
    # two-node 20-21; ids 30.. never appear (stay out of the labeling)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (10, 10), (11, 10), (12, 10), (13, 10), (20, 20), (21, 20)}
    assert got == want


def test_connected_components_long_path_converges(spark):
    # 200-node path: diameter 199 — label propagation without pointer
    # jumping needs ~200 rounds; with it, well under max_iterations=25
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs, max_iterations=25)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}


def test_dedup_survivors_keeps_min_per_cluster_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    out = dedup.dedup_survivors(docs, pairs, id_col="doc_id").collect()
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out}
    # survivors: 0 (cluster {0,3,5}), 1 (cluster {1,2}), singletons 4,6,7
    assert rows == {0: (0, 3), 1: (1, 2), 4: (4, 1), 6: (6, 1), 7: (7, 1)}


def test_cross_doc_repetition_flags_boilerplate(spark):
    """Shared header/footer shingles must push repeated_frac up for
    every doc carrying them; a fully original doc scores 0."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.dedup import (
        cross_doc_repetition,
    )

    header = "subscribe to our newsletter for daily updates"
    rows = [
        (1, header + " alpha beta gamma delta epsilon"),
        (2, header + " zeta eta theta iota kappa"),
        (3, "completely original prose nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in cross_doc_repetition(
            df, id_col="doc_id", text_col="text", n=3, min_docs=2
        ).collect()
    }
    assert got[3]["repeated_frac"] == 0.0
    assert got[1]["repeated_frac"] > 0.3 and got[2]["repeated_frac"] > 0.3
    # the header contributes the same number of shared shingles to both
    assert got[1]["n_repeated"] == got[2]["n_repeated"]


def test_pagerank_authority_ordering_and_conservation(spark):
    """A hub pointed to by everyone must outrank every other node (at
    any iteration count); ranks are positive; nodes with equal
    in-link structure tie exactly. (No cross-iteration ordering claim:
    on cyclic funnel graphs power iteration legitimately oscillates —
    e.g. hub -> single successor hands the whole hub mass over each
    round.)"""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.graph import (
        pagerank,
    )

    # hub is a sink for a, b, c; a also links b -> b > c expected;
    # hub dangles (its mass drops, per the documented convention)
    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for iters in (3, 6):
        pr = {
            r["node"]: r["pagerank"]
            for r in pagerank(df, iterations=iters).collect()
        }
        assert pr["hub"] == max(pr.values())
        assert all(v > 0 for v in pr.values())
        assert pr["b"] > pr["c"]          # extra in-link
        assert pr["a"] == pr["c"]         # identical in-link structure


def test_pagerank_empty_edges_returns_empty(spark):
    """r5-advice regression: an empty edge list returns an empty
    (node, pagerank) frame instead of ZeroDivisionError."""
    from pyspark.sql import functions as F, types as T

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.graph import pagerank

    empty = spark.createDataFrame(
        [], T.StructType([
            T.StructField("src", T.StringType()),
            T.StructField("dst", T.StringType()),
        ])
    )
    out = pagerank(empty, iterations=3)
    assert out.columns == ["node", "pagerank"]
    assert out.count() == 0


def test_semantic_dedup_invariants(spark):
    """SemDeDup: (a) planted near-duplicate classes collapse to one
    survivor each; (b) no two survivors in the same cluster are a
    pair at/above the threshold; (c) deterministic across runs; (d)
    one output row per input row."""
    import numpy as np

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators.similarity import (
        cosine,
        semantic_dedup,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    dim = 16
    base = rng.normal(size=(40, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    dup_classes = []
    for i, v in enumerate(base):
        ids = []
        # every 4th vector gets 2 planted near-duplicates (tiny jitter)
        copies = 3 if i % 4 == 0 else 1
        for c in range(copies):
            w = v + rng.normal(scale=1e-3, size=dim)
            w /= np.linalg.norm(w)
            rows.append((vid, [float(x) for x in w]))
            ids.append(vid)
            vid += 1
        if copies > 1:
            dup_classes.append(ids)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = semantic_dedup(
        df, id_col="vec_id", vec_col="embedding", n_clusters=8,
        threshold=0.98,
    )
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # one row per input

    # planted classes: exactly one survivor, and it is the min id
    for ids in dup_classes:
        kept = [i for i in ids if got[i]["keep"]]
        assert kept == [min(ids)], (ids, kept)

    # no surviving pair >= threshold within a cluster
    surv = out.filter("keep").select("vec_id", "cluster_id").join(
        df, "vec_id"
    )
    a = surv.select(
        F.col("cluster_id"), F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
    )
    b = surv.select(
        F.col("cluster_id"), F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
    )
    viol = (
        a.join(b, "cluster_id")
        .filter(F.col("ia") < F.col("ib"))
        .filter(cosine("va", "vb") >= 0.98)
        .count()
    )
    assert viol == 0

    # deterministic
    again = {r["vec_id"]: r for r in semantic_dedup(
        df, id_col="vec_id", vec_col="embedding", n_clusters=8,
        threshold=0.98,
    ).collect()}
    assert all(
        got[k]["keep"] == again[k]["keep"]
        and got[k]["cluster_id"] == again[k]["cluster_id"]
        for k in got
    )


def test_hot_shingle_cap_preserves_non_hot_pairs(spark):
    """r11 verdict #4 skew scenario: ONE hot phrase sits in 30% of the
    corpus (Zipfian boilerplate). With max_doc_freq the hot shingles
    are dropped before the self-join, so (a) per-shingle join fan-in
    is provably <= the cap (the boundedness invariant behind the
    task-time claim — work per shingle <= cap^2), and (b) pairs whose
    BOTH docs lack the hot phrase are value-identical to the uncapped
    run (the cap only re-scopes jaccard for docs containing dropped
    shingles — the documented filtered-universe semantics)."""
    import numpy as np

    rng = np.random.default_rng(41)
    vocab = [f"tok{i}" for i in range(3000)]
    n_docs = 600
    base = [" ".join(rng.choice(vocab, 14, replace=True)) for _ in range(n_docs)]
    hot = "terms of service apply"
    hot_ids = set(range(0, n_docs, 3))  # 30%… every 3rd doc < 34%
    texts = [f"{t} {hot}" if i in hot_ids else t for i, t in enumerate(base)]
    # plant a non-hot near-dup pair (1, 601-copy) to guarantee signal
    texts.append(texts[1])
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf).repartition(8)

    from pyspark.sql import functions as F

    CAP = 50
    capped = dedup.jaccard_similar_pairs(
        sdf, id_col="doc_id", text_col="text", threshold=0.8, max_doc_freq=CAP
    ).collect()
    uncapped = dedup.jaccard_similar_pairs(
        sdf, id_col="doc_id", text_col="text", threshold=0.8
    ).collect()

    non_hot = {i for i in range(len(texts)) if i not in hot_ids}
    non_hot.add(len(texts) - 1)
    cap_nh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped
              if r["id_a"] in non_hot and r["id_b"] in non_hot}
    unc_nh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped
              if r["id_a"] in non_hot and r["id_b"] in non_hot}
    assert (1, len(texts) - 1) in cap_nh  # the planted pair survives
    assert cap_nh == unc_nh  # non-hot portion unchanged, values too

    # boundedness invariant: every shingle surviving the cap has
    # doc-frequency <= CAP, and the hot shingles really were hot
    idx = (
        dedup.exploded_shingle_hashes(sdf, id_col="doc_id", text_col="text", n=3)
        .distinct()
        .groupBy("shingle")
        .count()
    )
    assert idx.agg(F.max("count")).first()[0] > CAP  # scenario is real
    surviving = idx.filter(F.col("count") <= CAP)
    assert surviving.agg(F.max("count")).first()[0] <= CAP


# ---------------------------------------------------------------- #
# substring-span dedup (Lee et al. 2022, r12)                       #
# ---------------------------------------------------------------- #

def _span_corpus(spark):
    """Planted-span corpus: a 12-token boilerplate block B shared by
    docs 1 and 2 at different offsets, an all-unique doc 3, a doc 4
    repeating its own 9-token phrase twice (within-doc duplication
    counts, as in the paper), a fully-duplicated pair 5/6, and a
    short (<k) duplicated pair 7/8. Filler tokens are globally unique
    so no accidental 8-gram can match."""
    B = " ".join(f"boiler{i}" for i in range(12))
    P = " ".join(f"phrase{i}" for i in range(9))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, f"{uniq('a', 10)} {B} {uniq('b', 6)}"),
        (2, f"{uniq('c', 4)} {B} {uniq('d', 11)}"),
        (3, uniq("e", 30)),
        (4, f"{uniq('f', 9)} {P} {uniq('g', 9)} {P} {uniq('h', 3)}"),
        (5, f"{uniq('i', 20)} shared tail"),
        (6, f"{uniq('i', 20)} shared tail"),  # exact dup of 5
        (7, "tiny doc here"),
        (8, "tiny doc here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicated_spans_locates_planted_boilerplate(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    sdf = _span_corpus(spark)
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.duplicated_spans(
            sdf, id_col="doc_id", text_col="text", k=8
        ).collect()
        if r["doc_id"] in (1, 2, 3)
    }
    # doc 1: B occupies token positions [10, 22); doc 2: [4, 16).
    # Marked 8-gram starts are exactly the windows inside B, so the
    # merged span must be the boilerplate interval itself.
    assert spans[1] == (10, 22, 12)
    assert spans[2] == (4, 16, 12)
    assert 3 not in spans  # all-unique doc has no span


def test_duplicated_spans_within_doc_and_short_docs(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    sdf = _span_corpus(spark)
    out = dedup.duplicated_spans(sdf, id_col="doc_id", text_col="text", k=8)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    # doc 4: P at [9, 18) and [27, 36) — two separate spans (gap of 9
    # unique tokens > k), both occurrences marked
    assert sorted(by_doc[4]) == [(9, 18), (27, 36)]
    # docs 5/6: fully duplicated -> whole-doc span [0, 22)
    assert by_doc[5] == [(0, 22)] and by_doc[6] == [(0, 22)]
    # docs 7/8: shorter than k -> the clamped whole-doc gram dups,
    # span_end clamps to the token count
    assert by_doc[7] == [(0, 3)] and by_doc[8] == [(0, 3)]


def test_remove_duplicated_spans_cuts_only_the_spans(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    sdf = _span_corpus(spark)
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicated_spans(
            sdf, id_col="doc_id", text_col="text", k=8
        ).collect()
    }
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    # doc 1 keeps prose + tail with the boilerplate cut
    assert out[1]["clean_text"] == f"{uniq('a', 10)} {uniq('b', 6)}"
    assert out[1]["n_removed"] == 12
    # untouched doc passes through normalized, nothing removed
    assert out[3]["clean_text"] == uniq("e", 30)
    assert out[3]["n_removed"] == 0
    # fully-duplicated docs come back EMPTY, not missing
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 22
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8}


def test_duplicated_spans_partitioning_invariant(spark):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    sdf = _span_corpus(spark)
    a = sorted(
        map(tuple, dedup.duplicated_spans(
            sdf, id_col="doc_id", text_col="text", k=8).collect())
    )
    b = sorted(
        map(tuple, dedup.duplicated_spans(
            sdf.repartition(7), id_col="doc_id", text_col="text", k=8
        ).collect())
    )
    assert a == b and len(a) > 0


def test_duplicated_spans_null_text_yields_no_phantom_spans(spark):
    """r12 review: greatest(NULL-k, 1) used to manufacture one gram
    per NULL-text doc, and xxhash64 of an all-NULL slice is a non-NULL
    constant — so two NULL docs 'duplicated' each other and emitted
    phantom (0, 8, 8) spans the string-keyed oracle never produces.
    NULL text must yield no grams, no spans, and a scrub pass-through
    row (not a dropped doc)."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    rows = [
        (1, None),
        (2, None),
        (3, "real duplicated content block one two three four five"),
        (4, "real duplicated content block one two three four five"),
        # r13 advice: empty/whitespace-only text tokenizes to ['']
        # on BOTH engines, so two empty docs would mutually
        # "duplicate" via the constant empty-slice gram hash — a
        # phantom the oracle gate cannot catch because both engines
        # agree. Must behave exactly like NULL text: no grams, no
        # spans, scrub pass-through.
        (5, ""),
        (6, "   \t  "),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.duplicated_spans(sdf, id_col="doc_id", text_col="text", k=8)
    got = {r["doc_id"] for r in spans.collect()}
    # NULL and empty docs emit nothing; real dups still found
    assert got == {3, 4}

    scrub = {
        r["doc_id"]: r
        for r in dedup.remove_duplicated_spans(
            sdf, id_col="doc_id", text_col="text", k=8
        ).collect()
    }
    # NULL + empty docs kept, not dropped
    assert set(scrub) == {1, 2, 3, 4, 5, 6}
    assert scrub[1]["clean_text"] == "" and scrub[1]["n_removed"] is None
    assert scrub[3]["clean_text"] == "" and scrub[3]["n_removed"] == 9
    # empty text: tokenize('') = [''] (1 token), nothing removed
    assert scrub[5]["clean_text"] == "" and scrub[5]["n_removed"] == 0
    assert scrub[6]["clean_text"] == "" and scrub[6]["n_removed"] == 0


def test_token_window_refactor_plan_identity(spark):
    """r13 shared-helper refactor (_token_window_rows): the benched
    shingle plans must provably not move. Re-build the pre-refactor
    inline shape of exploded_shingle_hashes / exploded_shingles here
    and assert the OPTIMIZED PLAN of the refactored functions is
    identical (string compare after expr-id normalization). The
    inline shapes carry the later NULL-text guard (a NULL word array
    explodes no window), the one intended change to these plans."""
    import re

    from pyspark.sql import functions as F

    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import dedup

    sdf = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g")], "doc_id long, text string"
    )

    def legacy_hashes(df, *, id_col, text_col, n):
        staged = df.select(
            F.col(id_col).alias("id"), dedup.tokenize(text_col).alias("__w")
        )
        idx = F.explode(F.when(
            F.col("__w").isNotNull(),
            F.sequence(F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1))),
        ))
        return staged.select("id", "__w", idx.alias("__i")).select(
            "id", F.xxhash64(F.slice("__w", F.col("__i"), n)).alias("shingle")
        )

    def legacy_strings(df, *, id_col, text_col, n):
        staged = df.select(
            F.col(id_col).alias("id"), dedup.tokenize(text_col).alias("__w")
        )
        idx = F.explode(F.when(
            F.col("__w").isNotNull(),
            F.sequence(F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1))),
        ))
        return staged.select("id", "__w", idx.alias("__i")).select(
            "id", F.concat_ws(" ", F.slice("__w", F.col("__i"), n)).alias("shingle")
        )

    def norm_plan(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#X", plan)

    assert norm_plan(
        dedup.exploded_shingle_hashes(sdf, id_col="doc_id", text_col="text", n=3)
    ) == norm_plan(legacy_hashes(sdf, id_col="doc_id", text_col="text", n=3))
    assert norm_plan(
        dedup.exploded_shingles(sdf, id_col="doc_id", text_col="text", n=3)
    ) == norm_plan(legacy_strings(sdf, id_col="doc_id", text_col="text", n=3))


def test_duplicated_spans_hot_gram_stays_linear(spark):
    """r13 verdict task #1 skew scenario for the substring-span family
    (mirror of test_hot_shingle_cap_preserves_non_hot_pairs): ONE
    boilerplate block sits in 30% of the corpus. The linearity claim
    behind the 100 TB story is that duplicated_spans has NO pair
    stage: the dup side of its semi-join is DISTINCT on the gram key,
    so a gram shared by 30% of documents multiplies each of its
    positions by exactly 1 — never by its document frequency.

    Asserts (a) correctness under skew: every hot doc's span is
    exactly the planted block's [start, end) at its per-doc offset and
    non-hot docs emit nothing; (b) the structural invariant: the
    number of marked positions equals the number of positioned grams
    whose corpus count >= 2 (computed independently) — i.e. join
    output is linear in corpus positions; and (c) the dup frame's
    cardinality equals the INDEPENDENTLY-counted number of distinct
    duplicated grams (window count over the raw gram stream), so a
    future non-distinct dup side cannot slip through."""
    import numpy as np

    from pyspark.sql import Window, functions as F

    rng = np.random.default_rng(13)
    vocab = [f"tok{i}" for i in range(30000)]
    n_docs = 600
    K = 8
    # 14 unique filler tokens per doc, drawn from a wide vocab so no
    # accidental 8-gram repeats; the hot block is 12 tokens (one
    # maximal span of 5 gram starts per hot doc)
    base = [" ".join(rng.choice(vocab, 14, replace=False)) for _ in range(n_docs)]
    hot = " ".join(f"boiler{i}" for i in range(12))
    hot_ids = set(range(0, n_docs, 3))  # 30%
    texts = [f"{t} {hot}" if i in hot_ids else t for i, t in enumerate(base)]
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(8)

    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dedup.duplicated_spans(
            sdf, id_col="doc_id", text_col="text", k=K
        ).collect()
    }
    # (a) exactly the hot docs, exactly the planted block [14, 26)
    assert set(spans) == hot_ids
    assert all(v == (14, 26) for v in spans.values())

    # (b)+(c) linearity invariants on the operator's own stages
    grams = dedup.positioned_gram_hashes(
        sdf, id_col="doc_id", text_col="text", k=K
    )
    dup = (
        grams.groupBy("gram").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    n_dup_grams = dup.count()
    # (c) independent distinct-dup-gram count via a window over the
    # raw gram stream — would catch a dup side that stopped being
    # distinct on the key
    with_c = grams.withColumn(
        "c", F.count("*").over(Window.partitionBy("gram"))
    ).filter(F.col("c") >= 2)
    assert n_dup_grams == with_c.select("gram").distinct().count()
    marked = grams.join(dup.select("gram"), "gram")
    # (b) independent linear expectation: positions whose gram count >= 2
    expect = with_c.count()
    got = marked.count()
    assert got == expect
    # the hot block contributes (12 - 8 + 1) gram positions per hot
    # doc and nothing else repeats: fully determined
    assert got == len(hot_ids) * (12 - K + 1)


def test_token_free_docs_pair_only_each_other(spark):
    """r14 advisor ruling, pinned: in the set-similarity family,
    EMPTY/whitespace-only documents are exact duplicates of EACH
    OTHER — identical (empty) token streams keyed by the shared
    clamped-window constant gram — and never pair with any document
    that has tokens; NULL-text documents emit NO token windows at all
    (the explode is guarded on a non-NULL word array), so they appear
    in no pair whatsoever — not even with each other, in either MinHash
    hash family.  (Contrast the span family, where the same clamped
    constant gram was a bug — phantom overlap spans at positions inside
    nonexistent text — and is filtered with drop_null_empty=True.)"""
    rows = [
        (0, None),
        (1, ""),
        (2, "   \t "),
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "alpha beta gamma delta epsilon zeta"),  # real dup of 3
        (5, "totally different words in this document here"),
        (6, None),
    ]
    sdf = spark.createDataFrame(rows, "doc_id int, text string")

    empty_pairs = {(1, 2)}  # NULL docs 0 and 6 emit no windows -> no pairs

    jac = dedup.jaccard_similar_pairs(
        sdf, id_col="doc_id", text_col="text", threshold=0.8
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac}
    assert set(found) == empty_pairs | {(3, 4)}
    assert all(j == 1.0 for j in found.values())

    for family in ("xx64", "md5"):
        mh = dedup.minhash_dedup_pairs(
            sdf, id_col="doc_id", text_col="text",
            num_hashes=16, bands=4, threshold=0.8, hash_family=family,
        ).collect()
        mh_found = {(r["id_a"], r["id_b"]) for r in mh}
        assert mh_found == empty_pairs | {(3, 4)}, family


def _jaccard_reference(docs, *, n, threshold, max_doc_freq=None):
    """Pure-Python exact Jaccard over string-tuple shingles: normalize
    (lowercase, collapse whitespace, strip), split on single spaces,
    one window per start with the short-document clamp (a document of
    fewer than ``n`` tokens is one window; an empty or whitespace-only
    one is the single ``('',)`` shingle); NULL text has no windows."""
    import re

    sets = {}
    for i, text in docs:
        if text is None:
            continue
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        sets[i] = {
            tuple(toks[s:s + n]) for s in range(max(len(toks) - n + 1, 1))
        }
    if max_doc_freq is not None:
        df = {}
        for sh in sets.values():
            for g in sh:
                df[g] = df.get(g, 0) + 1
        sets = {i: {g for g in sh if df[g] <= max_doc_freq} for i, sh in sets.items()}
    out = set()
    for a in sets:
        for b in sets:
            common = len(sets[a] & sets[b])
            if a < b and common:
                jac = common / (len(sets[a]) + len(sets[b]) - common)
                if jac >= threshold:
                    out.add((a, b, jac))
    return out


@pytest.mark.parametrize("max_doc_freq", [None, 20])
def test_jaccard_matches_python_reference(spark, max_doc_freq):
    """``jaccard_similar_pairs`` against :func:`_jaccard_reference` on
    40 documents: NULL, empty and whitespace-only text, short
    documents, an exact duplicate (up to case and spacing), a
    near-duplicate, and a hot phrase in 30 documents. The cutoff of
    20 drops the hot phrase's shingles; the (id_a, id_b, jaccard) rows
    must match exactly either way."""
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(60)]
    hot = "alpha beta gamma delta"
    docs = [
        (i, (hot + " " if i < 30 else "") + " ".join(rng.choice(vocab, 8)))
        for i in range(32)
    ]
    docs += [
        (32, None), (33, None), (34, ""), (35, "  \t "),
        (36, "Short"), (37, "short  DOC"), (38, "short doc"),
        (39, "  " + docs[3][1].upper() + "\n"),  # exact dup of doc 3
    ]
    words = docs[4][1].split()
    docs[5] = (5, " ".join(words[:-1] + ["mutated"]))  # near-dup of doc 4
    sdf = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.jaccard_similar_pairs(
            sdf, id_col="doc_id", text_col="text", n=3, threshold=0.1,
            max_doc_freq=max_doc_freq,
        ).collect()
    }
    want = _jaccard_reference(docs, n=3, threshold=0.1, max_doc_freq=max_doc_freq)
    assert got == want
    assert (3, 39, 1.0) in want and (34, 35, 1.0) in want and (37, 38, 1.0) in want
    assert any(a == 4 and b == 5 for a, b, _ in want)
    assert not any(32 in (a, b) or 33 in (a, b) for a, b, _ in want)
