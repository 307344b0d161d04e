"""Text-analysis operators for training-data pipelines (north-star
family): token counting, quality scoring, language ID, document
fingerprinting. All pure column expressions (JVM, codegen); the
sentiment/embedding *model* UDFs live in :mod:`..functions` stubs —
these are the model-free statistical ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hof import bind_array, materialize_once
from .dedup import normalize_text, tokenize

# Minimal per-language stopword markers for the n-gram/stopword-ratio
# language heuristic. Deliberately tiny + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "en"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "zu"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est"),
}


def bpe_ish_tokens(col: Column | str) -> Column:
    """Sub-word-ish tokenization: split on word boundaries AND keep
    punctuation/digit runs as their own tokens (a BPE-flavored regex
    proxy for token counting without a vocab)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), r"(?=[^\p{L}\p{N}])|(?<=[^\p{L}\p{N}])"),
        lambda t: (t != "") & (t != " "),
    )


def token_count(col: Column | str, *, bpe: bool = False) -> Column:
    return F.size(bpe_ish_tokens(col) if bpe else tokenize(col))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length, word stats, punctuation /
    digit / uppercase / stopword ratios, plus a [0,1] composite
    ``quality_score``. Mirrors the C4/Gopher-style cheap filters."""
    c = F.col(text_col)
    n_chars = F.length(c)
    # token-derived stats behind ONE barrier-materialized struct: the
    # tokenize tree is referenced by four output columns, and without
    # the barrier each reference re-runs it per row (hof.py)
    tok_st = bind_array(
        tokenize(c),
        lambda ws: F.struct(
            F.size(ws).alias("nw"),
            F.when(
                F.size(ws) > 0,
                F.aggregate(ws, F.lit(0.0), lambda acc, t: acc + F.length(t))
                / F.size(ws).cast("double"),
            ).alias("awl"),
            F.size(
                F.filter(ws, lambda t: t.isin(*LANG_MARKERS["en"]))
            ).alias("stop"),
        ),
    )
    df = materialize_once(df, tok_st, "__q_st")
    n_words = F.col("__q_st")["nw"]
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    n_upper = F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    df = (
        df.withColumn("n_chars_text", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("avg_word_len", F.col("__q_st")["awl"])
        .withColumn("punct_ratio", n_punct / F.nullif(n_chars.cast("double"), F.lit(0.0)))
        .withColumn("digit_ratio", n_digit / F.nullif(n_chars.cast("double"), F.lit(0.0)))
        .withColumn("upper_ratio", n_upper / F.nullif(n_chars.cast("double"), F.lit(0.0)))
        .withColumn(
            "stopword_ratio",
            F.col("__q_st")["stop"] / F.nullif(n_words.cast("double"), F.lit(0.0)),
        )
        .drop("__q_st")
    )
    # composite: long enough, word-shaped, not punctuation/digit soup
    score = (
        F.least(F.col("n_words") / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.when((F.col("avg_word_len") >= 3) & (F.col("avg_word_len") <= 12), 0.3).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.15).otherwise(0.0)
        + F.when(F.col("digit_ratio") <= 0.2, 0.15).otherwise(0.0)
    )
    return df.withColumn("quality_score", score.cast("double"))


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Language ID by stopword-marker ratio argmax; 'und' when no
    marker hits (e.g. non-Latin scripts not in the marker table).

    All per-language ratios are computed inside ONE bound lambda and
    materialized behind a Generate barrier: the argmax chain
    references every score ~L times (greatest + one when per
    language), which without the barrier duplicates the tokenize tree
    O(L²) times per row — ~40 copies at 6 languages (hof.py)."""

    # single-parameter closure factory: PySpark passes (element, index)
    # to two-parameter lambdas in F.filter, which would clobber a
    # default-bound marker tuple (round-1 crash).
    def marker_filter(markers: tuple[str, ...]):
        return lambda t: t.isin(*markers)

    langs = list(LANG_MARKERS)

    def body(ws: F.Column) -> F.Column:
        n = F.nullif(F.size(ws).cast("double"), F.lit(0.0))
        return F.struct(
            *[
                (F.size(F.filter(ws, marker_filter(markers))) / n).alias(lang)
                for lang, markers in LANG_MARKERS.items()
            ]
        )

    df = materialize_once(
        df, bind_array(tokenize(text_col), body), "__lang_st"
    )
    scores = {lang: F.col("__lang_st")[lang] for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return df.withColumn(out, F.when(best > 0, pred).otherwise(F.lit("und"))) \
        .drop("__lang_st")


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard context-window prep before LLM pretraining / embedding.
    Output grain: one row per (doc, chunk) with ``chunk_id`` (0-based),
    ``chunk_text`` and ``n_tokens``.

    Pure projection + explode — ZERO exchanges, so chunking 100 TB
    costs one read. Chunk starts step by ``chunk_tokens - overlap``;
    the final chunk may be short but never starts beyond
    ``n - overlap`` (no pure-overlap tail chunks). Short docs yield
    exactly one chunk."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap

    # bind the token array once per row: referencing the tokenize
    # EXPRESSION from the per-chunk lambda would re-run it per chunk
    # (functions/hof.py)
    def body(ws: F.Column) -> F.Column:
        n = F.size(ws)
        starts = F.sequence(
            F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(step)
        )
        return F.transform(
            starts,
            lambda s: F.struct(
                ((s - 1) / F.lit(step)).cast("int").alias("chunk_id"),
                F.concat_ws(" ", F.slice(ws, s, chunk_tokens)).alias("chunk_text"),
                F.least(F.lit(chunk_tokens), n - s + 1).alias("n_tokens"),
            ),
        )

    chunks = bind_array(tokenize(text_col), body)
    return df.select(
        F.col(id_col), F.explode(chunks).alias("__c")
    ).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        F.col("__c.n_tokens").alias("n_tokens"),
    )


def repetition_stats(
    df: DataFrame, *, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition signal (Gopher/C4-style filter): the
    fraction of duplicate word n-grams. High ``dup_ngram_ratio`` marks
    boilerplate/spam/generated loops. Pure column expressions — no
    explode, no shuffle: the n-gram set is built and deduplicated
    per-row with array functions."""
    # stats computed inside ONE bound lambda so the tokenize runs once
    # per row, not once per n-gram (functions/hof.py)
    def body(ws: F.Column) -> F.Column:
        tot = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(0))
        grams = F.when(
            tot > 0,
            F.transform(
                F.sequence(F.lit(1), F.greatest(tot, F.lit(1))),
                lambda s: F.concat_ws(" ", F.slice(ws, s, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            tot.alias("t"), F.size(F.array_distinct(grams)).alias("d")
        )

    st = bind_array(tokenize(text_col), body)
    # Generate barrier: the struct is consumed by three columns (and
    # typically a filter on the ratio) — without it each reference
    # re-evaluates the whole tokenize+ngram+distinct tree (hof.py)
    df = materialize_once(df, st, "__rep_st")
    total = F.col("__rep_st")["t"]
    distinct = F.col("__rep_st")["d"]
    return (
        df.withColumn("n_ngrams", total)
        .withColumn("n_distinct", distinct)
        .withColumn(
            "dup_ngram_ratio",
            F.when(
                total > 0,
                F.lit(1.0) - distinct.cast("double") / total.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__rep_st")
    )


# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB) — no lookarounds, no backrefs — so oracle SQL can
# embed the very same strings.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"


def scrub_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """PII/boilerplate scrub: redact URLs then emails to placeholder
    tokens, collapse whitespace, and count the redactions (the counts
    feed quality filters — a doc that is mostly links is boilerplate).
    Pure projection; order matters (URLs can contain email-shaped
    substrings, so they are redacted first)."""
    c = F.col(text_col)
    n_urls = F.size(F.regexp_extract_all(c, F.lit(URL_PATTERN), F.lit(0)))
    t1 = F.regexp_replace(c, URL_PATTERN, "<URL>")
    n_emails = F.size(F.regexp_extract_all(t1, F.lit(EMAIL_PATTERN), F.lit(0)))
    t2 = F.regexp_replace(t1, EMAIL_PATTERN, "<EMAIL>")
    clean = F.trim(F.regexp_replace(t2, r"\s+", " "))
    return (
        df.withColumn("n_urls", n_urls)
        .withColumn("n_emails", n_emails)
        .withColumn(out_col, clean)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: "list[str]",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query — the
    retrieval step of query-targeted corpus curation ("find the docs
    about X in 100 TB"). Returns ``(id, n_hit_terms, bm25)`` for
    documents matching >= 1 term.

    Shape: explode words -> filter to the query terms (pushes the
    vocabulary filter into the narrow stage; everything else operates
    on matching postings only) -> one (doc, term) aggregate -> two
    BROADCAST joins for the corpus statistics (per-term document
    frequency and the global (N, avgdl) scalar row — both tiny by
    construction) -> per-doc sum. Two data shuffles total regardless
    of corpus size; never a full-vocabulary index."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # tokenize once: size() lives in a Project and explode() in a
    # Generate — separate operators, so codegen subexpression
    # elimination cannot share the tokenize tree between them (hof.py)
    base = materialize_once(df, tokenize(text_col), "__ws").select(
        F.col(id_col).alias("id"),
        F.size("__ws").alias("__dl"),
        F.explode("__ws").alias("__w"),
    ).filter(F.col("__w").isin(*query_terms))
    tf = base.groupBy("id", "__w").agg(
        F.count("*").alias("__tf"), F.first("__dl").alias("__dl")
    )
    dfreq = tf.groupBy("__w").agg(F.count("*").alias("__df"))
    stats = df.select(
        F.count("*").alias("__n"),
        F.avg(F.size(tokenize(text_col))).alias("__avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    term_score = idf * F.col("__tf") / (
        F.col("__tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "__w")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.sum(term_score).alias("bm25"),
        )
        .withColumnRenamed("id", id_col)
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (content-defined identity for exact dedup / incremental ingest)."""
    return F.md5(normalize_text(col).cast("binary"))


def rolling_hash_fingerprint(col: Column | str, window: int = 8) -> Column:
    """Winnowing-style fingerprint: min over rolling word-window
    hashes — robust to local edits (document-level signature). Each
    window hashes to the first 60 bits of its md5 as a BIGINT, which
    any engine with md5 reproduces."""

    # bound lambda: one tokenize per row, not one per window
    def body(ws: Column) -> Column:
        k = F.greatest(F.size(ws) - F.lit(window - 1), F.lit(1))
        return F.array_min(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.conv(
                    F.substring(F.md5(F.concat_ws(" ", F.slice(ws, i, window))), 1, 15),
                    16, 10,
                ).cast("long"),
            )
        )

    return bind_array(tokenize(col), body)


def bigram_lm_train_score(
    docs: DataFrame,
    *,
    train_filter: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram-LM quality score (the CCNet/KenLM-style cheap signal,
    model-free), trained on a subset and scored over every document —
    the common corpus-curation shape (train on a clean half, score
    all). The model is add-alpha bigram counts over the documents that
    pass ``train_filter`` (all of them when it is ``None``); each
    document's score is its mean ``ln((c(w1,w2)+a) / (c(w1)+a*V))``
    over its bigrams, where ``V`` is the number of distinct training
    tokens (low = unusual text: boilerplate, garbled OCR, wrong
    language). Documents with fewer than 2 tokens have no bigrams and
    drop out. Returns ``(id_col, n_bigrams, avg_logp)``.

    The corpus is tokenized and exploded ONCE: the instance-grain
    ``(id, w1, w2)`` frame is ``localCheckpoint``-pinned and both the
    model aggregates and the scorer derive from it (the scan + explode
    is the dominant map-side cost; the checkpoint row is 24 bytes).
    The TOKEN array is hashed with ``xxhash64`` before pairing, so
    each token is hashed once and the pair explode, the count shuffle
    and the scorer's joins move int64 keys, not strings; only key
    equality matters to the counts and the smoothing formula, so
    scores equal string keys' absent a 2^-64 collision. Pairs are
    ``zip_with(hs, hs[2:])`` over the bound hash array (lambdas bind
    ELEMENT variables, so nothing re-tokenizes per element); the zip's
    null tail pads to ``(last_hash, NULL)``, which keeps every token
    in the w1 column, so the vocabulary size comes from the
    bigram-count table instead of a second pass over the corpus.

    The model joins are left UNHINTED on purpose: the count tables are
    vocab²-bounded and AQE's runtime stats broadcast them when they
    fit (measured 89k bigram types at the 15M-doc tier — both joins go
    broadcast, zero probe shuffles), degrading to shuffled joins only
    when a huge vocabulary actually warrants it. NOTE a pre-partition-by-w1 scheme (one
    upfront exchange serving every downstream clustering requirement)
    was prototyped and REJECTED: Dataset.localCheckpoint does not
    propagate outputPartitioning in this build, and without the
    checkpoint the shared scan re-executes per job (4.6 s vs 3.5 s at
    the 1.5M-doc tier).
    """
    hashed = F.transform(tokenize(text_col), lambda t: F.xxhash64(t))
    pairs = bind_array(hashed, lambda hs: F.zip_with(
        hs,
        F.slice(hs, 2, F.greatest(F.size(hs) - 1, F.lit(1))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    ))
    bg_all = docs.select(
        F.col(id_col), F.explode(pairs).alias("b")
    ).select(id_col, "b.w1", "b.w2")
    # one tokenize pass feeds train aggregates AND the scorer, which
    # execute as separate jobs — pin it (ReuseExchange is job-local)
    bg_all = bg_all.localCheckpoint(eager=False)
    train_bg = bg_all if train_filter is None else bg_all.filter(train_filter)
    c2_all = (
        train_bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    vocab = c2_all.agg(F.count_distinct("w1").alias("vs"))
    c2 = c2_all.filter(F.col("w2").isNotNull())
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        bg_all.filter(F.col("w2").isNotNull())
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("vs"))
            ).alias("__logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("__logp").alias("avg_logp"),
    )


# HTML entity decode table, applied AFTER tag stripping; '&amp;' must
# decode LAST so '&amp;lt;' yields the literal text '&lt;' (single
# decode), matching the standard entity-decode contract.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_to_text(col: Column | str) -> Column:
    """Crawl-pipeline HTML -> text: drop script/style payloads and
    comments, strip tags, decode the common entities, collapse
    whitespace. Pure column expressions, zero exchanges — cleaning a
    100 TB crawl costs exactly one read.

    Patterns are deliberately RE2-compatible (no backreferences:
    script and style get separate alternatives instead of
    ``<(script|style)>.*?</\\1>``) so a DuckDB/RE2 oracle evaluates
    the identical regexes; same discipline as :func:`scrub_text`."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# Extended PII patterns (RE2/Java-compatible: no backreferences or
# lookbehind). Phone deliberately requires separators/prefix context
# so plain 7-10 digit integers (ids, years) don't false-positive.
PHONE_PATTERN = r"\+?\d{1,3}[-. (]{1,2}\d{3}[-. )]{1,2}\d{3}[-. ]?\d{2,4}"
IPV4_PATTERN = (
    r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b"
)
CREDIT_CARD_PATTERN = r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"


def scrub_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Full PII sweep: URLs, emails, phone numbers, IPv4 addresses,
    and 16-digit card numbers redacted to typed placeholder tokens,
    with per-category counts (the counts feed filter policy — a doc
    that is mostly contact info is a directory page, not prose).

    Extends :func:`scrub_text` (URL+email only, kept frozen for its
    registry query) — same ordering discipline: URLs first (they can
    contain email/phone-shaped substrings), then emails, then cards
    BEFORE phones (a card number's 4-4-4-4 shape would otherwise
    half-match the phone pattern), then IPs. Pure projection, zero
    exchanges."""
    c = F.col(text_col)
    out = df
    stages = [
        ("n_urls", URL_PATTERN, "<URL>"),
        ("n_emails", EMAIL_PATTERN, "<EMAIL>"),
        ("n_cards", CREDIT_CARD_PATTERN, "<CARD>"),
        ("n_phones", PHONE_PATTERN, "<PHONE>"),
        ("n_ips", IPV4_PATTERN, "<IP>"),
    ]
    cur = c
    for cnt_col, pat, token in stages:
        out = out.withColumn(
            cnt_col, F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        )
        nxt = F.regexp_replace(cur, pat, token)
        cur = nxt
    return out.withColumn(out_col, F.trim(F.regexp_replace(cur, r"\s+", " ")))


def token_entropy_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical-diversity quality signals: unigram Shannon entropy (in
    nats) over the doc's token frequency distribution, distinct-token
    count, and type-token ratio. Low entropy at non-trivial length =
    keyword stuffing / generated boilerplate / log spam — the cheap
    proxy for the compression-ratio filters in Gopher-style pipelines.

    Scale shape: token explode (the doc's word array rides one
    projection, so the (doc, token) count completes its partial
    map-side — same property as :func:`..dedup.exploded_shingles`),
    then one per-doc aggregate computing H = ln(n) - sum(c*ln(c))/n
    from the raw counts — a single pass, no per-token probability
    column needed. Docs with zero tokens drop out."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("__t")
    )
    counts = toks.groupBy(id_col, "__t").agg(F.count("*").alias("__c"))
    n = F.sum("__c")
    return (
        counts.groupBy(id_col)
        .agg(
            n.cast("long").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            (
                F.log(n.cast("double"))
                - F.sum(F.col("__c").cast("double") * F.log(F.col("__c").cast("double"))) / n
            ).alias("token_entropy"),
        )
        .withColumn(
            "type_token_ratio",
            F.col("n_distinct") / F.col("n_tokens").cast("double"),
        )
    )


def render_chat(
    df: DataFrame,
    *,
    prompt_col: str,
    completion_col: str,
    system: str | None = None,
    out_col: str = "rendered",
) -> DataFrame:
    """Render (prompt, completion) rows into a single training string
    under a fixed chat template — the SFT-export step that turns
    curated rows into tokenizer-ready text. Template markers follow
    the common ``<|role|>`` convention; swap the literals for the
    target tokenizer's special tokens at fine-tune time.

    Pure projection (zero exchanges); deterministic, so the rendered
    corpus is reproducible and exact-dedupable downstream."""
    parts = []
    if system is not None:
        parts += [F.lit(f"<|system|>\n{system}\n")]
    parts += [
        F.lit("<|user|>\n"), F.col(prompt_col),
        F.lit("\n<|assistant|>\n"), F.col(completion_col), F.lit("<|end|>"),
    ]
    rendered = F.concat(*parts)
    return df.withColumn(out_col, rendered).withColumn(
        f"{out_col}_chars", F.length(rendered)
    )
