"""Deduplication operators for large-scale training-data pipelines
(BASELINE.json north-star; beyond the reference's surface, which only
has id-set dedup — ``news_adapter.py:139,153-156``).

Five tiers, each fully distributed:

- :func:`exact_dedup` — hash-groupBy on content columns.
- :func:`jaccard_similar_pairs` — exact n-gram Jaccard via
  shingle-inverted-index self-join (the candidate generation only
  materializes co-shingled pairs, never the n² grid).
- :func:`minhash_dedup_pairs` — MinHash+LSH banding: shingles ->
  minhash signature (k permutations) -> band buckets -> bucket
  equi-join; candidates verified with signature agreement. Scales as
  O(docs × k) + join on band keys.
- :func:`simhash_near_pairs` — 63-bit SimHash with per-bit majority
  vote over per-token md5 hashes; near-dups = same prefix block and
  small Hamming distance.
- :func:`embedding_near_pairs` (in :mod:`.similarity`) — cosine tier:
  exact pairs from a NumPy kernel over a broadcast corpus.

Shingle keys and content keys use ``xxhash64`` (JVM built-in,
deterministic across the cluster). MinHash has two hash families
(:func:`minhash_signatures`): ``xx64``, a pure-JVM aggregate that
backs the incremental store, and the portable ``md5`` family the
registry and its DuckDB oracle share; SimHash uses md5 only. The one
Python-boundary stage is the md5-family signature run-min (vectorized
NumPy over Arrow batches, exact int64 arithmetic — see
:func:`_md5_signatures_from_staged`), which outruns the 64-MIN JVM
aggregate both in Catalyst planning and per-row execution.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, strip — shared by every dedup
    tier so near-dup definitions agree."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    *,
    tiebreak_col: str,
    strategy: str = "window",
) -> DataFrame:
    """Keep exactly one row (min tiebreak, ties broken by row_number)
    per distinct content — a single shuffle on the content hash.
    ``row_number`` (not a min-semi-join) guarantees one survivor even
    when rows tie on the tiebreak column, and every other *orderable*
    column joins the sort as a secondary key so the survivor is
    deterministic across runs even then (ADVICE r2: a tiebreak tie
    previously picked an arbitrary row, which breaks hash-compared
    reruns).

    ``strategy="agg"`` expresses the same survivor choice as one
    ``min_by(struct(row), struct(tiebreak, *secondary))`` hash
    AGGREGATE instead of a row_number window. Aggregates get a
    map-side PARTIAL combine, so duplicate rows co-located in a scan
    partition collapse BEFORE the exchange — on replica-heavy corpora
    (crawl snapshots, mirrored dumps) the shuffle ships unique keys,
    not raw rows, and the reduce side needs no sort. Same survivor as
    the window tier whenever no ordering column is NULL (struct
    comparison ranks NULLs first; the window tier sorts them last) —
    callers opt in where tiebreak keys are non-null."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    key = F.xxhash64(*[normalize_text(c) for c in content_cols])
    unorderable = (T.MapType,)
    sec_names = [
        f.name
        for f in df.schema.fields
        if f.name != tiebreak_col and not isinstance(f.dataType, unorderable)
    ]
    if strategy == "agg":
        ord_key = F.struct(F.col(tiebreak_col), *[F.col(c) for c in sec_names])
        row = F.struct(*[F.col(f.name) for f in df.schema.fields])
        return (
            df.withColumn("__content_key", key)
            .groupBy("__content_key")
            .agg(F.min_by(row, ord_key).alias("__surv"))
            .select("__surv.*")
        )
    if strategy != "window":
        raise ValueError(f"unknown strategy: {strategy!r}")
    secondary = [F.col(c).asc_nulls_last() for c in sec_names]
    w = Window.partitionBy("__content_key").orderBy(
        F.col(tiebreak_col).asc_nulls_last(), *secondary
    )
    return (
        df.withColumn("__content_key", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__content_key", "__rn")
    )


def tokenize(col: Column | str) -> Column:
    """Whitespace word split of the normalized text."""
    return F.split(normalize_text(col), " ")


def _token_window_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int,
    keep_counts: bool = False,
    drop_null_empty: bool = False,
) -> DataFrame:
    """Shared zero-shuffle explode scaffold for every token-window
    consumer (shingles, shingle hashes, positioned grams): one row per
    length-``n`` window start, columns ``(id, __w, [n_tokens,] __i)``
    with ``__i`` the 1-based window start index. Callers project the
    window key they need (string, xxhash64, positioned hash) on top.

    Built with ``explode(sequence(...))`` (all codegen expressions, no
    lambda higher-order functions — HOFs are interpreted per element,
    measured ~8 s just to shingle 5k docs). The word array rides along
    the explode inside one projection, so a document never crosses a
    partition boundary — any downstream ``groupBy(id)`` completes its
    partial aggregate map-side and shuffles one row per document.
    (Round-2 used posexplode + lead windows, which cost an exchange
    and a sort by (id, pos) before the first aggregate.)

    ``keep_counts`` carries ``n_tokens = size(__w)`` through the
    explode (span dedup needs the clamp bound). ``drop_null_empty``
    filters NULL and whitespace-only documents up front: a
    whitespace-only document otherwise manufactures one clamped window
    whose hash is a shared constant (``xxhash64`` of ``['']``), so two
    empty docs would "duplicate" each other — the r13 empty-string
    sibling of the r12 NULL-text phantom-span bug.

    Why only the SPAN consumers pass ``drop_null_empty=True`` (r14
    advisor ruling): for the span family the constant gram is a bug —
    it manufactures a phantom OVERLAP SPAN with token positions inside
    text that does not exist. For the set-similarity consumers
    (jaccard / minhash / simhash via ``exploded_shingles`` /
    ``exploded_shingle_hashes``) the clamp's behavior is the INTENDED
    semantics, in two parts: (a) a NULL-text document emits NO windows
    at all — the explode is guarded on a non-NULL word array, because
    ``size(NULL)`` is -1 outside ANSI mode and ``greatest`` skips
    NULLs, so the clamp alone would give it one window — and NULL docs
    join no pair; (b) empty /
    whitespace-only documents have identical (empty) token streams,
    i.e. they ARE exact duplicates of each other, and the shared
    clamped-window constant gram is exactly what collapses them while
    never matching any document that has tokens (a real n-gram hash
    never equals the empty-slice constant absent a 2^-64 collision,
    and the string-keyed path separates ``''`` from every nonempty
    shingle outright). The DuckDB oracle twins encode the same clamp,
    so the behavior is pinned cross-engine and by
    ``test_token_free_docs_pair_only_each_other``."""
    staged = df
    if drop_null_empty:
        staged = staged.filter(
            F.col(text_col).isNotNull() & (normalize_text(text_col) != "")
        )
    staged = staged.select(F.col(id_col).alias("id"), tokenize(text_col).alias("__w"))
    if keep_counts:
        staged = staged.select("id", "__w", F.size("__w").alias("n_tokens"))
        bound = F.col("n_tokens") - F.lit(n - 1)
    else:
        bound = F.size("__w") - F.lit(n - 1)
    idx = F.explode(
        F.when(
            F.col("__w").isNotNull(),
            F.sequence(F.lit(1), F.greatest(bound, F.lit(1))),
        )
    )
    cols = ["id", "__w"] + (["n_tokens"] if keep_counts else [])
    return staged.select(*cols, idx.alias("__i"))


def exploded_shingles(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """(id, shingle) rows, NOT deduplicated — zero shuffles (the
    :func:`_token_window_rows` scaffold + a ``concat_ws`` over the
    slice)."""
    return _token_window_rows(df, id_col=id_col, text_col=text_col, n=n).select(
        "id", F.concat_ws(" ", F.slice("__w", F.col("__i"), n)).alias("shingle")
    )


def exploded_shingle_hashes(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """(id, shingle) rows with the shingle keyed as ``xxhash64`` of the
    TOKEN SLICE — same explode shape as :func:`exploded_shingles`, but
    the n-gram never materializes as a string: ``xxhash64`` hashes the
    sliced token array directly, so the per-shingle cost is a hash
    over n small strings instead of allocate-concat-then-hash. Key
    equality matches ``xxhash64(concat_ws(' ', slice))`` semantically
    (not bit-wise): tokens cannot contain whitespace, so token-array
    identity and joined-string identity are a bijection. For count
    -level consumers (doc-frequency, containment) the results are
    identical to the string-keyed path absent a 2^-64 collision."""
    return _token_window_rows(df, id_col=id_col, text_col=text_col, n=n).select(
        "id", F.xxhash64(F.slice("__w", F.col("__i"), n)).alias("shingle")
    )


def jaccard_similar_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).

    Shape: explode shingles -> dedup in ONE tiny
    ``groupBy(id).collect_set`` (partial-aggregated map-side, one row
    per doc on the wire) -> re-explode to the inverted index ->
    self-join on shingle (generates only candidate pairs that share
    >= 1 shingle) -> count common shingles -> |A∪B| = |A|+|B|-common.
    Three shuffles total: doc-grain set build, shingle-grain join
    (one exchange, reused by both sides), pair-grain count — plus,
    with ``max_doc_freq``, the doc-grain size count of the surviving
    index (map-side combined, one row per doc).

    The shingle self-join is the scale risk: a shingle appearing in
    d documents emits d² candidate rows, so one ubiquitous shingle
    ("the quick brown") produces an unbounded hot partition at 100 TB.
    ``max_doc_freq`` filters the inverted index to shingles whose
    document frequency is <= the cutoff BEFORE the join, bounding
    per-shingle work at max_doc_freq². Jaccard is then computed over
    the filtered shingle universe (set sizes count surviving shingles
    only), which keeps the result exact w.r.t. that universe —
    near-identical to full Jaccard in practice because stop-shingles
    carry no discriminative signal.

    The set sizes are a map-side-combined ``groupBy(id).count()`` of
    the (surviving) inverted index, one row per doc, broadcast-joined
    onto the pair counts — so one (id, n_sh) row per document must fit
    a broadcast (bounded corpora; not the 5B-doc regime, where an
    oversized broadcast fails rather than returning wrong rows).

    Every stage is keyed on :func:`exploded_shingle_hashes` int64s;
    Jaccard is a set-count statistic, so the string-keyed DuckDB
    oracle stays value-exact absent a 2^-64 collision.
    """
    from pyspark.sql import Window

    sets = (
        exploded_shingle_hashes(df, id_col=id_col, text_col=text_col, n=n)
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("__shs"))
    )
    shingled = sets.select("id", F.explode("__shs").alias("shingle"))
    if max_doc_freq is not None:
        # document frequency over the same hash partitioning as the
        # join below (partitionBy shingle)
        shingled = shingled.withColumn(
            "__df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("__df") <= max_doc_freq).drop("__df")
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n_sh"))
    # r14 (guide §2.4, same device as minhash_dedup_pairs): hint the
    # inverted-index self-join to SHUFFLE-HASH so both sides sit behind
    # identical shingle-hash exchanges and the index subtree (tokenize
    # -> explode -> set agg -> re-explode [-> df window]) is built once
    # and reused, instead of rebuilt under a BroadcastExchange when the
    # planner's size estimate picks a broadcast join. The reuse is an
    # AQE RUNTIME stage-cache hit on the canonically-identical
    # exchanges — the static plan prints the subtree on both sides;
    # the EXECUTED plan shows the second side as a ReusedExchange
    # (r15 evidence: plans/r15/dedup_jaccard_pairs_sf1_executed.txt,
    # Final Plan section). The pair-grain aggregate downstream needs
    # its own exchange under EITHER strategy (grouping is (id_a,
    # id_b), not the shingle), so this trades no new shuffle for the
    # reuse.
    a = shingled.alias("a")
    b = shingled.alias("b").hint("shuffle_hash")
    joined = a.join(
        b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id"))
    )
    pairs = joined.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).agg(F.count("*").alias("common"))
    sa = F.broadcast(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")))
    pairs = pairs.join(sa, "id_a").join(sb, "id_b")
    return (
        pairs.withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Train/eval contamination scan: for each eval document, the
    fraction of its distinct n-gram shingles that appear anywhere in
    the training corpus (→ ``score``), flagged ``contaminated`` at
    ``threshold``. The standard pre-release benchmark-leakage check
    for LLM training sets.

    Shape: distinct train shingles (one shuffle, map-side combined) →
    eval shingles LEFT JOIN train shingles on the shingle key (plain
    equi join: sort-merge/shuffle-hash, AQE-splittable) → per-doc
    count + matched-count (one agg; the doc's shingles rode the same
    explode projection so the partial agg is map-side). No driver
    state, no broadcast of the big side.

    Every exchange — the distincts AND the join — carries
    :func:`exploded_shingle_hashes` int64 keys (at 100 TB the join key
    shrinks ~10×); the output is count-level, so the string-keyed
    DuckDB oracle stays value-exact absent a 2^-64 collision.
    """
    key = "__sh_h"
    tr = exploded_shingle_hashes(
        train, id_col=id_col, text_col=text_col, n=n
    ).select(F.col("shingle").alias(key))
    ev = exploded_shingle_hashes(
        eval_df, id_col=id_col, text_col=text_col, n=n
    ).select("id", F.col("shingle").alias(key)).distinct()
    tr_set = tr.select(key).distinct().withColumn("__hit", F.lit(1))
    return (
        ev.join(tr_set, key, "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_matched"),
        )
        .withColumn(
            "score",
            F.col("n_matched").cast("double") / F.col("n_shingles"),
        )
        .withColumn("contaminated", F.col("score") >= F.lit(threshold))
    )


#: modulus of the portable Carter-Wegman permutation family (md5
#: hash_family): 2^31 - 1, so a_i*v + b_i stays well inside BIGINT
#: (v < 2^32, a_i < 2^31 → product < 2^63) on both engines
MINHASH_MERSENNE31 = 2147483647
#: docs per partial-signature RecordBatch in the Arrow run-min pass
#: (:func:`_md5_signatures_from_staged`): bounds a Python worker's
#: buffer on a large or skewed partition
MINHASH_PARTIAL_FLUSH_DOCS = 65_536


def minhash_coeffs(num_hashes: int, seed: int = 913) -> list[tuple[int, int]]:
    """Deterministic ``(a_i, b_i)`` coefficient literals for the
    portable md5 min-hash family — generated once at plan-build time
    and embedded as literals in BOTH the Spark expressions and the
    DuckDB oracle text, so the two sides agree by construction."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_MERSENNE31), rnd.randrange(MINHASH_MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    n: int = 3,
    hash_family: str = "xx64",
) -> DataFrame:
    """One ``(id, sig array<bigint>)`` row per document.

    Exploded-aggregate signature: one row per (doc, shingle), k seeded
    hashes as a plain projection, then k MIN aggregates back to one
    row per doc. Unlike k array-transform expressions this stays
    inside whole-stage codegen (higher-order functions are interpreted
    per element — measured several times slower), and the MIN
    aggregates combine map-side before the shuffle. Non-distinct
    shingles are fine: MIN over duplicates equals MIN over the
    distinct set, so the dedup shuffle is skipped — the signature
    aggregate is the first (and only doc-grain) exchange and it
    combines map-side to one row per document.

    Shingles enter as int64 slice hashes (the
    :func:`exploded_shingle_hashes` keying): each of the k seeded
    hashes folds 8 bytes instead of a ~25-byte string and the n-gram
    string is never built. Seed-hashing a uniform hash preserves the
    estimator.

    ``hash_family``: ``"xx64"`` (default, the fast JVM path above) or
    ``"md5"`` — a cross-engine-portable family (r11: MD5 is the one
    keyed hash DuckDB and Spark share, the
    ``operators/sampling.py`` portable-randomness pattern): ONE md5
    per shingle folded to a 32-bit int (first 8 hex chars), then the
    k permutations are Carter-Wegman ``(a_i*v + b_i) mod (2^31-1)``
    with Python-literal coefficients — exact BIGINT arithmetic both
    engines evaluate identically, and only one crypto digest per
    shingle (the first-cut 64-digests-per-shingle scheme measured
    8.9x the xx64 tier at sf1; this one is ~1.1x, see
    ROUND11_NOTES). Signature VALUES differ between families (compare
    like with like); the estimator is the same 2-universal min-hash.
    The md5 family is the oracle default in the registry so the
    driver's correctness gate can hash-compare pairs against DuckDB;
    xx64 stays the library default."""
    if hash_family == "md5":
        staged = _md5_staged(df, id_col=id_col, text_col=text_col, n=n)
        return _md5_signatures_from_staged(staged, num_hashes=num_hashes)
    if hash_family != "xx64":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    exploded = exploded_shingle_hashes(
        df, id_col=id_col, text_col=text_col, n=n
    ).withColumnRenamed("shingle", "__shingle")
    return exploded.groupBy("id").agg(
        F.array(
            *[
                F.min(F.xxhash64(F.col("__shingle"), F.lit(i))).alias(f"__h{i}")
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )


def _md5_staged(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id, __v)`` staged frame for the portable md5 family: one md5
    per shingle folded to a 32-bit value (first 8 hex chars) — the
    exact chain the DuckDB oracle evaluates."""
    exploded = exploded_shingles(
        df, id_col=id_col, text_col=text_col, n=n
    ).withColumnRenamed("shingle", "__shingle")
    v = (
        F.conv(F.substring(F.md5("__shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("__v")
    )
    return exploded.select("id", v)


def _md5_signatures_agg(staged: DataFrame, *, num_hashes: int) -> DataFrame:
    """Reference JVM-expression shape of the md5/Carter-Wegman
    signature aggregate (one ``MIN((a_i*v + b_i) % M)`` aggregate per
    permutation): the r11–r14 production path, kept as the
    value-identity oracle for the Arrow shape below (pinned by
    ``tests/test_minhash_arrow_parity.py``)."""
    return staged.groupBy("id").agg(
        F.array(
            *[
                F.min(
                    (F.col("__v") * F.lit(a) + F.lit(b))
                    % F.lit(MINHASH_MERSENNE31)
                ).alias(f"__h{i}")
                for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
            ]
        ).alias("sig")
    )


def _md5_signatures_from_staged(
    staged: DataFrame, *, num_hashes: int, bands: int | None = None
) -> DataFrame:
    """md5/Carter-Wegman signature over a ``(id, __v)`` staged frame,
    computed as a vectorized Arrow run-min pass plus a tiny elementwise
    merge aggregate (r15, guide §4.2).

    Why not the 64-MIN JVM aggregate (:func:`_md5_signatures_agg`):
    measured at sf0.1, Catalyst spends ~0.8 s *planning* the 64
    aggregate expressions (scaling superlinearly with k — a per-query
    driver cost paid at every scale) and the codegen'd per-row update
    loop runs at ~78 ns per (row × permutation) — versus ~1 ns for the
    same int64 multiply-add-mod-min in NumPy. The Arrow pass computes
    all k permutations for a whole batch as one (rows × k) matrix op
    and folds contiguous same-id runs with ``np.minimum.reduceat``
    (shingle rows of one doc are contiguous by construction — explode
    output — but correctness does NOT rely on it: every run yields a
    partial row and the merge aggregate below is layout-independent).
    Batch-boundary runs are carried across batches inside one task, so
    partial rows ≈ one per doc per partition, and the merge
    (``collect_list`` per id, then a row-wise Arrow elementwise-min
    fold) sees ~|docs| tiny rows. Exact-arithmetic argument: a_i <
    2^31 and v < 2^32 so a_i*v + b_i < 2^63 — int64
    multiply/add/mod/min on positive operands is bit-identical in
    NumPy, the JVM, and DuckDB; the signature is therefore
    value-identical to the expression shape (pinned by
    ``tests/test_minhash_arrow_parity.py``) and the declared oracle SQL
    is untouched. Measured sf0.1 (warm, min-of-N, noop): signature
    stage 1.71 s -> ~0.8 s, full pair query 2.9 s -> see
    OPTIMIZATION_r15.md.

    With ``bands`` set, the merge pass additionally emits the LSH
    band-bucket digests as a ``__buckets array<string>`` column —
    ``hashlib.md5`` over the ``'|'``-joined decimal band slice is
    byte-identical to the JVM ``md5(concat_ws('|', transform(slice(
    sig, lo, len), x -> cast(x as string))))`` chain (both hash the
    UTF-8 bytes of the same string and render lowercase hex), which in
    turn matches the DuckDB oracle's ``md5(ARRAY_TO_STRING(...))``.
    Computing them here removes 16 md5-expression trees from the plan
    (a measurable slice of the ~0.5 s banding planning cost) and the
    16 per-doc interpreted ``transform`` evaluations; the caller then
    explodes with ONE ``posexplode`` expression
    (:func:`_md5_banded_signatures`)."""
    import pyspark.sql.types as T

    if bands is not None and num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    coeffs = minhash_coeffs(num_hashes)
    id_field = staged.schema["id"]
    out_schema = T.StructType(
        [id_field, T.StructField("__psig", T.ArrayType(T.LongType()))]
    )

    flush_docs = MINHASH_PARTIAL_FLUSH_DOCS

    def partial(batches):
        # heavyweight init once per task (guide §4.5)
        import numpy as np
        import pyarrow as pa

        k = len(coeffs)
        A = np.array([a for a, _ in coeffs], dtype=np.int64)[None, :]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[None, :]
        id_type = None
        carry_id = None
        carry = None
        ids_out: list = []
        sigs_out: list = []

        def emit():
            flat = np.concatenate(sigs_out)
            sig_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(flat, type=pa.int64()), k
            ).cast(pa.list_(pa.int64()))
            return pa.RecordBatch.from_arrays(
                [pa.array(ids_out, type=id_type), sig_arr],
                names=["id", "__psig"],
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            if id_type is None:
                id_type = rb.schema.field(0).type
            if rb.column(1).null_count:
                # __v is non-null by construction (md5 of a non-null
                # shingle); a null here would silently become NaN in
                # the numpy cast, so fail loud instead
                raise ValueError("minhash: null shingle hash in __v")
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            vv = rb.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            h = (vv[:, None] * A + B) % MINHASH_MERSENNE31
            starts = np.nonzero(
                np.concatenate(([True], ids[1:] != ids[:-1]))
            )[0]
            mins = np.minimum.reduceat(h, starts, axis=0)
            rids = ids[starts]
            if carry_id is not None and rids[0] == carry_id:
                mins[0] = np.minimum(mins[0], carry)
            elif carry_id is not None:
                ids_out.append(carry_id)
                sigs_out.append(carry)
            carry_id = rids[-1]
            carry = mins[-1]
            if len(rids) > 1:
                ids_out.extend(rids[:-1].tolist())
                sigs_out.extend(list(mins[:-1]))
            # only the carry row (a doc that may continue) stays buffered
            if len(ids_out) >= flush_docs:
                yield emit()
                ids_out, sigs_out = [], []
        if carry_id is not None:
            ids_out.append(carry_id)
            sigs_out.append(carry)
        if ids_out:
            yield emit()

    part = staged.mapInArrow(partial, schema=out_schema)
    # layout-independent merge: one collect_list aggregate (cheap to
    # plan — a single aggregate expression vs 64) gathers a doc's
    # partial rows (~1 per doc), then a row-wise Arrow pass folds them
    # with elementwise minimum. NOT a lambda-HOF fold in a projection:
    # that expression gets inlined by CollapseProject into every one
    # of the 16 downstream band-bucket expressions and re-evaluated
    # 17x per doc (measured 5.7 s vs 2.0 s end-to-end at sf0.1);
    # the Arrow stage makes ``sig`` a plain attribute instead.
    gathered = part.groupBy("id").agg(
        F.collect_list("__psig").alias("__psigs")
    )
    merged_fields = [id_field, T.StructField("sig", T.ArrayType(T.LongType()))]
    if bands is not None:
        merged_fields.append(
            T.StructField("__buckets", T.ArrayType(T.StringType()))
        )
    merged_schema = T.StructType(merged_fields)
    k = num_hashes
    n_bands = bands
    rows_per_band = k // bands if bands else None

    def merge(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            lists = rb.column(1)  # list<list<int64>>, inner length k
            if isinstance(lists, pa.ChunkedArray):
                lists = lists.combine_chunks()
            # flatten() (not .values) so a sliced/offset array is
            # handled; offsets are rebased to the slice start
            off = lists.offsets.to_numpy(zero_copy_only=False)
            off = off - off[0]
            flat = lists.flatten().flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(-1, k)
            # offsets are in units of inner lists; rows with a single
            # partial (the common case) reduce over one matrix row
            mins = np.minimum.reduceat(mat, off[:-1], axis=0)
            sig_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(mins.reshape(-1), type=pa.int64()), k
            ).cast(pa.list_(pa.int64()))
            cols = [rb.column(0), sig_arr]
            names = ["id", "sig"]
            if n_bands is not None:
                strs = mins.astype("U10")  # decimal render, mod < 2^31
                digests = [
                    hashlib.md5(
                        "|".join(row[b * rows_per_band:(b + 1) * rows_per_band])
                        .encode()
                    ).hexdigest()
                    for row in strs
                    for b in range(n_bands)
                ]
                flat_d = pa.array(digests, type=pa.string())
                cols.append(
                    pa.FixedSizeListArray.from_arrays(flat_d, n_bands)
                    .cast(pa.list_(pa.string()))
                )
                names.append("__buckets")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return gathered.mapInArrow(merge, schema=merged_schema)


def _md5_banded_signatures(
    staged: DataFrame, *, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, sig, band, bucket)`` banded rows for the md5 family —
    bucket digests computed inside the Arrow merge pass (see
    :func:`_md5_signatures_from_staged`), exploded with a single
    ``posexplode`` expression instead of 16 md5-expression trees.
    Value-identical to ``banded_buckets(sig, hash_family="md5")``
    (pinned by ``tests/test_minhash_arrow_parity.py``)."""
    with_buckets = _md5_signatures_from_staged(
        staged, num_hashes=num_hashes, bands=bands
    )
    return with_buckets.select(
        "id",
        "sig",
        F.posexplode("__buckets").alias("band", "bucket"),
    )


def banded_buckets(
    sig: DataFrame, *, num_hashes: int = 64, bands: int = 16,
    hash_family: str = "xx64",
) -> DataFrame:
    """LSH banding over a ``(id, sig)`` frame: one ``(id, sig, band,
    bucket)`` row per band, bucket = hash of the band's signature
    slice (``xxhash64`` of the slice, or for the portable ``"md5"``
    family ``md5`` of the ``'|'``-joined string slice — matching
    DuckDB ``md5(ARRAY_TO_STRING(sig[lo:hi], '|'))``). Candidates
    only materialize for banded collisions."""
    if hash_family not in ("xx64", "md5"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    def bucket(bi: int) -> Column:
        sl = F.slice("sig", bi * rows_per_band + 1, rows_per_band)
        if hash_family == "md5":
            # decimal-rendered longs joined with '|' == DuckDB
            # ARRAY_TO_STRING(sig[lo:hi], '|'); explicit per-element
            # cast because concat_ws wants strings
            return F.md5(
                F.concat_ws("|", F.transform(sl, lambda x: x.cast("string")))
            )
        return F.xxhash64(sl)

    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        bucket(bi).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, of documents
    that share a band bucket: the shuffle-hash self-join of the narrow
    ``(id, band, bucket)`` rows, deduplicated with a plain
    ``distinct``."""
    nb = bands.select("id", "band", "bucket")
    a = nb.alias("a")
    b = nb.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _verified_pairs(
    cand: DataFrame, sigs: DataFrame, *, num_hashes: int, threshold: float
) -> DataFrame:
    """``(id_a, id_b, est_jaccard)`` for the candidate pairs whose
    MinHash Jaccard estimate — the fraction of the ``num_hashes``
    positions where the two signatures agree — is >= ``threshold``.
    Each signature is attached from the one-row-per-doc ``(id, sig)``
    frame ``sigs`` once per unique pair."""
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    est = F.size(F.filter(agree, lambda v: v == 1)) / F.lit(float(num_hashes))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.7,
    hash_family: str = "xx64",
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs with estimated
    Jaccard (signature agreement rate) >= threshold.

    ``num_hashes`` must divide into ``bands``; rows ``r = k/bands``
    set the LSH S-curve. Candidates only materialize for banded
    collisions: the self-join is on (band_id, band_hash), never n².

    ``hash_family="md5"`` selects the cross-engine-portable hash chain
    (see :func:`minhash_signatures`) — identical pairs are then
    reproducible in any engine with ``md5``, which is how the DuckDB
    oracle verifies this operator hash-exactly.
    """
    if hash_family == "md5":
        # r15: band buckets ride the Arrow merge pass (one posexplode
        # in the plan instead of 16 md5-expression trees); identical
        # digests — see _md5_signatures_from_staged
        banded = _md5_banded_signatures(
            _md5_staged(df, id_col=id_col, text_col=text_col, n=n),
            num_hashes=num_hashes, bands=bands,
        )
    else:
        sig = minhash_signatures(
            df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            n=n, hash_family=hash_family,
        )
        banded = banded_buckets(
            sig, num_hashes=num_hashes, bands=bands, hash_family=hash_family
        )
    # r15 (guide §8 "decide with small rows, move big rows once" /
    # §2.3): the banded self-join used to carry BOTH k-long signatures
    # (~1 KB combined per collision instance) through its exchanges,
    # then drag them through a two-Sort dropDuplicates SortAggregate
    # (first(array) is not hash-aggregable). The signatures are only
    # needed ONCE PER UNIQUE PAIR, for the agreement estimate — so the
    # join and the pair dedup now run on the narrow (id, band, bucket)
    # projection (~40 B/row, a plain HashAggregate dedup), and the
    # signatures are attached afterwards by two equi-joins against the
    # one-row-per-doc sig frame (the band==0 slice of the same banded
    # subtree, so everything below the signature exchange is planned
    # and executed once — AQE ReusedExchange, same device as r14).
    # est_jaccard is a pure function of the two signatures, so
    # computing it after the dedup is value-identical to computing it
    # per instance; pairs and estimates are unchanged (oracle-exact).
    # Shuffle-byte arithmetic at corpus scale: 16 bands x ~40 B vs
    # 16 bands x ~0.5 KB through the self-join, plus 2 x one
    # signature row per doc for the attach — ~5x fewer bytes on the
    # operator's dominant exchange. Measured: sf0.1 2.40 -> 2.06 s,
    # sf1 4.62 -> 3.81 s (interleaved min-of-4, value-identity
    # asserted before timing). The incremental store
    # (streaming.dedup_incremental) verifies through the same stages.
    return _verified_pairs(
        _band_pairs(banded),
        banded.filter(F.col("band") == 0).select("id", "sig"),
        num_hashes=num_hashes, threshold=threshold,
    )


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(id, component)`` where ``component`` is the minimum node id in
    the component. The glue between pairwise dedup (Jaccard / MinHash /
    SimHash / cosine tiers above) and survivor selection — near-dup
    relations are not transitive, so keeping one doc per *pair* both
    over- and under-deletes; the industry-standard pipeline clusters
    the pair graph first (c4/Gopher/RefinedWeb all do this).

    Algorithm: min-label propagation with pointer jumping. Each
    iteration (a) takes the min label over neighbors, (b) shortcuts
    ``label(u) <- label(label(u))`` — the pointer-jump makes chains
    collapse in O(log diameter) rounds instead of O(diameter). Each
    round is three bounded shuffles (edge join on v, parent join on
    label, change-count); lineage is truncated per round with an eager
    ``localCheckpoint`` so plans stay flat no matter the iteration
    count (on a real cluster prefer ``checkpoint()`` to an HDFS dir —
    localCheckpoint stores blocks on executors and is not
    fault-tolerant to executor loss). Driver involvement is one
    O(1)-row convergence count per round — the standard pattern for
    iterative graph algorithms on Spark (GraphX/GraphFrames do the
    same); data never collects.

    Raises ``RuntimeError`` if ``max_iterations`` rounds don't reach a
    fixpoint (with pointer jumping, 25 rounds cover graphs of diameter
    ~2^25 — only adversarial inputs get close).
    """
    e = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # first propagation fused into the init: label = min(u, neighbors)
    labels = edges.groupBy("u").agg(F.min("v").alias("__nb")).select(
        "u", F.least(F.col("u"), F.col("__nb")).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels.select(F.col("u").alias("v"), "label"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("__nbl"))
        )
        l1 = labels.join(nbr, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce("__nbl", "label")).alias("label"),
        )
        parent = l1.select(F.col("u").alias("label"), F.col("label").alias("__pl"))
        l2 = (
            l1.join(parent, "label", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("__pl", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            l2.join(labels.withColumnRenamed("label", "__old"), "u")
            .filter(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = l2
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    return labels.select(F.col("u").alias("id"), F.col("label").alias("component"))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Survivor selection: cluster the near-dup ``pairs`` with
    :func:`connected_components`, then keep exactly one document per
    cluster — the minimum id — plus every unpaired document (its own
    singleton cluster). Adds ``cluster_id`` and ``cluster_size``
    columns (size counts ALL members, so downstream stats can weight
    survivors by their duplicate multiplicity).

    Shape: CC over the pair graph (tiny relative to the corpus — only
    paired docs appear), LEFT equi-join of the full corpus against the
    (id, component) labeling, ``groupBy(cluster_id).count`` for sizes
    (map-side combined) joined back on cluster_id — a plain equi-join,
    NOT a forced broadcast: cluster count is O(corpus) since most
    clusters are singletons, so AQE picks broadcast only when the
    stats allow. Survivor filter ``id == cluster_id``. Nothing
    quadratic, nothing driver-side.
    """
    comp = connected_components(
        pairs, src_col=src_col, dst_col=dst_col, max_iterations=max_iterations
    ).withColumnRenamed("id", id_col)
    annotated = df.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce("component", F.col(id_col))
    ).drop("component")
    sizes = annotated.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return annotated.join(sizes, "cluster_id").filter(
        F.col(id_col) == F.col("cluster_id")
    )


def simhash_md5_fingerprints(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """``(id, sh)`` 63-bit SimHash fingerprints from the cross-engine-
    portable MD5 token hash (r11, for the DuckDB oracle twin — same
    portable-family rationale as :func:`minhash_signatures`).

    Bit ``b`` of a token's 64-bit hash is defined nibble-wise on the
    hex digest — ``(hexval(digest[b/4]) >> (b%4)) & 1`` — the one
    formula both engines evaluate identically without 64-bit unsigned
    hex parsing (Spark's ``conv`` round-trips through unsigned decimal
    strings and DuckDB lacks ``conv`` entirely; a single hex NIBBLE
    converts exactly on both). Shape: explode tokens (a doc never
    crosses a partition, so the vote aggregate combines map-side),
    ONE md5 + 16 nibble columns per token row in a single projection
    (codegen CSE shares the digest), 64 conditional-SUM votes, then
    the 63-term fingerprint assembly. Docs with ZERO tokens drop out
    (no rows to vote).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(text_col)).alias("__t"),
    ).select("id", F.md5("__t").alias("__h"))
    nibs = tok.select(
        "id",
        *[
            F.conv(F.substring("__h", j + 1, 1), 16, 10)
            .cast("int")
            .alias(f"__n{j}")
            for j in range(16)
        ],
    )
    votes = nibs.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"__n{b // 4}"), b % 4)
                .bitwiseAND(F.lit(1))
                .cast("int")
                * 2
                - 1
            ).alias(f"__v{b}")
            for b in range(64)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(63):
        fp = fp + F.when(
            F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("id", fp.alias("sh"))


def simhash_near_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    prefix_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash (:func:`simhash_md5_fingerprints`, so
    a DuckDB oracle reproduces the pairs exactly): block on the top
    ``prefix_bits`` (cheap LSH), verify Hamming distance <=
    ``max_hamming`` via bit_count(xor). Production variant would rotate
    the blocking prefix over several permutations for full recall."""
    hashed = simhash_md5_fingerprints(
        df, id_col=id_col, text_col=text_col
    ).withColumn("block", F.shiftright("sh", 64 - prefix_bits))
    # r14 (guide §2.4): same exchange-sharing device as the minhash /
    # jaccard self-joins — shuffle-hash on the block key so the
    # fingerprint build (per-token md5 + 64 vote sums on the portable
    # family) runs once behind an (AQE runtime) ReusedExchange instead
    # of once per join side under a broadcast (r15 executed-plan
    # evidence: plans/r15/dedup_simhash_pairs_sf1_executed.txt).
    a = hashed.alias("a")
    b = hashed.alias("b").hint("shuffle_hash")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming"
        )
    )


def positioned_gram_hashes(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """(id, pos, gram, n_tokens) rows: the word ``k``-gram starting at
    0-based token position ``pos``, keyed as ``xxhash64`` of the token
    slice (the string never materializes — same key compression as
    :func:`exploded_shingle_hashes`). Unlike the shingle explodes this
    KEEPS the position, because span dedup needs to know *where* a
    duplicated gram sits, not just that it exists. Documents shorter
    than ``k`` tokens yield one clamped gram at ``pos 0`` covering the
    whole document (``slice`` clamps), so short exact-dup docs are
    still discoverable as whole-doc spans.

    NULL-text AND whitespace-only rows are FILTERED here (r12 review +
    r13 advice): ``greatest(NULL-k, 1)`` otherwise manufactures one
    gram per NULL doc (``xxhash64`` of an all-NULL slice is a non-NULL
    constant), and empty/whitespace text tokenizes to ``['']`` on both
    engines, whose constant gram hash makes every pair of empty docs
    mutual "duplicates" with a phantom 1-token span — a failure the
    oracle gate cannot catch because both engines agree. Same up-front
    -filter ruling as the IVF NULL-vector contract; mirrored in the
    SQL twin.

    Same zero-shuffle explode scaffold (:func:`_token_window_rows`) as
    the shingle family: the token array rides along the explode inside
    one projection."""
    return _token_window_rows(
        df, id_col=id_col, text_col=text_col, n=k,
        keep_counts=True, drop_null_empty=True,
    ).select(
        "id",
        (F.col("__i") - F.lit(1)).alias("pos"),
        F.xxhash64(F.slice("__w", F.col("__i"), k)).alias("gram"),
        "n_tokens",
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-span dedup, the distributable form of suffix
    -array substring dedup ('Deduplicating Training Data Makes
    Language Models Better', Lee et al. 2022): find every MAXIMAL
    token span in which EVERY TOKEN lies inside at least one
    length-``k`` window occurring at least ``min_count`` times in the
    corpus (within-doc repeats count, as in the paper), one row per
    span. Token-coverage, not every-window-duplicated: two duplicated
    windows whose starts differ by ``<= k`` touch or overlap, so a
    merged span has no uncovered interior token even though an
    interior window straddling both may itself be unique. A 200-token license block
    shared by two docs comes back as ONE [start, end) span per doc,
    not 193 overlapping gram hits. Reference parity: the reference has
    no substring-level dedup at all — its only dedup is id-level
    (seen-id sets in the news/RSS adapter,
    ``algo-data-ingestion/app/adapters/news_adapter.py:139``);
    this is the training-data-pipeline extension the corpus family
    (:func:`cross_doc_repetition` flags docs, this one locates the
    bytes to cut).

    Plan shape, all linear in corpus tokens: one zero-shuffle
    positioned-gram explode, one gram-keyed count aggregate (map-side
    partial: a doc's grams never cross partitions before the agg),
    one broadcast semi-join back (the duplicated-gram side is DISTINCT
    on the key, so a boilerplate gram shared by 30% of docs multiplies
    by 1, not by its df — linear), then
    one exchange on doc id + per-doc sort for the gaps-and-islands
    merge (lag + running sum + group — the same window algebra as
    ``j4_find_gaps``). No pair stage exists anywhere: cost is
    O(tokens), not O(dup_docs^2), which is what makes this the 100 TB
    substitute for a suffix array.

    Span merge rule: marked positions ``p_prev < p`` coalesce iff
    ``p - p_prev <= k`` (overlap or exact adjacency — the covered
    token intervals [p, p+k) touch); ``span_end`` clamps to the token
    count for the short-doc whole-text gram.

    The duplicated grams are always broadcast (r13 A/B at sf1): with
    the hint the probe side of the semi-join never plans a shuffle —
    the marked stage measured 0.95 s vs 1.92 s without it, even though
    AQE had already converted the plain join to broadcast (the
    conversion happens after the probe exchange is planned, so its
    shuffle files are still written and locally re-read). One int64
    row per distinct duplicated gram must fit a broadcast — bounded
    corpora, the same ruling as the broadcast set sizes of
    :func:`jaccard_similar_pairs`.

    Returns (id_col, span_start, span_end, span_len) with [start, end)
    0-based token positions, one row per maximal span.
    """
    from pyspark.sql import Window

    grams = positioned_gram_hashes(df, id_col=id_col, text_col=text_col, k=k)
    dup = F.broadcast(
        grams.groupBy("gram")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gram")
    )
    marked = grams.join(dup, "gram").select("id", "pos", "n_tokens")
    w = Window.partitionBy("id").orderBy("pos")
    islands = (
        marked.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__brk",
            F.when(F.col("pos") - F.col("__prev") > k, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "__island",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy(F.col("id").alias(id_col), "__island")
        .agg(
            F.min("pos").alias("span_start"),
            F.least(F.max("pos") + F.lit(k), F.first("n_tokens")).alias("span_end"),
        )
        .drop("__island")
        .withColumn("span_len", F.col("span_end") - F.col("span_start"))
    )


def remove_duplicated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Scrub tier over :func:`duplicated_spans`: rebuild each
    document's NORMALIZED text with every duplicated span's tokens
    removed (the Lee-et-al cut applied, whitespace-normalized like
    every dedup tier — see :func:`normalize_text`). Docs with no
    duplicated span pass through with ``n_removed = 0``; NULL-text
    docs pass through with NULL counts (both pinned by pytest and the
    hash-exact SQL twin).

    Shape (r13, replacing the token-grain anti-join): spans collapse
    to ONE array of (start, end) structs per affected document (a
    span-grain collect — tiny: a handful of intervals per doc), the
    document universe LEFT-joins that doc-grain frame, and the kept
    tokens come from a single index-aware higher-order ``filter`` over
    the already-tokenized array (``exists`` over the span structs per
    token). Token order is the array's own — no re-sort, no object
    re-assembly. The replaced shape exploded one row per removed
    position, anti-joined the full posexploded token grain, and
    rebuilt text with ``array_sort(collect_list(struct(pos, tok)))``
    — i.e. it moved TOKEN-grain rows through a join and an object
    aggregate where this shape moves each document once. Measured
    (``/tmp`` A/B, value-identical on 50k/150k docs first): 2.43 s vs
    3.59 s at sf1, 4.22 s vs 7.09 s at sf3. The per-element HOF cost
    the module's r6 lesson warns about is bounded here by the tiny
    per-doc span array (0-few intervals), unlike the per-shingle
    hashing case.

    Returns (id_col, clean_text, n_tokens, n_removed).
    """
    span_sets = duplicated_spans(
        df, id_col=id_col, text_col=text_col, k=k, min_count=min_count,
    ).groupBy(F.col(id_col).alias("id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    universe = df.select(
        F.col(id_col).alias("id"),
        tokenize(text_col).alias("__w"),
        # explicit NULL for NULL text: non-ANSI size(NULL) is the
        # legacy -1, but the SQL twin's LEN(STRING_SPLIT(NULL)) is
        # NULL — pin the NULL so both engines and both n_removed agree
        F.when(
            F.col(text_col).isNull(), F.lit(None).cast("int")
        ).otherwise(F.size(tokenize(text_col))).alias("n_tokens"),
    )
    joined = universe.join(span_sets, "id", "left").withColumn(
        # no-span docs: empty interval set -> the filter keeps all
        "__spans", F.coalesce("__spans", F.array())
    )
    kept = F.filter(
        "__w",
        lambda x, i: ~F.exists(
            "__spans",
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    joined = joined.withColumn("__kept", kept)
    return joined.select(
        F.col("id").alias(id_col),
        # NULL text: __w is NULL -> array_join(NULL) is NULL -> ''
        F.coalesce(F.array_join("__kept", " "), F.lit("")).alias("clean_text"),
        "n_tokens",
        # NULL text: NULL - size(NULL) stays NULL (NULL arithmetic)
        (F.col("n_tokens") - F.size("__kept")).alias("n_removed"),
    )


def cross_doc_repetition(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate signal (the bounded cousin of
    substring dedup a la 'Deduplicating Training Data Makes Language
    Models Better'): for each document, the fraction of its distinct
    word n-gram shingles that appear in at least ``min_docs``
    documents overall — i.e. in at least ``min_docs - 1`` OTHER
    documents (the doc-frequency count includes the document itself;
    ``min_docs=1`` marks every shingle repeated). Headers, footers,
    navigation chrome, and license blocks score high; original prose
    scores low. Downstream filters drop or de-prioritize
    high-``repeated_frac`` docs.

    Scale shape, all linear: distinct (doc, shingle) rows (the
    explode's partial dedup completes map-side because a document
    never crosses a partition — see :func:`exploded_shingles`), one
    shingle-keyed doc-frequency aggregate, one equi-join back, one
    per-doc aggregate. Hot boilerplate shingles skew the join key the
    same way they do in :func:`jaccard_similar_pairs` — AQE skew
    splitting applies; there is no quadratic pair stage here at all.

    Shape ruling (r12 A/B, recorded in ``artifacts/r12/ROUND12_NOTES.md``): a
    ``COUNT(*) OVER (PARTITION BY shingle)`` variant replaces the
    freq-agg + join with one exchange and measured 13-21% faster at
    sf1/sf3 — but WindowExec gives a Zipfian-hot shingle's whole row
    set to ONE task (AQE skew-split covers joins/aggs, not windows),
    while this shape's count gets map-side partials and its join back
    is AQE-splittable. The join shape stays: constant-factor slower
    on benign data, structurally safe on the boilerplate-heavy corpus
    this operator exists for. (r13 negative result: hinting
    ``F.broadcast(freq)`` — the trick that cut the substring-span
    semi-join 2x — measured only ~5% here (1.24 vs 1.30 s at sf1,
    value-identical) because freq is the FULL distinct-shingle
    universe, not a duplicated subset; not worth the broadcast-size
    risk, not shipped.)

    Every exchange carries :func:`exploded_shingle_hashes` int64 keys
    instead of ~25-byte shingle strings (:func:`contamination_check`'s
    0.47× sf10 cell vs this operator's string-keyed 2.7× motivated
    it); the output is count-level, so the string-keyed DuckDB oracle
    stays hash-exact absent a 2^-64 collision.

    Returns (id_col, n_shingles, n_repeated, repeated_frac).
    """
    sh = exploded_shingle_hashes(
        df, id_col=id_col, text_col=text_col, n=n
    ).distinct()
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__dfc"))
    return (
        sh.join(freq, "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("__dfc") >= min_docs, 1)).alias("n_repeated"),
        )
        .withColumn(
            "repeated_frac", F.col("n_repeated") / F.col("n_shingles")
        )
    )
