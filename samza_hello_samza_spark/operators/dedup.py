"""Deduplication operators for LLM training-data pipelines.

Six strategies over the ``documents`` / ``embeddings`` tables:

- exact        : normalize → md5 → group (oracle-checked)
- ngram_jaccard: 3-word shingle overlap join, J ≥ 0.5 (oracle-checked)
- minhash_lsh  : shingle → 24 minhash perms → 12 bands of 2 →
                 band-bucket join (oracle-checked: the shingle hash is
                 the engine-portable md5-slice family — same digest in
                 Spark and DuckDB — and the permutation constants are
                 pinned, so the whole signature pipeline is ANSI-SQL
                 expressible; also property-tested against the jaccard
                 oracle in tests/)
- simhash      : 32-bit simhash, 4×8-bit band join, hamming ≤ 6
                 (oracle-checked via the same md5-slice word hash,
                 plus property tests)
- embedding    : pairwise cosine ≥ 0.45 (oracle-checked vs DuckDB
                 list_cosine_similarity)
- clusters     : connected components over the jaccard pairs via
                 iterative min-label propagation (oracle-checked vs a
                 DuckDB recursive CTE)

Scale design: everything is shingle-/band-bucket joins — never an
O(n²) cross join except `dedup_embedding`, which is the small-sample
calibration baseline; the scale path for embedding near-dup is the
LSH bucketing in operators/similarity.py. Minhash aggregation is 24
JVM-side `min()` columns (no Python in the hot path); band explode is
`posexplode` over a 12-element array.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import index_base_dir, load_table, materialize

MERSENNE_P = 2147483647  # 2^31 - 1
N_PERMS = 24
N_BANDS = 12  # bands of 2 rows → P(candidate | J=0.5) ≈ 0.90
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 6
EMBED_TAU = 0.45

_rng = random.Random(42)
_PERM_A = [_rng.randrange(1, MERSENNE_P) for _ in range(N_PERMS)]
_PERM_B = [_rng.randrange(0, MERSENNE_P) for _ in range(N_PERMS)]


def _normalized_text(col: F.Column) -> F.Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def _md5_slice32(col: F.Column) -> F.Column:
    """Engine-portable 32-bit string hash: the first 8 hex digits of
    md5, parsed as an unsigned integer (long-typed, always ≥ 0).

    The repo's cross-engine hash family (same discipline as
    ``functions/bloom`` and ``operators/sketches``): Spark and DuckDB
    compute identical md5 hex, so every sketch built on this hash is
    oracle-checkable — unlike xxhash64, which has no DuckDB twin.
    DuckDB twin: ``CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _words(col: F.Column) -> F.Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def explode_nonempty(df: DataFrame, keep: list, arr: F.Column, alias: str) -> DataFrame:
    """``explode`` for an EXPENSIVE derived array — outer generate + null
    filter, identical output for null-free arrays.

    Plain ``explode`` lets Catalyst's InferFiltersFromGenerate push a
    ``size(arr) > 0 AND isnotnull(arr)`` guard below the Generate, and
    for a derived array that guard inlines the WHOLE array-building
    expression twice into the pre-Generate Filter (with CollapseProject
    additionally re-inlining the tokenize ``split`` into every
    ``element_at`` the shingle lambda makes). Measured on the 3-shingle
    hash explode at sf0.1: 6.5 s → 0.4 s. ``explode_outer`` is exempt
    from the filter inference, and the explicit post-Generate null
    filter restores exact explode semantics (our arrays never contain
    null elements — md5/xxhash over non-null strings).
    """
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


def _shingles(words: F.Column, k: int = 3) -> F.Column:
    """k-word shingles as an array column (JVM-side, 0-based subscripts).

    Guarded: Spark's sequence(0, -1) is a DESCENDING sequence, so a
    doc with < k words must short-circuit to an empty array.
    """
    idx = F.sequence(F.lit(0), F.size(words) - k)
    arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(F.size(words) >= k, arr).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


#: document-frequency cap for the shingle universe: a shingle shared
#: by more than this many docs is boilerplate ("all rights reserved"),
#: and joining on it would emit ~df² pair rows — the one join in the
#: near-dup family whose cost is data-dependent. Dropping hot shingles
#: BEFORE the pair join (standard in every production near-dup
#: pipeline; same idea as the minhash MAX_BUCKET cap below) bounds the
#: join at Σ min(df, cap)² while leaving the Jaccard semantics over
#: the informative shingle universe. Mirrored in _SHINGLES_SQL so both
#: engines agree even when the cap triggers.
SHINGLE_MAX_DF = 1000


def _doc_shingles(
    spark: SparkSession, sf_dir: str, k: int = 3, max_df: int = SHINGLE_MAX_DF
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("words"))
    sh = (
        explode_nonempty(
            tokenized, ["doc_id"], _shingles(F.col("words"), k), "shingle"
        )
        .distinct()
        # consumed by the hot-shingle derivation AND the anti-join
        # below — and every caller then reuses the returned relation
        # 1-3× (counts + both self-join sides in dedup_ngram_jaccard):
        # one tokenize+distinct pass instead of one per consumer (the
        # r11 plan audit read 15 exchanges on the jaccard key).
        .transform(materialize, "corpus")
    )
    # hot-shingle set is tiny in absolute terms (≤ |shingle rows|/cap,
    # realistically a handful of boilerplate strings) — the anti-join
    # is left unhinted so AQE broadcasts it from runtime shuffle stats.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def _doc_shingle_hashes(
    spark: SparkSession, sf_dir: str, k: int = 3, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, md5-slice32(shingle)) rows — hashing BEFORE the explode
    so downstream aggregation shuffles 16-byte rows, never shingle
    strings, and the hash is the engine-portable md5-slice family so
    every downstream signature stays oracle-checkable.

    Deliberately NOT deduplicated: min() over a multiset equals min()
    over its set, so minhash signatures are identical and skipping the
    distinct saves a full-width shuffle of every shingle row.

    ``words`` is materialized as its own projection first: the shingle
    lambda dereferences it ~3×per shingle, and inlining the split+filter
    tree into every element_at (what CollapseProject would do to a
    cheap alias) re-tokenizes the document hundreds of times per row.
    """
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("words"))
    hashes = F.transform(_shingles(F.col("words"), k), _md5_slice32)
    return explode_nonempty(tokenized, ["doc_id"], hashes, "h")


def _bucket_pairs(bands: DataFrame, key_cols: list[str], payload: str) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs per bucket, single-pass.

    groupBy + collect_list + expression-level pair expansion instead
    of a self-join: the upstream pipeline is computed ONCE (a
    self-join would recompute it per side). Buckets are capped at
    ``MAX_BUCKET`` docs — a bucket bigger than that is a degenerate
    cluster (boilerplate shingle); at 100 TB you drop those hot
    buckets, you don't emit O(m²) pairs from them.
    """
    pair_expr = f"""
        explode(flatten(transform(sequence(0, size(ids) - 2), i ->
            transform(sequence(i + 1, size(ids) - 1), j ->
                struct(ids[i] AS pa, ids[j] AS pb)))))
    """
    return (
        bands.groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_list(payload)), 1, MAX_BUCKET).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.expr(pair_expr).alias("p"))
    )


MAX_BUCKET = 1000


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text.

    Output: one row per doc with its canonical (min) doc_id and a
    duplicate flag. At 100 TB the md5 group key keeps shuffle rows
    narrow (16 bytes + id) instead of shipping full texts.
    """
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(_normalized_text(F.col("text"))).alias("text_hash")
    )
    canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("canonical_doc_id"))
    return (
        hashed.join(canon, "text_hash")
        .select(
            "doc_id",
            "canonical_doc_id",
            (F.col("doc_id") != F.col("canonical_doc_id")).cast("int").alias("is_duplicate"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-word-shingle Jaccard ≥ 0.5 (overlap join).

    The pair join is on the shingle key — cost is Σ df², bounded at
    Σ min(df, SHINGLE_MAX_DF)² by the boilerplate df cap inside
    ``_doc_shingles`` (both the intersection AND the per-doc counts
    use the capped universe, so Jaccard stays an honest ratio over
    the informative shingles); never a cross join.
    """
    sh = _doc_shingles(spark, sf_dir, k=3)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


def dedup_prefix_filter(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family,
    Xiao et al., WWW'08) — same relation as ``dedup_ngram_jaccard``,
    different candidate generation with a PROVABLE completeness
    guarantee (LSH recall is probabilistic; this misses nothing).

    Order every doc's shingles by a global total order (ascending
    document frequency, then shingle — rarest first), and join docs
    only on their first ``n − ceil(τ·n) + 1`` shingles: any pair with
    Jaccard ≥ τ must share a prefix token (if the prefixes were
    disjoint the overlap could not reach ceil(τ·n)), so the candidate
    superset is exact-by-theorem while the join touches only the RARE
    end of each doc. A length filter (2·min(n) ≥ max(n),
    integer-exact for τ = 0.5) prunes size-incompatible pairs inside
    the join condition; candidates are then verified with the same
    candidates-only exact-Jaccard pass as ``contamination_minhash``.

    Semantics note — this runs on the UNCAPPED shingle universe,
    unlike ``dedup_ngram_jaccard``, whose ``SHINGLE_MAX_DF`` cap
    keeps its Σ df² join tractable by DROPPING hot boilerplate
    shingles (an approximation of the similarity itself). Prefix
    filtering is the algorithm you reach for when the TRUE Jaccard is
    required and hot shingles can't be capped away: boilerplate never
    enters a prefix unless a doc consists mostly of it, so the
    candidate join stays rare-token-sized while the full uncapped
    join degenerates on exactly those corpora.

    Oracle: exact Jaccard ≥ 0.5 over the uncapped distinct-shingle
    sets (the ``minhash_jaccard_estimate`` exact-side universe).

    ``docs`` (optional) restricts the corpus — because this relation
    is a pure function of each pair's two texts (uncapped universe;
    the df prefix ORDER affects candidate generation, never the
    verified output), running on a subset yields exactly the full
    relation ∩ subset².
    """
    docs_t = docs if docs is not None else load_table(spark, sf_dir, "documents")
    tokenized = docs_t.select("doc_id", _words(F.col("text")).alias("words"))
    sh = (
        explode_nonempty(
            tokenized, ["doc_id"], _shingles(F.col("words"), 3), "shingle"
        )
        .distinct()
        # consumed 4× (df table, the prefix-array derivation below and
        # BOTH verification self-join sides) — one tokenize+dedup pass
        # instead of one per consumer; the relation is the same
        # distinct (doc, shingle) set every consumer shuffles anyway.
        .transform(materialize, "corpus")
    )
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        sh.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("arr"))
        # reused by prefix explode AND size lookup; one row per doc but
        # the arrays hold every shingle — corpus-sized in bytes.
        .transform(materialize, "corpus")
    )
    n = F.size("arr")
    # τ = 1/2 prefix: p = n − ceil(n/2) + 1, integer-exact
    p = (n - ((n + F.lit(1)) / 2).cast("int") + F.lit(1)).cast("int")
    pre = docs.select(
        "doc_id",
        n.alias("n"),
        F.explode(F.slice("arr", F.lit(1), p)).alias("s"),
    ).select("doc_id", "n", F.col("s.shingle").alias("shingle"))
    cand = (
        pre.alias("x")
        .join(
            pre.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            # length filter: jaccard ≥ 1/2 needs 2·min(n) ≥ max(n)
            & (F.least("x.n", "y.n") * 2 >= F.greatest("x.n", "y.n")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = docs.select("doc_id", n.alias("n_shingles"))
    shd = sh  # already distinct per doc
    inter = (
        cand.join(shd.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            shd.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")),
            "doc_b",
        )
        # threshold on the INTEGER form of J >= 1/2 (i/(na+nb-i) >= 1/2
        # <=> 3i >= na+nb): the prefix+length candidate filters are
        # complete exactly for true J >= tau, so thresholding a rounded
        # float (pre-r07) could admit an oracle row in [tau-5e-7, tau)
        # that candidate generation never produces; rounding is for
        # display only
        .filter(
            F.col("inter") * 3 >= F.col("n_a") + F.col("n_b")
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _minhash_sigs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, m0..m23) minhash signatures: 24 pinned-constant
    permutations of md5-slice32(shingle) reduced mod 2^31-1, as
    whole-stage-codegen'd min() columns. Per-doc pure (no df cap), so
    a ``docs`` subset yields each doc's full-corpus signature."""
    sh = _doc_shingle_hashes(spark, sf_dir, k=3, docs=docs)
    h1 = F.pmod(F.col("h"), F.lit(MERSENNE_P))
    return sh.withColumn("h1", h1).groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(_PERM_A[i]) * F.col("h1") + F.lit(_PERM_B[i]), F.lit(MERSENNE_P))).alias(f"m{i}")
            for i in range(N_PERMS)
        ]
    )


def _minhash_bands(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, sig) LSH band rows — the text near-dup index layout.

    12 bands of 2 signature rows over ``_minhash_sigs``. Every step
    has an exact DuckDB twin (md5 slice + embedded permutation
    constants), so every consumer is oracle-checked. Shared by the
    full-corpus pair join (``dedup_minhash_lsh``), the new-batch probe
    (``dedup_incremental``) and the calibration estimator
    (``minhash_jaccard_estimate``).
    """
    return _bands_from_sigs(_minhash_sigs(spark, sf_dir, docs=docs))


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """The band derivation alone (posexplode of the 12 concat'd
    2-row bands), factored out so a caller holding a materialized
    signature relation can band it WITHOUT re-running the shingle +
    minhash scan (``minhash_jaccard_estimate`` re-derived signatures
    from the corpus once per consumer before this split)."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("_", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "sig"),
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle→minhash→band→bucket-join.

    Output: distinct candidate pairs (doc_a < doc_b). See
    ``_minhash_bands`` for the signature/band derivation. Signatures
    are per-doc pure, so a ``docs`` subset yields the full candidate
    relation ∩ subset² (below any band-bucket cap).
    """
    bands = _minhash_bands(spark, sf_dir, docs=docs)
    return (
        _bucket_pairs(bands, ["band", "sig"], "doc_id")
        .select(F.col("p.pa").alias("doc_a"), F.col("p.pb").alias("doc_b"))
        .distinct()
    )


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration: signature-estimated vs exact Jaccard for
    every LSH candidate pair.

    The audit behind trusting minhash at 100 TB: for each candidate
    pair, the fraction of the 24 permutations whose minima agree is an
    unbiased estimate of Jaccard similarity; this operator reports it
    next to the EXACT Jaccard over the uncapped distinct-shingle sets
    (the universe the signatures actually hash) plus the absolute
    error. Exact-set computation is restricted to the docs appearing
    in candidate pairs (a semi-join BEFORE the shingle self-join), so
    its cost is candidates-sized, never corpus². Fully oracle-checked
    — the md5-slice family makes the whole estimator SQL-expressible.
    """
    # ONE shingle+minhash scan: the persisted signatures feed the
    # band join AND both pair-side lookups (pre-r11 the band join
    # re-derived signatures from the corpus — plan-audited at 9
    # documents scans for this key; now 2: signatures + the
    # candidate-doc tokenize below).
    sigs = materialize(_minhash_sigs(spark, sf_dir), "corpus")
    pairs = (
        _bucket_pairs(_bands_from_sigs(sigs), ["band", "sig"], "doc_id")
        .select(F.col("p.pa").alias("doc_a"), F.col("p.pb").alias("doc_b"))
        .distinct()
        .transform(materialize, "bounded")  # consumed 2× below
    )
    n_match = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int") for i in range(N_PERMS)
    )
    matched = (
        pairs.join(sigs.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sigs.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", n_match.alias("n_match_perms"))
    )
    docs = load_table(spark, sf_dir, "documents")
    cand_docs = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    tokenized = docs.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", _words(F.col("text")).alias("words")
    )
    shd = (
        explode_nonempty(
            tokenized, ["doc_id"], _shingles(F.col("words"), 3), "shingle"
        )
        .distinct()
        # candidate-docs sized; consumed 3× (sizes + both self-join
        # sides) — one tokenize pass instead of three
        .transform(materialize, "bounded")
    )
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shd.alias("sa")
    b = shd.alias("sb")
    inter = (
        a.join(
            b,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    est = F.round(F.col("n_match_perms") / F.lit(float(N_PERMS)), 6)
    exact = F.round(
        F.coalesce(F.col("i"), F.lit(0))
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
        6,
    )
    return (
        matched.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_match_perms").cast("long").alias("n_match_perms"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall audit of the LSH banding against EXACT truth —
    "can I trust minhash on this corpus?", answered with hash-checked
    integers (the dedup-side sibling of ``embedding_knn_eval``).

    Truth = ``dedup_prefix_filter``'s pair set (exact Jaccard ≥ τ over
    the uncapped shingle universe, complete by the prefix-filter
    theorem); candidates = ``dedup_minhash_lsh``'s band-join pairs.
    One full-outer join + one global aggregate produce the confusion
    counts and ppm-scaled precision/recall (integer division over
    exact counts, so the whole report is ORACLE-CHECKED — both pair
    relations already have exact DuckDB twins).

    The operational dial this calibrates: 12 bands × 2 rows gives
    P(candidate | J=τ) ≈ 0.90 in theory; this key measures the
    REALIZED recall on the actual corpus (shingle-set sizes and
    skew move it), and the false-candidate count prices the exact
    verification stage that follows banding. At 100 TB you run this
    on a sampled stratum before committing band parameters to the
    full corpus; both inputs here are the bounded pair relations,
    never all-pairs.
    """
    return _lsh_confusion(
        dedup_prefix_filter(spark, sf_dir), dedup_minhash_lsh(spark, sf_dir)
    )


#: stratum width for the sampled LSH eval: the low 25 slots of the
#: 100-bucket md5 doc_id ring (the train_val_test_split membership
#: discipline — content- and order-independent, append-stable).
LSH_EVAL_STRATUM_PCT = 25


def _doc_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(
        F.pmod(_md5_slice32(F.col("doc_id").cast("string")), F.lit(100))
        < LSH_EVAL_STRATUM_PCT
    )


def dedup_lsh_eval_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_lsh_eval`` on a deterministic md5-ring stratum — the
    eval a 100 TB operator ACTUALLY runs before committing band
    parameters (the full confusion audit is corpus-pair-sized; its
    own docstring prescribes exactly this sampled stratum at scale).

    Stratum = docs whose doc_id lands in the low 25 of 100 md5-ring
    slots; both pair relations then restrict EXACTLY (truth is a pure
    function of each pair's two texts — prefix filtering is complete
    under any df order; minhash signatures are per-doc pure), so the
    stratum report measures the same banding on a ¼ corpus sample
    with ~1/16th the pair work, and every stratum pair relation is a
    subset of its full-corpus twin (pytest-pinned). Oracle: the full
    eval's DuckDB program over the same stratum predicate.
    """
    docs = _doc_stratum(spark, sf_dir)
    return _lsh_confusion(
        dedup_prefix_filter(spark, sf_dir, docs=docs),
        dedup_minhash_lsh(spark, sf_dir, docs=docs),
    )


#: (bands, rows_per_band) configurations swept by ``lsh_band_sweep`` —
#: every factorization of the 24 pinned permutations.
LSH_SWEEP_CONFIGS = ((24, 1), (12, 2), (8, 3), (6, 4))


def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bands × rows) calibration TABLE — the decision artifact
    behind ``N_BANDS = 12  # bands of 2 rows``: for every
    factorization of the 24 pinned permutations (24×1, 12×2, 8×3,
    6×4), the realized candidate count, precision and recall against
    the exact τ=0.5 truth set, all on the deterministic md5-ring
    stratum (``dedup_lsh_eval_stratum``'s universe, so the sweep
    costs 4 band-joins over a ¼ corpus — runnable before committing
    band parameters to 100 TB, which is exactly when you need it).

    The r-rows-per-band dial trades the S-curve's steepness:
    r=1 (24 bands) catches nearly everything and floods the verifier
    with false candidates; r=4 (6 bands) is precise but leaky at
    J≈τ. Theory says P(candidate | J) = 1 − (1 − J^r)^b; this table
    is the measured curve on the actual corpus (shingle-set sizes
    and skew move it) next to the false-candidate count that prices
    the verification stage. Fully ORACLE-CHECKED: signatures are the
    md5-slice32 + pinned-permutation family, truth is the
    prefix-filter relation, ppm ratios are integer division.

    Scale shape: ONE signature aggregation (24 min() columns,
    materialised once), then per config a posexplode + band-bucket
    pair join — never all-pairs; the stratum bounds everything.
    """
    docs = _doc_stratum(spark, sf_dir)
    truth = (
        dedup_prefix_filter(spark, sf_dir, docs=docs)
        .select("doc_a", "doc_b")
        .transform(materialize, "bounded")  # joined once per config
    )
    # the four config rounds below share the one materialization.
    sigs = materialize(_minhash_sigs(spark, sf_dir, docs=docs), "corpus")
    n_true = truth.count()
    out = None
    for n_bands, r in LSH_SWEEP_CONFIGS:
        bands = sigs.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "_", *[F.col(f"m{b * r + j}") for j in range(r)]
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band", "sig"),
        )
        cand = (
            _bucket_pairs(bands, ["band", "sig"], "doc_id")
            .select(F.col("p.pa").alias("doc_a"), F.col("p.pb").alias("doc_b"))
            .distinct()
            .transform(materialize, "bounded")  # counted AND semi-joined
        )
        hits = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
        row = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")).crossJoin(
            hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        ).select(
            F.lit(n_bands).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            "n_candidates",
            "n_hits",
            F.lit(n_true).cast("long").alias("n_true_pairs"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr("(1000000 * n_hits) div n_candidates"),
            )
            .otherwise(F.lit(1000000))
            .cast("long")
            .alias("precision_ppm"),
            (
                F.expr(f"(1000000 * n_hits) div {n_true}")
                if n_true
                else F.lit(1000000)
            )
            .cast("long")
            .alias("recall_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _lsh_confusion(truth_pairs: DataFrame, cand_pairs: DataFrame) -> DataFrame:
    """The confusion-count composition shared by the full and stratum
    LSH evals: one full-outer join of the two pair relations + one
    global aggregate → integer counts and ppm precision/recall."""
    truth = truth_pairs.select("doc_a", "doc_b").withColumn("in_truth", F.lit(1))
    cand = cand_pairs.withColumn("in_lsh", F.lit(1))
    m = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    agg = m.agg(
        F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum("in_lsh"), F.lit(0)).cast("long").alias("n_lsh_pairs"),
        F.coalesce(F.sum(F.col("in_truth") * F.col("in_lsh")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    )
    return agg.select(
        "n_true_pairs",
        "n_lsh_pairs",
        "n_hits",
        (F.col("n_lsh_pairs") - F.col("n_hits")).alias("n_false_candidates"),
        (F.col("n_true_pairs") - F.col("n_hits")).alias("n_missed"),
        F.when(
            F.col("n_lsh_pairs") > 0,
            F.expr("(1000000 * n_hits) div n_lsh_pairs"),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("precision_ppm"),
        F.when(
            F.col("n_true_pairs") > 0,
            F.expr("(1000000 * n_hits) div n_true_pairs"),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("recall_ppm"),
    )


def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row duplication executive summary — the first number
    every curation run reports ("how much of this corpus is
    duplicate, and in what shape?"): total docs, exact-duplicate docs
    and groups, near-dup pair and cluster counts, and the ppm share
    of exact-unique docs. Composes the audited relations
    (``dedup_exact``, ``dedup_ngram_jaccard``, ``dedup_clusters``)
    into bounded 1-row aggregates crossed together (the
    ``corpus_vocab_stats`` 1-row-broadcast shape); every figure is an
    integer, so the whole report is ORACLE-CHECKED against a
    first-principles DuckDB rebuild (exact-dup md5 groups + the
    recursive-CTE clustering).
    """
    total = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    ex = dedup_exact(spark, sf_dir).agg(
        F.sum("is_duplicate").cast("long").alias("n_exact_dup_docs"),
        F.count_distinct(
            F.when(F.col("is_duplicate") == 1, F.col("canonical_doc_id"))
        )
        .cast("long")
        .alias("n_exact_groups"),
    )
    pairs = dedup_ngram_jaccard(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_near_pairs")
    )
    cl = dedup_clusters(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_clustered_docs"),
        F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
    )
    return (
        total.crossJoin(ex)
        .crossJoin(pairs)
        .crossJoin(cl)
        .select(
            "n_docs",
            "n_exact_dup_docs",
            "n_exact_groups",
            "n_near_pairs",
            "n_clustered_docs",
            "n_clusters",
            F.expr("(1000000 * (n_docs - n_exact_dup_docs)) div n_docs")
            .cast("long")
            .alias("exact_unique_ppm"),
        )
    )


#: "today's batch" stand-in for the incremental probe: every 10th doc.
NEW_BATCH_MOD = 10


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: probe ONLY the new batch against the
    existing corpus' LSH band table.

    The daily-ingest shape every production pipeline needs: dedup of
    today's documents must not re-pair the whole corpus against
    itself. The standing corpus bands are the index side (in
    production the partitioned band table
    ``streaming/maintenance.lsh_index_updater`` maintains; derived
    in-query here and materialised to stand in for the index
    read), and the new batch equi-joins it on (band, sig) — cost
    |new|·bands plus true collisions, NEVER corpus². Output: one row
    per (new_doc, corpus_doc) candidate pair — the new docs to drop
    or link before ingest. Batch-internal duplicates are a separate
    tiny pass (run the regular dedup over the batch alone).

    Oracle-checked (md5-slice hash family, see ``_minhash_bands``);
    pytest additionally asserts the pairs equal the full-corpus
    minhash pairs restricted to one-new/one-existing.
    """
    # = the standing index read
    bands = materialize(_minhash_bands(spark, sf_dir), "corpus")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    new = bands.filter(is_new).select(
        "band", "sig", F.col("doc_id").alias("new_doc")
    )
    corpus = bands.filter(~is_new).select(
        "band", "sig", F.col("doc_id").alias("corpus_doc")
    )
    return (
        new.join(corpus, ["band", "sig"])
        .select("new_doc", "corpus_doc")
        .distinct()
    )


#: "held-out benchmark" stand-in for cross-corpus decontamination:
#: doc_id ≡ 7 (mod 13) — disjoint-by-construction from nothing, just a
#: deterministic ~7.7% slice distinct from the NEW_BATCH_MOD split.
DECON_MOD = 13
DECON_REM = 7
#: exact-Jaccard threshold above which a train doc is contaminated.
DECON_TAU = 0.5


def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus fuzzy decontamination: find TRAIN docs that
    near-duplicate any held-out BENCHMARK doc.

    The exact-n-gram contamination keys (``text_contamination``,
    ``contamination_bloom``) catch verbatim benchmark leakage; this is
    the fuzzy tier every published decontamination pipeline layers on
    top (GPT-3 §C, Llama, FineWeb): paraphrased or lightly-edited
    benchmark copies that exact 13-gram matching misses.

    Shape: benchmark-side LSH bands equi-join train-side bands (cost
    |bench|·bands + true collisions, never |train|×|bench|), then the
    candidate pairs — and ONLY the candidates — are verified with
    exact shingle Jaccard (semi-join restriction before the shingle
    join, the ``minhash_jaccard_estimate`` discipline). Output: one
    row per (train_doc, bench_doc) with exact_jaccard ≥ τ — the train
    docs to quarantine before an epoch is cut.

    Fully oracle-checked: md5-slice band family + exact-set Jaccard
    are both SQL-expressible.
    """
    bands = materialize(_minhash_bands(spark, sf_dir), "corpus")
    is_bench = F.col("doc_id") % DECON_MOD == DECON_REM
    bench = bands.filter(is_bench).select(
        "band", "sig", F.col("doc_id").alias("bench_doc")
    )
    train = bands.filter(~is_bench).select(
        "band", "sig", F.col("doc_id").alias("train_doc")
    )
    cand = (
        train.join(bench, ["band", "sig"])
        .select("train_doc", "bench_doc")
        .distinct()
        .transform(materialize, "bounded")  # semi-join AND verify read it
    )
    docs = load_table(spark, sf_dir, "documents")
    cand_docs = (
        cand.select(F.explode(F.array("train_doc", "bench_doc")).alias("doc_id"))
        .distinct()
    )
    tokenized = docs.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", _words(F.col("text")).alias("words")
    )
    shd = (
        explode_nonempty(
            tokenized, ["doc_id"], _shingles(F.col("words"), 3), "shingle"
        )
        .distinct()
        # candidate-docs sized; consumed 3× (sizes + both verify join
        # sides) — one tokenize pass, the minhash_jaccard_estimate
        # discipline applied to the decontamination twin.
        .transform(materialize, "bounded")
    )
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(
            shd.alias("sa"), F.col("train_doc") == F.col("sa.doc_id")
        )
        .join(
            shd.alias("sb"),
            (F.col("bench_doc") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.round(
        F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("train_doc"), F.col("n").alias("na")),
            "train_doc",
        )
        .join(
            sizes.select(F.col("doc_id").alias("bench_doc"), F.col("n").alias("nb")),
            "bench_doc",
        )
        .filter(jac >= DECON_TAU)
        .select("train_doc", "bench_doc", jac.alias("exact_jaccard"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signature, 4×8-bit bands, hamming ≤ 6.

    The signature is 32 conditional-sum aggregate columns (sign of
    weighted bit votes) — pure JVM column math, one shuffle on doc_id.
    Candidates collide on any band; verified by bit_count(xor). The
    word hash is the engine-portable md5-slice32 family, so the entire
    signature→band→pair pipeline oracle-checks against DuckDB.

    r12 (guide §2.4): the per-(doc, word) count pre-aggregation is
    gone — bit votes are occurrence-additive (Σ_words cnt·(±1) ≡
    Σ_occurrences ±1, exact integers), so ONE groupBy(doc_id) over
    the raw token explode computes the identical signature with ONE
    token-scale shuffle instead of two; partial (map-side)
    aggregation reduces the shuffle to 32 partial sums per doc per
    map task. The oracle (and every emitted row) is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word").select(
        "doc_id", _md5_slice32(F.col("word")).alias("wh")
    )
    bit_votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("wh"), b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    sigs = occ.groupBy("doc_id").agg(*bit_votes).select(
        "doc_id",
        sum(
            (F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(SIMHASH_BITS)),
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * band_width)
                    .bitwiseAND(F.lit((1 << band_width) - 1))
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "code"),
    )
    pairs = (
        _bucket_pairs(
            bands.withColumn("payload", F.struct("doc_id", "simhash")),
            ["band", "code"],
            "payload",
        )
        .select(
            F.col("p.pa.doc_id").alias("doc_a"),
            F.col("p.pb.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("p.pa.simhash").bitwiseXOR(F.col("p.pb.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    return pairs


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.45).

    All-pairs baseline for calibration; the 100 TB path is LSH
    bucketing (similarity.ann_lsh_topk). Dot products are the JVM-side
    ``similarity._dot``/``_norm`` folds over array<double>.
    """
    from .similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = emb.withColumn("norm", _norm(F.col("v")))
    a = e.alias("a")
    b = e.alias("b")
    dot = _dot(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6))
        .filter(F.col("cosine") >= EMBED_TAU)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: connected components over Jaccard pairs.

    Pair lists aren't actionable for dedup until they're clustered
    (keep one doc per component). Components come from iterative
    min-label propagation — label(v) ← min(label(v), min over
    neighbors) — which converges in ≤ graph-diameter rounds; dup
    clusters are near-cliques, so 2-3 rounds in practice. Each round
    is one join + one aggregate, all DataFrame ops; the loop's only
    driver-side value is the converged? count, and lineage is cut per
    round with localCheckpoint so plans stay flat.

    Oracle: DuckDB recursive CTE computing min-reachable-id — genuinely
    SQL-expressible, so this iterative op IS hash-checked.

    Output: (doc_id, cluster_id) for every doc in ≥1 near-dup pair,
    cluster_id = min doc_id of its component.

    r09: the labels are corpus state — served from the per-(corpus,
    algorithm) materialization (``_components_cached``), so the six
    component-consuming keys (clusters / twostar / sizes / canonical /
    report / leakage split) cluster ONCE per corpus per algorithm, not
    once per key. Cached and fresh runs are byte-identical: the
    converged labels are the unique (node → component-min) relation.
    """
    return _components_cached(spark, sf_dir, "minlabel")


def _minlabel_components(pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over a (doc_a, doc_b) pair
    frame → (doc_id, cluster_id); the algorithm body of
    :func:`dedup_clusters` (see its docstring)."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).transform(materialize, "iterative")
    labels = (
        edges.select(F.col("doc_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(materialize, "iterative")
    )
    for _ in range(20):  # ≥ any realistic dup-cluster diameter
        nbr = (
            edges.join(labels, edges.doc_b == labels.id)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.id == nbr.doc_a, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .transform(materialize, "iterative")
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _components_cached(
    spark: SparkSession, sf_dir: str, algorithm: str
) -> DataFrame:
    """The near-dup components relation (doc_id, cluster_id),
    materialized once per (corpus, algorithm) — the
    ``graph._pairs_cached`` design applied one level up the dedup
    stack. Six registered keys consume this relation (the two cluster
    keys, sizes, canonical, the corpus report, the leakage-safe
    split); before r09 each re-ran the iterative clustering from the
    pair join. Components are corpus state exactly like the edge
    table: built once under the index root, published with a
    first-writer-wins atomic manifest commit (os.link fails if a
    concurrent first-query committed first; the loser discards its
    build and reads the winner's), and re-read as parquet afterwards.
    Byte-deterministic: both algorithms converge to the unique
    (node → component-min) labelling, so cached and fresh runs return
    identical rows. The pair input comes from the SAME materialized
    edge table the graph family shares — one shingle self-join per
    corpus serves pagerank, k-core, LPA, triangles AND clustering."""
    import os

    from .ann_index import publish_create_once

    def build() -> DataFrame:
        from .graph import _pairs_cached

        pairs = _pairs_cached(spark, sf_dir)
        if algorithm == "twostar":
            return star_components(pairs).select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            )
        if algorithm == "minlabel":
            return _minlabel_components(pairs)
        raise ValueError(f"unknown components algorithm: {algorithm}")  # pragma: no cover

    root = os.path.join(
        index_base_dir(),
        "samza_spark_components",
        sf_dir.strip("/").replace("/", "_"),
        algorithm,
    )
    return publish_create_once(spark, root, build)


#: hard cap on alternating star rounds — the algorithm converges in
#: O(log n) rounds with high probability; 40 covers n ≈ 2^40 nodes
#: with a wide margin, so hitting the cap means a logic bug, not a
#: big graph, and we fail loudly instead of returning partial labels.
_TWOSTAR_MAX_ROUNDS = 40


def dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star / small-star.

    Same output contract as :func:`dedup_clusters` (every doc in a
    near-dup pair labelled with its component's min doc_id) but the
    round count is O(log n) in the NODE count instead of O(diameter):
    each round contracts the component trees toward their minima, so
    a path of length 2^k collapses in ~k rounds where min-label
    propagation needs 2^k. Dup clusters are usually near-cliques
    (diameter 2-3) where both converge fast — this variant is the one
    that survives the pathological chain topologies a 100 TB corpus
    will eventually contain (serial re-posts, quote chains).

    Per round, each phase is groupBy-min + join-back — no
    collect_list, so a hub node with millions of neighbours never
    materialises one giant row; the shuffle key is the node id and
    AQE handles the skew. Lineage is cut per round (localCheckpoint);
    convergence is detected by an order-insensitive edge-set
    signature (count + bit_xor of xxhash64), one tiny aggregate per
    round.

    Reference: Kiveris et al., "Connected Components in MapReduce and
    Beyond" (SoCC'14) — the production-scale CC algorithm.

    Oracle: identical to dedup_clusters (DuckDB recursive CTE) — the
    two implementations must agree bit-for-bit.

    r09: served from the per-(corpus, algorithm) materialization —
    see :func:`_components_cached`; ``leakage_safe_split`` reads the
    same committed relation instead of re-clustering.
    """
    return _components_cached(spark, sf_dir, "twostar")


def star_components(pairs: DataFrame) -> DataFrame:
    """Alternating large-star/small-star CC over a (doc_a, doc_b) pair
    frame → (id, label) with label = component min. The reusable core
    of :func:`dedup_clusters_twostar`; see its docstring for the
    algorithm and scale contract. Sets ``star_components.last_rounds``
    for test introspection of the round count."""
    nodes = (
        pairs.select(F.col("doc_a").alias("id"))
        .union(pairs.select("doc_b"))
        .distinct()
        .transform(materialize, "iterative")
    )
    # canonical child>parent edges (string order matches the oracle's)
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize, "iterative")
    )

    def _signature(e: DataFrame) -> tuple:
        # bit_xor is order-insensitive and overflow-free (edges are
        # distinct, so xor-cancellation of duplicates can't occur)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = _signature(edges)
    rounds = 0
    for _ in range(_TWOSTAR_MAX_ROUNDS):
        rounds += 1
        # large-star: around every centre c, hook each LARGER
        # neighbour to min(N(c) ∪ {c})
        bidir = edges.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            edges.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = bidir.groupBy("c").agg(F.min("n").alias("mn"))
        mins = mins.select("c", F.least("mn", "c").alias("m"))
        edges = (
            bidir.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .transform(materialize, "iterative")
        )
        # small-star: around every centre c, hook c and all its
        # SMALLER neighbours to the minimum among them
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            edges.join(mins, "u")
            .select(F.col("v").alias("x"), "m", "u")
            .select(
                F.explode(F.array(F.col("x"), F.col("u"))).alias("u"),
                F.col("m").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(materialize, "iterative")
        )
        sig = _signature(edges)
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(
            f"two-star CC did not converge in {_TWOSTAR_MAX_ROUNDS} rounds"
        )
    star_components.last_rounds = rounds
    # at the star fixpoint every non-root is edged directly to its
    # component's min; roots appear only on the v side
    return (
        nodes.join(edges, nodes.id == edges.u, "left")
        .select(
            "id",
            F.coalesce(F.col("v"), F.col("id")).alias("label"),
        )
    )


CHUNK_WORDS = 10


def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style sub-document exact dedup: remove repeated
    fixed-size word chunks, keeping only the corpus-first occurrence.

    Whole-document dedup (dedup_exact) misses boilerplate repeated
    *inside* otherwise-distinct documents; the standard curation fix
    splits each document into disjoint k-word chunks, keeps one copy of
    each distinct chunk corpus-wide (first occurrence in (doc_id,
    chunk_pos) order), and reassembles the surviving text.

    Scale design: chunks are built ARRAY-SIDE (one ``transform`` over a
    precomputed words column — no word-level explode, no word-level
    shuffle, no string_agg regroup), so the only explode is 1/k the
    word count. The first-occurrence winner is ``min(struct(doc_id,
    grp, chunk))`` grouped by the chunk's xxhash64: (doc_id, grp) is
    unique per row, so the struct min IS the first occurrence, and the
    winning chunk text rides along inside the aggregate — the winner
    rows need NO join back to the exploded chunks (one shuffle on an
    8-byte key instead of shuffle + wide re-join). The per-doc chunk
    counts aggregate a text-free projection. At 100 TB every stage is
    an equi-shuffle on a compact key; nothing is quadratic in corpus
    size.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = CHUNK_WORDS
    words = docs.select("doc_id", _words(F.col("text")).alias("words"))
    chunked = words.select(
        "doc_id",
        F.posexplode(
            # guard: sequence(0, -1) is DESCENDING in Spark, so an empty
            # words array must short-circuit to an empty chunk list.
            F.when(F.size("words") == 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("words") / k).cast("int") - 1,
                    ),
                    lambda i: F.concat_ws(" ", F.slice("words", i * k + 1, k)),
                )
            )
        ).alias("grp", "chunk"),
    ).withColumn("h", F.xxhash64("chunk"))
    kept = chunked.groupBy("h").agg(
        F.min(F.struct("doc_id", "grp", "chunk")).alias("first_at")
    ).select(
        F.col("first_at.doc_id").alias("doc_id"),
        F.col("first_at.grp").alias("grp"),
        F.col("first_at.chunk").alias("chunk"),
    )
    per_doc = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("grp", "chunk"))),
                lambda s: s.chunk,
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # per-doc totals need no explode: n_chunks is array math on the
    # words column (a second column-pruned scan, not a re-aggregation
    # of the exploded chunks).
    counts = words.select(
        "doc_id",
        F.ceil(F.size("words") / k).cast("bigint").alias("n_chunks"),
    ).filter(F.col("n_chunks") > 0)
    return counts.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


WINDOW_WORDS = 50


def window_fingerprints(words_df: DataFrame, w: int = WINDOW_WORDS) -> DataFrame:
    """(doc_id, pos, h) stride-1 window fingerprints from a
    (doc_id, words) relation — md5 of each w-word window, hashed
    in-row before the positional explode. Shared by the batch
    ``dedup_window_exact`` and the streaming fingerprint-index fold
    (``streaming.maintenance.window_fingerprint_updater``)."""
    wins_arr = F.when(
        F.size("words") >= w,
        F.transform(
            F.sequence(F.lit(0), F.size("words") - w),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice("words", i + 1, w))).alias("h"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<pos INT, h STRING>>)"))
    return explode_nonempty(words_df, ["doc_id"], wins_arr, "w").select(
        "doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")
    )


def dedup_window_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style exact substring dedup: stride-1 50-word window
    fingerprints, winner-take-first, covered words removed.

    ``dedup_chunk_exact``'s fixed chunk grid misses duplicated spans
    that straddle a chunk boundary (deduplicate-text-datasets' core
    observation); the fix fingerprints EVERY 50-word window (stride 1),
    keeps the corpus-first occurrence of each fingerprint in
    (doc_id, pos) order, and removes each word covered by some
    non-first window occurrence. A duplicated run of L ≥ 50 words is
    thereby removed in full from every later copy (all its positions
    are covered) while the first copy survives untouched — span
    boundaries need no special casing.

    Scale shape: stride-1 windows are ~n_words rows per doc (the
    explode is positional, not ×W), hashed BEFORE the explode into
    16-byte md5 keys; first-occurrence resolution is a min(struct)
    window over the hash — ONE equi-shuffle on the hash, no join back
    (same trick as dedup_chunk_exact's winner aggregate). Coverage is
    computed ARRAY-SIDE per doc (exists() over the doc's duplicate
    starts), never a word-level interval join. Hashing cost is
    O(n·W) chars — the Karp–Rabin rolling recurrence would make it
    O(n), but it is sequential per doc and not SQL-portable; at 100 TB
    you'd swap it in via one mapInPandas pass, keeping every stage
    after the fingerprint column identical. md5 keeps the whole
    pipeline oracle-checkable (engine-portable hash family).
    """
    w = WINDOW_WORDS
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", _words(F.col("text")).alias("words")).filter(
        F.size("words") > 0
    )
    wins = window_fingerprints(words, w)
    first_at = F.min(F.struct("doc_id", "pos")).over(Window.partitionBy("h"))
    dups = (
        wins.withColumn("first_at", first_at)
        .filter(
            (F.col("doc_id") != F.col("first_at.doc_id"))
            | (F.col("pos") != F.col("first_at.pos"))
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("dup_starts"))
    )
    # position p is removed iff covered by a duplicate window:
    # ∃ d ∈ dup_starts with d ≤ p < d + w
    surv = F.filter(
        F.sequence(F.lit(0), F.size("words") - 1),
        lambda p: ~F.exists(
            "dup_starts", lambda d: (d <= p) & (p < d + w)
        ),
    )
    return (
        words.join(dups, "doc_id", "left")
        .withColumn(
            "dup_starts",
            F.coalesce("dup_starts", F.expr("CAST(array() AS ARRAY<INT>)")),
        )
        .withColumn("surv", surv)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("surv", lambda p: F.element_at("words", p + 1))
            ).alias("clean_text"),
            F.size("words").cast("long").alias("n_words"),
            (F.size("words") - F.size("surv")).cast("long").alias("n_removed"),
        )
    )


def dedup_window_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time substring dedup: probe ONLY the new batch's window
    fingerprints against the standing corpus fingerprint index.

    The daily-ingest twin of ``dedup_window_exact`` (same shape as
    ``dedup_incremental`` vs ``dedup_minhash_lsh``): the corpus index
    is the h → owner winner table ``streaming.maintenance
    .window_fingerprint_updater`` maintains (derived in-query here and
    materialised to stand in for the index read), and the new
    batch's windows equi-join it on the 16-byte hash — cost
    |new|·windows + hits, NEVER corpus². Output: one row per new doc
    that has ≥1 window — its window count, how many windows hit a
    corpus-owned span, and how many distinct corpus docs own those
    spans (the triage row an ingest gate acts on).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", _words(F.col("text")).alias("words")).filter(
        F.size("words") > 0
    )
    # ONE fingerprint explode for the whole key: `wins` feeds the
    # index derivation AND the new batch's two consumers (probe join,
    # per-doc totals) — pre-r11 each consumer re-ran the corpus-wide
    # tokenize+window-hash scan.
    wins = materialize(window_fingerprints(words), "corpus")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    idx = (
        wins.filter(~is_new)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first_at"))
        .select("h", F.col("first_at.doc_id").alias("owner"))
        # = the standing index read; one row per distinct window hash
        .transform(materialize, "corpus")
    )
    new_win = wins.filter(is_new)
    hits = new_win.join(idx, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.count_distinct("owner").alias("n_owner_docs"),
    )
    base = new_win.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_owner_docs", F.lit(0)).cast("long").alias("n_owner_docs"),
    )


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster.

    Clustering alone doesn't curate — the pipeline must pick which
    copy to KEEP. Standard policy: the longest document wins (most
    content preserved), doc_id breaks ties deterministically. One row
    per cluster: the canonical doc, the cluster size, and how many
    duplicate docs get dropped.

    The rank window partitions by cluster_id — near-dup components
    are small by construction (bounded by MAX_BUCKET upstream), so
    per-partition load is bounded; cluster sizes come from the same
    joined frame (one shuffle on cluster_id serves both the window
    and the aggregate).
    """
    labels = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    canon = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").alias("canonical_chars"),
        )
    )
    sizes = j.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return canon.join(sizes, "cluster_id").select(
        "cluster_id",
        "canonical_doc_id",
        "canonical_chars",
        "n_docs",
        (F.col("n_docs") - 1).alias("n_dropped"),
    )


#: fuzzy-dedup knobs: compare the first 64 chars of normalized text,
#: call pairs duplicates at edit distance ≤ 12.
FUZZY_PREFIX = 64
FUZZY_MAX_DIST = 12


def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with q-gram blocking.

    The record-linkage classic: candidate pairs come from a shared
    3-word shingle (the same bounded equi-join as the jaccard pass —
    never all-pairs), then the expensive O(n·m) ``levenshtein`` runs
    only on the surviving candidates' fixed-length normalized
    prefixes. Blocking is recall-lossy by design (a pair sharing NO
    shingle is never compared) — the standard trade; at 100 TB the
    unblocked alternative simply doesn't exist. Both engines implement
    unit-cost Wagner-Fischer, so the distances — and the pair set —
    match exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir, k=3)
    # single-pass bucket expansion (as in minhash): the shingle pipeline
    # is computed ONCE, not re-derived per self-join side; pairs are
    # ordered (ids array-sorted) so doc_a < doc_b by construction.
    cand = (
        _bucket_pairs(sh, ["shingle"], "doc_id")
        .select(F.col("p.pa").alias("doc_a"), F.col("p.pb").alias("doc_b"))
        .distinct()
    )
    prefixes = docs.select(
        "doc_id",
        F.substring(_normalized_text(F.col("text")), 1, FUZZY_PREFIX).alias("p"),
    )
    pa = prefixes.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    pb = prefixes.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("edit_distance", F.levenshtein(F.col("pa"), F.col("pb")))
        .filter(F.col("edit_distance") <= FUZZY_MAX_DIST)
        .select("doc_a", "doc_b", F.col("edit_distance").cast("long").alias("edit_distance"))
    )


def _synth_url() -> F.Column:
    """Deterministic crawl-style URL per doc (the corpus carries no URL
    column; like the PII trailer, both engines derive the same string
    from (source, lang, doc_id) so canonicalization is oracle-checkable).
    ``doc_id % 40`` makes distinct fetches of the same logical page."""
    return F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/"),
        F.col("lang"),
        F.lit("/page-"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&utm_campaign=c"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&session="),
        F.col("doc_id").cast("string"),
    )


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup via canonicalization.

    The first dedup pass of every web pipeline: strip scheme and
    ``www.``, lowercase the host, drop the query string (tracking
    params) and the trailing slash — then one groupBy(canonical) keeps
    the earliest fetch. Canonicalization is three chained
    ``regexp_replace`` in one codegen'd projection; the shuffle moves
    (canonical, doc_id) — never payloads. Output: one row per
    canonical URL with its keeper and the duplicate-fetch count.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("url", _synth_url())
    no_scheme = F.regexp_replace(F.col("url"), r"(?i)^https?://(www\.)?", "")
    no_query = F.regexp_replace(no_scheme, r"\?.*$", "")
    no_slash = F.regexp_replace(no_query, r"/$", "")
    host = F.regexp_extract(no_slash, r"^([^/]*)", 1)
    path = F.regexp_replace(no_slash, r"^[^/]*", "")
    canonical = F.concat(F.lower(host), path)
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
        )
    )



def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution (the dedup audit summary).

    "How much duplication is there, and in what shape?" — the
    histogram of connected-component sizes over the jaccard-pair
    graph: one row per cluster size with the cluster count and total
    docs tied up in clusters of that size. Reuses ``dedup_clusters``
    (iterative min-label; only the converged labels reach this
    aggregate) and is integer-exact end to end; the oracle extends
    the same recursive-CTE clustering.
    """
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )

_SHINGLES_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(words) - 2),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        FROM w
    ),
    -- mirror of the Spark-side SHINGLE_MAX_DF boilerplate cap
    sh AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM sh_all)
        WHERE df <= {SHINGLE_MAX_DF}
    )
"""

#: shared recursive-CTE prefix: jaccard pairs → connected components,
#: ending with a `clusters(doc_id, cluster_id)` CTE ready to extend.
_CLUSTERS_CTE = _SHINGLES_SQL.replace("WITH", "WITH RECURSIVE", 1) + """
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    clusters AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    )
"""

#: the one-row duplication summary: exact-dup md5 groups + near-dup
#: pair/cluster counts over the recursive-CTE clustering.
_DEDUP_REPORT_SQL = (
    _CLUSTERS_CTE
    + """
    , hashed AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS th
        FROM documents
    ),
    canon AS (SELECT th, min(doc_id) AS c FROM hashed GROUP BY th),
    ex AS (
        SELECT
          CAST(coalesce(sum(CASE WHEN h.doc_id <> cn.c THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_exact_dup_docs,
          CAST(count(DISTINCT CASE WHEN h.doc_id <> cn.c THEN cn.c END)
               AS BIGINT) AS n_exact_groups
        FROM hashed h JOIN canon cn ON h.th = cn.th
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        ex.n_exact_dup_docs,
        ex.n_exact_groups,
        (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_near_pairs,
        (SELECT CAST(count(*) AS BIGINT) FROM clusters) AS n_clustered_docs,
        (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM clusters)
            AS n_clusters,
        CAST((1000000 * ((SELECT count(*) FROM documents)
                         - ex.n_exact_dup_docs))
             // (SELECT count(*) FROM documents) AS BIGINT)
            AS exact_unique_ppm
    FROM ex
"""
)

#: DuckDB twin of ``_md5_slice32`` (see its docstring).
_MD5_SLICE32_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"

#: shared tokenize CTE (the Spark ``_words`` twin, no shingle cap).
_WORDS_CTE = r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
        FROM documents
    )
"""

_SIMHASH_VOTE_COLS = ",\n               ".join(
    f"sum(CASE WHEN (wh >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_SIG_EXPR = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
)
_SIMHASH_BAND_W = SIMHASH_BITS // SIMHASH_BANDS

_SIMHASH_SQL = f"""{_WORDS_CTE}
    , wc AS (
        SELECT doc_id, word, count(*) AS cnt
        FROM (SELECT doc_id, unnest(words) AS word FROM w)
        GROUP BY doc_id, word
    ),
    wh AS (
        SELECT doc_id, cnt, {_MD5_SLICE32_SQL.format(x="word")} AS wh
        FROM wc
    ),
    votes AS (
        SELECT doc_id,
               {_SIMHASH_VOTE_COLS}
        FROM wh GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, CAST({_SIMHASH_SIG_EXPR} AS BIGINT) AS simhash
        FROM votes
    ),
    bands AS (
        SELECT doc_id, simhash, CAST(i AS INT) AS band,
               (simhash >> ({_SIMHASH_BAND_W} * i)) & {(1 << _SIMHASH_BAND_W) - 1} AS code
        FROM sigs, (SELECT unnest(range({SIMHASH_BANDS})) AS i) t
    ),
    capped AS (
        SELECT band, code, doc_id, simhash FROM (
            SELECT band, code, doc_id, simhash,
                   row_number() OVER (PARTITION BY band, code ORDER BY doc_id) AS rn
            FROM bands)
        WHERE rn <= {MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
    FROM capped a
    JOIN capped b ON a.band = b.band AND a.code = b.code AND a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= {SIMHASH_MAX_HAMMING}
"""

_MINHASH_MIN_COLS = ",\n               ".join(
    f"min(({_PERM_A[i]} * h1 + {_PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
    for i in range(N_PERMS)
)
_MINHASH_BAND_SELECTS = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"CAST(m{2 * b} AS VARCHAR) || '_' || CAST(m{2 * b + 1} AS VARCHAR) AS sig FROM mins"
    for b in range(N_BANDS)
)

#: minhash band derivation — multiset shingles (no DISTINCT, no df
#: cap: min over a multiset = min over its set), md5-slice32 hash,
#: pinned permutation constants embedded verbatim.
_MINHASH_BANDS_CTE = f"""{_WORDS_CTE}
    , shm AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(words) - 2),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        FROM w
    ),
    h AS (
        SELECT doc_id, {_MD5_SLICE32_SQL.format(x="shingle")} % {MERSENNE_P} AS h1
        FROM shm
    ),
    mins AS (
        SELECT doc_id,
               {_MINHASH_MIN_COLS}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_SELECTS}
    )
"""

_MINHASH_LSH_SQL = f"""{_MINHASH_BANDS_CTE}
    , capped AS (
        SELECT band, sig, doc_id FROM (
            SELECT band, sig, doc_id,
                   row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
            FROM bands)
        WHERE rn <= {MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a
    JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""

_MINHASH_INCREMENTAL_SQL = f"""{_MINHASH_BANDS_CTE}
    SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
    FROM bands n
    JOIN bands c ON n.band = c.band AND n.sig = c.sig
    WHERE n.doc_id % {NEW_BATCH_MOD} = 0 AND c.doc_id % {NEW_BATCH_MOD} <> 0
"""

_CONTAM_MINHASH_SQL = f"""{_MINHASH_BANDS_CTE}
    , cand AS (
        SELECT DISTINCT t.doc_id AS train_doc, b.doc_id AS bench_doc
        FROM bands t
        JOIN bands b ON t.band = b.band AND t.sig = b.sig
        WHERE b.doc_id % {DECON_MOD} = {DECON_REM}
          AND t.doc_id % {DECON_MOD} <> {DECON_REM}
    ),
    shd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM shm),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.train_doc, c.bench_doc, count(*) AS i
        FROM cand c
        JOIN shd a ON a.doc_id = c.train_doc
        JOIN shd b ON b.doc_id = c.bench_doc AND a.shingle = b.shingle
        GROUP BY 1, 2
    )
    SELECT i.train_doc, i.bench_doc,
           round(i.i / (na.n + nb.n - i.i), 6) AS exact_jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.train_doc
    JOIN sizes nb ON nb.doc_id = i.bench_doc
    WHERE round(i.i / (na.n + nb.n - i.i), 6) >= {DECON_TAU}
"""

_MATCH_TERMS = " + ".join(
    f"CAST(a.m{i} = b.m{i} AS INT)" for i in range(N_PERMS)
)

_MINHASH_EST_SQL = f"""{_MINHASH_BANDS_CTE}
    , capped AS (
        SELECT band, sig, doc_id FROM (
            SELECT band, sig, doc_id,
                   row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
            FROM bands)
        WHERE rn <= {MAX_BUCKET}
    ),
    cpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    matched AS (
        SELECT p.doc_a, p.doc_b, ({_MATCH_TERMS}) AS n_match
        FROM cpairs p
        JOIN mins a ON a.doc_id = p.doc_a
        JOIN mins b ON b.doc_id = p.doc_b
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM shm),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS i
        FROM cpairs p
        JOIN shd a ON a.doc_id = p.doc_a
        JOIN shd b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
        GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.n_match AS BIGINT) AS n_match_perms,
           round(m.n_match / {float(N_PERMS)}, 6) AS est_jaccard,
           round(coalesce(i.i, 0) / (na.n + nb.n - coalesce(i.i, 0)), 6)
               AS exact_jaccard,
           round(abs(round(m.n_match / {float(N_PERMS)}, 6)
                     - round(coalesce(i.i, 0)
                             / (na.n + nb.n - coalesce(i.i, 0)), 6)), 6)
               AS abs_err
    FROM matched m
    LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
    JOIN sizes na ON na.doc_id = m.doc_a
    JOIN sizes nb ON nb.doc_id = m.doc_b
"""

#: LSH-vs-exact confusion counts — candidate pairs (capped band join,
#: the _MINHASH_LSH_SQL relation) against the exact τ=0.5 truth set
#: over the uncapped distinct-shingle universe (the dedup_prefix_filter
#: oracle relation, integer 3i >= na+nb threshold). ppm ratios are
#: integer division, so the whole report hash-matches.
_LSH_EVAL_SQL = f"""{_MINHASH_BANDS_CTE}
    , capped AS (
        SELECT band, sig, doc_id FROM (
            SELECT band, sig, doc_id,
                   row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
            FROM bands)
        WHERE rn <= {MAX_BUCKET}
    ),
    cpairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sh_all AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM shm),
    counts AS (SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh_all a
        JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE 3 * i >= na.n + nb.n
    ),
    stats AS (
        SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
               (SELECT count(*) FROM cpairs) AS n_lsh_pairs,
               (SELECT count(*) FROM truth t
                JOIN cpairs c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                   AS n_hits
    )
    SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_lsh_pairs AS BIGINT) AS n_lsh_pairs,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_lsh_pairs - n_hits AS BIGINT) AS n_false_candidates,
           CAST(n_true_pairs - n_hits AS BIGINT) AS n_missed,
           CAST(CASE WHEN n_lsh_pairs > 0
                     THEN (1000000 * n_hits) // n_lsh_pairs
                     ELSE 1000000 END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN n_true_pairs > 0
                     THEN (1000000 * n_hits) // n_true_pairs
                     ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM stats
"""

_WINDOW_EXACT_SQL = f"""{_WORDS_CTE}
    , wnz AS (SELECT doc_id, words FROM w WHERE len(words) > 0),
    win AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(words[i:i + {WINDOW_WORDS} - 1], ' ')) AS h
        FROM wnz, unnest(generate_series(1, len(words) - {WINDOW_WORDS} + 1)) AS t(i)
    ),
    dups AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM win)
        WHERE rn > 1
    ),
    positions AS (
        SELECT doc_id, p - 1 AS p, words[p] AS word
        FROM wnz, unnest(generate_series(1, len(words))) AS t(p)
    ),
    removed AS (
        SELECT DISTINCT positions.doc_id, p
        FROM positions
        JOIN dups d ON positions.doc_id = d.doc_id
                   AND p BETWEEN d.pos AND d.pos + {WINDOW_WORDS} - 1
    ),
    kept AS (
        SELECT po.doc_id, po.p, po.word
        FROM positions po
        ANTI JOIN removed r ON po.doc_id = r.doc_id AND po.p = r.p
    ),
    perdoc AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS clean_text,
               count(*) AS n_surv
        FROM kept GROUP BY doc_id
    )
    SELECT wnz.doc_id,
           coalesce(perdoc.clean_text, '') AS clean_text,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(words) - coalesce(n_surv, 0) AS BIGINT) AS n_removed
    FROM wnz LEFT JOIN perdoc ON wnz.doc_id = perdoc.doc_id
"""

_WINDOW_INCREMENTAL_SQL = f"""{_WORDS_CTE}
    , wnz AS (SELECT doc_id, words FROM w WHERE len(words) > 0),
    win AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(words[i:i + {WINDOW_WORDS} - 1], ' ')) AS h
        FROM wnz, unnest(generate_series(1, len(words) - {WINDOW_WORDS} + 1)) AS t(i)
    ),
    idx AS (
        SELECT h, doc_id AS owner FROM (
            SELECT h, doc_id,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM win WHERE doc_id % {NEW_BATCH_MOD} <> 0)
        WHERE rn = 1
    ),
    new_win AS (SELECT * FROM win WHERE doc_id % {NEW_BATCH_MOD} = 0),
    hits AS (
        SELECT n.doc_id, count(*) AS n_dup_windows,
               count(DISTINCT i.owner) AS n_owner_docs
        FROM new_win n JOIN idx i USING (h)
        GROUP BY n.doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_windows AS BIGINT) AS n_windows,
           CAST(coalesce(h.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(h.n_owner_docs, 0) AS BIGINT) AS n_owner_docs
    FROM (SELECT doc_id, count(*) AS n_windows FROM new_win GROUP BY doc_id) b
    LEFT JOIN hits h ON b.doc_id = h.doc_id
"""

_URL_SQL = (
    "'https://WWW.' || source || '.Example.COM/' || lang || '/page-' || "
    "CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&utm_campaign=c' || "
    "CAST(doc_id % 7 AS VARCHAR) || '&session=' || CAST(doc_id AS VARCHAR)"
)

#: DuckDB twin of the md5-ring stratum predicate (_doc_stratum).
_STRATUM_PRED_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % 100 < {LSH_EVAL_STRATUM_PCT}"
)

#: the full eval's oracle program restricted to the stratum at the
#: docs source — the exact restriction both Spark relations make.
_LSH_EVAL_STRATUM_SQL = _LSH_EVAL_SQL.replace(
    "FROM documents", f"FROM documents WHERE {_STRATUM_PRED_SQL}", 1
)


def _band_sweep_sql() -> str:
    """The (bands × rows) sweep replayed in DuckDB: one mins CTE over
    the stratum, per-config band rows + capped bucket pair join, the
    prefix-filter truth relation, and one UNION ALL row per config."""
    per_config = []
    for n_bands, r in LSH_SWEEP_CONFIGS:
        tag = f"b{n_bands}r{r}"
        selects = "\n            UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            + " || '_' || ".join(
                f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r)
            )
            + " AS sig FROM mins"
            for b in range(n_bands)
        )
        per_config.append(
            f"""bands_{tag} AS (
            {selects}
        ),
        capped_{tag} AS (
            SELECT band, sig, doc_id FROM (
                SELECT band, sig, doc_id,
                       row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
                FROM bands_{tag})
            WHERE rn <= {MAX_BUCKET}
        ),
        cand_{tag} AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped_{tag} a
            JOIN capped_{tag} b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        )"""
        )
        per_config.append(
            f"""stats_{tag} AS (
            SELECT (SELECT count(*) FROM cand_{tag}) AS n_candidates,
                   (SELECT count(*) FROM cand_{tag} c
                    JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                       AS n_hits
        )"""
        )
    rows = "\n        UNION ALL ".join(
        f"""SELECT CAST({n_bands} AS BIGINT) AS bands,
               CAST({r} AS BIGINT) AS rows_per_band,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_hits AS BIGINT) AS n_hits,
               (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
               CAST(CASE WHEN n_candidates > 0
                         THEN (1000000 * n_hits) // n_candidates
                         ELSE 1000000 END AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
                         THEN (1000000 * n_hits) // (SELECT count(*) FROM truth)
                         ELSE 1000000 END AS BIGINT) AS recall_ppm
        FROM stats_b{n_bands}r{r}"""
        for n_bands, r in LSH_SWEEP_CONFIGS
    )
    # mins + the truth relation over the SAME stratum universe:
    # sh_all/counts/inter reuse the eval program's CTE names.
    truth_cte = """sh_all AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM shm),
        counts AS (SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh_all a
            JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS MATERIALIZED (
            SELECT doc_a, doc_b
            FROM inter
            JOIN counts na ON na.doc_id = doc_a
            JOIN counts nb ON nb.doc_id = doc_b
            WHERE 3 * i >= na.n + nb.n
        )"""
    base = _MINHASH_BANDS_CTE.replace(
        "FROM documents", f"FROM documents WHERE {_STRATUM_PRED_SQL}", 1
    )
    # drop the default 12×2 bands CTE from the base chain (each config
    # builds its own); keep w/shm/h/mins.
    base = base.split(",\n    bands AS (")[0]
    return (
        base
        + ",\n        "
        + truth_cte
        + ",\n        "
        + ",\n        ".join(per_config)
        + "\n        "
        + rows
    )


_LSH_BAND_SWEEP_SQL = _band_sweep_sql()

ORACLES: dict[str, str] = {
    "dedup_simhash": _SIMHASH_SQL,
    "dedup_window_exact": _WINDOW_EXACT_SQL,
    "dedup_window_incremental": _WINDOW_INCREMENTAL_SQL,
    "dedup_minhash_lsh": _MINHASH_LSH_SQL,
    "minhash_jaccard_estimate": _MINHASH_EST_SQL,
    "dedup_lsh_eval": _LSH_EVAL_SQL,
    "dedup_lsh_eval_stratum": _LSH_EVAL_STRATUM_SQL,
    "lsh_band_sweep": _LSH_BAND_SWEEP_SQL,
    "corpus_dedup_report": _DEDUP_REPORT_SQL,
    "dedup_incremental": _MINHASH_INCREMENTAL_SQL,
    "contamination_minhash": _CONTAM_MINHASH_SQL,
    "dedup_fuzzy": _SHINGLES_SQL
    + f"""
    , cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    prefixes AS (
        SELECT doc_id,
               substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, {FUZZY_PREFIX}) AS p
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_distance
    FROM cand c
    JOIN prefixes pa ON pa.doc_id = c.doc_a
    JOIN prefixes pb ON pb.doc_id = c.doc_b
    WHERE levenshtein(pa.p, pb.p) <= {FUZZY_MAX_DIST}
    """,
    "dedup_url": f"""
        WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
        c AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(url,
                       '(?i)^https?://(www\\.)?', ''),
                       '\\?.*$', ''),
                       '/$', '') AS stripped
            FROM u
        )
        SELECT lower(regexp_extract(stripped, '^([^/]*)', 1))
                   || regexp_replace(stripped, '^[^/]*', '') AS canonical_url,
               min(doc_id) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS n_fetches
        FROM c
        GROUP BY 1
    """,
    "dedup_exact": """
        WITH hashed AS (
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash
            FROM documents
        ),
        canon AS (
            SELECT text_hash, min(doc_id) AS canonical_doc_id FROM hashed GROUP BY text_hash
        )
        SELECT h.doc_id, c.canonical_doc_id,
               CASE WHEN h.doc_id <> c.canonical_doc_id THEN 1 ELSE 0 END AS is_duplicate
        FROM hashed h JOIN canon c USING (text_hash)
    """,
    "dedup_ngram_jaccard": _SHINGLES_SQL
    + """
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i / (na.n + nb.n - i), 6) AS jaccard
    FROM inter
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    """,
    "dedup_cluster_sizes": _CLUSTERS_CTE
    + """
    , sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    "dedup_clusters": _CLUSTERS_CTE
    + """
    SELECT doc_id, cluster_id FROM clusters
    """,
    # the two-star variant computes the SAME relation by a different
    # algorithm — identical oracle, so both are hash-checked against
    # the same ground truth (and therefore against each other)
    "dedup_clusters_twostar": _CLUSTERS_CTE
    + """
    SELECT doc_id, cluster_id FROM clusters
    """,
    "dedup_canonical": _CLUSTERS_CTE
    + """
    , j AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)
    ),
    ranked AS (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM j
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_docs FROM j GROUP BY cluster_id)
    SELECT r.cluster_id, r.doc_id AS canonical_doc_id,
           r.n_chars AS canonical_chars,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_docs - 1 AS BIGINT) AS n_dropped
    FROM ranked r JOIN sizes s USING (cluster_id) WHERE rn = 1
    """,
    "dedup_embedding": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
    """,
    "dedup_chunk_exact": f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS words
            FROM documents
        ),
        idx AS (
            SELECT doc_id, words,
                   unnest(range(CAST(ceil(len(words) / {CHUNK_WORDS}.0) AS BIGINT))) AS grp
            FROM w WHERE len(words) > 0
        ),
        chunks AS (
            SELECT doc_id, grp,
                   array_to_string(
                       words[(grp * {CHUNK_WORDS} + 1):(grp * {CHUNK_WORDS} + {CHUNK_WORDS})],
                       ' ') AS chunk
            FROM idx
        ),
        f1 AS (SELECT chunk, min(doc_id) AS fdoc FROM chunks GROUP BY 1),
        f2 AS (
            SELECT c.chunk, f.fdoc, min(c.grp) AS fgrp
            FROM chunks c JOIN f1 f ON c.chunk = f.chunk AND c.doc_id = f.fdoc
            GROUP BY 1, 2
        ),
        kept AS (
            SELECT c.doc_id, c.grp, c.chunk
            FROM chunks c
            JOIN f2 f ON c.chunk = f.chunk AND c.doc_id = f.fdoc AND c.grp = f.fgrp
        ),
        perdoc AS (
            SELECT doc_id, string_agg(chunk, ' ' ORDER BY grp) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        ),
        allc AS (
            SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id
        )
        SELECT a.doc_id,
               coalesce(p.clean_text, '') AS clean_text,
               a.n_chunks,
               CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept
        FROM allc a LEFT JOIN perdoc p USING (doc_id)
    """,
}

# exact Jaccard ≥ 0.5 over the UNCAPPED universe (sh_all) — the
# relation prefix filtering computes without ngram_jaccard's df cap.
ORACLES["dedup_prefix_filter"] = (
    _SHINGLES_SQL
    + """
    , counts AS (SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh_all a
        JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i / (na.n + nb.n - i), 6) AS jaccard
    FROM inter
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE 3 * i >= na.n + nb.n  -- integer form of J >= 1/2, matches Spark
    """
)

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    "dedup_lsh_eval": dedup_lsh_eval,
    "dedup_lsh_eval_stratum": dedup_lsh_eval_stratum,
    "lsh_band_sweep": lsh_band_sweep,
    "corpus_dedup_report": corpus_dedup_report,
    "dedup_incremental": dedup_incremental,
    "dedup_prefix_filter": dedup_prefix_filter,
    "contamination_minhash": contamination_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_twostar": dedup_clusters_twostar,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_chunk_exact": dedup_chunk_exact,
    "dedup_window_exact": dedup_window_exact,
    "dedup_window_incremental": dedup_window_incremental,
    "dedup_canonical": dedup_canonical,
    "dedup_url": dedup_url,
    "dedup_fuzzy": dedup_fuzzy,
}
