"""Statistical language-model operators over the documents corpus.

Two artifacts an LLM-data pipeline derives from its corpus after the
tokenizer is trained (``operators/tokenizer.py``):

- trigram_lm      : the classic count-based trigram model —
                    P(w3 | w1 w2) from corpus trigram counts. The
                    conditional table powers perplexity filters and
                    contamination scoring beyond the unigram
                    ``perplexity_proxy``.
- bpe_encode_docs : APPLY the trained BPE merge table to every
                    document (the serving half of
                    ``bpe_train_merges``), reporting per-doc token
                    counts and compression.

Scale design: trigram generation is per-row array math (the shingle
pattern of operators/dedup.py — no explode until the count agg);
trigram counts and context totals are two aggregates over the same
shuffle key prefix, joined on context. The encode pass ships the
merge table (a vocabulary-bounded artifact, N_MERGES rows) as a
closure constant into ONE Arrow-batched ``pandas_udf`` — no shuffle,
no join; per-batch word memoization keeps the greedy merge loop off
the hot path for repeated words (Zipf).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize
from .dedup import _shingles, _words, explode_nonempty

TOP_TRIGRAMS = 50


def trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus trigrams with conditional probability P(w3|w1 w2).

    One documents scan: per-row trigram arrays (bounded by doc
    length), exploded once into a count aggregate. The context total
    is a second aggregate OVER THE TRIGRAM COUNTS (trigram-vocabulary
    sized, not corpus sized), so the conditional is exact:
    cnt(w1 w2 w3) / Σ_w cnt(w1 w2 w). Top-k compiles to
    TakeOrderedAndProject (count desc, trigram asc — total order).
    """
    docs = load_table(spark, sf_dir, "documents")
    # materialize the words array as its own projection FIRST: inlining
    # _words into the shingle lambda re-tokenizes the doc once per
    # element access (the 19s→3s minhash lesson — see verify notes).
    words = docs.select(_words(F.col("text")).alias("words"))
    # explode_nonempty: plain explode's inferred size()>0 guard would
    # re-derive the whole trigram pipeline twice per row pre-Generate.
    tri = explode_nonempty(words, [], _shingles(F.col("words"), 3), "tg")
    # trigram-vocabulary sized; consumed by the context totals AND the
    # conditional join — one corpus explode+aggregate instead of two.
    # Distinct trigrams grow near-linearly with the corpus.
    tri_counts = (
        tri.groupBy("tg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(materialize, "corpus")
    )
    with_ctx = tri_counts.select(
        "tg",
        "cnt",
        F.substring_index("tg", " ", 2).alias("ctx"),
        F.element_at(F.split("tg", " "), 3).alias("w3"),
    )
    ctx_totals = with_ctx.groupBy("ctx").agg(F.sum("cnt").alias("ctx_total"))
    return (
        with_ctx.join(ctx_totals, "ctx")
        .select(
            "ctx",
            "w3",
            "cnt",
            "ctx_total",
            F.round(F.col("cnt") / F.col("ctx_total"), 4).alias("cond_p"),
        )
        .orderBy(F.desc("cnt"), "ctx", "w3")
        .limit(TOP_TRIGRAMS)
    )


#: absolute-discount mass for Kneser–Ney (the textbook default, exact
#: in binary: 0.75 = 3/4).
KN_DISCOUNT = 0.75
KN_TOP_K = 50


def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney smoothed bigram probabilities P_KN(w2|w1), top-50
    bigrams by raw count.

    The smoothing the count-based LM family needs before it can score
    unseen text: absolute discounting re-distributes d=0.75 of each
    seen bigram's mass to a CONTINUATION distribution (how many
    distinct left-contexts a word follows — "francisco" is frequent
    but only ever follows "san", so its continuation mass is tiny).
    P_KN = max(c−d,0)/c(w1) + (d·N₁₊(w1·)/c(w1)) · N₁₊(·w2)/|types|.
    Everything derives from one bigram-count aggregation: follower and
    predecessor type counts are two groupBys of the count table
    (bigram-vocabulary sized, never corpus sized), |types| rides as a
    1-row broadcast. Selection/order by integer count with key
    tiebreaks; the probability is decimal(18,6)-rounded payload.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(_words(F.col("text")).alias("words"))
    bg = explode_nonempty(words, [], _shingles(F.col("words"), 2), "bg")
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c")).select(
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
        "c",
    )
    # four derivations share it
    counts = materialize(counts, "corpus")
    left = counts.groupBy("w1").agg(
        F.sum("c").alias("c_w1"), F.count(F.lit(1)).alias("n_follow")
    )
    right = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n_precede"))
    types = counts.agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(KN_DISCOUNT)
    p_kn = (
        F.greatest(F.col("c") - d, F.lit(0.0)) / F.col("c_w1")
        + (d * F.col("n_follow") / F.col("c_w1"))
        * (F.col("n_precede") / F.col("n_types"))
    )
    return (
        counts.join(maybe_broadcast(left), "w1")
        .join(maybe_broadcast(right), "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "c",
            "c_w1",
            F.col("n_follow").cast("long").alias("n_follow"),
            F.col("n_precede").cast("long").alias("n_precede"),
            p_kn.cast("decimal(18,6)").cast("double").alias("p_kn"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(KN_TOP_K)
    )


def _encode_word(word: str, merge_seq: list[tuple[str, str, str]]) -> list[str]:
    """Greedy BPE encode of one word: apply merges in training order
    (identical to how bpe_train_merges rewrote its vocabulary)."""
    syms = list(word)
    for left, right, merged in merge_seq:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the trained BPE merges.

    Output per doc: BPE token count, how many tokens are merged
    (multi-char) units, and chars-per-token compression. The merge
    table is the bounded training artifact (N_MERGES rows) collected
    once and shipped as a closure constant; encoding is one
    Arrow-batched pass over the corpus — embarrassingly parallel,
    zero shuffle. Rows-only for the driver (the greedy merge loop is
    not SQL-expressible); pytest asserts parity with a pure-python
    reference encode and char conservation.
    """
    from .tokenizer import bpe_train_merges

    merge_seq = [
        (m.left, m.right, m.merged)
        for m in sorted(bpe_train_merges(spark, sf_dir).collect(), key=lambda m: m.rank)
    ]

    @F.pandas_udf("n_tokens long, n_merged long")
    def encode(texts: pd.Series) -> pd.DataFrame:
        cache: dict[str, tuple[int, int]] = {}

        def stats(text: str) -> tuple[int, int]:
            n_tok = n_merged = 0
            for w in text.lower().split():
                if w not in cache:
                    toks = _encode_word(w, merge_seq)
                    cache[w] = (len(toks), sum(1 for t in toks if len(t) > 1))
                t, m = cache[w]
                n_tok += t
                n_merged += m
            return n_tok, n_merged

        out = [stats(t) for t in texts]
        return pd.DataFrame(out, columns=["n_tokens", "n_merged"])

    docs = load_table(spark, sf_dir, "documents")
    enc = docs.select("doc_id", "n_chars", encode(F.col("text")).alias("e"))
    return enc.select(
        "doc_id",
        F.col("e.n_tokens").alias("n_tokens"),
        F.col("e.n_merged").alias("n_merged"),
        F.round(F.col("n_chars") / F.col("e.n_tokens"), 4).alias("chars_per_token"),
    )


ORACLES: dict[str, str] = {
    "trigram_lm": """
        WITH w AS (
            SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
            FROM documents
        ),
        tri AS (
            SELECT unnest(list_transform(generate_series(1, len(words) - 2),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS tg
            FROM w
        ),
        c3 AS (SELECT tg, CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY tg),
        parts AS (
            SELECT tg, cnt,
                   array_to_string(list_slice(string_split(tg, ' '), 1, 2), ' ') AS ctx,
                   string_split(tg, ' ')[3] AS w3
            FROM c3
        ),
        totals AS (SELECT ctx, CAST(sum(cnt) AS BIGINT) AS ctx_total FROM parts GROUP BY ctx)
        SELECT p.ctx, w3, cnt, ctx_total,
               round(cnt / ctx_total, 4) AS cond_p
        FROM parts p JOIN totals t ON p.ctx = t.ctx
        ORDER BY cnt DESC, p.ctx, w3
        LIMIT 50
    """,
}

ORACLES["kneser_ney_bigram"] = f"""
    WITH w AS (
        SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(generate_series(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1])) AS bg
        FROM w
    ),
    counts AS (
        SELECT string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2,
               CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY bg
    ),
    lft AS (
        SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1,
               CAST(count(*) AS BIGINT) AS n_follow
        FROM counts GROUP BY w1
    ),
    rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_precede FROM counts GROUP BY w2),
    types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM counts)
    SELECT w1, w2, c, c_w1, n_follow, n_precede,
           CAST(CAST(greatest(c - {KN_DISCOUNT}, 0.0) / c_w1
                     + ({KN_DISCOUNT} * n_follow / c_w1)
                       * (CAST(n_precede AS DOUBLE) / n_types)
                     AS DECIMAL(18,6)) AS DOUBLE) AS p_kn
    FROM counts
    JOIN lft USING (w1)
    JOIN rgt USING (w2)
    CROSS JOIN types
    ORDER BY c DESC, w1, w2
    LIMIT {KN_TOP_K}
"""

QUERIES = {
    "trigram_lm": trigram_lm,
    "kneser_ney_bigram": kneser_ney_bigram,
    "bpe_encode_docs": bpe_encode_docs,
}
