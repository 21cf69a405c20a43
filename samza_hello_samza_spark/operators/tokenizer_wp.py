"""WordPiece tokenizer: likelihood-scored merges + greedy encoding.

Completes the mainstream subword-trainer family (BPE and unigram-LM
hard/full EM in tokenizer.py): WordPiece (Schuster & Nakajima 2012;
the BERT tokenizer) is BPE with a different candidate score —
    score(l, r) = count(l r) / (count(l) · count(r))
(the corpus LM-likelihood gain of the merge) — and a ``##``
continuation-prefix alphabet so a piece knows whether it starts a
word.

100 TB shape (identical to BPE training): ONE corpus scan builds the
word-frequency table; every merge round is vocabulary-sized — one
pair-count aggregate, one symbol-count aggregate (the score
denominator, recomputed per round because merges change symbol
occupancy), a bounded argmax, one Arrow-batched merge pass;
``localCheckpoint`` per round truncates the iterative lineage.
Encoding is one Arrow-batched map-only pass with the bounded vocab as
a closure constant (greedy longest-match-first — BERT's runtime
algorithm, which is NOT the merge replay: pytest covers both).

Rows-only driver checks (iterative greedy merging / longest-match
encoding are not SQL-expressible); pytest pins both against
pure-python references on the same inputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..session import load_table, materialize
from .dedup import explode_nonempty
from .tokenizer import _adjacent_pairs, _word_freq

N_WP_MERGES = 10
WP_UNK = "[UNK]"


def _wp_symbols(word: str) -> list[str]:
    return [word[0]] + ["##" + c for c in word[1:]]


def _wp_join(left: str, right: str) -> str:
    """Merged symbol: keeps the left's prefix, drops the right's ##."""
    return left + (right[2:] if right.startswith("##") else right)


def _wp_merge_udf(left: str, right: str):
    """Apply ONE WordPiece merge in an Arrow pass (greedy left-to-right,
    same rewrite rule as BPE's _merge_udf but ##-joining)."""
    merged = _wp_join(left, right)

    @F.pandas_udf(ArrayType(StringType()))
    def apply_merge(col: pd.Series) -> pd.Series:
        def merge_one(syms):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        return col.map(merge_one)

    return apply_merge


def wordpiece_reference_train(
    freq: dict[str, int], n_merges: int
) -> list[tuple[str, str, str, int, int, int]]:
    """Pure-python WordPiece trainer over a word-frequency dict — the
    parity reference tests pin ``wordpiece_train_vocab`` against.
    Argmax rule mirrors the Spark orderBy exactly: score desc, then
    'left right' string asc."""
    words = {w: _wp_symbols(w) for w in freq}
    out: list[tuple[str, str, str, int, int, int]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for w, syms in words.items():
            f = freq[w]
            for s in syms:
                sc[s] = sc.get(s, 0) + f
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        ranked = sorted(
            pc.items(),
            key=lambda kv: (
                -(kv[1] / (sc[kv[0][0]] * sc[kv[0][1]])),
                kv[0][0] + " " + kv[0][1],
            ),
        )
        (l, r), c = ranked[0]
        out.append((l, r, _wp_join(l, r), c, sc[l], sc[r]))
        for w, syms in words.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    ns.append(_wp_join(l, r))
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            words[w] = ns
    return out


def wordpiece_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``N_WP_MERGES`` WordPiece merges from the corpus.

    Per round: pair counts and symbol counts come from two
    vocabulary-sized distributed aggregates whose OUTPUTS are bounded
    by the symbol vocabulary — |S| symbols (alphabet + accepted
    merges, ≤ charset + N_WP_MERGES) and ≤ |S|² distinct pairs — so
    both collects are constant-sized regardless of corpus size (the
    same bounded-artifact discipline as BPE's candidate page and the
    unigram piece table). The driver resolves the exact score argmax
    locally: integer counts, one float division per candidate with
    identical operands on every run, ties broken on the 'left right'
    string — bit-for-bit the reference rule (parity pytest).

    Returns (rank, left, right, merged, pair_count, left_count,
    right_count) — integers only, the shipped artifact.
    """
    vocab = (
        _word_freq(spark, sf_dir)
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> "
                "CASE WHEN i = 1 THEN substring(word, 1, 1) "
                "ELSE '##' || substring(word, i, 1) END)"
            ).alias("symbols"),
        )
        .transform(materialize, "iterative")
    )
    merges: list[tuple[int, str, str, str, int, int, int]] = []
    for rank in range(N_WP_MERGES):
        pair_counts = {
            tuple(r.pair.split(" ", 1)): int(r.cnt)
            for r in explode_nonempty(
                vocab, ["freq"], _adjacent_pairs(F.col("symbols")), "pair"
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .collect()  # ≤ |S|² rows — symbol-vocab-bounded
        }
        if not pair_counts:
            break
        sym_counts = {
            r.sym: int(r.scnt)
            for r in explode_nonempty(vocab, ["freq"], F.col("symbols"), "sym")
            .groupBy("sym")
            .agg(F.sum("freq").alias("scnt"))
            .collect()  # ≤ |S| rows
        }
        ranked = sorted(
            pair_counts.items(),
            key=lambda kv: (
                -(kv[1] / (sym_counts[kv[0][0]] * sym_counts[kv[0][1]])),
                kv[0][0] + " " + kv[0][1],
            ),
        )
        (l, r), c = ranked[0]
        merges.append(
            (rank, l, r, _wp_join(l, r), c, sym_counts[l], sym_counts[r])
        )
        vocab = vocab.withColumn(
            "symbols", _wp_merge_udf(l, r)(F.col("symbols"))
        ).transform(materialize, "iterative")
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string,"
        " pair_count long, left_count long, right_count long",
    )


def wordpiece_encode_word(word: str, vocab: set[str], max_piece: int) -> list[str]:
    """BERT's greedy longest-match-first WordPiece encode of one word —
    shared by the distributed encoder and the pytest reference."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        best = None
        for l in range(min(max_piece, n - i), 0, -1):
            piece = word[i : i + l]
            if i > 0:
                piece = "##" + piece
            if piece in vocab:
                best = piece
                break
        if best is None:
            return [WP_UNK]
        out.append(best)
        i += len(best) - (2 if best.startswith("##") else 0)
    return out


def wordpiece_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the trained WordPiece vocab.

    The serving vocabulary is alphabet ∪ merged pieces: the alphabet
    is the distinct initial symbols of the corpus (charset-bounded —
    one tiny distinct aggregate), the merges are the ``N_WP_MERGES``
    training artifact; both ship as closure constants into ONE
    Arrow-batched map-only pass (zero shuffles). Encoding is greedy
    longest-match-first (BERT's runtime algorithm) with ``[UNK]`` for
    unencodable words — impossible here since the alphabet covers the
    corpus by construction, asserted via n_unk in tests.

    Output per doc: token count, continuation-piece count, UNK count,
    chars-per-token compression. Rows-only for the driver; pytest
    asserts parity with the pure-python reference encode.
    """
    merges = sorted(
        wordpiece_train_vocab(spark, sf_dir).collect(), key=lambda m: m.rank
    )
    alphabet = {
        r.sym
        for r in explode_nonempty(
            _word_freq(spark, sf_dir).select(
                "freq",
                F.expr(
                    "transform(sequence(1, length(word)), i -> "
                    "CASE WHEN i = 1 THEN substring(word, 1, 1) "
                    "ELSE '##' || substring(word, i, 1) END)"
                ).alias("symbols"),
            ),
            [],
            F.array_distinct(F.col("symbols")),
            "sym",
        )
        .distinct()
        .collect()
    }
    vocab = alphabet | {m.merged for m in merges}
    max_piece = max(len(p) - (2 if p.startswith("##") else 0) for p in vocab)

    @F.pandas_udf("n_tokens long, n_continuations long, n_unk long")
    def encode(texts: pd.Series) -> pd.DataFrame:
        cache: dict[str, tuple[int, int, int]] = {}

        def stats(text: str) -> tuple[int, int, int]:
            n_tok = n_cont = n_unk = 0
            for w in text.lower().split():
                if w not in cache:
                    toks = wordpiece_encode_word(w, vocab, max_piece)
                    cache[w] = (
                        len(toks),
                        sum(1 for t in toks if t.startswith("##")),
                        sum(1 for t in toks if t == WP_UNK),
                    )
                t, c, u = cache[w]
                n_tok += t
                n_cont += c
                n_unk += u
            return n_tok, n_cont, n_unk

        return pd.DataFrame(
            [stats(t) for t in texts],
            columns=["n_tokens", "n_continuations", "n_unk"],
        )

    docs = load_table(spark, sf_dir, "documents")
    enc = docs.select("doc_id", "n_chars", encode(F.col("text")).alias("e"))
    return enc.select(
        "doc_id",
        F.col("e.n_tokens").alias("n_tokens"),
        F.col("e.n_continuations").alias("n_continuations"),
        F.col("e.n_unk").alias("n_unk"),
        F.round(F.col("n_chars") / F.col("e.n_tokens"), 4).alias(
            "chars_per_token"
        ),
    )


ORACLES: dict[str, str] = {}

QUERIES = {
    "wordpiece_train_vocab": wordpiece_train_vocab,
    "wordpiece_encode_docs": wordpiece_encode_docs,
}
