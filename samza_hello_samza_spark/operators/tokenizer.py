"""Distributed BPE tokenizer training.

The tokenizer is the first trained artifact of an LLM pipeline, and
its training pass is corpus-sized exactly once: after the initial
``groupBy(word)`` frequency table, every BPE iteration works on the
VOCABULARY (distinct words + frequencies), not the corpus — the
property that makes byte-pair training feasible at 100 TB. Shape:

1. one corpus scan → word frequency table (vocabulary-sized, Zipf);
2. each Spark round: adjacent symbol pairs weighted by word frequency
   (``zip_with`` over the per-word symbol array — per-row, no
   explode until the pair aggregate), one groupBy(pair) over a
   vocabulary-sized input, top-M candidates with deterministic
   tie-break, then the provably-non-interacting PREFIX of the batch
   (``_accept_batch`` — replays identically to one-merge-at-a-time
   BPE) is merged into every word's symbol array by ONE Arrow-batched
   pandas UDF pass (greedy left-to-right, the standard BPE merge rule
   — inherently sequential per word, so a UDF is the honest tool);
3. ``localCheckpoint`` per round truncates the iterative lineage.

Rows-only driver check (iterative greedy merging is not
SQL-expressible); pytest verifies the merge table against a
pure-python reference BPE trained on the same frequency table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import load_table, materialize
from .dedup import _words, explode_nonempty

N_MERGES = 10


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        explode_nonempty(docs, [], _words(F.col("text")), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(symbols: F.Column) -> F.Column:
    """'left right' strings for each adjacent symbol pair — per-row
    array math, evaluated before any explode."""
    n = F.size(symbols)
    return F.zip_with(
        F.slice(symbols, 1, n - 1),
        F.slice(symbols, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _merge_udf(merges: list[tuple[str, str]]):
    """Apply a BATCH of merges (in rank order) in one Arrow pass.

    Equivalent to applying them one-at-a-time because the batch
    acceptance rule (``_accept_batch``) only batches symbol-disjoint
    merges — order within the batch cannot matter, but we apply
    sequentially anyway so the equivalence is by construction."""
    pairs = [((l, r), l + r) for l, r in merges]

    @F.pandas_udf(ArrayType(StringType()))
    def apply_merges(col: pd.Series) -> pd.Series:
        def merge_one(syms):
            for pair, merged in pairs:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return col.map(merge_one)

    return apply_merges


#: candidates examined per Spark round (the accepted batch is a
#: provably-non-interacting PREFIX of these, usually shorter).
BATCH_M = 8


def _accept_batch(
    candidates: list[tuple[str, str, int]], bound: dict[str, int]
) -> list[tuple[str, str, int]]:
    """Largest PREFIX of the ranked candidates that provably replays
    identically to one-at-a-time BPE.

    Candidate j (after accepted merges i<j) is safe iff
    1. symbol-disjoint from every earlier accepted (a,b): then no
       occurrence of j's pair overlaps a merged occurrence, so its
       count and its greedy application are unchanged — and no OLD
       pair's count ever increases under a merge, so j still outranks
       everything below it;
    2. cnt_j strictly beats every pair a merge i could CREATE: a born
       pair (x, a_ib_i) maps 1-1 onto a pre-round (x, a_i) adjacency
       and (a_ib_i, y) onto (b_i, y), so
       bound_i = max cnt over {p.right == a_i} ∪ {p.left == b_i}
       upper-bounds every born count (bound["R:"+a] / bound["L:"+b]).
    The scan STOPS at the first unsafe candidate (skipping instead of
    stopping would be wrong: a skipped candidate's count may shrink
    under the earlier merges, and later candidates would leapfrog the
    order sequential BPE actually follows).
    """
    accepted: list[tuple[str, str, int]] = []
    for left, right, cnt in candidates:
        ok = True
        for a, b, _c in accepted:
            if left in (a, b) or right in (a, b):
                ok = False
                break
            born = max(bound.get("R:" + a, 0), bound.get("L:" + b, 0))
            if cnt <= born:
                ok = False
                break
        if not ok:
            break
        accepted.append((left, right, cnt))
    return accepted


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``N_MERGES`` BPE merges from the corpus.

    Returns the merge table (rank, left, right, merged, pair_count) —
    the artifact a tokenizer ships. Ties break on (count desc, left
    asc, right asc) so the result is deterministic across runs and
    partitionings.
    """
    vocab = _word_freq(spark, sf_dir).select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("symbols"),
    ).transform(materialize, "corpus")  # the one corpus scan

    # Batched rounds (VERDICT r04 #8): each Spark round takes the
    # top-M candidates in ONE TakeOrderedAndProject job plus one
    # born-pair-bound job, then accepts the provably-non-interacting
    # prefix driver-side — cutting scheduler round-trips ~|batch|×
    # versus the one-argmax-per-merge loop while replaying the exact
    # sequential merge list (pytest: python-reference parity + job
    # count).
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < N_MERGES:
        pairs = explode_nonempty(
            vocab, ["freq"], _adjacent_pairs(F.col("symbols")), "pair"
        ).groupBy("pair").agg(F.sum("freq").alias("cnt"))
        top = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(BATCH_M).collect()
        if not top:
            break
        candidates = [
            (*r.pair.split(" ", 1), int(r.cnt)) for r in top
        ][: N_MERGES - len(merges)]
        # per-symbol max pair counts, keyed R:<right-symbol> /
        # L:<left-symbol>, restricted to the candidates' symbols —
        # one vocabulary-sized job, ≤2M rows collected.
        keys = {f"R:{l}" for l, _r, _c in candidates} | {
            f"L:{r}" for _l, r, _c in candidates
        }
        lr = F.split("pair", " ")
        bound = {
            r.k: int(r.m)
            for r in (
                pairs.select(
                    F.explode(
                        F.array(
                            F.concat(F.lit("R:"), lr[1]),
                            F.concat(F.lit("L:"), lr[0]),
                        )
                    ).alias("k"),
                    "cnt",
                )
                .filter(F.col("k").isin(list(keys)))
                .groupBy("k")
                .agg(F.max("cnt").alias("m"))
                .collect()
            )
        }
        accepted = _accept_batch(candidates, bound)
        base = len(merges)
        merges.extend(
            (base + i, l, r, l + r, c) for i, (l, r, c) in enumerate(accepted)
        )
        vocab = vocab.withColumn(
            "symbols",
            _merge_udf([(l, r) for l, r, _c in accepted])(F.col("symbols")),
        ).transform(materialize, "iterative")
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


# ---------------------------------------------------------------------------
# unigram-LM tokenizer training (SentencePiece flavor)
# ---------------------------------------------------------------------------
#
# The other mainstream subword trainer (Kudo 2018): a vocabulary of
# PIECES with unigram probabilities, fit by EM over the corpus and
# pruned to a target size. Same 100 TB shape as BPE training — the
# corpus is scanned exactly once for the word-frequency table;
# every EM round is vocabulary-sized (distinct words), the piece
# state is bounded by the target vocab (broadcast to an Arrow UDF),
# and expected counts come back through one groupBy(piece).
#
# Deterministic HARD-EM variant: the E-step takes each word's single
# best (Viterbi) segmentation — ties broken toward the longer piece,
# then lexicographically — instead of full forward-backward expected
# counts. That keeps every count an integer multiple of word
# frequencies (stable across partitionings and replays, which is what
# the pure-python parity pytest pins down) at the cost of the
# soft-count refinement; the honest trade is documented here, and the
# plan shape (bounded broadcast state + vocab-sized rounds) is
# identical to what full EM would need.

SEED_SUBSTR_MAX_LEN = 6
SEED_WORD_MAX_LEN = 20
SEED_K = 200
UNIGRAM_EM_ITERS = 2
UNIGRAM_VOCAB_K = 120


def _viterbi_segment(word: str, logp: dict[str, float], max_len: int):
    """Best segmentation of ``word`` under piece log-probs — shared by
    the distributed E-step UDF and the pure-python parity reference.
    dp[i] = best score of word[:i]; ties prefer the LONGER last piece,
    then the lexicographically smaller one (deterministic)."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back: list[tuple[int, str] | None] = [None] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for l in range(1, min(max_len, i) + 1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            if lp is None or best[i - l] == NEG:
                continue
            score = best[i - l] + lp
            cur = back[i]
            if (
                best[i] < score
                or (
                    best[i] == score
                    and cur is not None
                    and (l > cur[0] or (l == cur[0] and piece < cur[1]))
                )
            ):
                best[i] = score
                back[i] = (l, piece)
    if back[n] is None:
        return None  # unsegmentable (cannot happen: single chars covered)
    out = []
    i = n
    while i > 0:
        l, piece = back[i]
        out.append(piece)
        i -= l
    return out[::-1]


def _unigram_estep(vocab: DataFrame, logp: dict[str, float]) -> DataFrame:
    """Distributed hard-EM E-step: Viterbi-segment every distinct word
    (one Arrow-batched pass over the vocabulary table), then aggregate
    freq-weighted piece counts — output bounded by the piece vocab."""
    items = sorted(logp.items())  # deterministic closure content
    probs = dict(items)

    @F.pandas_udf(ArrayType(StringType()))
    def segment(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: _viterbi_segment(w, probs, SEED_SUBSTR_MAX_LEN) or []
        )

    segs = vocab.select("freq", segment(F.col("word")).alias("pieces"))
    return (
        explode_nonempty(segs, ["freq"], F.col("pieces"), "piece")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _normalize(counts: dict[str, int]) -> dict[str, float]:
    import math

    total = sum(counts.values())
    return {p: math.log(c / total) for p, c in counts.items() if c > 0}


def unigram_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a unigram-LM piece vocabulary (SentencePiece flavor).

    1. SEED: every single character (coverage guarantee) plus the
       top-``SEED_K`` frequent substrings (length ≤ 6, freq-weighted)
       — one vocabulary-sized explode, never corpus-sized.
    2. EM (``UNIGRAM_EM_ITERS`` hard-EM rounds): broadcast piece
       log-probs → Arrow Viterbi per distinct word → freq-weighted
       piece counts → renormalize (piece-vocab-sized collect).
    3. PRUNE to ``UNIGRAM_VOCAB_K``: keep every single char + the
       top multi-char pieces by expected count, then one final EM
       round over the pruned vocab.

    Returns (rank, piece, n_chars, piece_count, logprob_micronats) — the
    log-prob is truncated to integer micro-nats so the row content is
    replay-exact. Rows-only driver check (float-iterative, like
    ``bpe_train_merges``); the pytest pins exact parity against a
    pure-python reference on the same frequency table plus coverage /
    round-trip properties.
    """
    vocab = materialize(_word_freq(spark, sf_dir), "iterative")  # ONE corpus scan

    # seed: EVERY single character from EVERY position (the coverage
    # guarantee — a char only appearing past the substring window
    # must still be segmentable) + top-K multi-char substrings from a
    # bounded start window, by freq·occurrences.
    char_col = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    chars = {
        r.piece: int(r.cnt)
        for r in explode_nonempty(vocab, ["freq"], char_col, "piece")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    }
    # sequence(a, b) DESCENDS when a > b, so the inner range is gated
    # (a last-position start has no length-≥2 substring).
    subs = F.expr(
        f"""flatten(transform(sequence(1, least(length(word), {SEED_WORD_MAX_LEN})),
             i -> CASE WHEN i + 1 <= least(length(word),
                                           i + {SEED_SUBSTR_MAX_LEN} - 1)
                  THEN transform(sequence(i + 1, least(length(word),
                                          i + {SEED_SUBSTR_MAX_LEN} - 1)),
                       j -> substring(word, i, j - i + 1))
                  ELSE CAST(array() AS array<string>) END))"""
    )
    top_multi = {
        r.piece: int(r.cnt)
        for r in explode_nonempty(vocab, ["freq"], subs, "piece")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(SEED_K)
        .collect()
    }
    logp = _normalize({**chars, **top_multi})

    counts: dict[str, int] = {}
    for _ in range(UNIGRAM_EM_ITERS):
        counts = {r.piece: int(r.cnt) for r in _unigram_estep(vocab, logp).collect()}
        # chars must survive with nonzero mass even when never chosen
        # (coverage for unseen words at encode time)
        for c in chars:
            counts.setdefault(c, 1)
        logp = _normalize(counts)

    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )
    keep_multi = dict(multi[: max(0, UNIGRAM_VOCAB_K - len(chars))])
    pruned = {p: c for p, c in counts.items() if len(p) == 1 or p in keep_multi}
    logp = _normalize(pruned)
    counts = {r.piece: int(r.cnt) for r in _unigram_estep(vocab, logp).collect()}
    for c in chars:
        counts.setdefault(c, 1)
    logp = _normalize(counts)

    rows = sorted(counts.items(), key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(
        [
            (i, p, len(p), c, int(logp[p] * 1e6))
            for i, (p, c) in enumerate(rows)
        ],
        "rank int, piece string, n_chars int, piece_count long, logprob_micronats long",
    )


def unigram_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the trained unigram-LM vocabulary
    (the encode twin of ``unigram_train_vocab``, mirroring
    ``bpe_encode_docs``'s shape).

    The piece vocabulary is the bounded training artifact
    (``UNIGRAM_VOCAB_K`` + alphabet rows) collected once and shipped
    as a closure constant; encoding is one Arrow-batched pass over the
    corpus — embarrassingly parallel, zero shuffle, per-word memoized.
    Viterbi scores use the artifact's INTEGER micro-nat log-probs, so
    segmentation is replay-exact across partitionings (no float-sum
    order sensitivity). Output per doc: piece count, multi-char piece
    count, chars-per-piece compression. Rows-only for the driver (the
    lattice DP is not SQL-expressible); pytest asserts parity with a
    pure-python reference encode and char conservation.
    """
    art = sorted(unigram_train_vocab(spark, sf_dir).collect(), key=lambda r: r.rank)
    logp = {r.piece: int(r.logprob_micronats) for r in art}
    max_len = max(len(p) for p in logp)

    @F.pandas_udf("n_pieces long, n_multi long")
    def encode(texts: pd.Series) -> pd.DataFrame:
        cache: dict[str, tuple[int, int]] = {}

        def stats(text: str) -> tuple[int, int]:
            n_p = n_m = 0
            for w in text.lower().split():
                if w not in cache:
                    pieces = _viterbi_segment(w, logp, max_len) or list(w)
                    cache[w] = (
                        len(pieces),
                        sum(1 for p in pieces if len(p) > 1),
                    )
                p, m = cache[w]
                n_p += p
                n_m += m
            return n_p, n_m

        return pd.DataFrame(
            [stats(t) for t in texts], columns=["n_pieces", "n_multi"]
        )

    docs = load_table(spark, sf_dir, "documents")
    enc = docs.select("doc_id", "n_chars", encode(F.col("text")).alias("e"))
    return enc.select(
        "doc_id",
        F.col("e.n_pieces").alias("n_pieces"),
        F.col("e.n_multi").alias("n_multi"),
        F.round(F.col("n_chars") / F.col("e.n_pieces"), 4).alias("chars_per_piece"),
    )


# ---------------------------------------------------------------------------
# full-EM (forward-backward) unigram refinement (§7.22 → r06)
# ---------------------------------------------------------------------------
#
# The hard-EM trainer above takes each word's single Viterbi
# segmentation per round; Kudo 2018's actual E-step uses EXPECTED
# piece counts over ALL segmentations (forward-backward on the
# segmentation lattice). Soft counts are floats, which would normally
# cost the replay-exactness the hard trainer guarantees — a
# freq-weighted float shuffle-sum depends on partition order. The
# dsir_importance trick restores it: per-word expected counts are
# TRUNCATED TO INTEGER MICRO-UNITS inside the Arrow UDF (deterministic
# single-machine float path per word), and everything after the
# truncation — the freq multiply and the groupBy(piece) sum — is
# integer-exact and order-insensitive. Plan shape is identical to the
# hard trainer: corpus scanned once, rounds vocabulary-sized, state
# bounded by the piece vocab.


def _logsumexp(xs: list[float]) -> float:
    import math

    if not xs:
        return float("-inf")
    m = max(xs)
    if m == float("-inf"):
        return m
    return m + math.log(sum(math.exp(x - m) for x in xs))


def _fb_expected_micro(
    word: str, logp: dict[str, float], max_len: int
) -> list[tuple[str, int]]:
    """Expected piece counts of ``word`` over ALL segmentations under
    piece log-probs, truncated to integer micro-units — the
    forward-backward E-step shared by the distributed UDF and the
    pure-python parity reference. Arc (i, l) posterior is
    exp(alpha[i] + logp(piece) + beta[i+l] - alpha[n]); accumulation
    order (i asc, l asc) is fixed, so the float path is deterministic
    before truncation."""
    import math

    n = len(word)
    NEG = float("-inf")
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = []
        for l in range(1, min(max_len, i) + 1):
            lp = logp.get(word[i - l : i])
            if lp is not None and alpha[i - l] != NEG:
                acc.append(alpha[i - l] + lp)
        alpha[i] = _logsumexp(acc)
    if alpha[n] == NEG:
        return []
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        acc = []
        for l in range(1, min(max_len, n - i) + 1):
            lp = logp.get(word[i : i + l])
            if lp is not None and beta[i + l] != NEG:
                acc.append(lp + beta[i + l])
        beta[i] = _logsumexp(acc)
    out: dict[str, float] = {}
    for i in range(n):
        if alpha[i] == NEG:
            continue
        for l in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + l]
            lp = logp.get(piece)
            if lp is None or beta[i + l] == NEG:
                continue
            e = math.exp(alpha[i] + lp + beta[i + l] - alpha[n])
            out[piece] = out.get(piece, 0.0) + e
    trunc = [(p, int(e * 1e6)) for p, e in sorted(out.items())]
    return [(p, m) for p, m in trunc if m > 0]


def _unigram_estep_em(vocab: DataFrame, logp: dict[str, float]) -> DataFrame:
    """Distributed full-EM E-step: forward-backward expected counts per
    distinct word (one Arrow-batched pass over the vocabulary table,
    micro-truncated BEFORE the shuffle), then integer freq-weighted
    aggregation — output bounded by the piece vocab, replay-exact."""
    items = sorted(logp.items())
    probs = dict(items)

    @F.pandas_udf(ArrayType(StructType([
        StructField("piece", StringType()),
        StructField("micro", LongType()),
    ])))
    def expected(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: _fb_expected_micro(w, probs, SEED_SUBSTR_MAX_LEN)
        )

    segs = vocab.select("freq", expected(F.col("word")).alias("pm"))
    return (
        explode_nonempty(segs, ["freq"], F.col("pm"), "e")
        .select(
            F.col("e.piece").alias("piece"),
            (F.col("e.micro") * F.col("freq")).alias("wmicro"),
        )
        .groupBy("piece")
        .agg(F.sum("wmicro").alias("cnt"))
    )


def unigram_train_vocab_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-EM unigram-LM trainer — the forward-backward refinement of
    ``unigram_train_vocab`` (§7.22): identical seed, prune and round
    structure, but the E-step aggregates EXPECTED counts over all
    segmentations instead of the single Viterbi path, which is Kudo
    2018's actual estimator (soft counts let marginal pieces keep
    mass a hard argmax would starve). Counts are integer micro-units
    (truncated per word before the shuffle), so the whole train is
    replay-exact despite the float lattice math. Returns
    (rank, piece, n_chars, expected_micro, logprob_micronats);
    rows-only for the driver (float-iterative), pytests pin exact
    pure-python parity, coverage, and a corpus marginal-likelihood
    win over the hard-EM vocabulary."""
    vocab = materialize(_word_freq(spark, sf_dir), "iterative")  # ONE corpus scan

    char_col = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    chars = {
        r.piece: int(r.cnt) * 1_000_000
        for r in explode_nonempty(vocab, ["freq"], char_col, "piece")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    }
    subs = F.expr(
        f"""flatten(transform(sequence(1, least(length(word), {SEED_WORD_MAX_LEN})),
             i -> CASE WHEN i + 1 <= least(length(word),
                                           i + {SEED_SUBSTR_MAX_LEN} - 1)
                  THEN transform(sequence(i + 1, least(length(word),
                                          i + {SEED_SUBSTR_MAX_LEN} - 1)),
                       j -> substring(word, i, j - i + 1))
                  ELSE CAST(array() AS array<string>) END))"""
    )
    top_multi = {
        r.piece: int(r.cnt) * 1_000_000
        for r in explode_nonempty(vocab, ["freq"], subs, "piece")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(SEED_K)
        .collect()
    }
    logp = _normalize({**chars, **top_multi})

    counts: dict[str, int] = {}
    for _ in range(UNIGRAM_EM_ITERS):
        counts = {
            r.piece: int(r.cnt) for r in _unigram_estep_em(vocab, logp).collect()
        }
        for c in chars:  # coverage floor: 1 micro-unit
            counts.setdefault(c, 1)
        logp = _normalize(counts)

    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )
    keep_multi = dict(multi[: max(0, UNIGRAM_VOCAB_K - len(chars))])
    pruned = {p: c for p, c in counts.items() if len(p) == 1 or p in keep_multi}
    logp = _normalize(pruned)
    counts = {r.piece: int(r.cnt) for r in _unigram_estep_em(vocab, logp).collect()}
    for c in chars:
        counts.setdefault(c, 1)
    logp = _normalize(counts)

    rows = sorted(counts.items(), key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(
        [(i, p, len(p), c, int(logp[p] * 1e6)) for i, (p, c) in enumerate(rows)],
        "rank int, piece string, n_chars int, expected_micro long,"
        " logprob_micronats long",
    )


ORACLES: dict[str, str] = {}

QUERIES = {
    "bpe_train_merges": bpe_train_merges,
    "unigram_train_vocab": unigram_train_vocab,
    "unigram_train_vocab_em": unigram_train_vocab_em,
    "unigram_encode_docs": unigram_encode_docs,
}
