"""Per-dimension uint8 scalar quantization (SQ8) — the 8-bit rung of
the quantization ladder between raw floats and the 1-bit sign family
(``functions/binary_sig``): FAISS ``ScalarQuantizer(QT_8bit)`` /
Lucene scalar-quantized KNN store vectors this way.

Codec: per-dimension corpus bounds ``(min_d, max_d)`` (trained once,
then FROZEN — part of the layout, like a PQ codebook), each component
quantized to ``floor((x - min_d) * 255 / (max_d - min_d))`` clamped to
[0, 255], and the 8-bit codes packed little-endian into 64-bit words
stored as LONG columns ``s0..s{dim/8-1}`` — dim bytes per vector vs
8·dim for raw doubles, an 8× scan cut with far better ranking fidelity
than the 1-bit signature.

Ranking is the SYMMETRIC centered integer dot product
``Σ (code_v[d] − 128) · (code_q[d] − 128)`` (the query quantized with
the same frozen bounds): pure integer math after an IEEE-identical
quantization expression, so — unlike asymmetric float ADC — every
consumer is ORACLE-CHECKABLE. Centering at the byte midpoint removes
the affine offset bias of unsigned codes, so the score is a faithful
dot-product proxy (recall property-tested); exact re-rank of a
constant shortlist recovers true cosine order.

All packing/unpacking is JVM-side integer arithmetic inside
whole-stage codegen — no Python, no floats in the ranking path.

Batch fan-out kernels, measured (240-query scoring, one warm JVM,
min of 3 passes): hoisting the byte unpack out of the per-pair
expression (one centered int column per code byte, then one
multiply-add per dimension per pair against an ``array<int>`` query)
was SLOWER than the packed per-pair kernel, 30.5 s vs 27.2 s on the
10× tier — the ``element_at`` bounds/null checks and the 8×-wider
stream row outweigh the saved extraction. Both per-pair JVM shapes
lost to the Arrow GEMM kernel ``adc_batch_candidates`` (0.84 s on the
same tier), which is what the batch operators call; the hoisted
variant was removed, so do not re-try it.

Reference parity note: the reference (hello-samza) ships no vector
ops; this belongs to the beyond-reference training-data surface
(brief § "similarity search").
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LANES = 8  # 8-bit codes per 64-bit word
LEVELS = 255


def n_words(dim: int) -> int:
    if dim % LANES:
        raise ValueError(f"dim must be a multiple of {LANES}, got {dim}")
    return dim // LANES


def sq8_col_names(dim: int) -> list[str]:
    return [f"s{w}" for w in range(n_words(dim))]


def train_bounds(e: DataFrame, v: str, dim: int) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — ONE job: posexplode
    to (dim_index, component) and groupBy(dim) min/max. The explode is
    CPU-only row inflation that map-side partial aggregation collapses
    back to ``dim`` rows per task BEFORE the shuffle (the shuffle
    moves dim·tasks rows, not the corpus), and the tiny expression
    tree beats the 2·dim-scalar-aggs alternative by ~1.5× in measured
    wall time (analysis/codegen dominates at any corpus size — the
    data side is one vectorized pass either way)."""
    rows = (
        e.select(F.posexplode(F.col(v)).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(f"corpus vectors have {len(rows)} dims, expected {dim}")
    by_d = {r.d: r for r in rows}
    return (
        [float(by_d[d].mn) for d in range(dim)],
        [float(by_d[d].mx) for d in range(dim)],
    )


def _code_expr(x: F.Column, mn: float, mx: float) -> F.Column:
    """uint8 code of one component — the exactness-critical expression.

    ``floor((x − mn) * 255.0 / (mx − mn))`` with a [0, 255] clamp: the
    identical operation ORDER is reproduced in the DuckDB oracle and
    the python twin, so the IEEE-double intermediate (and hence the
    floor) is bit-identical across engines. A constant dimension
    (mx == mn) codes to 0 everywhere.
    """
    if mx > mn:
        q = F.floor((x - F.lit(mn)) * F.lit(float(LEVELS)) / F.lit(mx - mn))
        return F.greatest(F.lit(0), F.least(F.lit(LEVELS), q)).cast("long")
    return F.lit(0).cast("long")


def sq8_word_cols(
    v: F.Column, mins: list[float], maxs: list[float]
) -> list[F.Column]:
    """The vector's packed SQ8 words as ``dim/8`` long columns
    ``s0..`` — pure JVM expressions (64 scalar quantize-and-shift
    terms for dim=64), no Python in the packing path."""
    dim = len(mins)
    cols = []
    for w in range(n_words(dim)):
        acc: F.Column = F.lit(0).cast("long")
        for lane in range(LANES):
            d = w * LANES + lane
            # bitwise shift + OR, not multiply/add: lane 7 occupies
            # bits 56..63 INCLUDING the sign bit, so an arithmetic
            # pack would overflow under ANSI; as a bit container the
            # word may legitimately read negative
            acc = acc.bitwiseOR(
                F.shiftleft(
                    _code_expr(F.element_at(v, d + 1), mins[d], maxs[d]),
                    8 * lane,
                )
            )
        cols.append(acc.alias(f"s{w}"))
    return cols


def sq8_codes_py(
    qvec: np.ndarray, mins: list[float], maxs: list[float]
) -> list[int]:
    """Driver-side twin of ``_code_expr`` for the query vector —
    the same float64 operation order, hence the same codes."""
    out = []
    for d, x in enumerate(qvec):
        mn, mx = mins[d], maxs[d]
        if mx > mn:
            q = math.floor((float(x) - mn) * float(LEVELS) / (mx - mn))
            out.append(max(0, min(LEVELS, q)))
        else:
            out.append(0)
    return out


def adc_score_col(qcodes: list[int]) -> F.Column:
    """Centered symmetric integer dot product against the packed word
    columns: ``Σ (lane_byte(s_w) − 128) · (qcode − 128)`` — shifts,
    masks, multiplies and adds only, all in whole-stage codegen."""
    score: F.Column = F.lit(0).cast("long")
    for w in range(n_words(len(qcodes))):
        word = F.col(f"s{w}")
        for lane in range(LANES):
            qc = qcodes[w * LANES + lane] - 128
            # unsigned shift: lane 7 straddles the sign bit, an
            # arithmetic shift would smear it over the mask
            byte = F.shiftrightunsigned(word, 8 * lane).bitwiseAND(F.lit(255))
            score = score + (byte - F.lit(128)) * F.lit(qc)
    return score.cast("long")


def pack_words_py(codes: list[int]) -> list[int]:
    """Driver-side twin of ``sq8_word_cols``'s packing: codes →
    little-endian 64-bit words, wrapped to SIGNED 64-bit range (lane 7
    occupies bits 56..63 including the sign bit, and the words travel
    as Spark LONGs — same bit-container semantics as the stored
    columns)."""
    out = []
    for w in range(n_words(len(codes))):
        acc = 0
        for lane in range(LANES):
            acc |= (codes[w * LANES + lane] & 255) << (8 * lane)
        out.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
    return out


def adc_score_batch_col(dim: int, qwords: F.Column) -> F.Column:
    """``adc_score_col`` with the QUERY side as a column — the batch
    fanout shape: the query's packed words ride a broadcast relation
    (``array<bigint>`` of dim/8 words) instead of being inlined as
    literals, so ONE corpus code scan scores every query. Same
    centered symmetric integer dot product, still nothing but shifts,
    masks, multiplies and adds in whole-stage codegen."""
    score: F.Column = F.lit(0).cast("long")
    for w in range(n_words(dim)):
        word = F.col(f"s{w}")
        qword = F.element_at(qwords, w + 1)
        for lane in range(LANES):
            vb = F.shiftrightunsigned(word, 8 * lane).bitwiseAND(F.lit(255))
            qb = F.shiftrightunsigned(qword, 8 * lane).bitwiseAND(F.lit(255))
            score = score + (vb - F.lit(128)) * (qb - F.lit(128))
    return score.cast("long")


def unpack_codes_py(words: list[int], dim: int) -> list[int]:
    """Numpy/pytest helper: unpack stored words back to per-dim codes."""
    return [
        (words[d // LANES] >> (8 * (d % LANES))) & 255 for d in range(dim)
    ]


#: below any real composite key (|score·2^32 − vec_id| ≤ 2^53 + 2^32):
#: marks self-pairs so the in-kernel top-k never selects them. MIN+1,
#: not MIN: the selection negates the key array, and −INT64_MIN wraps
#: back to INT64_MIN — a MIN sentinel would sort FIRST after negation
#: and displace a real candidate from its batch's top-k.
_SELF_PAIR_KEY = np.iinfo(np.int64).min + 1


def adc_batch_candidates(
    codes: DataFrame,
    dim: int,
    queries: list[tuple[int, list[int]]],
    k: int,
) -> DataFrame:
    """Batch-ADC scoring as ONE vectorized GEMM per Arrow batch — the
    guide-§4.2 kernel for the query-fanout keys: instead of |codes| ×
    |queries| per-pair shift/mask/multiply-add expression trees in
    JVM codegen (measured 27.2 s for the 240-query scoring stage on
    the 10× tier), each ``mapInArrow`` batch
    unpacks its packed words ONCE via a little-endian byte view and
    scores every (doc, query) pair as a dense matrix product, then
    keeps only the per-batch top-``k`` candidates per query.

    Returns (vec_id, query_id, sq8_score) — for every query, each
    input batch's top-``k`` eligible pairs (self-pairs ``vec_id ==
    query_id`` excluded) under the serving order (sq8_score DESC,
    vec_id ASC). The union over batches is a SUPERSET of the global
    top-k under the same total order, so a downstream row_number
    window over these candidates returns bit-identical rows to
    ranking the full cross join — the standard partial top-k
    argument, pinned by ``test_adc_batch_candidates_kernel``.

    Exactness: products |(c_v−128)·(c_q−128)| ≤ 128², a dim-term sum
    ≤ dim·2^14 (< 2^21 for dim ≤ 128), and every float64 intermediate
    of an integer-valued GEMM below 2^53 is exact regardless of BLAS
    summation order — so ``float64 GEMM → int64`` equals the JVM
    integer kernel bit for bit. Ties are broken WITHIN the kernel by
    the composite integer key ``score·2^32 − vec_id`` (score < 2^21,
    vec_id < 2^32 ⇒ the key is the lexicographic (score DESC, vec_id
    ASC) order, no overflow at |key| ≤ 2^53 + 2^32).

    Scale: Arrow moves DIM+8 bytes/vector once; the kernel emits
    ≤ batches·|queries|·k rows (thousands) instead of the
    |codes|·|queries| scored relation, so the window ranks a bounded
    candidate set. Batch-level Python (MapInArrow), not row-wise."""
    import pyarrow as pa

    nw = n_words(dim)
    nq = len(queries)
    qids = np.asarray([q[0] for q in queries], dtype=np.int64)
    # centered float64 query matrix, transposed for the (docs × dim)
    # @ (dim × queries) product
    qt = (
        np.asarray([q[1] for q in queries], dtype=np.float64) - 128.0
    ).T.copy()

    def _score(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            vid = np.asarray(rb.column("vec_id")).astype(np.int64)
            words = np.empty((n, nw), dtype=np.int64)
            for w in range(nw):
                words[:, w] = np.asarray(rb.column(f"s{w}"))
            # little-endian int64 bytes → lane order == code order
            # (lane d%8 of word d//8 is byte 8·(d//8)+(d%8)). The
            # '<i8' astype pins the layout regardless of host
            # endianness (ADVICE r11): a no-op view on little-endian
            # hosts, an explicit byteswapped copy on big-endian ones —
            # a bare .view(np.uint8) would silently reverse the lanes
            # there and mis-score every pair.
            centered = (
                words.astype("<i8", copy=False).view(np.uint8).astype(np.float64)
            )
            centered -= 128.0
            scores = (centered @ qt).astype(np.int64)  # exact (< 2^53)
            key = (scores << np.int64(32)) - vid[:, None]
            key[vid[:, None] == qids[None, :]] = _SELF_PAIR_KEY
            kk = min(k, n)
            sel = np.argpartition(-key, kk - 1, axis=0)[:kk]
            out_v, out_q, out_s = [], [], []
            for j in range(nq):
                idx = sel[:, j]
                idx = idx[key[idx, j] != _SELF_PAIR_KEY]
                out_v.append(vid[idx])
                out_q.append(np.full(len(idx), qids[j], dtype=np.int64))
                out_s.append(scores[idx, j])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_v)),
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_s)),
                ],
                names=["vec_id", "query_id", "sq8_score"],
            )

    return codes.select("vec_id", *sq8_col_names(dim)).mapInArrow(
        _score, "vec_id long, query_id long, sq8_score long"
    )
