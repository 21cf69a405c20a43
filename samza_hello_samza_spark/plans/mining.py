"""Association mining and robust-statistics operators.

- basket_pmi         : pointwise mutual information over co-purchased
                       part pairs — the association-strength upgrade
                       of ``basket_part_pairs`` (raw support favors
                       popular items; PMI surfaces genuinely
                       correlated ones).
- winsorize_values   : per-type p1/p99 winsorization of event values
                       with clipped-count accounting — the robust-mean
                       pre-processing pass.
- group_capped_sample: deterministic k-per-group sample (md5 order) —
                       the "cap every language at k docs" mixture
                       primitive, companion to ``sample_stratified``.

Scale notes: PMI reuses the in-row pair expansion of
basket_part_pairs (baskets are bounded, pairs never come from a
self-join); item frequencies and the basket total are parts-sized /
1-row broadcasts. Winsorize thresholds are a types-sized exact
percentile broadcast (``percentile_approx`` at unbounded types). The
capped sample is a per-group row_number over an md5 order — hash
shuffle on the group key, no global sort, deterministic across runs
and engines. Final orderings use integer/string keys only (PMI is
emitted but ordering is by support — ln() last-ulp differences never
affect row membership).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize

PMI_MIN_SUPPORT = 3
PMI_TOP_K = 30
WINSOR_LO = 0.01
WINSOR_HI = 0.99
SAMPLE_PER_GROUP = 50
RULE_MIN_SUPPORT = 3
RULE_TOP_K = 40

_PAIR_EXPR = """
    explode(flatten(transform(sequence(0, size(parts) - 2), i ->
        transform(sequence(i + 1, size(parts) - 1), j ->
            struct(parts[i] AS pa, parts[j] AS pb)))))
"""


def basket_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by co-purchase support, scored with PMI.

    PMI = ln( P(a,b) / (P(a)·P(b)) ) over order baskets. Pair counts
    come from the in-row expansion (never a lineitem self-join); item
    frequencies are a parts-sized relation joined back (size-gated
    broadcast); the basket total is a 1-row broadcast. Rows are
    selected and ORDERED by integer support with key tiebreaks — the
    float PMI is payload, so libm ln() ulps can never change the
    result set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    # pairs + item counts + total share one derivation; one row per
    # order with the full part array
    baskets = materialize(baskets, "corpus")
    pairs = (
        baskets.filter(F.size("parts") > 1)
        .select(F.expr(_PAIR_EXPR).alias("p"))
        .groupBy(F.col("p.pa").alias("part_a"), F.col("p.pb").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_SUPPORT)
    )
    items = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_item"))
        # parts-sized, consumed by BOTH pair-side joins (n_a and n_b):
        # materialize once so the basket explode+agg runs one time —
        # the plan audit showed it once per join side.
        .transform(materialize, "bounded")
    )
    total = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    ia = items.select(F.col("part").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("part").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(maybe_broadcast(ia), "part_a")
        .join(maybe_broadcast(ib), "part_b")
        .crossJoin(maybe_broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_baskets")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(PMI_TOP_K)
    )


def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules A→B with support / confidence / lift.

    The classic market-basket output ``basket_pmi`` stops short of:
    every supported unordered pair is expanded to BOTH directions
    (confidence is asymmetric — P(B|A) ≠ P(A|B)), scored with
    confidence = n_ab/n_a and lift = n_ab·N/(n_a·n_b). Same scale
    shape as the PMI plan: in-row pair expansion (no lineitem
    self-join), parts-sized item counts joined back under a size-gated
    broadcast, 1-row basket total. Selection and ordering use only the
    integer support with key tiebreaks; confidence/lift are rounded
    through decimal(18,6) so both engines take the same HALF_UP path
    on knife-edge ratios (1/128-style exact binary halves).
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    # pairs + item counts + total share one derivation; one row per
    # order with the full part array
    baskets = materialize(baskets, "corpus")
    pairs = (
        baskets.filter(F.size("parts") > 1)
        .select(F.expr(_PAIR_EXPR).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= RULE_MIN_SUPPORT)
        # supported-pairs-sized, consumed by BOTH direction branches of
        # the union below: materialize once so the in-row pair explode
        # + aggregation runs one time, not once per branch.
        .transform(materialize, "bounded")
    )
    # both rule directions from each unordered pair
    directed = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_ab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "n_ab"
        )
    )
    items = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_item"))
        # parts-sized, consumed by BOTH rule-side joins: one explode+agg
        # pass instead of one per side (same as basket_pmi).
        .transform(materialize, "bounded")
    )
    ia = items.select(F.col("part").alias("antecedent"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("part").alias("consequent"), F.col("n_item").alias("n_b"))
    total = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    dec6 = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    return (
        directed.join(maybe_broadcast(ia), "antecedent")
        .join(maybe_broadcast(ib), "consequent")
        .crossJoin(maybe_broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_a",
            "n_b",
            dec6(F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            dec6(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "antecedent", "consequent")
        .limit(RULE_TOP_K)
    )


def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p1/p99 winsorization report for event values.

    Exact per-type percentile thresholds (bounded type keyspace;
    sketch path at scale) broadcast back onto the stream; the clipped
    mean and the clip counts come from one conditional aggregate.
    Raw and clipped means are both emitted — the robustness delta is
    the point of the report.
    """
    ev = load_table(spark, sf_dir, "events")
    thr = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", WINSOR_LO), 6).alias("lo"),
        F.round(F.percentile("value", WINSOR_HI), 6).alias("hi"),
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(maybe_broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsor_mean"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_high"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )


def group_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-docs-per-language sample (md5-ordered).

    row_number over (lang ORDER BY md5(doc_id), doc_id) caps every
    group at k — one hash shuffle on the group key, each partition
    sorts only its own groups, no global sort. The md5 order is a
    deterministic pseudo-shuffle both engines compute identically, so
    the selected set is stable across runs, partitionings, and
    engines (the reproducibility property a training-mixture sample
    must have).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_GROUP)
        .select("lang", F.col("rn").cast("long").alias("rn"), "doc_id")
    )


ORACLES: dict[str, str] = {
    "basket_pmi": f"""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        expanded AS (
            SELECT unnest(flatten(list_transform(generate_series(1, len(parts) - 1),
                   i -> list_transform(generate_series(i + 1, len(parts)),
                        j -> [parts[i], parts[j]])))) AS pair
            FROM baskets
        ),
        pairs AS (
            SELECT pair[1] AS part_a, pair[2] AS part_b,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM expanded
            GROUP BY 1, 2
            HAVING count(*) >= {PMI_MIN_SUPPORT}
        ),
        items AS (
            SELECT part, CAST(count(*) AS BIGINT) AS n_item
            FROM (SELECT unnest(parts) AS part FROM baskets)
            GROUP BY part
        ),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM baskets)
        SELECT part_a, part_b, n_ab,
               ia.n_item AS n_a, ib.n_item AS n_b,
               round(ln(CAST(n_ab AS DOUBLE) * n_baskets
                        / (CAST(ia.n_item AS DOUBLE) * ib.n_item)), 4) AS pmi
        FROM pairs
        JOIN items ia ON ia.part = part_a
        JOIN items ib ON ib.part = part_b
        CROSS JOIN total
        ORDER BY n_ab DESC, part_a, part_b
        LIMIT {PMI_TOP_K}
    """,
    "basket_rules": f"""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        expanded AS (
            SELECT unnest(flatten(list_transform(generate_series(1, len(parts) - 1),
                   i -> list_transform(generate_series(i + 1, len(parts)),
                        j -> [parts[i], parts[j]])))) AS pair
            FROM baskets
        ),
        pairs AS (
            SELECT pair[1] AS pa, pair[2] AS pb,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM expanded
            GROUP BY 1, 2
            HAVING count(*) >= {RULE_MIN_SUPPORT}
        ),
        directed AS (
            SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
            UNION ALL
            SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs
        ),
        items AS (
            SELECT part, CAST(count(*) AS BIGINT) AS n_item
            FROM (SELECT unnest(parts) AS part FROM baskets)
            GROUP BY part
        ),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM baskets)
        SELECT antecedent, consequent, n_ab,
               ia.n_item AS n_a, ib.n_item AS n_b,
               CAST(CAST(CAST(n_ab AS DOUBLE) / ia.n_item
                         AS DECIMAL(18,6)) AS DOUBLE) AS confidence,
               CAST(CAST(CAST(n_ab AS DOUBLE) * n_baskets
                         / (CAST(ia.n_item AS DOUBLE) * ib.n_item)
                         AS DECIMAL(18,6)) AS DOUBLE) AS lift
        FROM directed
        JOIN items ia ON ia.part = antecedent
        JOIN items ib ON ib.part = consequent
        CROSS JOIN total
        ORDER BY n_ab DESC, antecedent, consequent
        LIMIT {RULE_TOP_K}
    """,
    "winsorize_values": f"""
        WITH thr AS (
            SELECT event_type,
                   round(quantile_cont(value, {WINSOR_LO}), 6) AS lo,
                   round(quantile_cont(value, {WINSOR_HI}), 6) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 4) AS raw_mean,
               round(avg(CASE WHEN value < lo THEN lo
                              WHEN value > hi THEN hi
                              ELSE value END), 4) AS winsor_mean,
               CAST(sum(CAST(value < lo AS INT)) AS BIGINT) AS n_clipped_low,
               CAST(sum(CAST(value > hi AS INT)) AS BIGINT) AS n_clipped_high,
               min(lo) AS lo, min(hi) AS hi
        FROM events e JOIN thr ON e.event_type = thr.event_type
        GROUP BY e.event_type
    """,
    "group_capped_sample": f"""
        WITH numbered AS (
            SELECT lang, doc_id,
                   CAST(row_number() OVER (PARTITION BY lang
                                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                        AS BIGINT) AS rn
            FROM documents
        )
        SELECT lang, rn, doc_id FROM numbered WHERE rn <= {SAMPLE_PER_GROUP}
    """,
}

QUERIES = {
    "basket_pmi": basket_pmi,
    "basket_rules": basket_rules,
    "winsorize_values": winsorize_values,
    "group_capped_sample": group_capped_sample,
}
