"""O4/O5/O19 — blocking: candidate-pair generation, salting, census.

reference: splink/blocking.py::BlockingRule, block_using_rules_sql,
BlockingRule.exclude_pairs_generated_by_all_preceding_rules_sql;
salting via BlockingRule.salting_partitions;
census: splink/analyse_blocking.py::count_comparisons_from_blocking_rule.

Spark-first design (NOT a port):

- Each rule is a self-join (dedupe) / cross-source join (link) whose ON
  expression is the rule conjoined with the pair-ordering predicate.
  Catalyst extracts the equi components of the expression as join keys and
  plans a shuffled hash / sort-merge join; the non-equi residue becomes a
  join filter. Rules with NO equi component would fall back to a
  BroadcastNestedLoopJoin (cartesian) — we reject those unless explicitly
  allowed, because at 100 TB that plan is fatal.
- Cross-rule pair dedup keeps the reference's NOT-previous-rules predicate
  (a free filter inside the join) instead of a global ``distinct()`` over
  pairs, which would be an enormous extra shuffle. The predicate is
  ``NOT coalesce((rule), false)`` — the reference's exact form — so a
  compound/OR prior rule or a NULL blocking column cannot scramble
  operator precedence or null semantics.
- Salting: key-append, ONE join per rule. The left side contributes a
  deterministic salt expression ``pmod(xxhash64(uid), N)``; the right
  side is explode-replicated N× with a literal ``__salt`` column; the
  extra equality ``salt(l) = r.__salt`` becomes part of the extracted
  equi-join key, so each hot block splits into N shuffle keys in a
  single shuffle. (The reference — and our round-1 version — unions N
  sub-joins, re-scanning and re-shuffling both sides N times: a
  scale-killer for high salt factors.) The salt is deterministic
  (xxhash64 of the unique id) so resume/tests are stable; AQE skew-join
  splitting (spark.sql.adaptive.skewJoin.enabled) remains the first
  line of defence — explicit salting is for the "one block = half the
  table" pathology AQE cannot fix.
- ``link_only`` emits only cross-source pairs: the join condition
  conjoins ``l.source_dataset <> r.source_dataset``
  (reference: splink/blocking.py::block_using_rules_sql link_only
  semantics).
- Block census (O19): the cheap estimate is a ``groupBy(key).count()``
  then ``sum(c*(c-1)/2)`` — an aggregation with NO join, the right way to
  size blocks at web scale before committing to the pair explosion.
"""

from __future__ import annotations

import dataclasses
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from splink_spark.model import BlockingRule

MATCH_KEY_COLUMN = "match_key"


def _ordering_condition(link_mode: bool, uid: str, source_col: str) -> str:
    """Pair-ordering predicate ensuring each unordered pair appears once.

    Dedupe: numeric id ordering. Link/multi-source: ordering on the
    composite (source_dataset, unique_id) string, matching the reference's
    concatenated-id comparison semantics
    (reference: splink/unique_id_concat.py::
    _composite_unique_id_from_nodes_sql; SURVEY.md §7.4).
    """
    if link_mode:
        comp_l = f"concat(l.{source_col}, '-__-', cast(l.{uid} as string))"
        comp_r = f"concat(r.{source_col}, '-__-', cast(r.{uid} as string))"
        return f"{comp_l} < {comp_r}"
    return f"l.{uid} < r.{uid}"


def extract_equi_components(rule: str) -> list[tuple[str, str]]:
    """The rule's top-level AND-conjunct equalities ``f(l) = g(r)`` as
    (left-expression, right-expression) strings; [] when it has a
    top-level OR or no such equality (see ``BlockingRule``)."""
    return BlockingRule(rule).equi_components


def rule_has_equi_component(rule: str) -> bool:
    """True if Catalyst can extract at least one join key from the
    rule, i.e. it will not plan as a nested-loop cartesian."""
    return bool(extract_equi_components(rule))


def _hot_key_frame(
    df: DataFrame, right: DataFrame, br: BlockingRule, names: list[str]
) -> DataFrame:
    """One row per input row carrying the rule's equi-key values as
    ``names``: left-key expressions over ``df`` plus, when ``right`` is
    a different frame, right-key expressions over it (a hot key
    concentrated on either side is seen). ``__bc`` is 1 on the rows of
    the side ``_governed_join`` broadcasts (``right``; in dedupe mode
    that is ``df`` itself), else 0."""
    keys = br.equi_keys
    keyed = df.select(
        *[F.expr(a).alias(k) for (a, _), k in zip(keys, names)],
        F.lit(int(right is df)).alias("__bc"),
    )
    if right is not df:
        keyed = keyed.unionByName(
            right.select(
                *[F.expr(b).alias(k) for (_, b), k in zip(keys, names)],
                F.lit(1).alias("__bc"),
            )
        )
    return keyed


def _governed_join(
    df: DataFrame,
    right: DataFrame,
    cond: str,
    br: BlockingRule,
    uid: str,
) -> list[DataFrame]:
    """Skew governor (north rule: "broadcast threshold on oversized
    blocks"): split the rule's join into

    - a NORMAL branch — rows whose equi key is not hot, joined by the
      usual shuffled hash join (still salted if the rule asks for it);
    - a HOT branch — rows of blocks larger than
      ``broadcast_hot_keys_above``, where the right side is broadcast so
      the n² pair work of each oversized block spreads across the left
      side's partitions instead of landing on one shuffle reducer.

    The split is exact: the rule's AND-conjunct equalities force l and r
    of any matching pair onto the same key, so a pair is produced by
    exactly one branch. NULL keys never satisfy an equality and are
    excluded from the hot set. The hot-key census appears once per rule
    in the plan; Spark's exchange reuse serves the four consumers
    (semi/anti × l/r) from one broadcast.
    """
    equi = br.equi_components
    if not equi:
        raise ValueError(
            f"broadcast_hot_keys_above set on rule {br.rule!r}, but no "
            "top-level AND-conjunct equi component could be extracted "
            "(an OR rule cannot be hot-key split exactly)"
        )
    hk = [f"__hk{i}" for i in range(len(equi))]
    hot_keys = (
        _hot_key_frame(df, right, br, hk)
        .na.drop(subset=hk)
        .groupBy(*hk)
        .count()
        .filter(F.col("count") > br.broadcast_hot_keys_above)
        .drop("count")
    )
    semi_l = " AND ".join(
        f"({a}) = h.{k}" for (a, _), k in zip(equi, hk)
    )
    semi_r = " AND ".join(
        f"({b}) = h.{k}" for (_, b), k in zip(equi, hk)
    )
    hb = F.broadcast(hot_keys)
    l_hot = df.alias("l").join(hb.alias("h"), F.expr(semi_l), "left_semi")
    l_norm = df.alias("l").join(hb.alias("h"), F.expr(semi_l), "left_anti")
    r_hot = right.alias("r").join(hb.alias("h"), F.expr(semi_r), "left_semi")
    r_norm = right.alias("r").join(hb.alias("h"), F.expr(semi_r), "left_anti")
    normal = _rule_join(l_norm, r_norm, cond, br, uid)
    hot = l_hot.alias("l").join(
        F.broadcast(r_hot).alias("r"), F.expr(cond), "inner"
    )
    # Returned un-projected (raw l.*/r.* joins carry duplicate column
    # names); the caller projects each branch, then unions.
    return [normal, hot]


def _rule_join(
    df: DataFrame,
    right: DataFrame,
    cond: str,
    br: BlockingRule,
    uid: str,
) -> DataFrame:
    """One rule's join, salted if the rule asks for it (key-append
    salting: ONE join, see module docstring)."""
    if br.salting_partitions > 1:
        n = br.salting_partitions
        salted_right = right.withColumn(
            "__salt", F.explode(F.array(*[F.lit(k) for k in range(n)]))
        )
        salted = f"{cond} AND pmod(xxhash64(l.{uid}), {n}) = r.__salt"
        return df.alias("l").join(
            salted_right.alias("r"), F.expr(salted), "inner"
        )
    return df.alias("l").join(right.alias("r"), F.expr(cond), "inner")


def _pair_projection(
    df: DataFrame,
    uid: str,
    retain_columns: list[str],
    match_key: int,
    link_mode: bool,
    source_col: str,
) -> list:
    cols = [
        F.col(f"l.{uid}").alias(f"{uid}_l"),
        F.col(f"r.{uid}").alias(f"{uid}_r"),
        F.lit(match_key).alias(MATCH_KEY_COLUMN),
    ]
    if link_mode:
        cols.insert(2, F.col(f"l.{source_col}").alias(f"{source_col}_l"))
        cols.insert(3, F.col(f"r.{source_col}").alias(f"{source_col}_r"))
    for c in retain_columns:
        cols.append(F.col(f"l.{c}").alias(f"{c}_l"))
        cols.append(F.col(f"r.{c}").alias(f"{c}_r"))
    return cols


def block_using_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    uid: str = "unique_id",
    retain_columns: list[str] | None = None,
    link_mode: bool = False,
    source_col: str = "source_dataset",
    allow_cartesian: bool = False,
    df_right: DataFrame | None = None,
    link_only: bool = False,
    pair_ordering: bool = True,
) -> DataFrame:
    """Candidate pairs under OR-of-rules with match_key provenance.

    Output columns: ``<uid>_l``, ``<uid>_r``, ``match_key``, plus
    ``<c>_l``/``<c>_r`` for each retained column. Pairs generated by an
    earlier rule are excluded from later rules' output by construction
    (NOT-predicates), so the union is exactly the OR of the rules with
    no duplicate pairs — no global distinct needed.

    ``link_only`` additionally excludes within-source pairs
    (reference: splink/blocking.py::block_using_rules_sql).
    ``pair_ordering=False`` drops the unordered-pair dedup predicate —
    correct (and required) when the two sides are distinct tables, e.g.
    base-vs-new incremental linkage, where every (l, r) combination is
    already unique and an ordering predicate over composite ids would
    silently drop pairs.

    Heavy-payload discipline (r6): when ``retain_columns`` are asked
    for, the rule joins themselves run on a NARROW projection — uid
    (+ source) + only the columns the rules reference — and the
    retained payload columns are attached AFTER the union by one
    equi-join per side on the (unique, non-null) uid. Wide payloads
    (token arrays, html) therefore cross exactly one join each instead
    of riding through every rule's join: with R rules the payload
    bytes previously moved through R broadcasts/shuffles x 2 sides,
    now exactly 2 narrow-keyed attach joins. Pair multiset is
    unchanged — the attach joins are 1:1 by the uid-uniqueness
    precondition the whole linkage model already assumes.
    """
    if retain_columns is None:
        retain_columns = []
    right = df_right if df_right is not None else df
    ordering = _ordering_condition(link_mode, uid, source_col)

    # narrow the join legs to the columns the rules (and predicates)
    # actually read; payload columns attach after the union. Only
    # worth it for R > 1 rules: with a single rule the payload crosses
    # its one join once either way, and the two attach joins would be
    # pure overhead (measured +0.1s on the single-rule o7 path).
    narrow = bool(retain_columns) and len(rules) > 1
    if narrow:
        refs = set().union(*(br.columns for br in rules))
        keep = [uid]
        if link_mode or link_only:
            keep.append(source_col)
        keep += sorted(c for c in refs if c not in keep)
        df_j = df.select(*[c for c in keep if c in df.columns])
        right_j = (
            df_j
            if right is df
            else right.select(*[c for c in keep if c in right.columns])
        )
        if len(rules) > 1:
            # With R rules the narrow key table is scanned 2R times
            # (once per join side per rule). A lazy localCheckpoint
            # materializes those few dozen bytes/row ONCE; measured
            # 2.2x on the 5-rule web-dedupe join (4.5s -> 2.1s at 50k
            # rows x 32 cores) vs re-reading the wide source each
            # time. R=1 keeps the raw plan (2 consumers — a barrier
            # buys nothing and would hide the source scan from plan
            # audits).
            df_j = df_j.localCheckpoint(eager=False)
            right_j = (
                df_j
                if right is df
                else right_j.localCheckpoint(eager=False)
            )
    else:
        df_j, right_j = df, right

    outputs: list[DataFrame] = []
    for i, br in enumerate(rules):
        if not br.equi_components and not allow_cartesian:
            raise ValueError(
                f"blocking rule {br.rule!r} has no equi component (a "
                "top-level AND with at least one f(l) = g(r) equality); "
                "it would plan as a nested-loop cartesian join. Split an "
                "OR rule into separate rules, or pass allow_cartesian=True "
                "only if you really mean it."
            )
        conds = [f"({br.rule})"]
        if pair_ordering:
            conds.append(f"({ordering})")
        if link_only:
            conds.append(f"(l.{source_col} <> r.{source_col})")
        # Cross-rule pair dedup: exclude pairs matched by any earlier rule.
        # coalesce((rule), false) — NOT over a NULL rule keeps the pair.
        for prev in rules[:i]:
            conds.append(f"(NOT coalesce(({prev.rule}), false))")
        cond = " AND ".join(conds)

        if br.broadcast_hot_keys_above > 0:
            branches = _governed_join(df_j, right_j, cond, br, uid)
        else:
            branches = [_rule_join(df_j, right_j, cond, br, uid)]
        for j in branches:
            outputs.append(
                j.select(
                    *_pair_projection(
                        df_j,
                        uid,
                        [] if narrow else retain_columns,
                        i,
                        link_mode,
                        source_col,
                    )
                )
            )

    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)

    if narrow:
        l_keys = [f"{uid}_l"] + (
            [f"{source_col}_l"] if link_mode else []
        )
        r_keys = [f"{uid}_r"] + (
            [f"{source_col}_r"] if link_mode else []
        )
        l_pay = df.select(
            F.col(uid).alias(f"{uid}_l"),
            *(
                [F.col(source_col).alias(f"{source_col}_l")]
                if link_mode
                else []
            ),
            *[F.col(c).alias(f"{c}_l") for c in retain_columns],
        )
        r_pay = right.select(
            F.col(uid).alias(f"{uid}_r"),
            *(
                [F.col(source_col).alias(f"{source_col}_r")]
                if link_mode
                else []
            ),
            *[F.col(c).alias(f"{c}_r") for c in retain_columns],
        )
        out = out.join(l_pay, l_keys).join(r_pay, r_keys)
        # reproduce the historical column order exactly
        final_cols = [f"{uid}_l", f"{uid}_r"]
        if link_mode:
            final_cols += [f"{source_col}_l", f"{source_col}_r"]
        final_cols.append(MATCH_KEY_COLUMN)
        for c in retain_columns:
            final_cols += [f"{c}_l", f"{c}_r"]
        out = out.select(*final_cols)
    return out


def count_comparisons_from_blocking_rule(
    df: DataFrame,
    rule: BlockingRule,
    uid: str = "unique_id",
    link_mode: bool = False,
    source_col: str = "source_dataset",
) -> int:
    """O19 exact count: materialises the join and counts.

    reference: splink/analyse_blocking.py::
    count_comparisons_from_blocking_rule.
    """
    pairs = block_using_rules(
        df, [rule], uid=uid, link_mode=link_mode, source_col=source_col
    )
    return pairs.count()


def block_census(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Block-size census for one equi-key blocking rule: rows per key.

    The scalable O19 estimate: pair count for the rule =
    sum over blocks of c*(c-1)/2 — no join, one aggregation.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("block_size"))
        .withColumn(
            "pairs_in_block",
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast("long"),
        )
    )


def estimate_comparisons_from_equi_keys(df: DataFrame, key_cols: list[str]) -> int:
    """Aggregation-only estimate of the pair count for an equi rule."""
    row = (
        block_census(df, key_cols)
        .agg(F.sum("pairs_in_block").alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


def estimate_comparisons_for_combos(
    df: DataFrame, combos: list[tuple[str, ...]]
) -> dict[tuple[str, ...], int]:
    """Census-estimate the pair count for MANY equi-key combos in ONE
    shuffle via GROUPING SETS: every combo's block census comes out of
    a single aggregation pass (``grouping_id`` identifies which combo a
    result row belongs to — a data NULL and a rollup NULL are
    distinguished, preserving per-combo census semantics exactly).
    At scale this replaces len(combos) full scans+shuffles with one.
    """
    all_cols = sorted({c for combo in combos for c in combo})
    pos = {c: i for i, c in enumerate(all_cols)}
    n = len(all_cols)
    # grouping_id: bit per grouped column (first listed = MSB), set
    # when the column is aggregated away, i.e. NOT in the combo
    gid_of = {
        combo: sum(
            1 << (n - 1 - pos[c]) for c in all_cols if c not in combo
        )
        for combo in combos
    }
    agg = (
        df.groupingSets([list(c) for c in combos], *[F.col(c) for c in all_cols])
        .agg(
            F.count(F.lit(1)).alias("block_size"),
            F.grouping_id().alias("gid"),
        )
        .withColumn(
            "pairs",
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast(
                "long"
            ),
        )
        .groupBy("gid")
        .agg(F.sum("pairs").alias("n"))
    )
    by_gid = {r["gid"]: int(r["n"] or 0) for r in agg.collect()}
    # a combo whose every group is empty (empty df) yields no row
    return {combo: by_gid.get(gid, 0) for combo, gid in gid_of.items()}


def find_blocking_rules_below_threshold(
    df: DataFrame,
    candidate_columns: list[str],
    max_comparisons: int = 1_000_000,
    max_combo_size: int = 2,
) -> list[dict]:
    """O20 — blocking-rule discovery: enumerate equality rules over
    column combinations and keep those whose (aggregation-only
    estimated) pair count is below the threshold.

    reference: splink/find_brs_with_comparison_counts_below_threshold.py.
    Uses the census estimate (sum c*(c-1)/2 per block), never a join,
    and censuses ALL combos in one GROUPING SETS pass — one shuffle
    regardless of how many candidate combos are enumerated.
    """
    import itertools

    combos = [
        combo
        for size in range(1, max_combo_size + 1)
        for combo in itertools.combinations(candidate_columns, size)
    ]
    estimates = estimate_comparisons_for_combos(df, combos)
    out = [
        {
            "rule": " AND ".join(f"l.{c} = r.{c}" for c in combo),
            "columns": list(combo),
            "estimated_comparisons": n,
        }
        for combo, n in estimates.items()
        if n <= max_comparisons
    ]
    return sorted(out, key=lambda d: d["estimated_comparisons"])


def cumulative_comparisons_from_blocking_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    uid: str = "unique_id",
    link_mode: bool = False,
    source_col: str = "source_dataset",
    link_only: bool = False,
) -> DataFrame:
    """O19 cumulative rollup: one row per rule with the MARGINAL pair
    count it contributes (pairs not already generated by an earlier
    rule — block_using_rules' match_key provenance is exactly this
    partition) and the running cumulative total.

    reference: splink/analyse_blocking.py::
    cumulative_comparisons_from_blocking_rules_records.

    One blocking pass + one tiny aggregation; the cumulative window
    runs over #rules rows (single partition is fine at that size).
    """
    from pyspark.sql import Window

    pairs = block_using_rules(
        df,
        rules,
        uid=uid,
        link_mode=link_mode,
        source_col=source_col,
        link_only=link_only,
    )
    counts = pairs.groupBy(MATCH_KEY_COLUMN).agg(
        F.count(F.lit(1)).alias("row_count")
    )
    rule_names = df.sparkSession.createDataFrame(
        [(i, br.rule) for i, br in enumerate(rules)],
        f"{MATCH_KEY_COLUMN} int, rule string",
    )
    w = (
        Window.orderBy(MATCH_KEY_COLUMN)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rule_names.join(F.broadcast(counts), MATCH_KEY_COLUMN, "left")
        .withColumn("row_count", F.coalesce("row_count", F.lit(0)))
        .withColumn("cumulative_rows", F.sum("row_count").over(w))
        .select(MATCH_KEY_COLUMN, "rule", "row_count", "cumulative_rows")
    )


def estimate_avg_row_bytes(df: DataFrame, sample_rows: int = 10_000) -> float:
    """Cheap average serialized-row-width estimate for broadcast sizing.

    Measures ``octet_length(to_json(struct(*)))`` over a bounded sample.
    JSON framing overestimates the in-memory Tungsten width modestly —
    the right direction for a broadcast SAFETY bound. One limit + one
    scalar agg; nothing wide reaches the driver.
    """
    row = (
        df.limit(sample_rows)
        .select(
            F.avg(
                F.octet_length(F.to_json(F.struct(*df.columns)))
            ).alias("w")
        )
        .collect()[0]
    )
    return float(row["w"] or 0.0)


def tune_blocking_rules(
    df: DataFrame,
    rules: list[BlockingRule],
    target_block_pairs: int = 5_000_000,
    hot_broadcast_row_limit: int = 2_000_000,
    df_right: DataFrame | None = None,
    hot_broadcast_byte_limit: int = 256 * 1024 * 1024,
    width_sample_rows: int = 10_000,
) -> tuple[list[BlockingRule], list[dict]]:
    """Auto-tune the skew governor: census each rule's equi-key blocks
    and switch on ``broadcast_hot_keys_above`` where a block's pair
    count (c*(c-1)/2) would exceed ``target_block_pairs`` — the largest
    pair workload one shuffle reducer should absorb.

    The threshold in ROWS is floor((1+sqrt(1+8*target))/2), the block
    size whose pair count hits the target. One aggregation pass per
    rule; only scalar stats reach the driver, so this is safe to run on
    the full corpus at any scale. Rules without extractable equi
    conjuncts (top-level OR) are passed through unchanged and flagged
    in the report.

    Link mode: pass ``df_right`` and the census counts the UNION of
    left-key and right-key expressions — the same hot-key definition
    ``_governed_join`` applies — so a hot key concentrated on either
    side is seen. Asymmetric rules (``l.a = r.b``) are censused on
    their own side's expression.

    Broadcast safety is bounded in BOTH rows and bytes: the governor
    broadcasts the RIGHT side's hot rows with all retained columns, so
    the tuner estimates avg row width (``estimate_avg_row_bytes`` over
    the broadcast side) and falls back to salting (boosting
    ``salting_partitions`` to at least 16) when hot rows exceed
    ``hot_broadcast_row_limit`` OR hot_rows x avg_width exceeds
    ``hot_broadcast_byte_limit``. Wide retained columns (token arrays,
    html) therefore count against the budget — a 2M-row cap alone
    would admit multi-GB broadcasts.

    Returns (tuned rules, per-rule report dicts with max/p99 block
    size, hot-block count, hot-pair fraction, and the broadcast-side
    row/byte estimates at the chosen threshold).
    """
    threshold = int((1 + math.isqrt(1 + 8 * target_block_pairs)) // 2)
    bcast_side = df_right if df_right is not None else df
    avg_row_bytes = estimate_avg_row_bytes(bcast_side, width_sample_rows)
    tuned: list[BlockingRule] = []
    report: list[dict] = []
    for br in rules:
        equi = br.equi_components
        if not equi:
            tuned.append(br)
            report.append(
                {"rule": br.rule, "governable": False, "reason": "no equi conjuncts"}
            )
            continue
        kn = [f"__tk{i}" for i in range(len(equi))]
        census = (
            _hot_key_frame(df, bcast_side, br, kn)
            .na.drop(subset=kn)
            .groupBy(*kn)
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum("__bc").alias("cb"),
            )
        )
        pairs = F.col("c") * (F.col("c") - 1) / 2
        hot_cond = F.col("c") > threshold
        stats = census.agg(
            F.max("c").alias("max_block"),
            F.expr("percentile_approx(c, 0.99)").alias("p99_block"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(pairs).alias("total_pairs"),
            F.sum(F.when(hot_cond, F.lit(1)).otherwise(F.lit(0))).alias(
                "hot_blocks"
            ),
            F.sum(F.when(hot_cond, pairs).otherwise(F.lit(0))).alias(
                "hot_pairs"
            ),
            F.sum(F.when(hot_cond, F.col("c")).otherwise(F.lit(0))).alias(
                "hot_rows"
            ),
            F.sum(F.when(hot_cond, F.col("cb")).otherwise(F.lit(0))).alias(
                "hot_bcast_rows"
            ),
        ).collect()[0]
        hot = int(stats["hot_blocks"] or 0)
        hot_rows = int(stats["hot_rows"] or 0)
        hot_bcast_rows = int(stats["hot_bcast_rows"] or 0)
        hot_bcast_bytes = int(hot_bcast_rows * avg_row_bytes)
        total = float(stats["total_pairs"] or 0.0)
        row = {
            "rule": br.rule,
            "governable": True,
            "threshold_rows": threshold,
            "max_block": int(stats["max_block"] or 0),
            "p99_block": int(stats["p99_block"] or 0),
            "n_blocks": int(stats["n_blocks"] or 0),
            "hot_blocks": hot,
            "hot_rows": hot_rows,
            "hot_bcast_rows": hot_bcast_rows,
            "avg_row_bytes": round(avg_row_bytes, 1),
            "hot_bcast_bytes_est": hot_bcast_bytes,
            "hot_pair_fraction": (
                float(stats["hot_pairs"] or 0.0) / total if total else 0.0
            ),
        }
        if (
            hot > 0
            and hot_bcast_rows <= hot_broadcast_row_limit
            and hot_bcast_bytes <= hot_broadcast_byte_limit
        ):
            tuned.append(
                dataclasses.replace(br, broadcast_hot_keys_above=threshold)
            )
        elif hot > 0:
            row["fallback"] = (
                "salted (hot side too large to broadcast: "
                f"{hot_bcast_rows} rows ~ {hot_bcast_bytes} bytes)"
            )
            tuned.append(
                dataclasses.replace(
                    br,
                    salting_partitions=max(br.salting_partitions, 16),
                    broadcast_hot_keys_above=0,
                )
            )
        else:
            tuned.append(br)
        report.append(row)
    return tuned, report
