"""The workloads. Each drives the engine only through its public
functions, inside spans from ``tracing.Recorder``, and checks the outputs
against the pandas/numpy references in ``checks``.

A workload has a set-up phase (Spark start, fixture generation and
caching, an untimed warm-up, and for the incremental workload the base
model), then a timed loop of units (full passes, or micro-batches) that
runs until the time budget is spent, then the checks.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from checks import (
    Tally,
    expected_pair_count,
    min_id_components,
    pairwise_f1,
    same_assignment,
)
from splink_spark.fixtures.persons import distributed_persons
from splink_spark.fixtures.webpages import distributed_corpus
from splink_spark.functions.comparators import (
    columns_reversed_level,
    else_level,
    exact_match,
    exact_match_level,
    levenshtein_at_thresholds,
    levenshtein_level,
    null_level,
)
from splink_spark.model import BlockingRule, Comparison, Settings
from splink_spark.operators.cluster import incremental_connected_components
from splink_spark.operators.predict import predict_from_comparison_vectors
from splink_spark.operators.training import (
    deterministic_sample,
    gamma_histogram,
)
from splink_spark.operators.vectors import compute_comparison_vectors
from splink_spark.operators.webtext import prepare_pages, web_dedupe_settings
from splink_spark.plans.linker import Linker
from tracing import Recorder, jvm_gc_seconds

UID = "unique_id"
EDGE_COLS = ["unique_id_l", "unique_id_r"]

# The nine-rule person model of BENCH/run_persons.py, with city TF-adjusted.
PERSON_RULES = [
    "l.dob = r.dob AND l.city = r.city",
    "l.email = r.email",
    "l.postcode = r.postcode",
    "l.surname = r.surname AND l.dob = r.dob",
    "l.first_name = r.first_name AND l.dob = r.dob",
    "l.dob_canon = r.dob_canon AND l.surname = r.surname",
    "l.dob_canon = r.dob_canon AND l.first_name = r.first_name",
    "l.dob_canon = r.dob_canon AND l.city = r.city",
    "l.name_a = r.name_a AND l.name_b = r.name_b AND l.dob_canon = r.dob_canon",
]
LAMBDA_RULES = ["l.email = r.email"]
EM_RULES = ["l.dob = r.dob AND l.city = r.city", "l.email = r.email"]


def persons_settings() -> Settings:
    return Settings(
        unique_id_column_name=UID,
        probability_two_random_records_match=0.001,
        blocking_rules=[BlockingRule(rule=r) for r in PERSON_RULES],
        comparisons=[
            Comparison(
                output_column_name="first_name",
                input_columns=["first_name"],
                levels=[
                    null_level("first_name"),
                    exact_match_level("first_name"),
                    columns_reversed_level("first_name", "surname"),
                    levenshtein_level("first_name", 2),
                    else_level(),
                ],
            ),
            levenshtein_at_thresholds("surname", 2),
            levenshtein_at_thresholds("dob", 2),
            exact_match("city", tf_adjustment=True),
            levenshtein_at_thresholds("email", 2),
        ],
    )


def with_person_keys(df):
    """Swap-invariant blocking keys: the dob with month and day sorted,
    and the two names sorted (part of the timed job)."""
    return df.selectExpr(
        "*",
        "concat(substr(dob, 1, 4), least(substr(dob, 6, 2), "
        "substr(dob, 9, 2)), greatest(substr(dob, 6, 2), "
        "substr(dob, 9, 2))) AS dob_canon",
        "least(first_name, surname) AS name_a",
        "greatest(first_name, surname) AS name_b",
    )


def person_keys_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pandas copy of ``with_person_keys`` for the pair-count
    reference (the fixture never nulls a name or a dob)."""
    out = pdf.copy()
    md, dd = out["dob"].str[5:7], out["dob"].str[8:10]
    out["dob_canon"] = (
        out["dob"].str[:4]
        + np.where(md <= dd, md, dd)
        + np.where(md <= dd, dd, md)
    )
    f, s = out["first_name"], out["surname"]
    out["name_a"] = np.where(f <= s, f, s)
    out["name_b"] = np.where(f <= s, s, f)
    return out


@dataclass
class Run:
    spark: object
    rec: Recorder
    spec: dict
    seed: int
    seconds: float
    work: str
    slots: int
    tally: Tally = field(default_factory=Tally)
    setup: dict = field(default_factory=dict)
    units: list[int] = field(default_factory=list)
    # timed units that a traced run ran with tracing off
    untraced: list[int] = field(default_factory=list)
    # set-up units whose layers the timed units do not run (the
    # incremental workload's base); per-layer metrics include them
    extra_units: list[int] = field(default_factory=list)
    unit_walls: list[float] = field(default_factory=list)
    layer_counts: dict = field(default_factory=dict)
    timed_s: float = 0.0

    def count(self, name: str, value: float) -> None:
        self.layer_counts.setdefault(name, []).append(float(value))


def build_fixture(run: Run, build):
    """Generate and cache the fixture; its build time is set-up time."""
    t0 = time.perf_counter()
    df = build().persist()
    n = df.count()
    run.setup["fixture_s"] = time.perf_counter() - t0
    return df, n


def drain(preds):
    """Persist predictions and aggregate over ``match_weight`` so that
    Catalyst cannot prune the scoring."""
    preds = preds.select(*EDGE_COLS, "match_probability", "match_weight")
    preds = preds.persist()
    preds.agg(F.count(F.lit(1)), F.sum("match_weight")).collect()
    return preds


def score(run: Run, linker: Linker, keep: list):
    """Untraced: ``Linker.predict`` in one fused pass. Traced: blocked
    pairs are materialized first, so blocking and scoring split."""
    rec = run.rec
    if not rec.traced:
        with rec.span("predict.predict", "predict"):
            preds = drain(linker.predict())
        keep.append(preds)
        return preds
    with rec.span("blocking.blocked_pairs", "blocking"):
        pairs = linker.blocked_pairs().persist()
        n_pairs = pairs.count()
    keep.append(pairs)
    with rec.span("predict.score", "predict") as s:
        vectors = compute_comparison_vectors(pairs, linker.settings)
        preds = drain(predict_from_comparison_vectors(vectors, linker.settings))
    run.count("predict.pairs_per_s", n_pairs / s.wall)
    keep.append(preds)
    return preds


def cluster(run: Run, linker: Linker, preds, threshold: float, keep: list):
    with run.rec.span("cluster.cluster_at_threshold", "cluster"):
        clusters = linker.cluster_pairwise_predictions_at_threshold(
            preds, threshold
        ).select(UID, "cluster_id").persist()
        clusters.count()
    keep.append(clusters)
    return clusters


def release(linker: Linker, keep: list) -> None:
    for df in keep:
        df.unpersist()
    linker.concat_with_tf().unpersist()
    for t in linker.tf_tables().values():
        t.unpersist()


def timed_loop(run: Run, unit) -> None:
    """Closed loop: run units until the time budget is spent, starting no
    unit that the median unit time says would end after it (at least
    one unit always runs). A traced run alternates untraced and traced
    units, untraced first and last, at least three: each traced unit's
    baseline for the tracing overhead is its two untraced neighbours,
    which also cancels the drift of a run that is still warming up."""
    traced = run.rec.traced
    gc0 = jvm_gc_seconds(run.spark)
    t_start = time.perf_counter()
    t_end = t_start + run.seconds
    while True:
        now = time.perf_counter()
        short = traced and (len(run.units) < 3 or len(run.units) % 2 == 0)
        if not short and (
            now >= t_end
            or (run.unit_walls and now + statistics.median(run.unit_walls) > t_end)
        ):
            break
        run.rec.traced = traced and len(run.units) % 2 == 1
        try:
            idx = unit("unit" if run.rec.traced or not traced else "untraced")
        except Exception:
            # a unit that raises is a failed operation; the loop goes on
            traceback.print_exc()
            run.tally.record(False, "unit raised")
            if short:
                break
            continue
        finally:
            run.rec.traced = traced
        if idx is None:
            break
        if traced and len(run.units) % 2 == 0:
            run.untraced.append(idx)
        run.units.append(idx)
        run.unit_walls.append(run.rec.spans[idx].wall)
    run.timed_s = time.perf_counter() - t_start
    run.count("jvm.gc_s", (jvm_gc_seconds(run.spark) - gc0) / max(len(run.units), 1))


def span_sum(run: Run, idx: int, prefixes: tuple[str, ...]) -> float:
    return sum(
        s.wall for s in run.rec.leaves_under(idx) if s.name.startswith(prefixes)
    )


def unit_median(run: Run, prefixes: tuple[str, ...]) -> float:
    return statistics.median(span_sum(run, i, prefixes) for i in run.units)


def tail(values: list[float]) -> float:
    """Highest percentile with at least 10 values beyond it; the
    maximum when there are 10 values or fewer, which is the case at
    the unit counts a run of run_seconds produces (see spec.json)."""
    v = sorted(values)
    return v[-1] if len(v) <= 10 else v[len(v) - 11]


def cluster_counts(run: Run, preds, assign: pd.DataFrame, thr: float) -> None:
    sizes = assign.groupby("cluster_id").size()
    edges = preds.filter(F.col("match_probability") >= thr).count()
    run.count("cluster.edges", edges)
    run.count("predict.kept_frac", edges / max(preds.count(), 1))
    run.count("cluster.clusters", len(sizes))
    run.count("cluster.max_cluster_size", sizes.max())


def blocking_counts(
    run: Run, pairs: pd.DataFrame, truth: pd.DataFrame, n_records: int
) -> None:
    """Useful outcomes of blocking: candidates that are true matches,
    and true matches that became candidates."""
    ent = truth.set_index(UID)["entity"]
    same = (
        ent.loc[pairs["unique_id_l"]].to_numpy()
        == ent.loc[pairs["unique_id_r"]].to_numpy()
    )
    sizes = truth.groupby("entity").size().to_numpy(np.float64)
    all_true = float((sizes * (sizes - 1) / 2).sum())
    run.count("blocking.pairs", len(pairs))
    run.count("blocking.pairs_per_record", len(pairs) / n_records)
    run.count("blocking.true_pair_frac", same.mean() if len(pairs) else 0.0)
    run.count("blocking.recall", same.sum() / all_true if all_true else 1.0)


def training_counts(
    run: Run, linker: Linker, max_pairs: int, em_rules: list[str]
) -> None:
    """Pair volumes behind the training calls, recounted after the pass.
    u: the engine samples each side to about sqrt(2 * max_pairs) rows
    with ``deterministic_sample`` and pairs the sample with itself."""
    df = linker.concat_with_tf()
    n = df.count()
    if n * (n - 1) / 2 <= max_pairs:
        k = n
    else:
        target = int((2.0 * max_pairs) ** 0.5) + 1
        k = deterministic_sample(df, target / n, UID).count()
    run.count("training.u_pairs", k * (k - 1) / 2)
    em_pairs = hist_rows = 0
    for rule in em_rules:
        br = BlockingRule(rule=rule)
        em_pairs += linker.count_num_comparisons_from_blocking_rule(br)
        vectors = compute_comparison_vectors(
            linker.blocked_pairs([br]), linker.settings
        )
        hist_rows += gamma_histogram(vectors, linker.settings).count()
    run.count("training.em_pairs", em_pairs)
    run.count("training.histogram_rows", hist_rows)


def pairs_ok(run: Run, wl: dict, n_pairs: int, want: int) -> tuple[bool, str]:
    """The engine's pair count must equal the pandas reference and, for a
    seed listed in spec.json, the count recorded there."""
    recorded = wl["expected"].get(str(run.seed), {}).get("pairs")
    ok = n_pairs == want and recorded in (None, n_pairs)
    return ok, f"pairs {n_pairs} (reference {want}, recorded {recorded})"


def batch_checks(
    run: Run, wl: dict, name: str, n_pairs: int, want_pairs: int,
    assign: pd.DataFrame, truth: pd.DataFrame,
) -> float:
    """The checks of one timed pass; returns its pairwise F1."""
    f1 = pairwise_f1(assign, truth)
    ok, text = pairs_ok(run, wl, n_pairs, want_pairs)
    run.tally.record(
        ok and f1 >= wl["f1_gate"],
        f"{name}: {text}, f1 {f1:.4f} (gate {wl['f1_gate']})",
    )
    return f1


# -- persons ------------------------------------------------------------------


def train_persons(run: Run, wl: dict, persons) -> tuple[Linker, int, int]:
    """A fresh person model over ``persons``: concat/tf, lambda, u and two
    EM sessions. Returns the linker, its record count and the EM
    iterations."""
    rec = run.rec
    with rec.span("concat.concat_with_tf", "concat"):
        linker = Linker(with_person_keys(persons), persons_settings())
        n = linker.concat_with_tf().count()
    with rec.span("training.lambda", "training"):
        linker.estimate_probability_two_random_records_match(
            LAMBDA_RULES, recall=0.8
        )
    with rec.span("training.u", "training"):
        linker.estimate_u_using_random_sampling(max_pairs=wl["u_max_pairs"])
    iters = 0
    for rule in EM_RULES:
        with rec.span("training.em", "training"):
            iters += linker.estimate_parameters_using_expectation_maximisation(
                rule, fix_u=True
            ).iterations
    return linker, n, iters


def pass_counts(run, linker, preds, clusters, truth, n, wl, em_rules) -> None:
    edges = preds.select(*EDGE_COLS).toPandas()
    blocking_counts(run, edges, truth, n)
    cluster_counts(run, preds, clusters.toPandas(), wl["threshold"])
    training_counts(run, linker, wl["u_max_pairs"], em_rules)


def person_fixture(run: Run, wl: dict):
    """The cached fixture and its ground truth (unique_id, entity)."""
    raw, n = build_fixture(
        run,
        lambda: distributed_persons(
            run.spark, n_entities=wl["entities"], seed=run.seed,
            max_records=wl["max_records"], partitions=wl["partitions"],
        ),
    )
    pdf = raw.toPandas().rename(columns={"cluster": "entity"})
    return raw, n, pdf


def warm_slice(wl: dict):
    """Records of the first ``warmup_entities`` entities (unique_id is
    entity * max_records + record index)."""
    return F.col(UID) < wl["warmup_entities"] * wl["max_records"]


# -- web_dedupe --------------------------------------------------------------


def batch_metrics(run: Run, n: int, f1s: list[float], sizes: dict) -> dict:
    walls = run.unit_walls
    return {
        "records_per_s": n / statistics.median(walls),
        "train_s": unit_median(run, ("training.",)),
        "predict_s": unit_median(run, ("predict.", "blocking.")),
        "cluster_s": unit_median(run, ("cluster.",)),
        "batch_p50_ms": 1000.0 * statistics.median(walls),
        "batch_tail_ms": 1000.0 * tail(walls),
        "pairwise_f1": statistics.median(f1s),
        "_sizes": sizes,
    }


def web_dedupe(run: Run) -> dict:
    spark, wl, rec = run.spark, run.spec["workloads"]["web_dedupe"], run.rec
    pages, n = build_fixture(
        run,
        lambda: distributed_corpus(
            spark, n_entities=wl["entities"], seed=run.seed,
            partitions=wl["partitions"],
        )[0],
    )
    inputs = pages.drop("entity_id")
    truth = pages.select(UID, F.col("entity_id").alias("entity")).toPandas()
    results: dict[int, tuple] = {}
    keys: list[pd.DataFrame] = []  # blocking keys of the first timed pass

    def unit(name: str, df=inputs, counted=True):
        keep: list = []
        with rec.span(name) as u:
            with rec.span("webtext.prepare_pages", "webtext") as s:
                prepared = prepare_pages(df).persist()
                rows = prepared.count()
            keep.append(prepared)
            linker = Linker(prepared, web_dedupe_settings())
            with rec.span("concat.concat_with_tf", "concat"):
                linker.concat_with_tf().count()
            with rec.span("training.u", "training"):
                linker.estimate_u_using_random_sampling(
                    max_pairs=wl["u_max_pairs"]
                )
            preds = score(run, linker, keep)
            clusters = cluster(run, linker, preds, wl["threshold"], keep)
        if rec.traced and counted:
            run.count("webtext.rows_per_s", rows / s.wall)
            pass_counts(run, linker, preds, clusters, truth, n, wl, [])
        idx = rec.spans.index(u)
        results[idx] = (preds.count(), clusters.toPandas())
        if counted and not keys:
            keys.append(prepared.select(
                UID, *[c for c in prepared.columns if c.startswith("bk_")]
            ).toPandas())
        release(linker, keep)
        return idx

    t0 = time.perf_counter()
    # warm-up: a pass over a slice meets the cold JVM
    unit(
        "warmup",
        pages.filter(F.col("entity_id") < wl["warmup_entities"]).drop("entity_id"),
        counted=False,
    )
    run.setup["warmup_s"] = time.perf_counter() - t0
    timed_loop(run, unit)

    # pair-count reference over the keys prepare_pages derived
    settings = web_dedupe_settings()
    want = expected_pair_count(
        keys[0], [r.rule for r in settings.blocking_rules]
    )
    f1s = [
        batch_checks(run, wl, f"pass {i}", results[i][0], want,
                     results[i][1], truth)
        for i in run.units
    ]
    pages.unpersist()
    return batch_metrics(run, n, f1s, sizes={"records": n, "pairs": want})


# -- persons_incremental -----------------------------------------------------


def incremental_checks(
    run: Run, wl: dict, final: pd.DataFrame, nodes: np.ndarray,
    edges: np.ndarray, truth: pd.DataFrame,
) -> float:
    """The last snapshot must equal a union-find over the base edges plus
    every folded edge, labelled by min member id, and reach the F1 gate.
    A wrong label cannot be traced to one batch, so then every timed
    batch counts as failed. Returns the snapshot's pairwise F1."""
    same = same_assignment(final, min_id_components(nodes, edges))
    f1 = pairwise_f1(final, truth[truth[UID].isin(nodes)])
    for i in run.units:
        run.tally.record(
            same and f1 >= wl["f1_gate"],
            f"batch {i}: final assignment "
            f"{'matches' if same else 'differs from'} the union-find "
            f"reference, f1 {f1:.4f} (gate {wl['f1_gate']})",
        )
    return f1


def persons_incremental(run: Run) -> dict:
    spark, rec = run.spark, run.rec
    wl = run.spec["workloads"]["persons_incremental"]
    thr, bsize = wl["threshold"], wl["batch_size"]
    raw, n, pdf = person_fixture(run, wl)
    truth = pdf[[UID, "entity"]]

    # held-out entities keep their first record in the base; their later
    # records arrive, shuffled, in micro-batches
    rng = np.random.default_rng([run.seed, 1])
    held = rng.random(wl["entities"]) < wl["heldout_entity_share"]
    is_new = held[pdf["entity"].to_numpy()] & (
        pdf[UID].to_numpy() % wl["max_records"] != 0
    )
    new_pdf = pdf[is_new].drop(columns="entity")
    new_pdf = new_pdf.iloc[rng.permutation(len(new_pdf))]
    schema = raw.drop("cluster").schema
    new_ids = spark.createDataFrame(new_pdf[[UID]])
    base = raw.join(F.broadcast(new_ids), UID, "left_anti").drop("cluster")
    base_pdf = pdf[~is_new]

    # the base, all of it set-up time: a cold training over a slice of it
    # meets the cold JVM and Python workers (the warm-up), then the model
    # is trained on the whole base (train_s), which predicts and clusters
    t0 = time.perf_counter()
    with rec.span("warmup"):
        release(train_persons(run, wl, base.filter(warm_slice(wl)))[0], [])
    run.setup["warmup_s"] = time.perf_counter() - t0
    keep: list = []
    with rec.span("train") as t:
        linker, n_base, iters = train_persons(run, wl, base)
    trained = rec.spans.index(t)
    with rec.span("base") as b:
        preds = score(run, linker, keep)
        clusters = cluster(run, linker, preds, thr, keep)
    state = os.path.join(run.work, "state")
    clusters.write.parquet(os.path.join(state, "v=0"))
    run.setup["base_s"] = time.perf_counter() - t0 - run.setup["warmup_s"]
    run.extra_units += [trained, rec.spans.index(b)]
    if rec.traced:
        run.count("training.em_iterations", iters)
        base_truth = base_pdf[[UID, "entity"]]
        pass_counts(run, linker, preds, clusters, base_truth, n_base, wl, EM_RULES)
    base_pairs = preds.count()
    base_edges = (
        preds.filter(F.col("match_probability") >= thr)
        .select(*EDGE_COLS).toPandas().to_numpy()
    )
    for df in keep:
        df.unpersist()

    batches: list[np.ndarray] = []  # edges folded per batch
    sizes: dict[int, int] = {}  # unit span index -> records sent
    sent = [0]

    def unit(name: str):
        lo = sent[0]
        if lo >= len(new_pdf):
            return None
        batch = new_pdf.iloc[lo : lo + bsize]
        v = len(batches)
        with rec.span(name) as u:
            with rec.span("incremental.score", "incremental"):
                new = with_person_keys(spark.createDataFrame(batch, schema))
                edges = (
                    linker.find_matches_to_new_records(
                        new, threshold_match_probability=thr
                    )
                    .select(*EDGE_COLS).toPandas().to_numpy()
                )
            with rec.span("cluster.fold", "incremental"):
                ids = batch[UID].to_numpy()
                fold = np.concatenate([edges, np.stack([ids, ids], 1)])
                prior = spark.read.parquet(os.path.join(state, f"v={v}"))
                updated = incremental_connected_components(
                    prior,
                    spark.createDataFrame(
                        pd.DataFrame(fold.astype(np.int64), columns=EDGE_COLS)
                    ),
                )
            with rec.span("incremental.write", "incremental"):
                updated.write.mode("overwrite").parquet(
                    os.path.join(state, f"v={v + 1}")
                )
        if rec.traced:
            run.count("incremental.edges_per_batch", len(edges))
        batches.append(edges)
        sent[0] += len(batch)
        idx = rec.spans.index(u)
        sizes[idx] = len(batch)
        return idx

    t0 = time.perf_counter()
    for _ in range(wl["warmup_batches"]):
        unit("warmup")
    run.setup["warmup_s"] += time.perf_counter() - t0
    timed_loop(run, unit)
    release(linker, [])

    # checks (untimed): the base's pair count against a pandas blocking
    # of the base records, then the final snapshot
    want_pairs = expected_pair_count(person_keys_pandas(base_pdf), PERSON_RULES)
    ok, text = pairs_ok(run, wl, base_pairs, want_pairs)
    run.tally.record(ok, f"base: {text}")
    final = spark.read.parquet(os.path.join(state, f"v={len(batches)}"))
    nodes = np.concatenate(
        [base_pdf[UID].to_numpy(), new_pdf[UID].to_numpy()[: sent[0]]]
    )
    f1 = incremental_checks(
        run, wl, final.toPandas(), nodes,
        np.concatenate([base_edges, *batches]), truth,
    )
    raw.unpersist()
    walls = run.unit_walls
    return {
        "records_per_s": sum(sizes[i] for i in run.units) / sum(walls),
        "train_s": span_sum(run, trained, ("training.",)),
        "predict_s": unit_median(run, ("incremental.score",)),
        "cluster_s": unit_median(run, ("cluster.fold", "incremental.write")),
        "batch_p50_ms": 1000.0 * statistics.median(walls),
        "batch_tail_ms": 1000.0 * tail(walls),
        "pairwise_f1": f1,
        "_sizes": {
            "records": n, "base_records": len(base_pdf),
            "base_pairs": want_pairs, "new_records": len(new_pdf),
            "batch_size": bsize, "timed_batches": len(run.units),
        },
    }


WORKLOADS = {
    "web_dedupe": web_dedupe,
    "persons_incremental": persons_incremental,
}
