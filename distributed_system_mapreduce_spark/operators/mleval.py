"""Distributed model-evaluation operators: exact AUC and calibration bins.

A training-data pipeline ends at a model, and the evaluation of that model
runs over the same 100 TB-scale scored corpus the pipeline produced — so
the eval metrics themselves must be distributed aggregations, not
driver-side sklearn calls. The two queries here are the canonical shapes:

- ``eval_auc``: exact ROC-AUC. The naive form ranks every scored row
  globally (a full sort of the corpus); the scale-correct identity is that
  AUC only depends on the per-distinct-score (positives, negatives) counts:
  AUC = sum_s pos_s * (cum_neg_below_s + neg_s / 2) / (P * N) — the
  average-rank tie treatment, equal to the Mann-Whitney U statistic. The
  group-by collapses the corpus map-side to one row per distinct score
  (bounded by score resolution, not corpus rows); only that tiny rollup is
  windowed and reduced.
- ``eval_calibration_bins``: the reliability-diagram rollup (predicted
  probability vs observed positive rate per fixed-width bin). Pure
  two-level aggregation, fully partial-aggregable; output is <= N_BINS
  rows at any scale. Probability sums go through decimal(18,9) so the
  per-bin means are partitioning-order-independent (SURVEY.md §7.3.1).

No reference-file citation is possible (the /root/reference snapshot is
empty — SURVEY.md §0); the eval family is part of the driver's
LLM-pipeline mandate. Labels/scores derive deterministically from the
``embeddings`` table: positive class = label < 5, score = the first
embedding component (floor-bucketed to integer milli-units so the
grouping key is exact on both engines — no float round-half boundary in
a key position).
"""

from __future__ import annotations

from decimal import Decimal as PyDecimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import spread, track
from ..plans.topk import salted_topk
from ..exactmath import round_div, round_div_long, sql_round_div
from ..registry import register
from ..sources.io import load

#: Score bucketing: floor(first_component * 1000) — integer milli-units.
#: Floor of an identical double is exact on both engines, unlike rounding
#: a float at a .5 boundary.
SCORE_SCALE = 1000
#: Calibration: probability proxy p = clip(0.5 + 1.5 * first_component)
#: into [0, 1], binned into N_BINS fixed-width bins.
CALIB_GAIN = 1.5
N_BINS = 10


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, score_m, is_pos): integer milli-score + binary label."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.floor(F.col("embedding")[0].cast("double") * SCORE_SCALE)
        .cast("bigint")
        .alias("score_m"),
        (F.col("label") < 5).cast("int").alias("is_pos"),
    )


@register(
    "eval_auc",
    oracle=f"""
    with scored as (
      select cast(floor(cast(embedding[1] as double) * {SCORE_SCALE})
                  as bigint) as score_m,
             cast(label < 5 as int) as is_pos
      from embeddings),
    per_score as (
      select score_m,
             cast(sum(is_pos) as bigint) as pos,
             cast(sum(1 - is_pos) as bigint) as neg
      from scored
      group by score_m),
    cum as (
      select pos, neg,
             coalesce(sum(neg) over (order by score_m
                       rows between unbounded preceding
                       and 1 preceding), 0) as cum_neg
      from per_score)
    select case when (select sum(pos) from per_score) = 0
                  or (select sum(neg) from per_score) = 0 then null
           else {sql_round_div(
               "sum(pos * (2 * cum_neg + neg))",
               "2 * (select sum(pos) from per_score)"
               " * (select sum(neg) from per_score)",
               6,
           )} end as auc,
           cast((select sum(pos) from per_score) as bigint) as n_pos,
           cast((select sum(neg) from per_score) as bigint) as n_neg,
           count(*) as n_scores
    from cum
    """,
)
def eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the milli-bucketed embedding score against the
    binary label, with average-rank tie handling (Mann-Whitney U).

    Plan: one map-side-combining groupBy collapses the corpus to one row
    per distinct score; the running negative count windows over that
    rollup (rows = distinct scores, a single tiny partition at any corpus
    size); the final reduce is one row. All arithmetic stays integer until
    the last division — pos*(2*cum_neg+neg) doubles the half-credit tie
    term so no fraction appears before the deterministic final divide.
    """
    per_score = _scored(spark, sf_dir).groupBy("score_m").agg(
        F.sum("is_pos").alias("pos"),
        F.sum(1 - F.col("is_pos")).alias("neg"),
    )
    w = (
        Window.orderBy("score_m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_score.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cum_neg"),
    )
    return cum.agg(
        # single-class corpus: AUC is undefined -> NULL (1-row sweep,
        # tests/test_degenerate.py), mirrored in the oracle
        F.when(
            (F.sum("pos") == 0) | (F.sum("neg") == 0), F.lit(None)
        ).otherwise(
            # all-integer half-up round (exactmath.py, r15 tie rework):
            # the Mann-Whitney U statistic over 2*P*N is rational
            round_div(
                F.sum(F.col("pos") * (2 * F.col("cum_neg") + F.col("neg"))),
                F.lit(2) * F.sum("pos") * F.sum("neg"),
                6,
            )
        ).alias("auc"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )


@register(
    "eval_pr_auc",
    oracle=f"""
    with scored as (
      select cast(floor(cast(embedding[1] as double) * {SCORE_SCALE})
                  as bigint) as score_m,
             cast(label < 5 as int) as is_pos
      from embeddings),
    per_score as (
      select score_m,
             cast(sum(is_pos) as bigint) as pos,
             cast(sum(1 - is_pos) as bigint) as neg
      from scored
      group by score_m),
    cum as (
      select pos,
             sum(pos) over (order by score_m desc
                            rows between unbounded preceding
                            and current row) as tp,
             sum(neg) over (order by score_m desc
                            rows between unbounded preceding
                            and current row) as fp
      from per_score),
    terms as (
      select cast({sql_round_div('pos * tp', '(tp + fp)', 9)}
                  as decimal(18,9)) as term
      from cum where pos > 0)
    select {sql_round_div(
        "sum(term)", "(select sum(pos) from per_score)", 6, 9
    )} as ap,
           cast((select sum(pos) from per_score) as bigint) as n_pos,
           cast((select sum(neg) from per_score) as bigint) as n_neg,
           (select count(*) from per_score) as n_scores
    from terms
    """,
)
def eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step definition with ties credited at their group boundary) — the
    imbalanced-class companion of ``eval_auc``, factored through the same
    per-distinct-score rollup.

    AP = (1/P) * sum over score groups of pos_s * TP_s / (TP_s + FP_s),
    where TP/FP are cumulative counts including the group (all tied rows
    counted at once — deterministic, no within-tie order dependence). The
    corpus collapses map-side to one row per distinct milli-score; the
    cumulative window runs over that bounded rollup only. Each group's
    precision term is rounded to 9 dp and summed as decimal(18,9), so the
    reduction is partition-order-independent (SURVEY.md §7.3.1) — the
    only doubles are inside a single deterministic per-row expression.
    """
    per_score = _scored(spark, sf_dir).groupBy("score_m").agg(
        F.sum("is_pos").alias("pos"),
        F.sum(1 - F.col("is_pos")).alias("neg"),
    )
    w = (
        Window.orderBy(F.desc("score_m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_score.select(
        "pos",
        "neg",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    # pos*tp/(tp+fp) as the all-integer half-up (exactmath r16) —
    # decimal path: pos*tp*10^9 outgrows the long bound on big corpora
    term = round_div(
        F.col("pos") * F.col("tp"), F.col("tp") + F.col("fp"), 9
    ).cast("decimal(18,9)")
    return cum.agg(
        # all-integer half-up round over the 9-dp decimal term sum
        # (exactmath.py, r15 tie rework)
        round_div(
            F.sum(F.when(F.col("pos") > 0, term)), F.sum("pos"), 6, 9
        ).alias("ap"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )


@register(
    "eval_calibration_bins",
    oracle=f"""
    with probs as (
      select least(greatest(
               0.5 + {CALIB_GAIN} * cast(embedding[1] as double),
               0.0), 1.0) as p,
             cast(label < 5 as int) as is_pos
      from embeddings),
    binned as (
      select least(cast(floor(p * {N_BINS}) as int), {N_BINS} - 1)
               as bin,
             cast(p as decimal(18,9)) as p9,
             is_pos
      from probs)
    select bin,
           count(*) as n,
           {sql_round_div("sum(p9)", "count(*)", 6, 9)} as mean_p,
           {sql_round_div("sum(is_pos)", "count(*)", 6)} as pos_rate
    from binned
    group by bin
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram rollup: per fixed-width probability bin, the
    mean predicted probability vs the observed positive rate.

    Single partial-aggregable groupBy; <= N_BINS output rows at any
    scale. Probabilities sum as decimal(18,9) (exact, order-independent)
    before the mean — a double sum over 100 TB of partitions would make
    ``mean_p`` depend on partitioning (SURVEY.md §7.3.1).
    """
    emb = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            0.5 + CALIB_GAIN * F.col("embedding")[0].cast("double"),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    binned = emb.select(
        F.least(
            F.floor(p * N_BINS).cast("int"), F.lit(N_BINS - 1)
        ).alias("bin"),
        p.cast("decimal(18,9)").alias("p9"),
        (F.col("label") < 5).cast("int").alias("is_pos"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        # all-integer half-up rounds (exactmath.py, r15 tie rework)
        round_div(F.sum("p9"), F.count(F.lit(1)), 6, 9).alias("mean_p"),
        round_div(F.sum("is_pos"), F.count(F.lit(1)), 6).alias("pos_rate"),
    )


#: NDCG: query set = vec_id < NDCG_QUERIES, ranked depth NDCG_K.
NDCG_QUERIES = 10
NDCG_K = 10


@register(
    "eval_ndcg_at_k",
    oracle=f"""
    with q as (
      select vec_id as qid, embedding::DOUBLE[] as q_emb, label as q_label
      from embeddings where vec_id < {NDCG_QUERIES}),
    scored as (
      select q.qid, cast(e.label = q.q_label as int) as relv, e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.q_emb), 4)
               as score
      from embeddings e, q
      where e.vec_id <> q.qid),
    ranked as (
      select qid, relv,
             row_number() over (partition by qid
                                order by score desc, vec_id) as rnk
      from scored),
    nrel as (
      select qid, cast(sum(relv) as bigint) as n_rel
      from scored group by qid),
    dcg as (
      select qid,
             list_reduce(list(relv / log2(rnk + 1) order by rnk),
                         (a, b) -> a + b) as dcg
      from ranked where rnk <= {NDCG_K} group by qid)
    select d.qid as qid, n.n_rel,
           case when n.n_rel = 0 then 0.0
                else round(d.dcg / list_reduce(
                       list_transform(
                         generate_series(1, least({NDCG_K}, n.n_rel)),
                         i -> 1.0 / log2(i + 1)),
                       (a, b) -> a + b), 6)
           end as ndcg
    from dcg d join nrel n using (qid)
    """,
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of dot-product retrieval per query vector, with binary
    relevance = label match — the ranking-quality twin of ``eval_auc``
    for the similarity-search family.

    Plan: the NDCG_QUERIES query vectors broadcast against the corpus (a
    linear scored grid, never corpus x corpus); scores round to 4 dp with
    vec_id tiebreaks BEFORE ranking (engine-stable top-k membership, the
    same armor as sim_ann_recall); per-query DCG folds the <= k ranked
    gains in rank order via the ``aggregate`` higher-order function, so
    both engines run the identical left-to-right double sum. The per-query
    ranking is the salted two-stage top-k (``plans.salted_topk``): with only
    Q ~ 10 query ids, a plain qid-partitioned rank window would sort a full
    corpus slice in ONE task per query — salting bounds every window
    partition, and the survivor re-rank sees Q*buckets*k rows. Everything
    after the rank filter is Q-row-bounded.
    """
    from ..functions.vectors import dot

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        spread(emb)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            (F.col("label") == F.col("q_label")).cast("int").alias("relv"),
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias(
                "score"
            ),
        )
    )
    ranked = salted_topk(
        scored,
        [F.desc("score"), F.asc("vec_id")],
        NDCG_K,
        salt_col="vec_id",
        group_cols=("qid",),
        rank_col="rnk",
    )
    dcg = ranked.groupBy("qid").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("rnk", "relv"))),
            F.lit(0.0),
            lambda acc, s: acc
            + s["relv"].cast("double") / F.log2(s["rnk"] + 1),
        ).alias("dcg")
    )
    nrel = scored.groupBy("qid").agg(
        F.sum("relv").cast("bigint").alias("n_rel")
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(NDCG_K), F.col("n_rel"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    return dcg.join(nrel, "qid").select(
        "qid",
        "n_rel",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("dcg") / idcg, 6))
        .alias("ndcg"),
    )


@register(
    "eval_confusion_centroid",
    oracle="""
    with e as (
      select vec_id, label, embedding::DOUBLE[] as x from embeddings),
    percoord as (
      select label, i, avg(x[i]) as cv
      from e cross join unnest(range(1, 65)) as t(i)
      group by label, i),
    cent as (
      select label as cl, list(cv order by i) as c
      from percoord group by label),
    scored as (
      select e.vec_id, e.label, ct.cl,
             round(list_sum(list_transform(
               list_zip(e.x, ct.c), p -> (p[1] - p[2]) * (p[1] - p[2]))), 4)
               as d
      from e cross join cent ct),
    pred as (
      select label, cl as pred_label,
             row_number() over (partition by vec_id order by d, cl) as rn
      from scored)
    select label, pred_label, count(*) as n
    from pred where rn = 1
    group by label, pred_label
    """,
)
def eval_confusion_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a nearest-centroid classifier over the labeled
    embeddings — the distributed eval a prototype classifier (or a
    label-quality audit) runs after clustering: (true label, predicted
    label, count), prediction = argmin squared-L2 to each label centroid.

    Plan: centroids come from the shared :func:`~...functions.vectors.
    label_centroids` builder (ONE partial-agg shuffle, k x dim output)
    and broadcast against the corpus — a linear k-per-row scored grid,
    never corpus x corpus. Distances round to 4 dp BEFORE the argmin with
    a label tiebreak (engine-stable prediction under near-ties), and the
    argmin is ``min_by`` over a (distance, label) struct — map-side
    partial aggregation, no per-vector rank window. Output is k x k rows
    at any corpus size.
    """
    return centroid_confusion(spark, sf_dir)


def centroid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cl, d): every vector's rounded squared-L2 distance
    to every label centroid — the shared k-per-row scored grid behind
    eval_confusion_centroid / eval_f1_macro (argmin) and
    eval_topk_accuracy (rank membership)."""
    from ..functions.vectors import EMBED_DIM, label_centroids

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    cent = label_centroids(emb.select("label", "e")).select(
        F.col("label").alias("cl"),
        F.array(*[F.col(f"c{i}") for i in range(EMBED_DIM)]).alias("c"),
    )
    return (
        spread(emb)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "cl",
            F.round(
                F.expr(
                    "aggregate(zip_with(e, c, (a, b) -> (a - b) * (a - b)),"
                    " 0D, (s, v) -> s + v)"
                ),
                4,
            ).alias("d"),
        )
    )


def centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pred_label, n) confusion counts of the nearest-centroid
    classifier — the shared builder behind eval_confusion_centroid,
    eval_f1_macro, and eval_cohens_kappa (k x k rows at any corpus size).

    Tracked-persisted: with three consumers the full corpus-scoring pass
    behind this k x k rollup would otherwise run three times per session
    (measured ~1 s each at sf0.1); the cached frame is k^2 rows."""
    pred = centroid_scores(spark, sf_dir).groupBy("vec_id", "label").agg(
        F.min_by(F.col("cl"), F.struct("d", "cl")).alias("pred_label")
    )
    return track(
        pred.groupBy("label", "pred_label").agg(
            F.count(F.lit(1)).alias("n")
        )
    )


@register(
    "eval_mrr_at_k",
    oracle=f"""
    with q as (
      select vec_id as qid, embedding::DOUBLE[] as q_emb, label as q_label
      from embeddings where vec_id < {NDCG_QUERIES}),
    scored as (
      select q.qid, cast(e.label = q.q_label as int) as relv, e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.q_emb), 4)
               as score
      from embeddings e, q
      where e.vec_id <> q.qid),
    ranked as (
      select qid, relv,
             row_number() over (partition by qid
                                order by score desc, vec_id) as rnk
      from scored),
    hit as (
      select qid, min(rnk) as first_rel_rank
      from ranked where rnk <= {NDCG_K} and relv = 1
      group by qid)
    select q.qid as qid,
           cast(coalesce(h.first_rel_rank, 0) as int) as first_rel_rank,
           case when h.first_rel_rank is null then 0.0
                else {sql_round_div('1', 'h.first_rel_rank', 6)} end as rr
    from (select distinct qid from q) q
    left join hit h using (qid)
    """,
)
def eval_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first relevant hit within the top NDCG_K per
    query (0 when no relevant document ranks that high) — the
    first-answer-quality twin of ``eval_ndcg_at_k``; averaging ``rr`` gives
    MRR@k.

    Identical plan skeleton to eval_ndcg_at_k — broadcast query grid,
    4 dp round-before-rank, salted two-stage top-k — then a per-query
    min() over the <= k ranked hits and a left join back onto the query
    set so misses surface as explicit zeros (a dropped row would silently
    inflate the average).
    """
    from ..functions.vectors import dot

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        spread(emb)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            (F.col("label") == F.col("q_label")).cast("int").alias("relv"),
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias(
                "score"
            ),
        )
    )
    ranked = salted_topk(
        scored,
        [F.desc("score"), F.asc("vec_id")],
        NDCG_K,
        salt_col="vec_id",
        group_cols=("qid",),
        rank_col="rnk",
    )
    hit = (
        ranked.filter(F.col("relv") == 1)
        .groupBy("qid")
        .agg(F.min("rnk").alias("first_rel_rank"))
    )
    return q.select("qid").join(hit, "qid", "left").select(
        "qid",
        F.coalesce(F.col("first_rel_rank"), F.lit(0))
        .cast("int")
        .alias("first_rel_rank"),
        # 1/rank at 6 dp: ties reachable (1/128 = 0.0078125) —
        # all-integer half-up on the long path
        F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
        .otherwise(round_div_long(F.lit(1), F.col("first_rel_rank"), 6))
        .alias("rr"),
    )


@register(
    "eval_ece",
    oracle=f"""
    with probs as (
      select least(greatest(
               0.5 + {CALIB_GAIN} * cast(embedding[1] as double),
               0.0), 1.0) as p,
             cast(label < 5 as int) as is_pos
      from embeddings),
    per_bin as (
      select bin, count(*) as n,
             cast(sum(is_pos) as hugeint) as pos,
             cast(sum(p9) * 1000000000 as hugeint) as s9n
      from (select least(cast(floor(p * {N_BINS}) as int), {N_BINS} - 1)
                     as bin,
                   cast(p as decimal(18,9)) as p9, is_pos
            from probs)
      group by bin)
    select cast(sum(n) as bigint) as n_scored,
           cast(count(*) as int) as n_bins_used,
           {sql_round_div('sum(abs(pos * 1000000000 - s9n))',
                          'sum(n) * 1000000000', 6)} as ece
    from per_bin
    """,
)
def eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error: the bin-weighted mean |observed positive
    rate − mean predicted probability| over the same fixed-width bins as
    ``eval_calibration_bins`` — the one-number summary a model card
    reports next to the reliability diagram (Naeini et al., AAAI 2015).

    Two partial-aggregable rollups: corpus → ≤N_BINS bin rows → one row.
    Probabilities sum as decimal(18,9) inside the bin (order-independent
    mean), and the |gap| weighting happens on the ≤N_BINS frame, so no
    float accumulation ever spans more than one bin's aggregate.
    """
    emb = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            0.5 + CALIB_GAIN * F.col("embedding")[0].cast("double"),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    per_bin = (
        emb.select(
            F.least(
                F.floor(p * N_BINS).cast("int"), F.lit(N_BINS - 1)
            ).alias("bin"),
            p.cast("decimal(18,9)").alias("p9"),
            (F.col("label") < 5).cast("int").alias("is_pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_pos").alias("pos"),
            # bin probability mass in exact integer NANOS: n*|pos_rate -
            # mean_p| collapses to |pos*10^9 - s9n|/10^9, so the
            # bin-weighted ECE becomes ONE integer ratio (r16 tie rework)
            (F.sum("p9") * F.lit(10 ** 9))
            .cast("decimal(38,0)")
            .alias("s9n"),
        )
    )
    return per_bin.agg(
        F.sum("n").alias("n_scored"),
        F.count(F.lit(1)).cast("int").alias("n_bins_used"),
        round_div(
            F.sum(
                F.abs(
                    F.col("pos").cast("decimal(38,0)") * F.lit(10 ** 9)
                    - F.col("s9n")
                )
            ),
            F.sum("n") * F.lit(10 ** 9),
            6,
        ).alias("ece"),
    )


@register(
    "eval_f1_macro",
    oracle=f"""
    with e as (
      select vec_id, label, embedding::DOUBLE[] as x from embeddings),
    percoord as (
      select label, i, avg(x[i]) as cv
      from e cross join unnest(range(1, 65)) as t(i)
      group by label, i),
    cent as (
      select label as cl, list(cv order by i) as c
      from percoord group by label),
    scored as (
      select e.vec_id, e.label, ct.cl,
             round(list_sum(list_transform(
               list_zip(e.x, ct.c), p -> (p[1] - p[2]) * (p[1] - p[2]))), 4)
               as d
      from e cross join cent ct),
    pred as (
      select label, cl as pred_label,
             row_number() over (partition by vec_id order by d, cl) as rn
      from scored),
    conf as (
      select label, pred_label, count(*) as n
      from pred where rn = 1
      group by label, pred_label),
    classes as (
      select label as cls,
             sum(case when pred_label = label then n else 0 end) as tp,
             sum(n) as actual_n
      from conf group by label),
    predicted as (
      select pred_label as cls, sum(n) as pred_n from conf group by pred_label),
    perclass as (
      select classes.cls as cls, tp, actual_n, coalesce(pred_n, 0) as pred_n,
             case when coalesce(pred_n, 0) = 0 then 0.0
                  else tp * 1.0 / pred_n end as prec,
             tp * 1.0 / actual_n as rec
      from classes left join predicted on classes.cls = predicted.cls)
    select cast(cls as int) as cls,
           cast(tp as bigint) as tp,
           cast(actual_n as bigint) as actual_n,
           cast(pred_n as bigint) as pred_n,
           case when pred_n = 0 then 0.0
                else {sql_round_div("tp", "pred_n", 6)} end as precision,
           {sql_round_div("tp", "actual_n", 6)} as recall,
           {sql_round_div("2 * tp", "actual_n + pred_n", 6)} as f1
    from perclass
    """,
)
def eval_f1_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the nearest-centroid classifier —
    the class-balanced quality table (macro-F1 = avg of the f1 column)
    a labeled-data audit reports where accuracy hides minority-class
    collapse.

    Everything derives from the shared k×k ``centroid_confusion`` rollup:
    per-class true positives and actual counts come from one pass over
    the confusion counts, predicted counts from another k-row rollup —
    no second corpus scan, output = k rows at any scale. Precision of a
    never-predicted class is defined 0 (its F1 is then 0 by the
    guarded harmonic mean), matching the oracle's coalesce.
    """
    conf = centroid_confusion(spark, sf_dir)
    classes = conf.groupBy(F.col("label").alias("cls")).agg(
        F.sum(
            F.when(F.col("pred_label") == F.col("label"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("tp"),
        F.sum("n").alias("actual_n"),
    )
    predicted = conf.groupBy(F.col("pred_label").alias("cls")).agg(
        F.sum("n").alias("pred_n")
    )
    per = classes.join(predicted, "cls", "left").withColumn(
        "pred_n", F.coalesce(F.col("pred_n"), F.lit(0))
    )
    return per.select(
        F.col("cls").cast("int").alias("cls"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("actual_n").cast("bigint").alias("actual_n"),
        F.col("pred_n").cast("bigint").alias("pred_n"),
        # all-integer half-up rounds (exactmath.py, r15 tie rework); the
        # harmonic-mean identity 2PR/(P+R) = 2*tp/(actual_n+pred_n) keeps
        # F1 a single integer ratio (and covers tp=0: both sides are 0)
        F.when(F.col("pred_n") == 0, F.lit(0.0))
        .otherwise(round_div(F.col("tp"), F.col("pred_n"), 6))
        .alias("precision"),
        round_div(F.col("tp"), F.col("actual_n"), 6).alias("recall"),
        round_div(
            F.lit(2) * F.col("tp"), F.col("actual_n") + F.col("pred_n"), 6
        ).alias("f1"),
    )


#: eval_topk_accuracy: the k values reported.
TOPK_ACC_KS = (1, 3, 5)


@register(
    "eval_topk_accuracy",
    oracle=f"""
    with e as (select vec_id, label, embedding::DOUBLE[] as x from embeddings),
    percoord as (
      select label, i, avg(x[i]) as cv
      from e cross join unnest(range(1, 65)) as t(i) group by label, i),
    cent as (select label as cl, list(cv order by i) as c
             from percoord group by label),
    scored as (
      select e.vec_id, e.label, ct.cl,
             round(list_sum(list_transform(list_zip(e.x, ct.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) as d
      from e cross join cent ct),
    rk as (
      select vec_id, label, cl,
             row_number() over (partition by vec_id order by d, cl) as rn
      from scored)
    select cast(k as int) as k,
           {sql_round_div("sum(case when hit then 1 else 0 end)", "count(*)", 6)}
             as topk_accuracy
    from (select vec_id, label, k, bool_or(label = cl) as hit
          from rk cross join (select unnest([{', '.join(map(str, TOPK_ACC_KS))}]) as k) ks
          where rn <= k
          group by vec_id, label, k)
    group by k
    """,
)
def eval_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k accuracy curve of the nearest-centroid classifier: is the
    true label among the k nearest centroids, for k in {TOPK_ACC_KS} —
    the eval that separates "wrong" from "close" (a steep 1→3 jump means
    confusable class pairs, not noise; it reads directly off
    eval_confusion_centroid's off-diagonal mass).

    Reuses the shared ``centroid_scores`` grid. The per-vector centroid
    ranking never uses a window: each vector's k distances collect into
    one array (bounded by the label count), array_sort orders it, and the
    true label's position tests against each k — one partial-agg shuffle,
    three constant-size rollup rows out.
    """
    scored = centroid_scores(spark, sf_dir)
    ranked = scored.groupBy("vec_id", "label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("d"), F.col("cl")))
        ).alias("order")
    )
    # 1-based position of the true label in the distance-sorted list
    pos = F.array_position(
        F.transform(F.col("order"), lambda s: s["cl"]), F.col("label")
    )
    ranked = ranked.select(pos.alias("pos"))
    # r17 optimization round (guide §2.3 "aggregate before you shuffle",
    # §7.2 duplicated subtrees): the old per-k unionAll of three scalar
    # aggregates replayed the whole centroid-scores rollup once per k
    # (before-plan: 6 parquet scans, 12 exchanges). ONE aggregate now
    # carries all k hit-counts (same sums, same all-integer half-up
    # round — identical rows), and the 3-row curve explodes from the
    # single combined row.
    counts = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("pos") <= k).cast("int")).alias(f"h{k}")
            for k in TOPK_ACC_KS
        ],
    )
    curve = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("k"),
                round_div(F.col(f"h{k}"), F.col("n"), 6).alias(
                    "topk_accuracy"
                ),
            )
            for k in TOPK_ACC_KS
        ]
    )
    return counts.select(F.explode(curve).alias("r")).select(
        F.col("r.k").alias("k"), F.col("r.topk_accuracy").alias("topk_accuracy")
    )


# --------------------------------------------------------- r13 extensions
# Agreement / proper-scoring-rule / rank-correlation metrics. Same scale
# contract as the rest of the family: every metric factors through a
# bounded rollup (k x k confusion counts, per-distinct-score counts, or a
# (score, label) contingency table), so the corpus is touched by exactly
# one map-side-combining groupBy and all windows/joins run over rollups
# whose size is set by score resolution and label arity, not corpus rows.

#: Shared centroid-classifier confusion CTE chain (the eval_confusion_
#: centroid oracle, reused verbatim by eval_cohens_kappa).
_CONF_CTES = """
    e as (
      select vec_id, label, embedding::DOUBLE[] as x from embeddings),
    percoord as (
      select label, i, avg(x[i]) as cv
      from e cross join unnest(range(1, 65)) as t(i)
      group by label, i),
    cent as (
      select label as cl, list(cv order by i) as c
      from percoord group by label),
    scored as (
      select e.vec_id, e.label, ct.cl,
             round(list_sum(list_transform(
               list_zip(e.x, ct.c), p -> (p[1] - p[2]) * (p[1] - p[2]))), 4)
               as d
      from e cross join cent ct),
    pred as (
      select label, cl as pred_label,
             row_number() over (partition by vec_id order by d, cl) as rn
      from scored),
    conf as (
      select label, pred_label, count(*) as n
      from pred where rn = 1
      group by label, pred_label)
"""


@register(
    "eval_cohens_kappa",
    oracle=f"""
    with {_CONF_CTES},
    tot as (select sum(n) as nn from conf),
    agree as (
      select sum(case when label = pred_label then n else 0 end) as po_n
      from conf),
    marg as (
      select sum(a.actual_n * p.pred_n) as pe_nn
      from (select label as cls, sum(n) as actual_n from conf
            group by label) a
      join (select pred_label as cls, sum(n) as pred_n from conf
            group by pred_label) p
        on a.cls = p.cls)
    select case when nn * nn = pe_nn then null
           else {sql_round_div("po_n * nn - pe_nn", "nn * nn - pe_nn", 6)}
           end as kappa,
           {sql_round_div("po_n", "nn", 6)} as po,
           {sql_round_div("pe_nn", "nn * nn", 6)} as pe,
           cast(nn as bigint) as n
    from tot, agree, marg
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the nearest-centroid classifier against the true
    labels — chance-corrected agreement, the label-quality statistic an
    annotation audit reports where raw accuracy is inflated by skewed
    marginals.

    Everything derives from the shared k x k ``centroid_confusion``
    rollup: observed agreement is one conditional sum, expected agreement
    is the inner product of the two k-row marginals. All arithmetic stays
    integer (po*N, pe*N^2) until one deterministic final division —
    kappa = (po*N^2 - pe_nn*N... reduced to (po_n*N - pe_nn)/(N^2 -
    pe_nn) by multiplying through — so no float appears before the
    round(., 6).
    """
    conf = centroid_confusion(spark, sf_dir)
    actual = conf.groupBy(F.col("label").alias("cls")).agg(
        F.sum("n").alias("actual_n")
    )
    predicted = conf.groupBy(F.col("pred_label").alias("cls")).agg(
        F.sum("n").alias("pred_n")
    )
    marg = actual.join(predicted, "cls").agg(
        F.sum(F.col("actual_n") * F.col("pred_n")).alias("pe_nn")
    )
    agg = conf.agg(
        F.sum("n").alias("nn"),
        F.sum(
            F.when(F.col("label") == F.col("pred_label"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("po_n"),
    )
    return agg.crossJoin(F.broadcast(marg)).select(
        # degenerate marginals (pe = 1, e.g. a single-cell confusion):
        # kappa is undefined -> NULL, mirrored in the oracle
        # all-integer half-up rounds (exactmath.py, r15 tie rework); the
        # kappa numerator can be negative (worse-than-chance), which the
        # sign-aware helper rounds half away from zero like both engines
        F.when(
            F.col("nn") * F.col("nn") == F.col("pe_nn"), F.lit(None)
        ).otherwise(
            round_div(
                F.col("po_n") * F.col("nn") - F.col("pe_nn"),
                F.col("nn") * F.col("nn") - F.col("pe_nn"),
                6,
            )
        ).alias("kappa"),
        round_div(F.col("po_n"), F.col("nn"), 6).alias("po"),
        round_div(F.col("pe_nn"), F.col("nn") * F.col("nn"), 6).alias("pe"),
        F.col("nn").cast("bigint").alias("n"),
    )


#: Probability clamp for the cross-entropy terms: ln is unbounded at the
#: clip boundaries (the calibration proxy hits exact 0 and 1), so both
#: engines clamp into [EPS, 1 - EPS] first — the standard log-loss guard.
LOGLOSS_EPS = 1e-6


def _probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p, is_pos): the calibration probability proxy + binary label."""
    emb = load(spark, sf_dir, "embeddings")
    p = F.least(
        F.greatest(
            0.5 + CALIB_GAIN * F.col("embedding")[0].cast("double"),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    return emb.select(
        p.alias("p"), (F.col("label") < 5).cast("int").alias("is_pos")
    )


_PROBS_SQL = f"""
    probs as (
      select least(greatest(
               0.5 + {CALIB_GAIN} * cast(embedding[1] as double),
               0.0), 1.0) as p,
             cast(label < 5 as int) as is_pos
      from embeddings)
"""


@register(
    "eval_log_loss",
    oracle=f"""
    with {_PROBS_SQL},
    terms as (
      select cast(round(-(is_pos * ln(greatest(p, {LOGLOSS_EPS}))
               + (1 - is_pos) * ln(greatest(1 - p, {LOGLOSS_EPS}))), 9)
               as decimal(18,9)) as t
      from probs)
    select {sql_round_div("sum(t)", "count(*)", 6, 9)} as log_loss,
           count(*) as n
    from terms
    """,
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean binary cross-entropy of the calibration probability proxy
    against the label — the proper scoring rule a model-eval sweep reports
    next to AUC (AUC is rank-only; log loss punishes confident mistakes).

    One map-side expression per row (clamp + two ln terms), rounded to
    9 dp and summed as decimal(18,9) so the 100 TB reduction is
    partition-order-independent (SURVEY.md §7.3.1); output is one row.
    """
    terms = _probs(spark, sf_dir).select(
        F.round(
            -(
                F.col("is_pos")
                * F.log(F.greatest(F.col("p"), F.lit(LOGLOSS_EPS)))
                + (1 - F.col("is_pos"))
                * F.log(F.greatest(1 - F.col("p"), F.lit(LOGLOSS_EPS)))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("t")
    )
    return terms.agg(
        # all-integer half-up round over the 9-dp decimal sum
        # (exactmath.py, r15 tie rework)
        round_div(F.sum("t"), F.count(F.lit(1)), 6, 9).alias("log_loss"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "eval_brier_score",
    oracle=f"""
    with {_PROBS_SQL},
    terms as (
      select cast(round((p - is_pos) * (p - is_pos), 9)
               as decimal(18,9)) as t
      from probs)
    select {sql_round_div("sum(t)", "count(*)", 6, 9)} as brier,
           count(*) as n
    from terms
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared error of the probability proxy against
    the binary outcome) — the decomposable proper scoring rule
    (calibration + refinement) paired with ``eval_calibration_bins``.

    Same shape as log loss: one per-row squared-error term, 9 dp
    quantization, exact decimal sum, one-row output.
    """
    terms = _probs(spark, sf_dir).select(
        F.round(
            (F.col("p") - F.col("is_pos")) * (F.col("p") - F.col("is_pos")), 9
        )
        .cast("decimal(18,9)")
        .alias("t")
    )
    return terms.agg(
        # all-integer half-up round over the 9-dp decimal sum
        # (exactmath.py, r15 tie rework)
        round_div(F.sum("t"), F.count(F.lit(1)), 6, 9).alias("brier"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "eval_spearman_corr",
    oracle=f"""
    with scored as (
      select cast(floor(cast(embedding[1] as double) * {SCORE_SCALE})
                  as bigint) as score_m,
             cast(label as int) as y
      from embeddings),
    xy as (
      select score_m, y, count(*) as n from scored
      group by score_m, y),
    xr as (
      select score_m,
             2 * coalesce(sum(nx) over (order by score_m
                   rows between unbounded preceding and 1 preceding), 0)
               + nx + 1 as rx2
      from (select score_m, sum(n) as nx from xy group by score_m)),
    yr as (
      select y,
             2 * coalesce(sum(ny) over (order by y
                   rows between unbounded preceding and 1 preceding), 0)
               + ny + 1 as ry2
      from (select y, sum(n) as ny from xy group by y)),
    s as (
      select sum(cast(n as hugeint)) as sn,
             sum(cast(n as hugeint) * rx2) as sx,
             sum(cast(n as hugeint) * ry2) as sy,
             sum(cast(n as hugeint) * rx2 * ry2) as sxy,
             sum(cast(n as hugeint) * rx2 * rx2) as sxx,
             sum(cast(n as hugeint) * ry2 * ry2) as syy
      from xy join xr using (score_m) join yr using (y))
    select case when (cast(sn as double) * cast(sxx as double)
                      - cast(sx as double) * cast(sx as double))
                     * (cast(sn as double) * cast(syy as double)
                        - cast(sy as double) * cast(sy as double)) = 0
                then null
           else round((cast(sn as double) * cast(sxy as double)
                  - cast(sx as double) * cast(sy as double))
                 / sqrt((cast(sn as double) * cast(sxx as double)
                         - cast(sx as double) * cast(sx as double))
                        * (cast(sn as double) * cast(syy as double)
                           - cast(sy as double) * cast(sy as double))),
                 6) end as spearman,
           cast(sn as bigint) as n
    from s
    """,
)
def eval_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the milli-bucketed embedding
    score and the integer label, with exact average-rank tie handling —
    the monotone-association check an eval harness runs when the score
    need not be linear in the target.

    Scale plan: the corpus collapses to a (score, label) contingency
    table in ONE map-side-combining groupBy (size = distinct scores x
    label arity, set by score resolution, never corpus rows). Average
    ranks come from running sums over the two tiny marginal rollups —
    doubled (2*rank is integer: 2*cum_before + cnt + 1) so no fraction
    enters a key — and Spearman is then weighted Pearson over the
    contingency table. Moments accumulate as decimal(38,0) (exact,
    order-independent; n * (2N)^2 terms overflow bigint at petabyte row
    counts) and only the single final expression divides in doubles.
    """
    scored = load(spark, sf_dir, "embeddings").select(
        F.floor(F.col("embedding")[0].cast("double") * SCORE_SCALE)
        .cast("bigint")
        .alias("score_m"),
        F.col("label").cast("int").alias("y"),
    )
    xy = scored.groupBy("score_m", "y").agg(F.count(F.lit(1)).alias("n"))
    wx = Window.orderBy("score_m").rowsBetween(Window.unboundedPreceding, -1)
    xr = (
        xy.groupBy("score_m")
        .agg(F.sum("n").alias("nx"))
        .select(
            "score_m",
            (
                2 * F.coalesce(F.sum("nx").over(wx), F.lit(0))
                + F.col("nx")
                + 1
            ).alias("rx2"),
        )
    )
    wy = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    yr = (
        xy.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .select(
            "y",
            (
                2 * F.coalesce(F.sum("ny").over(wy), F.lit(0))
                + F.col("ny")
                + 1
            ).alias("ry2"),
        )
    )
    dec = "decimal(38,0)"
    # the decimal cast must land on the OPERANDS, not the sum result:
    # bigint products n * (2N)^2 overflow int64 at petabyte row counts
    # before any cast-on-the-result could help (ADVICE r13 — the oracle
    # mirrors with hugeint operands, DuckDB's 128-bit integer lane)
    nD = F.col("n").cast(dec)
    rxD = F.col("rx2").cast(dec)
    ryD = F.col("ry2").cast(dec)
    s = (
        xy.join(F.broadcast(xr), "score_m")
        .join(F.broadcast(yr), "y")
        .agg(
            F.sum(nD).alias("sn"),
            F.sum(nD * rxD).alias("sx"),
            F.sum(nD * ryD).alias("sy"),
            F.sum(nD * rxD * ryD).alias("sxy"),
            F.sum(nD * rxD * rxD).alias("sxx"),
            F.sum(nD * ryD * ryD).alias("syy"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_prod = (d("sn") * d("sxx") - d("sx") * d("sx")) * (
        d("sn") * d("syy") - d("sy") * d("sy")
    )
    return s.select(
        # zero rank variance on either margin (constant score or constant
        # label): correlation undefined -> NULL, mirrored in the oracle
        F.when(var_prod == 0, F.lit(None)).otherwise(
            F.round(
                (d("sn") * d("sxy") - d("sx") * d("sy")) / F.sqrt(var_prod),
                6,
            )
        ).alias("spearman"),
        F.col("sn").cast("bigint").alias("n"),
    )


def _residual_round_consts(df, s9c: str, cnc: str, pfx: str):
    """Per-group constants for the half-away residual round: with
    ``s9 = cn*q + rem`` (``q = floor(s9/cn)``, ``0 <= rem < cn``) emit
    ``q`` plus the two tie flags ``2*rem > cn`` / ``2*rem >= cn``
    (rewritten ``rem > cn - rem`` so the compare cannot overflow).
    Group-level decimal work only — the per-row path never divides."""
    qt = F.expr(f"{s9c} div {cnc}")
    remt = (F.col(s9c) - qt.cast("decimal(38,0)") * F.col(cnc)).cast("long")
    q = F.when(remt < 0, qt - F.lit(1)).otherwise(qt)
    rem = F.when(remt < 0, remt + F.col(cnc)).otherwise(remt)
    return df.select(
        "*",
        q.alias(f"{pfx}q"),
        (rem > F.col(cnc) - rem).cast("long").alias(f"{pfx}adj_pos"),
        (rem >= F.col(cnc) - rem).cast("long").alias(f"{pfx}adj_np"),
    ).drop(s9c)


def _residual_round(vnl, q, adj_pos, adj_np):
    """``round_half_away(vnl - s9/cn)`` in nanos, as decimal(18,9), from
    the :func:`_residual_round_consts` group constants:

        I - adj_pos  if I >= 1    (positive residual: ties round up)
        I - adj_np   if I <= 0    (ties round away from zero, i.e. down)

    with ``I = vnl - q`` — exact on all longs (both operands bounded by
    10^18 via the decimal(18,9) value domain). Pinned against
    :func:`..exactmath.round_div` at engineered tie points by
    tests/test_mleval_residual_decomp.py."""
    i = vnl - q
    s = i - F.when(i >= 1, adj_pos).otherwise(adj_np)
    # exact nanos -> decimal(18,9): double fast path while the long
    # round-trips a double (<= 2^52), exact decimal multiply beyond
    return F.when(
        F.abs(s) <= F.lit(1 << 52),
        (s.cast("double") / F.lit(1.0e9)).cast("decimal(18,9)"),
    ).otherwise(
        (s.cast("decimal(28,0)") * F.lit(PyDecimal("0.000000001")))
        .cast("decimal(18,9)")
    )



@register(
    "eval_regression_metrics",
    oracle=f"""
    with base as (
      select event_type,
             cast(hour(ts) as int) as hod,
             cast(round(value, 9) as decimal(18,9)) as v
      from events),
    model as (
      select event_type, hod,
             cast(sum(cast(cast(v as decimal(28,9)) * 1000000000 as hugeint)) as hugeint) as s9,
             count(*) as cn
      from base group by event_type, hod),
    scored as (
      select cast({sql_round_div(
                 '(cast(cast(b.v as decimal(28,9)) * 1000000000 as hugeint) * m.cn - m.s9)',
                 'm.cn * 1000000000', 9)} as decimal(18,9)) as r,
             cast(cast(b.v as decimal(28,9)) * 1000000000 as hugeint) as vn
      from base b join model m using (event_type, hod)),
    tot as (
      select count(*) as n,
             cast(sum(cast(cast(v as decimal(28,9)) * 1000000000 as hugeint)) as hugeint) as s9t
      from base),
    dtot as (
      select cast({sql_round_div('(s.vn * t.n - t.s9t)',
                                 't.n * 1000000000', 9)}
                  as decimal(18,9)) as d,
             s.r, t.n
      from scored s cross join tot t),
    ss as (
      select sum(round(r * r, 9)) as ss_res,
             sum(abs(r)) as s_abs,
             sum(round(d * d, 9)) as ss_tot,
             max(n) as n
      from dtot)
    select round(sqrt(cast(ss_res as double) / n), 6) as rmse,
           {sql_round_div('s_abs', 'n', 6, 9)} as mae,
           case when cast(ss_tot as double) = 0 then null
                else {sql_round_div(
                    'cast((ss_tot - ss_res) * 1000000000 as hugeint)',
                    'cast(ss_tot * 1000000000 as hugeint)', 6)} end as r2,
           cast(n as bigint) as n
    from ss
    """,
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed regression backtest — RMSE / MAE / R² of the
    seasonal-naive predictor (per (event_type, hour-of-day) mean) on the
    event values: the numeric companion of the classification eval family,
    in the shape a forecasting pipeline evaluates its baseline model over
    the full corpus.

    Scale plan: the model is ONE partial-agg rollup (type × 24 rows — a
    broadcast join back onto the corpus), and every metric accumulates as
    9 dp-quantized decimal(18,9) sums of per-row terms, so the reductions
    are partition-order-independent; the value column itself quantizes to
    9 dp on entry so both engines subtract identical operands. One output
    row at any corpus size.
    """
    base = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value"), 9).cast("decimal(18,9)").alias("v"),
    )

    # Integer NANOS throughout (r16 tie rework): the residual v - mean(v)
    # is the rational (vn*cn - s9)/(cn*10^9) whose 9-dp round can tie
    # engine-divergently through the double path, so it must round via
    # the all-integer half-away formula; the SQUARED terms round(r*r, 9)
    # are then tie-FREE by 2/5-adic parity (see tools/round_audit.py),
    # so decimal rounds of them stay portable.
    #
    # r16 optimization round (guide §4.1/§2.2): the denominator of every
    # residual round is a GROUP-level constant (cn, or the corpus count
    # n), so the half-away round decomposes into per-group constants and
    # the per-row work collapses to long subtract + one branch — no
    # per-row decimal(38,0) multiply, subtract, or division. With
    # s9 = cn*q + rem, q = floor(s9/cn), 0 <= rem < cn, and
    # I = vn - q (all exact longs: |vn|,|q| <= 10^18 by the
    # decimal(18,9) domain, so I cannot overflow at ANY corpus size):
    #
    #   round_half_away(vn - s9/cn)
    #     = I - (2*rem >  cn)   if I >= 1   (value > 0: ties round up)
    #     = I - (2*rem >= cn)   if I <= 0   (ties round away, i.e. down;
    #                                        rem == 0 gives adj 0 on
    #                                        both branches)
    #
    # proven equal to round_div's decimal pipeline on all three fixture
    # SFs and pinned at the tie points by
    # tests/test_mleval_residual_decomp.py (which imports these module
    # helpers, so the tested expressions ARE the query's).
    model = _residual_round_consts(
        base.groupBy("event_type", "hod")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cn"))
        .select(
            "event_type", "hod", "cn",
            # sum the compact decimal(18,9) and scale ONCE per group —
            # not a per-row decimal(38,0) cast (sum envelope shrinks
            # 10^38 -> 10^28 value-units, still 4 orders past 100 TB)
            (F.col("sv") * F.lit(10 ** 9)).cast("decimal(38,0)").alias("s9"),
        ),
        "s9", "cn", "m_",
    )
    tot = _residual_round_consts(
        base.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("svt"))
        .select(
            "n",
            (F.col("svt") * F.lit(10 ** 9)).cast("decimal(38,0)").alias("s9t"),
        ),
        "s9t", "n", "t_",
    )

    vnl = (F.col("v") * F.lit(10 ** 9)).cast("long")

    scored = base.join(F.broadcast(model), ["event_type", "hod"]).select(
        _residual_round(
            vnl, F.col("m_q"), F.col("m_adj_pos"), F.col("m_adj_np")
        ).alias("r"),
        "v",
    )
    dtot = scored.crossJoin(F.broadcast(tot)).select(
        "r",
        "n",
        _residual_round(
            vnl, F.col("t_q"), F.col("t_adj_pos"), F.col("t_adj_np")
        ).alias("d"),
    )
    ss = dtot.agg(
        F.sum(F.round(F.col("r") * F.col("r"), 9)).alias("ss_res"),
        F.sum(F.abs("r")).alias("s_abs"),
        F.sum(F.round(F.col("d") * F.col("d"), 9)).alias("ss_tot"),
        F.max("n").alias("n"),
    )
    return ss.select(
        F.round(
            F.sqrt(F.col("ss_res").cast("double") / F.col("n")), 6
        ).alias("rmse"),
        round_div(F.col("s_abs"), F.col("n"), 6, 9).alias("mae"),
        # constant target (ss_tot = 0): R2 undefined -> NULL, mirrored
        F.when(F.col("ss_tot").cast("double") == 0, F.lit(None)).otherwise(
            round_div(
                ((F.col("ss_tot") - F.col("ss_res")) * F.lit(10 ** 9))
                .cast("decimal(38,0)"),
                (F.col("ss_tot") * F.lit(10 ** 9)).cast("decimal(38,0)"),
                6,
            )
        ).alias("r2"),
        F.col("n").cast("bigint").alias("n"),
    )


#: Decile count for the gains/lift table.
LIFT_DECILES = 10


@register(
    "eval_lift_deciles",
    oracle=f"""
    with scored as (
      select cast(floor(cast(embedding[1] as double) * {SCORE_SCALE})
                  as bigint) as score_m,
             cast(label < 5 as int) as is_pos
      from embeddings),
    per_score as (
      select score_m,
             cast(sum(is_pos) as bigint) as pos,
             cast(count(*) as bigint) as cnt
      from scored group by score_m),
    binned as (
      select pos, cnt,
             cast(({LIFT_DECILES} * sum(cnt) over (order by score_m desc
                     rows between unbounded preceding and current row)
                   + sum(cnt) over () - 1) // sum(cnt) over ()
                  as int) as decile
      from per_score),
    dec as (
      select decile,
             cast(sum(cnt) as bigint) as n,
             cast(sum(pos) as bigint) as n_pos
      from binned group by decile),
    tot as (select sum(n) as tn, sum(n_pos) as tp from dec)
    select d.decile, d.n, d.n_pos,
           {sql_round_div('d.n_pos', 'd.n', 6)} as pos_rate,
           case when t.tp = 0 then null
                else {sql_round_div('d.n_pos * t.tn', 'd.n * t.tp', 6)}
           end as lift,
           case when t.tp = 0 then null
                else {sql_round_div(
                    '''sum(d.n_pos) over (order by d.decile
                         rows between unbounded preceding and current row)''',
                    't.tp', 6)} end as cum_capture
    from dec d cross join tot t
    order by d.decile
    """,
)
def eval_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table of the milli-bucketed score against the
    binary label — the campaign-targeting report (rank the population by
    model score, cut into 10 equal-population bins, read off each bin's
    positive rate, lift over the base rate, and cumulative capture of
    all positives). The operational companion of eval_auc: AUC says the
    ranking is good, the gains table says WHERE to cut it.

    Plan: the corpus collapses to eval_auc's per-distinct-score rollup
    (rows = score resolution, never corpus rows); decile assignment is
    integer-exact ceil division over the inclusive running count —
    (D*cum + N - 1) div N — so a tied score group lands wholly in one
    decile identically on both engines (no float boundary, no
    row-order-dependent ntile). Every window runs over the
    score-resolution-bounded rollup or the ≤10-row decile rollup; a
    positive-free corpus yields NULL lift/capture (ADVICE r13 guard
    class).
    """
    per_score = _scored(spark, sf_dir).groupBy("score_m").agg(
        F.sum("is_pos").alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w_inc = Window.orderBy(F.desc("score_m")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy(F.desc("score_m")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # materialize the window columns first, then the integer ceil-divide
    # decile (no float boundary: (D*cum + N - 1) div N)
    binned = (
        per_score.select(
            "pos",
            "cnt",
            F.sum("cnt").over(w_inc).alias("cum"),
            F.sum("cnt").over(w_all).alias("tot"),
        )
        .select(
            "pos",
            "cnt",
            F.expr(
                f"cast(({LIFT_DECILES} * cum + tot - 1) div tot as int)"
            ).alias("decile"),
        )
    )
    dec = binned.groupBy("decile").agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("n_pos")
    )
    w_dec = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_dall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tp = F.sum("n_pos").over(w_dall)
    tn = F.sum("n").over(w_dall)
    return dec.select(
        "decile",
        "n",
        "n_pos",
        round_div_long(F.col("n_pos"), F.col("n"), 6).alias("pos_rate"),
        # lift = (pos/n)/(TP/TN) = pos*TN/(n*TP): one integer ratio on
        # the decimal path (pos*TN outgrows longs on big corpora)
        F.when(tp == 0, F.lit(None))
        .otherwise(
            round_div(F.col("n_pos") * tn, F.col("n") * tp, 6)
        )
        .alias("lift"),
        F.when(tp == 0, F.lit(None))
        .otherwise(round_div_long(F.sum("n_pos").over(w_dec), tp, 6))
        .alias("cum_capture"),
    ).orderBy("decile")
