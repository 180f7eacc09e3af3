"""Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
vector (cosine top-k) rankers.

The standard two-tower retrieval pattern: a keyword ranker and an embedding
ranker each produce a k-sized candidate list, and RRF (Cormack et al.,
SIGIR 2009) fuses them with score = Σ 1/(60 + rank) — rank-based, so no
cross-ranker score calibration is needed.

Scale shape: each ranker's list is k rows (driver-small by construction),
so the fusion join is a trivial k×k full-outer merge — ALL the heavy
lifting happens inside the two ranked queries, which keep their own
documented plans (text_bm25_topk: query-term posting lists;
sim_topk_query: broadcast query vector + TakeOrderedAndProject). The
oracle composes the SAME two registered oracle SQLs as CTEs, so the fusion
is verified end-to-end over both rankers.

This module must import AFTER functions.text and functions.vectors (it
reads their registered oracles to build its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import local_frame
from ..exactmath import round_div_long, sql_round_div
from ..registry import ORACLES, register
from ..sources.io import load
from .text import text_bm25_topk
from .vectors import sim_topk_query

#: RRF smoothing constant (the value from the original paper).
RRF_K = 60


@register(
    "hybrid_rrf_topk",
    oracle=f"""
    with bm as ({ORACLES["text_bm25_topk"]}),
    vec as ({ORACLES["sim_topk_query"]}),
    bmr as (select doc_id as id, rn as bm_rn from bm),
    vecr as (select vec_id as id,
                    row_number() over (order by score desc, vec_id) as vec_rn
             from vec)
    select id,
           case
             when bm_rn is not null and vec_rn is not null then
               {sql_round_div(f'(2 * {RRF_K} + bm_rn + vec_rn)',
                              f'(({RRF_K} + bm_rn) * ({RRF_K} + vec_rn))',
                              6)}
             when bm_rn is not null then
               {sql_round_div('1', f'({RRF_K} + bm_rn)', 6)}
             else
               {sql_round_div('1', f'({RRF_K} + vec_rn)', 6)}
           end as rrf
    from bmr full outer join vecr using (id)
    order by rrf desc, id
    limit 10
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by reciprocal-rank fusion of BM25 (fixed term
    query) and cosine similarity (query vector vec_id 0), doc ids and vec
    ids sharing one id space.

    Both input rankings are already engine-stable (pre-rounded scores +
    id tiebreaks), and RRF scores are exact rationals summed identically on
    both engines, so the fused ranking inherits determinism end-to-end.
    """
    bm = text_bm25_topk(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rn").alias("bm_rn")
    )
    vec = sim_topk_query(spark, sf_dir)
    # rank the k-row vector list (post-limit, so this window sees 10 rows)
    vec_w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    vecr = vec.withColumn("vec_rn", F.row_number().over(vec_w)).select(
        F.col("vec_id").alias("id"), "vec_rn"
    )
    # RRF with a common denominator: 1/(K+a) + 1/(K+b) is the integer
    # ratio (2K+a+b)/((K+a)(K+b)), whose 6-dp round ties ARE reachable
    # (a lone rank 68 gives 1/128 = 0.0078125) — all-integer half-up
    a = F.lit(RRF_K) + F.col("bm_rn")
    b = F.lit(RRF_K) + F.col("vec_rn")
    rrf = (
        F.when(
            F.col("bm_rn").isNotNull() & F.col("vec_rn").isNotNull(),
            round_div_long(a + b, a * b, 6),
        )
        .when(F.col("bm_rn").isNotNull(), round_div_long(F.lit(1), a, 6))
        .otherwise(round_div_long(F.lit(1), b, 6))
    )
    return (
        bm.join(vecr, "id", "full_outer")
        .select("id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("id"))
        .limit(10)
    )


#: MMR (Carbonell & Goldstein, SIGIR 1998) knobs. LAMBDA weighs relevance,
#: DIV weighs the diversity penalty; DIV is its own literal (NOT computed as
#: 1 - LAMBDA) so both engines parse the identical double constant.
MMR_LAMBDA = 0.7
MMR_DIV = 0.3
MMR_K = 5
MMR_POOL = 20


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs (the PageRank-unroll trick:
    DuckDB has no iterative argmax, so the five selection steps are
    generated textually with the same constants and double arithmetic as
    the driver-side greedy)."""
    steps = ["""
    s1 as (
      select vec_id, rel, round({lam} * rel, 4) as mmr, 1 as rnk
      from cand order by {lam} * rel desc, vec_id limit 1),
    sel1 as (select vec_id from s1)""".format(lam=MMR_LAMBDA)]
    for j in range(2, MMR_K + 1):
        steps.append(f"""
    s{j} as (
      select c.vec_id, c.rel,
             round({MMR_LAMBDA} * c.rel - {MMR_DIV} * m.mx, 4) as mmr,
             {j} as rnk
      from cand c join (
        select p.a_id as vec_id, max(p.s) as mx from pw p
        where p.b_id in (select vec_id from sel{j - 1}) group by p.a_id) m
        using (vec_id)
      where c.vec_id not in (select vec_id from sel{j - 1})
      order by {MMR_LAMBDA} * c.rel - {MMR_DIV} * m.mx desc, c.vec_id
      limit 1),
    sel{j} as (select vec_id from sel{j - 1}
               union all select vec_id from s{j})""")
    union = " union all ".join(f"select * from s{j}" for j in range(1, MMR_K + 1))
    return f"""
    with q as (select embedding::DOUBLE[] as q_emb
               from embeddings where vec_id = 0),
    cand as (
      select vec_id,
             round(list_dot_product(embedding::DOUBLE[], q_emb), 4) as rel
      from embeddings, q where vec_id <> 0
      order by rel desc, vec_id limit {MMR_POOL}),
    pw as (
      select a.vec_id as a_id, b.vec_id as b_id,
             round(list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) as s
      from embeddings a join embeddings b on a.vec_id <> b.vec_id
      where a.vec_id in (select vec_id from cand)
        and b.vec_id in (select vec_id from cand)),{",".join(steps)}
    select cast(rnk as int) as rnk, vec_id, rel, mmr
    from ({union}) order by rnk
    """


@register("sim_mmr_topk", oracle=_mmr_oracle())
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-5 for query vector 0:
    greedily pick argmax of LAMBDA*relevance - DIV*max_sim_to_selected —
    the standard rerank that keeps a retrieval (or curation sampling)
    window from filling up with near-duplicates of one hit.

    Scale shape: the DISTRIBUTED stage is exactly sim_topk_query's
    (broadcast query vector + TakeOrdered over the corpus) producing a
    constant MMR_POOL-sized candidate window; candidate-pair similarities
    are one broadcast self-join over those MMR_POOL vectors. The greedy
    argmax itself runs driver-side over (MMR_POOL + MMR_POOL^2) collected
    scalars — bounded by construction like the k-means centroid pull, not
    by corpus size. Both engines order steps by the identical unrounded
    double composite over 4dp-rounded inputs (vec_id tiebreak), and the
    output rounds Spark-side so round semantics match the oracle.
    """
    cand, pw = mmr_pools(spark, sf_dir)
    rel = {r["vec_id"]: r["rel"] for r in cand.collect()}  # MMR_POOL rows
    sims = {(r["a_id"], r["b_id"]): r["s"] for r in pw.collect()}
    selected = mmr_greedy(rel, sims, MMR_K, MMR_LAMBDA, MMR_DIV)
    out = local_frame(
        spark, selected, "rnk int, vec_id long, rel double, mmr double"
    )
    return out.select("rnk", "vec_id", "rel", F.round("mmr", 4).alias("mmr"))


def mmr_pools(spark: SparkSession, sf_dir: str):
    """(cand, pw): sim_mmr_topk's two DISTRIBUTED stages as DataFrames —
    the MMR_POOL-sized relevance window (broadcast query vector +
    TakeOrdered, sim_topk_query's shape) and the pool×pool pair-similarity
    table (broadcast self-join over MMR_POOL vectors). Exposed so the
    registry-wide plan sweep screens the iterative query's internal plans,
    not just its LocalTableScan result."""
    from .vectors import dot

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
    )
    cvec = emb.join(F.broadcast(cand.select("vec_id")), "vec_id", "left_semi")
    a = cvec.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = cvec.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    pw = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot(F.col("a_emb"), F.col("b_emb")), 4).alias("s"),
        )
    )
    return cand, pw


def mmr_greedy(
    rel: dict,
    sims: dict,
    k: int,
    lam: float,
    div: float,
) -> list[tuple[int, int, float, float]]:
    """Driver-side MMR greedy over the bounded candidate window: at each
    rank pick argmax of ``lam*rel - div*max_sim_to_selected`` (vec_id
    ascending tiebreak via the sorted scan + strict ``>``). Missing pair
    similarities default to 0.0 (the oracle's left-join semantics), and a
    pool smaller than ``k`` yields fewer rows instead of raising — both
    degenerate paths pinned by tests/test_property.py."""
    selected: list[tuple[int, int, float, float]] = []
    chosen: list[int] = []
    for rnk in range(1, k + 1):
        best_id, best_score = None, None
        for vid in sorted(set(rel) - set(chosen)):
            mx = max((sims.get((vid, s), 0.0) for s in chosen), default=0.0)
            score = lam * rel[vid] - div * mx
            if best_score is None or score > best_score:
                best_id, best_score = vid, score
        if best_id is None:
            break
        selected.append((rnk, best_id, rel[best_id], best_score))
        chosen.append(best_id)
    return selected
