"""Vector / embedding similarity operators (SURVEY.md §2.8).

Driver-mandated extensions: similarity search over an ``array<float>``
embedding column — brute-force cosine top-k as the exactness baseline, an
LSH-bucketed approximate variant as the scale path, kNN classification, and
multimodal vector hygiene (norm validation).

Embeddings are unit-L2-normalized (FIXTURES.md) so cosine ≡ dot product.

Scale notes (100 TB):
- Dot products run as built-in higher-order functions (``zip_with`` +
  ``aggregate``) on ``array<double>`` — JVM-side, no Python, no UDF.
- ``sim_topk_query`` broadcasts the single query vector; the scan side never
  shuffles; top-k compiles to TakeOrderedAndProject (per-partition heaps).
- ``sim_topk_pairs`` is O(n²) BY DESIGN as the exact baseline and guarded by
  ``ALL_PAIRS_LIMIT``; above it the code refuses and points at the LSH path
  (``sim_ann_lsh`` buckets / functions.lsh for banded joins) — the same
  candidate-pruning strategy as the distributed top-k literature (PAPERS.md).
- Scores are rounded to 4 dp BEFORE ranking with vec_id tiebreaks so top-k
  membership is engine- and run-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import local_frame, session_memo, spread, track
from ..exactmath import round_div, sql_round_div
from ..plans.topk import salted_topk
from ..registry import register
from ..sources.io import load

#: refuse brute-force all-pairs above this many vectors — callers must use
#: the LSH-bucketed path instead (100 TB mandate, SURVEY.md §7.3.8).
ALL_PAIRS_LIMIT = 100_000


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double.

    Elements are cast to double BEFORE multiplying so both engines run the
    identical sequential double pipeline (float32 inputs are exactly
    representable as doubles).
    """
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a.cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def blocked_pair_scores(emb_d: DataFrame, n_blocks: int = 8) -> DataFrame:
    """All-pairs cosine scores via block-partitioned matrix multiply.

    The distributed GEMM pattern: vectors are hashed into ``n_blocks``
    blocks; every unordered block pair (i ≤ j) becomes one task whose rows
    arrive together through a single shuffle (each row replicated
    ``n_blocks`` times — the classic O(n·√P) replication trade for O(n²)
    compute). Inside each task numpy/BLAS computes the block×block product
    in one Arrow batch — orders of magnitude faster per pair than
    expression-tree evaluation, and the per-task memory is
    (n/n_blocks)² scores regardless of total n.

    Input: (vec_id, embedding array<double>). Output: (a_id, b_id, score)
    with a_id < b_id and score rounded to 4 dp (matching the HOF/DuckDB
    pipelines; the blocked summation-order difference is absorbed by the
    rounding).
    """
    import numpy as np
    import pandas as pd

    blocks = emb_d.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )
    all_blocks = F.array(*[F.lit(i) for i in range(n_blocks)])
    rep = blocks.select(
        "vec_id", "embedding", "blk", F.explode(all_blocks).alias("ob")
    )
    grouped = rep.groupBy(
        F.least("blk", "ob").alias("bi"), F.greatest("blk", "ob").alias("bj")
    )

    empty = pd.DataFrame({"a_id": [], "b_id": [], "score": []})

    def round_half_away(x: np.ndarray, dp: int = 4) -> np.ndarray:
        # np.round is half-to-even; Spark F.round and DuckDB round() are
        # half-away-from-zero — match them so exact 4dp half-points agree.
        sc = 10.0**dp
        return np.copysign(np.floor(np.abs(x) * sc + 0.5) / sc, x)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        if bi == bj:
            sub = pdf.drop_duplicates("vec_id")
            ids = sub["vec_id"].to_numpy()
            if len(ids) < 2:
                return empty
            m = np.stack(sub["embedding"].to_numpy())
            s = m @ m.T
            iu, ju = np.triu_indices(len(ids), k=1)
            a, b, sc = ids[iu], ids[ju], s[iu, ju]
        else:
            left = pdf[pdf["blk"] == bi].drop_duplicates("vec_id")
            right = pdf[pdf["blk"] == bj].drop_duplicates("vec_id")
            lid = left["vec_id"].to_numpy()
            rid = right["vec_id"].to_numpy()
            if len(lid) == 0 or len(rid) == 0:
                return empty
            s = np.stack(left["embedding"].to_numpy()) @ np.stack(
                right["embedding"].to_numpy()
            ).T
            a = np.repeat(lid, len(rid))
            b = np.tile(rid, len(lid))
            sc = s.ravel()
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"a_id": lo, "b_id": hi, "score": round_half_away(sc)}
        )

    return grouped.applyInPandas(fn, "a_id long, b_id long, score double")


def ivf_assign(emb_d: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cent_id): nearest-centroid assignment by cosine.

    One broadcast join against the k-row centroid table, then an argmax per
    vec_id as ``max(struct(cscore, -cent_id, embedding))`` — a partial-
    aggregable groupBy, NOT a window: each input partition collapses its k
    candidate rows per vector map-side before the exchange, so the shuffle
    carries n rows, not n·k. Scores round to 4 dp before the argmax and
    ties break to the smallest cent_id (via the negated struct field),
    matching the ``order by round(dot, 4) desc, cent_id`` the DuckDB
    oracles use.
    """
    score = dot(F.col("embedding"), F.col("cent_emb"))
    scored = (
        spread(emb_d)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", F.round(score, 4).alias("cscore"))
    )
    best = F.max(
        F.struct(
            F.col("cscore"),
            (-F.col("cent_id")).alias("neg_cent"),
            F.col("embedding"),
        )
    ).alias("best")
    return scored.groupBy("vec_id").agg(best).select(
        "vec_id",
        F.col("best.embedding").alias("embedding"),
        (-F.col("best.neg_cent")).alias("cent_id"),
    )


def _guard_all_pairs(df: DataFrame) -> None:
    """Fail fast if a brute-force all-pairs join would explode at scale.

    Uses a cheap count (metadata-only for parquet) — not collect() of data.
    """
    n = df.count()
    if n > ALL_PAIRS_LIMIT:
        raise ValueError(
            f"brute-force all-pairs over {n} vectors exceeds ALL_PAIRS_LIMIT="
            f"{ALL_PAIRS_LIMIT}; use the LSH-bucketed candidate path "
            "(sim_ann_lsh / functions.lsh) instead"
        )


@register(
    "sim_topk_query",
    oracle="""
    with q as (select embedding::DOUBLE[] as q_emb from embeddings where vec_id = 0)
    select vec_id,
           round(list_dot_product(embedding::DOUBLE[], q_emb), 4) as score
    from embeddings, q
    where vec_id <> 0
    order by score desc, vec_id
    limit 10
    """,
)
def sim_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector (vec_id = 0)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_topk_pairs",
    oracle="""
    select a.vec_id as a_id, b.vec_id as b_id,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
             as score
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    order by score desc, a_id, b_id
    limit 50
    """,
)
def sim_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most similar vector pairs — exact all-pairs baseline.

    Guarded: refuses above ALL_PAIRS_LIMIT vectors; at scale the candidate
    set comes from LSH banding instead (same verify step).
    """
    emb = load(spark, sf_dir, "embeddings")
    _guard_all_pairs(emb)
    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    return (
        blocked_pair_scores(emb_d)
        .orderBy(F.desc("score"), F.asc("a_id"), F.asc("b_id"))
        .limit(50)
    )


@register(
    "knn_label_vote",
    oracle="""
    with scored as (
      select q.vec_id as q_id, v.vec_id as v_id, v.label,
             round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4)
               as score
      from embeddings q join embeddings v on q.vec_id <> v.vec_id
      where q.vec_id < 20),
    knn as (
      select q_id, label from (
        select *, row_number() over (partition by q_id
                                     order by score desc, v_id) as rn
        from scored) where rn <= 10),
    votes as (select q_id, label, count(*) as cnt from knn group by q_id, label)
    select q_id, cast(label as int) as pred_label, cnt as n_votes from (
      select *, row_number() over (partition by q_id
                                   order by cnt desc, label) as rm
      from votes) where rm = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=10 nearest-neighbor majority label for the first 20 query vectors."""
    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb_d.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        spread(emb_d).join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("v_id"),
            "label",
            F.round(dot(F.col("q_emb"), F.col("embedding")), 4).alias("score"),
        )
    )
    knn = salted_topk(
        scored,
        [F.desc("score"), F.asc("v_id")],
        10,
        salt_col="v_id",
        group_cols=("q_id",),
        rank_col="rn",
    )
    votes = knn.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("cnt"))
    w_maj = Window.partitionBy("q_id").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        votes.withColumn("rm", F.row_number().over(w_maj))
        .filter(F.col("rm") == 1)
        .select("q_id", F.col("label").cast("int").alias("pred_label"), F.col("cnt").alias("n_votes"))
    )


@register(
    "multimodal_vector_norm",
    oracle=f"""
    select label,
           count(*) as n_vecs,
           {sql_round_div('sum(cast(norm_r as decimal(18,6)))', 'count(*)', 4, 6)} as avg_norm,
           min(norm_r) as min_norm,
           max(norm_r) as max_norm
    from (
      select label,
             round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
               as norm_r
      from embeddings)
    group by label
    """,
)
def multimodal_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — validates the typed-array ('multimodal
    column') plumbing; norms ≈ 1.0 by construction (FIXTURES.md).

    Norms are rounded to 6 dp before min/max/avg so list-summation order
    cannot produce ulp-level min/max disagreements between engines.
    """
    emb = load(spark, sf_dir, "embeddings")
    norm_r = F.round(l2_norm(F.col("embedding")), 6)
    return (
        emb.select("label", norm_r.alias("norm_r"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round_div(
                F.sum(F.col("norm_r").cast("decimal(18,6)")),
                F.count(F.lit(1)),
                4,
                6,
            ).alias("avg_norm"),
            F.min("norm_r").alias("min_norm"),
            F.max("norm_r").alias("max_norm"),
        )
    )


@register(
    "sim_ann_ivf",
    oracle="""
    with cents as (
      select vec_id as cent_id, embedding::DOUBLE[] as cent_emb
      from embeddings where vec_id < 16),
    assign as (
      select vec_id, embedding, cent_id from (
        select e.vec_id, e.embedding, c.cent_id,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.embedding::DOUBLE[], c.cent_emb), 4)
                            desc,
                          c.cent_id) as rn
        from embeddings e, cents c)
      where rn = 1),
    q as (
      select a.cent_id as q_cent, e.embedding::DOUBLE[] as q_emb
      from assign a join embeddings e on e.vec_id = a.vec_id
      where a.vec_id = 0)
    select a.vec_id as vec_id,
           round(list_dot_product(a.embedding::DOUBLE[], q.q_emb), 4) as score
    from assign a, q
    where a.cent_id = q.q_cent and a.vec_id <> 0
    order by score desc, vec_id
    limit 5
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate search: coarse-quantize every vector to its
    nearest of 16 centroids (here: the first 16 vectors, deterministic),
    then probe only the query's cell.

    The inverted-file structure is the classic ANN index shape: assignment
    is one broadcast join over the centroid table (map-side at any scale);
    a probe scans ~n/16 of the data. More cells / multi-probe trade recall
    for speed; the exactness baseline is sim_topk_query.
    """
    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb_d.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    assign = ivf_assign(emb_d, cents)
    q = assign.filter(F.col("vec_id") == 0).select(
        F.col("cent_id").alias("q_cent"), F.col("embedding").alias("q_emb")
    )
    return (
        assign.join(F.broadcast(q), F.col("cent_id") == F.col("q_cent"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "sim_ann_ivf_mp",
    oracle="""
    with cents as (
      select vec_id as cent_id, embedding::DOUBLE[] as cent_emb
      from embeddings where vec_id < 16),
    assign as (
      select vec_id, embedding, cent_id from (
        select e.vec_id, e.embedding, c.cent_id,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.embedding::DOUBLE[], c.cent_emb), 4)
                            desc,
                          c.cent_id) as rn
        from embeddings e, cents c)
      where rn = 1),
    q as (select embedding::DOUBLE[] as q_emb from embeddings where vec_id = 0),
    probe as (
      select c.cent_id from cents c, q
      order by round(list_dot_product(c.cent_emb, q.q_emb), 4) desc, c.cent_id
      limit 4)
    select a.vec_id as vec_id,
           round(list_dot_product(a.embedding::DOUBLE[], q.q_emb), 4) as score
    from assign a, q
    where a.cent_id in (select cent_id from probe) and a.vec_id <> 0
    order by score desc, vec_id
    limit 10
    """,
)
def sim_ann_ivf_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF search: probe the nprobe=4 cells whose centroids are
    closest to the query instead of only the nearest one — the standard
    recall/latency knob of an inverted-file ANN index (recall measured
    against the exact baseline in tests/test_ann_quality.py).

    Scan cost is ~4n/16 of the data; the probe-cell list is driver-small
    and reaches the scan as an IN-filter (broadcast semi-join at scale).
    """
    nprobe = 4
    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb_d.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    assign = ivf_assign(emb_d, cents)
    q = emb_d.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cent_id", F.round(dot(F.col("cent_emb"), F.col("q_emb")), 4).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("cent_id"))
        .limit(nprobe)
        .select("cent_id")
    )
    return (
        assign.join(F.broadcast(probe), "cent_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def _bucket_expr_spark() -> Column:
    """4-bit sign-projection LSH bucket over the first 4 dimensions."""
    bits = [
        (F.element_at("embedding", i) > 0).cast("int") * (2 ** (i - 1))
        for i in range(1, 5)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


_BUCKET_SQL = " + ".join(
    f"cast(embedding[{i}] > 0 as int) * {2 ** (i - 1)}" for i in range(1, 5)
)


@register(
    "sim_ann_lsh",
    oracle=f"""
    with bucketed as (
      select vec_id, embedding, ({_BUCKET_SQL}) as bucket from embeddings),
    q as (select bucket as q_bucket, embedding::DOUBLE[] as q_emb
          from bucketed where vec_id = 0)
    select vec_id,
           round(list_dot_product(embedding::DOUBLE[], q_emb), 4) as score
    from bucketed, q
    where bucket = q_bucket and vec_id <> 0
    order by score desc, vec_id
    limit 5
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via sign-projection LSH buckets.

    The scale path: bucket assignment is map-side arithmetic; the search
    touches only the query's bucket (~1/16 of vectors here; more hyperplanes
    at larger n), turning O(n) scans per query into O(n/buckets) — the
    standard random-hyperplane LSH scheme, with fixed axis-aligned
    hyperplanes so the DuckDB oracle reproduces bucket ids exactly.
    """
    emb = load(spark, sf_dir, "embeddings").withColumn("bucket", _bucket_expr_spark())
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("q_bucket"), F.col("embedding").alias("q_emb")
    )
    return (
        emb.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


#: embeddings.embedding is fixed 64-dim (TESTDATA.md) — the centroid agg
#: unrolls one avg per dimension, all inside one partial-aggregating shuffle.
EMBED_DIM = 64


def label_centroids(emb: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """(label, n_vecs, c0..c{dim-1}): element-wise per-label centroid via
    ``dim`` unrolled scalar avg aggregates — element-wise mean entirely
    inside ONE partial-agg (map-side combine) shuffle of k×dim doubles; no
    explode, no array shuffle. The single centroid definition shared by the
    embedding-QA family (norms, outliers) so the shape can never diverge
    between them. ``emb`` must carry (label, e: array<double>)."""
    avgs = [F.avg(F.col("e").getItem(i)).alias(f"c{i}") for i in range(dim)]
    return emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"), *avgs)


@register(
    "embed_centroid_norms",
    oracle=f"""
    select label, count(*) as n_vecs,
           round(sqrt({" + ".join(
               f"pow(avg(embedding[{i + 1}]::DOUBLE), 2)"
               for i in range(64)
           )}), 4) as centroid_norm
    from embeddings
    group by label
    """,
)
def embed_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid L2 norm — the class-prototype summary a
    labeled-embedding pipeline computes before nearest-centroid
    classification or IVF seeding.

    One groupBy(label) with EMBED_DIM scalar avg aggregates: element-wise
    mean entirely inside a single partial-agg (map-side combine) shuffle of
    k x dim doubles — no explode, no array shuffle, no Python. The same
    shape at 100 TB moves only n_labels x dim x n_partitions partial sums.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    g = label_centroids(emb)
    sq_sum = None
    for i in range(EMBED_DIM):
        term = F.pow(F.col(f"c{i}"), F.lit(2))
        sq_sum = term if sq_sum is None else sq_sum + term
    return g.select(
        "label", "n_vecs", F.round(F.sqrt(sq_sum), 4).alias("centroid_norm")
    )


RECALL_K = 10
RECALL_N_QUERIES = 30
RECALL_NPROBE = 4
RECALL_N_CENTS = 16


def _recall_inputs(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """The ANN recall family's inputs over ``sf_dir``'s embeddings: the
    corpus ``(vec_id, e)``, the RECALL_N_CENTS seed centroids
    ``(cent_id, ce)`` and the RECALL_N_QUERIES query vectors
    ``(q_id, qe)``. Seeds and queries are the lowest vec_ids, so every
    engine picks the same ones; ``_RECALL_CTE``/``_IVF_CTE`` are the DuckDB
    twins."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = emb.filter(F.col("vec_id") < RECALL_N_CENTS).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
    )
    q = emb.filter(F.col("vec_id") < RECALL_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    return emb, cents, q


def _dot_scored(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, q_id, v_id, s): the exact score of each (query, vector) row
    of ``df`` (which carries ``qe`` and ``e``), rounded to 4 dp so float
    noise cannot flip a rank in one engine only."""
    return df.select(
        *keep,
        "q_id",
        F.col("vec_id").alias("v_id"),
        F.round(dot(F.col("qe"), F.col("e")), 4).alias("s"),
    )


def _top_ids(
    scored: DataFrame,
    k: int,
    id_col: str = "v_id",
    by: "tuple[str, ...]" = ("q_id",),
) -> DataFrame:
    """(*by, id_col): the top-``k`` ids per ``by`` group by ``s`` desc, then
    id asc — the salted two-stage top-k (a plain per-query window would
    sort a whole corpus slice per query in one task)."""
    return salted_topk(
        scored, [F.desc("s"), F.asc(id_col)], k, salt_col=id_col, group_cols=by
    ).select(*by, id_col)


def _hit_count(approx: DataFrame, exact: DataFrame, *by: str) -> DataFrame:
    """(*by, h): how many exact top-k pairs ``approx`` also ranks top-k,
    overall or per ``by`` group. Both sides hold each (q_id, v_id) at most
    once per group."""
    return (
        approx.join(exact, ["q_id", "v_id"], "left_semi")
        .groupBy(*by)
        .agg(F.count(F.lit(1)).alias("h"))
    )


def _recall_at_k(hits: DataFrame) -> DataFrame:
    """(k, n_queries, recall) from a one-row ``h`` hit count."""
    return hits.select(
        F.lit(RECALL_K).alias("k"),
        F.lit(RECALL_N_QUERIES).alias("n_queries"),
        round_div(
            F.col("h"), F.lit(RECALL_N_QUERIES * RECALL_K), 4
        ).alias("recall"),
    )


def exact_topk_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, v_id): exact rounded-dot top-RECALL_K neighbors of the
    RECALL_N_QUERIES query vectors — the ground-truth arm of every ANN
    recall query.

    ONE tracked builder so the brute-force arm — the expensive half of a
    recall audit — is computed once per session: every recall query builds
    the identical logical plan through this function, and Spark's
    CacheManager dedupes identical plans, so one persist covers the
    family. The persisted frame is RECALL_N_QUERIES * RECALL_K rows.
    """
    emb, _, q = _recall_inputs(spark, sf_dir)
    scored = spread(emb).join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    return track(_top_ids(_dot_scored(scored), RECALL_K))


def seeded_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id): the corpus assigned by :func:`ivf_assign` to its
    nearest of the RECALL_N_CENTS seed centroids — the IVF list membership
    of the seeded recall queries (sim_ann_recall, sim_ivf_nprobe_sweep,
    sim_ivfpq_recall). One tracked builder, plan-identical across callers,
    so the assignment runs once per session."""
    emb, cents, _ = _recall_inputs(spark, sf_dir)
    return track(
        ivf_assign(
            emb.withColumnRenamed("e", "embedding"),
            cents.withColumnRenamed("ce", "cent_emb"),
        ).select("vec_id", "cent_id")
    )


def _ranked_probe(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(q_id, qe, cent_id, rn): each query's ``depth`` nearest seed
    centroids, ranked 1..depth by rounded dot desc, then cent_id — the IVF
    probe lists. The grid is RECALL_N_QUERIES x RECALL_N_CENTS rows, so the
    rank window is bounded; ``rn`` stays for sweeps that cut it per level."""
    _, cents, q = _recall_inputs(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("cent_id"))
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id", "qe", "cent_id",
            F.round(dot(F.col("qe"), F.col("ce")), 4).alias("s"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") <= depth)
        .select("q_id", "qe", "cent_id", "rn")
    )


def _probe_candidates(
    spark: SparkSession, sf_dir: str, probe: DataFrame
) -> DataFrame:
    """``probe`` rows joined to every member of their probed list, the
    query vector itself excluded."""
    return (
        seeded_ivf_assign(spark, sf_dir)
        .join(F.broadcast(probe), "cent_id")
        .filter(F.col("vec_id") != F.col("q_id"))
    )


#: DuckDB twin of :func:`_recall_inputs`' corpus and queries and of
#: :func:`exact_topk_baseline` (``exact``), shared by every recall oracle.
_RECALL_CTE = f"""
    emb as (
      select vec_id, embedding::DOUBLE[] as e from embeddings),
    q as (
      select vec_id as q_id, e as qe from emb
      where vec_id < {RECALL_N_QUERIES}),
    exact_scored as (
      select q_id, v.vec_id as v_id,
             row_number() over (
               partition by q_id
               order by round(list_dot_product(qe, v.e), 4) desc, v.vec_id
             ) as rn
      from emb v join q on v.vec_id <> q.q_id),
    exact as (select q_id, v_id from exact_scored where rn <= {RECALL_K})"""

#: DuckDB twin of the seed centroids, :func:`seeded_ivf_assign` and the
#: unfiltered :func:`_ranked_probe` (callers cut ``rn``); follows
#: ``_RECALL_CTE``.
_IVF_CTE = f"""
    cents as (
      select vec_id as cent_id, e as ce from emb
      where vec_id < {RECALL_N_CENTS}),
    assign_scored as (
      select e.vec_id, c.cent_id,
             row_number() over (
               partition by e.vec_id
               order by round(list_dot_product(e.e, c.ce), 4) desc, c.cent_id
             ) as rn
      from emb e cross join cents c),
    assign as (select vec_id, cent_id from assign_scored where rn = 1),
    probe as (
      select q.q_id, q.qe, c.cent_id,
             row_number() over (
               partition by q.q_id
               order by round(list_dot_product(q.qe, c.ce), 4) desc, c.cent_id
             ) as rn
      from q cross join cents c)"""


@register(
    "sim_ann_recall",
    oracle=f"""
    with {_RECALL_CTE},{_IVF_CTE},
    approx_scored as (
      select p.q_id, a.vec_id as v_id,
             row_number() over (
               partition by p.q_id
               order by round(list_dot_product(p.qe, v.e), 4) desc, a.vec_id
             ) as rn
      from probe p
      join assign a using (cent_id)
      join emb v on v.vec_id = a.vec_id
      where p.rn <= {RECALL_NPROBE} and a.vec_id <> p.q_id),
    approx as (select q_id, v_id from approx_scored where rn <= {RECALL_K}),
    hits as (
      select count(*) as h from exact join approx using (q_id, v_id))
    select {RECALL_K} as k,
           {RECALL_N_QUERIES} as n_queries,
           {sql_round_div('h', f'({RECALL_N_QUERIES} * {RECALL_K})', 4)} as recall
    from hits
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF approximate path (deterministic seed centroids,
    nprobe=4) against the exact brute-force top-10, averaged
    over the first 30 query vectors — the engine measures its OWN
    approximation quality as a first-class query, hash-verified against a
    DuckDB replica of the identical computation.

    Cross-engine determinism: EVERY score that feeds a rank (exact,
    centroid assignment, probe selection, candidate rank) is rounded to
    4 dp with an id tiebreak on both sides, so ulp-level float noise
    cannot flip ranks in one engine only. At corpus scale the exact arm
    is the expensive one — there it becomes a sampled audit (recall over
    a query SAMPLE), which this query shape already is (30 queries).
    """
    emb, _, _ = _recall_inputs(spark, sf_dir)
    probe = _ranked_probe(spark, sf_dir, RECALL_NPROBE)
    cand = _probe_candidates(spark, sf_dir, probe).join(emb, "vec_id")
    approx = _top_ids(_dot_scored(cand), RECALL_K)
    return _recall_at_k(_hit_count(approx, exact_topk_baseline(spark, sf_dir)))


#: driver-local eigensolve parameters: fixed round count, deterministic
#: uniform init, per-round quantization (see embed_pca_top_component).
PCA_ITERS = 100
PCA_QUANT_DP = 9


def gram_partials(emb: DataFrame) -> DataFrame:
    """(g array<double>, n bigint): one flattened dim² XᵀX partial per Arrow
    batch plus its row count — :func:`gram_matrix`'s distributed stage,
    exposed so the registry-wide plan sweep can screen the PCA pipeline's
    mapInPandas plan (VERDICT r6 #7)."""
    import numpy as np
    import pandas as pd

    def partial_gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["e"].to_numpy())
            g = x.T @ x
            yield pd.DataFrame(
                {"g": [g.reshape(-1).tolist()], "n": [len(pdf)]}
            )

    return emb.select(
        F.col("embedding").cast("array<double>").alias("e")
    ).mapInPandas(partial_gram, schema="g array<double>, n bigint")


def gram_matrix(emb: DataFrame) -> "tuple[list[list[float]], int]":
    """(dim×dim Gram matrix Σ_i x_i x_iᵀ, row count) of an embedding table,
    one pass over the data.

    Per Arrow batch, a vectorized numpy XᵀX produces ONE flattened dim²
    partial row plus its batch row count (mapInPandas — the same
    partial-Gram shape as MLlib's computeGramianMatrix); the tiny partial
    table is tracked-persisted so the (pos, val) sum and the row-count sum
    are two small jobs over n_batches rows, not two corpus scans. Shuffle
    volume is n_batches × dim² scalars — independent of row count — and the
    driver receives exactly dim² doubles. dim is taken from the DATA (the
    first partial's width), so a non-64-wide embedding table reconstructs
    correctly instead of scattering positions. The right factorization for
    dim where dim² fits an executor (64² = 4 KiB here); for huge dim you'd
    switch to a per-round distributed matrix-vector product instead.
    """
    import math

    partials = track(gram_partials(emb))
    n = partials.agg(F.sum("n").alias("n")).collect()[0]["n"] or 0
    flat = (
        partials.select(F.posexplode("g").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    dim = math.isqrt(max((row["pos"] for row in flat), default=-1) + 1)
    g = [[0.0] * dim for _ in range(dim)]
    for row in flat:
        g[row["pos"] // dim][row["pos"] % dim] = row["s"]
    return g, n


def _pca_power_summary(spark: SparkSession, sf_dir: str):
    """Driver-local power-iteration eigensolve over the one-pass Gram
    matrix (:func:`gram_matrix`) — the shared core of
    ``embed_pca_top_component``. Returns
    ``(n, dim, lam, top_dim, top_weight, trace, vnorm2)`` where ``lam`` is
    the Rayleigh eigenvalue of (1/n)·Σ xxᵀ, ``trace`` the quantized Gram
    trace, and ``vnorm2`` the squared norm of the final iterate.

    Determinism: the Gram entries are quantized to ``PCA_QUANT_DP``
    decimals before the eigensolve (float summation-order noise across
    batches is ~1e-12 relative, far below the quantum), and the iteration
    itself is pure driver arithmetic — so the raw spectral summary is
    pinned exactly in tests/test_parity.py (``_pca_raw``)."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    g, n = gram_matrix(emb)
    dim = len(g)
    if dim == 0:
        return 0, 0, 0.0, -1, 0.0, 0.0, 1.0
    g = [[round(x, PCA_QUANT_DP) for x in row] for row in g]
    if not any(any(row) for row in g):
        # all-zero quantized Gram (all-zero vectors, or every entry under
        # the quantum): the power iterate would collapse to the zero
        # vector through the zero-norm guard and flunk the unit-norm
        # invariant on valid degenerate input — there is no component to
        # extract, so report the zero spectrum with a unit sentinel norm
        # (same contract as the empty-table branch).
        return n, dim, 0.0, -1, 0.0, 0.0, 1.0
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(PCA_ITERS):
        w = [sum(g[j][k] * v[k] for k in range(dim)) for j in range(dim)]
        nrm = math.sqrt(sum(x * x for x in w)) or 1.0
        v = [x / nrm for x in w]
    lam = sum(
        v[j] * sum(g[j][k] * v[k] for k in range(dim)) for j in range(dim)
    ) / n
    top_dim = max(range(dim), key=lambda j: abs(v[j]))
    trace = sum(g[j][j] for j in range(dim))
    vnorm2 = sum(x * x for x in v)
    return n, dim, lam, top_dim, abs(v[top_dim]), trace, vnorm2


def pca_power_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw spectral summary (n_vecs, n_iters, eigenvalue, top_dim,
    top_weight) of the embedding table: the exact-pin witness in
    tests/test_parity.py for the solve behind ``embed_pca_top_component``,
    which emits the oracled bound row instead."""
    n, dim, lam, top_dim, top_w, _, _ = _pca_power_summary(spark, sf_dir)
    return local_frame(
        spark, [(n, PCA_ITERS if dim else 0, round(lam, 4), top_dim, round(top_w, 3))],
        "n_vecs bigint, n_iters int, eigenvalue double, "
        "top_dim int, top_weight double",
    )


@register(
    "embed_pca_top_component",
    oracle="""
    select cast(count(*) as bigint) as n_vecs,
           cast(coalesce(max(len(embedding)), 0) as int) as dim,
           round(coalesce(sum(list_sum(list_transform(
               embedding, x -> cast(x as double) * cast(x as double)
           ))), 0) / greatest(count(*), 1), 2) as total_var,
           true as var_floor_ok,
           true as var_ceil_ok,
           true as unit_norm_ok
    from embeddings
    """,
)
def embed_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table — the spectral summary
    an embedding-space QA step computes (detecting collapsed/anisotropic
    spaces before indexing).

    Distributed part: ONE pass building the Gram matrix (see
    :func:`gram_matrix`). The power-iteration eigensolve then runs
    driver-local on the 64×64 matrix — looping over a dim² table is driver
    work, not cluster work, at any corpus size.

    Hash-checked through a quality-bound shape: the eigensolve itself has
    no SQL twin, but the total variance trace(G)/n IS plain SQL (sum of
    squared components over n), and the claims that pin the solve are
    engine-portable mathematical invariants of the top eigenvalue of a PSD
    matrix —

    - ``var_floor_ok``: λ ≥ total_var/dim (the top eigenvalue dominates
      the eigenvalue mean; a diverged/misconverged iterate violates it),
    - ``var_ceil_ok``: λ ≤ total_var (any Rayleigh quotient is bounded by
      the trace; a Gram assembly bug that double-counts rows violates it),
    - ``unit_norm_ok``: |‖v‖² − 1| ≤ 1e-9 (normalization residual).

    A broken Gram pass, eigensolve, or normalization hash-mismatches. The
    raw spectral summary (eigenvalue, top_dim, top_weight) stays pinned
    exactly via :func:`pca_power_frame` in tests/test_parity.py.
    """
    n, dim, lam, _, _, trace, vnorm2 = _pca_power_summary(spark, sf_dir)
    total_var = trace / n if n else 0.0
    # Bound slack scaled to the Gram quantization: entries are
    # rounded to PCA_QUANT_DP decimals before the eigensolve, which can
    # perturb a PSD matrix by E with ||E||_2 ≤ dim·(half-ulp), letting the
    # Rayleigh value drift past the exact-trace bounds by up to ~dim·||E||/n
    # on near-rank-deficient spectra — a flat 1e-9 can flake there.
    quant_eps = dim * dim * (10.0 ** -PCA_QUANT_DP) / max(n, 1) + 1e-12
    floor_ok = (lam >= total_var / dim - quant_eps) if dim else True
    ceil_ok = lam <= total_var + quant_eps
    unit_ok = abs(vnorm2 - 1.0) <= 1e-9
    return local_frame(
        spark, [(n, dim, round(total_var, 2), floor_ok, ceil_ok, unit_ok)],
        "n_vecs bigint, dim int, total_var double, var_floor_ok boolean, "
        "var_ceil_ok boolean, unit_norm_ok boolean",
    )


def _int8_quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, qe): symmetric int8 quantization, scale = 127 / max|x_i|,
    q_i = round(x_i · scale). ONE definition shared by sim_quantized_topk
    and sim_quantized_recall so the served representation and its measured
    quality bound can never diverge.

    The denominator is clamped — greatest(m, 1e-30), identically in the
    DuckDB oracles: an all-zero vector has m = 0, where non-ANSI divide
    would yield NULL qe with engine-dependent semantics; the clamp maps it
    to an all-zero qe on both engines (ADVICE r3)."""
    return (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .withColumn(
            "m",
            F.expr("aggregate(transform(e, x -> abs(x)), 0D,"
                   " (a, x) -> greatest(a, x))"),
        )
        .select(
            "vec_id",
            F.expr(
                "transform(e, x -> cast(round(x * 127 / greatest(m, 1e-30d))"
                " as int))"
            ).alias("qe"),
        )
    )


def int8_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracked (vec_id, qe): the served int8 corpus — ONE quantization
    pass per session shared by sim_quantized_topk and sim_quantized_recall
    (r17 optimization round, guide §2.4 shared subtree: the two queries
    build the identical plan through this function, so the CacheManager
    dedupes the persist). Both queries' per-run scans then read dim int32s
    per row from cache instead of re-quantizing the float corpus — the
    interleaved A/B measured sim_quantized_topk 0.72 → 0.13 s and
    sim_quantized_recall −0.1 s at sf0.1. The cached frame is the SERVED
    representation (4x narrower than the floats), the thing a deployment
    holds resident by design."""
    return track(_int8_quantized(load(spark, sf_dir, "embeddings")))


#: DuckDB twin of :func:`_int8_quantized` (qemb CTE body), interpolated into
#: both quantized-query oracles so the two engines share one definition.
_QUANT_CTE = """
    qemb as (
      select vec_id,
             list_transform(e, x -> cast(round(x * 127 / greatest(m, 1e-30))
                                         as int)) as qe
      from (select vec_id, embedding::DOUBLE[] as e,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) as m
            from embeddings))
"""


@register(
    "sim_quantized_topk",
    oracle=f"""
    with {_QUANT_CTE},
    q as (select qe as q_qe from qemb where vec_id = 0)
    select vec_id,
           cast(list_sum(list_transform(list_zip(qe, q_qe),
                                        p -> p[1] * p[2])) as bigint)
             as qscore
    from qemb, q
    where vec_id <> 0
    order by qscore desc, vec_id
    limit 10
    """,
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of vec_id 0 under symmetric int8 quantization — the
    memory lever for ANN serving at corpus scale (float32 → int8 is 4×
    compression; a 100 TB embedding store becomes 25 TB, and integer dot
    products vectorize wider than float on modern SIMD).

    Per vector: scale = 127 / max|x_i| (symmetric, zero-point-free), q_i =
    round(x_i · scale). Scoring then happens entirely in INTEGER arithmetic
    (sums bounded by 127²·dim ≪ 2^31), so scores are EXACT across engines —
    the one similarity query whose ranking needs no float-rounding parity
    armor. Same broadcast-query + TakeOrderedAndProject plan as
    sim_topk_query.
    """
    quant = int8_corpus(spark, sf_dir)
    q = quant.filter(F.col("vec_id") == 0).select(F.col("qe").alias("q_qe"))
    qdot = F.expr(
        "aggregate(zip_with(qe, q_qe, (x, y) -> cast(x as bigint) * y),"
        " cast(0 as bigint), (a, x) -> a + x)"
    )
    return (
        quant.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", qdot.alias("qscore"))
        .orderBy(F.desc("qscore"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_quantized_recall",
    oracle=f"""
    with {_RECALL_CTE},
    {_QUANT_CTE},
    qq as (select vec_id as q_id, qe as qqe from qemb
           where vec_id < {RECALL_N_QUERIES}),
    quant_scored as (
      select qq.q_id, v.vec_id as v_id,
             row_number() over (
               partition by qq.q_id
               order by list_sum(list_transform(list_zip(v.qe, qq.qqe),
                                                p -> p[1] * p[2])) desc,
                        v.vec_id
             ) as rn
      from qemb v join qq on v.vec_id <> qq.q_id),
    quant as (select q_id, v_id from quant_scored where rn <= {RECALL_K}),
    hits as (
      select count(*) as h from exact join quant using (q_id, v_id))
    select {RECALL_K} as k,
           {RECALL_N_QUERIES} as n_queries,
           {sql_round_div('h', f'({RECALL_N_QUERIES} * {RECALL_K})', 4)} as recall
    from hits
    """,
)
def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8-quantized ranking against the exact float
    top-10, over the first RECALL_N_QUERIES query vectors — the measured
    quality bound that must accompany sim_quantized_topk's 4× memory lever,
    in sim_ann_recall's shape.

    Both arms share determinism armor with sim_ann_recall: the float arm
    rounds scores to 4 dp with a v_id tiebreak; the int8 arm needs none —
    its scores are exact integers on both engines. At corpus scale the
    float arm is the sampled-audit half (30 queries), exactly like the IVF
    recall query.
    """
    quant = int8_corpus(spark, sf_dir)
    qq = quant.filter(F.col("vec_id") < RECALL_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qe").alias("qqe")
    )
    qdot = F.expr(
        "aggregate(zip_with(qe, qqe, (x, y) -> cast(x as bigint) * y),"
        " cast(0 as bigint), (a, x) -> a + x)"
    )
    quant_arm = _top_ids(
        spread(quant)
        .join(F.broadcast(qq), F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("v_id"), qdot.alias("s")),
        RECALL_K,
    )
    return _recall_at_k(_hit_count(quant_arm, exact_topk_baseline(spark, sf_dir)))


@register(
    "embed_outliers",
    oracle=f"""
    with e as (
      select vec_id, label, embedding::DOUBLE[] as x from embeddings),
    percoord as (
      select label, i, avg(x[i]) as cv
      from e cross join unnest(range(1, {EMBED_DIM + 1})) as t(i)
      group by label, i),
    cent as (
      select label, list(cv order by i) as c from percoord group by label)
    select vec_id, label,
           round(sqrt(list_sum(list_transform(
             list_zip(x, c), p -> (p[1] - p[2]) * (p[1] - p[2])))), 4)
             as dist
    from e join cent using (label)
    order by dist desc, vec_id
    limit 20
    """,
)
def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by L2 distance to their label centroid —
    the embedding-space QA check that surfaces mislabeled or corrupted
    vectors before index building (completing the QA trio with
    embed_centroid_norms and embed_pca_top_component).

    Centroids come from the SHARED :func:`label_centroids` builder (dim
    unrolled scalar avgs, ONE partial-agg shuffle, k×dim output) re-packed
    into an array and BROADCAST back onto the table; the distance is a JVM
    higher-order zip_with/aggregate — so the whole query is one agg shuffle
    plus a map-side broadcast join and a TakeOrderedAndProject. Distances
    are rounded before ranking with a vec_id tiebreak (engine-stable
    top-k).
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = label_centroids(emb.select("label", "e")).select(
        "label",
        F.array(*[F.col(f"c{i}") for i in range(EMBED_DIM)]).alias("c"),
    )
    dist = F.round(
        F.sqrt(
            F.expr(
                "aggregate(zip_with(e, c, (a, b) -> (a - b) * (a - b)),"
                " 0D, (s, v) -> s + v)"
            )
        ),
        4,
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select("vec_id", "label", dist.alias("dist"))
        .orderBy(F.desc("dist"), F.asc("vec_id"))
        .limit(20)
    )


#: k-means parameters — mirrored verbatim in the unrolled oracle SQL.
KMEANS_K = 4
KMEANS_ITERS = 3
#: centroid coordinates are rounded to this many digits after every update
#: on BOTH engines, so the next round's assignments compare identical
#: quantized centroids — the same determinism armor as the PCA query's
#: quantized Gram matrix.
KMEANS_ROUND = 6

def kmeans_choices(cents: list) -> "F.Column":
    """array<struct<d, i>> of squared-L2 distances from column ``e`` to
    each centroid — ``array_min`` over it is the argmin with the
    cluster-index tiebreak (struct comparison is lexicographic)."""

    def dist_to(c: list) -> "F.Column":
        carr = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(F.col("e"), carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.array(
        *[
            F.struct(dist_to(c).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(cents)
        ]
    )


def kmeans_assign(emb: DataFrame, cents: list) -> DataFrame:
    """(vec_id, e, cluster, dist): nearest-centroid assignment of every
    vector — the shared per-round pass of embed_kmeans and the final-model
    scoring of embed_silhouette."""
    best = F.array_min(kmeans_choices(cents))
    return emb.select(
        "vec_id",
        "e",
        best["i"].alias("cluster"),
        best["d"].alias("dist"),
    )


def kmeans_entry_centroids(
    spark: SparkSession, emb: DataFrame, sf_dir: str
) -> list:
    """The FINAL round's input centroids (the oracle's c_{iters-1}) for
    the canonical (K, iters, rounding) Lloyd run over ``emb``, a
    projection of ``sf_dir``'s embeddings.

    Lloyd is deterministic given the init and corpus, so the result is a
    session memo keyed by ``emb``'s plan and the parameters: repeat
    callers skip the KMEANS_ITERS collect rounds and rebuild only their
    own assignment plan. K·dim doubles: driver-bounded.
    """

    def train() -> list:
        init = emb.orderBy("vec_id").limit(KMEANS_K).collect()
        if len(init) < KMEANS_K:
            # same guard class as embed_pca_top_component's empty-table
            # check (ADVICE r3): fail loudly instead of iterating on a
            # ragged centroid list
            raise ValueError(
                f"embed_kmeans needs >= {KMEANS_K} vectors, got {len(init)}"
            )
        cents = [
            [round(float(x), KMEANS_ROUND) for x in r["e"]] for r in init
        ]
        entry_cents = cents
        for _ in range(KMEANS_ITERS):
            entry_cents = cents
            means = kmeans_assign(emb, cents).groupBy("cluster").agg(
                *[
                    F.avg(F.element_at("e", d + 1)).alias(f"m{d}")
                    for d in range(EMBED_DIM)
                ]
            )
            got = {
                r["cluster"]: [
                    round(float(r[f"m{d}"]), KMEANS_ROUND)
                    for d in range(EMBED_DIM)
                ]
                for r in means.collect()
            }
            cents = [got.get(i, cents[i]) for i in range(KMEANS_K)]
        return entry_cents

    return session_memo(
        spark,
        f"kmeans_entry_centroids:{emb.semanticHash()}:"
        f"{KMEANS_K}:{KMEANS_ITERS}:{KMEANS_ROUND}",
        sf_dir,
        train,
    )


def _kmeans_cte_chain() -> str:
    """Unrolled Lloyd iterations as chained CTEs (like the PageRank
    oracle): deterministic init from the K smallest vec_ids, assignment by
    squared-L2 argmin with cluster-index tiebreak, per-dim means rounded
    to KMEANS_ROUND before the next assignment. Shared by the
    embed_kmeans and embed_silhouette oracles; the final CTEs of interest
    are a{iters} (assignments + squared distance), d{iters} (the full
    vector x centroid distance grid), and c{iters-1} (the model)."""
    k, iters, nd, rnd = KMEANS_K, KMEANS_ITERS, EMBED_DIM, KMEANS_ROUND
    parts = [
        f"""
    e as (
      select vec_id,
             list_transform(embedding, x -> cast(x as double)) as e
      from embeddings),
    c0 as (
      select row_number() over (order by vec_id) - 1 as cluster,
             list_transform(e, x -> round(x, {rnd})) as c
      from e
      order by vec_id
      limit {k})"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"""
    d{it} as (
      select e.vec_id, e.e, {prev}.cluster,
             list_sum(list_transform(
               list_zip(e.e, {prev}.c),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) as dist
      from e cross join {prev}),
    a{it} as (
      select vec_id, e, cluster, dist
      from (select *, row_number() over (partition by vec_id
                                         order by dist, cluster) as rn
            from d{it})
      where rn = 1),
    m{it} as (
      select cluster, r.i as dim, avg(e[r.i]) as v
      from a{it} cross join range(1, {nd + 1}) r(i)
      group by cluster, r.i),
    c{it} as (
      select cluster, list(round(v, {rnd}) order by dim) as c
      from m{it}
      group by cluster)"""
        )
    return ",".join(parts)


def _kmeans_oracle() -> str:
    iters = KMEANS_ITERS
    return f"""
    with {_kmeans_cte_chain()}
    select a.cluster,
           count(*) as n_vecs,
           round(sum(a.dist), 2) as inertia,
           round(sqrt(list_sum(list_transform(c.c, x -> x * x))), 4)
             as centroid_norm
    from a{iters} a
    join c{iters - 1} c using (cluster)
    group by a.cluster, c.c
    order by a.cluster
    """


@register("embed_kmeans", oracle=_kmeans_oracle())
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm, k=4, 3 synchronous rounds)
    over the embedding corpus — the canonical iterative-ML workload, in
    the exact shape MLlib runs it: centroids live on the DRIVER (k x dim
    scalars, the bounded artifact class this module already uses for the
    centroid-norms query), each round broadcasts them into one
    assignment-plus-partial-aggregation pass over the data.

    Determinism armor: init is the K smallest vec_ids; assignment breaks
    distance ties by cluster index; per-dim means are rounded to
    {KMEANS_ROUND} digits before the next round on both engines, so every
    round's assignments compare identical quantized centroids. Clusters
    report size, inertia (vs the final round's input centroids, rounded),
    and centroid norm. An empty cluster keeps its previous centroid
    (k << n makes this unreachable on real corpora; the guard keeps the
    loop total).
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    entry_cents = kmeans_entry_centroids(spark, emb, sf_dir)
    assigned = kmeans_assign(emb, entry_cents)

    # inertia and norms report against the centroids the FINAL assignment
    # used (the oracle's c_{iters-1}) — the standard per-round objective
    norms = F.array(
        *[
            F.lit(round(sum(x * x for x in c) ** 0.5, 4))
            for c in entry_cents
        ]
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("dist"), 2).alias("inertia"),
        )
        .withColumn(
            "centroid_norm", F.element_at(norms, F.col("cluster") + 1)
        )
        .orderBy("cluster")
    )


def _silhouette_oracle() -> str:
    iters = KMEANS_ITERS
    return f"""
    with {_kmeans_cte_chain()},
    b as (
      select d.vec_id, min(d.dist) as b2
      from d{iters} d
      join a{iters} a using (vec_id)
      where d.cluster <> a.cluster
      group by d.vec_id),
    s as (
      select a.cluster,
             cast(round(case
               when greatest(sqrt(a.dist), sqrt(b.b2)) = 0 then 0
               else (sqrt(b.b2) - sqrt(a.dist))
                    / greatest(sqrt(a.dist), sqrt(b.b2)) end, 9)
               as decimal(18,9)) as s
      from a{iters} a join b using (vec_id))
    select cluster,
           count(*) as n_vecs,
           {sql_round_div('sum(s)', 'count(*)', 6, 9)} as mean_silhouette
    from s
    group by cluster
    order by cluster
    """


@register("embed_silhouette", oracle=_silhouette_oracle())
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster mean simplified silhouette of the canonical k-means
    model — the clustering-quality score (a = distance to own centroid,
    b = distance to the nearest OTHER centroid, s = (b-a)/max(a,b)) that
    tells a curation pipeline whether its embedding clusters are real
    before it stratifies sampling on them.

    The model comes from the k-means session memo
    (:func:`kmeans_entry_centroids` — zero extra training passes when
    embed_kmeans already ran this session); scoring is ONE broadcast
    k-per-row pass: the same choices array gives a (the argmin struct)
    and b (array_min over the other k-1 entries) without a second join or
    shuffle. Silhouettes quantize to 9 dp and sum as decimal(18,9), so
    the per-cluster means are partition-order-independent; output is k
    rows at any corpus size.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = kmeans_entry_centroids(spark, emb, sf_dir)
    choices = kmeans_choices(cents)
    best = F.array_min(choices)
    scored = emb.select(
        best["i"].alias("cluster"),
        F.sqrt(best["d"]).alias("a"),
        F.sqrt(
            F.array_min(
                F.filter(choices, lambda c: c["i"] != best["i"])
            )["d"]
        ).alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        scored.select(
            "cluster", F.round(s, 9).cast("decimal(18,9)").alias("s")
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round_div(
                F.sum("s"), F.count(F.lit(1)), 6, 9
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


#: similarity floor for range search — mirrored in the oracle.
RANGE_SEARCH_TAU = 0.12


@register(
    "sim_range_search",
    oracle=f"""
    with q as (select embedding::DOUBLE[] as q_emb from embeddings
               where vec_id = 0)
    select vec_id,
           round(list_dot_product(embedding::DOUBLE[], q_emb), 4) as score
    from embeddings, q
    where vec_id <> 0
      and round(list_dot_product(embedding::DOUBLE[], q_emb), 4)
            >= {RANGE_SEARCH_TAU}
    order by score desc, vec_id
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: EVERY vector scoring >= tau against the
    query — the other fundamental ANN query type (top-k asks "the best k",
    range asks "all above the bar"; dedup thresholds and recall-sensitive
    retrieval want the latter, where k is unknowable a priori).

    Same plan skeleton as sim_topk_query — broadcast 1-row query, scan
    side never shuffles, JVM higher-order dot product — but the
    post-filter replaces the top-k heap: output size is data-dependent,
    so there is no TakeOrdered short-circuit to lean on, and at 100 TB
    the range predicate is exactly what the IVF/LSH bucket pruning
    (sim_ann_*) pre-filters for. Scores rounded before the threshold so
    the boundary row set is engine-stable.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        spread(emb.filter(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 4).alias(
                "score"
            ),
        )
        .filter(F.col("score") >= RANGE_SEARCH_TAU)
        .orderBy(F.desc("score"), F.asc("vec_id"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011. The third leg of the ANN family:
# LSH buckets (sim_ann_lsh) and IVF lists (sim_ann_ivf) shrink the
# CANDIDATE SET; PQ shrinks the VECTORS — N×M one-byte codes instead of
# N×dim floats, scored against a per-query lookup table (ADC).
# ---------------------------------------------------------------------------

#: PQ geometry: M subspaces of dim/M dims, K codes per subspace. At these
#: settings a 64-dim float vector compresses 32x (8 codes vs 256 bytes).
PQ_M = 8
PQ_K = 32
PQ_ITERS = 2
#: codebooks train on a deterministic 1-in-TRAIN_MOD key sample — standard
#: PQ practice (FAISS trains on ~100k of a billion vectors): quantizer
#: quality needs a distribution sample, not the corpus.
PQ_TRAIN_MOD = 4
#: ADC shortlist size for exact re-ranking: the production pattern keeps
#: the top-R by compressed score and re-scores only those R true vectors.
PQ_RERANK = 50


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_subvectors(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Split (id, e: array<double>) into (id, m, sv): M contiguous
    subvectors per row — one narrow explode, no shuffle.

    Fails loudly on a dimension not divisible by PQ_M — the int-cast slice
    would otherwise silently truncate the tail dims (ADVICE r7).
    """
    emb = emb.filter(
        F.when(F.size("e") % PQ_M == 0, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"pq_subvectors: size(e) not divisible by PQ_M={PQ_M}: "),
                    F.size("e").cast("string"),
                )
            )
        )
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(
                    f"slice(e, cast(size(e) / {PQ_M} as int) * {m} + 1, "
                    f"cast(size(e) / {PQ_M} as int))"
                ).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return emb.select(id_col, F.explode(slices).alias("s")).select(
        id_col, F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): equi-join on the
    subspace id against the broadcast M×K codebook, argmin of squared L2
    with a cent_id tiebreak — deterministic under any partitioning.

    The argmin is ``min_by`` over a (distance, cent_id) ordering struct,
    NOT a rank window: min_by partial-aggregates map-side, so the N·K
    scored rows combine down to one row per (vector, subspace) before any
    exchange — a window would sort and shuffle all N·K. The subvector
    rides along inside the min_by value struct (it is functionally
    dependent on the group key)."""
    id_col = sub.columns[0]
    return (
        sub.join(F.broadcast(cents), "m")
        .withColumn("d", l2_sq(F.col("sv"), F.col("ce")))
        .groupBy(id_col, "m")
        .agg(
            F.min_by(
                F.struct("cent_id", "sv"), F.struct("d", "cent_id")
            ).alias("best")
        )
        .select(
            id_col,
            "m",
            F.col("best.cent_id").alias("cent_id"),
            F.col("best.sv").alias("sv"),
        )
    )


def pq_recompute(assign: DataFrame) -> DataFrame:
    """ONE PQ-Lloyd recompute stage: per-(subspace, code) elementwise mean
    (posexplode → partial-agg shuffle of M·K·subdim rows). Exposed so the
    plan sweep screens the trainer's loop body."""
    return (
        assign.select("m", "cent_id", F.posexplode("sv").alias("pos", "val"))
        .groupBy("m", "cent_id", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("m", "cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("ce")
        )
    )


def _pq_memo_name(kind: str, emb: DataFrame) -> str:
    return (
        f"{kind}:{emb.semanticHash()}:{PQ_M}:{PQ_K}:{PQ_ITERS}:{PQ_TRAIN_MOD}"
    )


def pq_codebooks(emb: DataFrame, sf_dir: str) -> DataFrame:
    """Train all M codebooks in ONE distributed Lloyd loop: the cell key is
    (m, cent_id), so adding subspaces never adds rounds — every iteration
    is one broadcast-join assignment plus one M·K·subdim-row shuffle,
    euclidean and unnormalized (PQ quantizes raw subvectors, not
    directions).

    Codebooks collect to the driver between rounds: M·K·(dim/M) = K·dim
    doubles — bounded by design, exactly MLlib's KMeans contract. Training
    scans only a deterministic 1-in-{PQ_TRAIN_MOD} key sample of the
    corpus (cached across rounds): the quantizer needs a distribution
    sample, not every vector — at 100 TB this is the difference between
    an hours-long trainer and a constant-time one. ``emb`` is a projection
    of ``sf_dir``'s embeddings; the trained codebook frame (a local frame
    of M·K rows) is a session memo keyed by its plan (Lloyd is
    deterministic given the seed centroids and sample), so every caller in
    a session gets the same frame without re-running the loop.
    """
    spark = emb.sparkSession

    def train() -> DataFrame:
        sub = pq_subvectors(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(PQ_TRAIN_MOD)) == 0)
        )
        sub = track(sub)  # re-scored every Lloyd round
        cents = pq_subvectors(emb.filter(F.col("vec_id") < PQ_K)).select(
            "m", F.col("vec_id").alias("cent_id"), F.col("sv").alias("ce")
        )
        # fail loudly on an undersized codebook: seeding needs vec_ids
        # 0..K-1 present, else the quantizer silently trains K' < K
        # codewords
        seed_n = cents.count()
        if seed_n != PQ_M * PQ_K:
            raise ValueError(
                f"pq_codebooks: seed centroids {seed_n} != M*K = "
                f"{PQ_M * PQ_K} (corpus lacks dense vec_ids 0..{PQ_K - 1})"
            )
        for _ in range(PQ_ITERS):
            cents = local_frame(
                spark,
                pq_recompute(pq_assign(sub, cents)).collect(),
                "m int, cent_id long, ce array<double>",
            )
        return cents

    return session_memo(
        spark, _pq_memo_name("pq_codebooks", emb), sf_dir, train
    )


def pq_codes(emb: DataFrame, sf_dir: str) -> DataFrame:
    """Byte-code table ``(vec_id, m, cent_id)`` for the whole corpus,
    tracked-persisted: encoding assigns every subvector its argmin codeword
    (one broadcast join over the corpus — the most expensive non-training
    stage of the PQ path), and BOTH consumers (sim_pq_recall's exhaustive
    ADC and sim_ivfpq_recall's probed ADC) score from the identical code
    table, so one materialization serves the family within a session.
    The projection to the three narrow columns happens BEFORE the
    persist: caching the raw pq_assign output would freeze the carried
    ``sv`` subvector arrays into the cache — the exact float payload PQ
    exists to shed — and the first materialization would pay to store it.

    The tracked frame is a session memo keyed like the codebook's: every
    caller in a session gets the same DataFrame object, so the code table
    is one CacheManager entry, built and materialized once, and a repeat
    call neither re-plans the encode nor re-runs ``track``'s plan compare.
    """
    return session_memo(
        emb.sparkSession,
        _pq_memo_name("pq_codes", emb),
        sf_dir,
        lambda: track(
            pq_assign(pq_subvectors(emb), pq_codebooks(emb, sf_dir)).select(
                "vec_id", "m", "cent_id"
            )
        ),
    )


def _pq_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, m, cent_id, part): each query's ADC lookup table — the
    partial dot of its m-th subvector with every codeword of subspace m,
    M·K rows per query (kilobytes; both ADC callers broadcast it)."""
    emb, _, q = _recall_inputs(spark, sf_dir)
    return (
        pq_subvectors(q.select("q_id", F.col("qe").alias("e")), id_col="q_id")
        .join(F.broadcast(pq_codebooks(emb, sf_dir)), "m")
        .select(
            "q_id", "m", "cent_id",
            dot(F.col("sv"), F.col("ce")).alias("part"),
        )
    )


def _adc_hits(spark: SparkSession, sf_dir: str, part: DataFrame) -> DataFrame:
    """One-row (n_exact, h) frame: ``h`` of the ``n_exact`` exact
    top-RECALL_K pairs survive ADC search over ``part``, one
    (q_id, vec_id, part) LUT entry per candidate and subspace. The
    candidate's ADC score is the rounded sum of its M entries; the top
    PQ_RERANK by that score are re-scored exactly (only R true vectors per
    query are re-read), and the top RECALL_K of those are the answer.

    The recall denominator is the exact set's true size, not
    RECALL_N_QUERIES * RECALL_K: on a corpus with fewer than RECALL_K + 1
    vectors the literal would deflate recall."""
    emb, _, q = _recall_inputs(spark, sf_dir)
    shortlist = _top_ids(
        part.groupBy("q_id", "vec_id").agg(F.round(F.sum("part"), 4).alias("s")),
        PQ_RERANK,
        id_col="vec_id",
    )
    rerank = shortlist.join(emb, "vec_id").join(F.broadcast(q), "q_id")
    approx = _top_ids(_dot_scored(rerank), RECALL_K)
    exact = exact_topk_baseline(spark, sf_dir)
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        _hit_count(approx, exact)
    )


#: recall@RECALL_K floor the exhaustive-ADC + exact-re-rank path must
#: hold — the hash-CHECKED quality claim (measured 0.7267 at sf0.01; a
#: broken codebook, code table, LUT join, or re-rank scores near 0). Same
#: margin class as IVFPQ_RECALL_FLOOR, sitting above it because the
#: exhaustive scan never loses candidates to unprobed lists.
PQ_RECALL_FLOOR = 0.50


def _pq_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_adc_hits` of exhaustive-ADC PQ search: every corpus vector
    but the query is a candidate. Shared by the registered bound query and
    the quality tests (which assert on the raw recall ``h / n_exact``)."""
    emb, _, _ = _recall_inputs(spark, sf_dir)
    part = (
        pq_codes(emb, sf_dir)
        .join(F.broadcast(_pq_lut(spark, sf_dir)), ["m", "cent_id"])
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _adc_hits(spark, sf_dir, part)


@register(
    "sim_pq_recall",
    oracle=f"""
    with {_RECALL_CTE}
    select cast({PQ_M} as int) as m_subspaces,
           cast({PQ_K} as int) as k_codes,
           cast({RECALL_N_QUERIES} as int) as n_queries,
           cast(count(*) as bigint) as n_exact,
           true as recall_floor_met
    from exact
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@RECALL_K of product-quantized ADC search against the exact
    brute-force top-RECALL_K, averaged over RECALL_N_QUERIES query vectors
    — the engine measures its own compression loss as a first-class query
    (the honest-ANN pattern of sim_ann_recall / sim_quantized_recall), in
    sim_ivfpq_recall's hash-checked quality-bound shape: the recall VALUE
    depends on Lloyd-trained codebooks (no DuckDB twin), but ``n_exact``
    is plain SQL and the claim ``recall >= PQ_RECALL_FLOOR`` is
    engine-portable, so the oracle pins ``recall_floor_met = true``. Raw
    recall stays available through ``_pq_hits``; tests/test_ann_quality.py
    asserts the tighter measured floor (0.6 at fixture scale).

    Asymmetric distance computation (ADC): each vector is stored as M
    one-byte codes; each query precomputes a LUT of <q_m, codeword>
    partial dots (M·K entries — kilobytes, broadcast), and a candidate's
    approximate score is the sum of M LUT lookups, expressed as an
    equi-join of the code table against the broadcast LUT plus a
    (q_id, vec_id) partial-sum aggregation. Nothing touches the original
    vectors after encoding — at 100 TB the float embeddings are read ONCE
    to train/encode, and every subsequent query scans only the 64×-smaller
    code table (tracked + session-memoized: pq_codes). The q×N candidate
    fan-out here is the exhaustive-ADC baseline; the production
    composition probes IVF lists first (sim_ivfpq_recall) and ADC-scores
    only those candidates.
    """
    hits = _pq_hits(spark, sf_dir)
    return hits.select(
        F.lit(PQ_M).alias("m_subspaces"),
        F.lit(PQ_K).alias("k_codes"),
        F.lit(RECALL_N_QUERIES).alias("n_queries"),
        F.col("n_exact"),
        (
            F.col("h") / F.col("n_exact") >= F.lit(PQ_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


#: probe depths for the IVF quality/cost sweep.
NPROBE_LEVELS = (1, 2, 4, 8)


@register(
    "sim_ivf_nprobe_sweep",
    oracle=f"""
    with {_RECALL_CTE},{_IVF_CTE},
    levels as (select unnest([{", ".join(str(x) for x in NPROBE_LEVELS)}])
               as nprobe),
    approx_scored as (
      select l.nprobe, p.q_id, a.vec_id as v_id,
             row_number() over (
               partition by l.nprobe, p.q_id
               order by round(list_dot_product(p.qe, v.e), 4) desc, a.vec_id
             ) as rn
      from levels l
      join probe p on p.rn <= l.nprobe
      join assign a using (cent_id)
      join emb v on v.vec_id = a.vec_id
      where a.vec_id <> p.q_id),
    approx as (
      select nprobe, q_id, v_id from approx_scored where rn <= {RECALL_K}),
    hits as (
      select nprobe, count(*) as h
      from approx join exact using (q_id, v_id)
      group by nprobe),
    sizes as (select cent_id, count(*) as sz from assign group by cent_id),
    cands as (
      select l.nprobe, p.q_id, cast(sum(sz) as bigint) as nc
      from levels l
      join probe p on p.rn <= l.nprobe
      join sizes using (cent_id)
      group by l.nprobe, p.q_id),
    cagg as (
      select nprobe, {sql_round_div('sum(nc)', 'count(*)', 2)} as avg_list_candidates
      from cands group by nprobe)
    select cast(c.nprobe as int) as nprobe,
           c.avg_list_candidates,
           {sql_round_div('coalesce(h.h, 0)',
                          f'({RECALL_N_QUERIES} * {RECALL_K})', 4)}
             as recall
    from cagg c left join hits h using (nprobe)
    order by nprobe
    """,
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@RECALL_K AND scan cost of the IVF path at nprobe in
    NPROBE_LEVELS — the quality/cost curve an ANN deployment is tuned
    from (sim_ann_recall measures one operating point; this sweeps the
    knob and prices each point by the average posting-list candidate
    count per query).

    Plan: centroid assignment and the per-query centroid ranking are
    computed ONCE (the same builders as sim_ann_recall); the sweep axis is
    a 4-row exploded level column, so candidate generation fans out by
    sum(nprobe)/n_cents (< 1x corpus here) rather than re-running the scan
    per level. Per-(level, query) candidate ranking is the salted
    two-stage top-k; the cost metric comes from the 16-row list-size
    rollup, never a second corpus scan. The exact arm is the shared
    tracked baseline. All scores round 4 dp with id tiebreaks before
    ranks (§7.3.1).
    """
    emb, _, _ = _recall_inputs(spark, sf_dir)
    levels = F.array(*[F.lit(x) for x in NPROBE_LEVELS])
    probe_lv = (
        _ranked_probe(spark, sf_dir, max(NPROBE_LEVELS))
        .withColumn("nprobe", F.explode(levels))
        .filter(F.col("rn") <= F.col("nprobe"))
    )
    # Each candidate is scored once per level. Scoring once at the deepest
    # level and exploding the level column after the dot (half the dots)
    # measured 1.05x slower in an interleaved A/B: at this fan-out the
    # Generate over scored rows costs what the saved dots gain.
    cand = _probe_candidates(spark, sf_dir, probe_lv).join(emb, "vec_id")
    approx = _top_ids(_dot_scored(cand, "nprobe"), RECALL_K, by=("nprobe", "q_id"))
    hits = _hit_count(approx, exact_topk_baseline(spark, sf_dir), "nprobe")
    sizes = (
        seeded_ivf_assign(spark, sf_dir)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    cagg = (
        probe_lv.join(F.broadcast(sizes), "cent_id")
        .groupBy("nprobe", "q_id")
        .agg(F.sum("sz").cast("bigint").alias("nc"))
        .groupBy("nprobe")
        .agg(
            round_div(F.sum("nc"), F.count(F.lit(1)), 2).alias(
                "avg_list_candidates"
            )
        )
    )
    return (
        cagg.join(hits, "nprobe", "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "avg_list_candidates",
            round_div(
                F.coalesce(F.col("h"), F.lit(0)),
                F.lit(RECALL_N_QUERIES * RECALL_K),
                4,
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


#: recall@RECALL_K floor the composed IVF x PQ x re-rank path must hold —
#: the hash-CHECKED quality claim (measured 0.6533 at sf0.01, 0.5233 at
#: sf0.1; a broken probe, code table, LUT join, or re-rank scores near 0).
#: Margin class of APPROX_DISTINCT_MAX_REL_ERR: wide enough that a
#: regenerated fixture or a larger SF (recall declines with corpus size at
#: fixed nprobe) can't flip a healthy path to a hash mismatch, while a
#: broken stage is off by far more.
IVFPQ_RECALL_FLOOR = 0.40


def _ivfpq_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_adc_hits` of the composed IVF x PQ x re-rank path: the
    candidates are the members of each query's RECALL_NPROBE probed lists.
    Shared by the registered bound query and the quality tests (which
    assert on the raw recall ``h / n_exact``)."""
    emb, _, _ = _recall_inputs(spark, sf_dir)
    probe = _ranked_probe(spark, sf_dir, RECALL_NPROBE)
    part = (
        _probe_candidates(spark, sf_dir, probe)
        .select("q_id", "vec_id")
        .join(pq_codes(emb, sf_dir), "vec_id")
        .join(F.broadcast(_pq_lut(spark, sf_dir)), ["q_id", "m", "cent_id"])
    )
    return _adc_hits(spark, sf_dir, part)


@register(
    "sim_ivfpq_recall",
    oracle=f"""
    with {_RECALL_CTE}
    select cast({RECALL_NPROBE} as int) as nprobe,
           cast({PQ_M} as int) as m_subspaces,
           cast({RECALL_N_QUERIES} as int) as n_queries,
           cast(count(*) as bigint) as n_exact,
           true as recall_floor_met
    from exact
    """,
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@RECALL_K of the COMPOSED production ANN path — IVF probing x
    product-quantized ADC scoring x exact re-rank — against the shared
    brute-force baseline, as a hash-CHECKED quality bound. sim_ann_recall
    audits the IVF stage alone and sim_pq_recall audits exhaustive ADC; a
    deployment runs them together: probe the RECALL_NPROBE nearest
    inverted lists, ADC-score ONLY those candidates from the byte codes,
    exactly re-rank the top-PQ_RERANK. This query measures what that
    composition loses.

    Oracle split, same as agg_approx_error / dedup_minhash_est_error: the
    recall VALUE depends on Lloyd-trained codebooks (no DuckDB twin), but
    the exact-arm size ``n_exact`` is plain SQL and the quality CLAIM
    ``recall >= IVFPQ_RECALL_FLOOR`` is engine-portable — the oracle
    pins ``recall_floor_met = true``, so a broken probe/code/LUT/re-rank
    stage (recall ~ 0) hash-mismatches instead of passing rows-only. The
    raw recall stays available to the quality tests through
    ``_ivfpq_hits``; tests/test_ann_quality.py asserts the tighter
    measured floor (0.55 at fixture scale).

    Scale shape: the candidate set is sum(probed list sizes) ~= corpus *
    nprobe / n_cents per query (never the full corpus); the ADC join fans
    candidates out by M byte-codes and collapses map-side via the
    partial-sum groupBy; candidate membership (tracked
    ``seeded_ivf_assign``), ground truth (tracked ``exact_topk_baseline``)
    and the byte codes (tracked ``pq_codes``) are the session-shared
    builders, and the codebooks train on the 1-in-PQ_TRAIN_MOD sample
    once.
    """
    hits = _ivfpq_hits(spark, sf_dir)
    return hits.select(
        F.lit(RECALL_NPROBE).alias("nprobe"),
        F.lit(PQ_M).alias("m_subspaces"),
        F.lit(RECALL_N_QUERIES).alias("n_queries"),
        F.col("n_exact"),
        (
            F.col("h") / F.col("n_exact") >= F.lit(IVFPQ_RECALL_FLOOR)
        ).alias("recall_floor_met"),
    )


#: embed_cosine_histogram: query-sample size and bin count. 20 bins over
#: [-1, 1] — dot products of the unit-norm fixture vectors are cosines.
COSHIST_QUERIES = 20
COSHIST_BINS = 20


@register(
    "embed_cosine_histogram",
    oracle=f"""
    with q as (select vec_id as qid, embedding::DOUBLE[] as qe
               from embeddings where vec_id < {COSHIST_QUERIES}),
    s as (
      select round(list_dot_product(q.qe, v.embedding::DOUBLE[]), 6) as c
      from q join embeddings v on v.vec_id <> q.qid)
    select cast(least(floor((c + 1.0) * {COSHIST_BINS} / 2.0),
                      {COSHIST_BINS} - 1) as int) as bin,
           cast(count(*) as bigint) as n
    from s group by bin
    """,
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-score distribution: histogram of cosines between a
    {COSHIST_QUERIES}-vector query sample and the whole corpus — the
    embedding-geometry health check (a collapsed embedding space piles
    into the top bins; a healthy one is concentrated near 0 with a thin
    high-similarity tail) that decides whether ANN bucketing parameters
    are even meaningful for this corpus.

    The query sample broadcasts as a constant-size grid (the
    knn_label_vote pattern — whitelisted bounded-grid BNLJ), each corpus
    vector scores against all {COSHIST_QUERIES} queries map-side, and the
    only shuffle is the {COSHIST_BINS}-row histogram rollup. Scores round
    to 6 dp BEFORE binning so edge cosines bin identically on both
    engines.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id") < COSHIST_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    c = F.round(dot(F.col("qe"), F.col("e")), 6)
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.least(
                F.floor((c + 1.0) * COSHIST_BINS / 2.0),
                F.lit(COSHIST_BINS - 1),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
