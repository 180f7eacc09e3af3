"""Deduplication operators for LLM data pipelines (SURVEY.md §2.8).

Driver-mandated extensions: exact dedup, MinHash+LSH near-dup, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale notes (100 TB):
- ``dedup_exact`` groups on the TEXT HASH shape (here the text itself at
  small SF; ``text_fingerprint`` provides the md5 key for corpus scale) —
  one shuffle keyed by content, survivor chosen deterministically (min
  doc_id) instead of Spark's nondeterministic dropDuplicates.
- ``dedup_near_minhash`` is the real scale path: shingle → k-permutation
  MinHash signature (map-side, higher-order functions only) → banded LSH →
  candidate pairs via EQUI-join on (band, band-hash) → exact-Jaccard verify
  of candidates only. Shuffle volume is O(docs × bands), never O(docs²).
- ``dedup_ngram_jaccard`` is the exact-verification primitive expressed as
  an inverted-index self-join (pairs share a shingle → co-grouped) — the
  posting-list join bounds pair generation to docs that actually share
  content; a hot-shingle cap would be the skew guard at corpus scale.
- ``dedup_simhash`` packs a 16-bit simhash from xxhash64 token hashes —
  deterministic across engines/runs; Hamming-ball pairing at scale uses the
  standard bit-block LSH (4 blocks of 4 bits → candidates share a block).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import (
    fixpoint,
    local_frame,
    local_rows,
    loop_parts,
    session_memo,
    spread,
    task_slots,
    track,
)
from ..exactmath import round_div_long, sql_round_div
from ..registry import register
from ..sources.io import load

#: number of MinHash permutations. Each permutation j is the seeded hash
#: h_j(x) = xxhash64(j, x) — k INDEPENDENT hash functions, not an affine
#: family (a_j*x + b_j) mod P. The affine family with small multipliers has
#: correlated minima: an element whose reduced value x is tiny (x ≲ 10^4,
#: probability ~n_shingles/2^31 per doc) is the argmin under EVERY
#: permutation simultaneously, collapsing the whole signature onto one
#: shingle — at corpus scale that is a measurable recall hole for near-dups
#: that differ in exactly that shingle. Found empirically by
#: dedup_minhash_est_error: a 0.947-Jaccard fixture pair estimated at 0.2
#: under the affine family; seeded xxhash64 restores the e[est] = jacc
#: guarantee (verified by that query's oracle-pinned tolerance check).
MINHASH_N_PERMS = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows


def shingle_expr(n: int, tokens_col: str = "toks") -> Column:
    """Word n-gram shingles from a PRE-SPLIT token-array column (JVM-side).

    Callers must ``withColumn(tokens_col, F.split("text", " "))`` first so
    tokenization happens once per row, not once per shingle.
    """
    joined = ", ".join(f"element_at({tokens_col}, i + {k})" for k in range(n))
    return F.expr(
        f"""
        case when size({tokens_col}) >= {n}
             then transform(sequence(1, size({tokens_col}) - {n - 1}),
                            i -> concat_ws(' ', {joined}))
             else array()
        end
        """
    )


@register(
    "dedup_exact",
    oracle="""
    select lang, count(*) as n_docs
    from (
      select lang from (
        select lang, row_number() over (partition by text order by doc_id) as rn
        from documents)
      where rn = 1)
    group by lang
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on text, deterministic survivor (min doc_id), per-lang counts.

    sf0.01 has zero exact duplicates (FIXTURES.md) — survivors == all docs;
    the operator is still exercised end-to-end.
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    survivors = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


#: Skew guard: shingles appearing in more than this many documents are
#: treated as stop-shingles and removed from the sets entirely (numerator
#: AND denominator) before the posting-list self-join. Without it, one
#: stop-word-like trigram at corpus scale makes a posting list quadratic.
#: 1000 ≫ any document frequency at the driver's sf0.01 (500 docs), so
#: test-scale output is byte-identical with or without the guard.
JACCARD_HOT_SHINGLE_DF_CAP = 1000

def _jaccard_pairs_cte(
    src: str = "documents", df_cap: int | None = None
) -> str:
    """DuckDB CTE prefix shared by the ngram-jaccard oracles: exact trigram
    Jaccard over every pair sharing a shingle (string shingles — the Spark
    side hashes them, which is value-identical for counting purposes).
    Mirrors the Spark side's hot-shingle stop-list so parity holds at any
    SF. ``src`` is the relation (table or earlier CTE with doc_id + text)
    to shingle — the funnel pipeline runs it over its quality-filtered,
    exact-deduped survivor set instead of raw ``documents``. ``df_cap``
    overrides the stop-list document-frequency cap (the estimator-quality
    oracle passes a huge cap = no stop-list, matching its uncapped Spark
    side)."""
    cap = JACCARD_HOT_SHINGLE_DF_CAP if df_cap is None else df_cap
    return f"""
    sh0 as (
      select distinct doc_id, shingle from (
        select doc_id,
               unnest(list_transform(
                 list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
                 x -> x[1] || ' ' || x[2] || ' ' || x[3])) as shingle
        from (select doc_id, string_split(text, ' ') as t from {src})
        where len(t) >= 3)),
    hot as (
      select shingle from sh0 group by shingle
      having count(*) > {cap}),
    sh as (
      select * from sh0 where shingle not in (select shingle from hot)),
    szs as (select doc_id, count(*) as n from sh group by doc_id),
    inter as (
      select a.doc_id as a_id, b.doc_id as b_id, count(*) as i
      from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
      group by all),
    jpairs as (
      select a_id, b_id, i, sa.n as na, sb.n as nb,
             {sql_round_div('i', '(sa.n + sb.n - i)', 4)} as jacc
      from inter
      join szs sa on sa.doc_id = a_id
      join szs sb on sb.doc_id = b_id)
"""


_JACCARD_PAIRS_CTE = _jaccard_pairs_cte()

#: DuckDB CTE suffix turning ``jpairs`` into per-node component labels via a
#: recursive reachability closure — shared by every oracle that needs
#: connected components over the Jaccard >= CLUSTER_THRESHOLD graph.
#: Requires a WITH RECURSIVE context. Exposes ``nodes`` (ids in any edge)
#: and ``labels`` (id -> min reachable id == component label).
def _cc_labels_cte(threshold: float) -> str:
    return f"""
    duped as (select a_id, b_id from jpairs where jacc >= {threshold}),
    edges as (
      select a_id as src, b_id as dst from duped
      union all
      select b_id as src, a_id as dst from duped),
    nodes as (select distinct src as id from edges),
    reach as (
      select id as src, id as dst from nodes
      union
      select r.src, e.dst from reach r join edges e on r.dst = e.src),
    labels as (select src as id, min(dst) as label from reach group by src)
"""


def jaccard_pairs(
    docs: DataFrame, df_cap: int = JACCARD_HOT_SHINGLE_DF_CAP
) -> DataFrame:
    """(a_id, b_id, jacc): exact word-trigram Jaccard for every document
    pair sharing at least one shingle (inverted-index self-join).

    Shingles are hashed to 64-bit before the self-join: the posting-list
    shuffle and join keys are longs, not trigram strings (counts are
    collision-exact for any realistic corpus; the DuckDB oracles keep
    strings).

    Skew guard: shingles with document frequency > ``df_cap`` are dropped
    from the sets before the self-join (stop-shingle removal, mirrored in
    the oracle CTE). The posting-list join is then bounded at O(df_cap²)
    pairs per shingle instead of quadratic in the hottest posting list —
    the difference between a skewed straggler and a balanced shuffle at
    corpus scale. The hot set is tiny by construction, so it broadcasts.
    """

    # persisted: this subtree is read 4x inside one jaccard_pairs plan (the
    # hot-shingle groupBy, BOTH sides of the self-join, the per-doc sizes)
    # and the identical logical plan recurs across dedup_ngram_jaccard and
    # dedup_cluster, so Spark's CacheManager serves all of them from one
    # materialization. MEMORY_AND_DISK: postings ≈ total distinct shingles
    # × 16 B — at corpus scale this spills rather than OOMs, exactly the
    # intermediate a cluster pipeline would stage anyway. Tracked in the
    # cache registry so cache.clear_tracked_caches() releases it between
    # phases of a long session (bench does this between reps).
    sh = track(
        spread(docs)
        .withColumn("toks", F.split("text", " "))
        .select("doc_id", F.explode(shingle_expr(3)).alias("sh_str"))
        .select("doc_id", F.xxhash64("sh_str").alias("shingle"))
        .distinct()
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    # the returned pair table is persisted too: it is the staged
    # candidate-pair artifact every downstream dedup step consumes
    # (top-k report, threshold filter, clustering, containment), and the
    # identical logical plan recurs across dedup_ngram_jaccard /
    # dedup_cluster / dedup_ngram_containment — one materialization serves
    # all of them, which is why it carries the raw (i, na, nb) alongside
    # jacc. Bounded by the inverted-index join (pairs sharing ≥1 surviving
    # shingle), not O(n²). Tracked for bulk release (cache registry).
    return track(
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "i",
            "na",
            "nb",
            # all-integer half-up (exactmath): i/union is a rational of
            # arbitrary denominator, so a double round CAN land on an
            # engine-divergent tie (VERDICT r15 #3 class)
            round_div_long(
                F.col("i"), F.col("na") + F.col("nb") - F.col("i"), 4
            ).alias("jacc"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    with {_JACCARD_PAIRS_CTE}
    select a_id, b_id, jacc
    from jpairs
    order by jacc desc, a_id, b_id
    limit 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs by word-trigram Jaccard.

    Pair generation via inverted-index self-join (only docs sharing a
    shingle meet), then |A∩B| / (|A|+|B|-|A∩B|) exactly.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        jaccard_pairs(docs)
        .select("a_id", "b_id", "jacc")
        .orderBy(F.desc("jacc"), F.asc("a_id"), F.asc("b_id"))
        .limit(20)
    )


CLUSTER_THRESHOLD = 0.5

#: Safety cap on label-propagation rounds. With path compression each round
#: roughly doubles the compressed-chain length, so 50 rounds covers any
#: component a physical corpus can produce (diameter ~2^50); hitting the cap
#: means runaway lineage, not slow convergence — fail loudly instead.
CC_MAX_ROUNDS = 50


def _min_labels(edges: "list[tuple]") -> dict:
    """Min-id component label per node of an edge list: union-find whose
    union hangs the larger root under the smaller, so every root is its
    component's min id."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(
    edges_directed: DataFrame, max_rounds: int = CC_MAX_ROUNDS
) -> DataFrame:
    """(id, label) with label = min node id of each connected component.

    Iterative min-label propagation with POINTER JUMPING: each round every
    node takes the min label over its neighborhood (one edges⋈labels join),
    then labels are path-compressed by one self-join (label ← label's
    label). Compression halves chain depth per round, so convergence is
    O(log diameter) rounds — a 100-node chain needs ~8 rounds, not 100 —
    the same doubling trick as large-star/small-star (Kiveris et al., SoCC
    2014) without its edge rewrites.

    ``edges_directed`` must contain both (src, dst) and (dst, src) for each
    undirected edge; it is persisted for the loop (every round joins it)
    and unpersisted before return. The rounds run on ``cache.fixpoint`` at
    ``cache.loop_parts`` width with Σ label as the measure: min-propagation
    only ever decreases labels, so the sum is strictly monotone until the
    fixpoint. The returned labels are a live checkpoint.

    An edge list that passes ``cache.local_rows`` is labeled in driver
    memory instead (:func:`_min_labels`, the same min-id labels), and the
    labels come back as a ``cache.local_frame`` with the distributed
    path's columns and types.
    """
    spark = edges_directed.sparkSession
    edges_directed = edges_directed.persist()
    try:
        n_edges = edges_directed.count()
        rows = local_rows(edges_directed, n_edges)
        if rows is not None:
            schema = edges_directed.selectExpr("src id", "dst label").schema
            return local_frame(spark, _min_labels(rows).items(), schema)
        parts = loop_parts(spark, n_edges)
        edges = edges_directed.repartition(parts, "src")
        nodes = (
            edges_directed.select(F.col("src").alias("id"))
            .repartition(parts, "id")
            .distinct()
        )

        def step(labels: DataFrame) -> DataFrame:
            msgs = (
                edges.join(labels, edges.src == labels.id)
                .select(F.col("dst").alias("id"), "label")
            )
            propagated = (
                msgs.unionAll(labels)
                .repartition(parts, "id")
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
            # pointer jumping: replace each label by ITS label (labels are
            # node ids, so every label has a row)
            parent = propagated.select(
                F.col("id").alias("p_id"), F.col("label").alias("p_label")
            )
            return (
                propagated.repartition(parts, "label")
                .join(parent, propagated.label == parent.p_id, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("p_label"), F.col("label")),
                    ).alias("label"),
                )
                .repartition(parts, "id")
            )

        label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        labels, _, _ = fixpoint(
            nodes.withColumn("label", F.col("id")),
            step,
            lambda df: df.agg(label_sum).collect()[0]["s"],
            max_rounds,
            "connected_components",
        )
    finally:
        edges_directed.unpersist()
    return labels


def _pair_graph_labels(pairs: DataFrame) -> DataFrame:
    """(id, label) components of the undirected graph whose edges are the
    ``pairs`` rows with jacc >= CLUSTER_THRESHOLD."""
    pairs = pairs.filter(F.col("jacc") >= CLUSTER_THRESHOLD)
    return connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
    )


def corpus_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) components of the trigram-Jaccard >= CLUSTER_THRESHOLD
    graph over ``documents``.

    A session memo: the CC output plan reads run-specific checkpoint RDDs,
    so the CacheManager can never match two runs the way it matches the
    persisted pair table. dedup_cluster and dedup_survivors share one
    label set, one row per node of a near-dup pair (smaller than the
    cached pair table); when the distributed loop built it, its checkpoint
    blocks stay pinned until ``clear_tracked_caches``."""
    return session_memo(
        spark,
        f"corpus_cc_labels:{CLUSTER_THRESHOLD}",
        sf_dir,
        lambda: _pair_graph_labels(
            jaccard_pairs(load(spark, sf_dir, "documents"))
        ),
    )


@register(
    "dedup_cluster",
    oracle=f"""
    with recursive {_JACCARD_PAIRS_CTE},
    {_cc_labels_cte(CLUSTER_THRESHOLD)},
    csizes as (select label, count(*) as cluster_size from labels group by label),
    hist as (
      select cluster_size, cast(count(*) as bigint) as n_clusters
      from csizes group by cluster_size
      union all
      select 1 as cluster_size,
             (select count(*) from documents) - (select count(*) from nodes)
               as n_clusters)
    select cluster_size, cast(sum(n_clusters) as bigint) as n_clusters
    from hist group by cluster_size
    order by cluster_size
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the Jaccard ≥ 0.5
    graph, as a cluster-size histogram (cluster_size, n_clusters) including
    singletons.

    The dedup step a real corpus pipeline needs after pairwise detection —
    near-dup is transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}),
    so survivors are one doc per component, not one per pair.

    Algorithm: :func:`connected_components` — min-label propagation with
    pointer jumping (O(log diameter) rounds, capped at CC_MAX_ROUNDS), the
    canonical iterative MapReduce/Pregel computation (≙ chained MR jobs to
    fixpoint; GraphX / large-star+small-star at cluster scale).
    """
    docs = load(spark, sf_dir, "documents")
    labels = corpus_cc_labels(spark, sf_dir)
    csizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = csizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    singletons = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(labels.agg(F.count(F.lit(1)).alias("n_nodes")))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_docs") - F.col("n_nodes")).alias("n_clusters"),
        )
    )
    return (
        hist.unionAll(singletons)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )


@register(
    "dedup_embed_cosine",
    oracle="""
    select a.vec_id as a_id, b.vec_id as b_id,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
             as score
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
          >= 0.35
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score ≥ 0.35).

    Exact all-pairs at test SF (guarded upstream by vectors.ALL_PAIRS_LIMIT
    semantics); at 100 TB candidates come from sign-projection LSH buckets
    (vectors.sim_ann_lsh) with this same verify step.
    """
    from ..functions.vectors import blocked_pair_scores

    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return blocked_pair_scores(emb_d).filter(F.col("score") >= 0.35)


def corpus_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs) for the WHOLE corpus, tracked-persisted — ONE
    materialization of the shingle+hash pipeline per session serves every
    batch MinHash consumer: dedup_near_minhash's banding and both its
    verify joins, and dedup_minhash_est_error's 64-perm signature build
    (r16 optimization round, VERDICT r15 #2's suggestion — previously the
    estimator re-ran spread+shingle_hashes on its own semi-joined subset,
    a plan CacheManager could never match against this one).

    Shingles are HASHED immediately (xxhash64) and the strings discarded:
    signatures, band keys, and the Jaccard verify all work on the 64-bit
    hashes, so the cached footprint and every downstream shuffle carry
    long arrays, never shingle text.
    NOTE the filter inside shingle_hashes is on the CHEAP token count, not
    on size(hs): a filter on hs would be pushed below the repartition
    exchange and re-run the whole shingle+hash pipeline serially on the
    pre-shuffle partition.
    Lifecycle: the cache must outlive the builders (callers materialize
    the returned lazy plans), so it cannot be unpersisted here; it is
    tracked in the cache registry for bulk release between session phases.
    """

    return track(
        spread(load(spark, sf_dir, "documents")).transform(shingle_hashes)
    )


def shingle_hashes(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, hs): distinct xxhash64'd word-trigram shingles per doc.

    Map-side only (split → shingle → hash inside one projection); shared by
    the batch MinHash pipeline and the streaming incremental dedup.
    ``carry`` names extra input columns to keep (the TTL'd streaming dedup
    carries the event-time epoch).
    """
    return (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            *carry,
            F.array_distinct(
                F.transform(shingle_expr(3), lambda s: F.xxhash64(s))
            ).alias("hs"),
        )
    )


def banded_keys(hashed: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band keys from shingle-hash arrays.

    Pure projections — safe on batch and streaming DataFrames alike.
    ``carry`` names extra input columns to keep alongside the keys (the
    streaming verify stage carries ``hs`` so state can hold shingle sets).
    Permutation j is the seeded hash xxhash64(j, shingle_hash) — see the
    MINHASH_N_PERMS note for why an affine family is NOT used here.
    """
    # NB: the seed must be bound via a factory, NOT `lambda h, j=j: ...` —
    # a second parameter (even a defaulted one) makes PySpark treat the
    # lambda as transform's (element, index) form and silently replaces
    # the captured seed with the element-index column, collapsing every
    # permutation onto one hash family.
    def _perm(seed: int):
        return lambda h: F.xxhash64(F.lit(seed), h)

    sig_cols = [
        F.array_min(F.transform("hs", _perm(j))).alias(f"sig{j}")
        for j in range(MINHASH_N_PERMS)
    ]
    sigs = hashed.select("doc_id", *carry, *sig_cols)
    rows_per_band = MINHASH_N_PERMS // MINHASH_BANDS
    band_entries = [
        F.struct(
            F.lit(k).alias("band_id"),
            F.hash(
                *[F.col(f"sig{k * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_key"),
        )
        for k in range(MINHASH_BANDS)
    ]
    return sigs.select(
        "doc_id", *carry, F.explode(F.array(*band_entries)).alias("band")
    ).select("doc_id", *carry, "band.band_id", "band.band_key")


@register("dedup_near_minhash")  # rows-only: hash-permutation-dependent
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH near-duplicate detection — the 100 TB dedup path.

    Pipeline (all higher-order functions, map-side until the band join):
      1. word-trigram shingles per doc;
      2. 16-permutation MinHash signature: sig_j = min over shingles of
         xxhash64(j, xxhash64(shingle)) — independent seeded hashes (see
         the MINHASH_N_PERMS note);
      3. 4 bands × 4 rows: band key = hash of the band's signature slice;
      4. candidate pairs = equi-join on (band_id, band_key)  — O(docs×bands)
         shuffle, never O(docs²);
      5. exact trigram-Jaccard verify of candidates, threshold 0.5.

    Output: one summary row (n_docs, n_candidate_pairs, n_duplicate_pairs) —
    deterministic for a fixed corpus. Declared rows-only: DuckDB cannot
    reproduce Spark's xxhash64 (SURVEY.md §7.3.7).
    """
    docs = load(spark, sf_dir, "documents")
    hashed = corpus_shingle_hashes(spark, sf_dir)
    # the band join carries ONLY (band, key, id) — shingle arrays rejoin
    # after candidate dedup, so the shuffle stays O(docs x bands) ids.
    banded = banded_keys(hashed)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .distinct()
    )
    sa = hashed.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("sa"))
    sb = hashed.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("sb"))
    jacc = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    verified = candidates.join(sa, "a_id").join(sb, "b_id").withColumn("jacc", jacc)
    summary = verified.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.coalesce(
            F.sum((F.col("jacc") >= 0.5).cast("bigint")), F.lit(0)
        ).alias("n_duplicate_pairs"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(summary)


#: estimator-quality query parameters: a WIDER signature than the LSH
#: pipeline's 16 perms (64 perms → estimator std ≤ 1/(2·√64) ≈ 0.0625 at
#: the worst-case Jaccard), checked against exact Jaccard on pairs at or
#: above MINHASH_EST_MIN_JACC with a 4-sigma tolerance. Seeds are offset
#: by 1000 so the estimator's hash family is independent of the LSH
#: pipeline's seeds 0..15.
MINHASH_EST_N_PERMS = 64
MINHASH_EST_SEED_BASE = 1000
MINHASH_EST_MIN_JACC = 0.3
MINHASH_EST_TOL = 0.25


def minhash_signature(
    hashed: DataFrame, n_perms: int, seed_base: int = 0
) -> DataFrame:
    """(doc_id, sig array<long>): the full MinHash signature as one array —
    one ``array_min`` per seeded-xxhash64 permutation over the shingle-hash
    column (independent hash functions; see the MINHASH_N_PERMS note), all
    JVM-side. ``banded_keys`` keeps its own per-band slices; this builder
    serves consumers that need component-wise signature agreement (the
    estimator-quality query)."""
    # seed bound via factory — see the banded_keys note on why a defaulted
    # second lambda parameter silently becomes transform's index column
    def _perm(seed: int):
        return lambda h: F.xxhash64(F.lit(seed), h)

    sig = F.array(
        *[F.array_min(F.transform("hs", _perm(seed_base + j))) for j in range(n_perms)]
    ).alias("sig")
    return hashed.select("doc_id", sig)


@register(
    "dedup_minhash_est_error",
    oracle=f"""
    with {_jaccard_pairs_cte(df_cap=2**31)}
    select a_id, b_id, jacc, true as within_bound
    from jpairs
    where jacc >= {MINHASH_EST_MIN_JACC}
    order by a_id, b_id
    """,
)
def dedup_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash estimator quality: for every pair with exact
    trigram Jaccard >= {MINHASH_EST_MIN_JACC}, the 64-permutation
    signature-agreement estimate must land within MINHASH_EST_TOL (4
    sigma) of the exact value — and that claim is hash-CHECKED: the
    oracle pins ``within_bound = true`` per pair, so a broken permutation
    family or signature builder mismatches. The sketch values themselves
    are xxhash64-dependent (dedup_near_minhash is rows-only for that
    reason); this is the same promoted-quality pattern as
    agg_approx_error and sim_ann_recall, completing the trio for the
    engine's third sketch family.

    Scale shape: the exact-pair table is the inverted-index equi-join
    (jaccard_pairs, uncapped here so both engines measure the SAME sets
    the signatures sketch); signatures are computed only for documents
    that appear in a surviving pair (semi-join first), and the agreement
    count is one zip_with/filter per pair — JVM higher-order, no Python.
    At 100 TB this runs on a sampled pair set; the fixture corpus IS the
    sample here.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        jaccard_pairs(docs, df_cap=2**31)
        .filter(F.col("jacc") >= MINHASH_EST_MIN_JACC)
        .select("a_id", "b_id", "jacc")
    )
    ids = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionAll(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # r16 optimization round: signatures build on the session-shared
    # corpus_shingle_hashes cache (semi-joined down to paired docs — the
    # per-row hs arrays are identical whether the semi-join runs before or
    # after the per-doc shingle projection), and the (doc_id, 64-long)
    # signature frame is itself tracked: the 64 seeded array_min
    # permutations are the query's dominant per-row CPU, and the frame is
    # two orders of magnitude narrower than the text it sketches.
    # Standalone-run cost (ADVICE r16): the shared cache shingles the
    # WHOLE corpus even when this estimator runs alone — a win whenever
    # the LSH pipeline shares the session (the bench/driver workload,
    # where the cache is built exactly once), a deliberate overshoot when
    # it does not; a 100 TB deployment running ONLY the estimator would
    # shingle the sampled pair set directly (the pre-r16 shape).
    hashed = corpus_shingle_hashes(spark, sf_dir).join(
        ids, "doc_id", "left_semi"
    )
    sigs = track(
        minhash_signature(
            hashed, MINHASH_EST_N_PERMS, seed_base=MINHASH_EST_SEED_BASE
        )
    )
    sa = sigs.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b"))
    m = MINHASH_EST_N_PERMS
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        )
        / F.lit(m)
    )
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "jacc",
            (F.abs(est - F.col("jacc")) <= F.lit(MINHASH_EST_TOL)).alias(
                "within_bound"
            ),
        )
        .orderBy("a_id", "b_id")
    )


SIMHASH_BITS = 16
SIMHASH_BLOCKS = 4  # 4 blocks x 4 bits; Hamming <= 3 => >= 1 block equal
SIMHASH_MAX_DIST = 3


def _simhash_pack_sql(bits: int) -> str:
    """SQL expression packing a ``bits``-wide SimHash from xxhash64 token
    hashes — per-token hash → per-bit ±1 sums → packed code, one nested
    higher-order expression evaluated map-side inside whole-stage codegen.
    No token explode, no per-doc shuffle. ≤ 31 bits stays int arithmetic;
    wider codes switch the mask/shift literals to bigint (64 uses the full
    xxhash64 value — no mask needed)."""
    if bits <= 31:
        tok = f"cast(xxhash64(w) & {(1 << bits) - 1} as int)"
        one, zero = "1", "0"
    else:
        tok = (
            "xxhash64(w)"
            if bits == 64
            else f"xxhash64(w) & {(1 << bits) - 1}"
        )
        one, zero = "cast(1 as bigint)", "cast(0 as bigint)"
    return f"""
    aggregate(
      zip_with(
        aggregate(
          transform(filter(split(text, ' '), w -> w != ''),
                    w -> {tok}),
          array_repeat(0, {bits}),
          (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                               (a, bit) -> a + case when shiftright(h, bit) & 1 = 1
                                                    then 1 else -1 end)),
        sequence(0, {bits - 1}),
        (s, bit) -> case when s > 0 then shiftleft({one}, bit) else {zero} end),
      {zero}, (acc, v) -> acc + v)
    """


def _simhash_block_entries(bits: int, n_blocks: int) -> list:
    """Per-block (block_id, block_val) struct columns over a ``simhash``
    column — ONE definition of the bit-block extraction shared by the
    production LSH (:func:`simhash_close_pairs`) and its quality audit
    (:func:`simhash_block_quality`), so a future change to the blocking
    scheme cannot leave the audit silently checking the old one."""
    bpb = bits // n_blocks
    return [
        F.struct(
            F.lit(k).alias("block_id"),
            F.shiftright(F.col("simhash"), k * bpb)
            .bitwiseAND(F.lit((1 << bpb) - 1))
            .alias("block_val"),
        )
        for k in range(n_blocks)
    ]


def _simhash_first_zero_block(xor, bits: int, n_blocks: int):
    """Index of the FIRST block where two codes agree (given their xor) —
    the map-side count-each-pair-once filter, shared by production and
    audit (see :func:`_simhash_block_entries`)."""
    bpb = bits // n_blocks
    return F.coalesce(
        *[
            F.when(
                F.shiftright(xor, k * bpb).bitwiseAND(
                    F.lit((1 << bpb) - 1)
                )
                == 0,
                F.lit(k),
            )
            for k in range(n_blocks)
        ]
    )


def simhash_close_pairs(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    n_blocks: int = SIMHASH_BLOCKS,
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """One-row (n_docs, n_close_pairs) SimHash near-dup summary via
    bit-block LSH — no all-pairs join, any code width.

    Scale plan (exact, never O(docs²)):
      1. collapse docs → distinct (simhash, count) — for narrow codes the
         value space is bounded (2^16 at 16 bits) so this map-side-combining
         agg shrinks any corpus to a tiny table; at 64 bits it still dedups
         identical codes and bounds the join input at n_distinct_codes;
      2. within-value pairs = Σ C(c, 2)  (Hamming 0);
      3. cross-value candidates by bit-block LSH: ``n_blocks`` equal bit
         blocks — by pigeonhole, d ≤ n_blocks - 1 bit flips cannot touch
         every block, so every qualifying pair shares ≥ 1 exact block key.
         Equi-join on (block_id, block_value), count each pair only at its
         FIRST agreeing block (a map-side xor filter — no distinct()
         shuffle over candidates), verify bit_count(u^v) ≤ max_dist,
         weight by c_u·c_v.

    ``n_blocks`` must exceed ``max_dist`` for the pigeonhole to hold.
    """
    comp = simhash_components(docs, bits, n_blocks, max_dist)
    return comp.select(
        "n_docs",
        (F.col("within_pairs") + F.col("cross_pairs")).alias("n_close_pairs"),
    )


#: predicate marking docs that produce a SimHash code (at least one nonempty
#: token). The DuckDB twin is ``trim(text) != ''``: a token is nonempty iff
#: it contains a non-space character, so "some nonempty token" ⟺ "some
#: non-space character" — the equivalence the r13 coverage oracles rely on.
_NONEMPTY_TOKENS = "size(filter(split(text, ' '), w -> w != '')) > 0"


def _simhash_vals(docs: DataFrame, bits: int) -> DataFrame:
    """Collapsed (simhash, count) table over docs with ≥1 nonempty token.

    tracked persist: the table is tiny (≤ distinct codes) but its lineage —
    the per-token signature expression over every doc — is the expensive
    part, and callers read it several times (within-value agg + both sides
    of the block self-join). Caching makes the corpus scan happen once.
    """

    return track(
        spread(docs)
        .filter(F.expr(_NONEMPTY_TOKENS))
        .select(F.expr(_simhash_pack_sql(bits)).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def simhash_components(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    n_blocks: int = SIMHASH_BLOCKS,
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """One-row decomposition of the bit-block LSH near-dup summary:
    (n_docs, n_nonempty, n_codes, min_code, max_code, within_pairs,
    cross_pairs) — the sufficient statistics behind both the raw
    close-pair summary (:func:`simhash_close_pairs`) and the r13
    coverage-bound queries (``dedup_simhash``/``dedup_simhash64``)."""
    if n_blocks <= max_dist:
        raise ValueError(
            f"pigeonhole needs n_blocks > max_dist, got {n_blocks} <= {max_dist}"
        )
    if bits % n_blocks:
        raise ValueError(f"{bits} bits not divisible into {n_blocks} blocks")
    vals = _simhash_vals(docs, bits)

    code_stats = vals.agg(
        F.count(F.lit(1)).alias("n_codes"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_nonempty"),
        F.min("simhash").alias("min_code"),
        F.max("simhash").alias("max_code"),
        F.coalesce(
            F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("bigint")), F.lit(0)
        ).alias("within_pairs"),
    )

    blocked = vals.select(
        "simhash", "c",
        F.explode(F.array(*_simhash_block_entries(bits, n_blocks))).alias(
            "b"
        ),
    ).select("simhash", "c", "b.block_id", "b.block_val")
    a = blocked.alias("a")
    b = blocked.alias("b")
    # a value pair within distance ≤ max_dist can agree on several blocks;
    # instead of a distinct() (a shuffle over every candidate pair) each
    # pair is counted only at its FIRST agreeing block — a map-side filter
    # on the xor of the two codes, so the join output never re-shuffles.
    xor = F.col("u").bitwiseXOR(F.col("v"))
    first_zero_block = _simhash_first_zero_block(xor, bits, n_blocks)
    cross = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("u"),
            F.col("b.simhash").alias("v"),
            F.col("a.block_id").alias("block_id"),
            F.col("a.c").alias("cu"),
            F.col("b.c").alias("cv"),
        )
        .filter(first_zero_block == F.col("block_id"))
        .filter(F.bit_count(xor.cast("bigint")) <= max_dist)
        .agg(
            F.coalesce(F.sum(F.col("cu") * F.col("cv")), F.lit(0)).alias(
                "cross_pairs"
            )
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(code_stats).crossJoin(cross)


#: deterministic cap on the code sample the block-LSH quality audit brute
#: forces — at fixture scale the distinct-code table is smaller than this,
#: so the audit is exhaustive; at 100 TB it bounds the quadratic ground
#: truth at a constant (the fixture corpus IS the sample, like
#: dedup_minhash_est_error).
SIMHASH_QUALITY_AUDIT_CAP = 4096

#: measured raw-candidate precision floors per code width (sf0.01 / sf0.1
#: measured: 16-bit 0.4021/0.4318, 64-bit 0.0056/0.0024 — the 64-bit floor
#: is small because near-orthogonal codes make random 16-bit-block
#: collisions dominate the candidate set; the Hamming verify filters them).
SIMHASH_PRECISION_FLOOR = {16: 0.25, 64: 0.0008}


def simhash_block_quality(
    docs: DataFrame,
    bits: int,
    n_blocks: int = SIMHASH_BLOCKS,
    max_dist: int = SIMHASH_MAX_DIST,
    cap: int = SIMHASH_QUALITY_AUDIT_CAP,
) -> DataFrame:
    """One row (bits, exact_pairs, cand_pairs, ver_pairs): the bit-block
    LSH audited over a deterministic ≤``cap``-code sample — the
    independent ground-truth stage behind ``dedup_simhash_block_quality``.

    The brute force is an all-pairs Hamming check over the COLLAPSED
    distinct-code table (never documents), capped at ``cap`` codes taken
    in code order — a bounded broadcast side by construction, so the
    nested-loop join does constant work per probe at any corpus size. The
    candidate/verified counts replay the production plan
    (:func:`simhash_close_pairs`'s block join + first-agreeing-block
    dedup + xor verify) over the same sample, folded into ONE conditional
    aggregate so the whole audit is a single-action frame (the registered
    query unions both widths and collects once).
    """

    vals = track(
        spread(docs)
        .filter(F.expr("size(filter(split(text, ' '), w -> w != '')) > 0"))
        .select(F.expr(_simhash_pack_sql(bits)).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("simhash")
        .limit(cap)
    )
    a, b = vals.alias("a"), vals.alias("b")
    xor_ab = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    exact = (
        a.join(b, F.col("a.simhash") < F.col("b.simhash"))
        .filter(F.bit_count(xor_ab.cast("bigint")) <= max_dist)
        .agg(
            F.coalesce(
                F.sum(F.col("a.c") * F.col("b.c")), F.lit(0)
            ).alias("exact_pairs")
        )
    )
    blocked = vals.select(
        "simhash", "c",
        F.explode(F.array(*_simhash_block_entries(bits, n_blocks))).alias(
            "bk"
        ),
    ).select("simhash", "c", "bk.block_id", "bk.block_val")
    aa, bb = blocked.alias("a"), blocked.alias("b")
    xor_uv = F.col("u").bitwiseXOR(F.col("v"))
    first_zero = _simhash_first_zero_block(xor_uv, bits, n_blocks)
    is_close = F.bit_count(xor_uv.cast("bigint")) <= max_dist
    candver = (
        aa.join(
            bb,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("u"),
            F.col("b.simhash").alias("v"),
            F.col("a.block_id").alias("block_id"),
            F.col("a.c").alias("cu"),
            F.col("b.c").alias("cv"),
        )
        .filter(first_zero == F.col("block_id"))
        .agg(
            F.coalesce(F.sum(F.col("cu") * F.col("cv")), F.lit(0)).alias(
                "cand_pairs"
            ),
            F.coalesce(
                F.sum(
                    F.when(is_close, F.col("cu") * F.col("cv")).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            ).alias("ver_pairs"),
        )
    )
    return exact.crossJoin(candver).select(
        F.lit(bits).alias("bits"), "exact_pairs", "cand_pairs", "ver_pairs"
    )


@register(
    "dedup_simhash_block_quality",
    oracle="""
    select 16 as bits, cast(count(*) as bigint) as n_docs,
           true as lsh_matches_exact, true as precision_floor_met
    from documents
    union all
    select 64 as bits, cast(count(*) as bigint) as n_docs,
           true as lsh_matches_exact, true as precision_floor_met
    from documents
    order by bits
    """,
)
def dedup_simhash_block_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-checked quality twin of the SimHash family (VERDICT r11 #6 —
    the dedup_minhash_est_error pattern for the last algorithmic
    rows-only family): per code width, the production bit-block LSH is
    audited against an INDEPENDENT brute-force Hamming ground truth over
    a bounded code sample, and two engine-portable claims are pinned:

    - ``lsh_matches_exact``: the LSH's verified close-pair count EQUALS
      the quadratic reference — the pigeonhole guarantee (d ≤ n_blocks−1
      bit flips cannot touch every block) realized exactly; any recall
      loss in blocking, first-agreeing-block dedup, or verify mismatches.
    - ``precision_floor_met``: raw-candidate precision (verified /
      candidates) stays above the measured floor per width
      ({SIMHASH_PRECISION_FLOOR}) — a blocking bug that floods the
      verifier (e.g. a broken block mask joining everything) mismatches.

    The codes themselves are xxhash64-dependent (why dedup_simhash /
    dedup_simhash64 report coverage bounds rather than raw counts — their
    close-pair counts stay exact-pinned in tests/test_parity.py); both
    claims above are properties the oracle can pin TRUE without
    recomputing codes. Brute force runs over
    the collapsed distinct-code table capped at
    {SIMHASH_QUALITY_AUDIT_CAP} codes (exhaustive at fixture scale,
    bounded-sample at 100 TB).
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    audited = simhash_block_quality(docs, 16).unionAll(
        simhash_block_quality(docs, 64)
    )
    floor = F.when(
        F.col("bits") == 16, F.lit(SIMHASH_PRECISION_FLOOR[16])
    ).otherwise(F.lit(SIMHASH_PRECISION_FLOOR[64]))
    return (
        audited.crossJoin(n_docs)
        .select(
            "bits",
            "n_docs",
            (F.col("ver_pairs") == F.col("exact_pairs")).alias(
                "lsh_matches_exact"
            ),
            (
                (F.col("cand_pairs") == 0)
                | (F.col("ver_pairs") / F.col("cand_pairs") >= floor)
            ).alias("precision_floor_met"),
        )
        .orderBy("bits")
    )


def _simhash_bounds_oracle(bits: int) -> str:
    """Shared DuckDB twin of :func:`_simhash_bounds_query` (VERDICT r12
    #6): dup_text_pairs is SQL-exact (identical nonempty texts, the
    ``trim(text) != ''`` ⟺ nonempty-token equivalence at
    ``_NONEMPTY_TOKENS``); the three coverage/bound claims are properties
    SQL can pin TRUE without recomputing xxhash64 codes."""
    return f"""
    with nonempty as (select text from documents where trim(text) != ''),
    dup as (select coalesce(sum(c * (c - 1) // 2), 0) as dup_text_pairs
            from (select count(*) as c from nonempty group by text) g)
    select {bits} as bits,
           (select cast(count(*) as bigint) from documents) as n_docs,
           (select cast(count(*) as bigint) from nonempty)
             as n_nonempty_docs,
           cast(dup_text_pairs as bigint) as dup_text_pairs,
           true as within_code_covers_dups,
           true as lsh_covers_dups,
           true as codes_bounded
    from dup
    """


def _simhash_bounds_query(
    spark: SparkSession, sf_dir: str, bits: int
) -> DataFrame:
    """Coverage-bounded SimHash summary (the driver-verifiable floor the
    raw close-pair count can't be — VERDICT r12 #6, the
    dedup_minhash_est_error promotion pattern): alongside the SQL-exact
    duplicate-text pair count, three hash-checked claims over the real
    LSH plan's components:

    - ``within_code_covers_dups``: identical (nonempty) texts MUST land on
      identical codes, so within-code pairs ≥ exact duplicate-text pairs —
      a broken tokenizer/pack expression that splits equal texts mismatches.
    - ``lsh_covers_dups``: the full near-dup count (within + cross-block)
      keeps that floor — Hamming-0 pairs survive the band join, the
      first-agreeing-block dedup, and the xor verify (they agree on EVERY
      block), so a blocking/dedup bug that drops them mismatches.
    - ``codes_bounded``: codes stay in the declared width (0 ≤ code < 2^16
      at 16 bits; full signed-bigint domain at 64) and the distinct-code
      count never exceeds min(2^bits, nonempty docs) — a mask/shift bug
      that widens codes mismatches.

    The raw (n_docs, n_close_pairs) outputs stay exact-pinned in
    tests/test_parity.py via :func:`simhash_close_pairs`.
    """
    docs = load(spark, sf_dir, "documents")
    comp = simhash_components(docs, bits=bits)
    dup = (
        docs.filter(F.expr(_NONEMPTY_TOKENS))
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("bigint")),
                F.lit(0),
            ).alias("dup_text_pairs")
        )
    )
    if bits <= 31:
        in_range = (F.col("min_code") >= 0) & (
            F.col("max_code") < (1 << bits)
        )
        code_cap = F.least(
            F.lit(1 << bits).cast("bigint"), F.col("n_nonempty")
        )
    else:  # 64-bit codes fill the whole signed-bigint domain
        in_range = F.lit(True)
        code_cap = F.col("n_nonempty")
    return comp.crossJoin(dup).select(
        F.lit(bits).alias("bits"),
        "n_docs",
        # exact value that FLOWS THROUGH the LSH value-collapse stage
        # (Σ count over the collapsed code table): a pack expression that
        # exploded rows, or a broken nonempty filter, changes it — and at
        # fixtures without exact-duplicate texts (sf0.01: dup_text_pairs=0,
        # making the two coverage floors vacuous) this is the hash-checked
        # column with teeth.
        F.col("n_nonempty").alias("n_nonempty_docs"),
        "dup_text_pairs",
        (F.col("within_pairs") >= F.col("dup_text_pairs")).alias(
            "within_code_covers_dups"
        ),
        (
            F.col("within_pairs") + F.col("cross_pairs")
            >= F.col("dup_text_pairs")
        ).alias("lsh_covers_dups"),
        (in_range & (F.col("n_codes") <= code_cap)).alias("codes_bounded"),
    )


@register("dedup_simhash", oracle=_simhash_bounds_oracle(16))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup detection (4 blocks × 4 bits, Hamming ≤ 3),
    reported as the coverage-bounded summary (:func:`_simhash_bounds_query`
    — hash-checked since r13, VERDICT r12 #6).

    Token hash = low 16 bits of xxhash64(token) (JVM-side, cheap). See
    :func:`simhash_close_pairs` for the bit-block LSH plan; its raw
    (n_docs, n_close_pairs) stays exact-pinned in tests/test_parity.py.
    """
    return _simhash_bounds_query(spark, sf_dir, 16)


@register("dedup_simhash64", oracle=_simhash_bounds_oracle(64))
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup detection (4 blocks × 16 bits, Hamming ≤ 3)
    — the corpus-scale code width (Manku et al., WWW 2007 use 64-bit codes
    with block-permuted tables; here blocks are the non-permuted special
    case sufficient for d ≤ 3) — reported as the coverage-bounded summary
    (:func:`_simhash_bounds_query`, hash-checked since r13).

    Same plan as the 16-bit query; the value-collapse stage no longer
    bounds the table at 2^16, but it still dedups identical codes and the
    block join stays O(codes × blocks) with 16-bit join keys.
    """
    return _simhash_bounds_query(spark, sf_dir, 64)


@register(
    "dedup_survivors",
    oracle=f"""
    with recursive {{jcte}},
    {{ccte}}
    select d.doc_id, d.lang, d.source, d.n_chars
    from documents d
    where d.doc_id not in (select id from labels where label <> id)
    """.format(jcte=_JACCARD_PAIRS_CTE, ccte=_cc_labels_cte(CLUSTER_THRESHOLD)),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED deduplicated corpus: every document except non-min
    members of a near-duplicate component (trigram Jaccard >= 0.5,
    transitively closed) — what a training-data run actually writes out
    after near-dup detection, where dedup_cluster only reports the
    histogram.

    Plan shape: component labels from :func:`corpus_cc_labels` (memoized —
    shared with dedup_cluster; candidate pairs below it come from the
    persisted inverted-index pair table), then ONE
    broadcast-sized anti-join of the drop-list against the corpus — the
    drop-list is strictly smaller than the near-dup node set, so at 100 TB
    the join streams the corpus once against a small (or AQE-broadcast)
    side.
    """
    docs = load(spark, sf_dir, "documents")
    labels = corpus_cc_labels(spark, sf_dir)
    drop = labels.filter(F.col("label") != F.col("id")).select("id")
    return docs.join(
        drop, docs.doc_id == drop.id, "left_anti"
    ).select("doc_id", "lang", "source", "n_chars")


#: Funnel thresholds shared by pipeline_dedup_corpus and its oracle —
#: identical to pipeline_quality_filter's gate (functions/text.py) so the
#: two stages compose into one coherent pipeline story.
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 120
FUNNEL_MAX_STOP_RATIO = 0.15


def _funnel_oracle() -> str:
    from ..functions.text import STOPWORDS

    return f"""
    with recursive scored as (
      select doc_id, text,
             len(string_split(text, ' ')) as n_tokens,
             len(list_filter(string_split(text, ' '),
                             x -> x in {STOPWORDS!r}))
               / len(string_split(text, ' ')) as stop_ratio
      from documents),
    quality as (
      select doc_id, text, n_tokens from scored
      where n_tokens between {FUNNEL_MIN_TOKENS} and {FUNNEL_MAX_TOKENS}
        and stop_ratio < {FUNNEL_MAX_STOP_RATIO}),
    exact as (
      select doc_id, text, n_tokens from (
        select *, row_number() over (partition by text order by doc_id) as rn
        from quality)
      where rn = 1),
    {_jaccard_pairs_cte("exact")},
    {_cc_labels_cte(CLUSTER_THRESHOLD)},
    final as (
      select e.doc_id, e.n_tokens from exact e
      where e.doc_id not in (select id from labels where label <> id))
    select (select count(*) from documents) as n_input,
           (select count(*) from quality) as n_quality,
           (select count(*) from exact) as n_exact,
           (select count(*) from final) as n_final,
           (select cast(coalesce(sum(n_tokens), 0) as bigint) from final)
             as kept_tokens
    """


def _funnel_scored(docs: DataFrame) -> "tuple[DataFrame, Column]":
    """(scored frame, is_quality predicate): the funnel's scoring scan and
    quality gate as ONE definition, shared by :func:`funnel_stages` (which
    filters) and :func:`funnel_counts` (which conditionally aggregates) so
    the two can never disagree on what "quality" means."""
    from ..functions.text import STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    scored = docs.withColumn(
        "n_tokens", F.size(F.split("text", " "))
    ).withColumn(
        "stop_ratio",
        F.expr(f"size(filter(split(text, ' '), x -> x in ({stop_list})))")
        / F.col("n_tokens"),
    )
    is_quality = (
        (F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
        & (F.col("n_tokens") <= FUNNEL_MAX_TOKENS)
        & (F.col("stop_ratio") < FUNNEL_MAX_STOP_RATIO)
    )
    return scored, is_quality


def funnel_counts(docs: DataFrame) -> DataFrame:
    """One-row (n_input, n_quality, n_exact) as a SINGLE conditional
    aggregation over one scored scan (VERDICT r3 "What's wrong" #2 — was
    three nested-filter 1-row aggregates, i.e. three scoring scans).

    The fusion trick: exact dedup keeps one survivor per distinct text, so
    n_exact = count(distinct text) among quality rows — no dedup window
    needed for the COUNT, only for the survivor rows themselves. Spark
    plans the mixed distinct/plain aggregate as one Expand + two-phase
    HashAggregate: a single pass over the corpus at any scale."""
    scored, is_quality = _funnel_scored(docs)
    return scored.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.coalesce(F.sum(is_quality.cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_quality"),
        F.countDistinct(F.when(is_quality, F.col("text"))).alias("n_exact"),
    )


def funnel_stages(docs: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """(quality, exact): the funnel's shared prefix — quality gate (token
    band + stopword ratio) then exact dedup (min-doc_id survivor per text).
    One definition so every pipeline query chains IDENTICAL plans and
    Spark's CacheManager / the label memo can share work across them.
    Both frames carry (doc_id, text, n_tokens)."""
    scored, is_quality = _funnel_scored(docs)
    quality = scored.filter(is_quality).select("doc_id", "text", "n_tokens")
    w = Window.partitionBy("text").orderBy("doc_id")
    # tracked persist: the survivor table anchors the jaccard/CC subtree AND
    # every downstream stage count of the pipeline queries — without it each
    # 1-row aggregate re-runs the quality scan + dedup window. Footprint is
    # O(kept corpus), the same class as the minhash shingle cache.
    exact = track(
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return quality, exact


def funnel_cc_labels(
    spark: SparkSession, sf_dir: str, exact: DataFrame
) -> DataFrame:
    """(id, label) components of the Jaccard graph over the funnel's
    quality-filtered exact-dedup SURVIVORS — memoized like the corpus
    labels (iterative output — CacheManager cannot match it across
    invocations), keyed separately from corpus_cc_labels because the graph
    is over the survivor subset, not raw documents. Shared by every
    pipeline query that chains the same funnel prefix.

    The memo key includes the ANALYZED-PLAN hash of ``exact``: two callers
    share labels only when they pass semantically identical survivor
    frames, so a future funnel variant (different thresholds, pre-filtered
    subset) can never receive labels computed from another frame."""
    return session_memo(
        spark,
        f"funnel_cc_labels:{CLUSTER_THRESHOLD}:{exact.semanticHash()}",
        sf_dir,
        lambda: _pair_graph_labels(jaccard_pairs(exact)),
    )


@register("pipeline_dedup_corpus", oracle=_funnel_oracle())
def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data funnel in one query: quality gate (token
    band + stopword ratio) -> exact dedup (min-doc_id survivor per text) ->
    near-dup dedup (trigram-Jaccard connected components over the
    SURVIVORS) -> corpus summary row
    (n_input, n_quality, n_exact, n_final, kept_tokens).

    Every stage is the same operator the standalone queries use
    (pipeline_quality_filter, dedup_exact, dedup_survivors), composed the
    way a real pre-training data run chains them; each count is a
    single-row aggregate crossJoined into the summary, so nothing wider
    than one row ever reaches the driver.
    """
    docs = load(spark, sf_dir, "documents")
    _, exact = funnel_stages(docs)
    labels = funnel_cc_labels(spark, sf_dir, exact)
    drop = labels.filter(F.col("label") != F.col("id")).select("id")
    final = exact.join(drop, exact.doc_id == drop.id, "left_anti")
    fin = final.agg(
        F.count(F.lit(1)).alias("n_final"),
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    return funnel_counts(docs).crossJoin(fin)


@register(
    "dedup_ngram_containment",
    oracle=f"""
    with {_JACCARD_PAIRS_CTE}
    select a_id, b_id, {sql_round_div('i', 'least(na, nb)', 4)} as containment
    from jpairs
    order by containment desc, a_id, b_id
    limit 20
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pairs by trigram CONTAINMENT |A∩B| / min(|A|,|B|) — the
    asymmetric near-dup signal Jaccard misses: a short document quoted
    whole inside a long one scores ~1.0 here but low on Jaccard because the
    union is dominated by the long side.

    Reads the same persisted candidate-pair table as dedup_ngram_jaccard /
    dedup_cluster (it carries the raw intersection and set sizes), so the
    marginal cost is one projection + top-k over an in-memory table.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        jaccard_pairs(docs)
        .select(
            "a_id",
            "b_id",
            round_div_long(
                F.col("i"), F.least(F.col("na"), F.col("nb")), 4
            ).alias("containment"),
        )
        .orderBy(F.desc("containment"), F.asc("a_id"), F.asc("b_id"))
        .limit(20)
    )


#: exact-substring span length (tokens): fixture docs are 10-99 tokens, so
#: 20 scales the published 50-token method to the corpus (spans this long
#: are verbatim copies, never stylistic overlap).
SUBSTRING_GRAM = 20


@register(
    "dedup_exact_substring",
    oracle=f"""
    with grams as (
      select distinct doc_id,
             array_to_string(t[s:s + {SUBSTRING_GRAM - 1}], ' ') as gram
      from (select doc_id, string_split(text, ' ') as t from documents)
      cross join unnest(range(1, len(t) - {SUBSTRING_GRAM} + 2)) as r(s)
      where len(t) >= {SUBSTRING_GRAM})
    select a.doc_id as a_id, b.doc_id as b_id,
           count(*) as n_shared_spans
    from grams a join grams b
      on a.gram = b.gram and a.doc_id < b.doc_id
    group by a_id, b_id
    order by n_shared_spans desc, a_id, b_id
    limit 20
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document pairs sharing verbatim SUBSTRING_GRAM-token spans — the
    exact-substring dedup signal (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022, use 50-token spans; 20 here,
    scaled to the fixture doc lengths). A long shared span is definitive
    copying where Jaccard only suggests it.

    Same inverted-index shape as ``jaccard_pairs`` with LONG shingles:
    spans hash to 64-bit BEFORE the self-join, and spans this long are
    near-unique, so posting lists are tiny and the join needs no
    hot-shingle cap at all — span length is itself the skew guard. At
    corpus scale this is the cheapest member of the dedup family: the
    shuffle carries (hash, doc_id) pairs bounded by total token count.
    """

    docs = load(spark, sf_dir, "documents")
    grams = (
        spread(docs)
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= SUBSTRING_GRAM)
        .select(
            "doc_id", F.explode(shingle_expr(SUBSTRING_GRAM)).alias("g")
        )
        .select("doc_id", F.xxhash64("g").alias("gram"))
        .distinct()
    )
    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .orderBy(F.desc("n_shared_spans"), F.asc("a_id"), F.asc("b_id"))
        .limit(20)
    )


#: incoming-batch selector for incremental dedup: doc_id % MOD == SLOT is
#: "today's ingest" (~10% of the corpus), everything else is the standing
#: index. Mirrored verbatim in the oracle.
INCR_BATCH_MOD = 10
INCR_BATCH_SLOT = 3


@register(
    "dedup_incremental",
    oracle=f"""
    with
    sh0 as (
      select distinct doc_id, shingle, doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_SLOT} as is_new
      from (
        select doc_id,
               unnest(list_transform(
                 list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
                 x -> x[1] || ' ' || x[2] || ' ' || x[3])) as shingle
        from (select doc_id, string_split(text, ' ') as t from documents)
        where len(t) >= 3)),
    hot as (
      select shingle from sh0 where not is_new group by shingle
      having count(*) > {JACCARD_HOT_SHINGLE_DF_CAP}),
    sh as (
      select * from sh0 where shingle not in (select shingle from hot)),
    szs as (select doc_id, count(*) as n from sh group by doc_id),
    cand as (
      select n.doc_id as new_id, o.doc_id as old_id, count(*) as i
      from sh n join sh o on n.shingle = o.shingle
      where n.is_new and not o.is_new
      group by all),
    scored as (
      select new_id, old_id,
             {sql_round_div('i', '(sn.n + so.n - i)', 4)} as jacc
      from cand
      join szs sn on sn.doc_id = new_id
      join szs so on so.doc_id = old_id),
    best as (
      select new_id, old_id, jacc,
             row_number() over (partition by new_id
                                order by jacc desc, old_id) as rn
      from scored)
    select d.doc_id,
           b.old_id as best_match_id,
           b.jacc as best_jacc,
           coalesce(b.jacc >= {CLUSTER_THRESHOLD}, false) as is_dup
    from documents d
    left join (select * from best where rn = 1) b on b.new_id = d.doc_id
    where d.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_SLOT}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: score TODAY'S batch against the standing
    corpus index without ever re-pairing the corpus against itself.

    The pattern that makes dedup tractable on a growing 100 TB corpus: the
    posting list (shingle -> old doc) is built from the standing corpus
    once — in production it is a persisted table maintained across days;
    here it materializes per session — and each incoming batch only PROBES
    it. Cost per batch is O(batch x posting length), with the hot-shingle
    stop list (computed on the index side, applied to both sides, exactly
    as a stored index would) capping posting length; old x old pairs are
    never generated. Each new doc reports its best corpus match by exact
    trigram Jaccard (rounded before the argmax, old_id tiebreak) and an
    is_dup verdict at the clustering threshold; batch docs with no shared
    shingle survive with a null match.
    """
    docs = load(spark, sf_dir, "documents")

    is_new = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_SLOT
    sh0 = (
        spread(docs)
        .withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(shingle_expr(3)).alias("sh_str"),
            is_new.alias("is_new"),
        )
        .select(
            "doc_id", F.xxhash64("sh_str").alias("shingle"), "is_new"
        )
        .distinct()
    )
    hot = (
        sh0.filter(~F.col("is_new"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > JACCARD_HOT_SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = track(sh0.join(F.broadcast(hot), "shingle", "left_anti"))
    szs = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    new_sh = sh.filter(F.col("is_new")).select(
        F.col("doc_id").alias("new_id"), "shingle"
    )
    old_sh = sh.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "shingle"
    )
    cand = (
        new_sh.join(old_sh, "shingle")
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sn = szs.select(F.col("doc_id").alias("new_id"), F.col("n").alias("nn"))
    so = szs.select(F.col("doc_id").alias("old_id"), F.col("n").alias("no"))
    scored = (
        cand.join(sn, "new_id")
        .join(so, "old_id")
        .select(
            "new_id",
            "old_id",
            round_div_long(
                F.col("i"), F.col("nn") + F.col("no") - F.col("i"), 4
            ).alias("jacc"),
        )
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jacc"), F.asc("old_id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "old_id", "jacc")
    )
    batch = docs.filter(is_new).select("doc_id")
    return batch.join(
        best, batch.doc_id == best.new_id, "left"
    ).select(
        "doc_id",
        F.col("old_id").alias("best_match_id"),
        F.col("jacc").alias("best_jacc"),
        F.coalesce(
            F.col("jacc") >= CLUSTER_THRESHOLD, F.lit(False)
        ).alias("is_dup"),
    )


#: Winnowing parameters (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the
#: MOSS fingerprinting algorithm): k-char grams hashed with md5 truncated
#: to a 60-bit BIGINT (available and bit-identical on both engines),
#: sliding window of WINNOW_W gram hashes, the minimum of each window
#: selected. Guarantee: any shared
#: substring of length >= WINNOW_W + WINNOW_K - 1 yields at least one
#: shared fingerprint; expected density of selected grams is 2/(W+1).
WINNOW_K = 8
WINNOW_W = 8
#: stop-fingerprint cap: a fingerprint present in more than this many docs
#: is boilerplate (the stopword analog) and is dropped BEFORE the self-join
#: — the skew guard that keeps posting lists bounded at corpus scale.
WINNOW_MAX_DF = 50
WINNOW_MIN_SHARED = 2


def winnow_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): the DISTINCT winnowed fingerprint set per document —
    each WINNOW_K-char gram hashed to a BIGINT (top 60 bits of md5:
    ``conv(substring(md5(gram), 1, 15), 16, 10)``), minimum per WINNOW_W-gram
    sliding window. Pure higher-order array expressions (transform /
    sequence / slice / array_min): zero Python, zero shuffle. BIGINT
    fingerprints (VERDICT r6 #1) replace the original 32-hex VARCHAR ones:
    window minima become integer compares instead of 32-char string
    compares and the posting-list join keys shrink 4x, a ~3-5x constant-
    factor win with identical selection semantics (lexicographic order of
    equal-length hex == numeric order of its value, and DuckDB mirrors the
    exact same 60-bit truncation, so engine parity is preserved). Shared by
    dedup_winnow and the randomized property test, which checks the
    selected set grams-for-grams against a plain-Python reference winnow
    and the planted-substring detection guarantee.

    Partitioning: gram hashing is ~100x the CPU of the scan that feeds it,
    so inheriting the scan's file-size-derived split (one small parquet
    file => ONE partition doing all the hashing — the r6 bench showed
    exactly this, 12 s of single-core work at sf0.1) starves the cluster.
    When the input has fewer partitions than cores we spread it by doc_id
    first; the shuffled payload is just the raw text, a fraction of the
    downstream per-char work it unlocks. Inputs already wider than the
    core count (the 100 TB case) are left alone. Streaming inputs skip the
    probe entirely — ``.rdd`` would throw on an unresolved streaming plan,
    and micro-batches get their parallelism from the source (ADVICE r7:
    keeps this builder batch-and-stream-safe like its siblings)."""
    if not docs.isStreaming:
        par = task_slots(docs.sparkSession)
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par, "doc_id")
    hashed = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {WINNOW_K - 1}, 1)),"
            f" i -> cast(conv(substring(md5(substring({text_col}, i, {WINNOW_K})), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    return hashed.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)),"
                f" j -> array_min(slice(hs, j, {WINNOW_W}))))"
            )
        ).alias("fp"),
    )


@register(
    "dedup_winnow",
    oracle=f"""
    with hashed as (
      select doc_id,
             [cast('0x' || substr(md5(substring(text, i, {WINNOW_K})), 1, 15) as bigint)
              for i in generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1))] as hs
      from documents),
    fps as (
      select distinct doc_id, fp
      from (select doc_id,
                   unnest([list_min(hs[j:j+{WINNOW_W - 1}])
                           for j in generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1))]) as fp
            from hashed)),
    kept as (select fp from fps group by fp having count(*) <= {WINNOW_MAX_DF}),
    pairs as (
      select a.doc_id as doc_a, b.doc_id as doc_b,
             cast(count(*) as bigint) as n_shared
      from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
      where a.fp in (select fp from kept)
      group by 1, 2
      having count(*) >= {WINNOW_MIN_SHARED})
    select doc_a, doc_b, n_shared from pairs
    order by n_shared desc, doc_a, doc_b
    limit 20
    """,
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003): the top
    partially-overlapping doc pairs by count of shared selected k-gram
    hashes — the rolling-hash fingerprinting family member, complementary
    to MinHash (set resemblance) and exact-substring dedup (long literal
    spans): winnowing certifies LOCAL overlap with a guaranteed detection
    floor (any shared run of >= W+K-1 chars shares a fingerprint) at a
    guaranteed density (~2/(W+1) of grams selected).

    Spark shape, JVM-only: per-doc gram hashing and window minima are
    higher-order array expressions (transform/sequence/slice/array_min)
    — zero shuffle until the per-doc DISTINCT fingerprint set explodes
    into postings. Pair generation is the inverted-index self-equi-join
    on the fingerprint, after dropping fingerprints with document
    frequency above WINNOW_MAX_DF (boilerplate guard: bounds every
    posting list, so the join is skew-safe at corpus scale). md5 is
    bit-identical across engines and both truncate it to the same 60-bit
    BIGINT (Spark ``conv(hex, 16, 10)`` == DuckDB ``'0x' || hex`` cast),
    so the selected fingerprint sets — and therefore the pair counts —
    match the oracle exactly.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # the fingerprint table feeds three consumers (the DF rollup and both
    # sides of the posting self-join); without persist the per-char hashing
    # subtree — the expensive part — would run three times.
    fps = track(winnow_fingerprints(docs))
    kept = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fp")
    )
    postings = fps.join(kept, "fp", "left_semi")
    pairs = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return pairs.orderBy(
        F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(20)
