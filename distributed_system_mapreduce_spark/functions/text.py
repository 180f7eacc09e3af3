"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.8).

Driver-mandated extensions beyond the MapReduce reference surface
(BASELINE.json: "add the LLM-data-pipeline operators ... text analysis"):
token statistics, tf-idf, n-grams, language ID, quality scoring, regex
tokenization, document fingerprinting.

Scale notes (100 TB):
- Everything is built-in JVM expressions / higher-order functions — no
  Python UDFs in any hot path, so whole-stage codegen covers the token
  pipelines end-to-end.
- Tokenization happens map-side; shuffles carry (key, partial aggregate)
  pairs sized by vocabulary, not corpus.
- tf-idf is two aggregations + one broadcast-joined scalar (corpus size) —
  no driver-side collect.
- Ranking happens on ROUNDED scores (6 dp) with unique-key tiebreaks so
  top-k membership is stable across engines and runs (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import checkpoint_generation, local_frame, track
from ..plans.topk import salted_topk
from ..exactmath import round_div, round_div_long, sql_round_div
from ..registry import register
from ..sources.io import load
from ..operators.relational import tokens

#: deterministic per-language marker words (shared 31-word synthetic vocab —
#: see FIXTURES.md; the heuristic is degenerate on purpose-built data but the
#: operator shape is the real n-gram/marker language-ID pipeline).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("scan", "group", "window"),
    "en": ("the", "fast", "query"),
    "es": ("data", "table", "row"),
    "fr": ("join", "merge", "sort"),
    "zh": ("spark", "stream", "vector"),
}

STOPWORDS = ("the", "a", "data")


@register(
    "text_tokens_stats",
    oracle="""
    with base as (
      select lang, count(*) as n_docs,
             cast(sum(len(string_split(text, ' '))) as bigint) as total_tokens,
             {avg_chars} as avg_chars
      from documents group by lang),
    vocab as (
      select lang, count(distinct word) as vocab
      from (select lang, unnest(string_split(text, ' ')) as word from documents)
      where word <> '' group by lang)
    select base.lang as lang, n_docs, total_tokens, avg_chars, vocab
    from base join vocab on base.lang = vocab.lang
    """.format(avg_chars=sql_round_div("sum(n_chars)", "count(*)", 2)),
)
def text_tokens_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc counts, token totals, avg length, distinct
    vocabulary. avg_chars is the all-integer half-up round of
    sum(n_chars)/count (exactmath.py, r15): an integer-sum average CAN
    land exactly on a 2-dp half, where double-path rounds diverge
    between engines."""
    docs = load(spark, sf_dir, "documents")
    base = (
        docs.withColumn("n_tokens", F.size(F.split("text", " ")).cast("bigint"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            round_div(
                F.sum("n_chars"), F.count(F.lit(1)), 2
            ).alias("avg_chars"),
        )
    )
    vocab = tokens(docs).groupBy("lang").agg(F.countDistinct("word").alias("vocab"))
    return base.join(vocab, "lang")


def tf_table(docs):
    """Tracked (doc_id, source, word, tf) term-frequency table — ONE corpus
    tokenize serves tf-idf source ranking, per-doc keyword extraction, and
    document frequency (tf rows are unique per (doc, word), so df = row
    count per word; no second scan)."""
    tok = tokens(docs).select("doc_id", "source", "word")
    return track(
        tok.groupBy("doc_id", "source", "word").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )


@register(
    "text_tfidf_top",
    oracle="""
    with tok as (
      select doc_id, source, word
      from (select doc_id, source, unnest(string_split(text, ' ')) as word from documents)
      where word <> ''),
    tf as (select doc_id, source, word, count(*) as tf from tok group by all),
    dfreq as (select word, count(distinct doc_id) as df from tok group by word),
    total as (select count(*) as n from documents),
    scored as (
      select source, word,
             round(sum(tf * ln(n / df)), 6) as score
      from tf join dfreq using (word), total
      group by source, word)
    select source, word, score, rn from (
      select *, row_number() over (partition by source
                                   order by score desc, word) as rn
      from scored)
    where rn <= 10
    """,
)
def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per source by summed tf-idf.

    Scores are rounded to 6 dp BEFORE ranking so float summation-order noise
    cannot flip top-10 membership between engines. The per-source ranking is
    the salted two-stage top-k: the scored table is vocabulary x sources —
    at web scale a vocabulary-sized window slice per source is a single-task
    sort (plans.salted_topk; row-identical, oracle keeps the naive window).
    """
    docs = load(spark, sf_dir, "documents")
    tf = tf_table(docs)
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("source", "word")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n") / F.col("df"))), 6
            ).alias("score")
        )
    )
    return salted_topk(
        scored,
        [F.desc("score"), F.asc("word")],
        10,
        salt_col="word",
        group_cols=("source",),
        rank_col="rn",
    )


@register(
    "text_ngrams",
    oracle="""
    select bigram, count(*) as cnt
    from (
      select unnest(list_transform(
               list_zip(t[1:len(t)-1], t[2:len(t)]),
               x -> x[1] || ' ' || x[2])) as bigram
      from (select string_split(text, ' ') as t from documents)
      where len(t) >= 2)
    group by bigram
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram counts over the corpus (higher-order functions, no UDF)."""
    docs = load(spark, sf_dir, "documents")
    # materialize the token array ONCE per row; an inline split inside the
    # lambda would re-tokenize per element (O(tokens²) per doc)
    bigrams = F.expr(
        """
        transform(sequence(1, size(toks) - 1),
                  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        """
    )
    return (
        docs.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _marker_rows() -> list[tuple[str, str]]:
    """(pred_lang, word) for every marker word, one order for both engines."""
    return [(lang, w) for lang, ws in sorted(LANG_MARKERS.items()) for w in ws]


def _markers_sql_values() -> str:
    return ", ".join(f"('{lang}', '{w}')" for lang, w in _marker_rows())


@register(
    "text_langid",
    oracle=f"""
    with markers(pred_lang, word) as (values {_markers_sql_values()}),
    tok as (
      select doc_id, lang, word
      from (select doc_id, lang, unnest(string_split(text, ' ')) as word from documents)
      where word <> ''),
    hits as (
      select tok.doc_id, tok.lang, markers.pred_lang, count(*) as n_hits
      from tok join markers on tok.word = markers.word
      group by all),
    best as (
      select doc_id, lang, pred_lang from (
        select *, row_number() over (partition by doc_id
                                     order by n_hits desc, pred_lang) as rn
        from hits) where rn = 1)
    select d.lang as lang,
           coalesce(best.pred_lang, 'unknown') as pred_lang,
           count(*) as n_docs
    from documents d left join best on d.doc_id = best.doc_id
    group by all
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID → confusion matrix (lang, pred_lang, n_docs).

    Production shape: tokens ⋈ broadcast(marker table) → per-doc argmax.
    The synthetic corpus shares one vocabulary across languages (FIXTURES.md)
    so accuracy is chance — the pipeline, not the classifier, is the operator
    under test. Deterministic: argmax ties break lexicographically.
    """
    docs = load(spark, sf_dir, "documents")
    markers = local_frame(spark, _marker_rows(), "pred_lang string, word string")
    tok = tokens(docs).select("doc_id", "lang", "word")
    hits = (
        tok.join(F.broadcast(markers), "word")
        .groupBy("doc_id", "lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("pred_lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        docs.join(best.select("doc_id", "pred_lang"), "doc_id", "left")
        .select("lang", F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_quality_score",
    oracle=f"""
    select doc_id,
           cast(len(string_split(text, ' ')) as bigint) as n_tokens,
           {sql_round_div(
               "(n_chars - len(string_split(text, ' ')) + 1)",
               "len(string_split(text, ' '))", 4)} as avg_token_len,
           {sql_round_div(
               "len(list_filter(string_split(text, ' '),"
               " x -> x in " + repr(STOPWORDS) + "))",
               "len(string_split(text, ' '))", 4)} as stop_ratio,
           round((1 - len(list_filter(string_split(text, ' '),
                                      x -> x in {STOPWORDS!r}))
                      / len(string_split(text, ' ')))
                 * ln(1 + len(string_split(text, ' '))), 4) as quality
    from documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: token count, avg token length,
    stopword ratio, and a combined quality score — the standard pre-training
    corpus filter signals, all JVM-side expressions."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # r17 optimization round (guide §1.2 per-task work): name the token
    # counts in their OWN projection, then round_div_long over plain
    # attribute refs. Inlined, round_div_long's guard branches duplicated
    # split()/filter() ~40x per row AND the huge lambda-bearing Project
    # fell out of whole-stage codegen.
    # CollapseProject keeps the split because each count is expensive and
    # multiply-referenced. Values are bit-identical: same arithmetic on
    # the same intermediates.
    counted = docs.select(
        "doc_id", "n_chars", toks.alias("toks")
    ).select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tok"),
        F.expr(
            f"size(filter(toks, x -> x in ({stop_list})))"
        ).alias("n_stop"),
    )
    n_tok = F.col("n_tok")
    n_stop = F.col("n_stop")
    stop_ratio = n_stop / n_tok
    return counted.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        round_div_long(F.col("n_chars") - n_tok + 1, n_tok, 4).alias(
            "avg_token_len"
        ),
        round_div_long(n_stop, n_tok, 4).alias("stop_ratio"),
        F.round((F.lit(1) - stop_ratio) * F.log(F.lit(1) + n_tok), 4).alias("quality"),
    )


@register(
    "text_token_count",
    oracle="""
    select doc_id,
           cast(len(regexp_extract_all(text, '[a-z]+')) as bigint) as n_tokens,
           cast(len(list_distinct(regexp_extract_all(text, '[a-z]+'))) as bigint)
             as n_distinct_tokens
    from documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish pre-tokenizer) token counting per document."""
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit("[a-z]+"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
    )


@register(
    "pipeline_quality_filter",
    oracle=f"""
    with scored as (
      select lang,
             len(string_split(text, ' ')) as n_tokens,
             len(list_filter(string_split(text, ' '),
                             x -> x in {STOPWORDS!r}))
               / len(string_split(text, ' ')) as stop_ratio
      from documents)
    select lang,
           count(*) as n_kept,
           cast(sum(n_tokens) as bigint) as kept_tokens
    from scored
    where n_tokens between 20 and 120 and stop_ratio < 0.15
    group by lang
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus filter: keep docs in a token-length band with low
    stopword ratio, report survivors per language — the composed
    quality-gate pipeline a pre-training data run applies before dedup.
    Entirely map-side until the final per-lang aggregate."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop_ratio = F.expr(
        f"size(filter(split(text, ' '), x -> x in ({stop_list})))"
    ) / n_tok
    return (
        docs.withColumn("n_tokens", n_tok)
        .withColumn("stop_ratio", stop_ratio)
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 120)
            & (F.col("stop_ratio") < 0.15)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        )
    )


@register(
    "text_fingerprint",
    oracle="""
    select doc_id, md5(text) as fp, cast(n_chars % 1024 as bigint) as len_bucket
    from documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 digest + a length bucket per document —
    the exact-dedup key at corpus scale (hash once map-side, group by digest)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        (F.col("n_chars") % 1024).cast("bigint").alias("len_bucket"),
    )


#: Fixed retrieval query for text_bm25_topk — three mid-frequency words from
#: the synthetic vocabulary (FIXTURES.md) so the ranking exercises idf
#: spread; the operator is parametric in real use.
BM25_QUERY = ("spark", "fast", "join")
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "text_bm25_topk",
    oracle=f"""
    with tok as (
      select doc_id, word
      from (select doc_id, unnest(string_split(text, ' ')) as word
            from documents)
      where word <> ''),
    dl as (select doc_id, count(*) as dl from tok group by doc_id),
    stats as (select avg(dl) as avgdl, count(*) as n from dl),
    qtf as (
      select doc_id, word, count(*) as tf from tok
      where word in {BM25_QUERY!r}
      group by doc_id, word),
    qdf as (select word, count(distinct doc_id) as df from qtf group by word),
    scored as (
      select doc_id,
             round(sum(
               ln((n - df + 0.5) / (df + 0.5) + 1)
               * tf * ({BM25_K1} + 1)
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
             ), 6) as score
      from qtf
      join qdf using (word)
      join dl using (doc_id), stats
      group by doc_id)
    select doc_id, score, rn from (
      select *, row_number() over (order by score desc, doc_id) as rn
      from scored)
    where rn <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed term query — the ranked-retrieval
    sibling of text_tfidf_top (Robertson idf, k1/b length normalization).

    Plan shape for corpus scale (one token-explode, two corpus scans —
    not four): the tf table is filtered to QUERY TERMS before any
    aggregation (posting lists for 3 words, not the whole vocabulary);
    doc lengths are a MAP-SIDE size(filter(tokens)) column — no explode,
    no shuffle — persisted because it is exactly the per-document length
    statistic a BM25 index stores, and both the score join and the
    (avgdl, N) broadcast aggregate read it; per-term df comes from the
    already-tiny qtf table instead of a second corpus-wide
    count-distinct. Scores are rounded to 6 dp before ranking with a
    doc_id tiebreak so top-k membership is engine-stable (SURVEY.md §7.3).
    """
    docs = load(spark, sf_dir, "documents")
    # dl > 0: the oracle's dl CTE is built from exploded nonempty tokens, so
    # an empty/whitespace-only document never reaches it — filter here too
    # or avgdl and N diverge on such corpora (ADVICE r2). Tracked persist:
    # the score join and the (avgdl, N) aggregate both read this table.
    dl = track(
        docs.select(
            "doc_id",
            F.expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("bigint")
            .alias("dl"),
        ).filter(F.col("dl") > 0)
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n")
    )
    qtf = (
        tokens(docs)
        .select("doc_id", "word")
        .filter(F.col("word").isin(*BM25_QUERY))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # qtf holds one row per (doc, query word); per-term document frequency
    # is a 3-row rollup broadcast back onto it. qtf is tracked so the
    # rollup and the score join share ONE token explode — and unlike the
    # earlier `count over (partition by word)` window, no task ever holds
    # a full posting list: a common query term's postings are corpus-sized
    # at web scale, and an unordered window still ships every row of a
    # partition to one task.
    qtf = track(qtf)
    qdf = qtf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qtf = qtf.join(F.broadcast(qdf), "word")
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1)
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        qtf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * F.lit(BM25_K1 + 1) / norm), 6
            ).alias("score")
        )
    )
    # global top-10 via the salted two-stage builder: scored is only docs
    # containing a query term, but at web-corpus scale a common term makes
    # that corpus-sized — never sort it in one task (plans.salted_topk)
    return salted_topk(
        scored,
        [F.desc("score"), F.asc("doc_id")],
        10,
        salt_col="doc_id",
        rank_col="rn",
    )


@register(
    "text_unigram_logprob",
    oracle="""
    with tok as (
      select doc_id, word
      from (select doc_id, unnest(string_split(text, ' ')) as word
            from documents)
      where word <> ''),
    cnt as (select word, count(*) as c from tok group by word),
    total as (select count(*) as n_total from tok)
    select doc_id, n_tokens, avg_logprob from (
      select doc_id,
             count(*) as n_tokens,
             round(avg(ln(c / n_total)), 4) as avg_logprob
      from tok join cnt using (word), total
      group by doc_id)
    order by avg_logprob, doc_id
    limit 20
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 least-probable documents under the corpus's own unigram LM — the
    language-model quality filter (CCNet-style: score each doc by mean token
    log-probability, drop the tail) with the corpus itself as the model.

    Plan: one token aggregation builds the vocabulary counts, then the token
    table joins them back on ``word`` and averages per doc. The vocab side of
    that join is tiny relative to the token table, so AQE broadcasts it and
    the hot Zipf-head keys ("the") never skew a shuffle; if a vocabulary ever
    outgrew broadcast, AQE's skew-join split handles the head keys. Scores
    are rounded to 4 dp BEFORE ranking so float summation order cannot flip
    bottom-20 membership between engines.
    """
    docs = load(spark, sf_dir, "documents")
    tok = tokens(docs).select("doc_id", "word")
    # tracked persist: the vocab table feeds both the corpus total (summing
    # its counts — no third corpus scan) and the score join probe side, so
    # the query tokenizes the corpus exactly twice (cnt build + join side),
    # never three times.
    cnt = track(tok.groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    total = cnt.agg(F.sum("c").alias("n_total"))
    scored = (
        tok.join(cnt, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c") / F.col("n_total"))), 4
            ).alias("avg_logprob"),
        )
    )
    return scored.orderBy(F.asc("avg_logprob"), F.asc("doc_id")).limit(20)


@register(
    "text_repetition_score",
    oracle=f"""
    select doc_id,
           {sql_round_div('(len(tg) - len(list_distinct(tg)))',
                          'len(tg)', 4)} as rep_ratio,
           cast(len(tg) as bigint) as n_shingles
    from (
      select doc_id,
             list_transform(
               list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
               x -> x[1] || ' ' || x[2] || ' ' || x[3]) as tg
      from (select doc_id, string_split(text, ' ') as t from documents)
      where len(t) >= 3)
    order by rep_ratio desc, doc_id
    limit 20
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-repetitive documents by duplicate-trigram ratio
    (1 - distinct/total trigrams) — the intra-document repetition filter
    pre-training quality pipelines apply (the Gopher/MassiveText-style
    "repeated n-gram fraction" signal; boilerplate and generation loops
    score high).

    Entirely map-side higher-order functions (tokenize once, trigram
    zip, distinct count) followed by TakeOrderedAndProject — per-doc
    compute, zero shuffle before the global top-k, so the plan is scan-
    bound at any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    shingled = (
        docs.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.expr(
                """
                transform(sequence(1, size(toks) - 2),
                          i -> concat_ws(' ', element_at(toks, i),
                                         element_at(toks, i + 1),
                                         element_at(toks, i + 2)))
                """
            ).alias("tg"),
        )
    )
    # r17 optimization round (guide §1.2): name the shingle counts before
    # the round — inlined, round_div_long's branches re-ran
    # array_distinct() (a per-row hash-set build) ~6x and size(tg) ~16x
    # per row. Same values, one distinct-build per row.
    counted = shingled.select(
        "doc_id",
        (F.size("tg") - F.size(F.array_distinct("tg"))).alias("n_dup"),
        F.size("tg").alias("n_sh"),
    )
    return (
        counted.select(
            "doc_id",
            round_div_long(F.col("n_dup"), F.col("n_sh"), 4).alias(
                "rep_ratio"
            ),
            F.col("n_sh").cast("bigint").alias("n_shingles"),
        )
        .orderBy(F.desc("rep_ratio"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "corpus_shard_stats",
    oracle="""
    select substr(md5(text), 1, 1) as shard,
           count(*) as n_docs,
           cast(sum(len(string_split(text, ' '))) as bigint) as total_tokens
    from documents
    group by shard
    """,
)
def corpus_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way corpus sharding by content-hash prefix
    (first hex digit of md5(text)), with per-shard doc and token counts —
    the "global shuffle" a training run needs: examples land in a
    pseudo-random but RERUNNABLE shard independent of input order, so
    shard boundaries survive corpus re-ingestion.

    Pure map-side bucketing (no global sort, no window over a single
    partition — the ntile alternative would serialize the corpus through
    one task at 100 TB) followed by a 16-group aggregate. Writing the
    actual shards is the same expression through
    df.write.partitionBy("shard").
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 1).alias(
                "shard"
            ),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


#: chunking geometry: 32-token windows, stride 24 (25% overlap) — the
#: embedding-model preprocessing shape, scaled to the fixture doc lengths.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "text_chunk_stats",
    oracle=f"""
    select source,
           count(*) as n_chunks,
           cast(sum(case when chunk_len = {CHUNK_TOKENS} then 1 else 0 end)
                as bigint) as n_full,
           cast(sum(chunk_len) as bigint) as chunk_tokens
    from (
      select source,
             least({CHUNK_TOKENS}, n_tok - s + 1) as chunk_len
      from (
        select source,
               len(list_filter(string_split(text, ' '), w -> w <> ''))
                 as n_tok,
               unnest(range(1,
                            len(list_filter(string_split(text, ' '),
                                            w -> w <> '')) + 1,
                            {CHUNK_STRIDE})) as s
        from documents)
      where n_tok > 0)
    group by source
    order by source
    """,
)
def text_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking report: every document split into 32-token
    windows with stride 24 (the overlap-chunking step before embedding long
    documents), rolled up per source (chunks, full chunks, chunk tokens).

    Pure map-side: tokenize once, explode the window START POSITIONS (a
    sequence, not the chunk text — stats only need lengths, so nothing
    wider than two ints per chunk exists anywhere), then one partial-agg
    shuffle. The chunk-materializing variant is the same plan with a
    slice(toks, s, n) projection added per row.
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = F.expr("size(filter(split(text, ' '), w -> w != ''))")
    chunked = (
        docs.select("source", n_tok.alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .select(
            "source",
            "n_tok",
            F.explode(
                F.expr(f"sequence(1, n_tok, {CHUNK_STRIDE})")
            ).alias("s"),
        )
        .select(
            "source",
            F.least(
                F.lit(CHUNK_TOKENS), F.col("n_tok") - F.col("s") + 1
            ).alias("chunk_len"),
        )
    )
    return (
        chunked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                (F.col("chunk_len") == CHUNK_TOKENS).cast("bigint")
            ).alias("n_full"),
            F.sum("chunk_len").cast("bigint").alias("chunk_tokens"),
        )
        .orderBy("source")
    )


@register(
    "text_keywords_per_doc",
    oracle="""
    with tok as (
      select doc_id, word
      from (select doc_id, unnest(string_split(text, ' ')) as word
            from documents)
      where word <> ''),
    tf as (select doc_id, word, count(*) as tf from tok group by all),
    dfreq as (select word, count(distinct doc_id) as df from tok
              group by word),
    total as (select count(*) as n from documents),
    scored as (
      select doc_id, word,
             round(tf * ln(n / df), 6) as score
      from tf join dfreq using (word), total)
    select doc_id, word, score, rank from (
      select *, row_number() over (partition by doc_id
                                   order by score desc, word) as rank
      from scored)
    where rank <= 3
    """,
)
def text_keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 terms per DOCUMENT by tf-idf — the
    per-item tagging op (search facets, weak labels, card summaries) that
    complements text_tfidf_top's corpus-level view.

    Reads the same tracked tf table as text_tfidf_top (one tokenize per
    session serves both plus document frequency); the per-doc ranking is a
    row_number window over the tf rows — partitioned by doc_id, so the
    window shuffle is the table's natural key, no skew. Scores rounded
    before ranking, word tiebreak: top-3 membership engine-stable.
    """
    docs = load(spark, sf_dir, "documents")
    tf = tf_table(docs)
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


#: minimum bigram count for a collocation candidate (PMI is unstable on
#: singletons) — mirrored in the oracle.
PMI_MIN_COUNT = 5


@register(
    "text_collocations",
    oracle=f"""
    with
    uni as (
      select unnest(string_split(text, ' ')) as word from documents),
    ucnt as (select word, count(*) as c from uni group by word),
    n_uni as (select cast(count(*) as double) as n from uni),
    big as (
      select unnest(list_transform(
               list_zip(t[1:len(t)-1], t[2:len(t)]),
               x -> struct_pack(w1 := x[1], w2 := x[2]))) as b
      from (select string_split(text, ' ') as t from documents)
      where len(t) >= 2),
    bcnt as (select b.w1 as w1, b.w2 as w2, count(*) as c
             from big group by b.w1, b.w2),
    n_big as (select cast(count(*) as double) as n from big)
    select w1, w2, bcnt.c as n_pair,
           round(ln((bcnt.c / (select n from n_big))
                 / ((u1.c / (select n from n_uni))
                    * (u2.c / (select n from n_uni)))), 4) as pmi
    from bcnt
    join ucnt u1 on u1.word = w1
    join ucnt u2 on u2.word = w2
    where bcnt.c >= {PMI_MIN_COUNT}
    order by pmi desc, w1, w2
    limit 20
    """,
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 word bigrams by pointwise mutual
    information (PMI = ln of observed-vs-independent bigram probability) —
    the lexical-association statistic behind phrase detection and
    tokenizer-merge candidates.

    One tokenize pass feeds the unigram rollup, one bigram HOF pass feeds
    the pair rollup (both partial-agg shuffles keyed on words); the two
    corpus totals are 1-row broadcast scalars and the PMI join runs over
    the VOCABULARY-sized rollups, not the corpus. Low-count pairs are
    floored (PMI explodes on singletons) and PMI is rounded before the
    top-20 ranking with word tiebreaks.
    """
    docs = load(spark, sf_dir, "documents")
    toked = docs.withColumn("toks", F.split("text", " "))
    uni = toked.select(F.explode("toks").alias("word"))
    ucnt = uni.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).cast("double").alias("n_uni"))
    bigrams = F.expr(
        """
        transform(sequence(1, size(toks) - 1),
                  i -> struct(element_at(toks, i) as w1,
                              element_at(toks, i + 1) as w2))
        """
    )
    big = (
        toked.filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_COUNT)
    )
    n_big = big.agg(F.count(F.lit(1)).cast("double").alias("n_big"))
    u1 = ucnt.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bcnt.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("n_big"))
                    / (
                        (F.col("c1") / F.col("n_uni"))
                        * (F.col("c2") / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(20)


#: Tie-splitting threshold for text_zipf_fit's chunked global rank: every
#: chunk leads with the EXACT negated count (monotone along the c-desc
#: order by construction); counts < T additionally split by the first word
#: char so the tie-heavy Zipf tail (mostly c=1) doesn't collapse into one
#: giant chunk. Metadata cardinality <= distinct-counts-above-T +
#: (T-1)*charset.
ZIPF_CHUNK_T = 256


def zipf_chunk_key(c: Column, word: Column) -> Column:
    """Chunk key for a (count desc, word asc) global rank over a word
    rollup — monotone non-decreasing along that order, as
    ``plans.scan.chunked_global_rank`` requires.

    The LEADING field is the exact negated count, so chunks order exactly
    like the count-desc order regardless of the sub-key (ADVICE r9 fixed a
    prior form whose leading field banded all sub-threshold counts
    together, letting the first-letter sub-key reorder across counts). The
    first-letter field only splits ties WITHIN one count value — and
    within equal counts the order is word asc, along which a word prefix
    is monotone.
    """
    return F.struct(
        (-c).alias("cb"),
        F.when(c < ZIPF_CHUNK_T, F.substring(word, 1, 1))
        .otherwise(F.lit(""))
        .alias("wb"),
    )


@register(
    "text_zipf_fit",
    oracle="""
    with uni as (
      select unnest(string_split(text, ' ')) as word from documents),
    wc as (select word, count(*) as c from uni group by word),
    ranked as (
      select ln(row_number() over (order by c desc, word)) as lr,
             ln(c) as lf
      from wc)
    select cast(count(*) as bigint) as vocab,
           round(regr_slope(lf, lr), 4) as zipf_slope,
           round(regr_intercept(lf, lr), 4) as zipf_intercept,
           round(corr(lf, lr), 4) as log_log_corr
    from ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of log-frequency vs log-rank over the
    corpus vocabulary (natural text sits near slope -1; synthetic or
    templated corpora flatten) — a one-number corpus-health diagnostic a
    pretraining data card reports.

    The regression runs over the VOCABULARY (one word rollup), not the
    corpus — but a web-scale vocabulary is still billions of rows, so the
    global frequency rank routes through ``plans.scan.chunked_global_rank``
    (VERDICT r8 #3 class) under :func:`zipf_chunk_key`: the exact negated
    count leads every chunk (monotone along c desc by construction), and
    counts below the threshold add the first word char to split the
    tie-heavy Zipf tail (most words have count 1, and within equal counts
    the order IS word asc, so a word prefix is monotone there) —
    row-identical to the naive global row_number
    (tests/test_scan.py::test_zipf_chunk_key_matches_naive_rank pins this
    on a multi-count sub-threshold vocabulary, the shape ADVICE r9 showed
    the previous banded key got wrong).
    Slope/intercept use Spark's regr_slope/regr_intercept — the same
    Welford-style moment aggregates DuckDB implements, rounded to absorb
    accumulation-order noise. Rank ties break by word so both engines rank
    identically.
    """
    docs = load(spark, sf_dir, "documents")
    from ..plans.scan import chunked_global_rank

    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = chunked_global_rank(
        wc,
        [F.desc("c"), F.asc("word")],
        zipf_chunk_key(F.col("c"), F.col("word")),
        out_col="__rank",
    ).select(
        F.log("__rank").alias("lr"),
        F.log("c").alias("lf"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.round(F.regr_slope("lf", "lr"), 4).alias("zipf_slope"),
        F.round(F.regr_intercept("lf", "lr"), 4).alias("zipf_intercept"),
        F.round(F.corr("lf", "lr"), 4).alias("log_log_corr"),
    )


#: How many candidate merges text_bpe_merge_step reports.
BPE_TOP_PAIRS = 20


@register(
    "text_bpe_merge_step",
    oracle=f"""
    with wc as (
      select word, cast(count(*) as bigint) as cnt
      from (select unnest(string_split(text, ' ')) as word from documents)
      where word <> ''
      group by word),
    pairs as (
      select substr(word, cast(i as int), 2) as pair, cnt
      from (select word, cnt,
                   unnest(generate_series(1, len(word) - 1)) as i
            from wc
            where len(word) >= 2))
    select pair, cast(sum(cnt) as bigint) as cnt
    from pairs
    group by pair
    order by cnt desc, pair
    limit {BPE_TOP_PAIRS}
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training step: the corpus-weighted adjacent
    character-pair counts whose argmax is the next merge rule (Sennrich et
    al., ACL 2016 — the algorithm GPT/Llama tokenizers train with).

    The 100 TB-shape trick is that pair counting factors through the
    VOCABULARY: the corpus collapses to (word, count) first (one map-side-
    combining shuffle — word_count itself), and pairs explode from the
    distinct-word table only, so the quadratic-ish explode runs over
    thousands of words regardless of corpus size. A real BPE trainer
    repeats this step after applying each merge; one step is the
    registered, oracle-checked witness. Top pairs order by (count desc,
    pair) — deterministic under ties on both engines.
    """
    from ..operators.relational import tokens

    docs = load(spark, sf_dir, "documents")
    wc = (
        tokens(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        "cnt",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
        "word",
    ).select(F.expr("substring(word, i, 2)").alias("pair"), "cnt")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


@register(
    "text_hapax_ratio",
    oracle="""
    with wc as (
      select source, word, count(*) as cnt
      from (select source, unnest(string_split(text, ' ')) as word
            from documents)
      where word <> ''
      group by source, word)
    select source,
           cast(count(*) as bigint) as vocab,
           cast(sum(case when cnt = 1 then 1 else 0 end) as bigint) as hapax,
           cast(sum(cnt) as bigint) as total_tokens,
           {ratio} as hapax_ratio
    from wc
    group by source
    """.format(
        ratio=sql_round_div(
            "sum(case when cnt = 1 then 1 else 0 end)", "count(*)", 6
        )
    ),
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomena share: the fraction of each source's
    vocabulary that occurs exactly once — natural text sits near 0.4-0.6
    (Zipf tail), templated or deduplicated-to-death corpora collapse
    toward 0, OCR noise pushes it toward 1. The corpus-health twin of
    text_zipf_fit, per source.

    One token explode → (source, word) partial-agg rollup → per-source
    rollup of the vocabulary frame: the shuffles carry vocabulary-sized
    (key, count) pairs, never raw tokens, and the final frame is
    one row per source.
    """
    docs = load(spark, sf_dir, "documents")
    wc = (
        tokens(docs)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return wc.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("cnt") == 1).cast("bigint")).alias("hapax"),
        F.sum("cnt").alias("total_tokens"),
        # all-integer half-up round (exactmath.py, r15): an int/int ratio
        # can land exactly on a 6-dp half where double rounds diverge
        round_div(
            F.sum((F.col("cnt") == 1).cast("bigint")), F.count(F.lit(1)), 6
        ).alias("hapax_ratio"),
    )


#: How many most-similar source pairs text_source_bigram_overlap reports.
SOURCE_OVERLAP_TOP = 10


@register(
    "text_source_bigram_overlap",
    oracle=f"""
    with big as (
      select distinct source, bigram
      from (
        select source,
               unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
                      x -> x[1] || ' ' || x[2])) as bigram
        from (select source, string_split(text, ' ') as t from documents)
        where len(t) >= 2)),
    sizes as (select source, count(*) as v from big group by source),
    inter as (
      select a.source as s1, b.source as s2, count(*) as i
      from big a join big b on a.bigram = b.bigram and a.source < b.source
      group by a.source, b.source)
    select s1, s2, cast(i as bigint) as n_common,
           {sql_round_div('i', '(x.v + y.v - i)', 4)} as jacc
    from inter
    join sizes x on x.source = s1
    join sizes y on y.source = s2
    order by jacc desc, s1, s2
    limit {SOURCE_OVERLAP_TOP}
    """,
)
def text_source_bigram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {SOURCE_OVERLAP_TOP} most-similar source pairs by bigram-set
    Jaccard — the corpus-provenance audit that surfaces mirrored or
    scraped-from-each-other sources before they double-count in a
    training mix (unigram vocab is too shared to discriminate; bigram
    sets separate the fixture's sources at 0.54–0.70).

    The candidate join is on the bigram KEY (posting-list equi-join,
    vocabulary-sized shuffle), never sources x sources x texts; the pair
    rollup is at most (n_sources choose 2) rows — a data-model constant —
    so the final ranking sorts a bounded frame. Jaccard rounds before
    ranking with (s1, s2) tiebreaks.
    """
    docs = load(spark, sf_dir, "documents")
    bigrams = F.expr(
        """
        transform(sequence(1, size(toks) - 1),
                  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        """
    )
    big = track(
        docs.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 2)
        .select("source", F.explode(bigrams).alias("bigram"))
        .distinct()
    )
    sizes = big.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a, b = big.alias("a"), big.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.bigram") == F.col("b.bigram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sx = sizes.select(F.col("source").alias("s1"), F.col("v").alias("v1"))
    sy = sizes.select(F.col("source").alias("s2"), F.col("v").alias("v2"))
    return (
        inter.join(F.broadcast(sx), "s1")
        .join(F.broadcast(sy), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            round_div_long(
                F.col("n_common"),
                F.col("v1") + F.col("v2") - F.col("n_common"),
                4,
            ).alias("jacc"),
        )
        .orderBy(F.desc("jacc"), F.asc("s1"), F.asc("s2"))
        .limit(SOURCE_OVERLAP_TOP)
    )


@register(
    "text_char_entropy",
    oracle="""
    with chars as (
      select lang, unnest(string_split(text, '')) as ch from documents),
    cc as (
      select lang, ch, count(*) as n from chars where ch <> ''
      group by lang, ch),
    tot as (select lang, sum(n) as t from cc group by lang)
    select cc.lang as lang,
           cast(count(*) as bigint) as n_distinct_chars,
           cast(max(t) as bigint) as n_chars,
           round(-sum((n * 1.0 / t) * log2(n * 1.0 / t)), 4)
             as char_entropy_bits
    from cc join tot on cc.lang = tot.lang
    group by cc.lang
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-level Shannon entropy (bits/char) — the
    lowest-level corpus-health number: natural language sits ~4-4.5 bits,
    base64/hex blobs and binary-pasted garbage jump toward 6+, repeated
    boilerplate collapses low. The cheap first filter before tokenized
    quality scoring.

    One char explode into a (lang, char)-sized rollup — the shuffle
    carries charset-cardinality counts, not characters; the entropy fold
    runs over the (langs × charset) frame joined to its lang totals
    (broadcast — both frames are charset-bounded). p·log2(p) terms sum
    over at most charset-many values per language, so 4-dp rounding
    absorbs order noise.
    """
    docs = load(spark, sf_dir, "documents")
    cc = (
        docs.select("lang", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cc.groupBy("lang").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        cc.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.max("t").alias("n_chars"),
            F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy_bits"),
        )
    )


#: PII detection patterns — Java-regex/RE2 COMMON SUBSET only (character
#: classes + bounded quantifiers, no lookaround, no \d shorthands), so the
#: engine (Spark, java.util.regex) and the oracle (DuckDB, RE2) match the
#: same spans. Order matters: emails first (their domains contain dots that
#: the IP pattern must never see), then phones, then dotted quads.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "<EMAIL>"),
    ("phone", "555-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans in ``text_col`` (emails, NANP-555 phones, dotted
    quads) and annotate per-row match counts — the library API a curation
    pipeline calls before anything leaves the trust boundary.

    Scale shape: pure map-side JVM regexp (regexp_count +
    chained regexp_replace inside whole-stage codegen) — no shuffle, no
    Python; at 100 TB this runs at scan speed and the scrubbed column
    replaces the raw one so downstream stages can't leak it.
    """
    out = df
    scrubbed = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(scrubbed, F.lit(pat))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return out.withColumn("text_scrubbed", scrubbed)


def _pii_dirty_docs(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection over the (PII-free, lowercase-words)
    fixture corpus — the fake_media_from_documents pattern: 3 of every 5
    docs get one synthetic email / phone / dotted-quad appended as pure
    string arithmetic on doc_id, so the DuckDB oracle reproduces the dirty
    corpus exactly and the detection regexes are exercised non-vacuously."""
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact u"), did.cast("string"), F.lit("@mail"),
        (did % 7).cast("string"), F.lit(".com"),
    )
    phone = F.concat(
        F.lit(" call 555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" host 10."), (did % 256).cast("string"), F.lit("."),
        (did % 100).cast("string"), F.lit("."),
        (did % 250 + 1).cast("string"),
    )
    dirty = (
        F.when(did % 5 == 0, F.concat(F.col("text"), email))
        .when(did % 5 == 1, F.concat(F.col("text"), phone))
        .when(did % 5 == 2, F.concat(F.col("text"), ip))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", "source", dirty.alias("text"))


_PII_DIRTY_SQL = """
    dirty as (
      select doc_id, source,
             case when doc_id % 5 = 0 then text || ' contact u' || doc_id
                       || '@mail' || (doc_id % 7) || '.com'
                  when doc_id % 5 = 1 then text || ' call 555-'
                       || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                  when doc_id % 5 = 2 then text || ' host 10.'
                       || (doc_id % 256) || '.' || (doc_id % 100) || '.'
                       || (doc_id % 250 + 1)
                  else text end as text
      from documents)
"""


@register(
    "text_pii_scrub",
    oracle=f"""
    with {_PII_DIRTY_SQL.strip()},
    scrub as (
      select source, text,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
               '555-[0-9]{{4}}', '<PHONE>', 'g'),
               '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}',
               '<IP>', 'g') as s
      from dirty)
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(len(regexp_extract_all(text,
             '[a-z0-9]+@[a-z0-9]+\\.[a-z]+'))) as bigint) as n_email,
           cast(sum(len(regexp_extract_all(text,
             '555-[0-9]{{4}}'))) as bigint) as n_phone,
           cast(sum(len(regexp_extract_all(text,
             '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')))
             as bigint) as n_ip,
           cast(sum(octet_length(encode(text)) - octet_length(encode(s)))
             as bigint) as bytes_delta
    from scrub
    group by source
    order by source
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub report over a deterministically-dirtied corpus: per
    source, how many emails / 555-phones / dotted quads the scrubber
    found and the net byte delta of redaction — the privacy gate every
    training-data pipeline runs before texts leave the trust boundary
    (new r13; the mandated text-analysis family's missing stage).

    The fixture corpus is PII-free lowercase words, so the query dirties
    it first with doc_id-derived synthetic PII (:func:`_pii_dirty_docs` —
    pure string arithmetic, reproduced exactly by the oracle's CTE, the
    fake_media_from_documents pattern). Detection and redaction then run
    the REAL map-side path (:func:`pii_scrub`: JVM regexp_count + chained
    regexp_replace, patterns restricted to the Java/RE2 common subset) on
    both engines independently — a pattern, ordering, or replace-all bug
    on either side hash-mismatches.
    """
    docs = load(spark, sf_dir, "documents")
    scrubbed = pii_scrub(_pii_dirty_docs(docs))
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_email"),
            F.sum("n_phone").cast("bigint").alias("n_phone"),
            F.sum("n_ip").cast("bigint").alias("n_ip"),
            F.sum(
                F.octet_length("text") - F.octet_length("text_scrubbed")
            )
            .cast("bigint")
            .alias("bytes_delta"),
        )
        .orderBy("source")
    )


#: BPE trainer unroll depth — fixed so the whole multi-round training loop
#: is ONE declarative plan (the graph_bfs_hops pattern applied to tokenizer
#: training) and the oracle mirrors it as chained CTEs.
BPE_TRAIN_ROUNDS = 4


def _bpe_round_winner_sql(vocab_cte: str, out: str) -> str:
    """DuckDB CTE pair: adjacent-pair counts over ``vocab_cte``'s encoded
    seq column, then the argmax merge rule (count desc, left, right)."""
    return f"""
    {out}_p as (
      select syms[i] as l, syms[i + 1] as r, sum(cnt) as cnt
      from (
        select cnt, syms,
               unnest(generate_series(1, len(syms) - 1)) as i
        from (select cnt,
                     string_split(substr(seq, 2, len(seq) - 2), '||') as syms
              from {vocab_cte}))
      group by l, r),
    {out} as (
      select l, r, cast(cnt as bigint) as cnt
      from {out}_p order by cnt desc, l, r limit 1)
    """


def _bpe_apply_sql(vocab_cte: str, winner: str, out: str) -> str:
    return f"""
    {out} as (
      select cnt,
             replace(seq,
                     '|' || (select l from {winner}) || '||'
                         || (select r from {winner}) || '|',
                     '|' || (select l from {winner})
                         || (select r from {winner}) || '|') as seq
      from {vocab_cte})
    """


def _bpe_train_oracle(rounds: int) -> str:
    parts = [
        """v0 as (
      select regexp_replace(word, '(.)', '|\\1|', 'g') as seq,
             cast(count(*) as bigint) as cnt
      from (select unnest(string_split(text, ' ')) as word from documents)
      where word <> ''
      group by word)"""
    ]
    selects = []
    for k in range(1, rounds + 1):
        parts.append(_bpe_round_winner_sql(f"v{k - 1}", f"w{k}"))
        parts.append(_bpe_apply_sql(f"v{k - 1}", f"w{k}", f"v{k}"))
        selects.append(
            f"select {k} as round, l as left_sym, r as right_sym,"
            f" l || r as merged, cnt from w{k}"
        )
    return (
        "with "
        + ",\n".join(p.strip().rstrip(",") for p in parts)
        + "\n"
        + "\nunion all ".join(selects)
        + "\norder by round"
    )


@register("text_bpe_train", oracle=_bpe_train_oracle(BPE_TRAIN_ROUNDS))
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer training (Sennrich et al., ACL 2016):
    the first {BPE_TRAIN_ROUNDS} merge rules learned from the corpus —
    per round the corpus-weighted adjacent-symbol pair argmax, with the
    merge APPLIED before the next round (what text_bpe_merge_step, the
    single-step witness, deliberately stops short of). New r13.

    Scale shape (the real trainer's): everything after the word_count
    rollup factors through the VOCABULARY — symbol sequences, pair
    explosions, and merge application live on the (word, count) table, so
    per-round cost is vocab-sized regardless of corpus bytes, and the
    whole loop unrolls into ONE declarative plan (the graph_bfs_hops
    pattern: no driver iteration, Catalyst sees every round, the tiny
    per-round winner broadcasts into the next).

    Cross-engine determinism: symbol sequences are encoded as
    '|sym|'-wrapped strings, so plain ``replace`` of '|l||r|' with '|lr|'
    gives the standard greedy left-to-right non-overlapping merge
    IDENTICALLY on both engines (no boundary false-matches: symbols are
    fully delimited); winners tie-break on (count desc, left, right).
    """
    from ..operators.relational import tokens

    docs = load(spark, sf_dir, "documents")
    vocab = track(
        tokens(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.regexp_replace("word", "(.)", "|$1|").alias("seq"), "cnt"
        )
    )
    winners = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        syms = F.split(
            F.expr("substring(seq, 2, length(seq) - 2)"), r"\|\|"
        )
        pairs = (
            vocab.select("cnt", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) as l,"
                        "             element_at(syms, i + 1) as r))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.l", "p.r")
        )
        w = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        winners.append(
            w.select(
                F.lit(k).alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                "cnt",
            )
        )
        rule = w.select(F.col("l").alias("_wl"), F.col("r").alias("_wr"))
        nxt = vocab.crossJoin(F.broadcast(rule)).select(
            F.expr(
                "replace(seq, concat('|', _wl, '||', _wr, '|'),"
                " concat('|', _wl, _wr, '|'))"
            ).alias("seq"),
            "cnt",
        )
        # r17 optimization round (guide §7.2 duplicated subtrees; VERDICT
        # r16 #5 — the train-corpus funnel-diamond class): each merged
        # vocab is referenced by BOTH the next round's winner rollup and
        # the next merge application, and rule_k itself embeds winner_k's
        # whole subtree, so the unrolled plan re-derived earlier rounds
        # multiplicatively. One checkpoint_generation slot per
        # intermediate round (run-scoped, released next run; the final
        # vocab is never read) materializes each round once. Interleaved
        # same-session A/B at sf0.1: 1.65 -> 1.04 s (-37%), rows equal.
        # At 100 TB the checkpoint is the VOCABULARY (word-count table),
        # never corpus bytes.
        if k < BPE_TRAIN_ROUNDS:
            vocab = checkpoint_generation(f"bpe_vocab_{k}", nxt)
        else:
            vocab = nxt
    out = winners[0]
    for w in winners[1:]:
        out = out.unionAll(w)
    return out.orderBy("round")


@register(
    "text_bigram_logprob",
    oracle="""
    with big as (
      select doc_id,
             unnest(list_transform(
               list_zip(t[1:len(t)-1], t[2:len(t)]),
               x -> struct_pack(w1 := x[1], w2 := x[2]))) as b
      from (select doc_id, string_split(text, ' ') as t from documents)
      where len(t) >= 2),
    bcnt as (select b.w1 as w1, b.w2 as w2, count(*) as cb
             from big group by b.w1, b.w2),
    first_cnt as (select w1, sum(cb) as cf from bcnt group by w1),
    scored as (
      select big.doc_id,
             count(*) as n_bigrams,
             round(avg(ln(cast(bc.cb as double) / fc.cf)), 4)
               as avg_logprob
      from big
      join bcnt bc on bc.w1 = big.b.w1 and bc.w2 = big.b.w2
      join first_cnt fc on fc.w1 = big.b.w1
      group by big.doc_id)
    select doc_id, n_bigrams, avg_logprob
    from scored
    order by avg_logprob, doc_id
    limit 20
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 least-probable documents under the corpus's own CONDITIONAL
    bigram LM (score = mean ln P(w2 | w1), P = bigram count / first-word
    bigram count) — the order-sensitive companion of
    ``text_unigram_logprob``: a doc of common words in implausible order
    ranks low here but not there (the CCNet/Gopher perplexity-filter
    shape, with the corpus itself as the model).

    Plan: one HOF pass builds the per-doc bigram table (no window — the
    (i, i+1) pairing is map-side ``transform(sequence(...))`` inside each
    row); ONE vocabulary-pair rollup feeds both the numerator table and,
    re-aggregated by first word, the denominator (vocab-sized, no second
    corpus scan). The score join probes the token-scale bigram table
    against the vocab²-bounded count tables — AQE broadcasts them and
    skew-splits the Zipf-head first words, exactly as documented on the
    unigram query. Scores round to 4 dp BEFORE the bottom-20 ranking with
    doc_id tiebreaks so float summation order cannot flip membership.
    """
    docs = load(spark, sf_dir, "documents")
    toked = docs.withColumn("toks", F.split("text", " "))
    bigrams = F.expr(
        """
        transform(sequence(1, size(toks) - 1),
                  i -> struct(element_at(toks, i) as w1,
                              element_at(toks, i + 1) as w2))
        """
    )
    big = (
        toked.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # tracked persist: the bigram-count rollup feeds the numerator join AND
    # the first-word denominator rollup, so the corpus is bigram-exploded
    # exactly twice (count build + probe side), never three times.
    bcnt = track(
        big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    )
    first_cnt = bcnt.groupBy("w1").agg(F.sum("cb").alias("cf"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(first_cnt, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("cb").cast("double") / F.col("cf"))), 4
            ).alias("avg_logprob"),
        )
    )
    return scored.orderBy("avg_logprob", "doc_id").limit(20)
