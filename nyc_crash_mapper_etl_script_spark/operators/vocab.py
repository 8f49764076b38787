"""Corpus vocabulary statistics (training-pipeline north star).

Token-level aggregates over a document corpus: global vocabulary with
frequencies, top-k heavy hitters, and per-token document frequency
(the DF half of TF-IDF).  All built from the same whitespace
tokenization as ``functions.text`` so token counts, vocab, and
quality filters agree on what a token is.

Plan shape at 100 TB: tokenize-and-explode is a codegen'd generate
over the scan (no Python), the count is ONE hash aggregate with
map-side partial combine (the shuffle carries one row per distinct
token per task, not per occurrence), and top-k is
TakeOrderedAndProject -- per-partition heaps, no global sort.  Token
frequency is Zipfian by nature; partial aggregation absorbs the skew
(the hot token collapses to one row per task before the exchange), so
no salting is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.operators.topk import top_k

__all__ = ["tokens", "vocab_counts", "vocab_topk", "doc_frequency"]


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empties removed (NULL-safe).
    Matches ``functions.text.whitespace_token_count``'s notion of a
    token so counts and vocab agree."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    return F.filter(F.split(t, r"\s+"), lambda x: x != "")


def vocab_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n) global term frequencies: explode + one partial-agg
    count."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def vocab_topk(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Top-k vocabulary by frequency, token-asc tie-break (so the
    boundary of the top-k set is engine-independent)."""
    return top_k(vocab_counts(df, text_col), "n", k, "token")


def doc_frequency(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, df) document frequencies: distinct tokens per doc via
    ``array_distinct`` BEFORE the explode (deduping inside the row is
    free; deduping after the explode would shuffle every occurrence),
    then the same one-shuffle count."""
    return (
        df.select(
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, token, tf, score): smoothed TF-IDF over the corpus,
    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` rounded at 6.

    Plan: ONE explode feeds both aggregates -- term frequencies are a
    (doc, token) hash aggregate; document frequencies reuse the tf
    relation (count per token over it == distinct-docs-per-token,
    since tf rows are already per (doc, token)), so no second explode
    and no count-distinct.  The doc count N joins in as a broadcast
    1-row aggregate, and df joins back on the token key.  Zipf skew
    on hot tokens collapses in the partial aggregates."""
    # tf feeds BOTH the df aggregate and the scoring join, so
    # Catalyst clones the tokenize + explode + (doc, token) aggregate
    # into each consumer.  Deliberately NOT materialized: the r12
    # lazy localCheckpoint was A/B'd on the 10x heavy tier (r13,
    # BENCH_HEAVY_QUARTET_c{32,8}.json): at 32 cores the two forms
    # were within noise (0.78 s recompute vs 0.77 s checkpoint), and
    # at 8 cores recompute won (0.84 s vs 0.89 s) -- the cloned pass
    # stays fused in codegen, while the checkpoint pinned a
    # corpus-sized (doc, token, tf) relation for no clear gain.
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("__n"))
    idf = F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "token",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("score"),
        )
    )


def top_terms_per_doc(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-n characteristic terms per document by TF-IDF (score desc,
    token asc tie-break): one window over the tf-idf relation,
    partitioned by doc -- bounded output, deterministic boundary."""
    from pyspark.sql import Window

    scored = tf_idf(df, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select(id_col, "token", "tf", "score", "rank")
    )
