"""Inverted index over the documents table.

The retrieval-side complement of the corpus-curation operators: a
web-scale pipeline that crawls and curates text almost always also
builds a term index over it (the classic Brin & Page WWW'98 "hit
lists" / standard IR posting lists — public textbook algorithms:
Manning, Raghavan & Schütze, *Introduction to Information Retrieval*,
ch. 1–6). Everything here is one explode + groupBys on (term, doc) and
term — the canonical two-shuffle index build that map-side combines at
any corpus size. Nothing collects; the vocabulary lives distributed as
the df table and joins back on the (already co-partitioned) term key.

Tokenization is ``functions.text.tokens`` — the same lowercase
alphanumeric split every other text operator (and its DuckDB oracle
twin) uses, so index terms agree with shingle/stopword terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def postings(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The inverted index: one row per (term, doc) — (term, doc_id,
    tf, positions). ``positions`` are 0-based token offsets in
    ascending order (the phrase-query/proximity surface). One shuffle
    on (term, doc_id); the explode is the inherent index-build cost
    (corpus token count rows of a few bytes each)."""
    occ = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TX.tokens(F.col(text_col))).alias("pos", "term"),
    )
    return occ.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
        F.array_sort(F.collect_list("pos")).alias("positions"),
    )


def doc_frequencies(post: DataFrame) -> DataFrame:
    """(term, df) — number of documents containing the term. Map-side
    combinable count over the postings (one shuffle on term)."""
    return post.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def top_terms(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document most-salient term under an ALL-INTEGER ordering:
    max tf, then min df (rarer wins), then lexicographic min term.
    Monotone in tf*idf for fixed tf, deterministic, and hash-stable
    across engines (no transcendental in the ranking). Returns
    (doc_id, top_term, top_term_tf, top_term_df); documents with no
    tokens are absent (the caller left-joins)."""
    post = postings(documents, text_col=text_col, id_col=id_col)
    dfs = doc_frequencies(post)
    j = post.join(dfs, "term")
    key = F.struct(
        (-F.col("tf")).alias("a"), F.col("df").alias("b"), F.col("term").alias("c")
    )
    return j.groupBy("doc_id").agg(
        F.min_by(F.col("term"), key).alias("top_term"),
        F.min_by(F.col("tf"), key).alias("top_term_tf"),
        F.min_by(F.col("df"), key).alias("top_term_df"),
    )
