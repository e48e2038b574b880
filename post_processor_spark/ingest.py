"""Ingest: reference-format crawler outputs → canonical documents(doc_id, spans)
+ docs_meta.

Replaces the reference's JSON→CSV staging + dask load
(processor/post_input/load_input.py:142-217,245-300) with direct DataFrame
reads, and hoists the per-(doc × scope) anchor regex of
processor/post_processor/processor_domain.py:51-53 into a single vectorized
span-extraction pass at ingest: anchors are parsed ONCE per document into
`link` spans; citation matching later is an equality join on registrable
domain, not a regex per scope entry.

Span extraction is pure JVM column expressions (regexp_extract_all +
transform/filter higher-order functions — whole-stage codegen, no Python
in the span path); the only Python is the uuid5 id derivation (P12) and
the meta normalization, both Arrow-batched.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import DOCS_META

# one compiled pass over html_content; reference pattern
# (processor_domain.py:51-52) is per-scope-domain — ours captures every
# anchor and defers scope filtering to a join.
_ANCHOR_RE = r"""(?is)<a\s+href=["']([^"']+)["'][^>]*>(.*?)</a>"""


def _uuid5(series: pd.Series) -> pd.Series:
    # uuid5(NAMESPACE_DNS, url) ids, as the reference derives them
    # (load_input.py:130-132). List-comp inside the Arrow batch only.
    return pd.Series(
        [str(uuid.uuid5(uuid.NAMESPACE_DNS, u)) for u in series.astype(str)],
        index=series.index,
    )


# returnType as a DataType INSTANCE, not a DDL string — the string form
# would be parsed through the active SparkContext at import time
_uuid5_udf = F.pandas_udf(_uuid5, T.StringType())

_SPAN_ARR = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _span(kind, text, media_ref, offset):
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.cast("int").alias("offset"),
    )


def _text_span(at):
    return F.when(
        at != "", F.array(_span(F.lit("text"), at, F.lit(""), F.lit(0)))
    ).otherwise(F.array().cast(_SPAN_ARR))


def _col_or(df: DataFrame, name: str, default):
    return F.col(name) if name in df.columns else default


def domain_docs_to_documents(raw: DataFrame) -> DataFrame:
    """raw: url,title,author,date,html_content,article_text,domain,
    found_urls(array<struct<title,url>>) → canonical documents.

    Span order per FIXTURES.md §3: article_text first, then anchors in
    html_content document order, then found_urls entries not already seen
    as anchors (order preserved; duplicates WITHIN found_urls are kept —
    only anchor urls suppress). Fully JVM-side since round 3:
    regexp_extract_all for the anchor scan + transform/filter for the
    span assembly (was an Arrow-batch pandas pass with a per-row list
    loop — VERDICT r2 minor #3); only the uuid5 id (P12) touches Python,
    as a scalar Arrow-batched UDF over the url column alone."""
    html = F.coalesce(_col_or(raw, "html_content", F.lit(None)).cast("string"), F.lit(""))
    urls = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 1)
    texts = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 2)
    at = F.coalesce(_col_or(raw, "article_text", F.lit(None)).cast("string"), F.lit(""))
    n_text = F.when(at != "", F.lit(1)).otherwise(F.lit(0))
    anchor_spans = F.transform(
        urls, lambda u, i: _span(F.lit("link"), F.get(texts, i), u, n_text + i)
    )
    fu = F.coalesce(
        _col_or(
            raw, "found_urls",
            F.lit(None).cast("array<struct<title:string,url:string>>"),
        ),
        F.array().cast("array<struct<title:string,url:string>>"),
    )
    # a found_urls entry is kept unless its url already appeared as an
    # anchor; null urls are kept (array_contains yields null → coalesce)
    kept = F.filter(
        fu, lambda e: F.coalesce(~F.array_contains(urls, e["url"]), F.lit(True))
    )
    found_spans = F.transform(
        kept,
        lambda e, j: _span(
            F.lit("link"), e["title"], e["url"], n_text + F.size(urls) + j
        ),
    )
    spans = F.concat(_text_span(at), anchor_spans, found_spans).cast(_SPAN_ARR)
    return raw.select(
        _uuid5_udf(F.col("url").cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )


def twitter_docs_to_documents(raw: DataFrame) -> DataFrame:
    """raw: url,article_text,found_urls(array<string>),mentions(array<string>)
    → canonical documents. Spans: text, then found_urls order, then
    mentions (FIXTURES.md §4; reference field order
    load_input.py:108-127,200). Pure column expressions — see
    domain_docs_to_documents."""
    at = F.coalesce(_col_or(raw, "article_text", F.lit(None)).cast("string"), F.lit(""))
    n_text = F.when(at != "", F.lit(1)).otherwise(F.lit(0))
    fu = F.coalesce(
        _col_or(raw, "found_urls", F.lit(None).cast("array<string>")),
        F.array().cast("array<string>"),
    )
    mn = F.coalesce(
        _col_or(raw, "mentions", F.lit(None).cast("array<string>")),
        F.array().cast("array<string>"),
    )
    link_spans = F.transform(
        fu, lambda u, i: _span(F.lit("link"), F.lit(""), u.cast("string"), n_text + i)
    )
    mention_spans = F.transform(
        mn,
        lambda m, j: _span(
            F.lit("mention"), F.lit(""), F.concat(F.lit("@"), m.cast("string")),
            n_text + F.size(fu) + j,
        ),
    )
    spans = F.concat(_text_span(at), link_spans, mention_spans).cast(_SPAN_ARR)
    return raw.select(
        _uuid5_udf(F.col("url").cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )


def domain_docs_meta(raw: DataFrame) -> DataFrame:
    """Normalized metadata row per domain doc (load_input.py:276-295
    semantics: type='article', zeroed counts, fillna(''))."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": _uuid5(pdf["url"]),
                    "url": pdf["url"].astype(str),
                    "doc_type": "article",
                    "domain": pdf.get("domain", "").fillna(""),
                    "seq": pdf["seq"],
                    "title": pdf.get("title", "").fillna(""),
                    "author": pdf.get("author", "").fillna(""),
                    "date": pdf.get("date", "").fillna(""),
                    "article_text": pdf.get("article_text", "").fillna(""),
                    "html_content": pdf.get("html_content", "").fillna(""),
                    "retweet_count": 0,
                    "reply_count": 0,
                    "like_count": 0,
                    "quote_count": 0,
                }
            )
            yield out

    return raw.mapInPandas(gen, schema=DOCS_META)


def twitter_docs_meta(raw: DataFrame) -> DataFrame:
    """Normalized metadata per tweet (load_input.py:165-207: type='twitter',
    empty title/author, domain='@handle')."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": _uuid5(pdf["url"]),
                    "url": pdf["url"].astype(str),
                    "doc_type": "twitter",
                    "domain": pdf.get("domain", "").fillna(""),
                    "seq": pdf["seq"],
                    "title": "",
                    "author": pdf.get("author", "").fillna(""),
                    "date": pdf.get("date", "").fillna(""),
                    "article_text": pdf.get("article_text", "").fillna(""),
                    "html_content": "",
                    "retweet_count": pdf.get("retweet_count", 0).fillna(0).astype("int64"),
                    "reply_count": pdf.get("reply_count", 0).fillna(0).astype("int64"),
                    "like_count": pdf.get("like_count", 0).fillna(0).astype("int64"),
                    "quote_count": pdf.get("quote_count", 0).fillna(0).astype("int64"),
                }
            )
            yield out

    return raw.mapInPandas(gen, schema=DOCS_META)


def dedupe_by_url(docs_meta: DataFrame) -> DataFrame:
    """drop_duplicates(subset=['url']) keeping first by load order
    (load_input.py:294). Expressed as a window, not dropDuplicates, so
    'first' is deterministic under parallelism."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("seq")
    return (
        docs_meta.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_tables(
    domain_raw: DataFrame | None = None, twitter_raw: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Raw crawler rows of either source (each needs url and seq) →
    (documents, docs_meta).

    Re-crawled URLs are dropped from the RAW rows, before both builders,
    as the reference loader does (load_input.py:294): documents are keyed
    by uuid5(url), so deduping docs_meta alone would keep every copy's
    spans under one doc_id and report its citations once per copy."""
    parts = []
    if domain_raw is not None:
        raw = dedupe_by_url(domain_raw)
        parts.append((domain_docs_to_documents(raw), domain_docs_meta(raw)))
    if twitter_raw is not None:
        raw = dedupe_by_url(twitter_raw)
        parts.append((twitter_docs_to_documents(raw), twitter_docs_meta(raw)))
    if not parts:
        raise ValueError("build_tables needs domain_raw or twitter_raw")
    documents, meta = parts[0]
    for d, m in parts[1:]:
        documents = documents.unionByName(d)
        meta = meta.unionByName(m)
    return documents, meta
