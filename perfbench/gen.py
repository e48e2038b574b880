"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (size, seed) built from Spark column
expressions over ``spark.range``, so the same seed gives the same rows at
any parallelism. The generators live here rather than in the program's
``fixtures`` module so that a change to the program cannot silently change
the benchmark's inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _h(seed: int, salt: int, *cols) -> Column:
    """Non-negative deterministic hash of ``cols`` under (seed, salt)."""
    return F.abs(F.xxhash64(*cols, F.lit(seed * 1000 + salt)))


def _s(c) -> Column:
    return c.cast("string")


def _zipf_host(seed: int, salt: int, n_hosts: int, mega_share: float) -> Column:
    """Host id of the row: squared-uniform (Zipf-flavoured head) with
    ``mega_share`` of rows on host 0."""
    u = (_h(seed, salt, F.col("id")) % 1_000_000) / 1_000_000.0
    zipf = F.floor(F.pow(u, F.lit(2.0)) * n_hosts).cast("long")
    mega = (_h(seed, salt + 1, F.col("id")) % 1000) < int(mega_share * 1000)
    return F.when(mega, F.lit(0).cast("long")).otherwise(zipf)


# -------------------------------------------------------------------- crawl

def crawl_corpus(spark: SparkSession, n_docs: int, n_hosts: int, seed: int,
                 mega_share: float = 0.2, links_max: int = 8) -> DataFrame:
    """Documents (doc_id, spans, url, host, seq) whose link spans point at
    other corpus documents and at fresh URLs, so each generation both
    fetches and discovers. One in 40 links is a session-id alias (a crawl
    trap the trap gate should drop)."""
    host_id = _zipf_host(seed, 11, n_hosts, mega_share)
    host = F.concat(F.lit("host"), _s(host_id), F.lit(".example.com"))
    url = F.concat(F.lit("https://"), host, F.lit("/doc/"), _s(F.col("id")))
    k = (_h(seed, 13, F.col("id")) % (links_max + 1)).cast("int")
    span_t = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

    def link(i):
        target = F.concat(
            F.lit("https://host"),
            _s(_h(seed, 14, F.col("id"), i) % (n_hosts * 2)),
            F.lit(".example.com/doc/"),
            _s(_h(seed, 15, F.col("id"), i) % (n_docs * 2)),
        )
        trap = (_h(seed, 16, F.col("id"), i) % 40) == 0
        target = F.when(
            trap, F.concat(target, F.lit(";jsessionid="), _s(F.col("id")))
        ).otherwise(target)
        return F.struct(
            F.lit("link").alias("kind"),
            F.concat(F.lit("anchor "), _s(i)).alias("text"),
            target.alias("media_ref"),
            i.cast("int").alias("offset"),
        )

    links = F.transform(
        F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(F.array().cast("array<int>")),
        link,
    )
    text = F.array(F.struct(
        F.lit("text").alias("kind"),
        F.concat(F.lit("body of doc "), _s(F.col("id"))).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    ))
    return spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism).select(
        F.concat(F.lit("doc-"), _s(F.col("id"))).alias("doc_id"),
        F.concat(text, links).cast(span_t).alias("spans"),
        url.alias("url"),
        host.alias("host"),
        F.col("id").alias("seq"),
    )


# ------------------------------------------------------------------ analyze

def scope(spark: SparkSession, n_pubs: int, n_journos: int) -> DataFrame:
    """Citation/crawl scope: ``n_pubs`` publisher sites (http source, two
    aliases, every third with a handle) then ``n_journos`` handle-only
    entries. Aliases are multi-word so they only match between
    delimiters, as the reference pattern requires."""
    pubs = spark.range(0, n_pubs, 1, 1).select(
        F.col("id").cast("int").alias("scope_seq"),
        F.concat(F.lit("https://pub"), _s(F.col("id")), F.lit(".com/")).alias("source"),
        F.concat(F.lit("Publisher "), _s(F.col("id"))).alias("name"),
        F.lit("News Source").alias("type"),
        F.concat(F.lit("Group "), _s(F.col("id") % 17)).alias("publisher"),
        F.lit("news").alias("tags"),
        F.array(
            F.concat(F.lit("Pub "), _s(F.col("id")), F.lit(" News")),
            F.concat(F.lit("The Pub "), _s(F.col("id")), F.lit(" Daily")),
        ).alias("aliases"),
        F.when(
            F.col("id") % 3 == 0,
            F.array(F.concat(F.lit("pubdesk"), _s(F.col("id")))),
        ).otherwise(F.array().cast("array<string>")).alias("twitter_handles"),
    )
    journos = spark.range(0, n_journos, 1, 1).select(
        (F.col("id") + n_pubs).cast("int").alias("scope_seq"),
        F.concat(F.lit("@journo"), _s(F.col("id"))).alias("source"),
        F.concat(F.lit("Journalist "), _s(F.col("id"))).alias("name"),
        F.lit("Twitter Handle").alias("type"),
        F.lit("").alias("publisher"),
        F.lit("Twitter Journalists").alias("tags"),
        F.array().cast("array<string>").alias("aliases"),
        F.array(F.concat(F.lit("journo"), _s(F.col("id")))).alias("twitter_handles"),
    )
    return pubs.unionByName(journos)


def _words(seed: int, salt: int, n_pubs: int, n_journos: int, n_words: int) -> Column:
    """Article or tweet body: filler words with, per word slot, a 1-in-12
    chance of a scope alias and a 1-in-20 chance of an @handle. Every
    injected token is space-delimited on both sides."""
    def word(i):
        r = _h(seed, salt, F.col("id"), i) % 240
        pub = _s(_h(seed, salt + 1, F.col("id"), i) % n_pubs)
        jou = _s(_h(seed, salt + 2, F.col("id"), i) % n_journos)
        return (
            F.when(r < 10, F.concat(F.lit("Pub "), pub, F.lit(" News")))
            .when(r < 20, F.concat(F.lit("The Pub "), pub, F.lit(" Daily")))
            .when(r < 28, F.concat(F.lit("@journo"), jou))
            .when(r < 32, F.concat(F.lit("@pubdesk"), pub))
            .otherwise(F.concat(F.lit("w"), _s(r)))
        )

    return F.concat(
        F.lit("said "),
        F.array_join(F.transform(F.sequence(F.lit(1), F.lit(n_words)), word), " "),
        F.lit(" end"),
    )


def _target(seed: int, salt: int, i, n_pubs: int, n_journos: int, block: int) -> Column:
    """A link target: an article or a tweet status URL of the source row's
    own block of ``block`` ids, a publisher section page (with 'www.'), or
    an out-of-scope site. Keeping document links inside a block makes every
    block's output depend on that block alone, so a block can be checked
    against the oracle on its own."""
    r = _h(seed, salt, F.col("id"), i) % 10
    pick = _h(seed, salt + 1, F.col("id"), i)
    doc = F.col("id") - F.col("id") % block + pick % block
    return (
        F.when(r < 3, F.concat(
            F.lit("https://pub"), _s(doc % n_pubs), F.lit(".com/article/"), _s(doc)))
        .when(r < 5, F.concat(
            F.lit("https://www.pub"), _s(pick % n_pubs), F.lit(".com/section/"), _s(pick % 97)))
        .when(r < 8, F.concat(
            F.lit("https://twitter.com/journo"), _s(doc % n_journos),
            F.lit("/status/"), _s(doc)))
        .otherwise(F.concat(F.lit("https://elsewhere"), _s(pick % 50), F.lit(".org/x")))
    )


def _rows(spark: SparkSession, n: int, block: int) -> DataFrame:
    """``n`` load-order rows (``row``) and the document each one carries
    (``id``). The last row of every block is a re-crawl: it repeats the
    document of the row before it, same URL and content, later in load
    order, as crawler outputs do, so ``dedupe_by_url`` drops one row per
    block."""
    rid = F.col("id")
    return spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        rid.alias("row"),
        F.when(rid % block == block - 1, rid - 1).otherwise(rid).alias("id"),
    )


def distinct_urls(n: int, block: int) -> int:
    """Rows of ``domain_raw`` (or ``twitter_raw``) left once re-crawls
    are dropped."""
    return n - n // block


def domain_raw(spark: SparkSession, n: int, n_pubs: int, n_journos: int,
               block: int, seed: int) -> DataFrame:
    """Raw domain-crawler rows: html with anchors, article text with
    aliases and handles, found_urls overlapping the anchors. One row per
    block is a re-crawl (see ``_rows``)."""
    k = (_h(seed, 21, F.col("id")) % 5 + 1).cast("int")
    anchor_urls = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: _target(seed, 22, i, n_pubs, n_journos, block),
    )
    body = _words(seed, 25, n_pubs, n_journos, 24)
    html = F.concat(
        F.lit("<div><p> "), body, F.lit(" </p> "),
        F.array_join(
            F.transform(
                anchor_urls,
                lambda u, j: F.concat(
                    F.lit('<a href="'), u, F.lit('">read more '), _s(j), F.lit("</a>")
                ),
            ),
            " ",
        ),
        F.lit("</div>"),
    )
    # found_urls repeats the first anchor (suppressed at ingest) and adds
    # one link the html does not carry
    found = F.array(
        F.struct(F.lit("first").alias("title"), F.get(anchor_urls, 0).alias("url")),
        F.struct(
            F.lit("extra").alias("title"),
            _target(seed, 27, F.lit(0), n_pubs, n_journos, block).alias("url"),
        ),
    )
    pub = F.col("id") % n_pubs
    return _rows(spark, n, block).select(
        F.col("row").alias("seq"),
        F.concat(F.lit("https://pub"), _s(pub), F.lit(".com/article/"), _s(F.col("id"))).alias("url"),
        F.concat(F.lit("Story "), _s(F.col("id"))).alias("title"),
        F.lit("Staff").alias("author"),
        F.lit("2021-05-01").alias("date"),
        html.alias("html_content"),
        body.alias("article_text"),
        F.concat(F.lit("https://pub"), _s(pub), F.lit(".com/")).alias("domain"),
        found.alias("found_urls"),
    )


def twitter_raw(spark: SparkSession, n: int, n_pubs: int, n_journos: int,
                block: int, seed: int) -> DataFrame:
    """Raw twitter-crawler rows: text, found_urls and mentions. Built for
    as many tweets as ``domain_raw`` has articles: tweet ``id`` shares block
    ``id // block`` with article ``id``, and ``seq`` continues after the
    ``n`` articles (load order: domain rows first). One row per block is a
    re-crawl (see ``_rows``)."""
    jou = F.col("id") % n_journos
    k = (_h(seed, 31, F.col("id")) % 4).cast("int")
    found = F.transform(
        F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(F.array().cast("array<int>")),
        lambda i: _target(seed, 32, i, n_pubs, n_journos, block),
    )
    m = (_h(seed, 34, F.col("id")) % 3).cast("int")
    mentions = F.transform(
        F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(F.array().cast("array<int>")),
        lambda i: F.concat(F.lit("journo"), _s(_h(seed, 35, F.col("id"), i) % n_journos)),
    )
    return _rows(spark, n, block).select(
        (F.col("row") + n).alias("seq"),
        F.concat(
            F.lit("https://twitter.com/journo"), _s(jou), F.lit("/status/"), _s(F.col("id"))
        ).alias("url"),
        F.concat(F.lit("@journo"), _s(jou)).alias("domain"),
        F.concat(F.lit("Journalist "), _s(jou)).alias("author"),
        F.lit("2021-05-02").alias("date"),
        _words(seed, 36, n_pubs, n_journos, 12).alias("article_text"),
        found.alias("found_urls"),
        mentions.alias("mentions"),
        (_h(seed, 37, F.col("id")) % 100).alias("retweet_count"),
        (_h(seed, 38, F.col("id")) % 50).alias("reply_count"),
        (_h(seed, 39, F.col("id")) % 500).alias("like_count"),
        (_h(seed, 40, F.col("id")) % 20).alias("quote_count"),
    )
