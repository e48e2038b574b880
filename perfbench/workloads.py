"""The benchmark's workloads: inputs, one timed pass, and correctness checks.

Each workload object is built inside a running Spark session and used in
this order: ``build_inputs`` and ``warm_up`` (set-up), then ``run_pass``
(timed) followed by ``check`` (untimed) once per pass, and ``layer_counts``
(untimed, after the traced pass only). Before every pass after the first,
the caches are dropped and ``build_inputs`` runs again, untimed.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from pyspark.sql import functions as F

import gen


class CheckFailed(Exception):
    """A pass produced output that the workload's check rejects."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def release_caches(spark) -> None:
    """Drop every cache in the session: the program leaves a pass's caches
    to its caller. Unpersisting only the cached RDDs would leave their
    DataFrame cache entries registered, and a later ``analyze`` pass then
    runs about 20 s slower than the one before it."""
    spark.catalog.clearCache()
    for e in spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray():
        e.getValue().unpersist(False)


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, data files only (no .crc / markers)."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# -------------------------------------------------------------------- crawl

class Crawl:
    """Start of a crawl: ``frontier.bootstrap`` of a seed list, then the
    first ``frontier.run_generation``, which ranks the full pending set and
    commits frontier, seen, bloom, exact-index, head and metrics tables in
    one snapshot transaction. Robots rules block every 16th host, the
    crawl-trap gate is on and the seen filter uses the incrementally
    maintained exact index (``exact_join='prebuilt'``)."""

    name = "crawl"
    N_DOCS = 5000
    N_HOSTS = 100
    N_SEEDS = 1000
    BUDGET = 8
    COMPACT_EVERY = 8
    ROBOTS_EVERY = 16

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.expected = None

    def wraps(self, tr) -> None:
        from post_processor_spark import canon, frontier
        from post_processor_spark.state import SnapshotStore

        tr.wrap(canon, "with_canonical", "canon.with_canonical")
        for fn in ("politeness_schedule", "top_per_host", "apply_robots"):
            tr.wrap(frontier, fn, f"frontier.{fn}")
        # frontier binds the seen functions by name at import
        for fn in ("filter_unseen", "build_bloom", "build_exact_index",
                   "merge_bloom", "merge_exact_index"):
            tr.wrap(frontier, fn, f"seen.{fn}")
        tr.wrap(SnapshotStore, "write_many", "state.write_many")
        tr.wrap(SnapshotStore, "read", "state.read")

    def build_inputs(self) -> None:
        self.docs = gen.crawl_corpus(
            self.spark, self.N_DOCS, self.N_HOSTS, self.seed
        ).persist()
        self.docs.count()
        self.seeds = self.docs.filter(F.col("seq") < self.N_SEEDS).select(
            "url", F.lit(1).alias("priority"), "seq"
        )
        # link targets reach host ids up to 2 * N_HOSTS; host 0, the
        # mega-host, stays crawlable so its salted ranking runs
        self.blocked_hosts = [
            f"host{h}.example.com" for h in range(1, 2 * self.N_HOSTS, self.ROBOTS_EVERY)
        ]
        self.robots = self.spark.createDataFrame(
            [(h, ["/"]) for h in self.blocked_hosts], "host string, disallow array<string>"
        )

    def warm_up(self) -> None:
        """Start the Python workers (the bloom build is a pandas UDF) and
        compile canonicalisation on 100 corpus URLs. A warm-up pass would
        make the run half as long again."""
        from post_processor_spark import canon, seen

        urls = self.docs.filter(F.col("seq") < 100).select("url")
        seen.build_bloom(canon.with_canonical(urls, "url")).count()

    def run_pass(self, k: int, tr) -> dict:
        from post_processor_spark import frontier
        from post_processor_spark.state import SnapshotStore

        self.store_dir = os.path.join(self.work, f"crawl-{k}")
        self.store = SnapshotStore(self.store_dir)
        with tr.span("frontier.bootstrap"):
            frontier.bootstrap(self.spark, self.store, self.seeds)
        t = time.time()
        with tr.span("frontier.run_generation"):
            stats = frontier.run_generation(
                self.spark, self.store, self.docs, 1,
                budget_per_host=self.BUDGET, compact_every=self.COMPACT_EVERY,
                robots=self.robots, trap_gate=True, exact_join="prebuilt",
            )
        return {"items": stats["scheduled"], "stats": stats, "generation_s": time.time() - t}

    def _reference(self, done_urls: set) -> tuple:
        """(scheduled, discovered, new, blocked) of the generation, worked
        out in Python from the generator's rows, without the program.
        Corpus URLs are already canonical, so a URL string is its key.

        The seeds are the pending set. Per host, min(budget, seeds) are
        scheduled unless robots block the host; a blocked host's seeds are
        all blocked. Discovered is the distinct link targets of the fetched
        (scheduled) documents, less the session-id trap links; new is
        discovered less the seeds, which bootstrap marked seen. Which
        URLs of a host are scheduled is the program's ranking, so
        discovered and new follow the committed ``done`` URLs."""
        if self.expected is None:
            rows = self.docs.select(
                "url", "host", F.col("seq") < self.N_SEEDS, "spans.media_ref"
            ).collect()
            self.seed_urls = {r[0] for r in rows if r[2]}
            self.links = {r[0]: [u for u in r[3] if u] for r in rows}
            per_host = Counter(r[1] for r in rows if r[2])
            blocked = set(self.blocked_hosts)
            self.expected = (
                sum(min(self.BUDGET, n) for h, n in per_host.items() if h not in blocked),
                sum(n for h, n in per_host.items() if h in blocked),
            )
        discovered = {
            u for d in done_urls for u in self.links[d] if ";jsessionid=" not in u
        }
        scheduled, blocked = self.expected
        return scheduled, len(discovered), len(discovered - self.seed_urls), blocked

    def check(self, result: dict) -> None:
        """No URL scheduled twice, robots-blocked hosts never scheduled, no
        host over budget, the committed count equals the count the
        generation reported, and the generation's (scheduled, discovered,
        new, blocked) counts equal a reference computed without the
        program (``_reference``)."""
        stats = result["stats"]
        done = self.store.read(self.spark, "frontier").filter(F.col("status") == "done")
        rows = done.select("url_hash", "url", "host", "host_hash").collect()
        urls = {r["url_hash"] for r in rows}
        _require(len(urls) == len(rows), f"{len(rows) - len(urls)} URLs scheduled twice")
        blocked = set(self.blocked_hosts)
        bad_host = sum(r["host"] in blocked for r in rows)
        _require(bad_host == 0, f"{bad_host} URLs scheduled on robots-blocked hosts")
        worst = max(Counter(r["host_hash"] for r in rows).values(), default=0)
        _require(worst <= self.BUDGET, f"a host got {worst} URLs (budget {self.BUDGET})")
        _require(len(rows) == stats["scheduled"] > 0,
                 f"{len(rows)} URLs committed, generation reported {stats['scheduled']}")
        counts = (stats["scheduled"], stats["discovered"], stats["new"], stats["blocked"])
        ref = self._reference({r["url"] for r in rows})
        _require(counts == ref, f"(scheduled, discovered, new, blocked) {counts} != reference {ref}")

    def layer_counts(self, result: dict) -> dict:
        """Counts measured at layer boundaries after the pass: seen-filter
        yield, bloom false-positive share, and what the state store wrote."""
        from post_processor_spark import canon, seen

        stats = result["stats"]
        out = {"seen.new_ratio": stats["new"] / max(1, stats["discovered"])}
        # every corpus URL and link target, canonicalised, against the
        # final seen set: some were crawled or discovered, most were not
        targets = self.docs.select(F.explode("spans.media_ref").alias("url")).filter(
            F.col("url") != ""
        ).unionByName(self.docs.select("url"))
        cand = canon.with_canonical(targets, "url").select("url_hash").distinct()
        seen_tbl = self.store.read(self.spark, "seen").select("url_hash").distinct()
        bloom = seen.merge_bloom(self.store.read(self.spark, "bloom"))
        maybe = seen.bloom_filter_candidates(cand, bloom).filter("maybe_seen")
        row = maybe.join(seen_tbl.withColumn("_in", F.lit(1)), "url_hash", "left").agg(
            F.count(F.lit(1)).alias("maybe"),
            F.count(F.when(F.col("_in").isNull(), 1)).alias("fp"),
        ).first()
        out["seen.bloom_fp_ratio"] = row["fp"] / max(1, row["maybe"])
        # two commits: the bootstrap's and the generation's
        nbytes, nfiles = _dir_size(self.store_dir)
        out["state.bytes_written_mb"] = nbytes / 1e6 / 2
        out["state.files_written"] = nfiles / 2
        return out


# ------------------------------------------------------------------ analyze

class Analyze:
    """Citation and referral analytics over freshly ingested crawler rows.

    Raw domain-crawler rows (html with anchors, alias text) and raw twitter
    rows (found_urls, mentions) go through ``ingest`` (``dedupe_by_url``,
    then the documents and docs_meta builders), then ``citations.run_pipeline``
    against a 400-entry scope, and the output is written as parquet through
    ``sources``. One row in each block of ``BLOCK`` is a re-crawl of the
    row before it, which ``dedupe_by_url`` drops."""

    name = "analyze"
    N = 200  # articles, and as many tweets
    N_PUBS = 300
    N_JOURNOS = 100
    BLOCK = 10  # links stay inside a block; block 0 is the oracle slice

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.oracle_checked = False

    def wraps(self, tr) -> None:
        from post_processor_spark import citations, ingest, sources

        for fn in ("domain_docs_to_documents", "twitter_docs_to_documents"):
            tr.wrap(ingest, fn, "ingest.documents")
        for fn in ("domain_docs_meta", "twitter_docs_meta"):
            tr.wrap(ingest, fn, "ingest.docs_meta")
        tr.wrap(ingest, "dedupe_by_url", "ingest.dedupe_by_url")
        tr.wrap(citations, "run_pipeline", "citations.run_pipeline")
        tr.wrap(citations, "match_citations", "citations.match_citations")
        for fn in ("build_referral_edges", "referral_lists", "probe_referrals"):
            tr.wrap(citations, fn, "citations.referrals")
        tr.wrap(sources, "write_parquet", "sources.write_parquet")

    def build_inputs(self) -> None:
        s = self.spark
        self.dom = gen.domain_raw(s, self.N, self.N_PUBS, self.N_JOURNOS,
                                  self.BLOCK, self.seed).persist()
        self.twi = gen.twitter_raw(s, self.N, self.N_PUBS, self.N_JOURNOS,
                                   self.BLOCK, self.seed).persist()
        self.scope = gen.scope(s, self.N_PUBS, self.N_JOURNOS).persist()
        for df in (self.dom, self.twi, self.scope):
            df.count()

    def warm_up(self) -> None:
        """Start the Python workers on the ingest UDFs (uuid5, docs_meta)."""
        from post_processor_spark import ingest

        ingest.domain_docs_meta(self.dom.limit(20)).select("doc_id").count()

    def run_pass(self, k: int, tr) -> dict:
        from post_processor_spark import citations, ingest, sources

        # re-crawls are dropped from the raw rows, before both builders, as
        # the reference loader does: documents are keyed by a uuid5 of the
        # URL, so deduping docs_meta alone would leave both copies' spans
        # under one doc_id
        dom = ingest.dedupe_by_url(self.dom)
        twi = ingest.dedupe_by_url(self.twi)
        documents = ingest.domain_docs_to_documents(dom).unionByName(
            ingest.twitter_docs_to_documents(twi)
        )
        meta = ingest.domain_docs_meta(dom).unionByName(ingest.twitter_docs_meta(twi))
        out = citations.run_pipeline(documents, meta, self.scope, self.scope, persist=True)
        self.out_dir = os.path.join(self.work, f"analyze-{k}")
        sources.write_parquet(out, os.path.join(self.out_dir, "final_output.parquet"))
        return {"items": 2 * self.N}  # documents ingested

    def _output(self):
        return self.spark.read.parquet(os.path.join(self.out_dir, "final_output.parquet"))

    def check(self, result: dict) -> None:
        """Output rows equal the rows left after ``dedupe_by_url``: the
        distinct URLs of the input, which the generator fixes in advance;
        on the run's first pass, also the oracle slice."""
        n_out = self._output().count()
        n_urls = self.dom.select("url").unionByName(self.twi.select("url")).distinct().count()
        expected = 2 * gen.distinct_urls(self.N, self.BLOCK)
        _require(n_urls == expected, f"{n_urls} distinct input URLs, generator made {expected}")
        _require(n_out == n_urls, f"{n_out} output rows != {n_urls} distinct input URLs")
        if not self.oracle_checked:
            self.oracle_checked = True
            self._check_oracle()

    def _check_oracle(self) -> None:
        """Block 0 of the written output, field by field, against
        ``oracle.run_oracle`` over the same block's ingested rows."""
        from post_processor_spark import ingest
        from post_processor_spark.oracle import run_oracle

        dom = self.dom.filter(F.col("seq") < self.BLOCK)
        twi = self.twi.filter(F.col("seq") < self.N + self.BLOCK)
        docs = ingest.domain_docs_to_documents(dom).unionByName(
            ingest.twitter_docs_to_documents(twi))
        meta = ingest.domain_docs_meta(dom).unionByName(ingest.twitter_docs_meta(twi))
        spans = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in docs.collect()}
        # the oracle takes deduped documents: keep each URL's first load
        docs_py, urls = [], set()
        for r in sorted(meta.collect(), key=lambda r: r["seq"]):
            if r["url"] in urls:
                continue
            urls.add(r["url"])
            d = r.asDict()
            d["spans"] = spans[d["doc_id"]]
            docs_py.append(d)
        scope_py = [r.asDict() for r in self.scope.orderBy("scope_seq").collect()]
        expected = run_oracle(docs_py, scope_py, scope_py)
        got = {r["id"]: r.asDict() for r in
               self._output().filter(F.col("id").isin(list(expected))).collect()}
        _require(set(got) == set(expected),
                 f"oracle slice: {len(got)} output rows for {len(expected)} documents")
        cited = 0
        for doc_id, exp in expected.items():
            for k in ("citation_url_or_text_alias", "citation_name", "anchor_text",
                      "found_aliases", "referring_name", "number_of_referrals",
                      "associated_publisher", "tags", "name"):
                _require(got[doc_id][k] == exp[k],
                         f"oracle slice: {doc_id} {k}: {got[doc_id][k]!r} != {exp[k]!r}")
            cited += bool(exp["citation_url_or_text_alias"])
        _require(cited > 0, "oracle slice: no document cites anything")

    def layer_counts(self, result: dict) -> dict:
        out = self._output()
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.size("citation_url_or_text_alias") > 0, 1)).alias("cited"),
        ).first()
        nbytes, _files = _dir_size(self.out_dir)
        return {
            "citations.matched_docs_ratio": row["cited"] / max(1, row["n"]),
            "sources.bytes_written_mb": nbytes / 1e6,
        }


WORKLOADS = {w.name: w for w in (Crawl, Analyze)}
