"""The crawl engine: a wave-structured BSP loop over DataFrames.

Each wave is one batch round-trip of the reference's reactor loop
(SURVEY.md §3): admit -> schedule (politeness) -> fetch -> parse ->
normalize -> commit. The frontier is a table, not an in-memory queue;
one wave == one snapshot == one checkpoint, so a killed run resumes
from the last committed wave with no duplicate admissions (the
seen-set is committed atomically with the documents it admitted).

Wave-0 seeding, recrawl injection and every loop wave commit through
one path (:meth:`CrawlEngine._commit`): all of the wave's table writes
run concurrently, the wave's counters (pending rows, next seq base,
documents, fetched rows) are read from the parquet footers of the
files just written, and only then does the manifest name the wave.
Counters read from finished files cannot race the writes.

Retry semantics: failed statuses from the reference's RETRY_HTTP_CODES
requeue with ``attempt+1`` up to RETRY_TIMES (``settings.py:98-99``).
Scrapy's RetryMiddleware re-submits with ``dont_filter=True`` (the
fingerprint is already in the seen set), and so do we.

Pagination termination is emergent exactly as in the reference
(``aands_org_uk.py:37-49``): a wave that admits no new rows and has no
pending work ends the crawl.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions.urls import is_trap_col, with_url_identity
from ..operators import autothrottle as AT
from ..operators import dedup as D
from ..operators import politeness as P
from ..operators import spans as S
from ..sources.fetch import canonical_web, fetch_synthetic
from ..storage.catalog import SnapshotStore


@dataclass
class CrawlConfig:
    crawl_id: str = "crawl-0"
    n_buckets: int = 64
    wave_seconds: float = 1.0
    n_salts: int = 8
    max_waves: int = 64
    obey_robots: bool = False  # reference: ROBOTSTXT_OBEY=False (settings.py:21)
    autothrottle: bool = False  # adaptive delay (settings.py:74-78); off = static policy
    retry_times: int = schemas.RETRY_TIMES
    #: RedirectMiddleware knobs (Scrapy REDIRECT_MAX_TIMES /
    #: REDIRECT_PRIORITY_ADJUST defaults); redirect following itself
    #: has no off switch, matching Scrapy — per-request opt-out is
    #: meta={'dont_redirect': true}
    redirect_max_times: int = schemas.REDIRECT_MAX_TIMES
    redirect_priority_adjust: int = schemas.REDIRECT_PRIORITY_ADJUST
    #: conditional-GET recrawls: recrawl_candidates sends the stored
    #: content validator as meta['if_none_match']; unchanged pages come
    #: back 304 (no body, no re-parse, no document row) and land in a
    #: ``revalidations`` table that feeds the change-rate estimator.
    #: At web scale most recrawl fetches ARE 304s, so this is the
    #: incremental crawl's dominant bandwidth/storage saving. Off by
    #: default: plain crawls skip the (empty) per-wave revalidation
    #: write entirely.
    conditional_get: bool = False
    seen_backend: str = "exact"  # "exact" anti-join | "bloom" | "cuckoo"
    bloom_capacity: int = 1 << 20
    bloom_fpr: float = 1e-6
    #: compact ``url_seen`` every N committed waves (None = never).
    #: The exact seen-backend re-reads url_seen every wave, so without
    #: compaction a long crawl reads hundreds of snapshot dirs ×
    #: shuffle-partitions small files per wave — the Iceberg small-file
    #: problem the store's compact() exists for. Bloom/cuckoo backends
    #: fold state into one filter blob and don't need this.
    compact_every: int | None = None
    #: file count for compacted rewrites (None = keep partitioning)
    compact_partitions: int | None = None
    #: record host->host link-graph edges per wave into a ``links``
    #: table (every out-link, INCLUDING links back to already-seen
    #: pages — the frontier lineage only keeps the discovery spanning
    #: tree). Input to graphrank.pagerank for priority-ordered
    #: recrawls. Costs one small aggregation job per wave; off by
    #: default.
    record_links: bool = False
    #: drop trap-shaped out-links (path depth / pathological segment
    #: repetition / query-param count / URL length — Mercator WWW'99,
    #: IRLbot WWW'08, Heritrix decide-rule defaults; thresholds in
    #: ``functions.urls``) BEFORE they cost a seq, a Bloom probe, a
    #: seen-set row, or a politeness slot. Pure JVM fence at admission;
    #: off by default (the reference's finite listing sites need none).
    trap_filter: bool = False


class CrawlEngine:
    """Synthetic-web crawl engine (fetch = join against ``web_pages``)."""

    def __init__(
        self,
        spark: SparkSession,
        web_pages: DataFrame,
        host_policy: DataFrame,
        store: SnapshotStore,
        config: CrawlConfig | None = None,
        sitemaps: DataFrame | None = None,
        feeds: DataFrame | None = None,
        link_rules: DataFrame | None = None,
        offsite_rules: DataFrame | None = None,
        host_ranks: DataFrame | None = None,
        robots_texts: DataFrame | None = None,
        status_rules: DataFrame | None = None,
        dust_rules: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.web = canonical_web(web_pages).persist()
        self.policy = host_policy
        self.store = store
        self.sitemaps = sitemaps  # optional sitemaps(url, xml) table
        #: optional feeds(url, xml) table — RSS/Atom seed expansion
        #: (sources/feeds.py), same pre-wave-0 stage as sitemaps
        self.feeds = feeds
        #: optional LinkExtractor allow/deny dim (source, link_allow,
        #: link_deny) — sources/registry.link_rules_df
        self.link_rules = link_rules
        #: optional OffsiteMiddleware dim (source, allowed_domains) —
        #: sources/registry.offsite_rules_df (1,249 reference spiders)
        self.offsite_rules = offsite_rules
        #: optional handle_httpstatus_list dim (source,
        #: handle_httpstatus array<int>) — sources/registry
        #: .status_rules_df (17 reference spiders,
        #: alexandergreens_co_uk.py:31): listed statuses reach parse
        #: and never retry
        self.status_rules = status_rules
        #: optional DUST rewrite dim (kind, scope, arg, support) —
        #: operators/dust.mine_rules output; applied to every candidate
        #: URL before identity/dedup so known aliases collapse onto
        #: their canonical form and never cost a fetch
        self.dust_rules = dust_rules
        #: optional link-authority dim (host, priority) — typically
        #: graphrank.rank_priorities over graphrank.host_graph of a
        #: PREVIOUS crawl's frontier (Cho et al. WWW'98 "crawl by URL
        #: ordering"). Ranked hosts get their rank as the dispatch
        #: priority; unranked hosts keep the request's static priority.
        self.host_ranks = host_ranks
        if robots_texts is not None:
            # raw robots.txt bodies (host, robots_txt) -> parsed rules
            # overlaid onto the policy dim: the host's own Crawl-delay
            # and Disallow prefixes replace the static configuration
            # (operators/robots, RFC 9309 subset). Parsed once here —
            # it's a host dim, not per-URL work.
            from ..operators import robots as R

            self.policy = R.merge_into_policy(
                self.policy, R.parse_robots_texts(robots_texts)
            )
        self.bloom_spec = D.BloomSpec(self.cfg.bloom_capacity, self.cfg.bloom_fpr)

    def close(self) -> None:
        """Release the canonical-web cache. Engines are cheap to build
        but each construction pins one persisted DataFrame; loops that
        build many engines over one session (bench reps, test suites)
        should close each when done or the executor cache accumulates
        one dead copy per engine."""
        self.web.unpersist()

    # -- admission ----------------------------------------------------------
    def _admit(self, candidates: DataFrame, wave: int) -> tuple[DataFrame, dict]:
        """identity -> intra-batch dedup -> seen-set dedup.

        Returns ``(admitted, writes)``: ``admitted`` is persisted, and
        ``writes`` holds the wave's seen-set tables (``url_seen``, plus
        ``url_seen_filters`` for the Bloom/cuckoo backends) for
        :meth:`_commit` to write beside the wave's other tables.
        """
        if self.dust_rules is not None:
            # collapse known URL aliases (DUST, operators/dust.py) onto
            # their canonical form BEFORE identity/fingerprinting, so an
            # alias of an already-seen page dedups instead of fetching
            from ..operators.dust import apply_rules

            candidates = (
                apply_rules(candidates, self.dust_rules)
                .withColumn("url", F.col("dust_url"))
                .drop("dust_url")
            )
        cand = with_url_identity(candidates, self.cfg.n_buckets)
        if self.host_ranks is not None:
            # broadcast dim (one row per host): ranked hosts override the
            # request's static priority so the politeness top-k spends
            # the per-wave budget on authoritative hosts first
            ranks = self.host_ranks.select(
                F.col("host").alias("_rank_host"),
                F.col("priority").cast("int").alias("_rank_priority"),
            )
            cand = (
                cand.join(
                    F.broadcast(ranks), cand["host"] == F.col("_rank_host"), "left"
                )
                .withColumn(
                    "priority",
                    F.coalesce(F.col("_rank_priority"), F.col("priority")),
                )
                .drop("_rank_host", "_rank_priority")
            )
        cand = D.dedup_intra_batch(cand)
        backend = self.cfg.seen_backend
        writes = {}
        if backend in ("bloom", "cuckoo"):
            from ..operators import cuckoo as C

            filters = self.store.read_table(
                "url_seen_filters", "latest", schema=schemas.URL_SEEN_FILTERS
            )
            if backend == "bloom":
                admitted = D.dedup_bloom(cand, filters, self.bloom_spec).persist()
                new_filters = D.updated_filters(admitted, filters, self.bloom_spec, wave)
            else:
                spec = C.CuckooSpec(self.cfg.bloom_capacity)
                admitted = C.dedup_cuckoo(cand, filters, spec).persist()
                new_filters = C.updated_cuckoo_filters(admitted, filters, spec, wave)
            writes["url_seen_filters"] = new_filters
        else:
            seen = self.store.read_table("url_seen", "append", schema=schemas.URL_SEEN)
            admitted = D.dedup_exact(cand, seen).persist()
        writes["url_seen"] = admitted.filter(~F.col("dont_filter")).select(
            "crawl_id",
            "fingerprint",
            "host_bucket",
            F.lit(wave).alias("wave"),
        )
        return admitted, writes

    # -- one wave -------------------------------------------------------------
    def run(self, seeds: DataFrame, resume: bool = False, inject: bool = False) -> dict:
        """Run the crawl to fixpoint; returns summary counters.

        ``resume=True`` continues from the last committed wave in the
        store (seeds are ignored if a checkpoint exists).
        ``inject=True`` (with ``resume=True``) instead ADMITS ``seeds``
        into the resumed frontier as their own committed wave — the
        incremental-recrawl entry point (:meth:`recrawl_candidates`
        emits ``dont_filter=True`` rows, which bypass the seen set, so
        already-crawled URLs re-fetch). The injection commits before
        the loop starts; a crash mid-injection resumes cleanly from the
        previous wave and the injection is simply re-derivable.
        """
        cfg = self.cfg
        manifest = self.store.read_manifest() if resume else None
        if manifest and manifest["committed_waves"]:
            wave = max(manifest["committed_waves"]) + 1
            next_base = int(manifest["extra"]["next_seq_base"])
            pending = self.store.read_table("frontier", "latest", schema=schemas.FRONTIER)
            n_pending = self.store.wave_stats("frontier", wave - 1)[0]
            if inject and seeds is not None:
                cand = _seed_candidates(seeds, cfg.crawl_id, wave, next_base)
                admitted, writes = self._admit(cand, wave)
                # Injected rows carry dont_filter=True (recrawl
                # semantics) so _admit's seen-set check waves them
                # through — but a URL can be BOTH still pending (e.g.
                # deferred at max_waves) and due for recrawl, and
                # unioning it twice dispatches it twice in one
                # generation. Anti-join against the pending frontier on
                # fingerprint (round-4 fix; one narrow shuffle of the
                # fingerprint projection, once per injection).
                fresh = admitted.join(
                    pending.select("fingerprint"), on="fingerprint", how="left_anti"
                )
                writes["frontier"] = pending.unionByName(fresh.select(*pending.columns))
                n_pending, next_base, _, _ = self._commit(wave, writes, next_base)
                admitted.unpersist()
                pending = self.store.read_table("frontier", "latest")
                wave += 1
        else:
            if self.sitemaps is not None:
                # pre-wave-0 sitemap expansion (SitemapSpider analog,
                # athimmo_be.py:18-26): *.xml seeds -> one seed per <loc>
                from ..sources.sitemap import expand_sitemap_seeds

                seeds = expand_sitemap_seeds(seeds, self.sitemaps)
            if self.feeds is not None:
                # pre-wave-0 feed expansion (RSS/Atom discovery channel,
                # sources/feeds.py) — runs after sitemaps so a sitemap
                # <loc> naming a feed expands too
                from ..sources.feeds import expand_feed_seeds

                seeds = expand_feed_seeds(seeds, self.feeds)
            admitted, writes = self._admit(_seed_candidates(seeds, cfg.crawl_id, 0, 0), 0)
            writes["frontier"] = admitted.drop("crawl_delay_s")
            n_pending, next_base, _, _ = self._commit(0, writes, 0)
            admitted.unpersist()
            pending = self.store.read_table("frontier", "latest")
            wave = 1

        totals = {"fetched": 0, "docs": 0, "waves": 0}
        # static redirect gate: a web with no (3xx, Location) row can
        # never produce a redirect, so skip building the redirect arm
        # of the candidate plan entirely — the arm costs real per-wave
        # scheduling overhead even when it matches zero rows (its
        # expressions ride every evaluation of the candidates subtree;
        # measured round 4). One early-exit job over the web dim at
        # crawl start, never per wave.
        follow_redirects = "location" in self.web.columns and bool(
            self.web.filter(
                F.col("location").isNotNull()
                & F.col("status").isin(schemas.REDIRECT_HTTP_CODES)
            )
            .limit(1)
            .count()
        )
        while wave <= cfg.max_waves and n_pending:
            t0 = time.monotonic()
            dispatch, deferred = P.schedule_wave(
                pending,
                self.policy,
                wave_seconds=cfg.wave_seconds,
                n_salts=cfg.n_salts,
                obey_robots=cfg.obey_robots,
            )
            dispatch = dispatch.withColumn("wave", F.lit(wave))
            fetched = fetch_synthetic(dispatch, self.web)
            # parse gate: 200, or a status the source's
            # handle_httpstatus_list explicitly admits (Scrapy analog,
            # 17 reference spiders e.g. alexandergreens_co_uk.py:31
            # [401]); admitted statuses are terminal — never retried.
            if self.status_rules is not None:
                fetched = fetched.join(
                    F.broadcast(self.status_rules), on="source", how="left"
                )
                parse_ok = (F.col("status") == 200) | F.array_contains(
                    F.coalesce(
                        F.col("handle_httpstatus"), F.array().cast("array<int>")
                    ),
                    F.col("status"),
                )
                fetched = fetched.withColumn("_parse_ok", parse_ok).drop(
                    "handle_httpstatus"
                )
            else:
                fetched = fetched.withColumn("_parse_ok", F.col("status") == 200)
            # persisted: the documents, frontier, metrics (and links /
            # revalidations) writes all read the fetched rows
            fetched = fetched.persist()

            ok = fetched.filter(F.col("_parse_ok")).drop("_parse_ok")
            retry = (
                fetched.filter(
                    F.col("status").isin(schemas.RETRY_HTTP_CODES)
                    & ~F.col("_parse_ok")
                    & (F.col("attempt") < cfg.retry_times)
                )
                .select(*schemas_frontier_cols(fetched))
                .withColumn("attempt", F.col("attempt") + 1)
                .withColumn("dont_filter", F.lit(True))  # RetryMiddleware semantics
            )

            docs = S.extract_documents(ok)
            if follow_redirects:
                # 3xx follow (RedirectMiddleware analog) FUSED into the
                # link-extraction scan: a 3xx row explodes its Location
                # where a parsed page explodes out_links, so the wave
                # plan has no union and exactly one resolve-UDF node.
                # (Round-4 regression, measured and fixed: a
                # links ∪ redirects union made every AQE evaluation of
                # the candidate plan materialize extra shuffle query
                # stages — +10 jobs/+46 stages per wave, ~3.5 s/wave of
                # scheduling overhead even with ZERO redirect rows.)
                # Targets skip LinkExtractor rules AND the offsite
                # filter (link_pos < 0 is the redirect marker) — in
                # Scrapy 2.3 (the reference's version) redirects happen
                # in a downloader middleware, below the spider-level
                # OffsiteMiddleware; the downloader-side offsite check
                # post-dates the reference. They DO pass the dupe
                # filter via the shared _admit below — which is also
                # what terminates redirect loops.
                raw_links = S.extract_candidates_raw(
                    fetched,
                    self.cfg.redirect_max_times,
                    self.cfg.redirect_priority_adjust,
                )
            else:
                raw_links = S.extract_links_raw(ok)
            is_redirect = F.col("link_pos") < 0
            new_links = S.resolve_candidates(raw_links)
            new_links = S.apply_link_rules(
                new_links, self.link_rules, bypass=is_redirect
            )
            new_links = S.offsite_filter(
                new_links, self.offsite_rules, bypass=is_redirect
            )
            if cfg.trap_filter:
                # Fence BEFORE assign_seq: a fenced link never gets a
                # seq, never reaches dedup/politeness, and (unlike a
                # post-dedup drop) never occupies seen-set state. The
                # resolved absolute URL carries the same depth/repeat/
                # param/length signals as its canonical form.
                new_links = new_links.filter(~is_trap_col(F.col("url")))
            new_links = S.assign_seq(
                new_links, [F.asc("parent_seq"), F.asc("link_pos")], next_base
            ).drop("link_pos")
            new_links = new_links.withColumn("wave", F.lit(wave))
            link_edges = None
            if cfg.record_links:
                # host-level edges from ALL out-links this wave (pre-
                # dedup): dst host parses JVM-side from the absolute
                # resolved URL; src host joins from the fetched page.
                # Aggregated per (src, dst) before writing — host x host
                # is tiny next to the link volume.
                link_edges = (
                    new_links.select(
                        "parent_seq",
                        F.lower(
                            F.parse_url(F.col("url"), F.lit("HOST"))
                        ).alias("dst_host"),
                    )
                    .filter(F.col("dst_host").isNotNull())
                    .join(
                        fetched.select(
                            F.col("discovered_seq").alias("parent_seq"),
                            F.col("host").alias("src_host"),
                        ),
                        "parent_seq",
                    )
                    .groupBy("src_host", "dst_host")
                    .agg(F.count("*").alias("n"))
                    .select(
                        F.lit(wave).alias("wave"), "src_host", "dst_host", "n"
                    )
                )
            admitted, seen_writes = self._admit(new_links, wave)
            reval = None
            if cfg.conditional_get:
                # 304-revalidated rows: confirmed unchanged without
                # a body — record the observation for the
                # change-rate estimator (fetch_history unions this)
                reval = fetched.filter(F.col("status") == 304).select(
                    "crawl_id",
                    "url",
                    F.col("wave"),
                    F.element_at(
                        F.coalesce(F.col("meta"), F.create_map()),
                        "if_none_match",
                    ).alias("content_digest"),
                    "source",
                    F.col("meta"),
                )
            # the per-bucket metrics rows come from the one query that
            # scans all fetched rows anyway; the global docs_emitted
            # column is derived IN-PLAN by re-aggregating the tiny
            # grouped output, and `candidates` likewise from admitted's
            # cache (a broadcast join) — no driver literal, so the
            # metrics write submits concurrently with the frontier
            # write (round 5, BENCH/CRAWL_LOOP.md: serializing it
            # behind the frontier write was the r4 regression). If the
            # metrics job reaches admitted before the frontier write
            # has populated its cache, it may compute the admission
            # lineage a second time — correct, only duplicate work.
            is_doc = (
                F.col("_parse_ok")
                & ~F.col("is_listing_page")
                & (F.size(F.coalesce(F.col("spans"), F.array())) > 0)
            )
            grouped = fetched.groupBy("crawl_id", "host_bucket").agg(
                F.count("*").alias("fetched"),
                F.sum(
                    (
                        ~F.col("_parse_ok")
                        & (F.col("status") != 304)  # revalidation, not failure
                    ).cast("long")
                ).alias("retried"),
                F.sum(is_doc.cast("long")).alias("_docs_part"),
            )
            # global docs_emitted via a per-crawl window over the
            # GROUPED output — bounded by n_buckets (a config
            # constant, not data size), so the one-partition-per-
            # crawl window is safe at any scale
            cand_counts = admitted.groupBy("crawl_id").agg(
                F.count(F.lit(1)).alias("_cand_n")
            )
            metrics = (
                grouped.withColumn(
                    "_docs_all",
                    F.sum("_docs_part").over(
                        Window.partitionBy("crawl_id").rowsBetween(
                            Window.unboundedPreceding,
                            Window.unboundedFollowing,
                        )
                    ),
                )
                .join(F.broadcast(cand_counts), "crawl_id", "left")
                .withColumn("wave", F.lit(wave))
                .withColumn(
                    "candidates",
                    F.coalesce(F.col("_cand_n"), F.lit(0)).cast("long"),
                )
                .drop("_cand_n")
                .withColumn("deduped_dropped", F.lit(0).cast("long"))
                .withColumn("robots_dropped", F.lit(0).cast("long"))
                .withColumn("scheduled", F.col("fetched"))
                .withColumn(
                    "docs_emitted",
                    F.coalesce(F.col("_docs_all"), F.lit(0)).cast("long"),
                )
                .withColumn(
                    "wall_ms",
                    F.lit(int((time.monotonic() - t0) * 1000)).cast("long"),
                )
                .select([f.name for f in schemas.METRICS.fields])
            )
            writes = {
                "documents": docs,
                "frontier": deferred.unionByName(admitted.select(*deferred.columns))
                .unionByName(retry.select(*deferred.columns)),
                **seen_writes,
                "links": link_edges,
                "revalidations": reval,
                "metrics": metrics,
            }
            n_pending, next_base, n_docs, n_fetched = self._commit(wave, writes, next_base)
            if cfg.compact_every and wave > 0 and wave % cfg.compact_every == 0:
                self.store.compact("url_seen", cfg.compact_partitions)

            if cfg.autothrottle:
                # fold this wave's latency into the policy dim (per-host
                # EMA, Scrapy _adjust_delay semantics) for the NEXT
                # wave's scheduler broadcast. localCheckpoint flattens
                # the policy lineage across waves WITHOUT routing the
                # dim through the driver (round-4 fix: the previous
                # collect+createDataFrame was fine at thousands of
                # hosts but a web-scale host dim is millions of rows);
                # the superseded checkpoint blocks are freed by the
                # ContextCleaner once self.policy is reassigned.
                # measured latency passes through; only the synthetic
                # backend (no latency column) gets the stand-in
                lat_stats = AT.wave_latency_stats(AT.with_latency(fetched))
                updated = AT.updated_policy(self.policy, lat_stats)
                self.policy = updated.select(
                    *[f.name for f in schemas.HOST_POLICY.fields]
                ).localCheckpoint()

            totals["fetched"] += n_fetched
            totals["docs"] += n_docs
            totals["waves"] += 1
            fetched.unpersist()
            admitted.unpersist()
            # re-read pending from the committed snapshot: truncates lineage
            # (the iterative-loop analog of checkpointing)
            pending = self.store.read_table("frontier", "latest")
            wave += 1
        return totals

    def _commit(self, wave: int, writes: dict, next_base: int) -> tuple[int, int, int, int]:
        """Write one wave's tables and commit it — the one commit path
        of seeding, injection and the crawl loop.

        ``writes`` maps table -> DataFrame (``None``: not written this
        wave). The writes are independent jobs over persisted inputs,
        submitted at once from driver threads so Spark schedules them
        in one pool and their fixed per-job latencies overlap; a write
        that hangs shows up here, in its future. Once all are written,
        the wave's counters are read back from the staged files'
        parquet footers (:meth:`SnapshotStore.wave_stats`) — files that
        are already complete cannot race the queries that wrote them.
        The manifest commit comes last, so a wave is durable iff all of
        its writes are.

        Returns ``(n_pending, next_base, n_docs, n_fetched)``.
        ``assign_seq`` numbers rows strictly above its base, so the next
        base is the largest committed frontier seq.
        """
        writes = {t: df for t, df in writes.items() if df is not None}
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [pool.submit(self.store.write_wave, t, wave, df) for t, df in writes.items()]
            for fut in futures:
                fut.result()
        n_pending, max_seq = self.store.wave_stats("frontier", wave, "discovered_seq")
        next_base = max(next_base, max_seq or 0)
        n_docs = self.store.wave_stats("documents", wave)[0] if "documents" in writes else 0
        n_fetched = 0
        if "metrics" in writes:  # at most n_buckets rows
            n_fetched = self.store.wave_stats("metrics", wave, "fetched", "sum")[1] or 0
        self.store.commit_wave(wave, {"next_seq_base": next_base})
        return n_pending, next_base, n_docs, n_fetched

    # -- outputs ------------------------------------------------------------
    def documents(self, latest_only: bool = False) -> DataFrame:
        """Final documents view: raw per-page rows with multi-page item
        fragments merged (groupBy touches only the fragment subset).

        After an incremental recrawl (:meth:`recrawl_candidates` +
        ``run(..., inject=True)``) the append table holds one row per
        FETCH, so a re-fetched doc_id appears once per generation —
        that is the history view. ``latest_only=True`` keeps the newest
        generation per doc_id (max wave, then position — one window
        keyed on the same doc_id the merge shuffles on). Caveat: a
        recrawl re-fetches only the head page of a multi-page item
        (continuation links dedupe against the seen set), so split
        items keep their original merged row as a separate generation.
        """
        raw = self.store.read_table(
            "documents", "append", schema=schemas.DOCUMENTS_FULL
        )
        merged = S.merge_document_fragments(raw)
        if latest_only:
            from pyspark.sql import Window

            w = Window.partitionBy("doc_id").orderBy(
                F.desc("wave"), F.desc("position")
            )
            merged = (
                merged.withColumn("_gen", F.row_number().over(w))
                .filter(F.col("_gen") == 1)
                .drop("_gen")
            )
        return merged

    def documents_delta(self, since_wave: int) -> DataFrame:
        """Incremental export: the documents a downstream consumer must
        re-ingest after wave ``since_wave`` — one row per doc_id whose
        LATEST generation landed after it, tagged ``change_kind``:

        * ``'new'`` — the doc_id had no generation at or before
          ``since_wave``;
        * ``'changed'`` — it had one, and the span content differs
          (docs re-fetched with identical content are NOT shipped —
          that is the point of a delta).

        Content identity is sha1 of the JSON-serialized span array
        (spans are offset-ordered, so serialization is deterministic).
        One window over doc_id (the merge's own shuffle key) + one
        self-join on doc_id; everything else is column arithmetic.
        ``since_wave=-1`` ships the whole corpus as 'new' (bootstrap).
        """
        docs = self.documents().withColumn(
            "_digest", F.sha1(F.to_json(F.col("spans")))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(F.desc("wave"), F.desc("position"))
        latest = (
            docs.withColumn("_gen", F.row_number().over(w))
            .filter(F.col("_gen") == 1)
            .drop("_gen")
            .filter(F.col("wave") > since_wave)
        )
        prev = (
            docs.filter(F.col("wave") <= since_wave)
            .withColumn("_gen", F.row_number().over(w))
            .filter(F.col("_gen") == 1)
            .select(F.col("doc_id"), F.col("_digest").alias("_prev_digest"))
        )
        return (
            latest.join(prev, "doc_id", "left")
            .withColumn(
                "change_kind",
                F.when(F.col("_prev_digest").isNull(), F.lit("new")).otherwise(
                    F.lit("changed")
                ),
            )
            .filter(
                F.col("_prev_digest").isNull()
                | (F.col("_prev_digest") != F.col("_digest"))
            )
            .drop("_digest", "_prev_digest")
        )

    def url_seen(self) -> DataFrame:
        return self.store.read_table("url_seen", "append", schema=schemas.URL_SEEN)

    def fetch_history(self) -> DataFrame:
        """(url, fetch_time, content_digest, source) per committed doc
        fetch — the input shape ``operators/revisit`` wants. The time
        axis is crawl time (wave * wave_seconds); the digest hashes the
        document payload (spans + attrs), so a re-fetch that parses to
        identical content counts as UNCHANGED for the change-rate
        estimator even though it was fetched twice."""
        raw = self.store.read_table(
            "documents", "append", schema=schemas.DOCUMENTS_FULL
        )
        # the fetchable ABSOLUTE url comes from the request row that
        # produced the doc (position == the request's discovered_seq;
        # doc_id is a scheme-stripped content key, not a fetch target).
        # Equi-join on the seq; distinct first because deferred frontier
        # rows are re-written each wave they sit pending.
        requests = (
            self.store.read_table("frontier", "append", schema=schemas.FRONTIER)
            .select(F.col("discovered_seq").alias("position"), "url")
            .distinct()
        )
        hist = raw.join(requests, "position").select(
            "url",
            (F.col("wave").cast("double") * float(self.cfg.wave_seconds)).alias(
                "fetch_time"
            ),
            # digest = the page's content validator (attrs['__etag'],
            # stamped by extract_documents over the RAW page spans;
            # sha1-of-stored-spans fallback for pre-etag stores) — NOT
            # the meta chain: a re-fetch that parses identically must
            # count as unchanged. Using the validator keeps full-fetch
            # and 304-revalidation digests comparable.
            F.coalesce(
                F.element_at(F.coalesce(F.col("attrs"), F.create_map()), "__etag"),
                F.sha1(F.to_json(F.struct("spans"))),
            ).alias("content_digest"),
            "source",
            F.col("attrs").alias("attrs"),
        )
        # 304 revalidations are fetches too — the estimator must see
        # the unchanged observation or conditional recrawls would
        # starve it (table is empty unless conditional_get ran)
        reval = self.store.read_table(
            "revalidations", "append", schema=schemas.REVALIDATIONS
        )
        return hist.unionByName(
            reval.select(
                "url",
                (F.col("wave").cast("double") * float(self.cfg.wave_seconds)).alias(
                    "fetch_time"
                ),
                "content_digest",
                "source",
                F.col("meta").alias("attrs"),
            )
        )

    def recrawl_candidates(
        self,
        now_s: float,
        min_interval_s: float = 3600.0,
        max_interval_s: float = 30.0 * 86400.0,
        conditional: bool | None = None,
    ) -> DataFrame:
        """Due-for-revisit URLs as a seeds-shaped DataFrame
        (url, source, meta, priority, dont_filter=True) — feed into
        ``run(cands, resume=True, inject=True)`` for an incremental
        recrawl wave. Rates come from the Cho/Garcia-Molina estimator
        over :meth:`fetch_history`; ``dont_filter=True`` re-admits URLs
        past the seen set (their fingerprints are already recorded).

        ``conditional`` (default: ``cfg.conditional_get``) sends the
        last known content validator as ``meta['if_none_match']`` so
        unchanged pages revalidate with a 304 instead of a full
        re-fetch + re-parse + duplicate document generation."""
        from ..operators import revisit as RV

        if conditional is None:
            conditional = self.cfg.conditional_get
        hist = self.fetch_history()
        sched = RV.change_rate_schedule(
            hist, min_interval_s=min_interval_s, max_interval_s=max_interval_s
        )
        due = RV.due_urls(sched, now_s)
        # re-thread the latest fetch's meta (attrs) so the re-fetch
        # parses under the same request lineage (listing-routed
        # property_type etc. survive recrawls)
        src = hist.groupBy("url").agg(
            F.max_by("source", "fetch_time").alias("source"),
            F.max_by("attrs", "fetch_time").alias("meta"),
        )
        base = F.coalesce(
            F.col("meta").cast(schemas.SEEDS["meta"].dataType), F.create_map()
        )
        # the stored validator: __etag from a full fetch, or the
        # if_none_match a 304 revalidation echoed
        validator = F.coalesce(
            F.element_at(base, "__etag"), F.element_at(base, "if_none_match")
        )
        clean = F.map_filter(
            base, lambda k, _: ~k.isin("__etag", "if_none_match")
        )
        meta = (
            F.when(
                validator.isNotNull(),
                F.map_concat(
                    clean, F.create_map(F.lit("if_none_match"), validator)
                ),
            ).otherwise(clean)
            if conditional
            else clean
        )
        return due.join(src, "url").select(
            "url",
            "source",
            meta.alias("meta"),
            F.lit(0).alias("priority"),
            F.lit(True).alias("dont_filter"),
        )

    def metrics(self) -> DataFrame:
        return self.store.read_table("metrics", "append", schema=schemas.METRICS)

    def link_graph(self) -> DataFrame:
        """Committed host-level link-graph edges (requires
        ``CrawlConfig.record_links``): (src, dst) distinct host pairs,
        self-edges dropped — feed straight into graphrank.pagerank,
        then rank_priorities -> the NEXT crawl's ``host_ranks`` dim."""
        raw = self.store.read_table("links", "append", schema=schemas.LINKS)
        return (
            raw.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )


def _seed_candidates(seeds: DataFrame, crawl_id: str, wave: int, base: int) -> DataFrame:
    """Seed rows -> pre-identity frontier candidates of ``wave``,
    numbered above ``base`` in (source, url) order — the documented
    analog of start_urls list order (readme.md:33-55). An optional
    ``dont_filter`` column passes through (recrawl seeds set it True to
    bypass the seen set, Scrapy Request(dont_filter=True) semantics);
    plain seed tables default to False."""
    dont = (
        F.col("dont_filter")
        if "dont_filter" in seeds.columns
        else F.lit(False)
    )
    cand = seeds.select(
        F.lit(crawl_id).alias("crawl_id"),
        "url",
        F.lit("GET").alias("method"),
        F.lit(None).cast("string").alias("body"),
        "source",
        "meta",
        "priority",
        F.lit(0).alias("attempt"),
        dont.cast("boolean").alias("dont_filter"),
        F.lit(0).cast("long").alias("parent_seq"),
        F.lit(0).alias("link_pos"),
    )
    cand = S.assign_seq(cand, [F.asc("source"), F.asc("url")], base).drop("link_pos")
    return cand.withColumn("wave", F.lit(wave))


def schemas_frontier_cols(df: DataFrame) -> list[str]:
    return [f.name for f in schemas.FRONTIER.fields if f.name in df.columns]

