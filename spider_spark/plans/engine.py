"""The crawl engine: a wave-structured BSP loop over DataFrames.

Each wave is one batch round-trip of the reference's reactor loop
(SURVEY.md §3): admit -> schedule (politeness) -> fetch -> parse ->
normalize -> commit. The frontier is a table, not an in-memory queue;
one wave == one snapshot == one checkpoint, so a killed run resumes
from the last committed wave with no duplicate admissions (the
seen-set is committed atomically with the documents it admitted).

Wave-0 seeding, recrawl injection and every loop wave commit through
one path (:meth:`CrawlEngine._commit`): all of the wave's table writes
run concurrently, the wave's crawl-wide counters are read from the
parquet footers of the files just written, and only then does the
manifest name the wave, with those counters as its record. Counters
read from finished files cannot race the writes. The ``metrics`` table
keeps only per-host-bucket counts (fetched and retried rows); the
record holds the counts of the whole wave.

Each wave cuts its lineage twice with an eager local checkpoint: once
at the fetched rows and once at the admitted rows. The wave's schedule,
fetch, parse and admission therefore run once, before the writes, and
every write plans over a one-node scan; the nondeterministic
``assign_seq`` ids are computed exactly once. The politeness ranking
runs once too: the frontier write defers the pending rows missing from
the fetched checkpoint
(:func:`~spider_spark.operators.politeness.deferred_rows`). New links
are numbered on their raw rows, before the resolve UDF and the link
filters, so seqs have gaps where links were dropped. Snapshot reads
pass their schema. The engine's wave-invariant Column expressions are
built once per crawl, before the loop, and the operators it calls write
theirs as SQL text, so a wave's plan costs few py4j round trips.

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
from ..functions.urls import with_url_identity
from ..operators import autothrottle as AT
from ..operators import dedup as D
from ..operators import politeness as P
from ..operators import spans as S
from ..sources.fetch import canonical_web, fetch_synthetic
from ..storage.catalog import SnapshotStore

FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]
#: the exact seen-set backend folds ``url_seen`` into one base dir after
#: every COMPACT_EVERY-th committed wave, so its anti-join reads at most
#: this many snapshot dirs however long the crawl runs
COMPACT_EVERY = 16


@dataclass
class CrawlConfig:
    crawl_id: str = "crawl-0"
    n_buckets: int = 64
    wave_seconds: float = 1.0
    max_waves: int = 64
    obey_robots: bool = False  # reference: ROBOTSTXT_OBEY=False (settings.py:21)
    autothrottle: bool = False  # adaptive delay (settings.py:74-78); off = static policy
    retry_times: int = schemas.RETRY_TIMES
    #: conditional-GET recrawls: recrawl_candidates sends the stored
    #: content validator as meta['if_none_match']; unchanged pages come
    #: back 304 (no body, no re-parse, no document row) and land in a
    #: ``revalidations`` table that feeds the change-rate estimator.
    #: At web scale most recrawl fetches ARE 304s, so this is the
    #: incremental crawl's dominant bandwidth/storage saving. Off by
    #: default: plain crawls skip the (empty) per-wave revalidation
    #: write entirely.
    conditional_get: bool = False
    #: "exact" anti-join | "bloom" filter; the Bloom filter holds
    #: 2**20 fingerprints per bucket at a 1e-6 false-positive rate, so
    #: ``n_buckets`` is the sizing lever
    seen_backend: str = "exact"


class CrawlEngine:
    """Synthetic-web crawl engine (fetch = join against ``web_pages``)."""

    def __init__(
        self,
        spark: SparkSession,
        web_pages: DataFrame,
        host_policy: DataFrame,
        store: SnapshotStore,
        config: CrawlConfig,
        spiders: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = config
        #: the seen-set filter layout, chosen once per engine; None is the
        #: exact anti-join against ``url_seen``
        backend = self.cfg.seen_backend
        if backend == "bloom":
            self.seen_filter = D.BloomSpec(1 << 20, 1e-6)
        elif backend == "exact":
            self.seen_filter = None
        else:
            raise ValueError(f"seen_backend must be exact or bloom: {backend!r}")
        self.web = canonical_web(web_pages).persist()
        self.policy = host_policy
        self.store = store
        #: optional spiders dim (``sources/registry.spiders_dim_df``,
        #: PAPER §1.1: a spider is a config row). Two narrow views are
        #: projected once, so no wave joins the whole dim: the
        #: handle_httpstatus_list statuses for the parse gate (17
        #: reference spiders, alexandergreens_co_uk.py:31 [401]) and the
        #: LinkExtractor / OffsiteMiddleware rules for
        #: :func:`~spider_spark.operators.spans.site_filter`.
        self.status_rules = self.site_rules = None
        if spiders is not None:
            self.status_rules = spiders.select("source", "handle_httpstatus")
            self.site_rules = spiders.select(
                "source", "link_allow", "link_deny", "allowed_domains"
            )

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

        Returns ``(admitted, writes)``: ``admitted`` is an eager local
        checkpoint (admission runs once, whatever reads it), and
        ``writes`` holds the wave's seen-set tables (``url_seen``, plus
        ``url_seen_filters`` for the Bloom backend) for
        :meth:`_commit` to write beside the wave's other tables.
        """
        cand = D.dedup_intra_batch(with_url_identity(candidates, self.cfg.n_buckets))
        writes = {}
        if self.seen_filter is not None:
            filters = self.store.read_table(
                "url_seen_filters", "latest", schema=schemas.URL_SEEN_FILTERS
            )
            admitted = D.dedup_filter(cand, filters, self.seen_filter).localCheckpoint()
            writes["url_seen_filters"] = D.updated_filters(
                admitted, filters, self.seen_filter, wave
            )
        else:
            seen = self.store.read_table("url_seen", "append", schema=schemas.URL_SEEN)
            admitted = D.dedup_exact(cand, seen).localCheckpoint()
        writes["url_seen"] = admitted.filter("NOT dont_filter").selectExpr(
            "crawl_id", "fingerprint", "host_bucket", f"{wave} AS wave"
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
        if manifest and manifest["waves"]:
            wave = max(map(int, manifest["waves"])) + 1
            record = manifest["waves"][str(wave - 1)]
            pending = self.store.read_table("frontier", "latest", schema=schemas.FRONTIER)
            if inject and seeds is not None:
                t0 = time.monotonic()
                cand = _seed_candidates(seeds, cfg.crawl_id, wave, record["next_seq_base"])
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
                record = self._commit(wave, writes, t0, record["next_seq_base"])
                pending = self.store.read_table("frontier", "latest", schema=schemas.FRONTIER)
                wave += 1
        else:
            t0 = time.monotonic()
            admitted, writes = self._admit(_seed_candidates(seeds, cfg.crawl_id, 0, 0), 0)
            writes["frontier"] = admitted.drop("crawl_delay_s")
            record = self._commit(0, writes, t0, 0)
            pending = self.store.read_table("frontier", "latest", schema=schemas.FRONTIER)
            wave = 1

        totals = {"fetched": 0, "docs": 0, "waves": 0}
        # static redirect gate: a web with no (3xx, Location) row can
        # never produce a redirect, so the candidate scan's redirect
        # predicate becomes the literal false and its arm folds away —
        # the arm costs real per-wave scheduling overhead even when it
        # matches zero rows (its expressions ride every evaluation of
        # the candidates subtree; measured round 4). One early-exit job
        # over the web dim at crawl start, never per wave.
        follow_redirects = bool(
            self.web.filter(
                F.col("location").isNotNull()
                & F.col("status").isin(schemas.REDIRECT_HTTP_CODES)
            )
            .limit(1)
            .count()
        )
        # the wave-invariant Column expressions, built once per crawl.
        # Parse gate: 200, or a status the source's
        # handle_httpstatus_list explicitly admits (Scrapy analog,
        # 17 reference spiders e.g. alexandergreens_co_uk.py:31
        # [401]); admitted statuses are terminal — never retried.
        parse_ok = F.col("status") == 200
        if self.status_rules is not None:
            parse_ok = parse_ok | F.array_contains(
                F.coalesce(F.col("handle_httpstatus"), F.array().cast("array<int>")),
                F.col("status"),
            )
        retry_due = (
            F.col("status").isin(schemas.RETRY_HTTP_CODES)
            & ~F.col("_parse_ok")
            & (F.col("attempt") < cfg.retry_times)
        )
        # a retried row re-enters the frontier with attempt+1 and
        # dont_filter (RetryMiddleware semantics)
        bumped = {"attempt": F.col("attempt") + 1, "dont_filter": F.lit(True)}
        retry_row = [bumped.get(c, F.col(c)).alias(c) for c in FRONTIER_COLS]
        link_order = [F.asc("parent_seq"), F.asc("link_pos")]
        bucket_aggs = [
            F.count("*").alias("fetched"),
            F.sum(
                (
                    ~F.col("_parse_ok")
                    & (F.col("status") != 304)  # revalidation, not failure
                ).cast("long")
            ).alias("retried"),
        ]
        while wave <= cfg.max_waves and record["pending"]:
            t0 = time.monotonic()
            # the robots fence drops rows from the frontier for good, so
            # it filters pending once, here, for dispatch and deferral
            pending = P.robots_filter(pending, self.policy, cfg.obey_robots)
            # the salted top-k is exact for any salt count
            dispatch = P.schedule_wave(
                pending, self.policy, wave_seconds=cfg.wave_seconds, n_salts=8
            )
            fetched = fetch_synthetic(dispatch.withColumn("wave", F.lit(wave)), self.web)
            if self.status_rules is not None:
                fetched = fetched.join(
                    F.broadcast(self.status_rules), on="source", how="left"
                )
            # checkpointed: the documents, frontier, metrics (and
            # revalidations) writes all read the fetched rows, and each
            # plans over a scan of them instead of the schedule and fetch
            fetched = (
                fetched.withColumn("_parse_ok", parse_ok)
                .drop("handle_httpstatus")
                .localCheckpoint()
            )
            # the politeness ranking runs once per wave: the rows it
            # dispatched are in the fetched checkpoint, and the frontier
            # write defers every pending row that is not
            deferred = P.deferred_rows(pending, fetched)

            ok = fetched.filter("_parse_ok")
            retry = fetched.filter(retry_due).select(*retry_row)

            docs = S.extract_documents(ok)
            # links and 3xx targets from one scan (no union: it cost +10
            # jobs/+46 stages per wave). Targets (link_pos < 0) skip the
            # site filter, as Scrapy 2.3's downloader-level
            # RedirectMiddleware does, but pass _admit.
            raw_links = S.extract_candidates_raw(fetched, follow_redirects)
            # numbered before the resolve UDF, so the range sort's
            # sampling job re-runs only the JVM explode; a link the site
            # filter drops leaves a gap in the seqs
            new_links = S.resolve_candidates(
                S.assign_seq(raw_links, link_order, record["next_seq_base"])
            )
            new_links = (
                S.site_filter(new_links, self.site_rules, bypass="link_pos < 0")
                .drop("link_pos")
                .withColumn("wave", F.lit(wave))
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
            writes = {
                "documents": docs,
                "frontier": deferred.unionByName(admitted.selectExpr(*FRONTIER_COLS))
                .unionByName(retry),
                **seen_writes,
                "revalidations": reval,
                # the per-bucket rows, one aggregate over the fetched
                # checkpoint
                "metrics": fetched.groupBy("crawl_id", "host_bucket")
                .agg(*bucket_aggs)
                .selectExpr("crawl_id", f"{wave} AS wave", "host_bucket", "fetched", "retried"),
            }
            record = self._commit(wave, writes, t0, record["next_seq_base"])

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

            totals["fetched"] += record["fetched"]
            totals["docs"] += record["docs_emitted"]
            totals["waves"] += 1
            # re-read pending from the committed snapshot: truncates lineage
            # (the iterative-loop analog of checkpointing)
            pending = self.store.read_table("frontier", "latest", schema=schemas.FRONTIER)
            wave += 1
        return totals

    def _commit(self, wave: int, writes: dict, t0: float, next_base: int) -> dict:
        """Write one wave's tables and commit it with its record — the
        one commit path of seeding, injection and the crawl loop.

        ``writes`` maps table -> DataFrame (``None``: not written this
        wave). The writes are independent jobs over checkpointed
        inputs, each a scan, a narrow step and the write, submitted at
        once from driver threads so Spark schedules them in one pool
        and their fixed per-job latencies overlap; a write
        that hangs shows up here, in its future. Once all are written,
        the wave's counters are read back from the staged files'
        parquet footers (:meth:`SnapshotStore.wave_stats`) — files that
        are already complete cannot race the queries that wrote them.
        The manifest commit comes last and holds the wave's record, so
        a wave is durable iff all of its writes are, and its counters
        are durable with it. After every :data:`COMPACT_EVERY`-th wave
        the exact backend compacts ``url_seen``, the table its anti-join
        re-reads each wave (the Bloom backend never re-reads it).

        Returns the record: ``candidates`` (url_seen rows: every row the
        wave admitted but the ``dont_filter`` ones, which the seen set
        does not record), ``docs_emitted`` (documents rows: the parse-ok
        detail pages with spans), ``fetched`` (the sum of the per-bucket metrics rows),
        ``pending`` (frontier rows), ``wall_ms`` (``t0`` to just before
        the manifest swap, so it counts the writes) and
        ``next_seq_base``: ``assign_seq`` numbers rows strictly above
        its base, so the next base is the largest committed frontier
        seq.
        """
        writes = {t: df for t, df in writes.items() if df is not None}
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [pool.submit(self.store.write_wave, t, wave, df) for t, df in writes.items()]
            for fut in futures:
                fut.result()
        pending, max_seq = self.store.wave_stats("frontier", wave, "discovered_seq")
        docs = self.store.wave_stats("documents", wave)[0] if "documents" in writes else 0
        fetched = 0
        if "metrics" in writes:  # at most n_buckets rows
            fetched = self.store.wave_stats("metrics", wave, "fetched", "sum")[1] or 0
        record = {
            "candidates": self.store.wave_stats("url_seen", wave)[0],
            "docs_emitted": docs,
            "fetched": fetched,
            "pending": pending,
            "next_seq_base": max(next_base, max_seq or 0),
        }
        record["wall_ms"] = int((time.monotonic() - t0) * 1000)
        self.store.commit_wave(wave, record)
        if self.seen_filter is None and wave and wave % COMPACT_EVERY == 0:
            self.store.compact("url_seen")
        return record

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


