"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the real ``spider_spark`` code path, over inputs derived
*deterministically* from the driver's parquet tables so the DuckDB
``oracle_sql()`` twin can rebuild byte-identical inputs with plain SQL.

Input derivations (shared by both engines):

* **frontier** — from ``events``: ``host_id = user_id % 40``,
  ``page_id = event_id % 3000`` (forces duplicates), messy URL
  ``http://H{h}.EXAMPLE:80/p/{p}?b=2&a=1#s`` whose canonical form is
  ``http://h{h}.example/p/{p}?a=1&b=2``; ``seq = event_id``;
  ``priority = event_id % 3``; ``attempt = event_id % 5``;
  ``status`` cycles 503/500/404/200 on ``event_id % 11``;
  ``dont_filter = (event_id % 13 == 0)``.
* **corpus** — ``documents`` / ``embeddings`` as-is.

Oracle-facing fingerprints use md5 (DuckDB 1.0 has no sha1); the
engine's internal RFPDupeFilter analog stays sha1
(``spider_spark/functions/urls.py``) and is covered by pytest.

Float columns are rounded to 4 decimals on BOTH sides before output,
and rank/threshold decisions use the rounded value so cross-engine
ULP noise cannot flip a comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.functions import normalize as N
from spider_spark.functions import text as TX
from spider_spark.functions import urls as U
from spider_spark.functions.urls import canonicalize_udf
from spider_spark.operators import ann as ANN
from spider_spark.operators import dedup as D
from spider_spark.operators import graphrank as GR
from spider_spark.operators import mixing as MX
from spider_spark.operators import politeness as P
from spider_spark.operators import revisit as RV
from spider_spark.operators import textdedup as TD

RETRY_CODES = [500, 503, 504, 400, 401, 403, 404, 405, 407, 408, 416, 456, 502, 429]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared derived inputs
# ---------------------------------------------------------------------------


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic raw frontier derived from ``events`` (see module doc)."""
    ev = _t(spark, sf_dir, "events")
    host_id = (F.col("user_id") % 40).cast("long")
    page_id = (F.col("event_id") % 3000).cast("long")
    mod11 = F.col("event_id") % 11
    return ev.select(
        F.col("event_id").alias("seq"),
        F.concat(
            F.lit("http://H"), host_id, F.lit(".EXAMPLE:80/p/"), page_id, F.lit("?b=2&a=1#s")
        ).alias("url"),
        F.concat(
            F.lit("http://h"), host_id, F.lit(".example/p/"), page_id, F.lit("?a=1&b=2")
        ).alias("canonical_url"),
        F.concat(F.lit("h"), host_id, F.lit(".example")).alias("host"),
        host_id.alias("host_id"),
        (F.col("event_id") % 3).cast("int").alias("priority"),
        (F.col("event_id") % 5).cast("int").alias("attempt"),
        F.when(mod11 == 0, 503)
        .when(mod11 == 1, 500)
        .when(mod11 == 2, 404)
        .otherwise(200)
        .cast("int")
        .alias("status"),
        (F.col("event_id") % 13 == 0).alias("dont_filter"),
    ).withColumn("fingerprint", F.md5(F.concat(F.lit("GET|"), F.col("canonical_url"))))


_FRONTIER_SQL = """
    SELECT event_id AS seq,
           'http://h' || (user_id % 40) || '.example/p/' || (event_id % 3000)
               || '?a=1&b=2' AS canonical_url,
           'h' || (user_id % 40) || '.example' AS host,
           (user_id % 40) AS host_id,
           CAST(event_id % 3 AS INT) AS priority,
           CAST(event_id % 5 AS INT) AS attempt,
           CAST(CASE event_id % 11 WHEN 0 THEN 503 WHEN 1 THEN 500
                WHEN 2 THEN 404 ELSE 200 END AS INT) AS status,
           (event_id % 13 = 0) AS dont_filter,
           md5('GET|' || 'http://h' || (user_id % 40) || '.example/p/'
               || (event_id % 3000) || '?a=1&b=2') AS fingerprint
    FROM events
"""

_TOKENS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"

# PII regexes mirrored from spider_spark.functions.text (Java ∩ RE2
# common subset, so the literal passes to DuckDB unchanged)
_PII_EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4_SQL = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE_SQL = r"\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{2,4}"


# ---------------------------------------------------------------------------
# crawl-operator queries (SURVEY.md §2.1–2.2)
# ---------------------------------------------------------------------------


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """canonicalize_udf on the messy URL must equal the independently
    constructed canonical form (lowercase scheme/host, default-port strip,
    fragment strip, query-param sort) — SURVEY.md §2.2. Round 4 folds in
    the crawler-trap fence signals (functions/urls.py, Mercator WWW'99 /
    IRLbot WWW'08 / Heritrix decide-rule shapes): a trap-shaped URL is
    synthesized per row with seq-driven repetition/depth/param/length
    padding, and the five fence columns (path_depth, max_seg_repeat,
    n_params, url_len, is_trap) are oracle-checked against DuckDB's
    independent list-lambda computation. Round 4 second pass folds in
    DUST rule mining (Bar-Yossef et al. WWW'07, operators/dust.py): a
    fetched-pages corpus with three alias families (www host, session/
    tracking params, /index.html suffix) is synthesized from seq,
    rules are MINED from its content-digest groups and APPLIED to a
    fresh frontier the miner never saw; the oracle derives the
    expected rewrites analytically from the generation formulas, so a
    mining regression (missing/over-broad rule) breaks the dust_url
    column."""
    from spider_spark.operators import dust

    fr = _frontier(spark, sf_dir)
    seq = F.col("seq")
    # --- DUST: mine from a deterministic alias corpus ---
    g = F.floor(seq / 5).cast("long")
    m = (seq % 5).cast("int")
    shost = F.concat(F.lit("s"), (g % 50).cast("string"), F.lit(".example"))
    ibase = F.concat(F.lit("http://"), shost, F.lit("/item/"), g.cast("string"))
    corpus_url = (
        F.when(m == 0, ibase)
        .when(
            m == 1,
            F.concat(F.lit("http://www."), shost, F.lit("/item/"), g.cast("string")),
        )
        .when(m == 2, F.concat(ibase, F.lit("?sid="), seq.cast("string")))
        .when(m == 3, F.concat(ibase, F.lit("/index.html")))
        .otherwise(F.concat(ibase, F.lit("?utm=x&sid="), seq.cast("string")))
    )
    pages = fr.select(
        corpus_url.alias("url"), F.concat(F.lit("g"), g.cast("string")).alias("digest")
    )
    rules = dust.mine_rules(dust.alias_pairs(pages), min_support=2)
    nhost = F.concat(F.lit("s"), (seq % 50).cast("string"), F.lit(".example"))
    fresh_url = (
        F.when(
            seq % 3 == 0,
            F.concat(F.lit("http://www."), nhost, F.lit("/new/"), seq.cast("string")),
        )
        .when(
            seq % 3 == 1,
            F.concat(
                F.lit("http://"), nhost, F.lit("/new/"), seq.cast("string"),
                F.lit("?x=1&sid=9"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), nhost, F.lit("/new/"), seq.cast("string"),
                F.lit("/index.html"),
            )
        )
    )
    dusted = dust.apply_rules(fr.select("seq", fresh_url.alias("url")), rules).select(
        "seq", "dust_url"
    )
    base_no_q = F.substring_index(F.col("canonical_url"), "?", 1)
    loop_pad = F.repeat(F.lit("/loop"), (seq % 5).cast("int"))
    depth_pad = F.substring(
        F.lit("/a/b/c/d/e/f/g/h/i/j/k/l/m/n/o/p/q/r/s/t"),
        1,
        ((seq % 9) * 4).cast("int"),
    )
    long_pad = F.repeat(F.lit("x"), ((seq % 7) * 400).cast("int"))
    extra_params = F.substring(
        F.lit(
            "&p01=1&p02=1&p03=1&p04=1&p05=1&p06=1&p07=1"
            "&p08=1&p09=1&p10=1&p11=1&p12=1&p13=1&p14=1"
        ),
        1,
        ((seq % 15) * 6).cast("int"),
    )
    trap_url = F.concat(
        base_no_q, loop_pad, depth_pad, F.lit("/"), long_pad,
        F.lit("?a=1&b=2"), extra_params,
    )
    # Round 4 fifth pass folds in the CDX SURT key (storage/cdx.surt_key
    # — IA sort-friendly URL transform) over the MESSY url: uppercase
    # host lowered, :80 port riding the reversed labels, fragment
    # dropped, query params sorted; the oracle rebuilds the key
    # analytically from the frontier generation formula.
    from spider_spark.storage.cdx import surt_key as _surt

    return fr.select(
        F.col("seq"),
        canonicalize_udf(F.col("url")).alias("canonical_url"),
        _surt(F.col("url")).alias("surt"),
        U.path_depth_col(trap_url).alias("path_depth"),
        U.max_segment_repeat_col(trap_url).alias("max_seg_repeat"),
        U.query_param_count_col(trap_url).alias("n_params"),
        F.length(trap_url).cast("int").alias("url_len"),
        U.is_trap_col(trap_url).alias("is_trap"),
    ).join(dusted, "seq")


def q_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_intra_batch: keep-first per fingerprint, dont_filter exempt."""
    fr = _frontier(spark, sf_dir).withColumn("discovered_seq", F.col("seq"))
    out = D.dedup_intra_batch(fr)
    return out.select("fingerprint", "seq", "dont_filter")


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schedule_wave: per-host budget = min(16, floor(1s/delay)), rank by
    (priority DESC, seq ASC); salted two-phase window (SURVEY.md §2.2)."""
    fr = _frontier(spark, sf_dir).withColumn("discovered_seq", F.col("seq"))
    fr = D.dedup_intra_batch(fr).withColumn("crawl_id", F.lit("q"))
    hosts = fr.select("host", "host_id").distinct()
    # 0.125 is exact in binary, so floor(1.0/delay) is engine-independent
    policy = hosts.select(
        "host",
        F.when(F.col("host_id") % 3 == 2, 1.0).otherwise(0.125).alias("crawl_delay_s"),
        F.lit(16).alias("max_concurrency"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    dispatch = P.schedule_wave(fr, policy, wave_seconds=1.0, n_salts=4)
    return dispatch.select("host", "seq", "priority", "dispatch_rank")


def q_global_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCURRENT_REQUESTS global cap (settings.py:24): after the
    per-host budget, the fleet-wide top-200 by (priority DESC, seq ASC)
    — planned as TakeOrderedAndProject, no global sort."""
    fr = _frontier(spark, sf_dir).withColumn("discovered_seq", F.col("seq"))
    fr = D.dedup_intra_batch(fr).withColumn("crawl_id", F.lit("q"))
    hosts = fr.select("host", "host_id").distinct()
    policy = hosts.select(
        "host",
        F.when(F.col("host_id") % 3 == 2, 1.0).otherwise(0.125).alias("crawl_delay_s"),
        F.lit(16).alias("max_concurrency"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    dispatch = P.schedule_wave(
        fr, policy, wave_seconds=1.0, n_salts=4, global_cap=200
    )
    return dispatch.select("host", "seq", "priority")


def q_misc_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_last_number_only + remove_unicode_char +
    convert_to_numeric (helper.py:124-138, 81-85, 338-357) — the §2.4
    scalars not covered by a dedicated query."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    raw1 = F.concat(
        F.lit("rooms "), (eid % 9).cast("string"),
        F.lit(" size "), (eid % 200).cast("string"), F.lit(","),
        F.element_at(
            F.array(F.lit("25"), F.lit("5"), F.lit("75"), F.lit("0")),
            (eid % 4 + 1).cast("int"),
        ),
    )
    uni_raw = F.concat(
        F.lit("caffé "), (eid % 50).cast("string"), F.lit(" – über")
    )
    num_raw = (
        F.when(eid % 3 == 0, F.concat((eid % 100).cast("string"), F.lit(".5")))
        .when(eid % 3 == 1, (eid % 1000).cast("string"))
        .otherwise(F.lit("x"))
    )
    # folded in (round 3, to keep the registry within the driver's
    # check budget): currency_parser symbol→ISO with the
    # AUD-iff-australia rule (helper.py:140-169)
    m = eid % 7
    rent = (
        F.when(m == 0, F.lit("€120"))
        .when(m == 1, F.lit("£45"))
        .when(m == 2, F.lit("$30"))
        .when(m == 3, F.lit("TL99"))
        .when(m == 4, F.lit("CHF 5"))
        .when(m == 5, F.lit("QAR 7"))
        .otherwise(F.lit("idk"))
    )
    src = F.when(F.col("user_id") % 2 == 0, F.lit("rent_australia_com")).otherwise(
        F.lit("rent_us_com")
    )
    # folded in (round 3, second fold pass): extract_utilities — 6 chars
    # after the LAST currency symbol (helper.py:492-498) + the pipeline's
    # numeric coercion (pipelines.py:166-167)
    util_n = (eid % 300 + 50).cast("string")
    util_frac = F.element_at(
        F.array(F.lit("25"), F.lit("50"), F.lit("75"), F.lit("00")),
        (eid % 4 + 1).cast("int"),
    )
    util_desc = F.when(
        eid % 5 == 0,
        F.concat(F.lit("no symbol here, rent "), util_n, F.lit(" monthly")),
    ).otherwise(
        F.concat(
            F.lit("rent € "), (eid % 90 + 1).cast("string"),
            F.lit(" plus utilities € "), util_n, F.lit(","), util_frac,
            F.lit(" monthly"),
        )
    )
    raw_util = N.extract_utilities("€", util_desc)
    # folded in (round 4, third pass): registered-domain extraction
    # (functions/domains.py — the publicsuffix.org algorithm over the
    # builtin PSL shapes): six host forms exercise multi-label rules,
    # the *.ck wildcard, the !www.ck exception, an unregistrable
    # public-suffix host (NULL), and the implicit-* fallback
    from spider_spark.functions.domains import psl_dim, with_registered_domain

    hid = (eid % 20).cast("string")
    test_host = (
        F.when(eid % 6 == 0, F.concat(F.lit("shop.h"), hid, F.lit(".co.uk")))
        .when(eid % 6 == 1, F.concat(F.lit("h"), hid, F.lit(".com")))
        .when(eid % 6 == 2, F.concat(F.lit("foo.h"), hid, F.lit(".ck")))
        .when(eid % 6 == 3, F.lit("sub.www.ck"))
        .when(eid % 6 == 4, F.lit("co.uk"))
        .otherwise(F.concat(F.lit("x.y"), hid, F.lit(".unknown")))
    )
    out = ev.select(
        eid.alias("eid"),
        N.extract_last_number_only(raw1, ".", ",").try_cast("double").alias("last_num"),
        N.remove_unicode_char(uni_raw).alias("ascii_text"),
        N.convert_to_numeric(num_raw).alias("num"),
        N.currency_parser(rent, src).alias("currency"),
        raw_util.alias("utilities_raw"),
        N.convert_string_to_numeric(raw_util, ".", ",").alias("utilities"),
        test_host.alias("test_host"),
    )
    return with_registered_domain(out, psl_dim(spark), host_col="test_host")


def q_retry_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry re-queue: status in RETRY_HTTP_CODES and attempt < 3 →
    attempt+1 with dont_filter=true (settings.py:98-99 semantics)."""
    fr = _frontier(spark, sf_dir)
    return (
        fr.filter(F.col("status").isin(RETRY_CODES) & (F.col("attempt") < 3))
        .select(
            "seq",
            "status",
            (F.col("attempt") + 1).alias("attempt_next"),
            F.lit(True).alias("dont_filter"),
        )
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots chain end-to-end (round 3: raw robots.txt TEXT -> parsed
    rules -> policy overlay -> decisions). Hosts with host_id%4==3
    publish a robots.txt whose star group disallows /private, allows
    /private/open, and sets Crawl-delay host_id%3+1 (a decoy group for
    another agent must be skipped). Rows seq%5==0 live under /private/,
    rows seq%7==0 (not %5) under /private/open/. Round 4 additionally
    pins the polite wildcard semantics and RFC 9309 empty-path
    handling: ``Disallow: /tmp*x`` truncates to /tmp (blocks
    /tmp-cache rows, seq%11), ``Allow: /private/w*ld`` is DROPPED not
    truncated (so /private/wild rows, seq%13, stay blocked — a
    truncated allow would win longest-match and over-allow), and
    path-less URLs (seq%17) resolve to '/' (allowed here). Outputs both
    decision surfaces: robots_allowed (operators/robots.robots_check —
    RFC 9309 longest-match, allow wins ties) and kept (the engine's
    conservative prefix-only politeness.robots_filter over the merged
    policy), plus the merged crawl delay."""
    from spider_spark.operators import robots as R

    fr = _frontier(spark, sf_dir)
    fr = fr.withColumn(
        "canonical_url",
        F.when(
            F.col("seq") % 5 == 0,
            F.concat(F.lit("http://"), F.col("host"), F.lit("/private/"), F.col("seq")),
        )
        .when(
            F.col("seq") % 7 == 0,
            F.concat(
                F.lit("http://"), F.col("host"), F.lit("/private/open/"), F.col("seq")
            ),
        )
        .when(
            F.col("seq") % 11 == 0,
            F.concat(
                F.lit("http://"), F.col("host"), F.lit("/tmp-cache/"), F.col("seq")
            ),
        )
        .when(
            F.col("seq") % 13 == 0,
            F.concat(
                F.lit("http://"), F.col("host"), F.lit("/private/wild/"), F.col("seq")
            ),
        )
        .when(
            F.col("seq") % 17 == 0,
            F.concat(F.lit("http://"), F.col("host")),
        )
        .otherwise(F.col("canonical_url")),
    )
    hosts = fr.select("host", "host_id").distinct()
    robots_txt = F.when(
        F.col("host_id") % 4 == 3,
        F.concat(
            F.lit(
                "# synthetic\nUser-agent: otherbot\nDisallow: /decoy\n\n"
                "User-agent: *\nDisallow: /private\nAllow: /private/open\n"
                "Allow: /private/w*ld\nDisallow: /tmp*x\n"
                "Crawl-delay: "
            ),
            (F.col("host_id") % 3 + 1).cast("string"),
        ),
    )
    parsed = R.parse_robots_texts(hosts.select("host", robots_txt.alias("robots_txt")))
    policy = hosts.select(
        "host",
        F.lit(0.1).alias("crawl_delay_s"),
        F.lit(16).alias("max_concurrency"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    merged = R.merge_into_policy(policy, parsed)
    checked = R.robots_check(fr, parsed)
    kept = P.robots_filter(fr, merged, obey=True).select(
        "seq", F.lit(True).alias("kept")
    )
    return (
        checked.join(kept, "seq", "left")
        .join(merged.select("host", "crawl_delay_s"), "host")
        .select(
            "seq",
            "host",
            "canonical_url",
            "robots_allowed",
            F.coalesce(F.col("kept"), F.lit(False)).alias("kept"),
            "crawl_delay_s",
        )
    )


def q_span_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span assembly: media spans deduped keeping FIRST occurrence, text
    spans untouched (reference dedups images via set() at
    pipelines.py:127-131; keep-first is the documented deterministic
    choice). Spans derived from documents: one span per token position,
    every 3rd position is media with ref id ``token_pos % 5`` (forces
    repeats)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("offset", "tok")
    )
    spans = toks.select(
        "doc_id",
        "offset",
        F.when(F.col("offset") % 3 == 0, F.lit("media")).otherwise(F.lit("text")).alias(
            "kind"
        ),
        F.when(F.col("offset") % 3 == 0, F.lit(None).cast("string")).otherwise(
            F.col("tok")
        ).alias("text"),
        F.when(
            F.col("offset") % 3 == 0,
            F.concat(F.lit("img/"), (F.col("offset") % 5).cast("string")),
        ).otherwise(F.lit(None).cast("string")).alias("media_ref"),
    )
    arr = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ).alias("raw")
    )
    spans_struct = F.transform(
        F.col("raw"),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].cast("int").alias("offset"),
        ),
    )
    import spider_spark.operators.spans as SP

    deduped = arr.select("doc_id", spans_struct.alias("spans")).selectExpr(
        "doc_id", f"{SP.dedup_media_spans('spans')} AS spans"
    )
    return deduped.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


# ---------------------------------------------------------------------------
# normalize-stage scalar functions (SURVEY.md §2.4)
# ---------------------------------------------------------------------------


def q_extract_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_number_only with '.' thousands / ',' scale separators over
    'about <k>.<lpad3> m2' strings (helper.py:88-102 semantics); folded
    in (round 3): get_price — min of both separator readings, max if
    min<10 (helper.py:47-61) — and sq_feet_to_meters int(feet/10.764)
    + weekly→monthly rent*4 (helper.py:36-44,649-651), both driven off
    the same lineitem keys so all four §2.4 scalars share one
    driver-checked registry slot."""
    li = _t(spark, sf_dir, "lineitem")
    s = F.concat(
        F.lit("about "),
        (F.col("l_orderkey") % 90 + 1).cast("string"),
        F.lit("."),
        F.lpad((F.col("l_partkey") % 1000).cast("string"), 3, "0"),
        F.lit(",5 m2"),
    )
    ps = F.concat(
        (F.col("l_orderkey") % 9).cast("string"),
        F.lit("."),
        F.lpad((F.col("l_partkey") % 1000).cast("string"), 3, "0"),
    )
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        N.extract_number_only(s, ".", ",").try_cast("double").alias("num"),
        N.get_price(ps).cast("long").alias("price"),
        N.sq_feet_to_meters((F.col("l_orderkey") % 5000).cast("double"))
        .cast("long")
        .alias("sqm"),
        N.weekly_to_monthly_rent(F.col("l_orderkey") % 700)
        .cast("long")
        .alias("rent_pm"),
    ).distinct()


def q_energy_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """energy_label_extractor kWh bands (helper.py:185-201)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        N.energy_label_extractor((F.col("l_orderkey") % 120).cast("double")).alias("label"),
    ).distinct()


def q_format_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format_date 'd/M/yyyy' → ISO, passthrough on failure
    (helper.py:172-183)."""
    li = _t(spark, sf_dir, "lineitem")
    ds = F.date_format(F.col("l_shipdate"), "d/M/yyyy")
    bad = F.when(F.col("l_linenumber") % 4 == 0, F.lit("soon")).otherwise(ds)
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        N.format_date(bad).alias("avail"),
    ).distinct()


#: month-name pool for q_extract_date (forms that the reference's
#: quirky loop actually resolves — see normalize.extract_date docstring)
_ED_POOL = [
    "Oktober", "März", "September", "December", "March", "October",
    "August", "Mai", "Juli", "Dezember", "November", "April",
]
#: multi-locale month words for q_date_multilocale (en/es/fr/nl/tr +
#: it/pt/de since round 4; pl/da/sv/ro since round 5 — the oracle's
#: word array is generated from this list, so both sides index the
#: same pool; the month-number CASE is generated from
#: MULTILOCALE_MONTHS itself)
_ML_POOL = [
    "march", "agosto", "août", "mei", "ocak", "gennaio",
    "julio", "février", "kasım", "março", "maart", "dezember",
    # round 5: pl (nominative + genitive), da, sv, ro
    "marzec", "grudnia", "marts", "augusti", "octombrie", "iunie",
]
_ML_TODAY = "2021-06-15"


def _date_parts():
    eid = F.col("event_id")
    return {
        "d": (eid % 27 + 1).cast("string"),
        "dd": F.lpad((eid % 27 + 1).cast("string"), 2, "0"),
        "mnum": (eid % 12 + 1).cast("string"),
        "mm": F.lpad((eid % 12 + 1).cast("string"), 2, "0"),
        "yyyy": (eid % 4 + 2020).cast("string"),
    }


def q_extract_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_date German/English month-name mapping (helper.py:206-266),
    incl. the 'januar'-beats-raw and raw-beats-other-months precedence."""
    ev = _t(spark, sf_dir, "events")
    p = _date_parts()
    mname = F.element_at(
        F.array(*[F.lit(x) for x in _ED_POOL]), (F.col("event_id") % 12 + 1).cast("int")
    )
    form = F.col("event_id") % 8
    raw = (
        F.when(form == 0, F.concat(F.lit("Frei ab "), p["dd"], F.lit("."), p["mm"], F.lit("."), p["yyyy"]))
        .when(form == 1, F.concat(F.lit("ab "), mname, F.lit(" "), p["yyyy"]))
        .when(form == 2, F.concat(p["d"], F.lit("."), p["mnum"], F.lit("."), p["yyyy"]))
        .when(form == 3, F.concat(p["mm"], F.lit("."), p["yyyy"]))
        .when(form == 4, F.lit("soon"))
        .when(form == 5, F.concat(F.lit("1. Januar "), p["yyyy"]))
        .when(form == 6, F.concat(F.lit("mai 15.03."), p["yyyy"]))
        .otherwise(F.concat(p["dd"], F.lit("/"), p["mm"], F.lit("/"), p["yyyy"]))
    )
    # stage raw as a real projection: extract_date references its input
    # ~200 times across the month when-chain, and inlining the CASE that
    # builds raw into every reference blows the codegen method limit
    # (measured 11.6s -> interpreted fallback); staged, the chain refers
    # to a plain column (see the HOF-recompute guard in test_plans.py)
    staged = ev.select(F.col("event_id").alias("eid"), raw.alias("raw"))
    return staged.select(
        "eid", "raw", N.extract_date(F.col("raw")).alias("avail_date")
    )


def q_date_multilocale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dateparser-analog multi-locale parse + future-shift rule
    (helper.py:593-605), today injected for determinism."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    d = (eid % 28 + 1).cast("string")
    dd = F.lpad(d, 2, "0")
    mnum = (eid % 12 + 1).cast("string")
    mm = F.lpad(mnum, 2, "0")
    yyyy = (eid % 4 + 2020).cast("string")
    w = F.element_at(
        F.array(*[F.lit(x) for x in _ML_POOL]),
        (eid % len(_ML_POOL) + 1).cast("int"),
    )
    form = eid % 7
    raw = (
        F.when(form == 0, F.concat(d, F.lit("/"), mnum, F.lit("/"), yyyy))
        .when(form == 1, F.concat(dd, F.lit("-"), mm, F.lit("-"), yyyy))
        .when(form == 2, F.concat(d, F.lit(" "), w, F.lit(" "), yyyy))
        .when(form == 3, F.concat(w, F.lit(" "), d, F.lit(", "), yyyy))
        .when(form == 4, F.concat(d, F.lit("."), mnum, F.lit("."), yyyy))
        .when(form == 5, F.lit("available soon"))
        .otherwise(F.concat(F.lit("29/02/"), yyyy))
    )
    staged = ev.select(eid.alias("eid"), raw.alias("raw"))
    return staged.select(
        "eid", "raw", N.multilocale_available_date(F.col("raw"), _ML_TODAY).alias("avail_date")
    )


def q_rent_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_rent_currency unit (helper.py:309-323) + the framework
    pipeline's stored rent incl. its fractional double-parse quirk
    (pipelines.py:153-159)."""
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    k = (eid % 29 + 1).cast("string")
    p3 = F.lpad((uid % 1000).cast("string"), 3, "0")
    frac = F.element_at(
        F.array(F.lit("00"), F.lit("25"), F.lit("50"), F.lit("75")),
        (eid % 4 + 1).cast("int"),
    )
    sym = F.element_at(
        F.array(*[F.lit(x) for x in ["€", "£", "$", "TL ", "CHF ", "QAR ", ""]]),
        (eid % 7 + 1).cast("int"),
    )
    raw = F.concat(sym, k, F.lit("."), p3, F.lit(","), frac, F.lit(" warm"))
    src = F.when(uid % 2 == 0, F.lit("rent_australia_com")).otherwise(F.lit("rent_us_com"))
    rent, currency = N.extract_rent_currency(raw, src, ".", ",")
    stored = N.rent_string_pipeline_rent(raw, ".", ",")
    return ev.select(
        eid.alias("eid"),
        F.round(rent, 4).alias("rent"),
        F.round(stored, 4).alias("rent_stored"),
        currency.alias("currency"),
    )


def q_xpath_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 selector parity forms over deterministic HTML — each
    column exercises an idiom the reference hits most (VERDICT r2 item
    1): contains(text(),..) + following-sibling:: (the
    //td[..]/following-sibling::td/text() key-value-table shape, 1,531
    spiders), contains(.,..) (//script[contains(.,'LatLng')] coords),
    contains(@class,..), [last()], CSS :nth-child(n), :contains(), and
    .re()/.re_first() composition (116 spiders). The oracle
    reconstructs expected values from the same doc_id formulas."""
    from spider_spark.operators.selectors import css_extract, css_re, re_first, xpath_extract

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lat = F.concat(F.lit("48."), F.lpad(((did * 37) % 10000).cast("string"), 4, "0"))
    lng = F.concat(F.lit("2."), F.lpad(((did * 53) % 10000).cast("string"), 4, "0"))
    html = F.concat(
        F.lit('<div class="card rental"><table><tr><td>Zimmer</td><td>'),
        (did % 5 + 1).cast("string"),
        F.lit("</td></tr><tr><td>Miete</td><td>"),
        (did % 2500 + 250).cast("string"),
        F.lit(" €</td></tr></table><ul><li>Surface habitable "),
        (did % 120 + 18).cast("string"),
        F.lit(" m2</li><li>Balcon : "),
        F.when(did % 2 == 0, F.lit("oui")).otherwise(F.lit("non")),
        F.lit("</li></ul><dl><dt>Etage</dt><dd>EG</dd><dd>"),
        (did % 6).cast("string"),
        F.lit("</dd></dl><script>var map = L.LatLng("),
        lat, F.lit(", "), lng,
        F.lit(');</script><div class="imgs"><img src="/i/'),
        did.cast("string"),
        F.lit('_1.jpg"><img src="/i/'),
        did.cast("string"),
        F.lit('_2.jpg"></div></div>'),
    )
    staged = docs.select("doc_id", html.alias("html"))
    h = F.col("html")
    first = lambda c: F.try_element_at(c, F.lit(1))
    return staged.select(
        "doc_id",
        first(
            xpath_extract(h, "//td[contains(text(),'Zimmer')]/following-sibling::td/text()")
        ).alias("rooms"),
        first(
            xpath_extract(h, "//td[contains(text(),'Miete')]/following-sibling::td/text()")
        ).alias("rent_str"),
        first(css_re(h, "li:contains('Surface')::text", r"\d+")).alias("surface"),
        first(xpath_extract(h, "//li[contains(.,'Balcon')]/text()")).alias("balcon"),
        first(xpath_extract(h, "//dt/following-sibling::dd[last()]/text()")).alias(
            "floor_last"
        ),
        re_first(h, "//script[contains(.,'LatLng')]/text()", r"LatLng\((\d+\.\d+)", "xpath").alias("lat"),
        first(css_extract(h, "div.imgs img:nth-child(2)::attr(src)")).alias("img2"),
        first(
            xpath_extract(h, "//div[contains(@class,'card')]//dd[1]/text()")
        ).alias("floor_first"),
        # -- wave-2 predicate forms (round-3 second pass) --
        first(
            xpath_extract(h, "//li[not(contains(.,'Balcon'))]/text()")
        ).alias("surface_li"),
        first(
            xpath_extract(h, "//td[.='Zimmer']/following-sibling::td/text()")
        ).alias("rooms_eq"),
        first(xpath_extract(h, "normalize-space(//dl)")).alias("dl_norm"),
        first(xpath_extract(h, "//script/parent::div/@class")).alias("card_class"),
        F.concat_ws(
            "|", xpath_extract(h, "//dt/text() | //td[1]/text()")
        ).alias("keys_union"),
        # -- wave-3: substring-after/-before outer fns (352 spiders), incl.
        # the nested script-literal slice shape --
        first(
            xpath_extract(
                h,
                "substring-before(substring-after("
                "//script[contains(.,'LatLng')]/text(), ', '), ');')",
            )
        ).alias("lng"),
        first(
            xpath_extract(
                h,
                "substring-before("
                "//td[.='Miete']/following-sibling::td/text(), ' €')",
            )
        ).alias("rent_num"),
        # -- wave-4: following::/preceding:: closure axes (24 spiders),
        # self::tag[pred] / | union in predicates (23), concat() (8) --
        first(
            xpath_extract(h, "//td[.='Zimmer']/following::li[1]/text()")
        ).alias("li_after"),
        first(
            xpath_extract(h, "//table/following::dd[last()]/text()")
        ).alias("floor_following"),
        first(
            xpath_extract(h, "//script/preceding::li[1]/text()")
        ).alias("li_before_script"),
        F.concat_ws(
            "|", xpath_extract(h, "//dl/*[not(self::dt)]/text()")
        ).alias("dds"),
        F.concat_ws(
            "|", xpath_extract(h, "//dl/*[self::dt | self::dd]/text()")
        ).alias("dl_all"),
        first(
            xpath_extract(h, "concat(//dt/text(), ': ', //dd/text())")
        ).alias("dl_pair"),
    )


def q_rent_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rent_sanity_filter keep 0<rent<=40000 (intended semantics of
    templates/spiders/basic.tmpl:46-47 — documented divergence)."""
    ev = _t(spark, sf_dir, "events")
    rent = (F.col("event_id") * 7919) % 60000
    return ev.select(F.col("event_id").alias("eid"), rent.alias("rent")).filter(
        N.rent_sanity_filter(rent)
    )


def q_amenities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """amenity keyword flags (helper.py:390-434): True when keyword
    occurs else NULL."""
    docs = _t(spark, sf_dir, "documents")
    extra = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit(" has Parking garage ")).otherwise(F.lit(" ")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" grosser Balkon ")).otherwise(F.lit(" ")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" swimming pool & lift ")).otherwise(F.lit(" ")),
        F.col("text"),
    )
    flags = N.amenity_flags(extra)
    # folded: description_clean (strip_tags + remove_white_spaces,
    # helper.py:25-34,73-78) rides along as one more column so both
    # operators fit one driver-checked registry slot
    html = F.concat(
        F.lit("<div class='x'><b>"), F.col("text"), F.lit("</b>  <br/> tail</div>")
    )
    return docs.select(
        "doc_id",
        flags["parking"].alias("parking"),
        flags["balcony"].alias("balcony"),
        flags["swimming_pool"].alias("swimming_pool"),
        flags["elevator"].alias("elevator"),
        flags["terrace"].alias("terrace"),
        N.remove_white_spaces(N.strip_tags(html)).alias("clean"),
    )


def q_property_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """property_type_lookup multilingual label → canonical type
    (helper.py:273-304)."""
    ev = _t(spark, sf_dir, "events")
    labels = ["Wohnung", "maison", "  studio ", "kamer", "Villa", "daire", "loft", "EV"]
    lab = F.element_at(
        F.array(*[F.lit(x) for x in labels]), (F.col("event_id") % 8 + 1).cast("int")
    )
    return ev.select(
        F.col("event_id").alias("eid"),
        lab.alias("label"),
        N.property_type_lookup(lab).alias("ptype"),
    )


# ---------------------------------------------------------------------------
# loader/aggregation shapes (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


def q_take_first_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TakeFirst + Join(' ') loader processors per source group
    (loaders.py:14-47): first text by doc_id order; space-joined texts."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.min_by("text", "doc_id").alias("first_text"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "lang"))),
                lambda s: s["lang"],
            ),
            " ",
        ).alias("joined_langs"),
        F.count("*").alias("n_docs"),
    )


def q_position_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """position counter per source run (der_immo_tip.py:23,137,187);
    folded in (round 3, registry budget): image dedup +
    external_images_count (pipelines.py:127-131) — refs with repeats
    (doc_id, i%4 for i<n) → distinct count, one more per-doc column.

    Folded in (round 4, registry budget): the anchor-text aggregation
    pipeline (operators/anchortext — Brin & Page WWW'98 §2.2 inlink
    descriptions). Deterministic pages carry 5 anchors each: an
    absolute link with an UPPERCASE host (canonicalization must
    lowercase it to pool with its lowercase twin), a host-relative link
    (resolve_udf against the page URL), a shared-label absolute link
    ("common"), a fragment-only self link (dropped by drop_self after
    canonicalization strips the fragment), and an empty image anchor
    (dropped by drop_empty). extract_anchors → anchor_edges →
    anchor_profiles(k=3, salted top-k), profiles pivoted to per-target
    top-3 (anchor, count) columns and joined back per doc via its
    primary target — the oracle rebuilds the surviving edge set from
    the generation formula and ranks with a plain window."""
    from spider_spark.operators import anchortext as AT

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    n = (F.col("doc_id") % 7 + 1).cast("int")
    refs = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat(F.lit("img/"), (i % 4).cast("string")),
    )
    did = F.col("doc_id").cast("string")
    t50 = (F.col("doc_id") % 50).cast("string")
    t20 = (F.col("doc_id") % 20).cast("string")
    lab7 = (F.col("doc_id") % 7).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="http://T.example/t/'), t50,
        F.lit('">site '), lab7, F.lit("</a>"),
        F.lit('<a href="/t/'), t20, F.lit('">rel</a>'),
        F.lit('<a href="http://t.example/t/'), t50, F.lit('">common</a>'),
        F.lit('<a href="#frag">self</a>'),
        F.lit('<a href="/i/x.jpg"></a>'),
        F.lit("</body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("http://s"), (F.col("doc_id") % 4).cast("string"),
                 F.lit(".example/p/"), did).alias("url"),
        html.alias("html"),
    )
    prof = AT.anchor_profiles(AT.anchor_edges(AT.extract_anchors(pages)), k=3)
    piv = prof.groupBy("dst").agg(
        *[
            f
            for r in (1, 2, 3)
            for f in (
                F.max(F.when(F.col("rank") == r, F.col("anchor"))).alias(
                    f"anchor_top{r}"
                ),
                F.max(F.when(F.col("rank") == r, F.col("n_links")))
                .cast("long")
                .alias(f"anchor_top{r}_n"),
            )
        ]
    )
    base = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("position"),
        F.size(F.array_distinct(refs)).alias("external_images_count"),
        F.concat(F.lit("http://t.example/t/"), t50).alias("dst"),
    )
    return base.join(piv, "dst").drop("dst")


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling + token-budget shard packing
    (operators/mixing): per-source mixing rates derived from the source
    numeral ((n%4+1)*0.25 — all exactly representable doubles, so the
    hash-gate comparison is bit-identical in DuckDB), kept docs packed
    into 2000-token shards in doc_id order via the distributed
    exclusive prefix sum (bucket windows + broadcast offsets).

    Folded in (round 4, registry budget): temperature-scaled mixture
    weights (mixing.temperature_rates — the mBERT/XLM-R p^alpha
    sampling rule, alpha=0.5) computed over the FULL corpus and applied
    as an independent salted gate; per kept doc the columns
    temp_rate_e6 (its source's temperature keep-rate, e6-quantized via
    the floor(x*1e6+0.5) hash-stability convention) and temp_kept (the
    'temp:'-salted hash gate AGAINST THE QUANTIZED rate, so the
    cross-engine comparison is over bit-identical doubles)."""
    docs = _t(spark, sf_dir, "documents")
    rates = docs.select("source").distinct().select(
        "source",
        (
            ((F.regexp_extract("source", r"(\d+)$", 1).cast("int") % 4) + 1)
            * F.lit(0.25)
        ).alias("rate"),
    )
    staged = docs.select(
        "doc_id", "source", F.size(TX.tokens(F.col("text"))).alias("n_tokens")
    )
    kept = MX.deterministic_sample(staged, rates, stratum_col="source", key_col="doc_id")
    packed = MX.pack_shards(
        kept, "n_tokens", budget=2000, order_col="doc_id", n_buckets=16
    )
    trates = MX.temperature_rates(
        docs.select("doc_id", "source"), alpha=0.5, stratum_col="source"
    ).select("source", (F.floor(F.col("rate") * 1e6 + 0.5) / F.lit(1e6)).alias("rate"))
    tfrac = MX.hash_fraction(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")))
    temp = (
        docs.select("doc_id", "source")
        .join(F.broadcast(trates), "source")
        .select(
            "doc_id",
            F.floor(F.col("rate") * 1e6 + 0.5).cast("long").alias("temp_rate_e6"),
            (tfrac < F.col("rate")).alias("temp_kept"),
        )
    )
    return packed.join(temp, "doc_id")


# ---------------------------------------------------------------------------
# text analysis / corpus dedup (training-data ops)
# ---------------------------------------------------------------------------


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + language ID + quality scoring + Gopher-style
    repetition signals in one projection (round-3 fold of the former
    token_stats / lang_id / quality_score queries, extended with the
    Rae et al. 2021 Appendix-A repetition filters — functions/text.py).
    The synthetic corpus has no newlines, so a lined view is derived
    deterministically (every ' table ' becomes a bullet line break;
    doc_id%4==0 docs gain a trailing ellipsis) to exercise the
    line-based signals; tokens/lines/grams are STAGED projections (HOF
    lambda recompute pitfall). Round 4 folds in the self-trained
    unigram-LM quality score (operators/lmquality — the CCNet/GPT-3
    LM-scoring pipeline shape with the KenLM stage as a corpus-fit
    unigram model; min_count=2 + vocab_cap=4096 exercise both model
    bounds) as lp_e3, the per-doc average log-prob quantized to 1e-3
    integer units for hash stability. Round 4 third pass folds in the
    inverted-index top-term surface (operators/index.top_terms —
    postings + document frequencies under an all-integer max-tf /
    min-df / min-term ordering, so the index build is oracle-checked
    with no transcendental in the ranking)."""
    from spider_spark.operators import lmquality as LM
    from spider_spark.operators.index import top_terms

    docs = _t(spark, sf_dir, "documents")
    top = top_terms(docs)
    model = LM.fit_unigram(docs, min_count=2, vocab_cap=4096)
    lp = LM.score_unigram(docs, model).select(
        "doc_id",
        F.floor(F.col("avg_logp") * 1000 + F.lit(0.5)).cast("bigint").alias("lp_e3"),
    )
    lined0 = F.replace(F.col("text"), F.lit(" table "), F.lit("\n- "))
    lined = F.when(F.col("doc_id") % 4 == 0, F.concat(lined0, F.lit("..."))).otherwise(
        lined0
    )
    staged = docs.select("doc_id", "text", lined.alias("lined")).select(
        "doc_id",
        "text",
        "lined",
        TX.tokens(F.col("text")).alias("toks"),
        TX.doc_lines(F.col("lined")).alias("lines"),
    )
    staged = staged.select(
        "*",
        TX.word_shingles_from(F.col("toks"), 2).alias("grams2"),
        TX.word_shingles_from(F.col("toks"), 5).alias("grams5"),
    )
    mean_wl = TX.mean_word_length_from(F.col("toks"))
    sym_ratio = TX.symbol_word_ratio(F.col("lined"), F.col("toks"))
    dupline = TX.dup_line_fraction_from(F.col("lines"))
    bullet = TX.bullet_line_fraction_from(F.col("lines"))
    ellipsis = TX.ellipsis_line_fraction_from(F.col("lines"))
    top2 = TX.top_ngram_fraction_from(F.col("toks"), F.col("grams2"), 2)
    return staged.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        TX.punct_count(F.col("text")).alias("n_punct"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.quality_score(F.col("text")).alias("quality"),
        mean_wl.alias("mean_wl"),
        sym_ratio.alias("sym_ratio"),
        dupline.alias("dupline_frac"),
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        top2.alias("top2_frac"),
        # round-5: the Gopher dup-n-gram class (n=5 representative) as
        # all-integer within-doc counts — row-local HOFs, no shuffle
        TX.top_ngram_count_from(F.col("grams5")).alias("top5_count"),
        TX.dup_ngram_occurrences_from(F.col("grams5")).alias("dup5_occ"),
        TX.gopher_pass(
            F.size(F.col("toks")), mean_wl, sym_ratio, dupline, bullet, ellipsis, top2
        ).alias("gopher_pass"),
    ).join(lp, "doc_id").join(top, "doc_id", "left")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C 13-gram recipe,
    operators/textdedup.decontaminate): the "benchmark" is the
    deterministic doc_id % 97 == 0 slice of the corpus itself, so every
    benchmark member (and its exact dups) must flag contaminated.
    Shortened to 7-grams so the sf0.01 texts are long enough to overlap."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return TD.decontaminate(docs, bench, n=7)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (C4-style; functions/text.py PII_*): deterministic
    synthetic PII appended per doc (emails on %2, phones on %3, IPv4 on
    %5), then counted and redacted to typed tags."""
    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" mail user"), (F.col("doc_id") % 50).cast("string"),
                     F.lit("@mail.example")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" call +49 30 "),
                     (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
                     F.lit(" 123")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
                     F.lit("."), (F.col("doc_id") % 100).cast("string")),
        ).otherwise(F.lit("")),
    )
    staged = docs.select("doc_id", pii_text.alias("t"))
    scrubbed = staged.select(
        "doc_id",
        TX.pii_email_count(F.col("t")).alias("n_emails"),
        TX.pii_phone_count(F.col("t")).alias("n_phones"),
        TX.pii_ipv4_count(F.col("t")).alias("n_ips"),
        TX.redact_pii(F.col("t")).alias("redacted"),
    )
    # Folded in (round 4, registry budget): WARC/1.1 archival export
    # (storage/warc.warc_response_records — ISO 28500 response records)
    # over the SCRUBBED payload: deterministic urn:uuid record ids
    # derived from the URL, data-derived WARC-Date, byte-exact
    # Content-Length (octet_length), md5-labelled payload digest (the
    # spec allows any labelled algorithm; DuckDB 1.0 has no sha1, and
    # the engine default stays sha1). The oracle rebuilds the record
    # string byte-for-byte, so the full header layout + CRLF framing is
    # driver-checked; shard writing/round-trip parse is pytest-pinned.
    from spider_spark.storage.warc import warc_response_records

    pages = scrubbed.select(
        "doc_id",
        F.concat(F.lit("http://docs.example/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.col("redacted").alias("payload"),
        F.concat(
            F.lit("2026-01-0"), ((F.col("doc_id") % 9) + 1).cast("string"),
            F.lit("T00:00:00Z"),
        ).alias("wdate"),
    )
    recs = warc_response_records(pages, date_col="wdate", digest="md5").select(
        "url", F.col("record").alias("warc_record"),
        F.octet_length("record").alias("warc_bytes"),
    )
    return (
        scrubbed.join(
            pages.select("doc_id", "url").join(recs, "url"), "doc_id"
        )
        .drop("url")
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization by link authority
    (operators/graphrank.pagerank — power iteration with dangling-mass
    redistribution, Page et al. 1999 / Cho et al. WWW'98 "crawl by URL
    ordering"). Graph: 300-node digraph derived deterministically from
    lineitem (src = l_orderkey % 300, dst = l_partkey % 300, parallel
    edges collapsed). The oracle unrolls the same 6 power iterations as
    plain SQL CTEs. Ranks reported in parts-per-million so the driver's
    4-decimal value hash sees ~6 significant digits. Round 4 folds in
    the damping-free OPIC importance twin (graphrank.opic — Abiteboul,
    Preda & Cobena WWW'03 cash/history scheme, synchronous batch
    variant) as opic_ppm over the same graph and round count, oracled
    by the same unrolled-CTE recursion. Round 4 (fourth pass) also
    folds in HITS hubs/authorities (graphrank.hits — Kleinberg JACM'99,
    L1-normalized synchronous half-rounds) as hub_ppm/auth_ppm, 4
    rounds, same unrolled-CTE oracle trick. Round 4 (fifth pass) folds
    in TrustRank (graphrank.trustrank — Gyöngyi et al. VLDB'04,
    seed-restricted teleport with dangling mass returned to the seeds)
    as trust_ppm: seeds are the fixed dim node%10==0 (30 of 300), 6
    rounds, same unrolled-CTE oracle."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 300).alias("src"),
        (F.col("l_partkey") % 300).alias("dst"),
    )
    ranks = GR.pagerank(edges, damping=0.85, n_iter=6)
    opic_ranks = GR.opic(edges, n_iter=6).select(
        "node", F.col("rank").alias("opic")
    )
    hits_ranks = GR.hits(edges, n_iter=4)
    trust_seeds = spark.range(0, 300, 10).select(F.col("id").alias("node"))
    trust_ranks = GR.trustrank(
        edges, trust_seeds, damping=0.85, n_iter=6
    ).select("node", F.col("rank").alias("trust"))
    return (
        ranks.join(opic_ranks, "node")
        .join(hits_ranks, "node")
        .join(trust_ranks, "node")
        .select(
            "node",
            F.round(F.col("rank") * 1000000, 2).alias("rank_ppm"),
            F.round(F.col("opic") * 1000000, 2).alias("opic_ppm"),
            F.round(F.col("hub") * 1000000, 2).alias("hub_ppm"),
            F.round(F.col("auth") * 1000000, 2).alias("auth_ppm"),
            F.round(F.col("trust") * 1000000, 2).alias("trust_ppm"),
        )
    )


def q_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (operators/revisit.change_rate_schedule): the
    Cho & Garcia-Molina (TOIT'03) Poisson change-rate estimator over a
    deterministic fetch history derived from events — 500 URLs x 20
    fetches 12 h apart; the content digest changes on purchase/error
    events. Output: per-URL rate (per day), clamped revisit interval,
    next due time."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    hist = ev.select(
        F.concat(F.lit("u"), (eid % 500).cast("string")).alias("url"),
        (F.floor(eid / 500) * 43200.0).cast("double").alias("fetch_time"),
        F.when(
            F.col("event_type").isin("purchase", "error"),
            F.concat(F.lit("c"), eid.cast("string")),
        ).otherwise(F.lit("stable")).alias("content_digest"),
    )
    out = RV.change_rate_schedule(hist)
    # Hash-stable float handling (round-4 fix for the driver's exact
    # value hash): quantize ONCE with floor(x*scale + 0.5) into BIGINT
    # units. floor and * are pure IEEE double ops — bit-identical in
    # Spark and DuckDB given the same inputs — unlike stacked round()
    # whose decimal re-quantization differs at the ulp between JVM
    # BigDecimal and libm-based engines. Margin-audited by
    # tools/audit_float_margins.py (distance to the nearest floor
    # boundary >> accumulated ln/div ulp error).
    return out.select(
        "url",
        "n_fetches",
        "n_changes",
        F.floor(F.col("lambda_per_s") * 86400.0 * 10000.0 + 0.5).alias(
            "lambda_per_day_e4"
        ),
        F.floor(F.col("revisit_interval_s") + 0.5).alias("revisit_interval_s"),
        F.floor(F.col("next_due_s") + 0.5).alias("next_due_s"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level exact dedup (md5-of-normalized-text groupBy). Folded in
    (round 4): exact-substring dedup at k-gram granularity (Lee et al.
    ACL 2022 ExactSubstr, operators/textdedup.substring_dup_stats) —
    each surviving doc carries its duplicated-span profile (n_tokens,
    dup_spans, dup_tokens; all-integer, k=4 so the synthetic corpus has
    real cross-doc collisions). Spark groups grams by xxhash64, the
    oracle by gram text — identical equivalence classes absent a 64-bit
    collision; keep-first tie-break is min (doc_id, start) on both
    sides."""
    docs = _t(spark, sf_dir, "documents")
    stats = TD.substring_dup_stats(docs, k=4)
    return (
        TD.exact_dedup(docs)
        .join(stats, F.col("keep_id") == F.col("doc_id"))
        .select("fingerprint", "keep_id", "n_dups", "n_tokens", "dup_spans", "dup_tokens")
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TD.minhash_signatures(docs, n_hashes=4, shingle_n=3)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + their EXACT n-gram Jaccard (the verify
    step a real near-dup pipeline runs on the candidates). Folded in
    (round 3, second fold pass): ngram_jaccard — the exact inverted
    index path — now exercises on the same shingle set the LSH used,
    so the query pins both operators and their agreement."""
    docs = _t(spark, sf_dir, "documents")
    pairs = TD.minhash_lsh_pairs(docs, n_hashes=8, bands=4, shingle_n=5)
    exact = TD.ngram_jaccard_pairs(docs, threshold=0.0, shingle_n=5)
    return pairs.join(exact, ["id_a", "id_b"], "left").select(
        "id_a", "id_b",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs -> connected components (alternating large-star /
    small-star, Kiveris et al. SoCC'14) -> one kept representative per
    duplicate cluster (operators/textdedup.dedup_clusters). The oracle
    recomputes the same pairs and resolves the transitive closure with a
    recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    return TD.dedup_clusters(docs, n_hashes=8, bands=4, shingle_n=5)


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03): k=4 char
    grams, window w=5, distinct selected (pos, hash) pairs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return TD.winnow_fingerprints(docs, k=4, w=5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return TD.simhash_bits(docs, n_bits=16)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole block join + Hamming filter."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return TD.simhash_neardup_pairs(
        docs, max_hamming=3, n_bits=16, prefix_blocks=4
    )


# ---------------------------------------------------------------------------
# embeddings / similarity search
# ---------------------------------------------------------------------------


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition — the training-data gate end to end: text
    stats + lang id + quality -> exact-dup survivors (keep min doc_id)
    -> MinHash-LSH near-dup losers dropped (keep the smaller id of
    each candidate pair) -> quality/length thresholds. Every stage is
    an operator that also has its own contract query; this pins that
    they compose."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    stats = docs.select(
        "doc_id",
        "source",
        TX.token_count(text).alias("n_tokens"),
        TX.lang_id(text).alias("lang_pred"),
        TX.quality_score(text).alias("quality"),
        TX.doc_fingerprint(text).alias("fingerprint"),
    )
    keep = TD.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    losers = (
        TD.minhash_lsh_pairs(docs, n_hashes=8, bands=4, shingle_n=5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        stats.join(keep, "doc_id")
        .join(losers, "doc_id", "left_anti")
        .filter((F.col("quality") >= 0.3) & (F.col("n_tokens") >= 10))
        .select("doc_id", "source", "lang_pred", "n_tokens", "quality")
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN correctness baseline). Rank on
    the ROUNDED cosine so cross-engine float noise cannot flip ranks."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
        .join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
                )
            ),
            F.col("neighbor_id") != F.col("query_id"),
        )
        .withColumn("cos", F.round(ANN.cosine(F.col("qvec"), F.col("cvec")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the BUCKETED scale path (sign-LSH banded
    equi-join -> id-pair dedup -> exact cosine >= 0.35); the oracle runs
    the identical bucketing, and pytest separately verifies recall vs
    brute force. Rounded cosine so ULP noise can't flip the threshold."""
    emb = _t(spark, sf_dir, "embeddings")
    # single 4dp rounding (threshold applied on the ROUNDED value) so
    # the driver's 4dp float hashing can't disagree with the oracle
    return ANN.embedding_neardup_pairs(
        emb, threshold=0.35, mode="bucketed", n_planes=4, n_tables=4, round_dp=4
    )


# ---------------------------------------------------------------------------
# events: windowed aggregation + sessionization
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregate per event_type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): session id = count
    of gap-starts up to the row; per-session event count + span."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ in Spark 4: go via timestamp (session UTC)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# ---------------------------------------------------------------------------
# JSON source / ItemClear / AutoThrottle / HTML parse / fetch rates
# ---------------------------------------------------------------------------


def q_media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spans_media_refs (operators/media.py): the media fetch list —
    explode media spans, one row per distinct ref with the first
    (doc_id, offset) owner and the reference count. Spans derived the
    same way as span_media_dedup."""
    from spider_spark.operators.media import spans_media_refs

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("offset", "tok")
    )
    spans = toks.select(
        "doc_id",
        F.col("offset"),
        F.when(F.col("offset") % 3 == 0, F.lit("media")).otherwise(F.lit("text")).alias(
            "kind"
        ),
        F.when(
            F.col("offset") % 3 == 0,
            F.concat(F.lit("img/"), (F.col("doc_id") % 9).cast("string"), F.lit("/"),
                     (F.col("offset") % 5).cast("string")),
        ).otherwise(F.lit(None).cast("string")).alias("media_ref"),
    )
    arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("offset", "kind", "media_ref"))).alias("raw")
    )
    docs_spans = arr.select(
        "doc_id",
        F.transform(
            F.col("raw"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.lit(None).cast("string").alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    return spans_media_refs(docs_spans)


def q_js_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-literal extraction (js2xml analog, SURVEY.md §2.3): key:value
    literals out of a deterministic script blob, exploded to rows."""
    docs = _t(spark, sf_dir, "documents")
    script = F.concat(
        F.lit('var cfg = {lat: 45.'), (F.col("doc_id") % 1000).cast("string"),
        F.lit(", lng: '8."), (F.col("doc_id") % 97).cast("string"),
        F.lit("', zoom: 12, city: \"c"), (F.col("doc_id") % 40).cast("string"),
        F.lit('"};'),
    )
    keys, vals = N.js_literal_pairs(script)
    pairs = docs.select(
        "doc_id", F.posexplode(F.arrays_zip(keys.alias("k"), vals.alias("v"))).alias("pos", "p")
    )
    return pairs.select(
        "doc_id", "pos", F.col("p.k").alias("key"), F.col("p.v").alias("value")
    )


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media rows from documents: content bytes derived
    from doc_id so the DuckDB oracle can recompute the sha256-based
    fake-decode dimensions."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("media/"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.encode(F.concat(F.lit("blob-"), F.col("doc_id").cast("string")), "utf-8").alias(
            "content"
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video")).otherwise(F.lit("image")).alias(
            "media_type"
        ),
        F.create_map(F.lit("src"), F.lit("synthetic")).alias("meta"),
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (operators/media.py): binary column ->
    mapInPandas decode -> typed metadata. The decode core is the
    documented deterministic stand-in (sha256-derived dimensions) —
    the oracle recomputes the same bytes in SQL, so the whole Arrow
    path (schema, batching, repartition) is value-checked.

    Folded in (round 4, fifth pass): magic-byte content sniffing
    (media.sniff_media_type — WHATWG/file(1) signatures as pure JVM
    hex-prefix matching): each doc gets a binary blob with a real
    format signature chosen by doc_id%8 (JPEG/PNG/GIF/WebP-RIFF/
    ID3-MP3/ftyp-MP4/PDF/none), and sniffed_type must equal the type
    the generation formula implies — the oracle derives the expected
    label analytically, so a signature-table regression breaks the
    column. RIFF discrimination (WebP vs WAV) and the fallbacks are
    additionally pytest-pinned."""
    from spider_spark.operators.media import (
        decode_media,
        sample_frames,
        sniff_media_type,
    )

    docs = _t(spark, sf_dir, "documents")
    sig_hex = F.element_at(
        F.array(
            F.lit("FFD8FF"),
            F.lit("89504E470D0A1A0A"),
            F.lit("474946383961"),
            F.lit("52494646AABBCCDD57454250"),
            F.lit("494433"),
            F.lit("0000001866747970"),
            F.lit("25504446"),
            F.lit(""),
        ),
        (F.col("doc_id") % 8).cast("int") + 1,
    )
    sniffed = docs.select(
        F.concat(F.lit("media/"), F.col("doc_id").cast("string")).alias("media_ref"),
        sniff_media_type(
            F.concat(
                F.unhex(sig_hex),
                F.encode(F.concat(F.lit("blob-"), F.col("doc_id").cast("string")),
                         "utf-8"),
            )
        ).alias("sniffed_type"),
    )

    decoded = decode_media(_media_table(spark, sf_dir)).join(sniffed, "media_ref")
    # folded: media_frames (sample_frames, every 24th frame of each
    # video) rides along as per-ref aggregate columns so both operators
    # fit one driver-checked registry slot; images get 0/NULL.
    frames = sample_frames(decoded, every_n=24).groupBy("media_ref").agg(
        F.count("*").alias("n_sampled_frames"),
        F.max("frame_idx").alias("last_frame_idx"),
    )
    return decoded.join(frames, "media_ref", "left").select(
        "media_ref", "media_type", "sniffed_type", "width", "height", "n_frames",
        "ok",
        F.coalesce(F.col("n_sampled_frames"), F.lit(0)).cast("long").alias("n_sampled_frames"),
        F.col("last_frame_idx").cast("int").alias("last_frame_idx"),
    )


_MEDIA_DECODE_SQL = """
    WITH m AS (
        SELECT 'media/' || doc_id AS media_ref,
               CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS media_type,
               sha256('blob-' || doc_id) AS h
        FROM documents),
    b AS (
        SELECT media_ref, media_type,
               (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) AS b0,
               (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) AS b1,
               (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) AS b2
        FROM m)
    SELECT media_ref, media_type,
           CAST(64 + b0 * 8 AS INT) AS width,
           CAST(64 + b1 * 8 AS INT) AS height,
           CAST(CASE WHEN media_type = 'image' THEN 1
                ELSE 1 + b2 % 240 END AS INT) AS n_frames,
           true AS ok
    FROM b
"""


def q_sitemap_locs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap source (SURVEY.md §2.1, athimmo_be.py:18-26): <loc>
    extraction from deterministic sitemap XML, order-preserving.
    Folded in (round 4): RSS 2.0 / Atom feed discovery
    (sources/feeds.py) — entry-link extraction over deterministic feed
    XML; the RSS document carries a channel-level <link> that must NOT
    extract (item-scoped (?s) pattern) and the Atom entries carry
    rel-attributed <link href> forms. Extended (round 4, third pass) to
    the full freshness surface: each arm goes through its per-entry
    two-step extractor (sitemap_entries / feed_entries) and emits the
    entry's OWN date (<lastmod>/<pubDate>/<updated>, NULL on the
    dateless second entries — pinning that a dateless entry never
    borrows its neighbor's)."""
    from spider_spark.sources.feeds import feed_entries
    from spider_spark.sources.sitemap import sitemap_entries

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>http://s.example/d/'),
        did,
        F.lit("</loc></url><url><loc> http://s.example/page/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" </loc><lastmod>2024-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-15</lastmod></url></urlset>"),
    )
    rss = F.concat(
        F.lit(
            "<rss><channel><link>http://f.example/home</link>"
            "<item><title>t</title>\n<link> http://f.example/rss/"
        ),
        did,
        F.lit(" </link><pubDate>Mon, 0"),
        (F.col("doc_id") % 7 + 1).cast("string"),
        F.lit(" Jan 2024</pubDate></item><item><link>http://f.example/rss/p"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</link></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed><entry>\n<link rel="alternate" href="http://f.example/atom/'),
        did,
        F.lit('"/><updated>2024-01-0'),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit('</updated></entry><entry><link href="http://f.example/atom/p'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('"/></entry></feed>'),
    )
    sm = sitemap_entries(docs.select(did.alias("url"), xml.alias("xml"))).select(
        F.col("sitemap_url").cast("long").alias("doc_id"),
        F.lit("sitemap").alias("src"),
        "pos",
        "loc",
        F.col("lastmod").alias("published"),
    )
    feeds_df = docs.select(did.alias("url"), rss.alias("rss"), atom.alias("atom"))
    rs = feed_entries(feeds_df, xml_col="rss").select(
        F.col("feed_url").cast("long").alias("doc_id"),
        F.lit("rss").alias("src"),
        "pos",
        F.col("link").alias("loc"),
        "published",
    )
    at = feed_entries(feeds_df, xml_col="atom").select(
        F.col("feed_url").cast("long").alias("doc_id"),
        F.lit("atom").alias("src"),
        "pos",
        F.col("link").alias("loc"),
        "published",
    )
    return sm.unionByName(rs).unionByName(at)


def q_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON API source (SURVEY.md §2.1, 693 spiders parse response.json):
    typed extraction from the events.props JSON column."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.col("event_id").alias("eid"),
        F.from_json(F.col("props"), "struct<k:int>").alias("p"),
    )
    return parsed.select("eid", F.col("p.k").alias("k"))


def q_itemclear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ItemClear spec engine (helper.py:533-653): replace/split/
    word2number/get_num/bool-words compiled to one projection."""
    from spider_spark.functions.itemclear import FieldSpec, apply_specs

    ev = _t(spark, sf_dir, "events")
    words = ["one", "two", "three", "four", "five"]
    raw = ev.select(
        F.col("event_id").alias("eid"),
        F.concat(
            F.lit("  "), ((F.col("event_id") % 29) + 1).cast("string"), F.lit("."),
            F.lpad((F.col("user_id") % 1000).cast("string"), 3, "0"),
            F.lit(",50 € warm  "),
        ).alias("rent_raw"),
        F.concat(
            F.element_at(
                F.array(*[F.lit(w) for w in words]), (F.col("event_id") % 5 + 1).cast("int")
            ),
            F.lit(" rooms"),
        ).alias("rooms_raw"),
        F.when(F.col("event_id") % 2 == 0, F.lit("<p>mit Balkon</p>"))
        .otherwise(F.lit("<p>ohne Aussen</p>"))
        .alias("desc_raw"),
    )
    specs = [
        FieldSpec("rent", "rent_raw", get_num=True),
        FieldSpec("room_count", "rooms_raw", split=(" ", 1), word_num=True, get_num=True),
        FieldSpec("balcony", "desc_raw", strip_html=True, true_words=["balkon"]),
    ]
    return apply_specs(raw, specs, keep=["eid"])


def q_autothrottle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoThrottle policy update (settings.py:74-78 semantics): EMA
    toward observed latency, no decrease after errors, clamped 0.1-2s."""
    from spider_spark.operators import autothrottle as AT

    ev = _t(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"), F.lit(".example"))
    stats = (
        ev.select(
            host.alias("host"),
            (F.col("value") * 100).alias("latency_ms"),
            (F.col("event_id") % 11 < 2).cast("long").alias("err"),
        )
        .groupBy("host")
        .agg(
            F.avg("latency_ms").alias("latency_ms_avg"),
            F.sum("err").alias("n_errors"),
            F.count("*").alias("n_fetched"),
        )
    )
    hosts = stats.select("host").distinct()
    host_id = F.regexp_extract(F.col("host"), r"h(\d+)", 1).try_cast("int")
    policy = hosts.select(
        "host",
        F.when(host_id % 3 == 0, 1.5).otherwise(0.25).alias("crawl_delay_s"),
        F.lit(16).alias("max_concurrency"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    out = AT.updated_policy(policy, stats)
    return out.select("host", F.round("crawl_delay_s", 4).alias("crawl_delay_s"))


def q_html_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML parse stage (mapInPandas, stdlib parser): deterministic HTML
    built from documents — expected spans/links reconstructed by the
    oracle directly. Folded in (round 3): main-content extraction
    (operators/htmlparse.extract_main_text — Readability-family
    plain-vs-anchor density rule) over the same pages, whose nav/footer
    boilerplate blocks must lose to the content div; the oracle
    reconstructs the winning block's text from the generation formula,
    while the RULE itself (nesting, ties, anchors, script skip) is
    pinned by hand vectors in tests/test_operators_ext.py. Folded in
    (round 4): FormRequest.from_response analog — each page carries a
    POST form (hidden num_page + cat inputs, submit button) and a
    per-row formdata override map; form_action/form_body pin field
    collection, override-in-place, submit exclusion, and action
    resolution against the page URL (operators/htmlparse.form_requests;
    reference call sites immobiliarefaro_it.py:36,
    immobiliaretafy_com.py:40). Folded in (round 4, second pass): REP
    link directives (operators/htmlparse.link_directives_pages) — each
    page carries a rel="nofollow" anchor and a <meta name="robots">
    whose content cycles noindex / nofollow / index,follow by doc_id%3;
    n_follow_links pins both the per-link rel filter and the page-level
    meta-nofollow wipe, noindex pins the document-sink gate."""
    from spider_spark.operators.htmlparse import (
        form_requests,
        link_directives_pages,
        main_content_pages,
        parse_html_pages,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    robots_meta = F.element_at(
        F.array(F.lit("noindex"), F.lit("nofollow"), F.lit("index, follow")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    html = F.concat(
        F.lit('<html><head><title>skip</title><meta name="robots" content="'),
        robots_meta,
        F.lit(
            '"/></head><body>'
            '<div class="nav"> <a href="/nav1"> Home </a>'
            ' <a href="/nav2"> About </a> </div><h1>'
        ),
        F.col("text"),
        F.lit('</h1><a href="/d/'), did,
        F.lit('"> more </a><img src="/i/'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.jpg"/><img src="/i/'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.jpg"/><div class="content"> <p> '), F.col("text"),
        F.lit(" </p> <p> ref "), did,
        F.lit(
            ' </p> </div><div class="footer"> copyright'
            ' <a href="/contact"> contact </a> </div>'
            '<form action="/search.php" method="post">'
            '<input type="hidden" name="num_page" value="1"/>'
            '<input type="hidden" name="cat" value="'
        ),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(
            '"/><input type="submit" name="go" value="Go"/></form>'
            '<a rel="nofollow" href="/promo"></a>'
            "</body></html>"
        ),
    )
    pages = docs.select(
        F.concat(F.lit("http://docs.example/"), did).alias("url"),
        html.alias("html"),
        F.create_map(
            F.lit("num_page"), (F.col("doc_id") % 9 + 2).cast("string")
        ).alias("formdata"),
    )
    parsed = parse_html_pages(pages)
    mains = main_content_pages(pages)
    forms = form_requests(pages, overrides="formdata").select(
        "url",
        F.col("action").alias("form_action"),
        F.col("body").alias("form_body"),
    )
    directives = link_directives_pages(pages).select(
        "url",
        F.size("follow_links").alias("n_follow_links"),
        "noindex",
    )
    return (
        parsed.join(mains, "url")
        .join(forms, "url")
        .join(directives, "url")
        .select(
            "url",
            F.size("out_links").alias("n_links"),
            "n_follow_links",
            "noindex",
            "main_text",
            "form_action",
            "form_body",
            F.explode("spans").alias("s"),
        )
        .select(
            "url",
            "n_links",
            "n_follow_links",
            "noindex",
            "main_text",
            "form_action",
            "form_body",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
    )


def q_css_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSS/XPath selector subset (operators/selectors.py — the
    response.css / response.xpath analog, SURVEY.md §2.3) evaluated
    over deterministic HTML; the oracle reconstructs the expected
    extractions from the same formulas."""
    from spider_spark.operators.selectors import css_extract, xpath_extract

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div class="listing"><h2 class="title">T'),
        F.col("doc_id").cast("string"),
        F.lit('</h2><span class="price">€ '),
        (F.col("doc_id") % 3000 + 300).cast("string"),
        F.lit('</span><a href="/d/'),
        F.col("doc_id").cast("string"),
        F.lit('">more</a><div class="desc"><p>'),
        F.col("text"),
        # wave-5 CSS grammar targets: sibling combinators, *-of-type,
        # comma union (the reference's icon-label / feature-list idioms)
        F.lit('</p></div><ul class="feat"><li>beds</li><li>'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("</li><li>baths</li><li>"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('</li></ul><div class="ct"><i class="fa-phone"></i><a>+31-'),
        F.col("doc_id").cast("string"),
        F.lit("</a></div></div>"),
    )
    staged = docs.select("doc_id", html.alias("html"))
    return staged.select(
        "doc_id",
        F.element_at(css_extract(F.col("html"), "h2.title::text"), 1).alias("title"),
        F.element_at(
            xpath_extract(F.col("html"), '//span[@class="price"]/text()'), 1
        ).alias("price_str"),
        F.element_at(css_extract(F.col("html"), "div.listing > a::attr(href)"), 1).alias(
            "href"
        ),
        F.element_at(css_extract(F.col("html"), "div.desc p"), 1).alias("desc"),
        F.element_at(
            css_extract(F.col("html"), "ul.feat>li:nth-of-type(2)::text"), 1
        ).alias("beds"),
        F.element_at(
            css_extract(F.col("html"), "ul.feat li:last-child::text"), 1
        ).alias("baths_last"),
        F.element_at(
            css_extract(F.col("html"), "div.ct i.fa-phone + a::text"), 1
        ).alias("phone"),
        F.element_at(
            css_extract(F.col("html"), "h2.missing::text, span.price::text"), 1
        ).alias("union_first"),
    )


def q_fetch_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host per-minute fetch rates over a synthetic fetch log
    (``autothrottle.host_fetch_rates``)."""
    from spider_spark.operators.autothrottle import host_fetch_rates

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.col("ts"),
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"), F.lit(".example")).alias("host"),
        F.when(F.col("event_id") % 11 < 2, 503).otherwise(200).cast("int").alias("status"),
        (F.col("value") * 100).alias("latency_ms"),
    )
    out = host_fetch_rates(log, window="1 minute")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("minute"),
        "host",
        "fetched",
        "avg_latency_ms",
        "errors",
    )


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-channel enrichment as TWO broadcast dim joins in one pass
    (round-3 fold of the former geocode / fx_convert queries): geocode
    replaces the reference's per-row ArcGIS RPC (helper.py:366-387),
    FX conversion replaces currencyExchangeRates (helper.py:453-485)."""
    from spider_spark.functions.enrich import (
        convert_to_eur,
        enrich_geocode,
        fx_rates_df,
        geo_fixture_df,
    )

    ev = _t(spark, sf_dir, "events")
    curs = ["EUR", "GBP", "USD", "AUD", "TRY", "CHF", "QAR", "XXX"]
    rows = ev.select(
        F.col("event_id").alias("eid"),
        (F.col("event_id") % 200).cast("int").alias("address_key"),
        F.element_at(
            F.array(*[F.lit(c) for c in curs]), (F.col("event_id") % 8 + 1).cast("int")
        ).alias("currency"),
        ((F.col("event_id") % 4000) + 100).cast("double").alias("rent"),
    )
    out = enrich_geocode(rows, geo_fixture_df(spark))
    out = convert_to_eur(out, fx_rates_df(spark))
    return out.select(
        "eid", "latitude", "longitude", "zipcode", "city",
        "currency", "rent", "rent_eur",
    )


# ---------------------------------------------------------------------------
# flagship / non-SQL extras
# ---------------------------------------------------------------------------


def q_crawl_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full crawl engine on the deterministic synthetic web (3 hosts, 2
    waves of listings): documents exploded to span rows. The iterative
    wave loop has no single-query SQL form, so its oracle is a
    GOLDEN-FILE parquet of the pure-Python golden model's expected rows
    (tools/gen_crawl_oracle.py; freshness pinned by
    tests/test_engine.py::test_crawl_oracle_fixture_is_fresh). The
    rows are checkpointed before the store's temp dir is removed."""
    import shutil
    import tempfile

    from spider_spark.plans.engine import CrawlConfig, CrawlEngine
    from spider_spark.storage.catalog import SnapshotStore
    from spider_spark.synth import WebSpec, host_policy_df, seeds_df, web_df

    # redirect_rate: a third of detail pages hide behind 3xx aliases
    # (301/302/307 mix, some 2-hop), so the RedirectMiddleware analog
    # is exercised under the driver's value-hash check (round 4)
    spec = WebSpec(
        seed=42, n_hosts=3, pages_per_host=1, details_per_page=3,
        redirect_rate=0.34,
    )
    root = tempfile.mkdtemp(prefix="entry_crawl_")
    eng = CrawlEngine(
        spark,
        web_df(spark, spec),
        host_policy_df(spark, spec),
        SnapshotStore(spark, root),
        # generous wave budget => fewer waves => fewer fixed-overhead
        # Spark jobs in the driver's correctness pass
        CrawlConfig(crawl_id="entry", n_buckets=8, max_waves=30, wave_seconds=4.0),
    )
    try:
        eng.run(seeds_df(spark, spec))
        docs = eng.documents()
        return (
            docs.select("doc_id", F.explode("spans").alias("s"))
            .select(
                "doc_id",
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"),
                F.col("s.offset").alias("offset"),
            )
            .localCheckpoint()
        )
    finally:
        eng.close()
        shutil.rmtree(root, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus curation over sf0.001 — text stats, lang id,
    quality, exact-dup keep flag — the gate a pretraining pipeline runs
    on every crawled document."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        "source",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )
    survivors = TD.exact_dedup(docs).select(
        "fingerprint", F.col("keep_id").alias("doc_id"), "n_dups"
    )
    return stats.join(survivors, ["fingerprint", "doc_id"], "inner").select(
        "doc_id", "source", "n_tokens", "lang_pred", "quality", "n_dups"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the driver checks entries front-to-back
    # within its budget (r2 stopped at 50), so the queries it has never
    # validated — the end-to-end crawl golden-file check plus the
    # round-3 additions/folds — come FIRST (VERDICT r2 item 2).
    return {
        "crawl_end_to_end": q_crawl_end_to_end,
        "fetch_rates": q_fetch_rates,
        "enrich": q_enrich,
        "xpath_select": q_xpath_select,
        "text_metrics": q_text_metrics,
        "decontaminate": q_decontaminate,
        "pii_redact": q_pii_redact,
        "pagerank": q_pagerank,
        "revisit": q_revisit,
        "url_canonicalize": q_url_canonicalize,
        "frontier_dedup": q_frontier_dedup,
        "politeness_topk": q_politeness_topk,
        "global_cap": q_global_cap,
        "misc_scalars": q_misc_scalars,
        "retry_policy": q_retry_policy,
        "robots_filter": q_robots_filter,
        "span_media_dedup": q_span_media_dedup,
        "extract_number": q_extract_number,
        "energy_label": q_energy_label,
        "format_date": q_format_date,
        "extract_date": q_extract_date,
        "date_multilocale": q_date_multilocale,
        "rent_currency": q_rent_currency,
        "rent_sanity": q_rent_sanity,
        "amenities": q_amenities,
        "property_type": q_property_type,
        "take_first_join": q_take_first_join,
        "position_counter": q_position_counter,
        "data_mix": q_data_mix,
        "exact_dedup": q_exact_dedup,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "winnow": q_winnow,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "corpus_curation": q_corpus_curation,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "events_hourly": q_events_hourly,
        "sessionize": q_sessionize,
        "media_refs": q_media_refs,
        "js_literals": q_js_literals,
        "media_decode": q_media_decode,
        "sitemap_locs": q_sitemap_locs,
        "json_source": q_json_source,
        "itemclear": q_itemclear,
        "autothrottle": q_autothrottle,
        "html_parse": q_html_parse,
        "css_select": q_css_select,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

#: CRLF as a DuckDB expression (WARC framing; \r\n escapes don't
#: survive the f-string + SQL-literal round trip cleanly)
_CRLF_SQL = "chr(13) || chr(10)"

_STOPWORDS_SQL = {
    "en": "['the','and','of','to','in','is','with','for','on','this','that','are']",
    "de": "['der','die','das','und','mit','für','von','ist','im','ein','eine','zu']",
    "fr": "['le','la','les','et','de','des','un','une','est','dans','pour','au']",
    "it": "['il','la','di','e','un','una','per','con','del','che','in','è']",
    "nl": "['de','het','een','en','van','met','voor','op','is','aan','bij','te']",
}


def _hits(lang: str) -> str:
    return (
        f"len(list_filter({_TOKENS_SQL}, t -> list_contains({_STOPWORDS_SQL[lang]}, t)))"
    )


_SHINGLES_SQL = (
    "list_transform(range(1, greatest(len(toks) - {nm1}, 0) + 1),"
    " i -> array_to_string(toks[i:i+{nm1}], ' '))"
)


_ED_RAW_SQL = """
    CASE event_id % 8
         WHEN 0 THEN 'Frei ab ' || lpad(CAST(event_id % 27 + 1 AS VARCHAR), 2, '0')
              || '.' || lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0')
              || '.' || (event_id % 4 + 2020)
         WHEN 1 THEN 'ab ' || (['Oktober','März','September','December','March',
              'October','August','Mai','Juli','Dezember','November','April'])
              [CAST(event_id % 12 AS INT) + 1] || ' ' || (event_id % 4 + 2020)
         WHEN 2 THEN (event_id % 27 + 1) || '.' || (event_id % 12 + 1)
              || '.' || (event_id % 4 + 2020)
         WHEN 3 THEN lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0')
              || '.' || (event_id % 4 + 2020)
         WHEN 4 THEN 'soon'
         WHEN 5 THEN '1. Januar ' || (event_id % 4 + 2020)
         WHEN 6 THEN 'mai 15.03.' || (event_id % 4 + 2020)
         ELSE lpad(CAST(event_id % 27 + 1 AS VARCHAR), 2, '0')
              || '/' || lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0')
              || '/' || (event_id % 4 + 2020)
    END
"""


def _extract_date_oracle() -> str:
    """DuckDB twin of normalize.extract_date, generated from the same
    month tables so both engines share one source of truth — same
    shape too: first-contained month via list_filter, one replace."""
    from spider_spark.functions.normalize import ENGLISH_MONTHS, GERMAN_MONTHS

    months = GERMAN_MONTHS + ENGLISH_MONTHS
    first_name = months[0][0]
    mlist = "[" + ",".join(f"'{m}'" for m, _ in months) + "]"
    numcase = (
        "CASE chosen "
        + " ".join(f"WHEN '{m}' THEN '{n}'" for m, n in dict(months).items())
        + " END"
    )
    return f"""
        WITH t AS (SELECT event_id AS eid, {_ED_RAW_SQL} AS raw FROM events),
        n AS (SELECT eid, raw,
                     replace(replace(lower(raw), ' ', ''), '/', '.') AS d FROM t),
        ch AS (SELECT eid, raw, d,
                      (list_filter({mlist}, m -> contains(d, m)))[1] AS chosen FROM n),
        sel AS (SELECT eid, raw,
                       CASE WHEN chosen = '{first_name}'
                            THEN replace(d, chosen, {numcase} || '.')
                            WHEN regexp_extract(d, '(\\d+\\.*\\d+\\.\\d*)', 1) <> ''
                            THEN d
                            WHEN chosen IS NOT NULL
                            THEN replace(d, chosen, {numcase} || '.')
                            ELSE NULL END AS s FROM ch),
        e AS (SELECT eid, raw,
                     regexp_extract(s, '(\\d+\\.*\\d+\\.\\d*)', 1) AS ext FROM sel),
        a AS (SELECT eid, raw, ext, replace(ext, '.', '/') AS avail FROM e),
        c AS (SELECT eid, raw, ext, avail,
                     length(avail) - length(replace(avail, '/', '')) AS ns FROM a)
        SELECT eid, raw,
               CASE WHEN ext IS NULL OR ext = '' THEN NULL
                    WHEN ns = 2 THEN
                        CASE WHEN regexp_matches(avail, '^\\d{{1,2}}/\\d{{1,2}}/\\d{{4}}$')
                             THEN coalesce(strftime(try_strptime(avail, '%-d/%-m/%Y'),
                                                    '%Y-%m-%d'), avail)
                             ELSE avail END
                    WHEN ns = 1 THEN
                        CASE WHEN regexp_matches(avail, '^\\d{{1,2}}/\\d{{4}}$')
                             THEN strftime(try_strptime(avail, '%-m/%Y'), '%Y-%m')
                             ELSE NULL END
                    ELSE NULL END AS avail_date
        FROM c
    """


def _ml_oracle() -> str:
    """DuckDB twin of normalize.multilocale_available_date, month map
    generated from MULTILOCALE_MONTHS."""
    from spider_spark.functions.normalize import MULTILOCALE_MONTHS

    def mcase(w: str) -> str:
        whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MULTILOCALE_MONTHS.items()))
        return f"CASE {w} {whens} ELSE NULL END"

    nxt = int(_ML_TODAY[:4]) + 1
    pool_sql = "[" + ",".join(f"'{w}'" for w in _ML_POOL) + "]"
    pool_pick = f"({pool_sql})[CAST(event_id % {len(_ML_POOL)} AS INT) + 1]"
    num_re = "'^(\\d{1,2})[./-](\\d{1,2})[./-](\\d{4})$'"
    dmy_re = "'^(\\d{1,2})(?:st|nd|rd|th)?\\.?\\s+([^\\s\\d.,]+)\\.?,?\\s+(\\d{4})$'"
    mdy_re = "'^([^\\s\\d.,]+)\\.?\\s+(\\d{1,2})(?:st|nd|rd|th)?\\s*,?\\s*(\\d{4})$'"
    return f"""
        WITH t AS (
            SELECT event_id AS eid,
                   CASE event_id % 7
                        WHEN 0 THEN (event_id % 28 + 1) || '/' || (event_id % 12 + 1)
                             || '/' || (event_id % 4 + 2020)
                        WHEN 1 THEN lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0')
                             || '-' || lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0')
                             || '-' || (event_id % 4 + 2020)
                        WHEN 2 THEN (event_id % 28 + 1) || ' ' ||
                             {pool_pick} || ' ' || (event_id % 4 + 2020)
                        WHEN 3 THEN {pool_pick} || ' ' || (event_id % 28 + 1)
                             || ', ' || (event_id % 4 + 2020)
                        WHEN 4 THEN (event_id % 28 + 1) || '.' || (event_id % 12 + 1)
                             || '.' || (event_id % 4 + 2020)
                        WHEN 5 THEN 'available soon'
                        ELSE '29/02/' || (event_id % 4 + 2020)
                   END AS raw
            FROM events),
        n AS (SELECT eid, raw,
                     trim(regexp_replace(lower(raw), '\\s+', ' ', 'g')) AS s FROM t),
        g AS (SELECT eid, raw,
                     regexp_extract(s, {num_re}, 1) AS n_d,
                     regexp_extract(s, {num_re}, 2) AS n_m,
                     regexp_extract(s, {num_re}, 3) AS n_y,
                     regexp_extract(s, {dmy_re}, 1) AS a_d,
                     regexp_extract(s, {dmy_re}, 2) AS a_w,
                     regexp_extract(s, {dmy_re}, 3) AS a_y,
                     regexp_extract(s, {mdy_re}, 1) AS b_w,
                     regexp_extract(s, {mdy_re}, 2) AS b_d,
                     regexp_extract(s, {mdy_re}, 3) AS b_y
              FROM n),
        p AS (SELECT eid, raw, coalesce(
                 CASE WHEN n_y <> '' THEN CAST(try_strptime(n_y || '-' || lpad(n_m, 2, '0')
                      || '-' || lpad(n_d, 2, '0'), '%Y-%m-%d') AS DATE) END,
                 CASE WHEN a_y <> '' THEN CAST(try_strptime(a_y || '-'
                      || lpad(CAST({mcase('a_w')} AS VARCHAR), 2, '0')
                      || '-' || lpad(a_d, 2, '0'), '%Y-%m-%d') AS DATE) END,
                 CASE WHEN b_y <> '' THEN CAST(try_strptime(b_y || '-'
                      || lpad(CAST({mcase('b_w')} AS VARCHAR), 2, '0')
                      || '-' || lpad(b_d, 2, '0'), '%Y-%m-%d') AS DATE) END) AS parsed
              FROM g),
        sh AS (SELECT eid, raw,
                      CASE WHEN parsed < DATE '{_ML_TODAY}'
                           THEN CAST(try_strptime('{nxt}-'
                                || lpad(CAST(month(parsed) AS VARCHAR), 2, '0') || '-'
                                || lpad(CAST(day(parsed) AS VARCHAR), 2, '0'),
                                '%Y-%m-%d') AS DATE)
                           ELSE parsed END AS p2
               FROM p)
        SELECT eid, raw, strftime(p2, '%Y-%m-%d') AS avail_date FROM sh
    """


_CURRENCY_CASE_SQL = """
    CASE WHEN contains(raw, '€') THEN 'EUR'
         WHEN contains(raw, '£') THEN 'GBP'
         WHEN contains(raw, '$') AND contains(src, 'australia') THEN 'AUD'
         WHEN contains(raw, '$') THEN 'USD'
         WHEN contains(raw, 'TL') OR contains(raw, 'TRY')
              OR contains(raw, '₺') THEN 'TRY'
         WHEN contains(raw, 'CHF') THEN 'CHF'
         WHEN contains(raw, 'QAR') THEN 'QAR'
         WHEN contains(raw, 'EUR') THEN 'EUR'
         ELSE NULL END
"""


def oracle_sql() -> dict[str, str]:
    shingles3 = _SHINGLES_SQL.format(nm1=2)
    shingles5 = _SHINGLES_SQL.format(nm1=4)
    # first-8-hex-chars-of-md5 -> uint32 (mixing.hash_fraction twin):
    # per-char strpos arithmetic, exact in doubles (< 2^53)
    md5_u32 = " + ".join(
        f"(strpos('0123456789abcdef', substring(hh, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    mh = lambda j: f"list_min(list_transform(sh, s -> md5('{j}:' || s)))"  # noqa: E731
    band = lambda b, r: (  # noqa: E731
        "md5(" + " || '|' || ".join(f"mh{b * r + i}" for i in range(r)) + ")"
    )

    # pagerank: unroll the 6 power iterations as chained CTEs (standard
    # SQL can't re-aggregate inside a recursive CTE) — each round is the
    # exact arithmetic graphrank.pagerank runs: base + d*(inflow +
    # dangling/n), inflow = sum(rank/out_degree) over in-edges.
    def pr_round(prev: str, cur: str) -> str:
        return f"""
            {cur} AS MATERIALIZED (
                SELECT nodes.node,
                       (0.15 / (SELECT n FROM nn))
                       + 0.85 * (coalesce(i.inflow, 0)
                                 + (SELECT coalesce(sum(r.rank), 0)
                                    FROM {prev} r LEFT JOIN deg
                                      ON deg.src = r.node
                                    WHERE deg.src IS NULL)
                                   / (SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN (
                    SELECT ce.dst, sum(r.rank * ce.w) AS inflow
                    FROM {prev} r JOIN ce ON ce.src = r.node
                    GROUP BY ce.dst) i ON i.dst = nodes.node)"""

    pr_iters = ",".join(pr_round(f"r{i}", f"r{i + 1}") for i in range(6))

    # opic: same unrolled-recursion trick for the cash/history rounds
    # (graphrank.opic) — bank round-start cash into history, distribute
    # it over out-edges, dangling cash spread uniformly.
    def opic_round(prev: str, cur: str) -> str:
        return f"""
            {cur} AS MATERIALIZED (
                SELECT nodes.node,
                       coalesce(i.inflow, 0)
                       + (SELECT coalesce(sum(p.cash), 0)
                          FROM {prev} p LEFT JOIN deg ON deg.src = p.node
                          WHERE deg.src IS NULL)
                         / (SELECT n FROM nn) AS cash,
                       p2.hist + p2.cash AS hist
                FROM nodes
                LEFT JOIN (
                    SELECT ce.dst, sum(p.cash * ce.w) AS inflow
                    FROM {prev} p JOIN ce ON ce.src = p.node
                    GROUP BY ce.dst) i ON i.dst = nodes.node
                JOIN {prev} p2 ON p2.node = nodes.node)"""

    opic_iters = ",".join(opic_round(f"o{i}", f"o{i + 1}") for i in range(6))

    # hits: same unrolled trick for the hub/authority half-rounds
    # (graphrank.hits, L1-normalized) — auth = sum of hubs over
    # in-edges then normalize, hub = sum of auths over out-edges then
    # normalize; zero-degree nodes coalesce to 0.
    def hits_round(prev: str, cur: str) -> str:
        return f"""
            {cur}ar AS MATERIALIZED (
                SELECT s.node, s.hub, coalesce(i.a, 0) AS auth
                FROM {prev} s
                LEFT JOIN (SELECT e.dst, sum(s2.hub) AS a
                           FROM {prev} s2 JOIN e ON e.src = s2.node
                           GROUP BY e.dst) i ON i.dst = s.node),
            {cur}an AS MATERIALIZED (
                SELECT node, hub,
                       auth / (SELECT sum(auth) FROM {cur}ar) AS auth
                FROM {cur}ar),
            {cur}hr AS MATERIALIZED (
                SELECT a.node, coalesce(j.h, 0) AS hub, a.auth
                FROM {cur}an a
                LEFT JOIN (SELECT e.src, sum(a2.auth) AS h
                           FROM {cur}an a2 JOIN e ON e.dst = a2.node
                           GROUP BY e.src) j ON j.src = a.node),
            {cur} AS MATERIALIZED (
                SELECT node, hub / (SELECT sum(hub) FROM {cur}hr) AS hub,
                       auth
                FROM {cur}hr)"""

    hits_iters = ",".join(hits_round(f"h{i}", f"h{i + 1}") for i in range(4))

    # trustrank (graphrank.trustrank): same unrolled trick as pagerank,
    # but teleport AND dangling mass are weighted by the static trust
    # vector (1/30 on the node%10==0 seeds, else 0). (1.0 - 0.85) is
    # written as the runtime subtraction so both engines evaluate the
    # identical IEEE op the Spark literal embeds.
    def tr_round(prev: str, cur: str) -> str:
        return f"""
            {cur} AS MATERIALIZED (
                SELECT nodes.node,
                       (1.0 - 0.85) * tv.t
                       + 0.85 * (coalesce(i.inflow, 0)
                                 + (SELECT coalesce(sum(r.rank), 0)
                                    FROM {prev} r LEFT JOIN deg
                                      ON deg.src = r.node
                                    WHERE deg.src IS NULL) * tv.t) AS rank
                FROM nodes JOIN tv ON tv.node = nodes.node
                LEFT JOIN (
                    SELECT ce.dst, sum(r.rank * ce.w) AS inflow
                    FROM {prev} r JOIN ce ON ce.src = r.node
                    GROUP BY ce.dst) i ON i.dst = nodes.node)"""

    tr_iters = ",".join(tr_round(f"t{i}", f"t{i + 1}") for i in range(6))

    return {
        "url_canonicalize": f"""
            WITH fr AS ({_FRONTIER_SQL}),
            tu AS (
                SELECT seq, canonical_url,
                       'example:80,h' || host_id || ')/p/' || (seq % 3000)
                           || '?a=1&b=2' AS surt,
                       'http://h' || host_id || '.example/p/' || (seq % 3000)
                       || repeat('/loop', CAST(seq % 5 AS INT))
                       || substr('/a/b/c/d/e/f/g/h/i/j/k/l/m/n/o/p/q/r/s/t',
                                 1, CAST((seq % 9) * 4 AS INT))
                       || '/' || repeat('x', CAST((seq % 7) * 400 AS INT))
                       || '?a=1&b=2'
                       || substr('&p01=1&p02=1&p03=1&p04=1&p05=1&p06=1&p07=1'
                                 || '&p08=1&p09=1&p10=1&p11=1&p12=1&p13=1&p14=1',
                                 1, CAST((seq % 15) * 6 AS INT)) AS trap_url
                FROM fr),
            parsed AS (
                SELECT seq, canonical_url, surt, trap_url,
                       list_filter(string_split(
                           CASE WHEN regexp_extract(trap_url,
                                    '^[a-z0-9+.-]+://[^/]*(/[^?#]*)', 1) = ''
                                THEN '/'
                                ELSE regexp_extract(trap_url,
                                    '^[a-z0-9+.-]+://[^/]*(/[^?#]*)', 1)
                           END, '/'), s -> s != '') AS segs,
                       regexp_extract(trap_url, '\\?([^#]*)', 1) AS q
                FROM tu)
            SELECT seq, canonical_url, surt,
                   CAST(len(segs) AS INT) AS path_depth,
                   CAST(coalesce(list_max(list_transform(list_distinct(segs),
                        d -> len(list_filter(segs, s -> s = d)))), 0) AS INT)
                       AS max_seg_repeat,
                   CAST(CASE WHEN q = '' THEN 0
                        ELSE len(list_filter(string_split(q, '&'), p -> p != ''))
                        END AS INT) AS n_params,
                   CAST(length(trap_url) AS INT) AS url_len,
                   (len(segs) > 16
                    OR coalesce(list_max(list_transform(list_distinct(segs),
                        d -> len(list_filter(segs, s -> s = d)))), 0) >= 3
                    OR (CASE WHEN q = '' THEN 0
                        ELSE len(list_filter(string_split(q, '&'), p -> p != ''))
                        END) > 12
                    OR length(trap_url) > 2048) AS is_trap,
                   -- DUST rewrites derived analytically from the fresh-
                   -- frontier generation formula: www host collapses to
                   -- naked, sid strips (x=1 survives), /index.html strips
                   CASE CAST(seq % 3 AS INT)
                        WHEN 1 THEN 'http://s' || (seq % 50)
                             || '.example/new/' || seq || '?x=1'
                        ELSE 'http://s' || (seq % 50)
                             || '.example/new/' || seq
                   END AS dust_url
            FROM parsed
        """,
        "frontier_dedup": f"""
            WITH fr AS ({_FRONTIER_SQL}),
            ranked AS (
                SELECT fingerprint, seq, dont_filter,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY seq, canonical_url) AS rn
                FROM fr WHERE NOT dont_filter)
            SELECT fingerprint, seq, dont_filter FROM ranked WHERE rn = 1
            UNION ALL
            SELECT fingerprint, seq, dont_filter FROM fr WHERE dont_filter
        """,
        "politeness_topk": f"""
            WITH fr AS ({_FRONTIER_SQL}),
            ranked AS (
                SELECT fingerprint, seq, dont_filter, host, host_id, priority,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY seq, canonical_url) AS rn
                FROM fr WHERE NOT dont_filter),
            dedup AS (
                SELECT * FROM ranked WHERE rn = 1
                UNION ALL
                SELECT fingerprint, seq, dont_filter, host, host_id, priority,
                       1 AS rn FROM fr WHERE dont_filter),
            budgeted AS (
                SELECT host, seq, priority,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY priority DESC, seq ASC)
                           AS dispatch_rank,
                       least(16, CAST(floor(CAST(1.0 AS DOUBLE) /
                           (CASE WHEN host_id % 3 = 2 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.125 AS DOUBLE) END)) AS INT)) AS budget
                FROM dedup)
            SELECT host, seq, priority, CAST(dispatch_rank AS INT) AS dispatch_rank
            FROM budgeted WHERE dispatch_rank <= budget
        """,
        "global_cap": f"""
            WITH fr AS ({_FRONTIER_SQL}),
            ranked AS (
                SELECT fingerprint, seq, dont_filter, host, host_id, priority,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY seq, canonical_url) AS rn
                FROM fr WHERE NOT dont_filter),
            dedup AS (
                SELECT * FROM ranked WHERE rn = 1
                UNION ALL
                SELECT fingerprint, seq, dont_filter, host, host_id, priority,
                       1 AS rn FROM fr WHERE dont_filter),
            budgeted AS (
                SELECT host, seq, priority,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY priority DESC, seq ASC)
                           AS dispatch_rank,
                       least(16, CAST(floor(CAST(1.0 AS DOUBLE) /
                           (CASE WHEN host_id % 3 = 2 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.125 AS DOUBLE) END)) AS INT)) AS budget
                FROM dedup)
            SELECT host, seq, priority
            FROM budgeted WHERE dispatch_rank <= budget
            ORDER BY priority DESC, seq ASC LIMIT 200
        """,
        "misc_scalars": """
            WITH t AS (
                SELECT event_id AS eid,
                       'rooms ' || (event_id % 9) || ' size ' || (event_id % 200)
                           || ',' || (['25','5','75','0'])
                               [CAST(event_id % 4 AS INT) + 1] AS raw1,
                       'caffé ' || (event_id % 50) || ' – über' AS uni_raw,
                       CASE WHEN event_id % 3 = 0 THEN (event_id % 100) || '.5'
                            WHEN event_id % 3 = 1 THEN CAST(event_id % 1000 AS VARCHAR)
                            ELSE 'x' END AS num_raw,
                       CASE event_id % 7 WHEN 0 THEN '€120' WHEN 1 THEN '£45'
                            WHEN 2 THEN '$30' WHEN 3 THEN 'TL99' WHEN 4 THEN 'CHF 5'
                            WHEN 5 THEN 'QAR 7' ELSE 'idk' END AS rent,
                       CASE WHEN user_id % 2 = 0 THEN 'rent_australia_com'
                            ELSE 'rent_us_com' END AS src,
                       CASE WHEN event_id % 5 = 0
                            THEN 'no symbol here, rent ' || (event_id % 300 + 50)
                                 || ' monthly'
                            ELSE 'rent € ' || (event_id % 90 + 1)
                                 || ' plus utilities € ' || (event_id % 300 + 50)
                                 || ',' || (['25','50','75','00'])
                                     [CAST(event_id % 4 AS INT) + 1]
                                 || ' monthly' END AS descr
                FROM events),
            p AS (SELECT eid,
                         regexp_extract_all(replace(replace(raw1, '.', ''), ',', '.'),
                             '(\\d+(?:\\.\\d+)?)', 1) AS nums,
                         uni_raw, num_raw, rent, src,
                         CASE WHEN contains(descr, '€')
                              THEN substring(reverse(split_part(reverse(descr),
                                   '€', 1)), 1, 6) END AS utilities_raw
                  FROM t),
            q AS (SELECT *, regexp_extract(replace(replace(utilities_raw, '.', ''),
                              ',', '.'), '(\\d+(?:\\.\\d+)?)', 1) AS numstr FROM p)
            SELECT eid,
                   try_cast(coalesce(nums[len(nums)], '0') AS DOUBLE) AS last_num,
                   trim(regexp_replace(uni_raw, '[^\\x00-\\x7F]', ' ', 'g'))
                       AS ascii_text,
                   try_cast(num_raw AS DOUBLE) AS num,
                   CASE WHEN contains(rent, '€') THEN 'EUR'
                        WHEN contains(rent, '£') THEN 'GBP'
                        WHEN contains(rent, '$') AND contains(src, 'australia') THEN 'AUD'
                        WHEN contains(rent, '$') THEN 'USD'
                        WHEN contains(rent, 'TL') OR contains(rent, 'TRY')
                             OR contains(rent, '₺') THEN 'TRY'
                        WHEN contains(rent, 'CHF') THEN 'CHF'
                        WHEN contains(rent, 'QAR') THEN 'QAR'
                        WHEN contains(rent, 'EUR') THEN 'EUR'
                        ELSE NULL END AS currency,
                   utilities_raw,
                   CASE WHEN utilities_raw IS NULL THEN NULL
                        ELSE try_cast(CASE WHEN numstr = '' THEN '0' ELSE numstr END
                                      AS DOUBLE) END AS utilities,
                   -- registered-domain fold: expected values derived
                   -- analytically from the test-host formula under the
                   -- builtin PSL (multi-label rule, *.ck wildcard,
                   -- !www.ck exception, public-suffix NULL, implicit-*)
                   CASE CAST(eid % 6 AS INT)
                        WHEN 0 THEN 'shop.h' || (eid % 20) || '.co.uk'
                        WHEN 1 THEN 'h' || (eid % 20) || '.com'
                        WHEN 2 THEN 'foo.h' || (eid % 20) || '.ck'
                        WHEN 3 THEN 'sub.www.ck'
                        WHEN 4 THEN 'co.uk'
                        ELSE 'x.y' || (eid % 20) || '.unknown'
                   END AS test_host,
                   CASE CAST(eid % 6 AS INT)
                        WHEN 0 THEN 'h' || (eid % 20) || '.co.uk'
                        WHEN 1 THEN 'h' || (eid % 20) || '.com'
                        WHEN 2 THEN 'foo.h' || (eid % 20) || '.ck'
                        WHEN 3 THEN 'www.ck'
                        WHEN 4 THEN NULL
                        ELSE 'y' || (eid % 20) || '.unknown'
                   END AS reg_domain
            FROM q
        """,
        "retry_policy": f"""
            SELECT seq, status, CAST(attempt + 1 AS INT) AS attempt_next,
                   true AS dont_filter
            FROM ({_FRONTIER_SQL})
            WHERE status IN (500,503,504,400,401,403,404,405,407,408,416,456,502,429)
              AND attempt < 3
        """,
        "robots_filter": f"""
            WITH fr AS (
                SELECT seq, host, host_id,
                       CASE WHEN seq % 5 = 0
                            THEN 'http://' || host || '/private/' || seq
                            WHEN seq % 7 = 0
                            THEN 'http://' || host || '/private/open/' || seq
                            WHEN seq % 11 = 0
                            THEN 'http://' || host || '/tmp-cache/' || seq
                            WHEN seq % 13 = 0
                            THEN 'http://' || host || '/private/wild/' || seq
                            WHEN seq % 17 = 0
                            THEN 'http://' || host
                            ELSE canonical_url END AS canonical_url,
                       CASE WHEN seq % 5 = 0 THEN 'p'
                            WHEN seq % 7 = 0 THEN 'o'
                            WHEN seq % 11 = 0 THEN 't'
                            WHEN seq % 13 = 0 THEN 'w'
                            WHEN seq % 17 = 0 THEN 'r'
                            ELSE 'n' END AS cat
                FROM ({_FRONTIER_SQL}))
            SELECT seq, host, canonical_url,
                   NOT (host_id % 4 = 3 AND cat IN ('p','t','w'))
                       AS robots_allowed,
                   NOT (host_id % 4 = 3
                        AND cat IN ('p','o','t','w')) AS kept,
                   CASE WHEN host_id % 4 = 3
                        THEN CAST(host_id % 3 + 1 AS DOUBLE)
                        ELSE 0.1 END AS crawl_delay_s
            FROM fr
        """,
        "span_media_dedup": f"""
            WITH toks AS (
                SELECT doc_id, u.tok, u.o - 1 AS "offset"
                FROM (SELECT doc_id, {_TOKENS_SQL} AS tl FROM documents) d,
                     LATERAL (SELECT unnest(tl) AS tok,
                                     generate_subscripts(tl, 1) AS o) u),
            spans AS (
                SELECT doc_id, "offset",
                       CASE WHEN "offset" % 3 = 0 THEN 'media' ELSE 'text' END AS kind,
                       CASE WHEN "offset" % 3 = 0 THEN NULL ELSE tok END AS text,
                       CASE WHEN "offset" % 3 = 0
                            THEN 'img/' || ("offset" % 5) ELSE NULL END AS media_ref
                FROM toks),
            flagged AS (
                SELECT *, CASE WHEN kind = 'media' THEN row_number() OVER (
                           PARTITION BY doc_id, media_ref ORDER BY "offset")
                       ELSE 1 END AS rn
                FROM spans)
            SELECT doc_id, kind, text, media_ref, CAST("offset" AS INT) AS "offset"
            FROM flagged WHERE rn = 1
        """,
        "extract_number": """
            WITH t AS (
                SELECT l_orderkey AS okey, l_linenumber AS lnum,
                       (l_orderkey % 9) || '.' ||
                       lpad(CAST(l_partkey % 1000 AS VARCHAR), 3, '0') AS s,
                       try_cast((l_orderkey % 90 + 1)
                            || lpad(CAST(l_partkey % 1000 AS VARCHAR), 3, '0')
                            || '.5' AS DOUBLE) AS num
                FROM lineitem),
            p AS (
                SELECT okey, lnum, num,
                       CAST(floor(try_cast(regexp_extract(replace(s, ',', '.'),
                            '(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE)) AS BIGINT) AS a,
                       CAST(floor(try_cast(regexp_extract(replace(s, '.', ''),
                            '(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE)) AS BIGINT) AS b
                FROM t)
            SELECT DISTINCT okey, lnum, num,
                   CASE WHEN least(a, b) < 10 THEN greatest(a, b)
                        ELSE least(a, b) END AS price,
                   CAST(floor(CAST(okey % 5000 AS BIGINT)
                        / CAST(10.764 AS DOUBLE)) AS BIGINT) AS sqm,
                   CAST((okey % 700) * 4 AS BIGINT) AS rent_pm
            FROM p
        """,
        "energy_label": """
            SELECT DISTINCT l_orderkey AS okey, l_linenumber AS lnum,
                   CASE WHEN l_orderkey % 120 >= 92 THEN 'A'
                        WHEN l_orderkey % 120 >= 81 THEN 'B'
                        WHEN l_orderkey % 120 >= 69 THEN 'C'
                        WHEN l_orderkey % 120 >= 55 THEN 'D'
                        WHEN l_orderkey % 120 >= 39 THEN 'E'
                        WHEN l_orderkey % 120 >= 21 THEN 'F'
                        WHEN l_orderkey % 120 >= 1 THEN 'G'
                        ELSE NULL END AS label
            FROM lineitem
        """,
        "format_date": """
            WITH t AS (
                SELECT l_orderkey AS okey, l_linenumber AS lnum,
                       CASE WHEN l_linenumber % 4 = 0 THEN 'soon'
                            ELSE strftime(l_shipdate, '%-d/%-m/%Y') END AS ds
                FROM lineitem)
            SELECT DISTINCT okey, lnum,
                   coalesce(strftime(try_strptime(ds, '%-d/%-m/%Y'), '%Y-%m-%d'), ds)
                       AS avail
            FROM t
        """,
        "extract_date": _extract_date_oracle(),
        "date_multilocale": _ml_oracle(),
        "rent_currency": f"""
            WITH t AS (
                SELECT event_id AS eid,
                       (['€','£','$','TL ','CHF ','QAR ',''])
                           [CAST(event_id % 7 AS INT) + 1]
                       || (event_id % 29 + 1) || '.'
                       || lpad(CAST(user_id % 1000 AS VARCHAR), 3, '0')
                       || ',' || (['00','25','50','75'])[CAST(event_id % 4 AS INT) + 1]
                       || ' warm' AS raw,
                       CASE WHEN user_id % 2 = 0 THEN 'rent_australia_com'
                            ELSE 'rent_us_com' END AS src
                FROM events),
            p AS (SELECT eid, raw, src,
                         regexp_extract(replace(replace(raw, '.', ''), ',', '.'),
                                        '(\\d+(?:\\.\\d+)?)', 1) AS numstr FROM t),
            r AS (SELECT eid, raw, src,
                         try_cast(CASE WHEN numstr = '' THEN '0' ELSE numstr END
                                  AS DOUBLE) AS rent FROM p),
            s AS (SELECT eid, raw, src, rent,
                         CASE WHEN rent = floor(rent)
                              THEN CAST(CAST(floor(rent) AS BIGINT) AS VARCHAR)
                              ELSE CAST(rent AS VARCHAR) END AS sr FROM r),
            s2 AS (SELECT eid, raw, src, rent,
                          regexp_extract(replace(replace(sr, '.', ''), ',', '.'),
                                         '(\\d+(?:\\.\\d+)?)', 1) AS num2 FROM s)
            SELECT eid, round(rent, 4) AS rent,
                   round(try_cast(CASE WHEN num2 = '' THEN '0' ELSE num2 END
                                  AS DOUBLE), 4) AS rent_stored,
                   {_CURRENCY_CASE_SQL} AS currency
            FROM s2
        """,
        "rent_sanity": """
            SELECT event_id AS eid, (event_id * 7919) % 60000 AS rent
            FROM events
            WHERE (event_id * 7919) % 60000 > 0
              AND (event_id * 7919) % 60000 <= 40000
        """,
        "amenities": """
            WITH t AS (
                SELECT doc_id, text, lower(
                    (CASE WHEN doc_id % 2 = 0 THEN ' has Parking garage ' ELSE ' ' END) ||
                    (CASE WHEN doc_id % 3 = 0 THEN ' grosser Balkon ' ELSE ' ' END) ||
                    (CASE WHEN doc_id % 5 = 0 THEN ' swimming pool & lift ' ELSE ' ' END) ||
                    text) AS low
                FROM documents)
            SELECT doc_id,
                   CASE WHEN contains(low,'parking') OR contains(low,'garage')
                         OR contains(low,'parcheggio') OR contains(low,'stellplatz')
                        THEN true ELSE NULL END AS parking,
                   CASE WHEN contains(low,'balcon') OR contains(low,'balkon')
                        THEN true ELSE NULL END AS balcony,
                   CASE WHEN contains(low,'pool') OR contains(low,'piscine')
                         OR contains(low,'schwimmbad') THEN true ELSE NULL END
                       AS swimming_pool,
                   CASE WHEN contains(low,'elevator') OR contains(low,'aufzug')
                         OR contains(low,'ascenseur') OR contains(low,'lift')
                         OR contains(low,'aufzüg') OR contains(low,'fahrstuhl')
                        THEN true ELSE NULL END AS elevator,
                   CASE WHEN contains(low,'terrace') OR contains(low,'terrazz')
                         OR contains(low,'terras') OR contains(low,'terrass')
                        THEN true ELSE NULL END AS terrace,
                   trim(regexp_replace(regexp_replace(
                        '<div class=''x''><b>' || text || '</b>  <br/> tail</div>',
                        '<[^>]*>', '', 'g'), '\\s+', ' ', 'g')) AS clean
            FROM t
        """,
        "property_type": """
            WITH t AS (
                SELECT event_id AS eid,
                       (['Wohnung','maison','  studio ','kamer','Villa','daire',
                         'loft','EV'])[CAST(event_id % 8 AS INT) + 1] AS label
                FROM events)
            SELECT eid, label,
                   CASE trim(regexp_replace(lower(label), '\\s+', ' ', 'g'))
                        WHEN 'wohnung' THEN 'apartment' WHEN 'maison' THEN 'house'
                        WHEN 'studio' THEN 'studio' WHEN 'kamer' THEN 'room'
                        WHEN 'villa' THEN 'house' WHEN 'daire' THEN 'apartment'
                        WHEN 'ev' THEN 'house' ELSE NULL END AS ptype
            FROM t
        """,
        "take_first_join": """
            SELECT source,
                   min_by(text, doc_id) AS first_text,
                   string_agg(lang, ' ' ORDER BY doc_id) AS joined_langs,
                   count(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "position_counter": """
            WITH e AS (
                SELECT 'http://t.example/t/' || (doc_id % 50) AS dst,
                       'site ' || (doc_id % 7) AS anchor FROM documents
                UNION ALL
                SELECT 'http://t.example/t/' || (doc_id % 50), 'common'
                FROM documents
                UNION ALL
                SELECT 'http://s' || (doc_id % 4) || '.example/t/'
                           || (doc_id % 20), 'rel'
                FROM documents),
            c AS (SELECT dst, anchor, count(*) AS n_links
                  FROM e GROUP BY dst, anchor),
            r AS (SELECT *, row_number() OVER (
                          PARTITION BY dst
                          ORDER BY n_links DESC, anchor ASC) AS rk
                  FROM c),
            p AS (SELECT dst,
                         max(CASE WHEN rk = 1 THEN anchor END) AS anchor_top1,
                         max(CASE WHEN rk = 1 THEN n_links END) AS anchor_top1_n,
                         max(CASE WHEN rk = 2 THEN anchor END) AS anchor_top2,
                         max(CASE WHEN rk = 2 THEN n_links END) AS anchor_top2_n,
                         max(CASE WHEN rk = 3 THEN anchor END) AS anchor_top3,
                         max(CASE WHEN rk = 3 THEN n_links END) AS anchor_top3_n
                  FROM r WHERE rk <= 3 GROUP BY dst)
            SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                        AS INT) AS position,
                   CAST(len(list_distinct(list_transform(
                        range(0, CAST(doc_id % 7 + 1 AS INT)),
                        i -> 'img/' || (i % 4)))) AS INT) AS external_images_count,
                   anchor_top1, CAST(anchor_top1_n AS BIGINT) AS anchor_top1_n,
                   anchor_top2, CAST(anchor_top2_n AS BIGINT) AS anchor_top2_n,
                   anchor_top3, CAST(anchor_top3_n AS BIGINT) AS anchor_top3_n
            FROM documents d
            JOIN p ON p.dst = 'http://t.example/t/' || (d.doc_id % 50)
        """,
        "data_mix": f"""
            WITH t AS (
                SELECT doc_id, source,
                       len({_TOKENS_SQL}) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS hh
                FROM documents),
            f AS (
                SELECT doc_id, source, n_tokens,
                       ({md5_u32}) / 4294967296.0 AS frac,
                       ((CAST(substring(source, 4) AS INT) % 4) + 1) * 0.25
                           AS rate
                FROM t),
            k AS (SELECT doc_id, source, n_tokens FROM f WHERE frac < rate),
            c AS (
                SELECT *, sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens
                           AS cum_before
                FROM k),
            sc AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
                   FROM documents GROUP BY source),
            st AS (SELECT sum(n) AS tot FROM sc),
            sw AS (SELECT source, n / (SELECT tot FROM st) AS p,
                          pow(n / (SELECT tot FROM st), 0.5) AS wgt
                   FROM sc),
            swt AS (SELECT sum(wgt) AS wsum FROM sw),
            sq AS (SELECT source, p, wgt / (SELECT wsum FROM swt) AS q FROM sw),
            srm AS (SELECT max(q / p) AS rmax FROM sq),
            sr AS (SELECT source,
                          floor((q / p) / (SELECT rmax FROM srm) * 1000000
                                + 0.5) / 1000000.0 AS trate
                   FROM sq),
            tg AS (SELECT d.doc_id, sr.trate,
                          md5('temp:' || CAST(d.doc_id AS VARCHAR)) AS hh
                   FROM documents d JOIN sr USING (source))
            SELECT c.doc_id, c.source, CAST(c.n_tokens AS INT) AS n_tokens,
                   CAST(cum_before AS BIGINT) AS cum_before,
                   CAST(floor(cum_before / 2000) AS BIGINT) AS shard_id,
                   CAST(floor(trate * 1000000 + 0.5) AS BIGINT) AS temp_rate_e6,
                   ({md5_u32}) / 4294967296.0 < trate AS temp_kept
            FROM c JOIN tg ON tg.doc_id = c.doc_id
        """,
        "text_metrics": f"""
            WITH ln AS (
                SELECT doc_id, text,
                       CASE WHEN doc_id % 4 = 0
                            THEN replace(text, ' table ', chr(10) || '- ') || '...'
                            ELSE replace(text, ' table ', chr(10) || '- ')
                       END AS lined
                FROM documents),
            h AS (
                SELECT doc_id, text, lined,
                       {_hits('en')} AS en, {_hits('de')} AS de,
                       {_hits('fr')} AS fr, {_hits('it')} AS it, {_hits('nl')} AS nl
                FROM ln),
            s AS (
                SELECT doc_id, lined, en, de, fr, it, nl,
                       {_TOKENS_SQL} AS toks,
                       list_filter(list_transform(string_split(lined, chr(10)),
                            x -> trim(x)), x -> x != '') AS lines,
                       CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens,
                       CAST(len(regexp_extract_all(lower(text),
                            '([a-z]{{1,4}}|[0-9]|[^a-z0-9\\s])', 1)) AS INT) AS n_bpe,
                       CAST(len(regexp_extract_all(text, '([^\\w\\s])', 1)) AS INT)
                           AS n_punct,
                       CAST(length(text) AS DOUBLE) AS n_char
                FROM h),
            g AS (
                SELECT *, {_SHINGLES_SQL.format(nm1=1)} AS grams2,
                       {_SHINGLES_SQL.format(nm1=4)} AS grams5 FROM s),
            tc AS MATERIALIZED (
                SELECT token, count(*) AS n
                FROM (SELECT unnest(toks) AS token FROM s)
                GROUP BY token),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM tc),
            vocab AS MATERIALIZED (
                SELECT token, ln(n / (SELECT t FROM tot)) AS logp
                FROM tc WHERE n >= 2
                ORDER BY n DESC, token ASC LIMIT 4096),
            lp AS (
                SELECT doc_id,
                       sum(coalesce(v.logp,
                           ln(0.5 / (SELECT t FROM tot)))) / count(*) AS avg_lp
                FROM (SELECT doc_id, unnest(toks) AS token FROM s) x
                LEFT JOIN vocab v USING (token)
                GROUP BY doc_id)
            SELECT doc_id, n_tokens, n_bpe, n_punct,
                   CASE WHEN greatest(en,de,fr,it,nl) <= 0 THEN 'und'
                        WHEN en = greatest(en,de,fr,it,nl) THEN 'en'
                        WHEN de = greatest(en,de,fr,it,nl) THEN 'de'
                        WHEN fr = greatest(en,de,fr,it,nl) THEN 'fr'
                        WHEN it = greatest(en,de,fr,it,nl) THEN 'it'
                        ELSE 'nl' END AS lang_pred,
                   round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                       + 0.4 * least(1.0, 8.0 * (CASE WHEN n_tokens > 0
                             THEN CAST(en AS DOUBLE) / n_tokens ELSE 0.0 END))
                       + 0.2 * (1.0 - least(1.0, 4.0 * (CASE WHEN n_char > 0
                             THEN n_punct / n_char ELSE 0.0 END))), 4) AS quality,
                   round(CASE WHEN len(toks) > 0 THEN
                         CAST(list_sum(list_transform(toks, t -> length(t)))
                              AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS mean_wl,
                   round(CASE WHEN len(toks) > 0 THEN
                         CAST(len(regexp_extract_all(lined, '(#|\\.\\.\\.|…)', 1))
                              AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS sym_ratio,
                   round(CASE WHEN len(lines) > 0 THEN
                         CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                              / len(lines) ELSE 0.0 END, 4) AS dupline_frac,
                   round(CASE WHEN len(lines) > 0 THEN
                         CAST(len(list_filter(lines, l -> l LIKE '- %'
                              OR l LIKE '* %' OR l LIKE '•%')) AS DOUBLE)
                              / len(lines) ELSE 0.0 END, 4) AS bullet_frac,
                   round(CASE WHEN len(lines) > 0 THEN
                         CAST(len(list_filter(lines, l -> l LIKE '%...'
                              OR l LIKE '%…')) AS DOUBLE)
                              / len(lines) ELSE 0.0 END, 4) AS ellipsis_frac,
                   round(CASE WHEN len(toks) > 0 AND len(grams2) > 0 THEN
                         2.0 * CAST(list_max(list_transform(list_distinct(grams2),
                              gg -> len(list_filter(grams2, x -> x = gg))))
                              AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS top2_frac,
                   CAST(CASE WHEN len(grams5) > 0 THEN
                        list_max(list_transform(list_distinct(grams5),
                             gg -> len(list_filter(grams5, x -> x = gg))))
                        ELSE 0 END AS INT) AS top5_count,
                   CAST(len(grams5) - len(list_distinct(grams5)) AS INT)
                        AS dup5_occ,
                   (n_tokens >= 10 AND n_tokens <= 100000
                    AND mean_wl >= 3.0 AND mean_wl <= 10.0
                    AND sym_ratio <= 0.1 AND dupline_frac <= 0.30
                    AND bullet_frac <= 0.90 AND ellipsis_frac <= 0.30
                    AND top2_frac <= 0.20) AS gopher_pass,
                   CAST(floor(lp.avg_lp * 1000 + 0.5) AS BIGINT) AS lp_e3,
                   ix.top_term, ix.top_term_tf, ix.top_term_df
            FROM g LEFT JOIN lp USING (doc_id)
            LEFT JOIN (
                WITH ptok AS (SELECT doc_id, {_TOKENS_SQL} AS toks
                              FROM documents),
                pocc AS (SELECT doc_id, unnest(toks) AS term FROM ptok),
                p AS (SELECT term, doc_id, count(*) AS tf
                      FROM pocc GROUP BY 1, 2),
                d AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
                tt AS (SELECT doc_id, term, tf, df,
                              row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, df ASC, term ASC) AS rn
                       FROM p JOIN d USING (term))
                SELECT doc_id, term AS top_term,
                       CAST(tf AS BIGINT) AS top_term_tf,
                       CAST(df AS BIGINT) AS top_term_df
                FROM tt WHERE rn = 1
            ) ix USING (doc_id)
        """,
        "exact_dedup": """
            WITH fp AS (
                SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                           AS fingerprint,
                       min(doc_id) AS keep_id, count(*) AS n_dups
                FROM documents
                GROUP BY 1
            ),
            t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            occ AS (
                SELECT doc_id, CAST(u.i AS INT) AS start,
                       array_to_string(tk[u.i + 1 : u.i + 4], ' ') AS g
                FROM t, UNNEST(range(0, greatest(len(tk) - 3, 0))) AS u(i)
            ),
            ranked AS (
                SELECT doc_id, start,
                       count(*) OVER (PARTITION BY g) AS n_occ,
                       row_number() OVER (PARTITION BY g
                                          ORDER BY doc_id, start) AS rn
                FROM occ
            ),
            marked AS (SELECT doc_id, start FROM ranked
                       WHERE n_occ > 1 AND rn > 1),
            stepped AS (
                SELECT doc_id, start,
                       CASE WHEN max(start + 4) OVER w IS NULL
                              OR start > max(start + 4) OVER w
                            THEN 1 ELSE 0 END AS nw
                FROM marked
                WINDOW w AS (PARTITION BY doc_id ORDER BY start
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            isl AS (
                SELECT doc_id, start,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY start) AS island
                FROM stepped
            ),
            spans AS (
                SELECT doc_id, island, min(start) AS lo, max(start) + 4 AS hi
                FROM isl GROUP BY doc_id, island
            ),
            stats AS (
                SELECT doc_id, count(*) AS dup_spans,
                       sum(hi - lo) AS dup_tokens
                FROM spans GROUP BY doc_id
            )
            SELECT f.fingerprint, f.keep_id, f.n_dups,
                   CAST(len(t.tk) AS BIGINT) AS n_tokens,
                   CAST(coalesce(s.dup_spans, 0) AS BIGINT) AS dup_spans,
                   CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens
            FROM fp f
            JOIN t ON t.doc_id = f.keep_id
            LEFT JOIN stats s ON s.doc_id = f.keep_id
        """,
        "decontaminate": f"""
            WITH bt AS (SELECT {_TOKENS_SQL} AS toks FROM documents
                        WHERE doc_id % 97 = 0),
            bg AS (SELECT DISTINCT unnest({_SHINGLES_SQL.format(nm1=6)}) AS g
                   FROM bt),
            dt AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            dg AS (SELECT doc_id,
                          unnest({_SHINGLES_SQL.format(nm1=6)}) AS g
                   FROM dt),
            hits AS (SELECT doc_id, count(*) AS n
                     FROM dg JOIN bg USING (g) GROUP BY doc_id)
            SELECT d.doc_id, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
                   coalesce(hits.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits USING (doc_id)
        """,
        "pii_redact": f"""
            WITH t AS (
                SELECT doc_id, text ||
                    (CASE WHEN doc_id % 2 = 0 THEN ' mail user' ||
                         CAST(doc_id % 50 AS VARCHAR) || '@mail.example'
                         ELSE '' END) ||
                    (CASE WHEN doc_id % 3 = 0 THEN ' call +49 30 ' ||
                         CAST(1000 + doc_id % 9000 AS VARCHAR) || ' 123'
                         ELSE '' END) ||
                    (CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.' ||
                         CAST(doc_id % 256 AS VARCHAR) || '.' ||
                         CAST(doc_id % 100 AS VARCHAR)
                         ELSE '' END) AS t
                FROM documents),
            rr AS (SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '{_PII_EMAIL_SQL}')) AS INT)
                       AS n_emails,
                   CAST(len(regexp_extract_all(t, '{_PII_PHONE_SQL}')) AS INT)
                       AS n_phones,
                   CAST(len(regexp_extract_all(t, '{_PII_IPV4_SQL}')) AS INT)
                       AS n_ips,
                   regexp_replace(regexp_replace(regexp_replace(t,
                        '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
                        '{_PII_PHONE_SQL}', '<PHONE>', 'g'),
                        '{_PII_IPV4_SQL}', '<IP>', 'g') AS redacted
            FROM t),
            wh AS (SELECT doc_id, n_emails, n_phones, n_ips, redacted,
                          md5('warc:http://docs.example/'
                              || CAST(doc_id AS VARCHAR)) AS hh,
                          md5(redacted) AS pd,
                          octet_length(encode(redacted)) AS nb,
                          'http://docs.example/' || doc_id AS url,
                          '2026-01-0' || ((doc_id % 9) + 1) || 'T00:00:00Z'
                              AS wdate
                   FROM rr),
            wr AS (SELECT doc_id, n_emails, n_phones, n_ips, redacted,
                          'WARC/1.1' || {_CRLF_SQL} ||
                          'WARC-Type: response' || {_CRLF_SQL} ||
                          'WARC-Record-ID: urn:uuid:' ||
                              substring(hh, 1, 8) || '-' ||
                              substring(hh, 9, 4) || '-4' ||
                              substring(hh, 14, 3) || '-8' ||
                              substring(hh, 18, 3) || '-' ||
                              substring(hh, 21, 12) || {_CRLF_SQL} ||
                          'WARC-Target-URI: ' || url || {_CRLF_SQL} ||
                          'WARC-Date: ' || wdate || {_CRLF_SQL} ||
                          'WARC-Payload-Digest: md5:' || pd || {_CRLF_SQL} ||
                          'Content-Type: text/html' || {_CRLF_SQL} ||
                          'Content-Length: ' || nb || {_CRLF_SQL} ||
                          {_CRLF_SQL} || redacted || {_CRLF_SQL} || {_CRLF_SQL}
                              AS warc_record
                   FROM wh)
            SELECT doc_id, n_emails, n_phones, n_ips, redacted, warc_record,
                   CAST(octet_length(encode(warc_record)) AS INT) AS warc_bytes
            FROM wr
        """,
        "pagerank": f"""
            WITH e AS (
                SELECT DISTINCT l_orderkey % 300 AS src,
                                l_partkey % 300 AS dst
                FROM lineitem),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                    FROM e GROUP BY src),
            ce AS (SELECT e.src, e.dst, 1.0 / deg.deg AS w
                   FROM e JOIN deg ON deg.src = e.src),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            {pr_iters},
            o0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS cash,
                          CAST(0.0 AS DOUBLE) AS hist FROM nodes),
            {opic_iters},
            h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub,
                          1.0 / (SELECT n FROM nn) AS auth FROM nodes),
            {hits_iters},
            tv AS (SELECT node,
                          CASE WHEN node % 10 = 0 THEN 1.0 / 30.0
                               ELSE 0.0 END AS t
                   FROM nodes),
            t0 AS (SELECT node, t AS rank FROM tv),
            {tr_iters}
            SELECT r6.node, round(r6.rank * 1000000, 2) AS rank_ppm,
                   round((o6.hist + o6.cash) / 7.0 * 1000000, 2) AS opic_ppm,
                   round(h4.hub * 1000000, 2) AS hub_ppm,
                   round(h4.auth * 1000000, 2) AS auth_ppm,
                   round(t6.rank * 1000000, 2) AS trust_ppm
            FROM r6 JOIN o6 ON o6.node = r6.node
            JOIN h4 ON h4.node = r6.node
            JOIN t6 ON t6.node = r6.node
        """,
        "revisit": """
            WITH h AS (
                SELECT 'u' || CAST(event_id % 500 AS VARCHAR) AS url,
                       CAST(event_id // 500 AS DOUBLE) * CAST(43200 AS DOUBLE)
                           AS t,
                       CASE WHEN event_type IN ('purchase', 'error')
                            THEN 'c' || CAST(event_id AS VARCHAR)
                            ELSE 'stable' END AS d
                FROM events),
            w AS (SELECT url, t, d,
                         lag(d) OVER (PARTITION BY url ORDER BY t) AS pd
                  FROM h),
            a AS (SELECT url, count(*) AS n_fetches,
                         CAST(sum(CASE WHEN pd IS NOT NULL AND d <> pd
                                       THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_changes,
                         max(t) AS last_t,
                         (max(t) - min(t))
                             / greatest(count(*) - 1, 1) AS mi
                  FROM w GROUP BY url),
            l AS (SELECT *,
                         CASE WHEN n_fetches - 1 > 0 AND mi > 0 THEN
                             -ln((n_fetches - 1 - n_changes
                                  + CAST(0.5 AS DOUBLE))
                                 / (n_fetches - 1 + CAST(0.5 AS DOUBLE)))
                             / mi END AS lam
                  FROM a),
            c AS (SELECT *,
                         CASE WHEN lam IS NULL THEN CAST(3600 AS DOUBLE)
                              ELSE least(CAST(2592000 AS DOUBLE),
                                   greatest(CAST(3600 AS DOUBLE),
                                       CASE WHEN lam > 0 THEN 1.0 / lam
                                            ELSE CAST(2592000 AS DOUBLE)
                                       END))
                         END AS iv
                  FROM l)
            SELECT url, n_fetches, n_changes,
                   CAST(floor(lam * CAST(86400 AS DOUBLE)
                              * CAST(10000 AS DOUBLE)
                              + CAST(0.5 AS DOUBLE)) AS BIGINT)
                       AS lambda_per_day_e4,
                   CAST(floor(iv + CAST(0.5 AS DOUBLE)) AS BIGINT)
                       AS revisit_interval_s,
                   CAST(floor(last_t + iv + CAST(0.5 AS DOUBLE)) AS BIGINT)
                       AS next_due_s
            FROM c
        """,
        "minhash_signature": f"""
            WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            s AS (SELECT doc_id, {shingles3} AS sh FROM t)
            SELECT doc_id, {mh(0)} AS mh0, {mh(1)} AS mh1,
                   {mh(2)} AS mh2, {mh(3)} AS mh3
            FROM s
        """,
        "minhash_lsh_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            s AS (SELECT doc_id, {shingles5} AS sh FROM t WHERE len(toks) >= 5),
            sigs AS (
                SELECT doc_id, {mh(0)} AS mh0, {mh(1)} AS mh1, {mh(2)} AS mh2,
                       {mh(3)} AS mh3, {mh(4)} AS mh4, {mh(5)} AS mh5,
                       {mh(6)} AS mh6, {mh(7)} AS mh7
                FROM s),
            banded AS (
                SELECT doc_id, b.band, b.bh FROM sigs,
                LATERAL (
                    SELECT unnest([0,1,2,3]) AS band,
                           unnest([{band(0, 2)}, {band(1, 2)},
                                   {band(2, 2)}, {band(3, 2)}]) AS bh) b),
            prs AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
            shd AS (
                SELECT DISTINCT doc_id, u.s FROM s,
                LATERAL (SELECT unnest(sh) AS s) u),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
            common AS (
                SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS c
                FROM shd l JOIN shd r ON l.s = r.s AND l.doc_id < r.doc_id
                GROUP BY 1, 2)
            SELECT p.id_a, p.id_b,
                   coalesce(round(c.c / (sa.n_sh + sb.n_sh - c.c), 4), 0.0)
                       AS jaccard
            FROM prs p
            LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
            LEFT JOIN sizes sa ON sa.doc_id = p.id_a
            LEFT JOIN sizes sb ON sb.doc_id = p.id_b
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE
            t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            s AS (SELECT doc_id, {shingles5} AS sh FROM t WHERE len(toks) >= 5),
            sigs AS (
                SELECT doc_id, {mh(0)} AS mh0, {mh(1)} AS mh1, {mh(2)} AS mh2,
                       {mh(3)} AS mh3, {mh(4)} AS mh4, {mh(5)} AS mh5,
                       {mh(6)} AS mh6, {mh(7)} AS mh7
                FROM s),
            banded AS (
                SELECT doc_id, b.band, b.bh FROM sigs,
                LATERAL (
                    SELECT unnest([0,1,2,3]) AS band,
                           unnest([{band(0, 2)}, {band(1, 2)},
                                   {band(2, 2)}, {band(3, 2)}]) AS bh) b),
            prs AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
            e AS (SELECT id_a AS u, id_b AS v FROM prs
                  UNION SELECT id_b AS u, id_a AS v FROM prs),
            reach(v, l) AS (
                SELECT doc_id AS v, doc_id AS l FROM documents
                UNION
                SELECT e.v, r.l FROM e JOIN reach r ON e.u = r.v)
            SELECT v AS doc_id, min(l) AS cluster_id,
                   min(l) = v AS is_kept
            FROM reach GROUP BY v
        """,
        "winnow": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
                FROM documents WHERE doc_id % 3 = 0),
            f AS (SELECT doc_id, s FROM n WHERE length(s) >= 8),
            g AS (SELECT doc_id, u.i - 1 AS pos,
                         substring(md5(substring(s, CAST(u.i AS INT), 4)), 1, 8) AS h
                  FROM f, LATERAL (SELECT unnest(range(1, length(s) - 2)) AS i) u),
            m AS (SELECT doc_id, pos,
                         min(h || lpad(CAST(pos AS VARCHAR), 9, '0')) OVER (
                             PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS key,
                         count(*) OVER (PARTITION BY doc_id) AS ng
                  FROM g)
            SELECT DISTINCT doc_id,
                   CAST(substring(key, 9, 9) AS INT) AS pos,
                   substring(key, 1, 8) AS fp
            FROM m WHERE pos <= ng - 5
        """,
        "simhash": f"""
            WITH toks AS (
                SELECT doc_id, md5(u.tok) AS h
                FROM (SELECT doc_id, {_TOKENS_SQL} AS tl FROM documents
                      WHERE doc_id % 5 = 0) d,
                     LATERAL (SELECT unnest(tl) AS tok) u),
            pos AS (
                SELECT doc_id, h, p FROM toks, LATERAL (
                    SELECT unnest(range(0, 16)) AS p) g),
            bits AS (
                SELECT doc_id, p,
                       CASE WHEN (CAST(floor((strpos('0123456789abcdef',
                            substring(h, CAST(p // 4 AS INT) + 1, 1)) - 1)
                            / power(2.0, CAST(p % 4 AS INT))) AS INT) % 2) = 1
                            THEN 1 ELSE -1 END AS c
                FROM pos),
            bitsum AS (
                SELECT doc_id, p, sum(c) AS s FROM bits GROUP BY doc_id, p)
            SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                              ORDER BY p) AS simhash
            FROM bitsum GROUP BY doc_id
        """,
        "simhash_neardup": """
            WITH toks AS (
                SELECT doc_id, md5(u.tok) AS h
                FROM (SELECT doc_id, {toks} AS tl FROM documents
                      WHERE doc_id % 5 = 0) d,
                     LATERAL (SELECT unnest(tl) AS tok) u),
            pos AS (
                SELECT doc_id, h, p FROM toks, LATERAL (
                    SELECT unnest(range(0, 16)) AS p) g),
            bits AS (
                SELECT doc_id, p,
                       CASE WHEN (CAST(floor((strpos('0123456789abcdef',
                            substring(h, CAST(p // 4 AS INT) + 1, 1)) - 1)
                            / power(2.0, CAST(p % 4 AS INT))) AS INT) % 2) = 1
                            THEN 1 ELSE -1 END AS c
                FROM pos),
            bitsum AS (
                SELECT doc_id, p, sum(c) AS s FROM bits GROUP BY doc_id, p),
            sig AS (
                SELECT doc_id,
                       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                  ORDER BY p) AS sh
                FROM bitsum GROUP BY doc_id),
            blocks AS (
                SELECT doc_id, sh, b.blk, substring(sh, b.blk * 4 + 1, 4) AS bv
                FROM sig, LATERAL (SELECT unnest([0,1,2,3]) AS blk) b),
            cand AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                       l.sh AS sa, r.sh AS sb
                FROM blocks l JOIN blocks r
                  ON l.blk = r.blk AND l.bv = r.bv AND l.doc_id < r.doc_id),
            ham AS (
                SELECT id_a, id_b,
                       CAST(list_sum(list_transform(range(1, 17),
                            i -> CASE WHEN substring(sa, CAST(i AS INT), 1)
                                       <> substring(sb, CAST(i AS INT), 1)
                                 THEN 1 ELSE 0 END)) AS INT) AS hamming
                FROM cand)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        """.replace("{toks}", _TOKENS_SQL),
        "corpus_curation": f"""
            WITH t AS (SELECT doc_id, source, text, {_TOKENS_SQL} AS toks
                       FROM documents),
            st AS (
                SELECT doc_id, source,
                       CAST(len(toks) AS INT) AS n_tokens,
                       CAST(len(toks) AS DOUBLE) AS n_tok,
                       CAST(length(text) AS DOUBLE) AS n_char,
                       CAST(len(list_filter(toks, x -> list_contains(
                            {_STOPWORDS_SQL['en']}, x))) AS DOUBLE) AS sw_en,
                       len(list_filter(toks, x -> list_contains(
                            {_STOPWORDS_SQL['de']}, x))) AS sw_de,
                       len(list_filter(toks, x -> list_contains(
                            {_STOPWORDS_SQL['fr']}, x))) AS sw_fr,
                       len(list_filter(toks, x -> list_contains(
                            {_STOPWORDS_SQL['it']}, x))) AS sw_it,
                       len(list_filter(toks, x -> list_contains(
                            {_STOPWORDS_SQL['nl']}, x))) AS sw_nl,
                       CAST(len(regexp_extract_all(text, '([^\\w\\s])', 1))
                            AS DOUBLE) AS p,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                           AS fp
                FROM t),
            scored AS (
                SELECT doc_id, source, n_tokens, fp,
                       CASE WHEN greatest(sw_en, sw_de, sw_fr, sw_it, sw_nl) <= 0
                                 THEN 'und'
                            WHEN sw_en = greatest(sw_en, sw_de, sw_fr, sw_it, sw_nl)
                                 THEN 'en'
                            WHEN sw_de = greatest(sw_en, sw_de, sw_fr, sw_it, sw_nl)
                                 THEN 'de'
                            WHEN sw_fr = greatest(sw_en, sw_de, sw_fr, sw_it, sw_nl)
                                 THEN 'fr'
                            WHEN sw_it = greatest(sw_en, sw_de, sw_fr, sw_it, sw_nl)
                                 THEN 'it'
                            ELSE 'nl' END AS lang_pred,
                       round(0.4 * least(1.0, n_tok / 100.0)
                           + 0.4 * least(1.0, 8.0 * (CASE WHEN n_tok > 0
                                 THEN sw_en / n_tok ELSE 0.0 END))
                           + 0.2 * (1.0 - least(1.0, 4.0 * (CASE WHEN n_char > 0
                                 THEN p / n_char ELSE 0.0 END))), 4) AS quality
                FROM st),
            keepers AS (SELECT min(doc_id) AS doc_id FROM scored GROUP BY fp),
            s5 AS (SELECT doc_id, {shingles5} AS sh FROM t WHERE len(toks) >= 5),
            sigs AS (
                SELECT doc_id, {mh(0)} AS mh0, {mh(1)} AS mh1, {mh(2)} AS mh2,
                       {mh(3)} AS mh3, {mh(4)} AS mh4, {mh(5)} AS mh5,
                       {mh(6)} AS mh6, {mh(7)} AS mh7
                FROM s5),
            banded AS (
                SELECT doc_id, b.band, b.bh FROM sigs,
                LATERAL (
                    SELECT unnest([0,1,2,3]) AS band,
                           unnest([{band(0, 2)}, {band(1, 2)},
                                   {band(2, 2)}, {band(3, 2)}]) AS bh) b),
            losers AS (
                SELECT DISTINCT r.doc_id AS doc_id
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)
            SELECT s.doc_id, s.source, s.lang_pred, s.n_tokens, s.quality
            FROM scored s
            JOIN keepers k ON k.doc_id = s.doc_id
            LEFT JOIN losers x ON x.doc_id = s.doc_id
            WHERE x.doc_id IS NULL AND s.quality >= 0.3 AND s.n_tokens >= 10
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id % 100 = 0),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(
                           list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
                           list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4)
                           AS cos
                FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id, cos,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 3
        """,
        "embedding_neardup": """
            WITH b AS (
                SELECT vec_id, t.tbl,
                       (CASE WHEN embedding[t.tbl * 4 + 1] > 0 THEN 1 ELSE 0 END
                      + CASE WHEN embedding[t.tbl * 4 + 2] > 0 THEN 2 ELSE 0 END
                      + CASE WHEN embedding[t.tbl * 4 + 3] > 0 THEN 4 ELSE 0 END
                      + CASE WHEN embedding[t.tbl * 4 + 4] > 0 THEN 8 ELSE 0 END)
                           AS bucket
                FROM embeddings, LATERAL (SELECT unnest([0,1,2,3]) AS tbl) t),
            cand AS (
                SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
                FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
                                  AND l.vec_id < r.vec_id),
            scored AS (
                SELECT id_a, id_b,
                       round(list_cosine_similarity(
                           list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4)
                           AS cos
                FROM cand
                JOIN embeddings a ON a.vec_id = id_a
                JOIN embeddings b ON b.vec_id = id_b)
            SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.35
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "media_refs": f"""
            WITH toks AS (
                SELECT doc_id, u.o - 1 AS "offset"
                FROM (SELECT doc_id, {_TOKENS_SQL} AS tl FROM documents) d,
                     LATERAL (SELECT unnest(tl) AS tok,
                                     generate_subscripts(tl, 1) AS o) u),
            m AS (SELECT doc_id, "offset",
                         'img/' || (doc_id % 9) || '/' || ("offset" % 5)
                             AS media_ref
                  FROM toks WHERE "offset" % 3 = 0)
            SELECT media_ref, min(doc_id) AS first_doc_id, count(*) AS n_refs
            FROM m GROUP BY media_ref
        """,
        "js_literals": r"""
            WITH s AS (
                SELECT doc_id,
                       'var cfg = {lat: 45.' || (doc_id % 1000)
                       || ', lng: ''8.' || (doc_id % 97)
                       || ''', zoom: 12, city: "c' || (doc_id % 40) || '"};' AS js
                FROM documents),
            e AS (
                SELECT doc_id,
                       regexp_extract_all(js,
                           '([A-Za-z_$][A-Za-z0-9_$]*)\s*:\s*(''[^'']*''|"[^"]*"|-?\d+(?:\.\d+)?)',
                           1) AS ks,
                       regexp_extract_all(js,
                           '([A-Za-z_$][A-Za-z0-9_$]*)\s*:\s*(''[^'']*''|"[^"]*"|-?\d+(?:\.\d+)?)',
                           2) AS vs
                FROM s)
            SELECT doc_id, CAST(u.o - 1 AS INT) AS pos, u.k AS key,
                   regexp_replace(regexp_replace(u.v, '^[''"]', ''), '[''"]$', '')
                       AS value
            FROM e, LATERAL (SELECT unnest(ks) AS k, unnest(vs) AS v,
                                    generate_subscripts(ks, 1) AS o) u
        """,
        "media_decode": f"""
            WITH d AS ({_MEDIA_DECODE_SQL}),
            fr AS (
                SELECT media_ref, CAST(u.f AS INT) AS frame_idx
                FROM d, LATERAL (SELECT unnest(generate_series(0,
                     greatest(n_frames - 1, 0), 24)) AS f) u
                WHERE media_type = 'video' AND ok),
            agg AS (
                SELECT media_ref, count(*) AS n_sampled_frames,
                       max(frame_idx) AS last_frame_idx
                FROM fr GROUP BY media_ref),
            sn AS (
                SELECT 'media/' || doc_id AS media_ref,
                       CASE doc_id % 8
                            WHEN 0 THEN 'image/jpeg'
                            WHEN 1 THEN 'image/png'
                            WHEN 2 THEN 'image/gif'
                            WHEN 3 THEN 'image/webp'
                            WHEN 4 THEN 'audio/mpeg'
                            WHEN 5 THEN 'video/mp4'
                            WHEN 6 THEN 'application/pdf'
                            ELSE 'application/octet-stream'
                       END AS sniffed_type
                FROM documents)
            SELECT d.media_ref, d.media_type, sn.sniffed_type, d.width,
                   d.height, d.n_frames, d.ok,
                   coalesce(agg.n_sampled_frames, 0) AS n_sampled_frames,
                   CAST(agg.last_frame_idx AS INT) AS last_frame_idx
            FROM d LEFT JOIN agg USING (media_ref)
            JOIN sn USING (media_ref)
        """,
        "sitemap_locs": """
            WITH x AS (
                SELECT doc_id, 'sitemap' AS src,
                       '<?xml version="1.0"?><urlset><url><loc>http://s.example/d/'
                       || doc_id || '</loc></url><url><loc> http://s.example/page/'
                       || (doc_id % 7) || ' </loc><lastmod>2024-0'
                       || (doc_id % 9 + 1) || '-15</lastmod></url></urlset>' AS xml,
                       '(?s)<url>(.*?)</url>' AS pb,
                       '<loc>\\s*([^<]+?)\\s*</loc>' AS pl,
                       '<lastmod>\\s*([^<]+?)\\s*</lastmod>' AS pd
                FROM documents
                UNION ALL
                SELECT doc_id, 'rss',
                       '<rss><channel><link>http://f.example/home</link>'
                       || '<item><title>t</title>' || chr(10)
                       || '<link> http://f.example/rss/' || doc_id
                       || ' </link><pubDate>Mon, 0' || (doc_id % 7 + 1)
                       || ' Jan 2024</pubDate></item>'
                       || '<item><link>http://f.example/rss/p' || (doc_id % 7)
                       || '</link></item></channel></rss>',
                       '(?s)<item>(.*?)</item>',
                       '<link>\\s*([^<]+?)\\s*</link>',
                       '<pubDate>\\s*([^<]+?)\\s*</pubDate>'
                FROM documents
                UNION ALL
                SELECT doc_id, 'atom',
                       '<feed><entry>' || chr(10)
                       || '<link rel="alternate" href="http://f.example/atom/'
                       || doc_id || '"/><updated>2024-01-0' || (doc_id % 9 + 1)
                       || '</updated></entry>'
                       || '<entry><link href="http://f.example/atom/p'
                       || (doc_id % 5) || '"/></entry></feed>',
                       '(?s)<entry>(.*?)</entry>',
                       '<link[^>]*href="([^"]+)"',
                       '<updated>\\s*([^<]+?)\\s*</updated>'
                FROM documents),
            b AS (SELECT doc_id, src, pl, pd,
                         regexp_extract_all(xml, pb, 1) AS blocks
                  FROM x),
            e AS (SELECT doc_id, src, pl, pd, u.o AS ord, u.bk
                  FROM b, LATERAL (SELECT unnest(blocks) AS bk,
                                          generate_subscripts(blocks, 1) AS o) u),
            f AS (SELECT doc_id, src, ord,
                         regexp_extract(bk, pl, 1) AS loc,
                         nullif(regexp_extract(bk, pd, 1), '') AS published
                  FROM e)
            SELECT doc_id, src,
                   CAST(row_number() OVER (PARTITION BY doc_id, src
                                           ORDER BY ord) - 1 AS INT) AS pos,
                   loc, published
            FROM f WHERE loc <> ''
        """,
        "json_source": """
            SELECT event_id AS eid, CAST(props->>'$.k' AS INT) AS k FROM events
        """,
        "itemclear": """
            SELECT event_id AS eid,
                   CAST((event_id % 29 + 1) * 1000 + (user_id % 1000) AS DOUBLE)
                       + 0.5 AS rent,
                   CAST(event_id % 5 + 1 AS DOUBLE) AS room_count,
                   CASE WHEN event_id % 2 = 0 THEN true ELSE NULL END AS balcony
            FROM events
        """,
        "autothrottle": """
            WITH stats AS (
                SELECT 'h' || (user_id % 40) || '.example' AS host,
                       (user_id % 40) AS hid,
                       avg(value * 100) AS lat,
                       sum(CASE WHEN event_id % 11 < 2 THEN 1 ELSE 0 END) AS nerr
                FROM events GROUP BY 1, 2),
            c AS (
                SELECT host,
                       CASE WHEN hid % 3 = 0 THEN CAST(1.5 AS DOUBLE)
                            ELSE CAST(0.25 AS DOUBLE) END AS cur,
                       lat, nerr
                FROM stats),
            n AS (SELECT host, cur, (cur + lat / 1000.0) / 2.0 AS newd, nerr FROM c),
            p AS (SELECT host, CASE WHEN nerr > 0 AND newd < cur THEN cur
                              ELSE newd END AS prop FROM n)
            SELECT host,
                   round(least(greatest(prop, CAST(0.1 AS DOUBLE)),
                               CAST(2.0 AS DOUBLE)), 4) AS crawl_delay_s
            FROM p
        """,
        "html_parse": """
            WITH base AS (
                SELECT 'http://docs.example/' || doc_id AS url,
                       trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
                       doc_id % 5 AS m,
                       doc_id
                FROM documents),
            b AS (SELECT *, t || ' ref ' || doc_id AS main,
                         'http://docs.example/search.php' AS fa,
                         'num_page=' || (doc_id % 9 + 2)
                             || '&cat=' || (doc_id % 7) AS fb,
                         CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 4 END
                              AS INT) AS nf,
                         doc_id % 3 = 0 AS ni
                  FROM base)
            SELECT url, 5 AS n_links, nf AS n_follow_links, ni AS noindex,
                   main AS main_text,
                   fa AS form_action, fb AS form_body, 'text' AS kind,
                   'Home' AS text, CAST(NULL AS VARCHAR) AS media_ref,
                   0 AS "offset" FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', 'About',
                   NULL, 1 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', t, NULL, 2 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', 'more',
                   NULL, 3 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'media', NULL,
                   '/i/' || m || '.jpg', 4 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', t, NULL, 5 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', 'ref ' || doc_id,
                   NULL, 6 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', 'copyright',
                   NULL, 7 FROM b
            UNION ALL SELECT url, 5, nf, ni, main, fa, fb, 'text', 'contact',
                   NULL, 8 FROM b
        """,
        "css_select": """
            SELECT doc_id,
                   'T' || doc_id AS title,
                   '€ ' || (doc_id % 3000 + 300) AS price_str,
                   '/d/' || doc_id AS href,
                   trim(regexp_replace(text, '\\s+', ' ', 'g')) AS "desc",
                   CAST(doc_id % 5 AS VARCHAR) AS beds,
                   CAST(doc_id % 3 AS VARCHAR) AS baths_last,
                   '+31-' || doc_id AS phone,
                   '€ ' || (doc_id % 3000 + 300) AS union_first
            FROM documents
        """,
        "xpath_select": """
            SELECT doc_id,
                   CAST(doc_id % 5 + 1 AS VARCHAR) AS rooms,
                   (doc_id % 2500 + 250) || ' €' AS rent_str,
                   CAST(doc_id % 120 + 18 AS VARCHAR) AS surface,
                   'Balcon : ' || (CASE WHEN doc_id % 2 = 0 THEN 'oui'
                                        ELSE 'non' END) AS balcon,
                   CAST(doc_id % 6 AS VARCHAR) AS floor_last,
                   '48.' || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
                       AS lat,
                   '/i/' || doc_id || '_2.jpg' AS img2,
                   'EG' AS floor_first,
                   'Surface habitable ' || (doc_id % 120 + 18) || ' m2'
                       AS surface_li,
                   CAST(doc_id % 5 + 1 AS VARCHAR) AS rooms_eq,
                   'Etage EG ' || (doc_id % 6) AS dl_norm,
                   'card rental' AS card_class,
                   'Etage|Zimmer|Miete' AS keys_union,
                   '2.' || lpad(CAST((doc_id * 53) % 10000 AS VARCHAR), 4, '0')
                       AS lng,
                   CAST(doc_id % 2500 + 250 AS VARCHAR) AS rent_num,
                   'Surface habitable ' || (doc_id % 120 + 18) || ' m2'
                       AS li_after,
                   CAST(doc_id % 6 AS VARCHAR) AS floor_following,
                   'Balcon : ' || (CASE WHEN doc_id % 2 = 0 THEN 'oui'
                                        ELSE 'non' END) AS li_before_script,
                   'EG|' || (doc_id % 6) AS dds,
                   'Etage|EG|' || (doc_id % 6) AS dl_all,
                   'Etage: EG' AS dl_pair
            FROM documents
        """,
        "fetch_rates": """
            SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
                   'h' || (user_id % 40) || '.example' AS host,
                   count(*) AS fetched,
                   round(avg(value * 100), 2) AS avg_latency_ms,
                   CAST(sum(CASE WHEN event_id % 11 < 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS errors
            FROM events GROUP BY 1, 2
        """,
        "enrich": """
            WITH geo AS (
                SELECT CAST(k AS INT) AS address_key,
                       '45.' || lpad(CAST((k * 37) % 10000 AS VARCHAR), 4, '0')
                           AS latitude,
                       '8.' || lpad(CAST((k * 53) % 10000 AS VARCHAR), 4, '0')
                           AS longitude,
                       CAST(10000 + (k * 7) % 89999 AS VARCHAR) AS zipcode,
                       'city' || (k % 40) AS city
                FROM (SELECT unnest(range(0, 200)) AS k)),
            rows AS (
                SELECT event_id AS eid,
                       CAST(event_id % 200 AS INT) AS address_key,
                       (['EUR','GBP','USD','AUD','TRY','CHF','QAR','XXX'])
                           [CAST(event_id % 8 AS INT) + 1] AS currency,
                       CAST((event_id % 4000) + 100 AS DOUBLE) AS rent
                FROM events),
            rates AS (
                SELECT unnest(['EUR','GBP','USD','AUD','TRY','CHF','QAR']) AS currency,
                       unnest([1.0, 1.17, 0.92, 0.61, 0.028, 1.05, 0.25]) AS rate_eur)
            SELECT eid, latitude, longitude, zipcode, city,
                   rows.currency, rent,
                   round(rent * CAST(rate_eur AS DOUBLE), 2) AS rent_eur
            FROM rows
            LEFT JOIN geo ON geo.address_key = rows.address_key
            LEFT JOIN rates ON rows.currency = rates.currency
        """,
        # golden-file oracle: the expected span rows are generated by the
        # PURE-PYTHON golden model (tests/golden_model.py) via
        # tools/gen_crawl_oracle.py and committed as a parquet fixture —
        # the iterative wave loop itself has no single-query SQL form,
        # but its expected OUTPUT is a deterministic table
        "crawl_end_to_end": """
            SELECT doc_id, kind, text, media_ref, "offset"
            FROM read_parquet('/root/repo/fixtures/crawl_expected.parquet')
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id) > 1800
                              OR lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
                            THEN 1 ELSE 0 END AS new_sess
                FROM events),
            s AS (
                SELECT user_id, ts,
                       sum(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
                FROM g)
            SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
            FROM s GROUP BY user_id, session_no
        """,
    }
