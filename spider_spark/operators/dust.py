"""DUST rule mining: Different URLs with Similar Text.

Bar-Yossef, Keidar & Schonfeld, "Do Not Crawl in the DUST" (WWW'07 —
public paper): a crawler that has fetched the same content under
several URLs can MINE the rewrite rules relating them and then apply
those rules to *unfetched* frontier URLs, collapsing aliases before
they cost a fetch. The paper mines general substring-substitution
rules from URL pairs with matching content sketches; here the miner
targets the three rule families that cover the overwhelming share of
real DUST (the paper's own examples) with relational plans:

* ``host_alias`` — same path+query under two hosts
  (``www.example.com`` vs ``example.com``, mirrors);
* ``strip_param`` — a query parameter whose removal maps alias to
  canonical (session ids, tracking params);
* ``strip_suffix`` — a path suffix whose removal maps alias to
  canonical (``/index.html``, trailing ``/``).

Mining shape: one groupBy on the content digest (alias groups), one
projection parsing both URLs of each pair (pure JVM regex — the same
helpers the trap fence uses), one groupBy on the rule key with a
min-support filter (the paper's "large support" requirement — a rule
seen once is noise, a rule seen across many pairs is structure).
Application shape: the rules dim is tiny by construction, so every
apply step is a broadcast join + conditional rewrite — no extra
shuffle on the frontier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import host_sql, url_path_col


def _query_col(url: Column) -> Column:
    return F.regexp_extract(url, r"\?([^#]*)", 1)


def _params_col(url: Column) -> Column:
    """Non-empty ``k=v`` query parameter strings, sorted (canonical
    order — set semantics for subset comparison)."""
    return F.array_sort(F.filter(F.split(_query_col(url), "&"), lambda p: p != ""))


def _param_name(p: Column) -> Column:
    return F.split_part(p, F.lit("="), F.lit(1))


def alias_pairs(
    pages: DataFrame, url_col: str = "url", digest_col: str = "digest"
) -> DataFrame:
    """(digest, canonical_url, alias_url) — one row per non-canonical
    member of every content-digest group with >1 distinct URL; the
    lexicographic min URL is the group's canonical (deterministic)."""
    urls = pages.select(
        F.col(digest_col).alias("digest"), F.col(url_col).alias("alias_url")
    ).distinct()
    canon = (
        urls.groupBy("digest")
        .agg(
            F.min("alias_url").alias("canonical_url"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return urls.join(canon, "digest").filter(
        F.col("alias_url") != F.col("canonical_url")
    )


def mine_rules(pairs: DataFrame, min_support: int = 2) -> DataFrame:
    """Generalize (canonical_url, alias_url) pairs into rewrite rules.

    Returns (kind, scope, arg, support):

    * ``('host_alias', alias_host, canonical_host, n)``
    * ``('strip_param', host, param_name, n)``
    * ``('strip_suffix', host, path_suffix, n)``

    Support counts distinct pairs explaining the rule; rules below
    ``min_support`` drop (the WWW'07 support filter — one pair is an
    anecdote, not a rule).
    """
    a, c = F.col("alias_url"), F.col("canonical_url")
    parsed = pairs.select(
        F.expr(host_sql("alias_url")).alias("a_host"),
        url_path_col(a).alias("a_path"),
        _params_col(a).alias("a_params"),
        F.expr(host_sql("canonical_url")).alias("c_host"),
        url_path_col(c).alias("c_path"),
        _params_col(c).alias("c_params"),
    )
    host_alias = (
        parsed.filter(
            (F.col("a_host") != F.col("c_host"))
            & (F.col("a_path") == F.col("c_path"))
            & (F.col("a_params") == F.col("c_params"))
        )
        .select(
            F.lit("host_alias").alias("kind"),
            F.col("a_host").alias("scope"),
            F.col("c_host").alias("arg"),
        )
    )
    same_site = (F.col("a_host") == F.col("c_host"))
    extras = F.array_except("a_params", "c_params")
    strip_param = (
        parsed.filter(
            same_site
            & (F.col("a_path") == F.col("c_path"))
            & (F.size(extras) > 0)
            # removing the extras must land EXACTLY on the canonical
            # query (subset check): alias minus extras == canonical
            & (F.size(F.array_except("c_params", "a_params")) == 0)
        )
        .select(
            F.col("a_host").alias("scope"),
            F.explode(F.array_distinct(F.transform(extras, _param_name))).alias("arg"),
        )
        .select(F.lit("strip_param").alias("kind"), "scope", "arg")
    )
    strip_suffix = (
        parsed.filter(
            same_site
            & (F.col("a_params") == F.col("c_params"))
            & (F.col("a_path") != F.col("c_path"))
            & F.col("a_path").startswith(F.col("c_path"))
        )
        .select(
            F.lit("strip_suffix").alias("kind"),
            F.col("a_host").alias("scope"),
            F.expr("substring(a_path, length(c_path) + 1)").alias("arg"),
        )
    )
    return (
        host_alias.unionByName(strip_param)
        .unionByName(strip_suffix)
        .groupBy("kind", "scope", "arg")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def apply_rules(
    frontier: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Rewrite frontier URLs under the mined rules; adds ``dust_url``.

    Order matters and is fixed: host_alias, then strip_param, then
    strip_suffix — so a parameterized URL on an alias host collapses
    fully. Each step broadcast-joins the (tiny) per-kind rules dim on
    the URL's host; unmatched rows pass through. One rule per (kind,
    scope) is applied except strip_param, which aggregates all of a
    host's strip-able parameter names into one array before the
    rewrite (session id AND tracking param both drop in one pass).
    """
    from pyspark.sql import Window

    def one_per_scope(r: DataFrame) -> DataFrame:
        # a scope mining several competing rules (two suffixes, two
        # canonical hosts) must not fan out the frontier join: keep the
        # best-supported rule, ties to the lexicographic-min arg
        w = Window.partitionBy("scope").orderBy(F.desc("support"), F.asc("arg"))
        return (
            r.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    u = F.col("_dust")
    out = frontier.withColumn("_dust", F.col(url_col))

    ha = one_per_scope(rules.filter(F.col("kind") == "host_alias")).select(
        F.col("scope").alias("_ha_from"), F.col("arg").alias("_ha_to")
    )
    out = (
        out.join(
            F.broadcast(ha), F.expr(host_sql("_dust")) == F.col("_ha_from"), "left"
        )
        .withColumn(
            "_dust",
            F.when(
                F.col("_ha_to").isNotNull(),
                F.concat(
                    F.regexp_extract(u, r"^([a-z0-9+.-]+://)", 1),
                    F.col("_ha_to"),
                    F.regexp_extract(u, r"^[a-z0-9+.-]+://[^/?#]*([/?#].*)?$", 1),
                ),
            ).otherwise(u),
        )
        .drop("_ha_from", "_ha_to")
    )

    sp = (
        rules.filter(F.col("kind") == "strip_param")
        .groupBy("scope")
        .agg(F.collect_set("arg").alias("_sp_names"))
        .withColumnRenamed("scope", "_sp_host")
    )
    kept_q = F.array_join(
        F.filter(
            F.split(_query_col(u), "&"),
            lambda p: (p != "")
            & ~F.array_contains(F.col("_sp_names"), _param_name(p)),
        ),
        "&",
    )
    rebuilt = F.concat(
        F.split_part(u, F.lit("?"), F.lit(1)),
        F.when(kept_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept_q)),
    )
    out = (
        out.join(F.broadcast(sp), F.expr(host_sql("_dust")) == F.col("_sp_host"), "left")
        .withColumn(
            "_dust",
            F.when(
                F.col("_sp_names").isNotNull() & _query_col(u).isNotNull()
                & (_query_col(u) != ""),
                rebuilt,
            ).otherwise(u),
        )
        .drop("_sp_host", "_sp_names")
    )

    sx = one_per_scope(rules.filter(F.col("kind") == "strip_suffix")).select(
        F.col("scope").alias("_sx_host"), F.col("arg").alias("_sx_sfx")
    )
    path = url_path_col(u)
    out = (
        out.join(F.broadcast(sx), F.expr(host_sql("_dust")) == F.col("_sx_host"), "left")
        .withColumn(
            "_dust",
            F.when(
                F.col("_sx_sfx").isNotNull()
                & path.endswith(F.col("_sx_sfx"))
                & (F.length(path) > F.length("_sx_sfx")),
                F.concat(
                    F.regexp_extract(u, r"^([a-z0-9+.-]+://[^/?#]*)", 1),
                    F.expr(
                        "substring(regexp_extract(_dust,"
                        " '^[a-z0-9+.-]+://[^/]*(/[^?#]*)', 1),"
                        " 1, length(regexp_extract(_dust,"
                        " '^[a-z0-9+.-]+://[^/]*(/[^?#]*)', 1))"
                        " - length(_sx_sfx))"
                    ),
                    F.regexp_extract(u, r"(\?[^#]*)", 1),
                ),
            ).otherwise(u),
        )
        .drop("_sx_host", "_sx_sfx")
    )
    return out.withColumnRenamed("_dust", "dust_url")
