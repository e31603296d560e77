"""Corpus deduplication operators over the ``documents`` text table.

The scale-path toolbox a 100 TB training-data pipeline needs:

* :func:`exact_dedup` — md5-of-normalized-text groupBy; keep min doc_id.
  One shuffle on the 16-byte digest (never on the text itself).
* :func:`minhash_lsh_pairs` — shingle -> seeded-md5 MinHash signature ->
  band buckets -> pairs within each bucket. The bucket key is
  (band_idx, band_hash): uniform by construction, so no skew salting
  needed; candidate pairs ~ O(similar pairs), not O(n^2).
* :func:`ngram_jaccard_pairs` — exact Jaccard via shingle inverted
  index (explode + equi-join + count). Quadratic in the worst case;
  meant for verification / small slices, the LSH path is the scale one.
* :func:`simhash` — 64-bit sign-majority over seeded token hashes,
  computed relationally (explode over bit positions) so the same
  formula runs in DuckDB for the oracle; near-dup = small Hamming
  distance between signatures.
* embedding near-duplicates live in :mod:`spider_spark.operators.ann`
  (``embedding_neardup_pairs``: cosine over LSH-style buckets).

All hashing is md5-based (not xxhash) purely so the DuckDB oracle can
reproduce values bit-for-bit; a production pipeline would hash with
xxhash64, about 3x the throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def exact_dedup(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving doc_id per distinct normalized text.

    Returns (fingerprint, keep_id, n_dups). Map-side partial agg makes
    this one shuffle of (digest, id) pairs — scales linearly.
    """
    return (
        documents.select(
            TX.doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(
    documents: DataFrame,
    n_hashes: int = 12,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature columns mh0..mh{n-1}.

    Tokens and shingles are materialized as separate projection steps so
    each is computed ONCE per row; inlining them into the n_hashes
    min-transforms re-evaluates the regex split per shingle element
    (O(tokens²·hashes) — a measured 60x slowdown at bench scale).
    """
    toks = documents.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("_toks")
    )
    sh = toks.select(
        F.col(id_col), TX.word_shingles_from(F.col("_toks"), shingle_n).alias("_sh")
    )
    def mh(j: int):
        # one-arg lambda only: a second (even defaulted) parameter flips
        # F.transform into its (element, index) overload
        return F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)))
        ).alias(f"mh{j}")

    return sh.select(F.col(id_col), *[mh(j) for j in range(n_hashes)])


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    rows_per_band = n_hashes / bands; band hash = md5 of the
    concatenated signature slice. Docs with no shingles (shorter than
    the shingle width) produce no bands. Pairs are emitted per
    (band, band hash) bucket from its sorted distinct ids, so the
    signatures are computed once (a self-join of the banded rows
    computes them on both sides).
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands
    # drop docs without shingles BEFORE shingling: they would all share
    # the band hash of md5(''); a filter on the signature instead is
    # pushed below the projections and re-inlines the token split into
    # every shingle (see word_shingles_from)
    shingled = documents.filter(F.size(TX.tokens(F.col(text_col))) >= shingle_n)
    sigs = minhash_signatures(shingled, n_hashes, shingle_n, text_col, id_col)
    bands_sql = ", ".join(
        f"named_struct('band', {b}, 'bh', md5(concat_ws('|', "
        + ", ".join(f"mh{b * r + i}" for i in range(r))
        + ")))"
        for b in range(bands)
    )
    return (
        sigs.selectExpr(f"{id_col} AS id", f"inline(array({bands_sql}))")
        .groupBy("band", "bh")
        .agg(F.expr("array_sort(collect_set(id)) AS ids"))
        .filter("size(ids) > 1")
        .selectExpr(
            "inline(flatten(transform(ids, (a, i) -> transform("
            "slice(ids, i + 2, size(ids)), b -> named_struct('id_a', a, 'id_b', b)))))"
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard similarity via a shingle inverted index.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|) over DISTINCT shingles.
    Emits (id_a, id_b, jaccard) for pairs >= threshold, id_a < id_b.
    """
    toks = documents.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("_toks"))
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(TX.word_shingles_from(F.col("_toks"), shingle_n))
        ).alias("s"),
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    common = (
        l.join(r, (F.col("l.s") == F.col("r.s")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash_bits(
    documents: DataFrame,
    n_bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash as an ``n_bits``-char '0'/'1' string per document.

    Relational formulation (identical in DuckDB): token -> md5 hex; bit
    p of the hash = (hex_digit(p/4) >> (p%4)) & 1 where hex_digit is
    decoded with instr('0123456789abcdef', ch)-1 — integer math only.
    Majority over tokens (with multiplicity) sets the output bit; ties
    (sum==0 contributions) resolve to 0 via the > 0 test.
    """
    toks = documents.select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    pos = toks.select(
        id_col,
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("p"),
    )
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.col("h"), (F.col("p") / 4).cast("int") + 1, 1),
        )
        - 1
    )
    bit = F.floor(digit / F.pow(F.lit(2.0), (F.col("p") % 4).cast("double"))).cast("int") % 2
    contrib = F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
    bitsum = pos.select(id_col, "p", contrib.alias("c")).groupBy(id_col, "p").agg(
        F.sum("c").alias("s")
    )
    perbit = bitsum.withColumn("b", F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0")))
    return perbit.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("b")))),
                lambda x: x["b"],
            ),
            "",
        ).alias("simhash")
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the public local-fingerprinting algorithm): hash every
    char ``k``-gram of the normalized text, slide a window of ``w``
    consecutive gram hashes, select the minimum of each window, output
    the DISTINCT selected (position, hash) pairs. Guarantees a shared
    fingerprint for any match of length >= w + k - 1 between documents.

    All per-row (no shuffle until the output): grams and window minima
    are higher-order array ops, O(len·w) per row with w small. Hash =
    first 8 hex chars of md5 (fixed-length lowercase hex compares
    lexicographically == numerically, so the same 'min' runs in the
    DuckDB oracle). Tie rule: smallest (hash, position) — i.e. leftmost
    minimal hash — a documented simplification of the paper's
    rightmost-rule (either satisfies the winnowing guarantee).
    """
    s = TX.normalized_text(F.col(text_col))
    # need at least one full window: len >= k + w - 1
    staged = documents.select(F.col(id_col), s.alias("_s")).filter(
        F.length(F.col("_s")) >= k + w - 1
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.length(F.col("_s")) - k),
        lambda i: F.struct(
            F.substring(F.md5(F.substring(F.col("_s"), i + 1, k)), 1, 8).alias("h"),
            i.cast("int").alias("pos"),
        ),
    )
    g = staged.select(F.col(id_col), grams.alias("_g"))
    mins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_g")) - w),
        lambda j: F.array_min(F.slice(F.col("_g"), j + 1, w)),
    )
    fp = g.select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("f"))
    return fp.select(
        id_col, F.col("f.pos").alias("pos"), F.col("f.h").alias("fp")
    )


def simhash_neardup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 64,
    prefix_blocks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash.

    Scale path: block the signature into ``prefix_blocks`` slices — two
    signatures within ``max_hamming`` (< prefix_blocks) must agree on at
    least one full block (pigeonhole), so the self-join runs per
    (block_idx, block_value) bucket, not all-pairs.
    """
    sig = simhash_bits(documents, n_bits, text_col, id_col)
    w = n_bits // prefix_blocks
    blocks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.substring(F.col("simhash"), i * w + 1, w).alias("bv"),
                    )
                    for i in range(prefix_blocks)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
        .distinct()
    )
    # hamming over the bit strings: count differing chars via zip of
    # split-to-char arrays
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("sa"), ""),
                F.split(F.col("sb"), ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an evaluation set (the public recipe: GPT-3
    Brown et al. 2020 App. C uses 13-gram overlap; PaLM / Llama use the
    same shape). Returns one row per document:
    (doc_id, n_hits, contaminated) where n_hits counts contaminated
    n-gram OCCURRENCES in the doc (not distinct grams).

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval suites are thousands of docs vs billions), so its distinct
    gram digests BROADCAST; the corpus side is explode -> broadcast
    inner join (drops ~every row) -> groupBy doc_id over the surviving
    handful. The only corpus-wide shuffle is the final left join back
    on doc_id — no distinct over exploded grams, no benchmark-side
    shuffle of the corpus.
    """
    bench_grams = (
        benchmark.select(TX.tokens(F.col(bench_text_col)).alias("toks"))
        .select(F.explode(TX.word_shingles_from(F.col("toks"), n)).alias("g"))
        .select(F.md5("g").alias("gd"))
        .distinct()
    )
    doc_grams = documents.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("toks")
    ).select(
        id_col, F.explode(TX.word_shingles_from(F.col("toks"), n)).alias("g")
    ).select(id_col, F.md5("g").alias("gd"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gd")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return documents.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def _edge_fingerprint(edges: DataFrame) -> tuple:
    """Cheap order-insensitive fingerprint of an edge set: row count
    plus two hash sums. Each term is bounded via pmod into [0, p) and
    the SUM is taken in double (round-4 fix: a long sum of |term| <
    10^9 values overflows Long.MAX at ~10^10 edges under ANSI mode;
    the double sum is exact up to 2^53/10^9 ≈ 9·10^6 edges and a
    stable order-insensitive checksum beyond — collisions only make
    the convergence check conservative, never wrong, because the
    caller also compares row counts)."""
    p = F.lit(1000000007)
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("u", "v"), p).cast("double")).alias("h1"),
        F.sum(F.pmod(F.xxhash64("v", "u"), p).cast("double")).alias("h2"),
    ).first()
    return (row["n"], row["h1"], row["h2"])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the published O(log n)-round
    answer for web-scale graphs, vs O(diameter) for naive min-label
    propagation. Returns (node, component) for every node that appears
    in ``pairs``; component = min node id of the component.

    Scale shape per round: one symmetrize (no shuffle — union), one
    groupBy(u) min (map-side combinable), one equi-join back, one
    distinct. Lineage is truncated every round with localCheckpoint —
    without it the plan nests one join per iteration and Catalyst
    analysis goes quadratic. Convergence is detected with a count +
    bounded-hash-sum fingerprint (never collects edges to the driver).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        re_point = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            re_point.unionByName(self_edge)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    fp = _edge_fingerprint(edges)
    for _ in range(max_iter):
        nxt = small_star(large_star(edges)).localCheckpoint()
        nfp = _edge_fingerprint(nxt)
        edges = nxt
        if nfp == fp:
            break
        fp = nfp
    # converged: a forest of stars (child -> component-min root)
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The step a real dedup pipeline needs AFTER pair generation:
    resolve MinHash-LSH candidate pairs into duplicate CLUSTERS and pick
    one surviving representative per cluster (min doc_id — the
    deterministic "keep earliest" rule exact_dedup also uses). Returns
    one row per document: (doc_id, cluster_id, is_kept); singletons are
    their own cluster and kept.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            documents, n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        )
    cc = connected_components(pairs)
    return (
        documents.select(id_col)
        .join(cc, documents[id_col] == cc["node"], "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_kept", F.col("cluster_id") == F.col(id_col))
    )

# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL 2022 — the ExactSubstr pass)
# ---------------------------------------------------------------------------


def substring_dup_spans(
    documents: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated token ranges at k-gram granularity.

    The paper builds a corpus suffix array and removes every substring
    of >= 50 tokens that appears twice; a suffix array is a single
    global sorted structure and does not distribute. Re-expressed
    relationally at k-token granularity: every length-k token window
    is hashed per row inside a JVM HOF (offsets + 8-byte hashes leave
    the row, never the window text), a window seen more than once in
    the corpus is duplicate evidence, the FIRST occurrence in corpus
    order (min (doc_id, start)) keeps its copy, every other
    occurrence's [start, start+k) token range is marked, and marked
    ranges merge per document into maximal spans (overlapping OR
    adjacent ranges fuse, so span coverage is contiguous and
    dup_tokens = hi - lo is exact union size).

    Returns one row per merged span: (doc_id, lo, hi) — token index
    range [lo, hi) duplicated from elsewhere in the corpus.

    Scale shape: one shuffle on the gram hash (map-side-combinable
    count + min), one equi-join back on the same key restricted to the
    duplicated subset (boilerplate grams are hot keys — AQE skew-join
    splits them), one per-document window for the interval merge
    (bounded by document length, never corpus-wide).
    """
    toks = F.split(F.col(text_col), r"\s+")
    base = documents.select(
        F.col(id_col).alias("doc_id"), toks.alias("_t")
    ).select("doc_id", "_t", F.size("_t").alias("n_tokens"))
    grams = base.select(
        "doc_id",
        F.when(
            F.col("n_tokens") >= k,
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens") - k),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("_t"), i + 1, k))),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("_gh"),
    )
    occ = grams.select("doc_id", F.posexplode("_gh").alias("start", "gh"))
    dup_grams = occ.groupBy("gh").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("doc_id", "start")).alias("keep"),
    ).filter(F.col("n_occ") > 1)
    marked = occ.join(dup_grams, "gh").filter(
        ~(
            (F.col("doc_id") == F.col("keep.doc_id"))
            & (F.col("start") == F.col("keep.start"))
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max(F.col("start") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = marked.select(
        "doc_id",
        "start",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end), 1
        )
        .otherwise(0)
        .alias("_new"),
    )
    islands = stepped.withColumn(
        "island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("lo"),
        (F.max("start") + k).alias("hi"),
    ).select("doc_id", "lo", "hi")


def substring_dup_stats(
    documents: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document profile of :func:`substring_dup_spans`: (doc_id,
    n_tokens, dup_spans, dup_tokens) with zero-filled non-duplicated
    documents. All-integer outputs (hash-stable by construction)."""
    spans = substring_dup_spans(documents, k=k, text_col=text_col, id_col=id_col)
    stats = spans.groupBy("doc_id").agg(
        F.count("*").alias("dup_spans"),
        F.sum(F.col("hi") - F.col("lo")).alias("dup_tokens"),
    )
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.split(F.col(text_col), r"\s+")).cast("long").alias("n_tokens"),
        )
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
    )


def substring_dedup(
    documents: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the ExactSubstr removal: tokens inside any duplicated span
    are dropped, the survivors re-join on single spaces. Returns
    (doc_id, text_deduped, n_tokens, dup_tokens). The span list per
    document is tiny (merged intervals), so it rides a broadcast-shaped
    struct array through one JVM ``filter`` HOF — no Python in the path.
    """
    spans = substring_dup_spans(documents, k=k, text_col=text_col, id_col=id_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("lo", "hi"))).alias("_spans")
    )
    toks = F.split(F.col(text_col), r"\s+")
    base = documents.select(
        F.col(id_col).alias("doc_id"), toks.alias("_t")
    )
    joined = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "_t",
        F.coalesce(
            "_spans", F.array().cast("array<struct<lo:int,hi:int>>")
        ).alias("_spans"),
    )
    # token i survives when no span covers it; positions via zip of the
    # token array with its index sequence
    kept = F.filter(
        F.zip_with(
            F.col("_t"),
            F.sequence(F.lit(0), F.size("_t") - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("_spans"), lambda sp: (s["i"] >= sp["lo"]) & (s["i"] < sp["hi"])
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("text_deduped"),
        F.size("_t").cast("long").alias("n_tokens"),
        F.aggregate(
            "_spans", F.lit(0), lambda acc, sp: acc + (sp["hi"] - sp["lo"])
        ).cast("long").alias("dup_tokens"),
    )
