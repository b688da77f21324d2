"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, and n-gram Jaccard. All are pure Column expressions over
JVM built-ins — no Python in the hot path — so they scale to the full
table via ordinary shuffle-on-key aggregation with map-side combine.

The portable 32-bit hash is ``int(md5(seed ':' x)[:8], 16)``: identical in
Spark (conv/substring/md5) and DuckDB (the oracle twin in oracle.py), so
every operator here is hash-verifiable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.columns import _c
from ..plans import cache


def hash32(col, seed: int) -> Column:
    """Deterministic unsigned-32-bit hash of a string column."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), _c(col))), 1, 8), 16, 10
    ).cast("long")


def normalized_words(text) -> Column:
    """Lowercased alpha words (the shared tokenization for all dedup ops)."""
    return F.split(F.trim(F.regexp_replace(F.lower(_c(text)), "[^a-z ]", " ")), " +")


def shingles_from_words(w, n: int = 3) -> Column:
    """Word n-gram shingles from a materialized words-array COLUMN.

    ``w`` must be a column reference (not an inline expression): Catalyst
    does not share subexpressions across lambda boundaries, so an inline
    split/regexp would be re-evaluated per element_at — measured 10x+
    slow-down at sf0.1.
    """
    w = _c(w)
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(-1)))

    def gram(i):
        return F.concat_ws(" ", *[F.element_at(w, i + k + 1) for k in range(n)])

    return F.when(F.size(w) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) rows: words materialized once, then shingled and exploded."""
    return (
        df.select(_c(id_col).alias("id"), normalized_words(text_col).alias("w"))
        .select("id", F.explode(shingles_from_words("w", n)).alias("sh"))
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: (id, content_md5, group_size, canonical_id).

    canonical = min id per hash; group_size > 1 marks duplicates. One
    shuffle on the hash; map-side combine applies.
    """
    h = F.md5(F.lower(_c(text_col))).alias("content_md5")
    hashed = df.select(_c(id_col).alias("id"), h)
    groups = hashed.groupBy("content_md5").agg(
        F.count("*").alias("group_size"), F.min("id").alias("canonical_id")
    )
    return hashed.join(groups, "content_md5").select(
        "id", "content_md5", "group_size", "canonical_id"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8
) -> DataFrame:
    """(id, mh_0..mh_{n-1}): per-doc min over shingles of seeded hash32.

    Explode-then-groupBy(id) — a single shuffle keyed by doc id, partial
    min() combine on the map side.
    """
    ex = exploded_shingles(df, id_col, text_col)
    aggs = [F.min(hash32("sh", s)).alias(f"mh_{s}") for s in range(n_hashes)]
    return ex.groupBy("id").agg(*aggs)


def band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """(id, band) rows: each doc exploded to its MinHash-LSH band keys."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes)
    n_bands = n_hashes // band_rows
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        *[F.col(f"mh_{b * band_rows + r}") for r in range(band_rows)],
                    ).alias("band")
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """MinHash-LSH candidate pairs (a < b): docs sharing any band.

    Bands become equi-join keys — the scalable path: the self-join is a
    shuffle on band values, never a cross join.
    """
    # Not held: both self-join sides read the skinny (id, band) table, yet
    # a cold A/B (sf0.01 and sf0.1 lsh_pairs gate) ran no slower without
    # the cache.
    bands = band_table(df, id_col, text_col, n_hashes, band_rows)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(right, (F.col("l.band") == F.col("r.band")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )


def lsh_pairs_with_estimates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """(a, b, sig_matches, est_pct): LSH candidate pairs annotated with the
    MinHash Jaccard ESTIMATE — matching signature components out of
    n_hashes (E[matches/n] = Jaccard). The standard filter-before-verify
    step: exact shingle-set verification (ngram_jaccard_pairs) only runs
    on pairs whose cheap estimate clears the bar.

    One extra plan fragment over lsh_candidate_pairs: the signature table
    joins back onto the pair list twice, keyed by doc id — pair-list
    cardinality, never corpus-pairwise. est_pct is exact integer
    (100 * matches DIV n_hashes -> floor), oracle-mirrorable.
    """
    sig = minhash_signatures(df, id_col, text_col, n_hashes)
    pairs = lsh_candidate_pairs(df, id_col, text_col, n_hashes, band_rows)
    sa = sig.select(
        F.col("id").alias("a"), *[F.col(f"mh_{s}").alias(f"a{s}") for s in range(n_hashes)]
    )
    sb = sig.select(
        F.col("id").alias("b"), *[F.col(f"mh_{s}").alias(f"b{s}") for s in range(n_hashes)]
    )
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(n_hashes)
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            matches.cast("long").alias("sig_matches"),
            (matches * 100 / n_hashes).cast("long").alias("est_pct"),
        )
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 32-bit SimHash over word hashes.

    Per-bit majority as 32 conditional aggregations in ONE groupBy — no
    32x row blowup, single shuffle, map-side partial sums.
    """
    ex = df.select(
        _c(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("w")
    ).where(F.col("w") != "")
    h = hash32("w", 0)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(32)
    ]
    sums = ex.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(32):
        term = F.when(F.col(f"b{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("id", sim.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 80,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold_pct/100.

    Inverted-index self-join on distinct shingles; shingles appearing in
    more than ``max_doc_freq`` docs are dropped before the join (standard
    stop-shingle pruning — bounds the quadratic fanout on hot shingles;
    the DuckDB oracle applies the identical rule). The threshold compare is
    exact integer math: 100*|A∩B| >= pct*(|A|+|B|-|A∩B|).
    """
    ex = exploded_shingles(df, id_col, text_col).distinct()
    freq = ex.groupBy("sh").agg(F.count("*").alias("df"))
    ex = ex.join(F.broadcast(freq.where(F.col("df") <= max_doc_freq)), "sh")
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    pairs = (
        ex.alias("l")
        .join(ex.alias("r"), (F.col("l.sh") == F.col("r.sh")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .where(
            F.lit(100) * F.col("common")
            >= F.lit(threshold_pct) * (F.col("na") + F.col("nb") - F.col("common"))
        )
        .select("a", "b", "common", (F.col("na") + F.col("nb") - F.col("common")).alias("union_sz"))
    )


def repeated_window_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
) -> DataFrame:
    """(id, tok_start, tok_end, n_windows): maximal token spans covered
    by ``w``-token windows whose exact content occurs in at least two
    distinct documents — the within-corpus repeated-passage finder
    ("exact substring dedup" a la Lee et al., Deduplicating Training
    Data Makes Language Models Better, on word tokens). Downstream
    filters cut the flagged span, not the whole document.

    100-TB shape: two shuffles, no pairwise blowup. (1) window hashes
    groupBy with a partial-aggregated distinct-doc count — cardinality
    is distinct windows, never (doc, doc) pairs (contrast suffix-array
    implementations that materialize overlap pairs); (2) the corpus
    windows semi-join the duplicated-hash set on an 8-byte key, then
    island merging (adjacent/overlapping windows coalesce, gap > w
    splits) runs inside an (id)-partitioned window — the document is the
    natural partition unit, no cross-doc state, one sort per doc.
    """
    words = df.select(_c(id_col).alias("id"), normalized_words(text_col).alias("w"))
    # Not held: the duplicated-hash aggregate and the flagged-window join
    # both read the window table, yet a cold A/B (sf0.01 and sf0.1
    # dedup_exact gate) ran no slower without the cache.
    wins = words.select(
        "id", F.posexplode(shingles_from_words("w", w)).alias("pos", "sh")
    ).select("id", "pos", hash32("sh", 77).alias("h"))
    # "at least 2 distinct docs" == "min(id) != max(id)" — min/max are
    # single-phase aggregations with map-side combine, whereas
    # count_distinct plans as a two-phase Expand over every window row
    # (guide §2.3 aggregate-before-shuffle). Identical dup-hash set.
    dup = (
        wins.groupBy("h")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("h")
    )
    byid = Window.partitionBy("id").orderBy("pos")
    flagged = (
        wins.join(dup, "h")
        .select("id", "pos")
        .withColumn(
            "_gap",
            F.when(F.col("pos") - F.lag("pos").over(byid) > w, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn("_island", F.sum("_gap").over(byid))
    )
    return (
        flagged.groupBy("id", "_island")
        .agg(
            F.min("pos").alias("tok_start"),
            (F.max("pos") + w).alias("tok_end"),
            F.count("*").alias("n_windows"),
        )
        .select("id", "tok_start", "tok_end", "n_windows")
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: distinct word-n-gram collisions between
    each training doc and each benchmark (eval-set) doc.

    100-TB shape: the benchmark side is small by construction, so its
    DISTINCT shingle set broadcasts and the training corpus NEVER
    shuffles for the join — shingling and the hash-join probe are
    map-side; the only shuffle is the (doc, bench) collision count, whose
    cardinality is bounded by actual contamination, not corpus size.
    Per-shingle fanout is bounded by the number of benchmark docs
    containing it (<= |benchmark|). Distinctness of collisions is
    enforced in the aggregate (count_distinct), not by a corpus-wide
    pre-distinct, to keep the big side shuffle-free.

    Returns (doc_id, bench_id, collisions, bench_size) where bench_size
    is the benchmark doc's distinct-shingle count (so callers can compute
    a containment fraction collisions/bench_size)."""
    train = exploded_shingles(docs, id_col, text_col, shingle_n)
    bench = exploded_shingles(
        benchmark, bench_id_col, bench_text_col, shingle_n
    ).distinct()
    sizes = bench.groupBy("id").agg(F.count("*").alias("bench_size"))
    bench = bench.join(sizes, "id").select(
        F.col("id").alias("bid"), "sh", "bench_size"
    )
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy(
            F.col("id").alias("doc_id"),
            F.col("bid").alias("bench_id"),
            F.col("bench_size").alias("bench_size"),
        )
        .agg(F.count_distinct(F.col("sh")).alias("collisions"))
        .select("doc_id", "bench_id", "collisions", "bench_size")
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus (the steady-state
    ingestion shape: the corpus is petabytes, the day's batch is not).

    One row per batch doc: (id, verdict, match_id) with verdict 'exact'
    (corpus holds the identical content hash), 'near' (shares at least one
    MinHash-LSH band with a corpus doc), or 'new'; match_id is the smallest
    matching corpus id (exact tier wins), -1 for new docs.

    Scale shape: the corpus never self-joins and never shuffles for the
    probes — the batch's hash table and band table are broadcast onto the
    corpus scans, and the only shuffles are the min-match aggregations
    keyed by BATCH id (map-side combine, output bounded by the batch).
    """
    bh = batch.select(
        _c(id_col).alias("id"), F.md5(F.lower(_c(text_col))).alias("h")
    )
    ch = corpus.select(
        _c(id_col).alias("cid"), F.md5(F.lower(_c(text_col))).alias("h")
    )
    exact = (
        ch.join(F.broadcast(bh), "h")
        .groupBy("id")
        .agg(F.min("cid").alias("exact_id"))
    )
    cb = band_table(corpus, id_col, text_col).withColumnRenamed("id", "cid")
    bb = band_table(batch, id_col, text_col)
    near = (
        cb.join(F.broadcast(bb), "band")
        .groupBy("id")
        .agg(F.min("cid").alias("near_id"))
    )
    base = batch.select(_c(id_col).alias("id"))
    out = base.join(exact, "id", "left").join(near, "id", "left")
    verdict = (
        F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
        .when(F.col("near_id").isNotNull(), F.lit("near"))
        .otherwise(F.lit("new"))
    )
    match_id = F.coalesce(
        F.col("exact_id"), F.col("near_id"), F.lit(-1)
    ).cast("long")
    return out.select(
        "id", verdict.alias("verdict"), match_id.alias("match_id")
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering: connected components over candidate pairs.
# ---------------------------------------------------------------------------

#: deduped edge count up to which connected_components runs one driver-side
#: union-find instead of the distributed star contraction
SMALL_GRAPH_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min node id
    reachable — the canonical duplicate-cluster representative.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round is
    two groupBy-min shuffles over the current edge set and converges in
    O(log n) rounds regardless of component diameter — the 100-TB shape.
    A plain label-propagation loop needs O(diameter) rounds (a 1M-doc
    duplicate chain would need 1M shuffles); star contraction collapses
    giant components without ever serializing one through a single task.
    No driver-side state: the edge set stays distributed, monotonically
    contracting toward stars; ``cache.checkpoint`` truncates the iterative
    lineage so the Catalyst plan doesn't double per round, and the caller's
    ``cache.scope()`` releases every round's blocks.

    Convergence is detected exactly (count + exceptAll emptiness), not by
    hash. Raises after 25 rounds, which cover n ~ 2^25 splits.

    Auto small-graph short circuit (same pattern as booleanops'
    SMALL_SHAPES_THRESHOLD guard): the deduped edge count is already
    computed to seed convergence detection, so when it is at most
    SMALL_GRAPH_EDGES the component assignment runs as one driver-side
    union-find over the collected edge list — identical output, ~6 fewer
    Spark jobs per star round. The collect is bounded by the threshold,
    never the corpus: above it the fully distributed star contraction
    runs.
    """
    e = cache.checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    # (A limit-guarded single collect was tried here instead of the
    # checkpoint + count: CollectLimit's incremental partition scaling
    # re-runs final-stage partitions across several jobs and measured
    # ~0.6 s SLOWER than one full checkpoint pass at sf0.1.)
    e_cnt = e.count()
    if e_cnt <= SMALL_GRAPH_EDGES:
        probe = e.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for row in probe:
            u, v = row["u"], row["v"]
            nodes.add(u)
            nodes.add(v)
            ru, rv = find(u), find(v)
            if ru != rv:  # min id becomes the root = the component label
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        # every endpoint gets a row, roots as (r, r) — same contract as
        # the distributed path's both(e) aggregation
        assign = sorted((x, find(x)) for x in nodes)
        utype = e.schema["u"].dataType.simpleString()
        from ..localdf import local_df

        return local_df(
            e.sparkSession, assign, f"id {utype}, component {utype}"
        )

    def both(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def large_star(df: DataFrame) -> DataFrame:
        nb = both(df)
        mins = nb.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            nb.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient each edge toward its larger endpoint: rows (u, v<=u)
        nb = both(df).where(F.col("v") < F.col("u"))
        mins = nb.groupBy("u").agg(F.min("v").alias("m"))
        joined = nb.join(mins, "u")
        return (
            joined.select(F.col("v").alias("n"), F.col("m"))
            .union(joined.select(F.col("u").alias("n"), F.col("m")).distinct())
            .where(F.col("n") != F.col("m"))
            .select(
                F.greatest("n", "m").alias("u"), F.least("n", "m").alias("v")
            )
            .distinct()
        )

    for _ in range(25):
        nxt = cache.checkpoint(small_star(large_star(e)))
        nxt_cnt = nxt.count()
        # counts equal + multiset difference empty == exact convergence;
        # each round's count is carried forward, never recomputed
        if nxt_cnt == e_cnt and nxt.exceptAll(e).isEmpty():
            e = nxt
            break
        e, e_cnt = nxt, nxt_cnt
    else:
        raise RuntimeError("connected_components: no convergence in 25 rounds")

    # converged edges are stars (node > root) -> assignment = min neighbor
    return (
        both(e)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("id"), F.least("mn", F.col("u")).alias("component"))
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """(id, component) for EVERY document: MinHash-LSH candidate pairs
    contracted to duplicate clusters; docs with no candidate partner are
    their own singleton component. The keep-one-per-component filter is
    ``WHERE id = component``."""
    pairs = lsh_candidate_pairs(df, id_col, text_col, n_hashes, band_rows)
    comp = connected_components(pairs, "a", "b")
    return (
        df.select(_c(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def keep_best_per_cluster(
    clusters: DataFrame, quality: DataFrame, id_col: str = "id"
) -> DataFrame:
    """(id, component, is_kept): mark the single best document of each
    duplicate cluster by (quality desc, id asc) — production dedup keeps
    the highest-quality representative, not the smallest id.

    ``clusters`` is (id, component) (e.g. near_dup_clusters output);
    ``quality`` is (id, quality). One component-keyed window over the
    cluster table (cluster rows, never raw text), plus the id equi-join
    to attach scores — both AQE-broadcastable when one side is small.
    """
    scored = clusters.join(
        quality.select(_c(id_col).alias("id"), F.col("quality")), "id"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("id")
    )
    return (
        scored.withColumn("is_kept", F.row_number().over(w) == 1)
        .select("id", "component", "is_kept")
    )
