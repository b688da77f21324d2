"""End-to-end training-corpus assembly: the engine's LLM-data operators
composed into one declarative pipeline.

    raw documents
      -> quality filter          (textstats.quality_filter, reason codes)
      -> exact dedup             (dedup.exact_duplicates, canonical survives)
      -> near-dup clustering     (dedup.near_dup_clusters, star contraction)
      -> keep-best-per-cluster   (dedup.keep_best_per_cluster, quality rule)
      -> training-mix sample     (sampling.mixture_sample, largest remainder)
      -> context-window packing  (packing.with_chunk_assignments)

Every stage is an already-oracle-gated operator; this module is the
composition, returning both the final manifest and a per-stage funnel
count table (what a dataset card reports). All joins are id-keyed; the
only driver state is the mixture's per-stratum count table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup, packing, sampling, textstats

#: context-window size, in tokens, that the manifest's documents are packed into
BUDGET = 512


def assemble_corpus(
    spark: SparkSession,
    docs: DataFrame,
    weights: dict[str, float],
    total: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Returns (manifest, funnel).

    manifest: one row per selected document — (doc_id, source, quality,
    component, re_tokens, tok_start, chunk_first, chunk_last).
    funnel: (stage, n) counts after each stage, in order.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(stratum_col).alias("source"),
        F.col(text_col).alias("text"),
    )
    n_raw = base.count()

    kept_q = (
        textstats.quality_filter(base, "id", "text")
        .where("keep")
        .select("id")
        .join(base, "id")
    )
    n_quality = kept_q.count()

    exact = dedup.exact_duplicates(kept_q, "id", "text").where(
        F.col("id") == F.col("canonical_id")
    ).select("id").join(kept_q, "id")
    n_exact = exact.count()

    clusters = dedup.near_dup_clusters(exact, "id", "text")
    qual = exact.select("id", textstats.quality_score("text").alias("quality"))
    best = dedup.keep_best_per_cluster(clusters, qual).where("is_kept")
    survivors = best.select("id", "component").join(exact, "id")
    n_near = survivors.count()

    sampled = sampling.mixture_sample(
        survivors, weights, total, "source", "id", seed=11
    )
    n_sampled = sampled.count()

    stats = sampled.select(
        "id",
        "source",
        textstats.quality_score("text").alias("quality"),
        textstats.regex_token_count("text").alias("re_tokens"),
    )
    packed = packing.with_chunk_assignments(
        stats, BUDGET, id_col="id", tokens_col="re_tokens"
    )
    manifest = packed.join(
        sampled.select("id", "component"), "id"
    ).select(
        F.col("id").alias("doc_id"),
        "source",
        "quality",
        "component",
        "re_tokens",
        "tok_start",
        "chunk_first",
        "chunk_last",
    )

    funnel = spark.createDataFrame(
        [
            ("raw", n_raw),
            ("quality_kept", n_quality),
            ("exact_canonical", n_exact),
            ("near_dup_kept", n_near),
            ("mix_sampled", n_sampled),
        ],
        "stage string, n long",
    )
    return manifest, funnel
