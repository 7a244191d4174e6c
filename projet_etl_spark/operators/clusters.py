"""Dedup clustering: connected components over near-duplicate pairs.

Pairwise dedup (minhash/jaccard) yields edges; the operator users
actually need is the GROUP — every document labeled with its
component so one representative per component survives. Components
are computed with pointer-doubling min-label propagation: each round

  hook:     label(v) <- min(label(v), min over neighbors(label(u)))
  shortcut: label(v) <- label(label(v))

The hook moves the component minimum one edge-hop per round; the
shortcut composes the label function with itself, so the distance a
label has traveled roughly doubles every round — convergence is
O(log diameter) rounds instead of O(diameter), which is the
difference between ~40 and ~2^40 rounds on the long near-dup chains
a 100 TB web corpus produces. Each round is two equi-joins plus a
groupBy; lineage is cut with localCheckpoint every round so deep
iteration doesn't accumulate a mile-high plan (the classic
iterative-algorithm trap). Convergence is detected with a
changed-count aggregate; if the round budget exhausts while labels
are still moving the operator RAISES rather than silently returning
partially-propagated (wrong) labels.

Oracle: a recursive-CTE transitive closure in DuckDB
(plans/extensions.py _CLUSTERS_SQL) — MIN(label) over everything
reachable from each vertex is exactly the fixpoint this iteration
converges to.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.operators.dedup import q_dedup_minhash_lsh
from projet_etl_spark.sources.tables import load_table, read_parquet

# Pointer doubling reaches distance ~2^k after k rounds; 50 rounds
# covers any diameter a physical dataset can express. Exhausting the
# budget therefore indicates a bug, not a big graph — raise.
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame, vertices: DataFrame, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """(vertex, label) from (src, dst) edges: every vertex labeled
    with the smallest vertex id in its connected component.

    Raises RuntimeError if labels are still changing after
    ``max_rounds`` rounds — a silent partial answer is never returned.
    """
    sym = (
        edges.select(F.col("src"), F.col("dst"))
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # materialize once: every round joins against sym, and without
        # the checkpoint each round's jobs re-derive the upstream edge
        # plan (for near-dup graphs, the whole LSH candidate pipeline)
        .localCheckpoint()
    )
    # Only vertices that appear in an edge can ever receive a foreign
    # label; everything else is a singleton that labels itself. At web
    # scale the near-dup graph is a small fraction of the corpus, so
    # iterating over the ACTIVE subgraph makes every per-round join
    # scale with |edges|, not |corpus| — the corpus-sized work is one
    # final left join. (sym is symmetric, so src covers all endpoints.)
    active = sym.select(F.col("src").alias("vertex")).distinct()
    labels = active.select(
        F.col("vertex"), F.col("vertex").alias("label")
    ).localCheckpoint()
    converged = False
    for _ in range(max_rounds):
        # hook: pull the min label across each edge
        neighbor_min = (
            sym.join(labels, sym.dst == labels.vertex)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        hooked = labels.join(
            neighbor_min, labels.vertex == neighbor_min.src, "left"
        ).select(
            "vertex",
            F.col("label").alias("olabel"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        # shortcut: label(v) <- label(label(v)). Labels only ever hold
        # vertex ids, and label(x) <= x, so the self-join composes the
        # label function with itself (pointer doubling).
        pointee = hooked.select(
            F.col("vertex").alias("pvertex"), F.col("label").alias("plabel")
        )
        updated = (
            hooked.join(pointee, hooked.label == pointee.pvertex, "left")
            .select(
                "vertex",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
                F.col("olabel"),
            )
            .select(
                "vertex",
                "label",
                (F.col("label") < F.col("olabel")).alias("changed"),
            )
            .localCheckpoint()  # cut lineage every round
        )
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.select("vertex", "label")
        if n_changed == 0:
            # hook fixpoint: label is equal across every edge, i.e.
            # constant (= the min vertex id) within each component.
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds; "
            "labels were still changing — refusing to return partial components"
        )
    # singletons (no incident edge) label themselves
    return vertices.join(labels, "vertex", "left").select(
        F.col("vertex"),
        F.coalesce(F.col("label"), F.col("vertex")).alias("label"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents labeled with their near-dup cluster (min doc_id in
    the component); singleton docs label themselves.

    This is the FROM-SCRATCH builder (and the oracle-checked registry
    entry); every other consumer of the labels reads the
    fingerprint-staged materialization via :func:`cluster_labels`, so
    the CC subtree is computed once per corpus vintage, not once per
    query (round-9, verdict item 2)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vertex")
    )
    labels = connected_components(pairs, docs)
    return labels.select(
        F.col("vertex").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# fingerprint-staged materialization of the cluster labels, shared by
# every downstream consumer (canonical corpus, mass-by-lang, cluster
# splits, survivorship funnel, clean-corpus/training-export pipelines).
# Round-8 measured ~35-40 s of the 257 s cold total as the SAME
# pointer-doubling CC subtree recomputed six-plus times; a production
# run reads materialized cluster labels (docs/SCALE.md), and this
# gives the engine that exact physics under the shared ensure_staged
# protocol (build is refresh cost, keyed on the source fingerprint —
# the same accounting as the parity views, sources/tables.py).
_LABEL_STAGE_ROOT = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "spark-warehouse",
    "stores",
    "cluster_labels",
)


def _staged_labels(
    spark, sf_dir, kind, source_file, build_df, cols, version_extra=""
):
    """Serve a (id, cluster_id) label frame from its fingerprint-keyed
    parquet materialization; fall back to the lazy builder plan when
    the source isn't fingerprintable or the staged write left no
    readable footers (empty corpus)."""
    import os

    from pyspark.errors import AnalysisException

    from projet_etl_spark.sources.staging import (
        ensure_staged,
        parquet_fingerprint,
    )

    try:
        fp = parquet_fingerprint(sf_dir, source_file)
    except OSError:
        return build_df()

    def _build(root: str) -> None:
        # labels are two longs per corpus row: range-partitioned and
        # sorted by id so downstream doc_id equi-joins and the
        # rep-only filter scan few, sorted files (file-level min/max
        # pruning); 8 files keeps footer planning trivial at test SF
        # while the layout itself is what a warehouse-scale label
        # table would use (partition count scales with the corpus).
        df = (
            build_df()
            .repartitionByRange(8, cols[0])
            .sortWithinPartitions(cols[0])
        )
        df.write.mode("overwrite").parquet(os.path.join(root, "labels"))

    path = ensure_staged(
        os.path.join(_LABEL_STAGE_ROOT, kind),
        sf_dir,
        fp,
        "labels",
        _build,
        version=f"{kind}-labels-v1:rounds={MAX_ROUNDS}{version_extra}",
    )
    try:
        return read_parquet(spark, path).select(*cols)
    except AnalysisException:
        return build_df()


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) near-dup labels, served from the staged
    materialization (built by the oracle-checked q_dedup_clusters
    plan; rebuilt whenever documents.parquet's fingerprint moves)."""
    return _staged_labels(
        spark,
        sf_dir,
        "text",
        "documents.parquet",
        lambda: q_dedup_clusters(spark, sf_dir),
        ("doc_id", "cluster_id"),
    )


def semantic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id) semantic near-dup labels, staged like
    :func:`cluster_labels` but keyed on the embeddings source. The
    version token folds the RP banding constants (r11: the builder's
    pair graph depends on them — the 4->6-bit/band widening must
    invalidate the staged layout like a data change would)."""
    from projet_etl_spark.operators.dedup import (
        COSINE_THRESHOLD,
        RP_BAND_BITS,
        RP_BITS,
    )

    return _staged_labels(
        spark,
        sf_dir,
        "semantic",
        "embeddings.parquet",
        lambda: q_semantic_clusters(spark, sf_dir),
        ("vec_id", "cluster_id"),
        version_extra=(
            f":rp={RP_BITS}x{RP_BAND_BITS}:cos={COSINE_THRESHOLD}"
        ),
    )


def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors labeled with their SEMANTIC near-dup cluster (min
    vec_id in the component): connected components over the
    random-hyperplane-LSH cosine pairs — the embedding-space analogue
    of the text near-dup clustering above (the SemDeDup-style
    grouping step a curation pipeline runs before keeping one
    exemplar per semantic cluster).

    Same O(log diameter) pointer-doubling iteration, same active-
    subgraph bound: per-round cost scales with the LSH pair count,
    and the corpus-sized work is one final left join that labels
    singleton vectors with themselves.
    """
    from projet_etl_spark.operators.dedup import q_dedup_embedding_lsh

    pairs = q_dedup_embedding_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vertex")
    )
    labels = connected_components(pairs, vecs)
    return labels.select(
        F.col("vertex").alias("vec_id"), F.col("label").alias("cluster_id")
    ).orderBy("vec_id")


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one representative per near-dup
    cluster — the min doc_id, which is exactly the cluster label —
    with the number of documents it stands for. This is the view a
    training pipeline actually materializes after clustering
    (keep-one-per-cluster); n_docs = 1 rows are the singletons.
    Reads the staged labels (round-9) — same frame, computed once."""
    labels = cluster_labels(spark, sf_dir)
    return labels.groupBy(F.col("cluster_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def q_semantic_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-semantic-cluster: the exemplar (min vec_id — the
    cluster label itself) with the number of vectors it stands for —
    the vector-space twin of ``q_dedup_canonical``, i.e. the corpus
    view a SemDeDup-style curation run materializes after semantic
    clustering. n_vectors = 1 rows are the singletons.
    Reads the staged labels (round-9) — same frame, computed once."""
    labels = semantic_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("cluster_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("vec_id")
    )


def q_dedup_mass_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate mass per language bucket: how much of each language
    is NON-canonical (a near-duplicate of some lower-id doc) — the
    per-source/per-language dedup report that tells a curation run
    which buckets are copy-heavy before mixing weights are chosen
    (duplicate-heavy buckets overstate their effective token supply).

    Composition: cluster labels are q_dedup_clusters' oracle-checked
    output (read from the staged materialization, round-9); the
    additions are one doc_id equi-join to recover lang and a
    |langs|-group aggregate of exact indicator sums.
    """
    labels = cluster_labels(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        labels.join(langs, "doc_id")
        .select(
            "lang",
            (F.col("doc_id") != F.col("cluster_id")).cast("long").alias("dup"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dup").cast("long").alias("n_dups"),
        )
        .select(
            "lang",
            "n_docs",
            "n_dups",
            F.round(
                F.col("n_dups").cast("double")
                * 100.0
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_pct"),
        )
        .orderBy("lang")
    )


def q_dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate mass per SOURCE, split into within-source and
    cross-source duplication — the report that tells a curation run
    which feeds mirror each other (a source whose duplicates are
    mostly CROSS-source is re-crawling someone else's corpus, so
    dropping it costs little unique text; ``dup_chars`` prices the
    redundant bytes it contributes).

    Composition: staged near-dup labels (q_dedup_clusters' oracle-
    checked output) + one doc_id equi-join for the member's source
    and chars + one cluster_id equi-join for the canonical doc's
    source (every cluster label IS a doc_id, so the second side is
    the same reduced 2-column projection), then a |sources|-group
    aggregate of exact indicator/char sums. Both joins are
    high-entropy-key equi-joins over reduced projections — the same
    scale class as q_dedup_mass_by_lang.
    """
    labels = cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    canon = docs.select(
        F.col("doc_id").alias("cluster_id"), F.col("source").alias("canon_source")
    )
    dup = (F.col("doc_id") != F.col("cluster_id")).cast("long")
    xdup = (
        (F.col("doc_id") != F.col("cluster_id"))
        & (F.col("source") != F.col("canon_source"))
    ).cast("long")
    return (
        labels.join(docs, "doc_id")
        .join(canon, "cluster_id")
        .select(
            "source",
            dup.alias("dup"),
            xdup.alias("xdup"),
            (dup * F.col("n_chars")).alias("dup_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dup").cast("long").alias("n_dups"),
            F.sum("xdup").cast("long").alias("n_cross_dups"),
            F.sum("dup_chars").cast("long").alias("dup_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            "n_cross_dups",
            "dup_chars",
            F.round(
                F.col("n_dups").cast("double")
                * 100.0
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_pct"),
        )
        .orderBy("source")
    )


def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters have k
    members and how much of the corpus they hold — the first chart a
    dedup report shows (a heavy tail of large clusters means boiler-
    plate/mirrored content dominates the duplicate mass; all-
    singletons means the threshold is too strict to matter).

    Scale shape: the staged labels aggregate to |clusters| rows
    (cluster_id groupBy — one shuffle of label-grain rows reduced by
    map-side combine), then to |distinct sizes| rows. All counts are
    exact BIGINTs.
    """
    labels = cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - F.lit(1)) * F.col("n_clusters")).alias(
                "n_dup_docs"
            ),
        )
        .orderBy("cluster_size")
    )


def q_semantic_exemplars_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster at the DEPLOYMENT threshold: connected
    components over the cosine >= 0.8 banded-LSH pairs of the planted
    corpus, reduced to (exemplar vec_id, n_vectors) — the prune table
    a SemDeDup-style curation run actually materializes (pairs ->
    groups -> keep the min-id exemplar), completing the r12
    deployment-regime family: pairs (dedup-embedding-lsh-hi), recall
    (embedding-lsh-recall-hi), and the export (this query).

    Same O(log diameter) pointer-doubling iteration as
    q_semantic_clusters; per-round cost scales with the hi pair count
    (LINEAR in N here — the true pair set is one twin per PLANT_MOD-th
    vector), and the corpus-sized work is the one final left join
    labeling singletons. Computed directly rather than staged: the
    active subgraph is |pairs|-bounded, so the builder IS the cheap
    path (the fixture-threshold family stages because its pair graph
    is dense)."""
    from projet_etl_spark.operators.dedup import (
        planted_embeddings,
        q_dedup_embedding_lsh_hi,
    )

    pairs = q_dedup_embedding_lsh_hi(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    vecs = planted_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("vertex")
    )
    labels = connected_components(pairs, vecs)
    return (
        labels.groupBy(F.col("label").alias("vec_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("vec_id")
    )
