"""Stage C — entity canonicalization operators (SURVEY.md §2.3 J1,
§2.10 X2).

The reference embeds every node text with a remote model and does an
approximate cosine KNN self-join (usearch HNSW) keeping the top-30
most-similar pairs (reference merge.py:35-105, K=40/top_n=30 at
merge.py:115). Our engine replaces that with a fully in-cluster,
deterministic, sub-quadratic pipeline per the north rule:

1. **node text** — serialize each candidate node exactly like the
   reference (db.py:81-95 semantics, functions/text.node_text).
2. **token features** — name + alias tokens (``_feature_tokens``).
3. **MinHash-LSH blocking** — banded minhash over the token set;
   candidate pair ⇔ two nodes share ≥1 band bucket. This is a
   join on (band, bucket) — shuffle on the bucket key only,
   never O(n²).
4. **one-pass verify** — ``(type, tokens)`` attach to each side of
   the deduplicated candidate pairs once; cross-type pairs drop, then
   exact set Jaccard (sizes only, ``dedup._jaccard``) filters before
   any TF-IDF work; the survivors' TF-IDF cosine comes from one
   explode of each pair's token union joined to the IDF table
   (weight = IDF, so dot = Σ idf² over A∩B) — the C5 analog of the
   reference's ``similarity = 1 - distance`` (merge.py:102).
5. threshold → similarity edges, unioned with the exact
   alias-identity edges, for connected components (G5).

A threshold replaces the reference's global top-30 with a scale-free
criterion (SURVEY.md §2.6 O2), and merging requires BOTH signals: set
Jaccard (surface overlap) AND TF-IDF cosine (informativeness-weighted
overlap). On the fixture corpus true alias clusters score 1.0/1.0 and
the worst spurious candidate 0.6/0.48, so the AND separates them with
margin on both axes.

This module holds the operators; the stage itself — sign, bucket join,
verify, components, over no prior state or folded into the persisted
tables — is the one ``plans.pipeline._canonicalize`` sequence, shared
by the from-scratch build, the incremental run and compaction.

Skew/scale notes: bucket hot spots (a band value shared by k nodes)
produce k² pair candidates — capped by ``max_bucket_size`` exactly as
production LSH dedup pipelines drop degenerate buckets (stop-word-only
nodes); AQE skew-join handles the rest. Every step is node-scale, so
stage C stays O(distinct nodes), not O(turns), as the corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import lsh_bands, minhash_signature, stable_node_id
from ..functions.text import node_text, snake_case, tokenize
from .dedup import _jaccard


def candidate_nodes(nodes_raw: DataFrame) -> DataFrame:
    """Distinct (type, name) candidate nodes with stable ids, the
    reference's node identity for upsert (db.py:42 MERGE on
    (label, name)); props last-writer-wins by conv_id (A2)."""
    return (
        nodes_raw.groupBy("type", "name")
        .agg(
            F.max_by(
                F.struct("aliases", "description", "concept_category",
                         "intervention_lifecycle", "intervention_maturity"),
                F.col("conv_id"),
            ).alias("p"),
            F.count("*").alias("n_occurrences"),
            F.collect_set("conv_id").alias("conv_ids"),
        )
        .select(
            stable_node_id("type", "name").alias("node_id"),
            "type", "name",
            F.col("p.aliases").alias("aliases"),
            F.col("p.description").alias("description"),
            F.col("p.concept_category").alias("concept_category"),
            F.col("p.intervention_lifecycle").alias("intervention_lifecycle"),
            F.col("p.intervention_maturity").alias("intervention_maturity"),
            "n_occurrences", "conv_ids",
        )
    )


def with_node_text(nodes: DataFrame) -> DataFrame:
    return nodes.withColumn(
        "text",
        node_text(
            F.col("name"), F.col("type"), F.col("aliases"), F.col("description"),
            F.col("concept_category"),
            F.col("intervention_lifecycle"), F.col("intervention_maturity"),
        ),
    ).filter(F.length("text") > 0)  # F6: empty-text nodes dropped (db.py:96-97)


def _feature_tokens(nodes: DataFrame) -> DataFrame:
    """Match-relevant token set: name + aliases (NOT the free-text
    description — descriptions share boilerplate that would glue
    unrelated nodes together; the reference's embedding text also
    leans on name/aliases as the discriminative prefix)."""
    name_tokens = tokenize(F.col("name"))
    alias_tokens = F.flatten(
        F.transform(
            F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
            lambda a: tokenize(a),
        )
    )
    return nodes.withColumn(
        "tokens", F.array_distinct(F.concat(name_tokens, alias_tokens))
    ).filter(F.size("tokens") > 0)


def node_bucket_rows(
    nodes: DataFrame, num_hashes: int = 32, bands: int = 16
) -> DataFrame:
    """(node_id, band, bucket) LSH bucket rows — the persistable unit
    of incremental canonicalization: a node's rows change only when
    its match-relevant tokens (name/aliases) change, so an incremental
    run re-signs only new/changed nodes and merge-upserts this table
    on (node_id, band)."""
    rows = num_hashes // bands
    feats = _feature_tokens(nodes).select("node_id", "tokens")
    sig = feats.withColumn("sig", minhash_signature(F.col("tokens"), num_hashes))
    return sig.select(
        "node_id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("bb")
    ).select("node_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def bucket_join_pairs(
    left_buckets: DataFrame,
    all_buckets: DataFrame,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate (a_id, b_id) pairs: left rows joined against the full
    bucket table on (band, bucket), canonical a<b ordering, hot buckets
    dropped (skew control), per-pair dedup (A4). Stage C passes the
    signed nodes' rows on the left and the whole node_buckets table on
    the right: from scratch those are the same rows (a self-join); an
    incremental run signs only new/changed nodes, so candidates cost
    O(delta × matched buckets), not O(all nodes)."""
    sizes = all_buckets.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    hot = F.broadcast(sizes.filter(F.col("bsz") > max_bucket_size).select("band", "bucket"))
    lb = left_buckets.join(hot, ["band", "bucket"], "left_anti")
    rb = all_buckets.join(hot, ["band", "bucket"], "left_anti")
    return (
        lb.select("band", "bucket", F.col("node_id").alias("l_id"))
        .join(rb.select("band", "bucket", F.col("node_id").alias("r_id")), ["band", "bucket"])
        .filter(F.col("l_id") != F.col("r_id"))  # F7
        .select(
            F.least("l_id", "r_id").alias("a_id"),      # O4 canonical form
            F.greatest("l_id", "r_id").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])               # A4
    )


def verify_pairs(
    cand: DataFrame,
    nodes: DataFrame,
    jaccard_threshold: float,
    cosine_threshold: float,
) -> DataFrame:
    """Exact Jaccard + TF-IDF cosine verification of candidate
    (a_id, b_id) pairs → (a_id, b_id, similarity) merge edges, in one
    pass over the pairs:

    1. ``(type, tokens)`` attach to each side ONCE, after candidate
       dedup (narrow-join pattern);
    2. cross-type pairs drop first;
    3. exact Jaccard from set sizes (``dedup._jaccard``) filters BEFORE
       any TF-IDF work — the merge criterion is an AND, so the result
       is the same and cosine runs only on the survivors;
    4. a token's TF-IDF weight is its IDF (token sets are distinct), so
       each survivor's dot product and both norms come from ONE
       explode of its token union joined to the IDF table:
       dot = Σ idf² over A∩B, |A|² = Σ idf² over A.

    IDF comes from the supplied candidate-node set; its document count
    is a one-row aggregate joined into the plan, so building the plan
    runs no Spark job."""
    feats = _feature_tokens(nodes).select("node_id", "type", "tokens")

    def side(s: str) -> DataFrame:
        return feats.select(
            F.col("node_id").alias(f"{s}_id"),
            F.col("type").alias(f"{s}_type"),
            F.col("tokens").alias(f"{s}_tokens"),
        )

    pairs = (
        cand.select("a_id", "b_id").join(side("a"), "a_id").join(side("b"), "b_id")
        .filter(F.col("a_type") == F.col("b_type"))
        .withColumn("jaccard", _jaccard("a_tokens", "b_tokens"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    terms = pairs.select(
        "a_id", "b_id", "jaccard", "a_tokens", "b_tokens",
        F.explode(F.array_union("a_tokens", "b_tokens")).alias("token"),
    ).join(F.broadcast(_idf(feats, nodes)), "token")
    sq = F.col("idf") * F.col("idf")
    in_a = F.array_contains("a_tokens", F.col("token"))
    in_b = F.array_contains("b_tokens", F.col("token"))
    zero = F.lit(0.0)
    scored = terms.groupBy("a_id", "b_id", "jaccard").agg(
        F.sum(F.when(in_a & in_b, sq).otherwise(zero)).alias("dot"),
        F.sum(F.when(in_a, sq).otherwise(zero)).alias("a_sq"),
        F.sum(F.when(in_b, sq).otherwise(zero)).alias("b_sq"),
    ).withColumn(
        "cosine", F.col("dot") / (F.sqrt("a_sq") * F.sqrt("b_sq"))
    )
    return scored.filter(F.col("cosine") >= cosine_threshold).select(
        "a_id", "b_id",
        F.greatest(F.col("jaccard"), F.col("cosine")).alias("similarity"),
    )


def _idf(feats: DataFrame, nodes: DataFrame) -> DataFrame:
    """(token, idf) over the candidate-node set: idf = ln((N+1)/(df+1))
    + 1 with N = |nodes| and df = the number of nodes carrying the
    token.  N is a one-row aggregate cross-joined in (no driver-side
    count)."""
    n_docs = nodes.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        feats.select(F.explode("tokens").alias("token"))
        .groupBy("token").agg(F.count("*").alias("df"))
        .crossJoin(n_docs)
        .select(
            "token",
            (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
        )
    )


def merge_candidate_nodes(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge of candidate-node aggregates (node-scale — never
    re-aggregates the full nodes_raw history): counts add, conv_id
    evidence unions, props stay last-writer-wins because the winner is
    the row whose max conv_id is greatest — identical to aggregating
    old ∪ delta raw rows in one pass."""
    u = old.select(delta.columns).unionByName(delta)
    return (
        u.groupBy("node_id", "type", "name")
        .agg(
            F.max_by(
                F.struct("aliases", "description", "concept_category",
                         "intervention_lifecycle", "intervention_maturity"),
                F.array_max("conv_ids"),
            ).alias("p"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
            F.array_distinct(F.flatten(F.collect_list("conv_ids"))).alias("conv_ids"),
        )
        .select(
            "node_id", "type", "name",
            F.col("p.aliases").alias("aliases"),
            F.col("p.description").alias("description"),
            F.col("p.concept_category").alias("concept_category"),
            F.col("p.intervention_lifecycle").alias("intervention_lifecycle"),
            F.col("p.intervention_maturity").alias("intervention_maturity"),
            "n_occurrences", "conv_ids",
        )
    )


def alias_identity_edges(nodes: DataFrame) -> DataFrame:
    """Definitive merge edges: node A's C9-normalized name equals one
    of node B's normalized aliases (or names collide post-norm). The
    reference prompt states canonical_name/aliases "will be used to
    merge graphs together" (EXTRACTION_PROMPT_TEMPLATE normalization
    rule); this is that contract made exact.

    Scale: built as STAR edges — each node links to the min node_id
    sharing its key — O(n) edges per key instead of O(k²), which is
    all connected components needs.
    """
    from .materialize import _name_index  # same normalization, one source

    keys = nodes.select(
        "node_id",
        F.explode(
            F.array_union(
                F.array(snake_case(F.col("name"))),
                F.transform(
                    F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
                    lambda a: snake_case(a),
                ),
            )
        ).alias("key"),
    ).filter(F.length("key") > 0).distinct()
    anchors = keys.groupBy("key").agg(F.min("node_id").alias("anchor"))
    return (
        keys.join(anchors, "key")
        .filter(F.col("node_id") != F.col("anchor"))
        .select(
            F.least("anchor", "node_id").alias("a_id"),
            F.greatest("anchor", "node_id").alias("b_id"),
            F.lit(1.0).alias("similarity"),
        )
        .distinct()
    )
