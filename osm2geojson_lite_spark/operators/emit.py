"""Emit stage: feature rows -> per-document GeoJSON (SURVEY.md §2.1 S7, §2.5 O1-O4).

FeatureCollection assembly is pure JVM-side column work: sorted struct
collection replays the reference's Map-insertion output order
(``index.ts:214``) and string concatenation builds the canonical JSON — no
Python in the hot path. The first-relation bare-geometry mode (P4,
``index.ts:220-222``) is a ``min`` aggregate riding the same shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def emit_geojson(
    doc_ids: DataFrame,
    node_feats: DataFrame,
    way_feats: DataFrame,
    rel_feats: DataFrame,
    complete_feature: bool,
) -> DataFrame:
    """Fused O1-O4 emit: one groupBy produces BOTH the ordered
    FeatureCollection and (default mode) the first-relation bare geometry
    (P4, ``index.ts:220-222``).

    The naive plan (separate window over relation features + a
    collections⟕bare join + a doc_ids backfill join) costs three extra
    exchanges AND re-executes the whole relation branch (closure + member
    joins + kernel) a second time.  Here:

    - the relation branch is consumed exactly once through the union;
    - the bare geometry is a ``min(when(is_rel, ...))`` aggregate riding
      the same shuffle as the collection — struct ordering on
      ``(out_pos, sub_seq)`` replays the reference's
      first-qualifying-relation, first-feature choice;
    - feature-less documents are covered by a per-doc SENTINEL row unioned
      into the same aggregation (``collect_list`` skips its NULL struct),
      so there is no backfill join — the whole emit is ONE shuffle.
    """
    sentinel = doc_ids.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(None).cast("long").alias("out_pos"),
        F.lit(None).cast("int").alias("sub_seq"),
        F.lit(None).cast("string").alias("feature_id"),
        F.lit(None).cast("string").alias("geom_type"),
        F.lit(None).cast("string").alias("feature_json"),
        F.lit(None).cast("string").alias("geometry_json"),
        F.lit(False).alias("is_rel"),
    )
    flagged = (
        node_feats.withColumn("is_rel", F.lit(False))
        .unionByName(way_feats.withColumn("is_rel", F.lit(False)))
        .unionByName(rel_feats.withColumn("is_rel", F.lit(True)))
        .unionByName(sentinel)
    )
    feature_struct = F.when(
        F.col("feature_json").isNotNull(),
        F.struct("out_pos", "sub_seq", "feature_json"),
    )  # NULL for sentinel rows -> skipped by collect_list
    aggs = [
        F.array_sort(F.collect_list(feature_struct)).alias("ordered")
    ]
    if not complete_feature:
        aggs.append(
            F.min(
                F.when(
                    F.col("is_rel"),
                    F.struct("out_pos", "sub_seq", "geometry_json"),
                )
            ).alias("first_rel")
        )
    per_doc = flagged.groupBy("doc_id").agg(*aggs)
    collection = F.concat(
        F.lit('{"type":"FeatureCollection","features":['),
        F.array_join(F.transform("ordered", lambda s: s["feature_json"]), ","),
        F.lit("]}"),
    )
    if complete_feature:
        geojson = collection
    else:
        geojson = F.coalesce(F.col("first_rel")["geometry_json"], collection)
    return per_doc.select("doc_id", geojson.alias("geojson"))

