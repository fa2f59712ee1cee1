"""Generate the committed golden table for the `osm_convert_corpus` oracle.

Runs the full conversion over the seed-42 synthetic corpus (the exact input
`q_osm_convert_corpus` uses at the driver's correctness scale, n=100) and
writes `(doc_id, n_features, geojson_md5)` to
tests/golden/convert_corpus_100.json.  Generated once, reviewed, committed;
`oracle_sql()['osm_convert_corpus']` serves it back as a VALUES table so the
driver's DuckDB comparison pins the flagship conversion byte-for-byte
(md5 of the canonical GeoJSON string).

Regenerate ONLY after an intentional, fixture-verified output change:
    python tools/gen_convert_golden.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from osm2geojson_lite_spark import Options, convert  # noqa: E402
from osm2geojson_lite_spark.session import get_spark  # noqa: E402
from osm2geojson_lite_spark.sources.synth import generate_documents  # noqa: E402

OUT = os.path.join(ROOT, "tests", "golden", "convert_corpus_100.json")


def main() -> None:
    spark = get_spark("gen-convert-golden", cpus=8, shuffle_partitions=8)
    docs = generate_documents(spark, 100)
    out = convert(docs, Options(complete_feature=True))
    t = "type string, features array<struct<geometry:struct<type:string>>>"
    rows = (
        out.select(
            "doc_id",
            F.size(F.from_json("geojson", t)["features"]).cast("int").alias("n_features"),
            F.md5("geojson").alias("geojson_md5"),
        )
        .orderBy("doc_id")
        .collect()
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(
            [[r["doc_id"], r["n_features"], r["geojson_md5"]] for r in rows],
            f, indent=0,
        )
    print(f"wrote {OUT} ({len(rows)} rows)")
    # quick review aid: feature-count distribution should be plausible
    from collections import Counter

    print("n_features distribution:", sorted(Counter(r["n_features"] for r in rows).items()))


if __name__ == "__main__":
    main()
