"""PySpark-native OSM->GeoJSON engine (capabilities of tibetty/osm2geojson-lite).

See SURVEY.md for the blueprint; public surface:

    from osm2geojson_lite_spark import convert, Options, get_spark
"""

from pyspark import TaskContext

from .operators.convert import (
    CacheScope,
    MegaDocumentError,
    Options,
    build_features,
    convert,
)
from .operators.events import subscribe, xml_events
from .session import get_spark, skip_unchanged_zip_rereads

if TaskContext.get() is not None:
    # imported by a Python worker: its later tasks stop re-reading
    # Spark's unchanged zip archives
    skip_unchanged_zip_rereads()

__all__ = ["CacheScope", "MegaDocumentError", "Options", "build_features",
           "convert", "get_spark", "subscribe", "xml_events"]
