"""sifts_spark — a PySpark-native document-collection analytics engine.

Re-implements (Spark-first, not a port) the query and data-processing
capabilities of the reference engine DavidMStraub/sifts
(/root/reference/src/sifts/core.py): named document collections with

* boolean full-text search in a tiny unified query language
  (terms, implicit AND, ``and``/``or`` keywords, trailing-``*`` prefix),
* vector (cosine) similarity search,
* plain scans,

all composable with JSON-metadata filtering (``$eq/$gt/$lt/$gte/$lte/$in/$nin``),
multi-key ordering with null placement, and limit/offset pagination that
reports the pre-limit ``total`` — plus large-scale training-data-pipeline
extensions the reference lacks: deduplication (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding cosine), approximate nearest-neighbour search,
and text analysis (language id, quality scoring, token stats, fingerprinting).

Storage is a partitioned-Parquet document store (partition column ``name``
replaces the reference's ``name_idx`` b-tree index via partition pruning);
all operators are declarative DataFrame expressions so Catalyst supplies
predicate pushdown, column pruning, broadcast joins and whole-stage codegen.
"""

from sifts_spark.caching import release_all
from sifts_spark.collection import Collection, SparkCollection
from sifts_spark.queryparser import QueryParser, parse_query
from sifts_spark.session import get_spark

__all__ = [
    "Collection",
    "SparkCollection",
    "QueryParser",
    "parse_query",
    "get_spark",
    "release_all",
]

__version__ = "0.1.0"
