from sifts_spark.sources.store import DOC_SCHEMA, DocumentStore
from sifts_spark.sources.tables import load_table, register_testdata

__all__ = [
    "DOC_SCHEMA",
    "DocumentStore",
    "load_table",
    "register_testdata",
]
