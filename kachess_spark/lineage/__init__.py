"""Lineage layer: column-level SQL lineage as Catalyst-plan traversal.

Rebuilds the reference's actual computed artifact — a dataset/column
dependency graph (reference: sql_lineage/src/main/java/project/kachess/
sql_lineage/SqlMetaDataExtractor.java) — Spark-first: SQL is parsed with
Spark's own Catalyst parser, the unresolved logical plan is walked on the
driver (lineage is metadata-sized), and the resulting graph is exposed as
Spark DataFrames (reference persisted MySQL rows instead;
db_setup_ddl.sql).  Transitive closure over the edge DataFrames is a
distributed path-doubling self-join (closure.py) — the one lineage computation
that is data-sized at scale (millions of edges across an enterprise).
"""

from kachess_spark.lineage.extractor import LineageSession
from kachess_spark.lineage.metastore import Metastore, fixture_metastore
from kachess_spark.lineage.preprocess import preprocess, split_statements

__all__ = [
    "LineageSession",
    "Metastore",
    "fixture_metastore",
    "preprocess",
    "split_statements",
]
