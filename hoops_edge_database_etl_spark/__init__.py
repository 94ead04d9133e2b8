"""hoops_edge_database_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline ``derekcnursey/hoops-edge-database-etl`` (see SURVEY.md),
rebuilt idiomatically on Spark: DataFrame/SQL declarative plans, Catalyst
pruning/pushdown, window functions for order-dependent scans (possessions),
and a driver-side fixed-point loop for the iterative ratings solver.
"""

__version__ = "0.1.0"

from hoops_edge_database_etl_spark.session import get_spark  # noqa: F401
