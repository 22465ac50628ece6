"""pufs_spark — a PySpark-native engine with the query and data-processing
capabilities of the puFS reference (content-addressed lazy-caching data lake).

Architecture (Spark-first, not a port):

- ``catalog``    — the inode/blocks/regions tables as DataFrames + a
                   single-writer driver-side DataStore mirroring the
                   reference's verbs (reference: core/datastore.go,
                   core/nodedb.go).
- ``operators``  — distributed operators: interval algebra
                   (reference: region/region.go), dedup, similarity
                   search, text analysis (north-star extensions).
- ``plans``      — multi-stage jobs: Merkle freeze / push / mount
                   (reference: core/datastore.go:999-1217).
- ``sources``    — remote connectors + the content-addressed store
                   (reference: remote/gcs.go, remote/http.go,
                   core/freezer.go).
- ``streaming``  — transfer monitoring over an event log and the
                   commit-log mirror (reference: region/pending.go,
                   core/freezer.go).
- ``serving``    — the catalog metadata service: the reference's gRPC
                   surface as JSON lines over TCP (reference:
                   api/api.proto, pufs/cmd/mount.go).
- ``tables``     — loaders for the test tables (``load_table``).
- ``session``    — the SparkSession factory (``get_spark``) and the
                   stat-checked zipimporter cache every Python worker
                   installs on import (``install_zip_cache_check``).
"""

__version__ = "0.1.0"

from pufs_spark.session import get_spark, install_zip_cache_check  # noqa: F401

install_zip_cache_check()
