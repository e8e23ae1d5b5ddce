"""ticdc_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Reproduces the *semantics* of TiCDC's changefeed pipeline
(puller → sorter → mounter → sink, reference: sdojjy/ticdc a.k.a. the
tiflow mono-repo) as a watermark-driven micro-batch DataFrame pipeline:

- resolved-ts bounded batching   (cdc/model/kv.go:59-66 contract)
- commit-ts total ordering + last-writer-wins dedup
  (cdc/processor/sourcemanager/sorter/pebble/encoding/key.go:84-119)
- vectorized pandas-UDF row mounting vs a multi-versioned schema registry
  (cdc/entry/mounter.go:129-230, cdc/entry/schema_storage.go:72-181)
- DDL barriers that quiesce in-flight batches (cdc/owner/ddl_manager.go:346-532)
- exactly-once MERGE upserts into a snapshot-versioned lake table with
  per-partition lineage (cdc/sink/dmlsink/txn/mysql/mysql.go:204-258 analog)

This is NOT a port: TiCDC is a Go actor system coordinated by etcd; this
engine declares the same computations with the DataFrame API and lets
Catalyst/Tungsten pick physical strategies.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name):
    # lazy, so that importing the package (as the PySpark worker daemon
    # does) loads neither pyspark.sql nor the session module
    if name == "get_spark":
        from ticdc_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
