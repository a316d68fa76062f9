"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ``abhim00/KDA-Flink-App-Timestream``
(a Flink Kinesis→Timestream streaming job), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory + config resolution
                   (ParameterToolUtils.java analog).
- ``zipcache``   : per-task zip re-parse fix, installed on import here,
                   so every Python worker that runs an engine function
                   has it whoever built the session.
- ``schemas``    : TimestreamPoint StructType + testdata table names.
- ``sources``    : batch table loaders + pluggable streaming sources
                   (file / rate / kinesis) with gzip decode.
- ``functions``  : scalar-expression libraries — service-log parsing,
                   text analysis, vector math (all JVM-side built-ins).
- ``operators``  : composed operators — dedup (exact/minhash/simhash),
                   similarity search, as-of join, top-k, multimodal.
- ``streaming``  : watermarks/windows, late-data split, batching sink,
                   DDL bootstrap (TimestreamSink.java / Initializer analogs).
- ``plans``      : the named query catalog the driver scores — each query
                   is a (PySpark callable, DuckDB oracle SQL) pair.
"""

from . import zipcache

zipcache.install()

__version__ = "0.1.0"
