"""parquet_converters_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of BlueBrain/parquet-converters.

The reference (studied read-only at /root/reference, cited by file:line in
docstrings throughout this package) is a pair of MPI-parallel columnar ETL
binaries (touch2parquet, parquet2hdf5).  This package re-expresses every
operator the reference implements as idiomatic PySpark DataFrame programs:

- ``sources``   — fixed-width touch binary scan (JVM-planned ``mapInArrow``),
                  ordered multi-file parquet scan with deterministic global
                  row indices.
- ``operators`` — touch transform (rename/flatten/bit-unpack/synapse_id),
                  adjacency index builder (gaps-and-islands + dense join),
                  distributed prefix sums.
- ``sinks``     — canonical parquet sink (reference writer options), SONATA
                  bundle sink (parquet layout, optional HDF5 export).
- ``functions`` — LLM-data-pipeline extensions: dedup (exact/MinHash-LSH/
                  SimHash), similarity search, text analysis, multimodal
                  column plumbing.
- ``streaming`` — Structured Streaming pipelines over the events table.
"""

__version__ = "0.1.0"
