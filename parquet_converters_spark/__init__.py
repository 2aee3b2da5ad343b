"""parquet_converters_spark — the converters of BlueBrain/parquet-converters
on Spark, plus a corpus-preparation funnel.

The reference is a pair of MPI-parallel columnar ETL binaries
(touch2parquet, parquet2hdf5); docstrings throughout this package cite
its sources by file:line.  The engine's surface:

- ``pipelines.touch2parquet`` — binary touches to canonical Parquet
  (``sources.touch_binary``, ``operators.touch_transform``,
  ``sinks.parquet_sink``).
- ``pipelines.parquet_to_sonata`` — Parquet edges to a SONATA bundle with
  the bidirectional adjacency index, optionally a ``.h5``
  (``sources.ordering``, ``operators.indexing``, ``sinks.sonata``,
  ``sinks.hdf5_minimal``); ``sources.sonata_h5`` reads the ``.h5`` back.
- ``pipelines.prepare_corpus`` — quality gate, exact and MinHash-LSH
  dedup, connected components (``functions.text``, ``functions.dedup``,
  ``operators.graph``).
- ``cli`` — the verbs of ``python -m parquet_converters_spark``.

Subpackage ``__init__`` modules import nothing; import each name from its
defining module.
"""

__version__ = "0.1.0"
