from parquet_converters_spark.sinks.parquet_sink import (  # noqa: F401
    write_canonical_parquet,
    write_partitioned_dataset,
)
from parquet_converters_spark.sinks.sonata import (  # noqa: F401
    SonataBundleWriter,
    export_hdf5,
    export_hdf5_parallel,
    write_sonata_bundle,
)
