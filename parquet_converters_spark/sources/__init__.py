from parquet_converters_spark.sources.touch_binary import (  # noqa: F401
    read_touches,
    read_touch_header,
)
from parquet_converters_spark.sources.ordering import (  # noqa: F401
    read_parquet_ordered,
    with_global_row_index,
)
from parquet_converters_spark.sources.textfiles import (  # noqa: F401
    ingest_to_parquet,
    read_csv_strict,
    read_jsonl,
    split_corrupt,
)
from parquet_converters_spark.sources.sonata_h5 import (  # noqa: F401
    read_sonata_edges,
    read_sonata_index,
    read_sonata_library,
)
