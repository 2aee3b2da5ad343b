"""The subpackages' ``__init__`` modules import nothing, so a Python worker
that unpickles a corpus-funnel kernel loads only what ``functions.dedup``
needs: no pandas and none of the media codecs."""

import os
import subprocess
import sys


def test_dedup_import_loads_no_pandas_or_codecs():
    code = (
        "import sys\n"
        "import parquet_converters_spark.functions.dedup\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] == 'pandas' or m.endswith('_codec')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
