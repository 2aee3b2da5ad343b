"""Verify flows 1-3,5,6 from .claude/skills/verify/SKILL.md."""
import os, sys, shutil, tempfile, math
sys.path.insert(0, '/root/repo')
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from parquet_converters_spark.session import get_spark
spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
import pyarrow.parquet as pq
tmp = tempfile.mkdtemp(prefix="verify_r17_")
ok = True
def check(name, cond):
    global ok
    print(("PASS " if cond else "FAIL ") + name, flush=True)
    ok = ok and cond

# 1. touch2parquet on all three fixture versions
from parquet_converters_spark.pipelines import touch2parquet, parquet_to_sonata
exp = {"touches_v1": 82, "touches_v2": 1104, "touches_v3": 62}
outs = {}
for v, n in exp.items():
    out = os.path.join(tmp, v)
    touch2parquet(spark, f"/root/reference/tests/{v}/touchesData.0", out)
    rows = sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
               for f in os.listdir(out) if f.endswith(".parquet"))
    check(f"touch2parquet {v} rows={rows}", rows == n)
    outs[v] = out
# golden compare v1
import pyarrow as pa
golden = pq.read_table("/root/reference/tests/testCircuit.parquet")
mine = pq.read_table(outs["touches_v1"])
common = [c for c in golden.column_names if c in mine.column_names]
def keyed(t, cols):
    rows = []
    for r in t.select(cols).to_pylist():
        rows.append(tuple(("nan" if isinstance(v, float) and math.isnan(v) else v) for v in (r[c] for c in cols)))
    return sorted(rows)
check("v1 golden values match (common cols)", keyed(golden, common) == keyed(mine, common))
check("v1 adds synapse_id", "synapse_id" in mine.column_names)

# 2. parquet_to_sonata on v2
bundle = os.path.join(tmp, "bundle")
parquet_to_sonata(spark, outs["touches_v2"], bundle, population="p")
t = pq.read_table(os.path.join(bundle, "edges/p/table.parquet")).sort_by("row_index")
ri = t.column("row_index").to_pylist()
check("bundle row_index contiguous", ri == list(range(len(ri))))
r2e = pq.read_table(os.path.join(bundle, "edges/p/indices/source_to_target/range_to_edge_id.parquet")).to_pylist()
check("v2 single source range [0,1104)", len(r2e) == 1 and r2e[0]["edge_start"] == 0 and r2e[0]["edge_end"] == 1104)

# 3. HDF5 export both paths
from parquet_converters_spark.sinks.sonata import export_hdf5, export_hdf5_parallel
single = os.path.join(tmp, "single.h5"); par = os.path.join(tmp, "par.h5"); gz = os.path.join(tmp, "gz.h5")
export_hdf5(bundle, "p", single)
export_hdf5_parallel(spark, bundle, "p", par)
check("parallel h5 byte-identical", open(single, "rb").read() == open(par, "rb").read())
export_hdf5(bundle, "p", gz, compression="gzip")
pgz = os.path.join(tmp, "pgz.h5")
export_hdf5_parallel(spark, bundle, "p", pgz, compression="gzip")
check("parallel gzip h5 byte-identical", open(gz, "rb").read() == open(pgz, "rb").read())
from parquet_converters_spark.sources.sonata_h5 import read_sonata_edges
def _norm_rows(df):
    out = []
    for r in df.collect():
        out.append(tuple(("nan" if isinstance(v, float) and math.isnan(v) else v) for v in r))
    return sorted(out)
a = _norm_rows(read_sonata_edges(spark, gz, "p"))
b = _norm_rows(read_sonata_edges(spark, single, "p"))
check("gzip h5 readback equal", a == b and len(a) > 0)

# 5. audio transcode sink
from parquet_converters_spark.functions.multimodal import transcode_audio, MEDIA_SCHEMA
from parquet_converters_spark.functions.media_codecs import encode_wav
from parquet_converters_spark.functions.flac_codec import decode_flac_full
pcm = [((i * 37) % 20000) - 10000 for i in range(4000)]
rows = [(1, "audio", bytearray(encode_wav(8000, pcm)), "audio/wav", 0)]
df = spark.createDataFrame(rows, MEDIA_SCHEMA)
for depth in ("pcm16", "native"):
    out = transcode_audio(df, target="flac", depth=depth).collect()
    rate, ch, bits, samples, md5_ok = decode_flac_full(bytes(out[0]["payload"]))
    check(f"flac transcode depth={depth} md5_ok samples", md5_ok and samples == pcm)

# 6. bloom read side
from parquet_converters_spark.sinks.parquet_sink import write_canonical_parquet
from pyspark.sql import functions as F
li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select("l_orderkey", "l_partkey")
tab = os.path.join(tmp, "li_bloom")
write_canonical_parquet(li.repartition(4), tab, bloom_filter_columns=["l_orderkey"], metadata_sidecar=False)
kmax = li.agg(F.max("l_orderkey")).collect()[0][0]
absent = None
keys = set(r[0] for r in li.select("l_orderkey").distinct().collect())
for k in range(2, int(kmax)):
    if k not in keys: absent = k; break
probe = spark.read.parquet(tab).filter(F.col("l_orderkey") == absent)
probe.write.format("noop").mode("overwrite").save()
leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
n_out = leaves.apply(0).metrics().apply("numOutputRows").value()
check(f"bloom absent probe scans 0 rows (got {n_out})", n_out == 0)
from parquet_converters_spark.sources.parquet_bloom import bloom_scan_plan
plan = bloom_scan_plan(spark, tab, "l_orderkey", [absent]).collect()
check("bloom_scan_plan skips all row groups", len(plan) > 0 and all(not r["keep"] for r in plan))

shutil.rmtree(tmp, ignore_errors=True)
print("ALL OK" if ok else "FAILURES PRESENT")
sys.exit(0 if ok else 1)
