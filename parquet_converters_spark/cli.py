"""Command-line entry points mirroring the reference's two converters
(so a user of the reference can switch by swapping the binary name):

- ``touch2parquet FILES... [-o OUT] [-n LIMIT]`` — the reference's
  ``src/touch2parquet.cpp:44-50`` surface (output name defaults from
  the first input file, like ``:81-83``).
- ``parquet2sonata INPUT_DIR OUTPUT POPULATION [--no-index] [--hdf5
  PATH]`` — the reference's ``src/parquet2hdf5.cpp:184-193`` surface
  (the output is a SONATA-layout parquet bundle; ``--hdf5`` also
  exports the real ``.h5`` container with the parallel export of
  sinks/sonata.py, ``--gzip-h5`` in its compressed layout).

Parallelism flags the reference gets from ``mpirun`` come from the
Spark session here (``local[$SPARK_GRAFT_CPUS]`` by default, any
cluster master via ``--master``).
"""

from __future__ import annotations

import argparse
import os
import sys


def _session(master: str | None):
    from parquet_converters_spark.session import get_spark

    if master:
        os.environ["SPARK_GRAFT_MASTER"] = master
    return get_spark(app_name="parquet-converters-spark")


def _load_warc_payloads(spark, path: str):
    """Raw WARC ingest shared by the warc2* verbs: archive files ->
    (doc_id, payload) rows, round-robin repartitioned so the parse
    stage fans out past the file count."""
    from pyspark.sql import functions as F

    return (
        spark.read.format("binaryFile").load(path)
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("content").alias("payload"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _written_rows(output: str) -> int:
    """Row count from the written parquet footers (O(files) metadata
    — recounting via Spark would re-run the whole job)."""
    from parquet_converters_spark.sources.ordering import (
        file_row_counts,
        sorted_parquet_files,
    )

    return sum(file_row_counts(sorted_parquet_files(output)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="parquet_converters_spark",
        description="PySpark-native converters: touch binary -> parquet -> SONATA",
    )
    ap.add_argument("--master", help="Spark master URL (default: local)")
    from parquet_converters_spark import __version__

    # reference parity: parquet2hdf5.cpp:185 set_version_flag("-v,--version")
    ap.add_argument(
        "-v", "--version", action="version",
        version=f"parquet_converters_spark {__version__}",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    t2p = sub.add_parser(
        "touch2parquet", help="Convert TouchDetector output to Parquet synapse files"
    )
    t2p.add_argument("files", nargs="+", help="Touch files to convert")
    t2p.add_argument("-o", dest="output", help="Output path (default: <first input>.parquet)")
    t2p.add_argument(
        "-n", dest="limit", type=int, default=None,
        help="Maximum number of records to export",
    )

    p2s = sub.add_parser(
        "parquet2sonata", help="Convert Parquet synapse files into the SONATA layout"
    )
    p2s.add_argument("input_directory", help="Directory containing Parquet files")
    p2s.add_argument("output", help="Output bundle directory")
    p2s.add_argument("population", help="Population to write")
    p2s.add_argument(
        "--no-index", dest="index", action="store_false", default=True,
        help="Skip the SONATA adjacency index",
    )
    p2s.add_argument(
        "--hdf5",
        help="Also export the real SONATA .h5 file to this path",
    )
    p2s.add_argument(
        "--gzip-h5", action="store_true", default=False,
        help="Chunk + shuffle + deflate the .h5 edge datasets (the "
        "parallel export's two-pass compressed mode)",
    )

    s2p = sub.add_parser(
        "sonata2parquet",
        help="Convert a SONATA .h5 edge population back to parquet "
        "(the scale representation): row_index first, then the edge "
        "columns, one Spark task per row slice (executors must share "
        "the driver's filesystem)",
    )
    s2p.add_argument("h5_file", help="SONATA HDF5 edge file")
    s2p.add_argument("population", help="Edge population name")
    s2p.add_argument("output", help="Output parquet directory")

    dd = sub.add_parser(
        "dedup",
        help="Near-dedup a document parquet (exact -> MinHash-LSH -> "
        "connected components) and write the surviving rows",
    )
    dd.add_argument("input", help="Input parquet of documents")
    dd.add_argument("output", help="Output parquet directory (survivors)")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--num-hashes", type=int, default=8)
    dd.add_argument("--bands", type=int, default=4)

    w2p = sub.add_parser(
        "warc2parquet",
        help="Extract text documents from WARC crawl archives "
        "(.warc / .warc.gz, ISO 28500) into parquet — HTTP split, "
        "chunked/content-coding decode, charset-sniffed HTML text; "
        "optionally RFC 9309 robots-gated",
    )
    w2p.add_argument("input", help="Path/glob of WARC archive files")
    w2p.add_argument("output", help="Output parquet directory")
    w2p.add_argument(
        "--robots",
        help="Optional parquet of (domain, robots_txt) keyed by exact "
        "LOWERCASE host (no port, no userinfo); disallowed URLs are "
        "dropped (RFC 9309)",
    )
    w2p.add_argument("--agent", default="trainbot",
                     help="Product token for robots group selection")
    w2p.add_argument(
        "--errors", choices=["strict", "skip", "quarantine"],
        default="skip",
        help="Malformed-record policy: real crawl archives contain "
        "br-coded responses and junk headers, so the default skips "
        "bad records instead of failing the stage; quarantine adds "
        "an error column naming each defect",
    )

    w2c = sub.add_parser(
        "warc2cdx",
        help="Build a CDX-style crawl index from WARC archives: one "
        "row per response capture (surt urlkey, 14-digit timestamp, "
        "url, mime, status, digest, length), globally sorted by "
        "(surt, ts) so each host's captures are contiguous",
    )
    w2c.add_argument("input", help="Path/glob of WARC archive files")
    w2c.add_argument("output", help="Output parquet directory")
    w2c.add_argument(
        "--errors", choices=["strict", "skip"], default="skip",
        help="Malformed-record policy (see warc2parquet; quarantine "
        "has no place in an index — a defect row has no urlkey)",
    )

    pc = sub.add_parser(
        "prepare-corpus",
        help="Full training-corpus prep funnel: quality gate -> exact "
        "dedup -> LSH near-dedup; writes survivors + prints the report",
    )
    pc.add_argument("input", help="Input parquet of documents")
    pc.add_argument("output", help="Output parquet directory (clean corpus)")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--min-len", type=int, default=50)
    pc.add_argument("--max-len", type=int, default=10_000)
    pc.add_argument("--min-quality", type=float, default=0.5)

    ing = sub.add_parser(
        "ingest",
        help="Land raw JSONL/CSV shards as parquet with a corrupt-line "
        "quarantine (schema required — no inference pass)",
    )
    ing.add_argument("input", help="Input path/glob of raw shards")
    ing.add_argument("output", help="Output parquet directory")
    ing.add_argument(
        "--schema",
        required=True,
        help='DDL schema, e.g. "doc_id LONG, text STRING"',
    )
    ing.add_argument("--format", choices=["jsonl", "csv"], default="jsonl")
    ing.add_argument(
        "--quarantine", help="Directory for malformed lines (optional)"
    )

    cmp_ = sub.add_parser(
        "compare",
        help="Column-wise comparison of a parquet edge table against an "
        "exported SONATA .h5 (full table, distributed — the reference's "
        "compare_columns.py upgraded from its 10-row spot check); "
        "exit 1 on any mismatch",
    )
    cmp_.add_argument(
        "parquet",
        help="Parquet edge table (file or dir); with --indices, the "
        "SONATA bundle ROOT (edges/<pop>/table.parquet + indices/)",
    )
    cmp_.add_argument("h5_file", help="SONATA HDF5 edge file")
    cmp_.add_argument("population", help="Edge population name")
    cmp_.add_argument(
        "--columns", nargs="+", help="Restrict to these columns"
    )
    cmp_.add_argument(
        "--indices",
        action="store_true",
        help="Treat PARQUET as a bundle root and ALSO verify the four "
        "adjacency-index datasets (node_id_to_ranges / range_to_edge_id "
        "both directions) against the .h5 — the whole-file h5diff-style "
        "check",
    )

    args = ap.parse_args(argv)
    spark = _session(args.master)

    if args.cmd == "touch2parquet":
        from parquet_converters_spark.pipelines import touch2parquet

        out = args.output or os.path.basename(args.files[0]) + ".parquet"
        # multi-file: the touch source takes a comma-joined list/glob
        n = touch2parquet(spark, ",".join(args.files), out, limit=args.limit)
        print(f"touch2parquet: wrote {n} records to {out}")
    elif args.cmd == "sonata2parquet":
        from parquet_converters_spark.sources.sonata_h5 import read_sonata_edges

        df = read_sonata_edges(spark, args.h5_file, args.population)
        df.write.mode("overwrite").parquet(args.output)
        print(
            f"sonata2parquet: wrote {_written_rows(args.output)} edges "
            f"-> {args.output}"
        )
    elif args.cmd == "dedup":
        from parquet_converters_spark.functions.dedup import near_dedup_survivors

        docs = spark.read.parquet(args.input)
        survivors = near_dedup_survivors(
            docs,
            text_col=args.text_col,
            id_col=args.id_col,
            num_hashes=args.num_hashes,
            bands=args.bands,
        )
        survivors.write.mode("overwrite").parquet(args.output)
        print(
            f"dedup: kept {_written_rows(args.output)} of {docs.count()} "
            f"rows -> {args.output}"
        )
    elif args.cmd == "prepare-corpus":
        from parquet_converters_spark.pipelines import prepare_corpus

        docs = spark.read.parquet(args.input)
        clean, report = prepare_corpus(
            docs,
            text_col=args.text_col,
            id_col=args.id_col,
            min_len=args.min_len,
            max_len=args.max_len,
            min_quality=args.min_quality,
        )
        clean.write.mode("overwrite").parquet(args.output)
        for r in report.orderBy("stage_order").collect():
            print(f"prepare-corpus: {r['stage']:>13}: {r['n_docs']} docs")
        print(f"prepare-corpus: clean corpus -> {args.output}")
    elif args.cmd == "warc2parquet":
        from pyspark.sql import functions as F

        from parquet_converters_spark.sources.warc import (
            warc_text_documents,
        )

        raw = _load_warc_payloads(spark, args.input)
        texts = warc_text_documents(raw, errors=args.errors)
        if args.robots:
            from parquet_converters_spark.functions.robots import (
                robots_gate,
            )

            robots = spark.read.parquet(args.robots)
            texts = (
                robots_gate(
                    texts.withColumn(
                        "domain",
                        # RFC 3986 authority: strip an optional
                        # userinfo@ and any :port, lowercase (host
                        # matching is case-insensitive) — the robots
                        # parquet is keyed by exact lowercase host
                        F.lower(F.regexp_extract(
                            "url", r"://(?:[^/@]*@)?([^/:@]+)", 1,
                        )),
                    ),
                    robots, agent=args.agent,
                )
                # quarantine placeholder rows (error != null) must
                # SURVIVE the gate — the quarantine contract is that
                # bad input is counted, not silently lost, and a
                # defect row's URL landing under a disallowed path
                # must not hide the defect
                .filter(
                    F.col("allowed")
                    | (F.col("error").isNotNull()
                       if args.errors == "quarantine" else F.lit(False))
                )
                .drop("allowed", "domain")
            )
        texts.write.mode("overwrite").parquet(args.output)
        print(
            f"warc2parquet: wrote {_written_rows(args.output)} "
            f"documents -> {args.output}"
        )
    elif args.cmd == "warc2cdx":
        from parquet_converters_spark.sources.warc import warc_cdx_records

        raw = _load_warc_payloads(spark, args.input)
        # the global (surt, ts) sort is the CDX layout contract —
        # a range-partitioned sort, the standard Spark shape; at
        # 100 TB each output file covers a contiguous urlkey range
        cdx = warc_cdx_records(raw, errors=args.errors).orderBy(
            "surt", "ts"
        )
        cdx.write.mode("overwrite").parquet(args.output)
        print(
            f"warc2cdx: wrote {_written_rows(args.output)} "
            f"captures -> {args.output}"
        )
    elif args.cmd == "compare":
        from parquet_converters_spark.pipelines import (
            compare_indices_h5,
            compare_parquet_h5,
        )

        table = args.parquet
        if args.indices:
            table = os.path.join(
                args.parquet, "edges", args.population, "table.parquet"
            )
        report = compare_parquet_h5(
            spark, table, args.h5_file, args.population,
            columns=args.columns,
        ).collect()
        bad = 0
        for r in report:
            status = "identical" if r["n_mismatch"] == 0 else (
                f"{r['n_mismatch']} mismatches"
            )
            print(f"{r['column']}: {status} ({r['n_rows']} rows)")
            bad += r["n_mismatch"]
        if args.indices:
            for r in compare_indices_h5(
                spark, args.parquet, args.h5_file, args.population
            ).collect():
                status = "identical" if r["n_mismatch"] == 0 else (
                    f"{r['n_mismatch']} mismatches"
                )
                print(f"{r['dataset']}: {status} ({r['n_rows']} rows)")
                bad += r["n_mismatch"]
        return 0 if bad == 0 else 1
    elif args.cmd == "ingest":
        from pyspark.sql.types import StructType

        from parquet_converters_spark.sources.textfiles import ingest_to_parquet

        schema = StructType.fromDDL(args.schema)
        stats = ingest_to_parquet(
            spark,
            args.input,
            args.output,
            schema,
            fmt=args.format,
            quarantine=args.quarantine,
        )
        print(
            f"ingest: {stats['rows']} rows -> {args.output}"
            f" ({stats['quarantined']} quarantined)"
        )
    else:
        from parquet_converters_spark.pipelines import parquet_to_sonata

        parquet_to_sonata(
            spark,
            args.input_directory,
            args.output,
            population=args.population,
            with_index=args.index,
        )
        print(f"parquet2sonata: wrote bundle {args.output} (population={args.population})")
        if args.hdf5:
            from parquet_converters_spark.sinks.sonata import (
                export_hdf5_parallel,
            )

            export_hdf5_parallel(
                spark, args.output, args.population, args.hdf5,
                compression="gzip" if args.gzip_h5 else None,
            )
            print(f"parquet2sonata: exported HDF5 {args.hdf5}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
