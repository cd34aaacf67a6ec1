"""Drop-in CLI mirroring the reference binary's interface
(`./tema1 <M> <R> <manifest>`, `tema1a/src/main.cpp:179-186`):

    python -m apd_map_reduce_spark <M> <R> <manifest> [--out DIR]

M/R (mapper/reducer thread counts) map onto the Spark analogues: M+R
bounds local cores, R sets shuffle partitions (SURVEY.md §3.1 maps
mappers → scan/partial-agg stage, reducers → final-agg/sink stage).
Output: `<letter>.txt` files in --out (default ./output), same format
and ordering as the reference sink — a reference user can point their
checker's diff at it.

Second mode — run any registry query by name against a table dir:

    python -m apd_map_reduce_spark query <name> [--sf-dir D] [--limit N]
    python -m apd_map_reduce_spark query list
"""

from __future__ import annotations

import argparse
import sys


def query_main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m apd_map_reduce_spark query",
        description="Run one registry query (or `list` to enumerate)",
    )
    parser.add_argument("name", help="query name from the registry, or 'list'")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--limit", type=int, default=20, help="rows to show")
    args = parser.parse_args(argv)

    from apd_map_reduce_spark.registry import QUERY_INDEX

    if args.name == "list":
        for name, q in QUERY_INDEX.items():
            print(f"{name}\t{'oracle' if q.oracle else 'rows-only'}")
        return 0
    if args.name not in QUERY_INDEX:
        print(f"unknown query {args.name!r}; try 'list'", file=sys.stderr)
        return 2

    from apd_map_reduce_spark.session import get_spark

    spark = get_spark(app_name=f"apd-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    QUERY_INDEX[args.name].fn(spark, args.sf_dir).show(args.limit, truncate=False)
    # Cache-lifetime convention (docs/PLANS.md): builders cache shared
    # intermediates and never unpersist; the session owner releases.
    from apd_map_reduce_spark.session import release_caches

    release_caches(spark)
    return 0


def session_for(mappers: int, reducers: int):
    """The Spark session the reference's M/R knobs map onto: M+R local
    cores, R shuffle partitions, and scan splits that shrink with M."""
    from apd_map_reduce_spark.session import get_spark

    spark = get_spark(
        app_name="apd-invindex-cli",
        master=f"local[{mappers + reducers}]",
        shuffle_partitions=max(reducers, 1),
        extra_conf={
            # The manifest enumerates exact file paths, so there is
            # nothing to discover — but a path list longer than the
            # default parallelPartitionDiscovery threshold (32) makes
            # every spark.read.text launch a distributed listing JOB,
            # ~2 s of serial overhead for 355 local files. Raise the
            # threshold so the driver stats the (already known) paths
            # directly. On a real cluster with millions of manifest
            # files this knob would stay default — it is scoped to
            # this CLI session, not get_spark's global defaults.
            "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
            # Scan split size scales with M (the mapper-parallelism
            # knob): more mappers → finer splits → better load balance
            # across the map stage, exactly what the reference's M
            # controls. 96m/M keeps the sequential config at its
            # fastest coarse packing while giving M=4 ~4x the splits.
            "spark.sql.files.maxPartitionBytes": f"{max(96 // mappers, 16)}m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def index_for(spark, manifest_path: str):
    """The inverted index of the manifest's corpus, ready for
    `write_letter_files` — inverted_index, NOT ranked_index: the sink
    sorts the collected rows on the driver (letter, df DESC, word ASC),
    so a global orderBy would only add a range-sampling job and a sort
    exchange. Output is byte-identical either way. The manifest is
    parsed once and its paths reused, so no job reads it back."""
    from apd_map_reduce_spark.operators.invindex import inverted_index
    from apd_map_reduce_spark.sources.manifest import (
        MANIFEST_SCHEMA,
        parse_manifest,
        read_corpus,
    )
    from apd_map_reduce_spark.sources.tables import local_frame

    rows = parse_manifest(manifest_path)
    manifest = local_frame(spark, rows, MANIFEST_SCHEMA)
    return inverted_index(read_corpus(spark, manifest, paths=[p for _, p in rows]))


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return query_main(argv[1:])
    parser = argparse.ArgumentParser(
        prog="python -m apd_map_reduce_spark",
        description="Inverted-index pipeline, reference-compatible CLI",
    )
    parser.add_argument("mappers", type=int, help="mapper parallelism (M)")
    parser.add_argument("reducers", type=int, help="reducer parallelism (R)")
    parser.add_argument("manifest", help="manifest file: first line N, then N paths")
    parser.add_argument("--out", default="output", help="output dir for <letter>.txt files")
    args = parser.parse_args(argv)
    if args.mappers < 1 or args.reducers < 1:
        parser.error("M and R must be >= 1")

    from apd_map_reduce_spark.operators.invindex import write_letter_files

    spark = session_for(args.mappers, args.reducers)
    write_letter_files(index_for(spark, args.manifest), args.out)
    print(f"wrote 26 letter files to {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
