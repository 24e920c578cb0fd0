"""CLI entry points — the engine's twin of the reference's job drivers,
one subcommand per `hadoop jar` invocation (SURVEY.md §3):

    index     TermKGramDocIndexer      (§3.1: build word-k-gram index)
    chargram  CharKGramTermIndexer     (char-k-gram → term index)
    docnos    NumberTrecDocuments      (docid → sequential docno TSV)
    search    IntDocVectorsForwardIndex (one-shot query; REPL lives in
                                        `...repl` for the interactive
                                        loop — point its `--index` flag
                                        at this `index` subcommand's
                                        --out dir to serve queries from
                                        the built store, r12)

BuildIntDocVectorsForwardIndex has no subcommand: the forward index is
obsolete under Parquet predicate pushdown (SURVEY.md S5/§3.2).

Usage:
    python -m simple_mapreduce_search_engine_information_retrieval__spark \
        index    --sf-dir DIR --out DIR [--k K]
    ... chargram --sf-dir DIR --out DIR [--k K]
    ... docnos   --sf-dir DIR --out DIR
    ... search   "free text query" --sf-dir DIR [--k K] [--compat-df1]
"""

from __future__ import annotations

import argparse
import sys


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m simple_mapreduce_search_engine_information_retrieval__spark"
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ix = sub.add_parser("index", help="build + persist the inverted index")
    ix.add_argument("--sf-dir", required=True)
    ix.add_argument("--out", required=True)
    ix.add_argument("--k", type=int, default=1)

    cg = sub.add_parser("chargram", help="build + persist the char-k-gram index")
    cg.add_argument("--sf-dir", required=True)
    cg.add_argument("--out", required=True)
    cg.add_argument("--k", type=int, default=3)

    dn = sub.add_parser("docnos", help="write the docid->docno TSV mapping")
    dn.add_argument("--sf-dir", required=True)
    dn.add_argument("--out", required=True)

    se = sub.add_parser("search", help="one-shot top-10 query")
    se.add_argument("query")
    se.add_argument("--sf-dir", required=True)
    se.add_argument("--k", type=int, default=1)
    se.add_argument("--compat-df1", action="store_true")
    return p


def main(argv: list[str] | None = None, out=None) -> int:
    args = _parser().parse_args(argv)
    out = out or sys.stdout

    from .session import get_spark

    spark = get_spark(f"smse-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "index":
        from .plans import index_store

        name = index_store.build_index(spark, args.sf_dir, args.out, k=args.k)
        n = spark.table(f"{name}_postings").count()
        print(f"indexed {n} postings rows -> {args.out} (views {name}_*)", file=out)
    elif args.cmd == "chargram":
        from .plans.indexing import chargram_arrays

        df = chargram_arrays(spark, args.sf_dir, k=args.k)
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {df.count()} char-{args.k}-gram rows -> {args.out}", file=out)
    elif args.cmd == "docnos":
        from .plans.indexing import docno_mapping

        df = docno_mapping(spark, args.sf_dir)
        # TSV like the reference's NumberTrecDocuments sink (S7)
        df.write.mode("overwrite").option("sep", "\t").csv(args.out)
        print(f"wrote {df.count()} docno mappings -> {args.out}", file=out)
    elif args.cmd == "search":
        from .plans.search import search

        mode = "compat_df1" if args.compat_df1 else "correct"
        rows = search(
            spark, args.sf_dir, args.query, k=args.k, df_mode=mode
        ).collect()
        for r in rows:
            print(f"{r.rank}\t{r.docno}\t{r.score}", file=out)
        if not rows:
            print("(no hits)", file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
