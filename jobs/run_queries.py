"""Query CLI: run the kiwi graph tools against a materialized warehouse.

Usage:
    spark-submit jobs/run_queries.py --warehouse /tmp/wh \
        [--search TEXT] [--neighbours NAME] [--path NAME NAME] [--limit N]

Demonstrates the read side (SURVEY §2.5 / plans/queries.py) end-to-end.

Note: pass LANG=C.UTF-8 (or any UTF-8 locale) when querying non-ASCII
entity names — spark-submit's JVM launcher mangles argv under the C locale
before Python ever sees it.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiwi_spark.plans import queries as Q
from kiwi_spark.session import engine_builder
from kiwi_spark.sources.catalog import Catalog


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--warehouse", required=True)
    parser.add_argument("--search")
    parser.add_argument("--keywords", nargs="*", default=None,
                        help="extra search terms (entity.ts keywords array)")
    parser.add_argument("--neighbours")
    parser.add_argument("--path", nargs=2, metavar=("SRC", "DST"))
    parser.add_argument("--sources-of")
    parser.add_argument("--limit", type=int, default=10)
    parser.add_argument(
        "--indexed", action="store_true",
        help="force serving --search from the materialized search-index "
             "tables (error if absent). Default: auto-detect — the index "
             "is used whenever the warehouse has it",
    )
    parser.add_argument(
        "--full-scan", action="store_true",
        help="force the full-scan scorer even when index tables exist",
    )
    args = parser.parse_args()

    spark = engine_builder("kiwi-query").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(args.warehouse)
    nodes = cat.read(spark, "nodes")
    edges = cat.read(spark, "edges")
    mentions = cat.read(spark, "mentions")
    units = cat.read(spark, "units")

    def resolve(name: str) -> str:
        rows = Q.lookup_entity(nodes, name).collect()
        if not rows:
            raise SystemExit(f"no entity matches {name!r}")
        return rows[0]["entity_id"]

    if args.search:
        from kiwi_spark.plans.search_index import (
            has_search_index,
            search_entities_auto,
        )

        if args.indexed and not has_search_index(cat):
            raise SystemExit(
                "--indexed needs the search-index tables; rerun the "
                "pipeline with --search-index"
            )
        if args.full_scan:
            Q.search_entities(
                nodes, args.search, limit=args.limit, keywords=args.keywords
            ).show(truncate=60)
        else:
            # auto-routes: index probe when the tables exist, full scan
            # otherwise (--indexed merely asserts the index is present)
            search_entities_auto(
                spark, cat, nodes, args.search,
                limit=args.limit, keywords=args.keywords,
            ).show(truncate=60)
    if args.neighbours:
        eid = resolve(args.neighbours)
        Q.get_entity_neighbours(edges, nodes, eid, limit=args.limit).show(truncate=60)
    if args.path:
        src, dst = (resolve(n) for n in args.path)
        path = Q.get_path_between_entities(edges, src, dst)
        if path is None:
            print("no path found within", Q.MAX_PATH_DEPTH, "hops")
        else:
            names = {r["entity_id"]: r["name"] for r in nodes.collect()}
            print(" -> ".join(names.get(p, p) for p in path))
    if args.sources_of:
        eid = resolve(args.sources_of)
        Q.get_entity_sources(mentions, units, [eid], limit=args.limit).show(truncate=60)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
