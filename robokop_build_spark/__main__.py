"""CLI driver — reference parity with `python builder.py`
(builder/builder.py:564-607): the -p path DSL, the -q 1/2/3 shortcuts
(:588-600), -s supporter modules, and the --start/--end free-text seed flow
(lookup_identifier → generate_query → run_query, builder.py:500-522),
chained here as lookup_by_name → tokenize_path → run_pipeline.

Example (fixture tables from datagen.fixtures.ensure_fixtures(dir, sf)):
    python -m robokop_build_spark -p "D(1-2)GX" --start "Fanconi Anemia" \
        -s omnicorp -s cdw --fixtures /tmp/robokop_cli_fixtures \
        --workdir /tmp/robokop_cli_work --output /tmp/robokop_cli_out
"""

from __future__ import annotations

import argparse
import sys

HELPSTRING = """Execute a KG-construction query over the fixture tables.
The query is defined with -p: each character is one high-level node type —
S: Substance (Drug)   G: Gene      P: Process (Pathway)  C: Cell Type
A: Anatomical Feature T: Phenotype D: Disease            X: Genetic Condition
?: Unspecified Node
Parenthetical (min-max) between letters allows indirect transitions:
    DGX        Disease → Gene → Genetic Condition, direct hops
    D(1-2)X    Disease → Genetic Condition, directly or via one other node
    SGPCATD    Clinical Outcome Pathway
"""


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="python -m robokop_build_spark",
        description=HELPSTRING,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    # reference flags (builder/builder.py:566-585)
    parser.add_argument(
        "-s", "--support", action="append", default=[],
        choices=["omnicorp", "chemotext", "chemotext2", "cdw"],
        help="support module to run (repeatable)",
    )
    parser.add_argument("-p", "--pathway", help="query pathway (see description)")
    parser.add_argument(
        "-q", "--question", type=int, choices=[1, 2, 3],
        help="shortcut (1=Disease/GeneticCondition, 2=COP, 3=COP→Phenotype)",
    )
    parser.add_argument("--start", required=True, help="text to initiate query")
    parser.add_argument("--end", help="text to finalize query")
    # engine flags (no Rosetta config here — inputs are parquet tables)
    parser.add_argument("--fixtures", required=True, help="fixture table directory")
    parser.add_argument("--workdir", required=True, help="checkpoint directory")
    parser.add_argument("--output", help="write triples/nodes parquet here")
    parser.add_argument("--master", default=None, help="spark master override")
    parser.add_argument(
        "--support-pair-mode", default="all", choices=["all", "paths"],
        help="supporter pair generator (builder.py:364-370 vs :372-407)",
    )
    return parser


def resolve_pathway(args) -> str:
    """-q shortcut handling, verbatim semantics (builder.py:588-600)."""
    if args.pathway is not None and args.question is not None:
        print("Cannot specify both question and pathway. Exiting.")
        sys.exit(1)
    if args.question is not None:
        if args.question == 1:
            if args.end is not None:
                print("--end argument not supported for question 1.  Ignoring")
                args.end = None
            return "DGX"
        if args.end is None:
            print("--end required for question 2. Exiting")
            sys.exit(1)
        return "SGPCATD" if args.question == 2 else "SGPCAT"
    if args.pathway is None:
        print("One of --pathway / --question is required. Exiting.")
        sys.exit(1)
    return args.pathway


def _lookup(spark, lexicon, name: str, node_type: str) -> list[str]:
    """Free-text name → CURIEs (lookup_identifier, builder.py:512-517)."""
    from .sources.lookup import lookup_identifier

    names = spark.createDataFrame([(name,)], ["name"])
    return sorted(
        r["curie"] for r in lookup_identifier(names, lexicon, node_type).collect()
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    pathway = resolve_pathway(args)

    from .plans.pipeline import run_pipeline
    from .plans.query import tokenize_path
    from .session import get_spark
    from .sources.readers import read_fixture

    steps = tokenize_path(pathway)  # syntax errors raise before Spark starts
    spark = get_spark(app_name="robokop-build-cli", master=args.master)
    lexicon = read_fixture(spark, args.fixtures, "lexicon")

    start_identifiers = _lookup(spark, lexicon, args.start, steps[0].node_type)
    if not start_identifiers:
        print(f"No identifiers found for start name {args.start!r}. Exiting.")
        return 1
    print("Start identifiers: " + "..".join(start_identifiers))
    end_identifiers = None
    if args.end is not None:
        end_identifiers = _lookup(spark, lexicon, args.end, steps[-1].node_type)
        if not end_identifiers:
            print(f"No identifiers found for end name {args.end!r}. Exiting.")
            return 1
        print("End identifiers: " + "..".join(end_identifiers))

    out = run_pipeline(
        spark,
        args.fixtures,
        args.workdir,
        path=pathway,
        start_values=start_identifiers,
        end_values=end_identifiers,
        supporters=list(dict.fromkeys(args.support)),
        support_pair_mode=args.support_pair_mode,
    )
    n_triples = out["triples"].count()
    n_nodes = out["nodes"].count()
    print(f"Wrote {n_nodes} nodes.")  # mirrors builder.py export logging
    print(f"Wrote {n_triples} edges.")
    if args.output:
        out["triples"].write.mode("overwrite").partitionBy("pred").parquet(
            f"{args.output}/triples"
        )
        out["nodes"].write.mode("overwrite").partitionBy("node_type").parquet(
            f"{args.output}/nodes"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
