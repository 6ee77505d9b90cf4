"""Top-level ERD pipeline facade + CLI (the reference's ``main.py``
lifecycle, SURVEY.md §3.1, Spark-first).

One lazy chain replaces the reference's five materializing stages:
catalog -> classification -> detection -> format -> sink, with a single
driver-side collect at the (diagram-scale) sink. ``--layout`` is
accepted and validated for the reference CLI's ``TABLE_LAYOUT``
contract but does not change the output: drawio places tables on its
own grid and the text formats carry no positions. Coordinates for a
layout come from ``formatters.layout``.

CLI:
    python -m gcp_datalake_utils_spark.erd \
        --format mermaid|plantuml|drawio \
        --layout auto|grid|hierarchical|force \
        --config path/to/relationship_patterns.json \
        --output out.mmd
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from gcp_datalake_utils_spark.formatters import (
    drawio_erd,
    mermaid_erd,
    plantuml_erd,
)
# unused here; kept importable because lakebench's tracer wraps them here
from gcp_datalake_utils_spark.formatters.layout import (  # noqa: F401
    force_positions,
    grid_positions,
    hierarchical_positions,
)
from gcp_datalake_utils_spark.operators.classify import classified_columns
from gcp_datalake_utils_spark.operators.detection import detect_all
from gcp_datalake_utils_spark.rules.config import PatternConfig

FORMATS = {"mermaid": (mermaid_erd, ".mmd"),
           "plantuml": (plantuml_erd, ".puml"),
           "drawio": (drawio_erd, ".drawio")}
LAYOUTS = ["auto", "grid", "hierarchical", "force"]


def generate_erd(spark: SparkSession,
                 fmt: str = "mermaid",
                 layout: str = "auto",
                 config: PatternConfig | None = None,
                 include_views: bool = False,
                 include_external: bool = False,
                 show_column_types: bool = True,
                 show_column_nullable: bool = True,
                 drawio_theme: str = "default") -> str:
    """Run the full pipeline and return the diagram text.

    Toggle defaults mirror the reference CLI (main.py:49-63 /
    config.py:48-56): views and external tables excluded, column
    types and nullable markers shown, drawio theme "default".
    ``layout`` is accepted for the reference's CLI / ``TABLE_LAYOUT``
    contract and must be one of ``LAYOUTS``; it does not change the
    output."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; one of {list(FORMATS)}")
    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}; one of {LAYOUTS}")
    cls = classified_columns(spark, config=config,
                             include_views=include_views,
                             include_external=include_external)
    rels = detect_all(spark, cls=cls)
    fn, _ext = FORMATS[fmt]
    if fmt == "drawio":
        return fn(spark, cls, rels, theme=drawio_theme)
    return fn(spark, cls, rels,
              show_column_types=show_column_types,
              show_column_nullable=show_column_nullable)


def main(argv: list[str] | None = None) -> int:
    from gcp_datalake_utils_spark import settings

    p = argparse.ArgumentParser(description="Generate an ERD diagram")
    p.add_argument("--format", default=None, choices=sorted(FORMATS))
    p.add_argument("--layout", default=None, choices=LAYOUTS)
    p.add_argument("--config", default=None,
                   help="reference-format relationship_patterns.json")
    p.add_argument("--include-views", default=None,
                   action=argparse.BooleanOptionalAction,
                   help="include VIEW tables in the ERD")
    p.add_argument("--include-external-tables", default=None,
                   action=argparse.BooleanOptionalAction,
                   help="include EXTERNAL tables in the ERD")
    p.add_argument("--show-column-types", default=None,
                   action=argparse.BooleanOptionalAction,
                   help="show column data types")
    p.add_argument("--show-column-nullable", default=None,
                   action=argparse.BooleanOptionalAction,
                   help="show nullable indicators")
    p.add_argument("--drawio-theme", default=None,
                   choices=sorted(settings.DRAWIO_THEMES),
                   help="draw.io table-cell theme")
    p.add_argument("--output", default=None,
                   help="output file (default: stdout)")
    p.add_argument("--env-file", default=".env",
                   help=".env file for layered settings (env < file < CLI)")
    p.add_argument("--dry-run", action="store_true",
                   help="print the resolved configuration and exit")
    args = p.parse_args(argv)

    def b2s(v):
        return None if v is None else str(v).lower()

    eff = settings.resolve(
        cli={"OUTPUT_FORMAT": args.format, "TABLE_LAYOUT": args.layout,
             "OUTPUT_FILE": args.output, "PATTERN_CONFIG": args.config,
             "INCLUDE_VIEWS": b2s(args.include_views),
             "INCLUDE_EXTERNAL_TABLES": b2s(args.include_external_tables),
             "SHOW_COLUMN_TYPES": b2s(args.show_column_types),
             "SHOW_COLUMN_NULLABLE": b2s(args.show_column_nullable),
             "DRAWIO_THEME": args.drawio_theme},
        env_file=args.env_file)
    if args.dry_run:
        for k in sorted(eff):
            print(f"{k}={'' if eff[k] is None else eff[k]}")
        return 0

    from gcp_datalake_utils_spark.session import get_spark
    spark = get_spark("erd-cli")
    spark.sparkContext.setLogLevel(eff["LOG_LEVEL"] or "ERROR")
    cfg = (PatternConfig.from_json(eff["PATTERN_CONFIG"])
           if eff["PATTERN_CONFIG"] else None)
    doc = generate_erd(
        spark, eff["OUTPUT_FORMAT"], eff["TABLE_LAYOUT"], cfg,
        include_views=settings.parse_bool(eff["INCLUDE_VIEWS"]),
        include_external=settings.parse_bool(
            eff["INCLUDE_EXTERNAL_TABLES"]),
        show_column_types=settings.parse_bool(
            eff["SHOW_COLUMN_TYPES"], default=True),
        show_column_nullable=settings.parse_bool(
            eff["SHOW_COLUMN_NULLABLE"], default=True),
        drawio_theme=eff["DRAWIO_THEME"] or "default")
    if eff["OUTPUT_FILE"]:
        with open(eff["OUTPUT_FILE"], "w", encoding="utf-8") as f:
            f.write(doc + "\n")
        print(f"wrote {eff['OUTPUT_FILE']} ({len(doc.splitlines())} lines)")
    else:
        print(doc)
    return 0


if __name__ == "__main__":
    sys.exit(main())
