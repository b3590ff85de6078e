"""Command-line entry point — the reference's ``main()`` equivalent
(main.py:1050-1056: scrape feed + PDF, build the analyst table, write
Excel), Spark-first and source-flexible.

Usage::

    # from local files (offline; the shipped fixtures work)
    python -m sanctions_data_pipeline_spark.cli \
        --feed sanctions_data_pipeline_spark/data/fixtures/feed.xml \
        --pdf-text sanctions_data_pipeline_spark/data/fixtures/travel_ban.txt \
        --out /tmp/analyst.parquet

    # from the live site (network required; reference parity)
    python -m sanctions_data_pipeline_spark.cli \
        --scrape https://www.sanctionsmap.eu/... --workdir /tmp/scrape \
        --out /tmp/analyst.xlsx

Output format follows the extension: .xlsx (quality-colored cells when
openpyxl exists), .csv, or parquet otherwise.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    from pyspark.sql import SparkSession

    from sanctions_data_pipeline_spark.pipeline import run_pipeline
    from sanctions_data_pipeline_spark.plans.helpers import (
        local_frame, persist, query_scope)
    from sanctions_data_pipeline_spark.sources import sinks

    p = argparse.ArgumentParser(prog="sanctions_data_pipeline_spark")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--feed", help="local XML feed path")
    src.add_argument("--scrape", help="page URL to scrape feed+PDF from")
    p.add_argument("--pdf", help="local PDF file (binary; vendored extractor)")
    p.add_argument("--pdf-text", help="pre-extracted PDF text file")
    p.add_argument("--workdir", default="/tmp/sanctions_scrape",
                   help="download dir for --scrape")
    p.add_argument("--out", required=True, help="output path (.xlsx/.csv/parquet)")
    p.add_argument("--master", default="local[*]")
    args = p.parse_args(argv)
    if args.scrape and (args.pdf or args.pdf_text):
        # --pdf/--pdf-text are --feed companions; --scrape discovers and
        # downloads its own PDF, so silently ignoring them would mislead
        p.error("--pdf/--pdf-text only apply with --feed "
                "(--scrape discovers its own PDF from the page)")

    if args.master.startswith("local["):
        # tuned local session (AQE, UTC, Arrow, cores-sized shuffle
        # partitions — a vanilla builder's 200 drags small local runs)
        from sanctions_data_pipeline_spark.session import get_spark

        cpus = args.master[len("local["):-1]
        spark = get_spark("sanctions_data_pipeline",
                          cpus=None if cpus == "*" else cpus)
    else:
        spark = (SparkSession.builder.master(args.master)
                 .appName("sanctions_data_pipeline").getOrCreate())

    with query_scope():
        if args.scrape:
            from sanctions_data_pipeline_spark.sources.fetch import (
                run_scrape_pipeline)
            table = run_scrape_pipeline(spark, args.scrape, args.workdir)
        else:
            pdf_texts = None
            if args.pdf:
                from sanctions_data_pipeline_spark.sources.pdf_source import (
                    extract_pdf_text)
                pdf_texts = extract_pdf_text(spark, args.pdf)
            elif args.pdf_text:
                with open(args.pdf_text, encoding="utf-8") as fh:
                    pdf_texts = local_frame([(args.pdf_text, fh.read())],
                                            "doc_path string, text string")
            table = run_pipeline(spark, args.feed, pdf_texts)
        table = persist(table)  # count + write share one pipeline run
        n = table.count()
        if args.out.endswith(".xlsx"):
            sinks.write_xlsx_quality(table, args.out)
        elif args.out.endswith(".csv"):
            sinks.write_output(table, args.out, fmt="csv")
        else:
            sinks.write_output(table, args.out, fmt="parquet")
    print(f"wrote {n} rows -> {args.out}")


if __name__ == "__main__":
    main()
