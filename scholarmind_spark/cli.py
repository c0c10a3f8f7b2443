"""CLI entry mirroring the reference's ``python main.py --config X``
lifecycle (SURVEY §3.1) on the Spark engine.

Usage:
    python -m scholarmind_spark.cli \
        --pubmed data/pubmed.txt --wos data/wos.txt --sciencedirect data/sd.txt \
        --metrics-parquet metrics.parquet \
        --template prompts/medical.yaml --llm-endpoint http://host/v1 \
        --output out/corpus --sheets out/sheets

Stages (each optional except sources): parse+union → dedup → metrics join
→ links/year → LLM map → parquet sink (+ CSV sheet sink).  With no LLM
endpoint the LLM stage is skipped (reference: llm disabled in config);
``--mock-llm`` uses the deterministic mock for dry runs.
"""

from __future__ import annotations

import argparse
import sys


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="ScholarMind-Spark literature pipeline")
    p.add_argument(
        "--config",
        help="reference-style YAML/JSON config file (K3, config_manager.py); "
        "sections journal_metrics/llm/processing/prompt are honored and "
        "explicit CLI flags override it",
    )
    p.add_argument("--prompt-type", help="template type from the config's templates_dir")
    p.add_argument("--pubmed", help="PubMed tagged-text export path")
    p.add_argument("--wos", help="WOS tagged-text export path")
    p.add_argument("--wos-csv", help="WOS CSV export path")
    p.add_argument("--wos-excel", help="WOS Excel (.xlsx) export path")
    p.add_argument("--sciencedirect", help="ScienceDirect citation export path")
    p.add_argument("--metrics-parquet", help="offline journal-metrics lookup (parquet)")
    p.add_argument("--template", help="prompt template YAML path")
    p.add_argument("--llm-endpoint", help="OpenAI-compatible chat endpoint")
    p.add_argument("--llm-model", default="default", help="model name for the endpoint")
    p.add_argument("--mock-llm", action="store_true", help="deterministic mock LLM")
    p.add_argument(
        "--max-workers",
        type=int,
        default=None,
        help="in-partition LLM fan-out (default 4, or the config's "
        "processing.max_workers when --config is given)",
    )
    p.add_argument("--output", required=True, help="parquet output dir")
    p.add_argument("--sheets", help="also write per-sheet CSVs here")
    p.add_argument(
        "--excel",
        help="also write the styled multi-sheet .xlsx workbook here "
        "(the reference's primary output, main.py:582-588)",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)

    from scholarmind_spark import get_spark
    from scholarmind_spark.pipeline import PipelineConfig, run_pipeline
    from scholarmind_spark.sinks import write_excel, write_parquet, write_sheets_csv
    from scholarmind_spark.util import release_caches

    sources = {
        k: v
        for k, v in {
            "pubmed": args.pubmed,
            "wos": args.wos,
            "wos_csv": args.wos_csv,
            "wos_excel": args.wos_excel,
            "sciencedirect": args.sciencedirect,
        }.items()
        if v
    }

    config = None
    if args.config:
        from scholarmind_spark.config import ConfigError, load_config

        try:
            config = load_config(args.config)
        except ConfigError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        if args.prompt_type:
            config["prompt"]["default_type"] = args.prompt_type

    if not sources and not (config and config.get("sources")):
        print("error: at least one source path required", file=sys.stderr)
        return 2

    spark = get_spark(app_name="scholarmind-cli", master=args.master)

    if config is not None:
        from scholarmind_spark.config import pipeline_config_from

        cfg = pipeline_config_from(config, spark=spark, sources=sources)
    else:
        cfg = PipelineConfig(sources=sources)

    # explicit flags override config-derived settings
    if args.max_workers is not None:
        cfg.llm_max_workers = args.max_workers
    if args.metrics_parquet:
        cfg.metrics_df = spark.read.parquet(args.metrics_parquet)
    if args.template:
        from scholarmind_spark.llm.templates import load_template_yaml

        with open(args.template) as f:
            cfg.llm_template = load_template_yaml(f.read())
    if cfg.llm_template is not None:
        if args.mock_llm:
            from scholarmind_spark.llm.client import MockLLMClient

            cfg.llm_client = MockLLMClient(
                fields=tuple(cfg.llm_template.fields), mode="json"
            )
        elif args.llm_endpoint:
            from scholarmind_spark.llm.client import HTTPChatClient

            cfg.llm_client = HTTPChatClient(
                base_url=args.llm_endpoint, model=args.llm_model
            )
    result = run_pipeline(spark, cfg)
    write_parquet(result, args.output)
    # The write materialized the LLM map's checkpoint, so counting it reads
    # its blocks; without the LLM map a count would re-run the whole plan,
    # and reading the files back is cheaper.
    if hasattr(result, "_sm_checkpoint_of"):
        n = result.count()
    else:
        n = spark.read.parquet(args.output).count()
    print(f"wrote {n} records to {args.output}")
    if args.sheets:
        paths = write_sheets_csv(result, args.sheets)
        print(f"wrote sheets: {', '.join(sorted(paths))}")
    if args.excel:
        write_excel(result, args.excel)
        print(f"wrote workbook: {args.excel}")
    release_caches(result)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
