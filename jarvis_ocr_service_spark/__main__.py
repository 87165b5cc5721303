"""CLI: ``python -m jarvis_ocr_service_spark <command>``.

Commands
  extract   pages parquet -> results parquet (fused cascade)
  resume    manifest-checkpointed extraction (exactly-once; re-run to resume)
  stream    structured-streaming extraction (availableNow backlog drain)
  prepare   full training-data pipeline (extract -> quality -> dedup)
  stream-prepare  streaming prepare (digest dedup -> cascade -> gate;
            optional near-dup dedup vs the committed corpus)
  synth     write a deterministic synthetic pages table

All commands accept --master / --cores; on a cluster, submit with
``spark-submit --py-files engine.zip -m jarvis_ocr_service_spark ...``-
style invocation or import the library directly.
"""

from __future__ import annotations

import argparse
import sys


def _parse_ppl_buckets(arg):
    """'head, middle' -> ('head', 'middle'); reject unknown names so a
    typo cannot silently empty (or shrink) the keep-set."""
    if not arg:
        return None
    names = tuple(s.strip() for s in arg.split(",") if s.strip())
    bad = [n for n in names if n not in ("head", "middle", "tail")]
    if bad or not names:
        raise SystemExit(
            f"--keep-ppl-buckets: unknown bucket name(s) {bad or arg!r} "
            "(valid: head, middle, tail)"
        )
    return names


def _session(args):
    from jarvis_ocr_service_spark.session import builder

    master = args.master or (f"local[{args.cores}]" if args.cores else None)
    return builder(master=master, shuffle_partitions=args.cores).getOrCreate()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="jarvis_ocr_service_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    for name in ("extract", "resume", "stream", "prepare", "stream-prepare"):
        s = sub.add_parser(name)
        s.add_argument("--input", required=True)
        s.add_argument("--output", required=True)
        s.add_argument("--pdf-mode", default="parse", choices=["parse", "reject"])
        if name == "resume":
            s.add_argument("--manifest", required=True)
            s.add_argument("--files-per-batch", type=int, default=4)
        if name in ("stream", "stream-prepare"):
            s.add_argument("--checkpoint", required=True)
        if name == "prepare":
            s.add_argument("--min-quality", type=float, default=0.5)
            s.add_argument("--near-dup-threshold", type=float, default=0.85)
            s.add_argument(
                "--keep-ppl-buckets",
                default=None,
                help="comma list of surprisal tertiles to keep, "
                "e.g. head,middle (CCNet LM-quality gate)",
            )
        if name == "stream-prepare":
            s.add_argument("--min-quality", type=float, default=0.5)
            s.add_argument("--watermark", default="1 hour")
            s.add_argument(
                "--neardup-against-committed", action="store_true",
                help="drop each micro-batch's near-duplicates against the"
                " already-committed corpus (banded LSH, batch x corpus)",
            )
            s.add_argument("--neardup-threshold", type=float, default=0.7)

    s = sub.add_parser("synth")
    s.add_argument("--output", required=True)
    s.add_argument("--rows", type=int, required=True)
    s.add_argument("--seed", type=int, default=42)

    args = p.parse_args(argv)
    spark = _session(args)
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "synth":
        from jarvis_ocr_service_spark.sources.pages import synthesize_pages

        synthesize_pages(spark, args.rows, seed=args.seed).write.mode(
            "overwrite"
        ).parquet(args.output)
        print(f"wrote {args.rows} pages to {args.output}")
        return 0

    if args.cmd == "extract":
        from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

        pages = spark.read.parquet(args.input)
        run_pipeline(pages, pdf_mode=args.pdf_mode).write.mode("overwrite").parquet(
            args.output
        )
        n = spark.read.parquet(args.output).count()
        print(f"extracted {n} documents -> {args.output}")
        return 0

    if args.cmd == "resume":
        from jarvis_ocr_service_spark.plans.checkpoint import (
            read_committed,
            run_checkpointed,
        )

        stats = run_checkpointed(
            spark, args.input, args.output, args.manifest,
            pdf_mode=args.pdf_mode, files_per_batch=args.files_per_batch,
        )
        print(stats)
        # an empty input commits no batch and writes no output or manifest
        n = (
            read_committed(spark, args.output, args.manifest).count()
            if stats["n_batches"] else 0
        )
        print(f"committed {n} documents -> {args.output}")
        return 0

    if args.cmd == "stream":
        from jarvis_ocr_service_spark.streaming.stream import run_stream

        q = run_stream(
            spark, args.input, args.output, args.checkpoint,
            pdf_mode=args.pdf_mode,
        )
        q.awaitTermination()
        print(f"stream drained -> {args.output}")
        return 0

    if args.cmd == "stream-prepare":
        from jarvis_ocr_service_spark.streaming.stream import run_stream_prepare

        q = run_stream_prepare(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            watermark=args.watermark,
            min_quality=args.min_quality,
            pdf_mode=args.pdf_mode,
            neardup_against_committed=args.neardup_against_committed,
            neardup_threshold=args.neardup_threshold,
        )
        q.awaitTermination()
        n = spark.read.parquet(args.output).count()
        print(f"stream-prepared {n} clean documents -> {args.output}")
        return 0

    if args.cmd == "prepare":
        from jarvis_ocr_service_spark.plans.caching import cache_scope
        from jarvis_ocr_service_spark.plans.prepare import prepare_training_data

        pages = spark.read.parquet(args.input)
        with cache_scope():
            prepare_training_data(
                pages,
                min_quality=args.min_quality,
                near_dup_threshold=args.near_dup_threshold or None,
                pdf_mode=args.pdf_mode,
                keep_ppl_buckets=_parse_ppl_buckets(args.keep_ppl_buckets),
            ).write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"prepared {n} clean documents -> {args.output}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
