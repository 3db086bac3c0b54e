"""spark-submit entry point (reference analog: cli.py:19-83, which
parses argv → Config → convert/analyze dispatch).

Usage (local or spark-submit --py-files engine.zip):

    python -m parquet_converter_spark.cli synth  --out /tmp/t --convs 200
    python -m parquet_converter_spark.cli encode --input /tmp/t --out /tmp/enc
    python -m parquet_converter_spark.cli decode --out /tmp/enc --target /tmp/dec
    python -m parquet_converter_spark.cli verify --input /tmp/t --out /tmp/enc
    python -m parquet_converter_spark.cli report --out /tmp/enc

Exit code 1 on verification failure (reference analog: cli.py:198-200
exits 1 if any stats.errors).
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import get_spark


def _io(spark, out: str):
    from .tableio import open_tableio

    return open_tableio(spark, out)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="parquet_converter_spark")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--log-level", default="WARNING", help="console log level (stderr)")
    p.add_argument("--log-file", default=None, help="also log to this file")
    p.add_argument("--verbose", action="store_true", help="console logs at DEBUG")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("synth", help="write a deterministic synthetic transcript table")
    sp.add_argument("--out", required=True)
    sp.add_argument("--convs", type=int, default=200)
    sp.add_argument("--seed", type=int, default=42)

    _codec_choices = ["auto", "plain", "dict", "rle", "forbp", "delta", "dtrans", "wdict", "fsst"]
    ep = sub.add_parser("encode", help="encode a transcript table into blocks+manifest")
    ep.add_argument("--input", required=True, help="parquet dir of transcripts")
    ep.add_argument("--out", required=True, help="engine table root")
    # knob defaults are None sentinels: file config < PCS_* env < explicit flag
    ep.add_argument("--config", default=None, help="JSON/YAML EngineConfig file (reference --config)")
    ep.add_argument("--save-config", default=None, help="write the effective config JSON here")
    ep.add_argument("--codec", default=None, choices=_codec_choices)
    ep.add_argument(
        "--codec-cols", default=None,
        help="per-column codec overrides, e.g. 'text=fsst,ts=delta' (reference per-column dtypes)",
    )
    ep.add_argument("--salt-rows", type=int, default=None)
    ep.add_argument(
        "--time-bucket", default=None,
        help="time-clustered encode: hour|day|week|<seconds> — folds the event-time "
        "window into the group key so ts zone maps prune on batch tables",
    )
    ep.add_argument("--chunk-rows", type=int, default=None)
    ep.add_argument("--num-buckets", type=int, default=None)
    ep.add_argument("--run-id", default=None)
    ep.add_argument("--max-groups", type=int, default=None)
    ep.add_argument("--no-resume", action="store_true")

    cp = sub.add_parser("config", help="show or save the effective engine config")
    cp.add_argument("--config", default=None, help="base config file to load")
    cp.add_argument("--save", default=None, help="write effective config JSON here")

    dp = sub.add_parser("decode", help="decode committed blocks back to a transcript table")
    dp.add_argument("--out", required=True)
    dp.add_argument("--target", required=True)
    dp.add_argument("--columns", default=None, help="comma-separated column subset (pruned read)")
    dp.add_argument("--conv-id", default=None, help="decode one conversation (bucket-pruned point lookup)")
    dp.add_argument("--on-error", default="raise", choices=["raise", "skip"],
                    help="skip = per-block error isolation (corrupt blocks drop, job survives)")
    dp.add_argument("--ts-from", default=None,
                    help="exact time-slice decode start (ISO timestamp; zone-map block skipping)")
    dp.add_argument("--ts-to", default=None,
                    help="exact time-slice decode end (ISO timestamp; requires --ts-from)")

    vp = sub.add_parser("verify", help="bit-identical check: decode vs source")
    vp.add_argument("--input", required=True)
    vp.add_argument("--out", required=True)
    vp.add_argument(
        "--mode", default="digest", choices=["digest", "join", "multiset"],
        help="digest = scan-cost hash compare (the at-scale default); "
        "join = full-outer forensic mode (per-column mismatch COUNTS, "
        "shuffles both corpora); multiset = join variant for dup-key inputs",
    )

    rp = sub.add_parser("report", help="manifest/metrics summary (reference: conversion_report.json)")
    rp.add_argument("--out", required=True)

    mp = sub.add_parser("compact", help="rewrite under-filled groups into full-size blocks")
    mp.add_argument("--out", required=True)
    mp.add_argument("--min-fill", type=float, default=0.5,
                    help="rewrite groups averaging < min_fill*chunk_rows rows/block")
    mp.add_argument("--chunk-rows", type=int, default=65_536)
    mp.add_argument("--time-bucket", default=None,
                    help="re-cluster the rewrite by time window (hour|day|week|<seconds>)")
    mp.add_argument("--vacuum", action="store_true",
                    help="also rewrite the blocks table, physically dropping retired rows")
    mp.add_argument("--max-groups", type=int, default=None,
                    help="bound one maintenance window to this many groups; repeat until compacted_groups=0")

    tp = sub.add_parser("retention", help="drop rows older than a cutoff (zone-map-proven)")
    tp.add_argument("--out", required=True)
    tp.add_argument("--before", required=True, help="ISO timestamp; rows with ts < cutoff drop")
    tp.add_argument("--time-bucket", default=None)
    tp.add_argument("--vacuum", action="store_true")
    tp.add_argument("--max-groups", type=int, default=None,
                    help="bound one window's straddle rewrites; repeat until rewritten_groups=0")

    vcp = sub.add_parser("vacuum", help="physically reclaim retired/orphaned block rows")
    vcp.add_argument("--out", required=True)

    ap = sub.add_parser("analyze", help="profile parquet tables in a dir (reference --mode analyze)")
    ap.add_argument("--input", required=True, help="dir containing *.parquet tables")
    ap.add_argument("--report", default=None, help="write text report here (default stdout)")
    ap.add_argument("--json", dest="json_out", default=None, help="also write JSON report")
    ap.add_argument("--approx", action="store_true",
                    help="HLL distinct + approx median (the 100TB-scale profile)")

    args = p.parse_args(argv)
    from .logutil import setup_logging

    log = setup_logging(args.log_level, args.log_file, args.verbose)

    if args.cmd == "config":
        # pure JSON print/save — never pay JVM + SparkContext startup
        import dataclasses

        from .config import EngineConfig

        cfg = EngineConfig.load(args.config)
        if args.save:
            cfg.save(args.save)
        print(json.dumps(dataclasses.asdict(cfg)))
        return 0

    spark = get_spark(app=f"pcs-{args.cmd}", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    log.info("command=%s master=%s", args.cmd, args.master or "default")

    if args.cmd == "synth":
        from .synth import synth_distributed

        df = synth_distributed(spark, args.convs, args.seed)
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"written": args.out, "rows": n}))
        return 0

    if args.cmd == "encode":
        from .config import EngineConfig
        from .encode_job import encode_table
        from .schema import ENCODED_COLUMNS, TRANSCRIPT_SCHEMA

        # precedence: config file < PCS_* env (inside load) < explicit flag
        cfg = EngineConfig.load(args.config)
        if args.codec is not None:
            cfg.codec = args.codec
        if args.salt_rows is not None:
            cfg.salt_rows = args.salt_rows
        if args.chunk_rows is not None:
            cfg.chunk_rows = args.chunk_rows
        if args.num_buckets is not None:
            cfg.num_buckets = args.num_buckets
        if args.no_resume:
            cfg.resume = False
        if args.time_bucket is not None:
            cfg.time_bucket = args.time_bucket
        cfg.validate()
        if args.save_config:
            cfg.save(args.save_config)

        codec: str | dict = cfg.codec
        if args.codec_cols:
            overrides = {}
            for pair in args.codec_cols.split(","):
                col, _, name = pair.partition("=")
                col, name = col.strip(), name.strip()
                if col not in ENCODED_COLUMNS or name not in _codec_choices:
                    raise SystemExit(
                        f"--codec-cols: unknown column/codec {pair!r} "
                        f"(columns {sorted(ENCODED_COLUMNS)}, codecs {_codec_choices})"
                    )
                overrides[col] = name
            codec = {c: overrides.get(c, cfg.codec) for c in ENCODED_COLUMNS}

        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        summary = encode_table(
            spark,
            df,
            _io(spark, args.out),
            run_id=args.run_id,
            codec=codec,
            salt_rows=cfg.salt_rows,
            chunk_rows=cfg.chunk_rows,
            num_buckets=cfg.num_buckets,
            resume=cfg.resume,
            max_groups=args.max_groups,
            time_bucket=cfg.resolved_time_bucket(),
        )
        from .logutil import format_stats_table

        log.info(
            "encode summary:\n%s",
            format_stats_table(
                [
                    {
                        "run_id": summary["run_id"],
                        "groups": summary["groups"],
                        "errors": summary["errors"],
                        "rows": summary["rows"],
                        "encoded_bytes": summary["encoded_bytes"],
                        "status": "Success" if not summary["errors"] else "Partial",
                    }
                ]
            ),
        )
        print(json.dumps(summary))
        return 0

    if args.cmd == "decode":
        from .decode_job import decode_conversation, decode_table, decode_time_slice

        io = _io(spark, args.out)
        ts_range = None
        if args.ts_from or args.ts_to:
            if not (args.ts_from and args.ts_to):
                p.error("--ts-from and --ts-to must be given together")
            from datetime import datetime

            ts_range = (
                datetime.fromisoformat(args.ts_from),
                datetime.fromisoformat(args.ts_to),
            )
        if args.conv_id:
            # selectors COMPOSE: --conv-id narrows to one conversation
            # (bucket + conv-zone-map pruning); an added --ts-from/--ts-to
            # slices that conversation's window (ts-zone-map pruning)
            decoded = decode_conversation(
                spark, io, args.conv_id, on_error=args.on_error, ts_range=ts_range
            )
        elif ts_range is not None:
            lo, hi = ts_range
            cols = args.columns.split(",") if args.columns else None
            decoded = decode_time_slice(
                spark, io, lo, hi, columns=cols, on_error=args.on_error
            )
        else:
            cols = args.columns.split(",") if args.columns else None
            decoded = decode_table(spark, io, columns=cols, on_error=args.on_error)
        decoded.write.mode("overwrite").parquet(args.target)
        print(json.dumps({"written": args.target, "rows": spark.read.parquet(args.target).count()}))
        return 0

    if args.cmd == "verify":
        from .decode_job import decode_table
        from .schema import TRANSCRIPT_SCHEMA
        from .verify import verify_decode, verify_decode_digest, verify_decode_multiset

        fn = {
            "digest": verify_decode_digest,
            "join": verify_decode,
            "multiset": verify_decode_multiset,
        }[args.mode]
        ref = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        decoded = decode_table(spark, _io(spark, args.out))
        result = fn(decoded, ref)
        result["mode"] = args.mode
        print(json.dumps(result))
        return 0 if result["ok"] else 1

    if args.cmd == "compact":
        from .maintenance import compact_blocks, vacuum_blocks
        from .partitioning import resolve_time_bucket

        io = _io(spark, args.out)
        result = compact_blocks(
            spark, io, min_fill=args.min_fill, chunk_rows=args.chunk_rows,
            time_bucket=resolve_time_bucket(args.time_bucket),
            max_groups=args.max_groups,
        )
        if args.vacuum:
            result["vacuum"] = vacuum_blocks(spark, io)
        print(json.dumps(result))
        return 0

    if args.cmd == "retention":
        from datetime import datetime

        from .maintenance import retention_sweep, vacuum_blocks
        from .partitioning import resolve_time_bucket

        io = _io(spark, args.out)
        result = retention_sweep(
            spark, io, datetime.fromisoformat(args.before),
            time_bucket=resolve_time_bucket(args.time_bucket),
            max_groups=args.max_groups,
        )
        if args.vacuum:
            result["vacuum"] = vacuum_blocks(spark, io)
        print(json.dumps(result))
        return 0

    if args.cmd == "vacuum":
        from .maintenance import vacuum_blocks

        print(json.dumps(vacuum_blocks(spark, _io(spark, args.out))))
        return 0

    if args.cmd == "report":
        from . import checkpoint as ckpt
        from .maintenance import reclaimable_bytes, vacuum_remnants
        from pyspark.sql import functions as F

        io = _io(spark, args.out)
        snap = ckpt.ReadSnapshot(io)
        manifest = ckpt.read_manifest(io)
        # report VISIBLE state (what decode sees), plus maintenance debt
        summary = (
            manifest.where(F.col("status") == "done")
            .join(snap.visible, ckpt.TRIPLE, "left_semi")
            .agg(
                F.count("*").alias("groups"),
                F.sum("n_rows").alias("rows"),
                F.sum("encoded_bytes").alias("encoded_bytes"),
            )
            .collect()[0]
        )
        retired = manifest.where(F.col("status") == "retired").count()
        by_codec = (
            io.read(ckpt.METRICS)
            .join(snap.visible, ckpt.TRIPLE, "left_semi")
            .groupBy("column", "codec")
            .agg(F.sum("encoded_bytes").alias("bytes"), F.count("*").alias("groups"))
            .orderBy("column", "codec")
            .collect()
        )
        print(
            json.dumps(
                {
                    "groups": summary["groups"],
                    "rows": summary["rows"],
                    "encoded_bytes": summary["encoded_bytes"],
                    "retired_groups": retired,
                    # repair=False: report is READ-ONLY — it must not
                    # rename/delete directories (and must not race a
                    # vacuum mid-swap in another process); remnants of
                    # a crashed swap are surfaced instead of repaired
                    "reclaimable_bytes": reclaimable_bytes(io, repair=False),
                    "vacuum_remnants": vacuum_remnants(io),
                    "codecs": [
                        {
                            "column": r["column"],
                            "codec": r["codec"],
                            "bytes": r["bytes"],
                            "groups": r["groups"],
                        }
                        for r in by_codec
                    ],
                }
            )
        )
        return 0

    if args.cmd == "analyze":
        import os

        from .operators.analyzer import analyze_table, format_report, save_json_report
        from .sources.readers import discover_tables

        paths = discover_tables(spark, args.input)
        analyses = {}
        for p in paths:
            name = os.path.basename(p)
            analyses[name] = analyze_table(spark.read.parquet(p), approx=args.approx)
        text = format_report(analyses)
        if args.report:
            with open(args.report, "w") as f:
                f.write(text)
            print(json.dumps({"written": args.report, "tables": len(analyses)}))
        else:
            print(text)
        if args.json_out:
            save_json_report(analyses, args.json_out)
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
