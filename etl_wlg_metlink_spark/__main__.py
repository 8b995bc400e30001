"""CLI entry point — the engine's analogue of the reference's local
dev runner (task.ts:346 `await local(new Task(...), import.meta.url)`,
README.md:99-121 of the reference): one invocation = one scheduled run
of the composed pipeline.

    python -m etl_wlg_metlink_spark --fixture path/to/response.json
    python -m etl_wlg_metlink_spark --live            # needs METLINK_API_KEY
    python -m etl_wlg_metlink_spark --fixture f.json --out /tmp/features
    python -m etl_wlg_metlink_spark --corpus-build /tmp/corpus \
        --sf-dir /root/testdata/sf0.001   # LLM-corpus flagship: l42
        # build → bucketed parquet write → read-back audit (one line of
        # JSON per language on stdout)
    python -m etl_wlg_metlink_spark --schedule /data/landing \
        --config /etc/metlink.json --checkpoint /data/ckpt
        # scheduled-job unit (reference handler+Dockerfile,
        # task.ts:349-351): availableNow over the landing dir, one
        # FeatureCollection per file, exactly-once across re-runs via
        # the stable checkpoint

Config comes from the same env surface as the reference's Env
(METLINK_API_KEY, SHOW_BUSES/TRAINS/SHIPS, DEBUG — config.py). With
`--out` the features land as partitioned JSON-lines (the 100 TB sink);
without it the FeatureCollection envelope prints to stdout (the
reference's submit(), with stdout standing in for the CloudTAK POST).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path


def build_parser() -> argparse.ArgumentParser:
    """The CLI surface, buildable without side effects — the deploy
    unit's test parses the Dockerfile ENTRYPOINT/CMD through this to
    prove the shipped image invokes exactly the tested surface."""
    ap = argparse.ArgumentParser(prog="python -m etl_wlg_metlink_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--fixture", help="path to a GTFS-RT VehiclePositions JSON file")
    src.add_argument(
        "--live",
        action="store_true",
        help="fetch the live Metlink endpoint (METLINK_API_KEY env)",
    )
    src.add_argument(
        "--corpus-build",
        metavar="OUT_DIR",
        help="run the l42 corpus build (dedup -> quality -> mixture) and "
        "write the kept corpus there as a fp-bucketed parquet table; "
        "prints the read-back per-language audit as JSON lines",
    )
    src.add_argument(
        "--schedule",
        metavar="INPUT_DIR",
        help="scheduled-job mode (the reference's handler+Dockerfile "
        "unit, task.ts:349-351): run the availableNow envelope pipeline "
        "ONCE over a landing directory of raw GTFS-RT envelope JSON "
        "files — one FeatureCollection submitted per file — then exit",
    )
    ap.add_argument(
        "--resident",
        action="store_true",
        help="with --schedule: stay resident instead of exiting — poll "
        "the landing directory on a processingTime trigger (the "
        "reference's rate(1 minute) schedule, task.ts:122, with the "
        "engine's trigger clock as the scheduler), one landed envelope file "
        "per tick, until interrupted",
    )
    ap.add_argument(
        "--poll-interval",
        default="60 seconds",
        help="--resident trigger interval (processingTime string, "
        "default '60 seconds' to match the reference's schedule)",
    )
    ap.add_argument(
        "--config",
        help="JSON config file using the form-schema spellings "
        "(METLINK_API_KEY, Show_Buses, Show_Trains, Show_Ships, DEBUG); "
        "overrides env, which overrides defaults",
    )
    ap.add_argument(
        "--checkpoint",
        help="checkpoint dir for --schedule (default: a fresh temp dir; "
        "pass a stable path so a re-run after failure resumes instead "
        "of re-submitting processed files)",
    )
    ap.add_argument("--out", help="write JSON-lines features here instead of stdout")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="input tables dir for --corpus-build (default "
        "$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001)",
    )
    ap.add_argument("--master", default="local[*]", help="Spark master (default local[*])")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from etl_wlg_metlink_spark.config import MetlinkConfig
    from etl_wlg_metlink_spark.pipelines import metlink
    from etl_wlg_metlink_spark.session import build_session
    from etl_wlg_metlink_spark.sinks import geojson
    from etl_wlg_metlink_spark.sources import gtfs

    cfg = (
        MetlinkConfig.from_file_env(args.config)
        if args.config
        else MetlinkConfig.from_env()
    )
    spark = build_session(app_name="etl-wlg-metlink", master=args.master)

    if args.schedule:
        # S5 scheduled invocation as a packaged one-command unit: the
        # streaming envelope pipeline over the landing dir, one
        # FeatureCollection per landed file. availableNow processes
        # every landed file and stops; --resident keeps polling on a
        # processingTime trigger until interrupted. With a stable
        # --checkpoint this is exactly-once across re-invocations (a
        # cron/Lambda schedule re-running the same command skips
        # already-processed files), mirroring the reference's
        # handler+Dockerfile deploy unit; both modes share it.
        import tempfile

        from etl_wlg_metlink_spark.streaming import runners

        checkpoint = args.checkpoint or tempfile.mkdtemp(
            prefix="metlink_schedule_ckpt_"
        )
        # Surface the resolved checkpoint even when defaulted: a failed
        # invocation is only resumable if the operator can re-pass this
        # path, and a silent mkdtemp would strand the run's progress.
        print(f"checkpoint: {checkpoint}", file=sys.stderr)
        if not args.checkpoint:
            print(
                "warning: no --checkpoint given; using a temp dir — "
                "re-invocations will NOT be exactly-once. Pass "
                "--checkpoint <stable-dir> for scheduled use.",
                file=sys.stderr,
            )
        counters = {"submitted": 0, "batches": 0}

        def poster(fc: dict) -> None:
            counters["batches"] += 1
            counters["submitted"] += len(fc["features"])
            print(json.dumps(fc))

        if args.resident:
            q = runners.metlink_resident_stream(
                spark, args.schedule, poster, checkpoint, cfg=cfg,
                interval=args.poll_interval,
            )
        else:
            q = runners.metlink_envelope_stream(
                spark, args.schedule, poster, checkpoint, cfg=cfg
            )
        try:
            q.awaitTermination()
        except KeyboardInterrupt:
            q.stop()
        print(
            f"{'resident run stopped' if args.resident else 'scheduled run complete'}: "
            f"{counters['batches']} batches, {counters['submitted']} features submitted",
            file=sys.stderr,
        )
        return 0

    if args.corpus_build:
        from etl_wlg_metlink_spark.sinks import corpus

        counters, audit = corpus.write_corpus_build(
            spark, args.sf_dir, args.corpus_build
        )
        for row in sorted(audit.collect(), key=lambda r: r["lang"]):
            print(json.dumps(row.asDict()))
        print(
            f"corpus build: received {counters['received']}, dropped "
            f"{counters['dropped']}, wrote {counters['written']} docs to "
            f"{args.corpus_build}",
            file=sys.stderr,
        )
        return 0

    # A --fixture file stands in for the HTTP response, so a bad body
    # takes the same S3 error→empty fallback (task.ts:180-188) as a bad
    # live response: an empty FeatureCollection and exit 0.
    fetch_json = None
    if args.fixture:
        fetch_json = lambda url, headers: Path(args.fixture).read_text("utf-8")
    entities = gtfs.fetch_entities(
        spark, cfg.metlink_api_key, fetch_json=fetch_json, debug=cfg.debug
    )

    features = metlink.run(entities, cfg)
    if args.out:
        geojson.write_jsonl(features, args.out)
        n = spark.read.text(args.out).count()
        print(f"wrote {n} features to {args.out}", file=sys.stderr)
    else:
        fc = geojson.submit(features, poster=lambda fc: print(json.dumps(fc)))
        print(f"submitted {len(fc['features'])} features", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
