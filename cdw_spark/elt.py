"""Command-line entry point — the reference's two-command run story
(``python create_tables.py && python etl.py``, reference README.md:66-84)
as one module:

    python -m cdw_spark.elt --log-path DIR --song-path DIR --out DIR

does config -> session -> staging loads (etl.py:6-15) -> the five
star-table transforms + writes (etl.py:17-27, insert order
sql_queries.py:227). By default each of the seven tables is reset: its
write overwrites, which is the reference's DROP, CREATE, then INSERT
(create_tables.py:30-43 before etl.py), so a rerun leaves one copy.
``--skip-reset`` runs only the etl.py half: every write appends, and a
rerun duplicates rows (quirk K6). ``--fixed`` switches the documented
quirk set (NULL songplay_id, weekday bug, ...) to the corrected variants.

Config file support mirrors the reference's dwh.cfg (configparser ini):
an optional ``--config FILE`` with a ``[DATA]`` section supplying
``log_data`` / ``song_data`` / ``out_dir``; explicit CLI flags win.
The reference's S3 URIs (dwh.cfg:20-22) work unchanged when the session
has an s3a filesystem configured (session.s3a_conf).
"""

from __future__ import annotations

import argparse
import configparser
import sys


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        prog="python -m cdw_spark.elt",
        description="Run the Sparkify ELT: stage JSON, build the star schema, "
        "write layout-aware parquet.",
    )
    ap.add_argument("--config", help="ini file with a [DATA] section (dwh.cfg analog)")
    ap.add_argument("--log-path", help="events JSON dir/glob (LOG_DATA)")
    ap.add_argument("--song-path", help="songs JSON dir/glob (SONG_DATA)")
    ap.add_argument("--out", help="output directory for the staging + star parquet")
    ap.add_argument(
        "--fixed",
        action="store_true",
        help="use the corrected transforms instead of the faithful quirk set",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="treat the inputs as a NEW batch: dims upsert, facts append "
        "(run_elt_incremental; fixed-mode transforms)",
    )
    ap.add_argument(
        "--skip-reset",
        action="store_true",
        help="skip the create_tables.py half: append to the tables under --out "
        "instead of replacing them (the reference's rerun, quirk K6)",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    cfg: dict[str, str] = {}
    if args.config:
        ini = configparser.ConfigParser()
        ini.read(args.config)
        if ini.has_section("DATA"):
            cfg = {k: v.strip("'\"") for k, v in ini["DATA"].items()}
    log_path = args.log_path or cfg.get("log_data")
    song_path = args.song_path or cfg.get("song_data")
    out_dir = args.out or cfg.get("out_dir")
    missing = [n for n, v in
               [("--log-path", log_path), ("--song-path", song_path), ("--out", out_dir)]
               if not v]
    if missing:
        print(f"missing {', '.join(missing)} (flag or [DATA] config key)", file=sys.stderr)
        return 2

    from .pipeline.elt import run_elt, run_elt_incremental
    from .session import get_spark

    spark = get_spark(app_name="cdw_spark.elt")
    if args.incremental:
        paths = run_elt_incremental(spark, log_path, song_path, out_dir)
    else:
        paths = run_elt(
            spark, log_path, song_path, out_dir,
            faithful=not args.fixed, mode="append" if args.skip_reset else "overwrite",
        )
    for name, path in paths.items():
        n = spark.read.parquet(path).count()
        print(f"{name}: {n} rows -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
