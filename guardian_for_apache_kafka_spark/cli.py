"""Guardian-compatible CLI: backup / restore / compaction entry points.

Flag parity with the reference CLIs (file:line into /root/reference):
- shared flags --kafka-topics (repeatable), --kafka-bootstrap-servers,
  --s3-data-bucket: core-cli/src/main/scala/io/aiven/guardian/cli/options/
  Options.scala:16-28 (the --storage selector collapses into the URI scheme of
  the destination: s3a://bucket/prefix vs local path — Spark's Hadoop FS layer
  owns storage dispatch).
- backup flags --kafka-group-id / --period-from-first / --chrono-unit-slice /
  --commit-timeout-buffer-window and the gzip subcommand's
  --compression-level: cli-backup/src/main/scala/io/aiven/guardian/kafka/
  backup/Main.scala:36-60 (gzip subcommand becomes --compression gzip;
  --kafka-group-id and the commit buffer are accepted-and-recorded only — the
  Structured Streaming checkpoint owns group/commit state, SURVEY.md §2.1 K4).
- restore flags --from-when / --override-topics key:value /
  --single-message-per-kafka-request: cli-restore/src/main/scala/io/aiven/
  guardian/kafka/restore/Main.scala:40-142.
- compaction: the reference stubbed it (core-compaction ``???`` bodies); here
  it is the finished latest-per-key operator.

Sources/sinks: with --kafka-bootstrap-servers the Kafka edges are used
(requires the spark-sql-kafka jar); otherwise --source/--target parquet or
guardian-format directories drive the same pipelines file-to-file — the
library is the product, the CLI is a thin adapter.

Usage:
  python -m guardian_for_apache_kafka_spark.cli backup --source events.parquet \
      --dest /archive --chrono-unit-slice hours --format guardian
  python -m guardian_for_apache_kafka_spark.cli restore --source /archive \
      --from-when 2024-01-15T00:00:00Z --override-topics click:tap --target /out
  python -m guardian_for_apache_kafka_spark.cli compact --source /archive --target /compacted
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import sys

from guardian_for_apache_kafka_spark.core.timeslice import (
    _CHRONO_UNIT_SECONDS,
    ChronoUnitSlice,
    PeriodFromFirst,
    TimeConfiguration,
)


_HOCON_DURATION_UNITS = {
    "s": 1, "second": 1, "seconds": 1,
    "m": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
}


def _parse_iso_duration_seconds(text: str) -> int:
    """PT15M / PT1H / plain seconds / HOCON-style ``1 hour`` -> seconds.

    The flag grammar matches the FiniteDuration values the reference CLI
    accepts; the ``<n> <unit>`` form matches its config-file/env defaults
    (core-backup/src/main/resources/reference.conf:44 ``duration = 1 hour``)
    so the same value works in every layer of the precedence chain."""
    t = text.strip().upper()
    if t.isdigit():
        return int(t)
    parts = text.strip().lower().split()
    if len(parts) == 2 and parts[0].isdigit() and parts[1] in _HOCON_DURATION_UNITS:
        return int(parts[0]) * _HOCON_DURATION_UNITS[parts[1]]
    if not t.startswith("PT"):
        raise argparse.ArgumentTypeError(f"expected PT<n>H/M/S, '<n> <unit>' or seconds, got {text!r}")
    total, num = 0, ""
    for ch in t[2:]:
        if ch.isdigit():
            num += ch
        elif ch in "HMS" and num:
            total += int(num) * {"H": 3600, "M": 60, "S": 1}[ch]
            num = ""
        else:
            raise argparse.ArgumentTypeError(f"bad duration: {text!r}")
    if num:
        raise argparse.ArgumentTypeError(f"bad duration: {text!r}")
    return total


def _parse_from_when(text: str) -> _dt.datetime:
    return _dt.datetime.fromisoformat(text)


def _parse_override_topics(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for p in pairs:
        parts = p.split(":")
        if len(parts) != 2:
            raise argparse.ArgumentTypeError(f"expected colon delimited key:value, got {p!r}")
        out[parts[0]] = parts[1]
    return out


def _time_configuration(args: argparse.Namespace) -> TimeConfiguration:
    if args.period_from_first and args.chrono_unit_slice:
        raise SystemExit("--period-from-first and --chrono-unit-slice are mutually exclusive")
    if args.period_from_first:
        # PeriodFromFirst.duration is a timedelta (period_micros calls
        # .total_seconds()); a bare int crashes the non-dry-run path.
        return PeriodFromFirst(
            _dt.timedelta(seconds=_parse_iso_duration_seconds(args.period_from_first))
        )
    unit = (args.chrono_unit_slice or "hours").upper()
    if unit not in _CHRONO_UNIT_SECONDS:
        raise SystemExit(
            f"unsupported chrono unit {unit!r}; one of {sorted(_CHRONO_UNIT_SECONDS)}"
        )
    return ChronoUnitSlice(unit)


# ---------------------------------------------------------------------------
# config-file / environment fallback
#
# Precedence mirrors the reference (cli-backup/.../Main.scala:75-79: a fully
# specified flag set wins, otherwise PureConfig loads reference.conf whose
# every key carries a ${?ENV_VAR} override — i.e. flags > env > config file >
# built-in defaults). Env names are the reference's own
# (core-backup/src/main/resources/reference.conf:37-47,
# core-restore/.../reference.conf:12-15, core/.../reference.conf:6-9,
# core-s3/.../reference.conf:51): BACKUP_KAFKA_GROUP_ID,
# BACKUP_TIME_CONFIGURATION_{TYPE,CHRONO_UNIT,DURATION},
# BACKUP_COMMIT_TIMEOUT_BUFFER, RESTORE_FROM_WHEN, RESTORE_OVERRIDE_TOPICS,
# KAFKA_CLUSTER_TOPICS, KAFKA_CLUSTER_BOOTSTRAP_SERVERS,
# S3_CONFIG_DATA_BUCKET. The config file (--config or $GUARDIAN_CONFIG) is
# JSON or TOML shaped like the reference's HOCON: top-level sections
# ``kafka-cluster`` / ``s3`` / ``backup`` / ``restore`` / one per subcommand,
# kebab-case keys.
# ---------------------------------------------------------------------------

# arg -> (env var, parse kind). List-valued env vars are comma-separated.
_ENV_FALLBACKS: dict[str, tuple[str, str]] = {
    "kafka_topics": ("KAFKA_CLUSTER_TOPICS", "list"),
    "kafka_bootstrap_servers": ("KAFKA_CLUSTER_BOOTSTRAP_SERVERS", "list"),
    "s3_data_bucket": ("S3_CONFIG_DATA_BUCKET", "str"),
    "kafka_group_id": ("BACKUP_KAFKA_GROUP_ID", "str"),
    "commit_timeout_buffer_window": ("BACKUP_COMMIT_TIMEOUT_BUFFER", "str"),
    "from_when": ("RESTORE_FROM_WHEN", "datetime"),
    "override_topics": ("RESTORE_OVERRIDE_TOPICS", "pairs"),
}

# args resolvable from shared config-file sections (section, kebab-key)
_SHARED_FILE_KEYS: dict[str, tuple[str, str]] = {
    "kafka_topics": ("kafka-cluster", "topics"),
    "kafka_bootstrap_servers": ("kafka-cluster", "bootstrap-servers"),
    "s3_data_bucket": ("s3", "data-bucket"),
}

# hard defaults applied AFTER the precedence chain (argparse defaults stay
# None so an env/file value is distinguishable from "not given")
_POST_DEFAULTS: dict[str, dict[str, object]] = {
    "backup": {"commit_timeout_buffer_window": "PT10S", "format": "guardian"},
    "restore": {"format": "guardian"},
    "compact": {"format": "guardian"},
    "audit": {"format": "json"},
    "maintain": {"files_per_slice": 1},
    "prepare": {"minhash_threshold": 0.7, "splits": "train:0.98,val:0.01,test:0.01"},
}


def _load_config_file(path: str) -> dict:
    import os

    if not os.path.exists(path):
        raise SystemExit(f"config file not found: {path}")
    text = open(path, "rb").read()
    if path.endswith(".toml"):
        import tomllib

        return tomllib.loads(text.decode())
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        import tomllib

        try:
            return tomllib.loads(text.decode())
        except tomllib.TOMLDecodeError:
            raise SystemExit(f"config file {path} is neither valid JSON nor TOML")


#: type coercion for config-file keys whose flag twin has a parsing type=
#: but which have no env-var fallback entry (the flag path parses these with
#: argparse type=; the file path must match or downstream comparisons crash)
_CONFIG_KINDS = {
    "before": "datetime",
    "from_when": "datetime",
    "minhash_threshold": "float",
    "compression_level": "int",
    "files_per_slice": "int",
    "max_offsets_per_trigger": "int",
}


def _coerce(kind: str, value: object) -> object:
    if kind == "list":
        if isinstance(value, str):
            return [v.strip() for v in value.split(",") if v.strip()]
        return list(value)
    if kind == "datetime":
        return _parse_from_when(value) if isinstance(value, str) else value
    if kind == "int":
        return int(value)
    if kind == "float":
        return float(value)
    if kind == "pairs":
        if isinstance(value, dict):
            return [f"{k}:{v}" for k, v in value.items()]
        if isinstance(value, str):
            return [v.strip() for v in value.split(",") if v.strip()]
        return list(value)
    return value


def apply_config_fallbacks(args: argparse.Namespace, env=None) -> argparse.Namespace:
    """Fill unset args from env vars, then a config file, then hard defaults.

    An argparse value of ``None``/``[]``/``False`` counts as "not given on the
    command line" (flags only ever add information, mirroring the reference's
    flags-or-config validation)."""
    import os

    env = os.environ if env is None else env

    def unset(name: str) -> bool:
        # identity check for False: 0/0.0 are == False but ARE explicit
        # values (e.g. --minhash-threshold 0.0 must not fall back)
        v = getattr(args, name, None)
        return v is None or v == [] or v is False

    # 1. reference env vars
    for arg, (var, kind) in _ENV_FALLBACKS.items():
        if hasattr(args, arg) and unset(arg) and env.get(var):
            setattr(args, arg, _coerce(kind, env[var]))
    if (
        hasattr(args, "period_from_first")
        and unset("period_from_first")
        and unset("chrono_unit_slice")
    ):
        tc_type = env.get("BACKUP_TIME_CONFIGURATION_TYPE")
        if tc_type == "period-from-first":
            dur = env.get("BACKUP_TIME_CONFIGURATION_DURATION", "1 hour")
            args.period_from_first = str(_parse_iso_duration_seconds(dur))
        elif tc_type == "chrono-unit-slice" or env.get("BACKUP_TIME_CONFIGURATION_CHRONO_UNIT"):
            args.chrono_unit_slice = env.get("BACKUP_TIME_CONFIGURATION_CHRONO_UNIT", "hours")

    # 2. config file (flag > $GUARDIAN_CONFIG)
    path = getattr(args, "config", None) or env.get("GUARDIAN_CONFIG")
    if path:
        cfg = _load_config_file(path)
        section = cfg.get(args.command, {})
        for arg in vars(args):
            if not unset(arg) or arg in ("command", "config"):
                continue
            key = arg.replace("_", "-")
            if key in section:
                kind = _ENV_FALLBACKS.get(arg, ("", _CONFIG_KINDS.get(arg, "str")))[1]
                setattr(args, arg, _coerce(kind, section[key]))
            elif arg in _SHARED_FILE_KEYS:
                shared, skey = _SHARED_FILE_KEYS[arg]
                if skey in cfg.get(shared, {}):
                    setattr(args, arg, _coerce("list" if arg != "s3_data_bucket" else "str",
                                               cfg[shared][skey]))
        tc = section.get("time-configuration")
        if tc and unset("period_from_first") and unset("chrono_unit_slice"):
            if tc.get("type") == "period-from-first":
                args.period_from_first = str(_parse_iso_duration_seconds(tc.get("duration", "1 hour")))
            else:
                args.chrono_unit_slice = tc.get("chrono-unit", "hours")

    # 3. hard defaults
    for arg, default in _POST_DEFAULTS.get(args.command, {}).items():
        if hasattr(args, arg) and unset(arg):
            setattr(args, arg, default)
    return args


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="guardian-spark", description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--kafka-topics", action="append", default=None,
                        help="Kafka topics to operate on (repeatable)")
        sp.add_argument("--kafka-bootstrap-servers", action="append", default=None,
                        help="Kafka bootstrap servers (repeatable)")
        sp.add_argument("--s3-data-bucket", default=None,
                        help="S3 bucket for backup data (alias for an s3a:// dest/source)")
        sp.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
        sp.add_argument("--dry-run", action="store_true",
                        help="Print the resolved plan config as JSON and exit without starting Spark")
        sp.add_argument("--config", default=None, metavar="FILE",
                        help="JSON/TOML config file supplying unset values "
                             "(also $GUARDIAN_CONFIG); flags > env > file")

    b = sub.add_parser("backup", help="archive records into time-sliced objects")
    common(b)
    b.add_argument("--source", default=None,
                   help="parquet file/dir of records (stand-in source when no Kafka)")
    b.add_argument("--dest", default=None, help="archive directory (local path or s3a:// URI)")
    b.add_argument("--kafka-group-id", default=None,
                   help="accepted for parity; offset state lives in the checkpoint")
    b.add_argument("--period-from-first", default=None, metavar="PT15M",
                   help="PeriodFromFirst slice duration")
    b.add_argument("--chrono-unit-slice", default=None, metavar="hours",
                   help="ChronoUnitSlice calendar unit (default: hours)")
    b.add_argument("--commit-timeout-buffer-window", default=None,
                   help="accepted for parity; commit timing is checkpoint-managed")
    b.add_argument("--compression", choices=["gzip"], default=None)
    b.add_argument("--compression-level", type=int, default=None, choices=range(1, 10),
                   metavar="1-9", help="gzip level: exact for guardian format, "
                   "nearest codec class (fast/default/best) for json/parquet")
    b.add_argument("--format", choices=["guardian", "json", "parquet", "orc"], default=None,
                   help="guardian = reference byte-format array files; json = partitioned "
                        "JSON-lines; parquet/orc = columnar archival (gzip maps to "
                        "orc's zlib)")
    b.add_argument("--streaming", action="store_true",
                   help="run as a Structured Streaming query (availableNow) with a checkpoint")
    b.add_argument("--checkpoint", default=None, help="checkpoint dir for --streaming")
    b.add_argument("--instance-id", default=None,
                   help="shared-archive multi-writer: this instance owns "
                        "<dest>/<id> and <checkpoint>/<id>; restore with --instances")

    r = sub.add_parser("restore", help="read archived slices and produce records")
    common(r)
    r.add_argument("--source", default=None, help="archive directory")
    r.add_argument("--from-when", type=_parse_from_when, default=None,
                   help="Only restore records from a given ISO-8601 time")
    r.add_argument("--override-topics", action="append", default=[], metavar="key:value",
                   help="Restore a topic under a different name (repeatable)")
    r.add_argument("--single-message-per-kafka-request", action="store_true",
                   help="idempotent single-in-flight producer mode")
    r.add_argument("--format", choices=["guardian", "json", "parquet", "orc"], default=None,
                   help="archive layout to read (matches the backup --format)")
    r.add_argument("--instances", action="store_true",
                   help="read per-instance roots under --source (concurrent-backup layout; json format)")
    r.add_argument("--snapshot", action="store_true",
                   help="restore from the latest committed snapshot (commit-log "
                        "archives; orphans of crashed writers stay invisible)")
    r.add_argument("--version", type=int, default=None, dest="as_of_version",
                   help="restore the archive as of a committed version "
                        "(point-in-time restore; implies --snapshot)")
    r.add_argument("--target", default=None,
                   help="output parquet dir (or Kafka when bootstrap servers are given)")

    de = sub.add_parser("describe", help="per-slice archive inventory (files, bytes, records)")
    common(de)
    de.add_argument("--dest", required=False, default=None, help="archive directory")

    qr = sub.add_parser("query", help="run a registered engine query and print "
                        "JSON rows (see plans/registry.py; --list shows names)")
    common(qr)
    qr.add_argument("--name", default=None, help="registry query name")
    qr.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table directory (parquet per FIXTURES.md)")
    qr.add_argument("--list", action="store_true", help="list registered queries")
    qr.add_argument("--limit", type=int, default=100,
                    help="max rows printed (the query's own LIMIT still applies)")
    qr.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead of rows "
                         "(the .explain('formatted') the SCALE.md audits read)")

    rp = sub.add_parser("retention", help="retention expiry dry-run: per-slice "
                        "expire verdicts against a cutoff (review before deleting)")
    common(rp)
    rp.add_argument("--dest", required=False, default=None, help="archive directory")
    rp.add_argument("--before", type=_parse_from_when, default=None,
                    help="slices strictly before this ISO-8601 time expire")

    gp = sub.add_parser("gaps", help="missing-slice gap report for a calendar-"
                        "aligned archive (did the backup pipeline silently stop?)")
    common(gp)
    gp.add_argument("--dest", required=False, default=None, help="archive directory")
    gp.add_argument("--step-minutes", type=int, default=60,
                    help="expected slice cadence (default hourly)")

    m = sub.add_parser("maintain", help="small-file compaction of a JSON-lines archive")
    common(m)
    m.add_argument("--dest", required=False, default=None, help="archive directory")
    m.add_argument("--files-per-slice", type=int, default=None)
    m.add_argument("--before", type=_parse_from_when, default=None,
                   help="only compact slices strictly before this ISO-8601 time (closed slices)")

    c = sub.add_parser("compact", help="latest-per-key compaction of an archive")
    common(c)
    c.add_argument("--source", default=None, help="archive directory")
    c.add_argument("--format", choices=["guardian", "json", "parquet", "orc"], default=None)
    c.add_argument("--target", required=False, default=None, help="compacted parquet dir")
    c.add_argument("--as-of", type=_parse_from_when, default=None, metavar="ISO_TIME",
                   help="point-in-time compaction: only records with timestamp <= AS_OF "
                        "participate, yielding the latest-per-key snapshot AS OF that "
                        "time (the batch twin of operators/merge.snapshot_asof)")

    pr = sub.add_parser("prepare", help="training-data pipeline: quality filter -> "
                        "near-dedup -> content-stable splits")
    common(pr)
    pr.add_argument("--documents", default=None,
                    help="input parquet with (doc_id, text, ...) columns")
    pr.add_argument("--output", default=None, help="output parquet dir, partitioned by split")
    pr.add_argument("--minhash-threshold", type=float, default=None,
                    help="exact-verified near-dup Jaccard drop threshold")
    pr.add_argument("--splits", default=None,
                    help="name:weight pairs summing to 1")

    pf = sub.add_parser("profile", help="single-pass per-column stats of a parquet table")
    common(pf)
    pf.add_argument("--input", default=None, help="parquet dir to profile")
    pf.add_argument("--columns", default=None,
                    help="comma-separated columns (default: all numeric)")
    pf.add_argument("--approx", action="store_true",
                    help="use approx_count_distinct (no Expand; for very hot tables)")

    ck = sub.add_parser("check", help="archive integrity report: corrupt-object scan "
                        "(files whose JSON parse yields zero records despite content) "
                        "plus the per-slice inventory")
    common(ck)
    ck.add_argument("--dest", default=None, help="archive directory")
    ck.add_argument("--format", choices=["guardian", "json"], default=None,
                    help="archive layout (default guardian)")

    mf = sub.add_parser("manifest", help="per-slice fixity manifest of a guardian "
                        "archive: record counts + order-independent content "
                        "checksums (store next to the archive; re-run and diff "
                        "before trusting a restore)")
    common(mf)
    mf.add_argument("--dest", default=None, help="archive directory")

    zp = sub.add_parser("zonemap", help="per-slice topic zone map of a guardian "
                        "archive: write _guardian_zonemap.json so topic-filtered "
                        "DataSource scans (.option('zonemap','true')) skip whole "
                        "objects; REBUILD after every write")
    common(zp)
    zp.add_argument("--dest", default=None, help="archive directory")
    zp.add_argument("--no-write", action="store_true",
                    help="print the map without writing the file")

    df_ = sub.add_parser("diff", help="replication diff of two guardian archives: "
                         "per-slice in_sync / divergent / missing from the two "
                         "fixity manifests")
    common(df_)
    df_.add_argument("--dest-a", required=False, default=None, help="primary archive")
    df_.add_argument("--dest-b", required=False, default=None, help="replica archive")

    fg = sub.add_parser("forget", help="right-to-be-forgotten erasure: drop all records "
                        "with the given Kafka keys from a JSON-lines archive")
    common(fg)
    fg.add_argument("--dest", default=None, help="archive directory")
    fg.add_argument("--key", action="append", default=[], metavar="KEY",
                    help="raw key to forget (repeatable; utf-8, Base64-encoded "
                         "to the wire format internally)")
    fg.add_argument("--keys-base64", action="append", default=[], metavar="B64",
                    help="already-Base64 key to forget (repeatable)")

    a = sub.add_parser("audit", help="report source records missing from an archive")
    common(a)
    a.add_argument("--records", default=None, help="source records parquet dir")
    a.add_argument("--archive", default=None, help="archive directory to audit")
    a.add_argument("--format", choices=["guardian", "json", "parquet", "orc"], default=None,
                   help="archive layout to audit (matches the backup --format)")
    a.add_argument("--instances", action="store_true",
                   help="audit per-instance roots under --archive")
    a.add_argument("--target", default=None,
                   help="optional parquet dir for the missing records themselves")

    lg = sub.add_parser("log", help="commit-log inspection of a guardian archive "
                        "(operators/commitlog): versions, snapshot state, per-"
                        "commit summary; --init bootstraps an existing archive")
    common(lg)
    lg.add_argument("--dest", default=None, help="archive directory")
    lg.add_argument("--version", type=int, default=None,
                    help="report the snapshot as of this version (default: latest)")
    lg.add_argument("--init", action="store_true",
                    help="bootstrap: commit every existing object as version 0 "
                         "(the CONVERT commit); refuses if a log exists")
    lg.add_argument("--no-digest", action="store_true",
                    help="skip md5 digests when --init snapshots existing objects")

    vc = sub.add_parser("vacuum", help="physically delete archive objects "
                        "unreferenced by the retained snapshots (logical removes "
                        "become physical here; old versions stop time-traveling)")
    common(vc)
    vc.add_argument("--dest", default=None, help="archive directory")
    vc.add_argument("--retain", type=int, default=1,
                    help="newest versions kept readable (default 1)")
    vc.add_argument("--orphans", action="store_true",
                    help="also collect objects the log never referenced (crashed-"
                         "writer debris); run only while no writer is active")
    return p


def _resolved_config(args: argparse.Namespace) -> dict:
    cfg = {
        k: v for k, v in vars(args).items()
        if not (v is None or v == [] or v is False)
    }
    cfg.pop("dry_run", None)
    cfg.pop("config", None)
    if args.command == "backup":
        tc = _time_configuration(args)
        cfg["time_configuration"] = repr(tc)
    if getattr(args, "override_topics", None):
        cfg["override_topics"] = _parse_override_topics(args.override_topics)
    return cfg


def main(argv: list[str] | None = None) -> int:
    args = apply_config_fallbacks(build_parser().parse_args(argv))
    # env scheme aliases (SPARK_GRAFT_SCHEME_ALIASES, e.g. "minio=s3a")
    # rewrite every URI-bearing argument ONCE at the boundary, so both the
    # Hadoop-side consumers (spark.read over archives, session listing) and
    # the sessionless pyarrow paths (which also normalize via resolve_fs)
    # see the same target scheme end-to-end
    from guardian_for_apache_kafka_spark.operators.backup import normalize_uri

    for uri_arg in ("dest", "source", "dest_a", "dest_b", "archive", "target", "checkpoint"):
        val = getattr(args, uri_arg, None)
        if isinstance(val, str):
            setattr(args, uri_arg, normalize_uri(val))
    cfg = _resolved_config(args)
    if args.dry_run:
        print(json.dumps(cfg, default=str))
        return 0

    # commit-log verbs are metadata-only (driver-side JSON fold) — no session
    if args.command == "log":
        from guardian_for_apache_kafka_spark.operators import commitlog as cl

        if not args.dest:
            raise SystemExit("--dest is required for log")
        if args.init:
            v = cl.init_commit_log(args.dest, digest=not args.no_digest)
            print(json.dumps({"initialized_version": v}))
            return 0
        versions = cl.list_versions(args.dest)
        if not versions:
            raise SystemExit("no commit log at --dest (bootstrap with log --init)")
        snap = cl.snapshot(args.dest, args.version)
        commits = []
        for v in versions:
            c = cl.read_commit(args.dest, v)
            commits.append({
                "version": v,
                "operation": c["operation"],
                "writer": c["writer"],
                "committed_at": c["committed_at"],
                "adds": sum(1 for x in c["actions"] if x["op"] == "add"),
                "removes": sum(1 for x in c["actions"] if x["op"] == "remove"),
            })
        recs = [m.get("records") for m in snap["files"].values()]
        print(json.dumps({
            "latest": versions[-1],
            "snapshot_version": snap["version"],
            "live_files": len(snap["files"]),
            # census is best-effort metadata: None when any add lacks it
            "live_records": (
                sum(recs) if recs and all(r is not None for r in recs) else None
            ),
            "commits": commits,
        }, default=str))
        return 0

    if args.command == "vacuum":
        from guardian_for_apache_kafka_spark.operators import commitlog as cl

        if not args.dest:
            raise SystemExit("--dest is required for vacuum")
        deleted = cl.vacuum(
            args.dest, retain_versions=args.retain, orphans=args.orphans
        )
        print(json.dumps({"n_deleted": len(deleted), "deleted": deleted}))
        return 0

    from guardian_for_apache_kafka_spark.session import get_spark

    spark = get_spark(f"guardian-{args.command}", master=args.master)
    bootstrap = ",".join(args.kafka_bootstrap_servers) if args.kafka_bootstrap_servers else None

    if args.command == "backup":
        tc = _time_configuration(args)
        compression = args.compression
        if bootstrap:
            from guardian_for_apache_kafka_spark.streaming.kafka import kafka_record_stream
            from guardian_for_apache_kafka_spark.streaming.pipeline import (
                stream_backup,
                stream_backup_foreach_batch,
            )

            records = kafka_record_stream(spark, bootstrap, set(args.kafka_topics or []))
            if not args.checkpoint:
                raise SystemExit("--checkpoint is required for Kafka-sourced backup")
            if isinstance(tc, PeriodFromFirst):
                q = stream_backup_foreach_batch(
                    records, args.dest, args.checkpoint, tc, instance_id=args.instance_id
                )
            else:
                q = stream_backup(
                    records, args.dest, args.checkpoint, tc, compression,
                    instance_id=args.instance_id,
                )
            q.awaitTermination()
        elif args.streaming:
            from guardian_for_apache_kafka_spark.streaming.pipeline import (
                records_file_stream,
                stream_backup,
                stream_backup_foreach_batch,
            )

            if not args.source or not args.dest or not args.checkpoint:
                raise SystemExit("--source, --dest and --checkpoint are required for --streaming")
            records = records_file_stream(spark, args.source)
            if args.kafka_topics:
                from pyspark.sql import functions as F

                records = records.where(F.col("topic").isin(args.kafka_topics))
            if isinstance(tc, PeriodFromFirst):
                q = stream_backup_foreach_batch(
                    records, args.dest, args.checkpoint, tc, instance_id=args.instance_id
                )
            else:
                q = stream_backup(
                    records, args.dest, args.checkpoint, tc, compression,
                    instance_id=args.instance_id,
                )
            q.awaitTermination()
        else:
            from guardian_for_apache_kafka_spark.operators.backup import (
                backup_batch,
                write_guardian_format,
            )

            if not args.source or not args.dest:
                raise SystemExit("--source and --dest are required without Kafka")
            records = spark.read.schema(
                "topic STRING, partition INT, offset BIGINT, key BINARY, value BINARY, "
                "timestamp TIMESTAMP, timestamp_type INT"
            ).parquet(args.source)
            if args.kafka_topics:
                from pyspark.sql import functions as F

                records = records.where(F.col("topic").isin(args.kafka_topics))
            if args.format == "guardian":
                write_guardian_format(
                    records, args.dest, tc, compression=compression,
                    compression_level=args.compression_level,
                )
            else:
                backup_batch(
                    records, args.dest, tc, compression=compression, fmt=args.format,
                    compression_level=args.compression_level,
                )
        return 0

    if args.command == "restore":
        from guardian_for_apache_kafka_spark.operators.restore import (
            restore_batch,
            restore_to_producer_records,
        )

        records = restore_batch(
            spark,
            args.source,
            topics=set(args.kafka_topics) if args.kafka_topics else None,
            from_when=args.from_when,
            fmt=args.format,
            instances=args.instances,
            snapshot=args.snapshot,
            version=args.as_of_version,
        )
        overrides = _parse_override_topics(args.override_topics)
        if bootstrap:
            from guardian_for_apache_kafka_spark.streaming.kafka import write_records_to_kafka

            write_records_to_kafka(
                records, bootstrap, overrides or None,
                single_message_per_request=args.single_message_per_kafka_request,
            )
        else:
            if not args.target:
                raise SystemExit("--target is required without Kafka bootstrap servers")
            out = restore_to_producer_records(records, overrides or None)
            out.write.mode("overwrite").parquet(args.target)
        return 0

    if args.command == "prepare":
        from guardian_for_apache_kafka_spark.operators.dedup import minhash_verified_dedup
        from guardian_for_apache_kafka_spark.operators.sampling import split_label
        from guardian_for_apache_kafka_spark.operators.text import quality_filter

        if not args.documents or not args.output:
            raise SystemExit("--documents and --output are required for prepare")
        weights = {}
        for part in args.splits.split(","):
            name, w = part.split(":")
            weights[name] = float(w)
        docs = spark.read.parquet(args.documents)
        n_in = docs.count()
        kept = quality_filter(docs).where("kept").drop(
            "kept", "too_short", "too_long", "low_diversity", "stopword_heavy"
        )
        deduped = minhash_verified_dedup(kept, threshold=args.minhash_threshold)
        out = deduped.withColumn("split", split_label(weights))
        out.write.mode("overwrite").partitionBy("split").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"docs_in": n_in, "docs_out": n_out,
                          "splits": sorted(weights)}))
        return 0

    if args.command == "profile":
        from guardian_for_apache_kafka_spark.operators.profiling import profile_table

        if not args.input:
            raise SystemExit("--input is required for profile")
        cols = args.columns.split(",") if args.columns else None
        df = spark.read.parquet(args.input)
        for row in profile_table(df, cols, exact_distinct=not args.approx).collect():
            print(json.dumps(row.asDict()))
        return 0

    if args.command == "describe":
        from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive

        if not args.dest:
            raise SystemExit("--dest is required for describe")
        for row in describe_archive(spark, args.dest).collect():
            print(json.dumps(row.asDict()))
        return 0

    if args.command == "query":
        from guardian_for_apache_kafka_spark.plans import REGISTRY

        if args.list:
            for name, q in REGISTRY.items():
                print(f"{name}\t{(q.doc or '').strip().splitlines()[0][:100] if q.doc else ''}")
            return 0
        if not args.name:
            raise SystemExit("--name (or --list) is required for query")
        if args.name not in REGISTRY:
            raise SystemExit(f"unknown query {args.name!r}; see --list")
        df = REGISTRY[args.name].builder(spark, args.sf_dir)
        if args.explain:
            # static plan: AQE re-plans at runtime and would hide the
            # strategy choices the plan-shape tests assert on
            prev = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                print(
                    df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                )
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", prev)
            return 0
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.command == "retention":
        from guardian_for_apache_kafka_spark.operators.maintenance import plan_retention

        if not args.dest:
            raise SystemExit("--dest is required for retention")
        if args.before is None:
            raise SystemExit("--before is required for retention")
        for row in plan_retention(spark, args.dest, args.before).collect():
            d = row.asDict()
            d["slice_ts"] = d["slice_ts"].isoformat()
            print(json.dumps(d))
        return 0

    if args.command == "gaps":
        from guardian_for_apache_kafka_spark.operators.maintenance import (
            archive_gap_report,
        )

        if not args.dest:
            raise SystemExit("--dest is required for gaps")
        rows = archive_gap_report(
            spark, args.dest, step_minutes=args.step_minutes
        ).collect()
        for row in rows:
            d = row.asDict()
            d["gap_start"] = d["gap_start"].isoformat()
            d["gap_end"] = d["gap_end"].isoformat()
            print(json.dumps(d))
        if not rows:
            print(json.dumps({"gaps": 0, "status": "complete"}))
        return 0

    if args.command == "maintain":
        from guardian_for_apache_kafka_spark.operators.maintenance import (
            compact_archive_slices,
        )

        if not args.dest:
            raise SystemExit("--dest is required for maintain")
        keys = compact_archive_slices(
            spark, args.dest, files_per_slice=args.files_per_slice, before=args.before
        )
        print(json.dumps({"compacted_slices": keys}))
        return 0

    if args.command == "compact":
        from guardian_for_apache_kafka_spark.operators.compaction import compact_latest_by_key
        from guardian_for_apache_kafka_spark.operators.restore import restore_batch

        records = restore_batch(spark, args.source, fmt=args.format)
        if args.as_of is not None:
            from pyspark.sql import functions as F

            records = records.where(F.col("timestamp") <= F.lit(args.as_of))
        compacted = compact_latest_by_key(records)
        if not args.target:
            raise SystemExit("--target is required for compact")
        compacted.write.mode("overwrite").parquet(args.target)
        return 0

    if args.command == "check":
        from guardian_for_apache_kafka_spark.operators.maintenance import describe_archive
        from guardian_for_apache_kafka_spark.operators.restore import scan_corrupt_files

        if not args.dest:
            raise SystemExit("--dest is required for check")
        if (args.format or "guardian") == "guardian":
            corrupt = [r.asDict() for r in scan_corrupt_files(spark, args.dest).collect()]
        else:
            from guardian_for_apache_kafka_spark.operators.restore import (
                scan_corrupt_jsonl,
            )

            # per-line parse check: restore silently DROPS unparseable
            # JSON-lines (PERMISSIVE mode); check makes them loud instead
            corrupt = [r.asDict() for r in scan_corrupt_jsonl(spark, args.dest).collect()]
        slices = [r.asDict() for r in describe_archive(spark, args.dest).collect()]
        print(json.dumps({
            "n_slices": len(slices),
            "n_records": sum(r["n_records"] for r in slices),
            "bytes": sum(r["bytes"] for r in slices),
            "corrupt_files": corrupt,
            "slices": slices,
        }, default=str))
        # the reference ABORTS restore on a corrupt object
        # (RestoreClientInterface.scala:104-120); exit 4 mirrors that
        # loudness without blocking the inventory output
        return 0 if not corrupt else 4

    if args.command == "manifest":
        from guardian_for_apache_kafka_spark.operators.maintenance import (
            archive_manifest,
        )

        if not args.dest:
            raise SystemExit("--dest is required for manifest")
        rows = [
            r.asDict()
            for r in archive_manifest(spark, args.dest).orderBy("slice").collect()
        ]
        print(json.dumps({"n_slices": len(rows), "slices": rows}, default=str))
        return 0

    if args.command == "zonemap":
        from guardian_for_apache_kafka_spark.operators.maintenance import (
            archive_topic_zonemap,
            write_topic_zonemap,
        )

        if not args.dest:
            raise SystemExit("--dest is required for zonemap")
        rows = [r.asDict() for r in archive_topic_zonemap(spark, args.dest).collect()]
        path = None if args.no_write else write_topic_zonemap(spark, args.dest)
        print(json.dumps({"n_slices": len(rows), "written": path, "slices": rows},
                         default=str))
        return 0

    if args.command == "diff":
        from guardian_for_apache_kafka_spark.operators.maintenance import archive_diff

        if not args.dest_a or not args.dest_b:
            raise SystemExit("--dest-a and --dest-b are required for diff")
        rows = [r.asDict() for r in archive_diff(spark, args.dest_a, args.dest_b).collect()]
        out_of_sync = [r for r in rows if r["status"] != "in_sync"]
        print(json.dumps({
            "n_slices": len(rows),
            "n_out_of_sync": len(out_of_sync),
            "slices": rows,
        }, default=str))
        # mirror the check verb's loudness: nonzero exit when drifted
        return 0 if not out_of_sync else 5

    if args.command == "forget":
        from guardian_for_apache_kafka_spark.operators.maintenance import forget_keys

        if not args.dest:
            raise SystemExit("--dest is required for forget")
        if not args.key and not args.keys_base64:
            raise SystemExit("at least one --key or --keys-base64 is required")
        import base64 as _b64

        b64 = [_b64.b64encode(k.encode()).decode() for k in args.key] + list(
            args.keys_base64
        )
        affected = forget_keys(spark, args.dest, b64, key_encoding="base64")
        print(json.dumps({"forgotten_keys": len(b64), "rewritten_slices": affected}))
        return 0

    if args.command == "audit":
        from guardian_for_apache_kafka_spark.operators.restore import audit_archive

        if not args.records or not args.archive:
            raise SystemExit("--records and --archive are required for audit")
        records = spark.read.schema(
            "topic STRING, partition INT, offset BIGINT, key BINARY, value BINARY, "
            "timestamp TIMESTAMP, timestamp_type INT"
        ).parquet(args.records)
        missing = audit_archive(
            spark, records, args.archive, fmt=args.format, instances=args.instances
        )
        n_missing = missing.count()
        print(json.dumps({"source_records": records.count(), "missing": n_missing}))
        if args.target:
            missing.write.mode("overwrite").parquet(args.target)
        return 0 if n_missing == 0 else 3

    raise SystemExit(f"unknown command {args.command}")


if __name__ == "__main__":
    sys.exit(main())
