"""Unified CLI dispatcher: ``python -m omicidx_etl_spark <job> ...``.

The reference fronts every pipeline behind one ``oidx`` entry point with
subcommands (``omicidx_etl/cli.py:1-41``, ``sra/cli.py:59``); this is the
engine's equivalent over the seven spark-submit job mains in ``jobs/``.
Each subcommand delegates to the existing ``jobs/<name>_job.py`` — the
argparse contract, JSON-line output, and exit codes are unchanged, so
``python -m omicidx_etl_spark replay --log L --table T`` is byte-for-byte
``python jobs/replay_job.py --log L --table T``. The job modules stay
directly spark-submittable (``--py-files`` ships only the package; the
driver script must be a file path), so the dispatcher is ergonomics, not
a new code path.
"""

from __future__ import annotations

import importlib
import os
import sys

JOBS = {
    "replay": ("replay_job", "CDC change-log replay into a LakeTable"),
    "maintain": ("maintain_job", "compaction / retention / fsck / auto policy"),
    "clone": ("clone_job", "deep clone a table at a pinned snapshot"),
    "dedup": ("dedup_job", "canonicalize a corpus table (exact/minhash)"),
    "replicate": ("replicate_job", "changelog replication src -> dst"),
    "export-changes": ("export_changes_job", "drain changelog to NDJSON.gz drops"),
    "process": ("process_job", "multi-entity ingest orchestration"),
}


def _usage() -> str:
    lines = ["usage: python -m omicidx_etl_spark <job> [args...]", "", "jobs:"]
    for name, (_, desc) in JOBS.items():
        lines.append(f"  {name:<16} {desc}")
    lines.append("")
    lines.append("run 'python -m omicidx_etl_spark <job> --help' for job args")
    return "\n".join(lines)


def main(argv: "list[str] | None" = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] in ("-h", "--help"):
        print(_usage())
        return 0
    cmd, rest = argv[0], argv[1:]
    if cmd not in JOBS:
        print(f"unknown job {cmd!r}\n\n{_usage()}", file=sys.stderr)
        return 2
    # jobs/ is a sibling of the package dir (repo layout); when installed
    # from a checkout this resolves; inside spark-submit the job files are
    # used directly so the dispatcher never runs there
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    try:
        mod = importlib.import_module(f"jobs.{JOBS[cmd][0]}")
    except ModuleNotFoundError as e:
        # pip-installed package without the repo checkout: jobs/ is not a
        # sibling of the package dir — say so instead of a raw traceback.
        # A dependency missing INSIDE the job module is a different fault:
        # let its traceback through.
        if e.name != "jobs" and not (e.name or "").startswith("jobs."):
            raise
        print(
            f"cannot load job {cmd!r}: {e}\n"
            f"the job runners live in the repo's jobs/ directory "
            f"(looked next to {repo}); run from a repo checkout or submit "
            f"the job file directly via spark-submit",
            file=sys.stderr,
        )
        return 2
    sys.argv = [f"{cmd}_job.py", *rest]
    try:
        rc = mod.main()
    except SystemExit as e:  # maintain_job exits 2 on fsck failure
        code = e.code
        return code if isinstance(code, int) else (0 if code is None else 1)
    return rc if isinstance(rc, int) else 0


if __name__ == "__main__":
    raise SystemExit(main())
