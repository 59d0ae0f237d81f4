"""Benchmark run records: one JSON file per run, never overwritten.

Compare two records, or summarise a set of runs (median, quartiles and the
interquartile range as a share of the median, per metric). Both refuse
records taken at a different ``master`` or default parallelism, since their
timings are not comparable:

    python3 perfbench/records.py compare RECORD_A.json RECORD_B.json
    python3 perfbench/records.py summary RECORD.json...
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

from stats import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD_DIR = os.path.join(HERE, "records")


class IncomparableRecords(ValueError):
    """Two records were taken on differently sized Spark sessions."""


def tree_digest(root: str, package: str) -> str:
    """sha256 over the engine package's Python sources (path + bytes)."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_rev(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def record_name(workload: str, seed: int, trace: bool) -> str:
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    return f"{stamp}_{workload}_seed{seed}_trace{int(trace)}_{os.getpid()}"


def write_record(record: dict, name: str, directory: str = RECORD_DIR) -> str:
    """Write ``record`` to ``directory/name.json``; an existing file is an error."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.json")
    with open(path, "x") as fh:  # "x": refuse to overwrite
        json.dump(record, fh, indent=1, sort_keys=True)
    return path


def load_record(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def check_comparable(a: dict, b: dict) -> None:
    for field in ("master", "default_parallelism"):
        if a.get(field) != b.get(field):
            raise IncomparableRecords(
                f"{field} differs: {a.get(field)!r} vs {b.get(field)!r}"
            )


def compare(a: dict, b: dict) -> list[str]:
    """One line per metric present in both records: A, B and B/A."""
    check_comparable(a, b)
    lines = []
    for name in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        ratio = f"{vb / va:.3f}" if va else "n/a"
        lines.append(f"{name:36s} {va:14.4f} {vb:14.4f}  x{ratio} {a['metrics'][name]['unit']}")
    return lines


def summary(recs: list[dict]) -> list[str]:
    """Per metric: median, Q1, Q3 and (Q3 - Q1) / median over the records."""
    for r in recs[1:]:
        check_comparable(recs[0], r)
    lines = []
    for name in sorted(set.intersection(*(set(r["metrics"]) for r in recs))):
        vals = [r["metrics"][name]["value"] for r in recs]
        q1, q2, q3 = quartiles(vals)
        share = f"{(q3 - q1) / q2:.3f}" if q2 else "n/a"
        lines.append(f"{name:36s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                     f"  spread {share}  n={len(vals)}")
    return lines


def main(argv: list[str]) -> int:
    ok = (len(argv) == 3 and argv[0] == "compare") or (len(argv) >= 3 and argv[0] == "summary")
    if not ok:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    try:
        recs = [load_record(p) for p in argv[1:]]
        lines = compare(*recs) if argv[0] == "compare" else summary(recs)
    except IncomparableRecords as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
